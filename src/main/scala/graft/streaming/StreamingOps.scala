package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import java.util.concurrent.atomic.AtomicInteger

/** Structured Streaming layer over the `events` fixture. The reference
  * has no streaming (SURVEY.md §2.4); this is the BASELINE north-star
  * extension. The aggregation SHAPE is shared with the batch op
  * (graft.ext.Events.hourlyByType) so batch and stream give identical
  * answers — which is exactly how the streaming path is oracle-checked.
  */
object StreamingOps {

  private val counter = new AtomicInteger(0)

  /** Run `body` with a reduced shuffle-partition count `n`: the
    * streaming state store allocates one store per shuffle partition PER
    * micro-batch, so a 32-partition default costs ~seconds of pure
    * bookkeeping on small streams. Results are partition-count-
    * independent (hash aggregation); restore the session value after.
    * The optimum is PER QUERY, not global (measured sf0.1, medians of
    * 3, whole family at 2 / 4 / 16): window/dedup/join state likes 2
    * (st_left_join 2.03s at 2 vs 2.37 at 4 vs 5.10 at 16),
    * `flatMapGroupsWithState` per-user state and the foreachBatch upsert
    * like 4 (st_upsert 0.91s at 4 vs 2.26 at 2), session-window merge
    * sweeps like 8. Each call site passes its measured count. On a real
    * cluster size this to the state volume, not the default.
    */
  private def withStreamPartitions[T](spark: SparkSession, n: Int)(body: => T): T =
    withConfs(spark, Map(
      "spark.sql.shuffle.partitions" -> n.toString,
      // HDFSBackedStateStoreProvider retains `minBatchesToRetain` (default
      // 100) delta versions of every store's map IN MEMORY, and providers
      // of TERMINATED queries stay loaded until the maintenance thread
      // (default interval 60s) notices the deactivation. A session that
      // runs many short streaming queries back-to-back (this bench, the
      // test suite) accumulates dozens of live state maps, and the
      // resulting GC pressure showed up as 2-4x drift on LATER streaming
      // queries in the same session (st_upsert 0.9s early vs 3.6s late,
      // same code). Two versions are enough for crash recovery of a
      // drained finite run; a production deployment sizes this to its
      // rollback window instead.
      "spark.sql.streaming.minBatchesToRetain" -> "2",
      "spark.sql.streaming.stateStore.maintenanceInterval" -> "5s"))(body)

  /** Run `body` with session confs temporarily overridden (restored in
    * reverse afterwards). Streaming queries latch conf values at
    * `start()`, so the scope only needs to cover query startup.
    */
  private def withConfs[T](spark: SparkSession, kvs: Map[String, String])(body: => T): T = {
    val prev = kvs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    kvs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  /** Confs for a drained finite run of a query whose OUTPUT is already
    * complete after the data batches: inner stream-stream joins and
    * within-watermark dedup emit eagerly, so the trailing no-data
    * micro-batch (state eviction only — 0.3-0.6s of state-store scan
    * and commit) produces no rows and is dead work right before
    * `stop()`. Disabling it here changes nothing about the result; a
    * LIVE deployment keeps it on (eviction is what bounds state on an
    * unbounded stream). Queries whose append-mode output is EMITTED by
    * watermark finalization (windowed append, left-outer join,
    * session timeout) must never use this.
    */
  private val skipNoDataBatch =
    Map("spark.sql.streaming.noDataMicroBatches.enabled" -> "false")

  /** Hourly tumbling-window counts per event type, computed through a
    * real Structured Streaming query: file source -> windowed agg ->
    * memory sink, drained synchronously with processAllAvailable().
    *
    * Complete output mode: every window is emitted, so the batch oracle
    * matches exactly (append mode would hold back the tail window behind
    * the watermark). On a live cluster the same plan runs with
    * `withWatermark("ts", ...)` + append and a durable sink.
    */
  def hourlyByTypeStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    // file-stream source takes a directory; glob-filter to the events file
    val stream = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val agg = stream
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("total_value_dec"))
    val name = s"graft_stream_hourly_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 2) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(
        unix_timestamp(col("w.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("total_value_dec").cast("double").as("total_value"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  /** Streaming hour-of-day seasonality: the diurnal profile as a
    * complete-mode continuous aggregate — unlike the tumbling hourly
    * window, the grouping key here is DERIVED (hour(ts), not a time
    * window), so state is permanently bounded at |types| x 24 groups
    * regardless of stream age: the always-on dashboard shape. Shares
    * the batch [[graft.ext.Events.hourOfDayProfile]] oracle; money
    * sums stay exact decimal so arrival order can't change them.
    */
  def seasonalityStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    val stream = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val agg = stream
      .groupBy(col("event_type"), hour(col("ts")).cast("bigint").as("hour_of_day"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("total_value_dec"))
    val name = s"graft_stream_seasonality_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 2) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(col("event_type"), col("hour_of_day"), col("n"),
        col("total_value_dec").cast("double").as("total_value"))
      .orderBy(col("event_type"), col("hour_of_day"))
  }

  /** Watermarked, append-mode variant of the hourly aggregate — the
    * production shape for unbounded streams: `withWatermark` bounds
    * state (hour windows are finalized and EVICTED once the watermark
    * passes them), append mode emits each window exactly once.
    *
    * Determinism contract used by the oracle: after draining a finite
    * input, the watermark is max(event time) - delay, so exactly the
    * windows with `window.end <= max(ts) - delay` have been emitted
    * (Spark runs a no-data micro-batch to flush on watermark advance).
    * The DuckDB oracle states the same cutoff in SQL.
    */
  def hourlyByTypeStreamAppend(spark: SparkSession, dir: String, delay: String = "2 hours"): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    val stream = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val agg = stream
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("value").cast("decimal(18,4)")).as("total_value_dec"))
    val name = s"graft_stream_hourly_wm_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 2) {
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(
        unix_timestamp(col("w.start")).as("hour_epoch"),
        col("event_type"), col("n"), col("total_value_dec").cast("double").as("total_value"))
      .orderBy(col("hour_epoch"), col("event_type"))
  }

  /** Streaming mix-shift alert: append-mode watermarked hourly windows
    * that fire only when purchases exceed 25% of the hour's events —
    * the scale-free alerting shape (a RATIO of two exact counts, so
    * the trigger is invariant to traffic volume, unlike an absolute
    * rate threshold that trips everywhere at 10x scale and nowhere at
    * 0.1x). The predicate sits AFTER the windowed aggregate, on
    * finalized rows only: each window is evaluated exactly once when
    * the watermark closes it, so an alert can never flap as counts
    * accumulate. The comparison is integer arithmetic (p * 4 > n) —
    * no doubles anywhere.
    */
  def mixAlertStream(spark: SparkSession, dir: String, delay: String = "2 hours"): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    val stream = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val agg = stream
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("n_purchases"))
      .filter(col("n_purchases") * 4 > col("n_events"))
    val name = s"graft_stream_mix_alert_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 2) {
      val q = agg.writeStream
        .outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(unix_timestamp(col("w.start")).as("hour_epoch"),
        col("n_events").cast("long").as("n_events"),
        col("n_purchases").cast("long").as("n_purchases"))
      .orderBy(col("hour_epoch"))
  }

  /** Streaming deduplication via dropDuplicatesWithinWatermark: first
    * occurrence per (user_id, event_type) survives, dedup state is
    * bounded by the watermark (evicted once the watermark passes the
    * kept row's event time + delay) — the streaming member of the dedup
    * family (graft.ext.Dedup covers the batch members).
    *
    * Determinism note: the whole fixture arrives in one micro-batch
    * (single parquet file), so every duplicate is inside the state
    * window and the result equals the batch distinct — which is what
    * the oracle checks. On a live stream, duplicates separated by more
    * than the delay in event time may both survive (by design: bounded
    * state).
    */
  def dedupUsersByTypeStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    val stream = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val agg = stream
      .withWatermark("ts", "1 day")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"))
    val name = s"graft_stream_dedup_${counter.incrementAndGet()}"
    // complete-mode output is full after the data batches; the trailing
    // no-data batch would only evict expired dedup keys (see
    // skipNoDataBatch)
    withConfs(spark, skipNoDataBatch) {
      withStreamPartitions(spark, 2) {
        val q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
        try q.processAllAvailable()
        finally q.stop()
      }
    }
    spark.table(name).orderBy(col("event_type"))
  }

  /** Streaming sessionization via `session_window`: events within
    * `gap` of each other merge into one session window per user; the
    * watermark finalizes and EVICTS closed sessions (append mode —
    * the only mode Spark supports for session windows), so state is
    * bounded by open sessions only — the streaming counterpart of the
    * batch lag-based gap sessionization (graft.ext.Events
    * .sessionCounts).
    *
    * Determinism contract (stated by the oracle): (1) session windows
    * are half-open, so a gap of EXACTLY `gap` starts a new session
    * (`>=` cutoff — the batch lag formulation uses strict `>`);
    * (2) append emits exactly the sessions the final watermark
    * (max ts - `delay`) has closed: session end (= last event + gap)
    * <= watermark. Open tail sessions stay in state, by design.
    */
  def sessionCountsStream(
      spark: SparkSession,
      dir: String,
      gap: String = "30 minutes",
      delay: String = "1 hour"): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    val stream = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val sess = stream
      .withWatermark("ts", delay)
      .groupBy(col("user_id"), session_window(col("ts"), gap).as("w"))
      .agg(count(lit(1)).as("n_ev"))
    val name = s"graft_stream_sessions_${counter.incrementAndGet()}"
    // session-window state scans (merge + finalization sweep) dominate
    // this query and parallelize well: 8 partitions measured 1.64s vs
    // 1.92s at the 4-partition family default (sf0.1)
    withStreamPartitions(spark, 8) {
      val q = sess.writeStream.outputMode("append").format("memory").queryName(name).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n_ev")).as("n_events"))
      .orderBy(col("user_id"))
  }

  /** STREAM-STREAM interval join: clicks joined to the same user's
    * views from the preceding 30 minutes, both sides unbounded streams.
    * The watermarks + the event-time range condition are what make
    * this feasible at scale: Spark derives a state-retention bound for
    * each side from them (a view older than watermark - 30min can
    * never match a future click and is evicted), so join state is a
    * sliding window, not the whole history.
    *
    * Determinism: inner stream-stream joins emit every match exactly
    * once as it becomes available; on a finite drained input the
    * emitted set is exactly the batch interval join, which is what the
    * oracle states.
    */
  def clickViewJoinStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    def src() = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val clicks = src().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", "1 hour")
    val views = src().filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", "1 hour")
    val joined = clicks.join(views,
      col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES") &&
        col("view_ts") <= col("click_ts"))
      .select(col("click_id"), col("view_id"))
    val name = s"graft_stream_ssjoin_${counter.incrementAndGet()}"
    // inner joins emit every match eagerly in the data batches; the
    // trailing no-data batch would only evict state (see
    // skipNoDataBatch)
    withConfs(spark, skipNoDataBatch) {
      withStreamPartitions(spark, 2) {
        val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
        try q.processAllAvailable()
        finally q.stop()
      }
    }
    spark.table(name).orderBy(col("click_id"), col("view_id"))
  }

  /** Stream-static join — the standard streaming ENRICHMENT pattern:
    * each micro-batch of the event stream joins against a static
    * dimension table (here: customer market segments keyed by user id),
    * then aggregates per segment. The static side is planned once and
    * (being small) broadcast into every micro-batch — no stream-side
    * state beyond the aggregation. Money sums follow the exact
    * fixed-point policy (decimal cast of inputs).
    */
  def enrichedSegmentStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    val stream = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val dim = graft.Tables.read(spark, dir, "customer")
      .select(col("c_custkey"), col("c_mktsegment"))
    val agg = stream.join(dim, stream("user_id") === dim("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,4)")).as("total_value_dec"))
    val name = s"graft_stream_enrich_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 2) {
      val q = agg.writeStream.outputMode("complete").format("memory").queryName(name).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(col("c_mktsegment"), col("n"),
        col("total_value_dec").cast("double").as("total_value"))
      .orderBy(col("c_mktsegment"))
  }

  /** Stateful per-user running counters via flatMapGroupsWithState —
    * the custom-state streaming pattern (session counts, fraud counters,
    * feature freshness). Returns the final state table after draining.
    *
    * The running money sum is kept as a SCALED LONG (value x 10^4) in
    * the state — the Int128Sum fixed-point policy applied to streaming
    * state: long adds are associative/commutative, so the result is
    * independent of row arrival order and micro-batch partitioning,
    * which is what makes the query oracle-checkable (a double
    * accumulator's value depends on accumulation order). Fixture
    * `value`s are exact at 4 decimals, so value*1e4 rounds to the exact
    * integer and the final cents/10^4 division is the single rounding
    * step — same as DuckDB's SUM(DECIMAL(18,4))::DOUBLE.
    */
  def userEventCountsStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = graft.Tables.read(spark, dir, "events").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(dir)
      .select(col("user_id").as[Long], col("value").as[Double])
      .as[(Long, Double)]

    def update(
        user: Long,
        rows: Iterator[(Long, Double)],
        state: GroupState[(Long, Long)]): Iterator[(Long, Long, Long)] = {
      val (n0, c0) = state.getOption.getOrElse((0L, 0L))
      var n = n0; var cents = c0
      rows.foreach { case (_, value) => n += 1; cents += math.round(value * 10000.0) }
      state.update((n, cents))
      Iterator((user, n, cents))
    }

    val name = s"graft_stream_users_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 4) {
      val q = stream
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
        .toDF("user_id", "n_events", "sum_cents")
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // Update mode may emit a user several times across micro-batches;
    // the latest (max n_events) row is the final state. cents < 2^53,
    // so cast-to-double is exact and the division rounds once — equal
    // to DuckDB's decimal-to-double conversion of the same exact sum.
    val t = spark.table(name)
    t.groupBy(col("user_id"))
      .agg(max(struct(col("n_events"), col("sum_cents"))).as("s"))
      .select(col("user_id"), col("s.n_events").as("n_events"),
        (col("s.sum_cents").cast("double") / 10000.0).as("sum_value"))
      .orderBy(col("user_id"))
  }

  /** Streaming first-order transition mining: per-user
    * flatMapGroupsWithState keeps the LAST seen event (ts_us, event_id,
    * type) as state and emits one (prev, next) pair per arriving event
    * — the streaming twin of [[graft.ext.Events.transitionMatrix]],
    * sharing its oracle. Within a micro-batch the user's rows are
    * sorted by (ts_us, event_id) before pairing — the same total order
    * the batch window uses — and the carried state stitches pairs
    * across batch boundaries, so the counts are independent of how the
    * input splits into micro-batches (as long as batches arrive in
    * time order, which file-order ingestion of the fixture satisfies).
    * State is O(1) per user: three scalars, no event buffering between
    * batches.
    */
  def transitionsStream(
      spark: SparkSession,
      dir: String,
      glob: String = "events.parquet",
      maxFilesPerTrigger: Int = 0): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = spark.read.option("pathGlobFilter", glob).parquet(dir).schema
    val reader = {
      val r = spark.readStream.schema(schema).option("pathGlobFilter", glob)
      if (maxFilesPerTrigger > 0) r.option("maxFilesPerTrigger", maxFilesPerTrigger.toString)
      else r
    }
    val stream = graft.ext.Events.normalizeTs(reader.parquet(dir))
      .select(col("user_id").as[Long], unix_micros(col("ts")).as[Long],
        col("event_id").as[Long], col("event_type").as[String])
      .as[(Long, Long, Long, String)]

    def update(
        user: Long,
        rows: Iterator[(Long, Long, Long, String)],
        state: GroupState[(Long, Long, String)]): Iterator[(String, String)] = {
      val sorted = rows.toArray.sortBy(r => (r._2, r._3))
      var prev = state.getOption
      val out = Array.newBuilder[(String, String)]
      sorted.foreach { r =>
        prev.foreach(p => out += ((p._3, r._4)))
        prev = Some((r._2, r._3, r._4))
      }
      prev.foreach(state.update)
      out.result().iterator
    }

    val name = s"graft_stream_transitions_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 4) {
      val q = stream
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
        .toDF("prev_type", "next_type")
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .groupBy(col("prev_type"), col("next_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("prev_type"), col("next_type"))
  }

  /** Streaming MERGE into a parquet table: `foreachBatch` routes every
    * micro-batch through the keyed upsert
    * ([[graft.ops.Sinks.upsertParquet]]) — the standard CDC-apply /
    * incremental-materialization shape (a table format would add
    * transactional metadata; the per-batch data rewrite is the same).
    *
    * The target is PRE-SEEDED with stale sentinel rows (value = -999)
    * for a third of the keys, so the final table equals the batch
    * source only if same-key REPLACEMENT actually executed — insert-only
    * or append-only behavior would leave sentinels behind and fail the
    * oracle hash.
    */
  def upsertPurchasesStream(spark: SparkSession, dir: String): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    def purchases(df: DataFrame): DataFrame =
      df.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("value"))
    val tmp = graft.Scratch.tempDir("graft_stream_upsert")
    val target = s"$tmp/tbl"
    purchases(graft.Tables.read(spark, dir, "events"))
      .filter(pmod(col("event_id"), lit(3L)) === 0L)
      .withColumn("value", lit(-999.0))
      .write.parquet(target)
    val stream = purchases(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    withStreamPartitions(spark, 4) {
      val q = stream.writeStream
        .option("checkpointLocation", s"$tmp/ckpt")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          graft.ops.Sinks.upsertParquet(spark, target, batch, "event_id")
          ()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.read.parquet(target).orderBy(col("event_id"))
  }

  /** Streaming NEW-USER detection: the first time a user_id is ever
    * seen, emit exactly one (user, first-event-time) record — the
    * stream-native "is this key new?" primitive behind CDC insert/
    * update routing, first-touch attribution, and streaming exact
    * dedup at the key level. Per-user state is a single boolean
    * (O(1) forever, no event buffering); within a micro-batch the
    * user's first row is selected by the (ts, event_id) total order,
    * and once the flag is set every later occurrence is dropped
    * without emitting. The tiny |users| first-touch stream is then
    * rolled up per hour AFTER the drain — the stateful dedup is the
    * streaming part, the rollup is a post-pass over the memory sink
    * (same pattern as [[userEventCountsStream]]).
    */
  def newUsersStream(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    import spark.implicits._
    val schema = graft.Tables.read(spark, dir, "events").schema
    val stream = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
      .select(col("user_id").as[Long], unix_micros(col("ts")).as[Long],
        col("event_id").as[Long])
      .as[(Long, Long, Long)]

    def update(
        user: Long,
        rows: Iterator[(Long, Long, Long)],
        state: GroupState[Boolean]): Iterator[(Long, Long)] = {
      if (state.exists) { while (rows.hasNext) rows.next(); Iterator.empty }
      else {
        var bestUs = Long.MaxValue
        var bestEid = Long.MaxValue
        rows.foreach { case (_, us, eid) =>
          if (us < bestUs || (us == bestUs && eid < bestEid)) {
            bestUs = us; bestEid = eid
          }
        }
        state.update(true)
        Iterator.single((user, bestUs))
      }
    }

    val name = s"graft_stream_new_users_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 2) {
      val q = stream
        .groupByKey(_._1)
        .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(update)
        .toDF("user_id", "first_us")
        .writeStream.outputMode("update").format("memory").queryName(name).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name)
      .select(expr("(first_us div 3600000000L) * 3600").as("hour_epoch"))
      .groupBy(col("hour_epoch"))
      .agg(count(lit(1)).cast("long").as("n_new_users"))
      .orderBy(col("hour_epoch"))
  }

  /** Stream-stream LEFT OUTER interval join — the harder sibling of
    * [[clickViewJoinStream]]: matched (click, view) pairs emit as soon
    * as both sides arrive (inner semantics), and a click with NO view
    * in its 30-minute lookback emits a null-view row only once the
    * watermark proves no matching view can still arrive. That proof
    * needs `wm > click_ts` (the latest admissible view_ts equals
    * click_ts), so after draining a finite input the null rows are
    * exactly the unmatched clicks with `click_ts < max(ts) − delay` —
    * clicks younger than the final watermark stay in state and are
    * discarded unemitted, which the oracle states with the same cutoff.
    * State on both sides is watermark-bounded (eviction at wm minus
    * the interval bound) — the production shape for funnels that must
    * record "no preceding view" rather than silently dropping the row.
    */
  def clickViewLeftJoinStream(
      spark: SparkSession, dir: String, delay: String = "1 hour"): DataFrame = {
    val schema = graft.Tables.read(spark, dir, "events").schema
    def src() = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val clicks = src().filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id"), col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    val views = src().filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user"), col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    val joined = clicks.join(views,
      col("user_id") === col("v_user") &&
        col("view_ts") >= col("click_ts") - expr("INTERVAL 30 MINUTES") &&
        col("view_ts") <= col("click_ts"),
      "left_outer")
      .select(col("click_id"), col("view_id"))
    val name = s"graft_stream_ssleft_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 2) {
      val q = joined.writeStream.outputMode("append").format("memory").queryName(name).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    spark.table(name).orderBy(col("click_id"), col("view_id"))
  }

  /** Streaming traffic-anomaly detection: hourly event totals through a
    * real streaming window aggregate, scored with an EXPANDING-window
    * z-score — hour t is anomalous when its count sits >= 2 sample
    * standard deviations from the mean of ALL PRIOR hours (>= 24 hours
    * of history required, so the first day trains the detector). The
    * detector statistic is exact-integer until the last step: with
    * prior-hour count sums S1 = sum(x), S2 = sum(x^2) over np hours,
    * z = (x*np - S1) / sqrt((np*S2 - S1^2) * np / (np-1)) — numerator
    * and both variance products are exact longs, so the score is
    * engine-independent and the >= 2.0 trigger compares on the
    * trunc4'd grid in both engines.
    *
    * The scoring pass runs on the DRAINED hourly frame (|hours| rows —
    * bounded by the stream's time span, never by event volume), which
    * is where the single-partition ordered window is the honest,
    * cheap choice; the unbounded-state work (per-hour counting over
    * the event firehose) is what runs inside the streaming engine.
    */
  def anomalyStream(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Num.trunc4
    val schema = graft.Tables.read(spark, dir, "events").schema
    val stream = graft.ext.Events.normalizeTs(
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(dir))
    val agg = stream
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(count(lit(1)).as("n"))
    val name = s"graft_stream_anomaly_${counter.incrementAndGet()}"
    withStreamPartitions(spark, 2) {
      val q = agg.writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(name)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    val hours = spark.table(name)
      .select(unix_timestamp(col("w.start")).as("hour_epoch"),
        col("n").cast("long").as("x"))
    val wOrd = org.apache.spark.sql.expressions.Window.orderBy(col("hour_epoch"))
    val prior = wOrd.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val s = hours.select(col("hour_epoch"), col("x"),
      (row_number().over(wOrd) - 1).cast("long").as("np"),
      coalesce(sum(col("x")).over(prior), lit(0L)).cast("long").as("s1"),
      coalesce(sum(col("x") * col("x")).over(prior), lit(0L)).cast("long").as("s2"))
    val varNum = col("np") * col("s2") - col("s1") * col("s1")
    val z = (col("x") * col("np") - col("s1")).cast("double") /
      sqrt(varNum.cast("double") * col("np").cast("double") /
        (col("np") - 1L).cast("double"))
    s.filter(col("np") >= 24 && varNum > 0)
      .withColumn("z4", trunc4(z))
      .filter(col("z4") >= 2.0 || col("z4") <= -2.0)
      .select(col("hour_epoch"), col("x").as("n_events"),
        col("np").as("n_prior"), col("z4"))
      .orderBy(col("hour_epoch"))
  }
}
