package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions.broadcast

/** Relational ops (reference: simple_etl.py:313-351, SURVEY.md §2.2 T9).
  */
object Relational {

  val joinTypes: Set[String] = Set("inner", "left", "right", "outer")

  /** T9 — binary equi-join, explicit column-equality condition so BOTH
    * key columns survive in the output, exactly as the reference
    * documents for its own join (simple_etl.py:338-342).
    *
    * Scale notes: the condition form `l(lk) === r(rk)` is still an
    * equi-join to Catalyst, so it plans as broadcast-hash (small side)
    * or sort-merge (both large) — never nested-loop. Set
    * `broadcastRight = true` to force the hint for dimension tables the
    * planner's size estimate misses; AQE will also convert to broadcast
    * at runtime when the built side turns out small.
    */
  def join(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      how: String = "inner",
      broadcastRight: Boolean = false): DataFrame = {
    require(joinTypes(how), s"join type '$how' not in $joinTypes (simple_etl.py:324)")
    val r = if (broadcastRight) broadcast(right) else right
    left.join(r, left(leftKey) === r(rightKey), how)
  }

  /** As-of join — for each left row, the single right row with the
    * greatest `rightTs <= leftTs` within the same key (the time-series
    * "most recent state at event time" join; DuckDB/kdb ASOF JOIN,
    * absent from Spark).
    *
    * Implemented by composition, per the build contract's preference
    * order: union both sides tagged, one shuffle on (keys), and a
    * running `last(right, ignoreNulls)` carry-forward over the
    * event-time order — O(n log n) in the partition, no range
    * cross-product, no custom physical operator needed. Right rows sort
    * BEFORE left rows at equal timestamps, so the match is inclusive
    * (>=), matching DuckDB ASOF semantics.
    *
    * Scale: one hash shuffle of (left + right) on the key columns —
    * the same cost as the equi-join of the two streams; skew follows
    * the key distribution (salt upstream if one key dominates).
    *
    * Left rows with no prior right row keep null right columns (ASOF
    * LEFT JOIN). Right columns are emitted with prefix `rightPrefix`.
    */
  def asOfJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightPrefix: String = "r_"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{col, last, lit, struct}
    val rightValueCols = right.columns.filterNot(keys.contains).toSeq
    val rStruct = struct(rightValueCols.map(col): _*)
    val rType = right.select(rStruct.as("__r")).schema("__r").dataType
    val leftCols = left.columns.toSeq
    val l = left.select(
      leftCols.map(col) :+ col(leftTs).as("__ts") :+ lit(1).as("__side") :+
        lit(null).cast(rType).as("__r"): _*)
    val r = right.select(
      keys.map(col) :+ col(rightTs).as("__ts") :+ lit(0).as("__side") :+ rStruct.as("__r"): _*)
    // align schemas: left-only columns null on the right side
    val rAligned = l.columns.foldLeft(r) { (df, c) =>
      if (df.columns.contains(c)) df else df.withColumn(c, lit(null))
    }.select(l.columns.map(col): _*)
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__ts"), col("__side"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val carried = l.unionByName(rAligned)
      .withColumn("__match", last(col("__r"), ignoreNulls = true).over(w))
    carried.filter(col("__side") === 1)
      .select(leftCols.map(col) ++
        rightValueCols.map(c => col(s"__match.$c").as(s"$rightPrefix$c")): _*)
  }

  /** Range (interval) join: pairs where `rightTs` falls within
    * `[leftTs + lowerUs, leftTs + upperUs]` (microseconds) for the same
    * key — "events within N minutes of each other". Spark has no range
    * join; the naive formulation (equi-key + inequality condition)
    * plans the time predicate as a post-join filter over the whole
    * per-key cross product.
    *
    * This implementation uses the standard interval-bucketing
    * decomposition instead: timestamps are binned at `upperUs-lowerUs`
    * width, the right side lands in exactly one bin, the left side
    * explodes to the (usually 2) bins its window overlaps, and the join
    * is a plain EQUI-join on (keys, bin) with the exact range check as
    * a post-filter. Shuffle and matching cost scale with rows-per-
    * (key, window) instead of rows-per-key-squared. Each true pair is
    * produced exactly once (the right row has one bin).
    *
    * `how`: "inner" (default) or "left". A naive left join would emit an
    * unmatched left row once PER EXPLODED BIN; instead, matched rows
    * pass through and a match-free left row keeps exactly its min-bin
    * null row, decided by a window over the left row's full column
    * tuple — deterministic, no synthetic row id. The window costs one
    * extra shuffle of the (already bin-joined) output; identical left
    * rows each keep their own null row, so multiplicity is preserved.
    */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      lowerUs: Long,
      upperUs: Long,
      how: String = "inner"): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, expr, lit, max, min, sequence, unix_micros, when}
    require(upperUs > lowerUs, s"empty range [$lowerUs, $upperUs]")
    require(how == "inner" || how == "left", s"rangeJoin supports inner/left, got '$how'")
    val width = upperUs - lowerUs
    // Right-side join-internal columns (keys, bin, ts-micros) get UNIQUE
    // names before the join: both sides often derive from the same source
    // DataFrame (self-join), where dropping an ambiguous `r(key)` AFTER
    // extra projections can mis-resolve to the LEFT attribute (observed:
    // null keys on every unmatched left row). Unique names make every
    // later reference and drop unambiguous by construction.
    val l = left
      .withColumn("__lus", unix_micros(col(leftTs)))
      .withColumn("__lbin", explode(sequence(
        expr(s"(unix_micros($leftTs) + ${lowerUs}L) div ${width}L"),
        expr(s"(unix_micros($leftTs) + ${upperUs}L) div ${width}L"))))
    val r = keys.foldLeft(right)((df, k) => df.withColumnRenamed(k, s"__rk_$k"))
      .withColumn("__rus", unix_micros(col(rightTs)))
      .withColumn("__rbin", expr(s"unix_micros($rightTs) div ${width}L"))
    val cond = keys.map(k => l(k) === r(s"__rk_$k")).reduce(_ && _) &&
      l("__lbin") === r("__rbin") &&
      r("__rus") >= l("__lus") + lit(lowerUs) &&
      r("__rus") <= l("__lus") + lit(upperUs)
    val joined = l.join(r, cond, how)
    val filtered =
      if (how == "inner") joined
      else {
        // a matched row always has a non-null __rus (the range check
        // cannot pass on null); partition by the left row identity
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy(left.columns.map(l(_)).toIndexedSeq: _*)
        joined
          .withColumn("__has_match", max(when(col("__rus").isNotNull, 1).otherwise(0)).over(w))
          .withColumn("__min_bin", min(col("__lbin")).over(w))
          .filter(col("__rus").isNotNull ||
            (col("__has_match") === 0 && col("__lbin") === col("__min_bin")))
          .drop("__has_match", "__min_bin")
      }
    val result = filtered
      .drop(keys.map(k => s"__rk_$k") ++ Seq("__lbin", "__rbin", "__lus", "__rus"): _*)
    if (how == "inner") result
    else {
      // a null-ts left row never enters the bin explode
      // (explode(sequence(null,null)) emits zero rows), so it would be
      // silently dropped, contradicting the left-join contract. Route
      // those rows around the join: they match nothing by definition
      // (the range check cannot pass on a null timestamp), so each
      // keeps exactly one null-extended row.
      val rightOut = right.schema.fields.filterNot(f => keys.contains(f.name))
      val nullTs = left.filter(col(leftTs).isNull)
        .select(left.columns.map(col) ++
          rightOut.map(f => lit(null).cast(f.dataType).as(f.name)): _*)
      result.unionByName(nullTs)
    }
  }

  /** Interval-OVERLAP join: pairs of rows whose CLOSED intervals
    * [lStart,lEnd] and [rStart,rEnd] intersect (all four columns are
    * non-negative long microseconds). The naive formulation is a
    * quadratic theta-join; this uses the same bin-equi-join
    * decomposition as [[rangeJoin]], generalized to two interval
    * sides: each interval explodes to the `binUs`-wide bins it covers,
    * the join is an EQUI-join on (keys, bin) with the exact overlap
    * check as a post-filter, and each true pair is emitted EXACTLY
    * once — only in the bin containing the overlap's start
    * (max(lStart, rStart); floor-div is monotone, so that bin is
    * max of the two start bins, computable per side before the join).
    *
    * Choose `binUs` on the order of the typical interval length:
    * shorter bins explode long intervals into more rows, longer bins
    * degrade back toward per-bin quadratic matching. Skew note: at
    * 100 TB an interval spanning B bins costs B shuffle rows — cap
    * pathological interval lengths upstream.
    *
    * The bin shuffle is pinned wide with a USER repartition on the bin
    * key (which both satisfies the join's required distribution — no
    * extra exchange — and is exempt from AQE partition coalescing):
    * the per-bin verify is COMPUTE-dense (quadratic in bin occupancy)
    * at tiny byte volume, so AQE's bytes-targeted coalescing otherwise
    * merges it onto one task and serializes the whole join (measured:
    * q_session_overlap 3.1s coalesced vs 1.25s wide at sf0.1). The pin
    * resolves to max(cores, configured shuffle partitions) — on a real
    * cluster that IS the planner's own width, so nothing changes at
    * scale; only the small-volume degenerate coalesce is excluded.
    */
  def intervalJoin(
      left: DataFrame,
      right: DataFrame,
      lStart: String,
      lEnd: String,
      rStart: String,
      rEnd: String,
      binUs: Long,
      keys: Seq[String] = Nil): DataFrame = {
    import org.apache.spark.sql.functions.{col, explode, expr, greatest, sequence}
    require(binUs > 0, s"binUs=$binUs must be positive")
    val l = Shuffles.pinWide(left
      .withColumn("__lsbin", expr(s"$lStart div ${binUs}L"))
      .withColumn("__lbin", explode(sequence(
        expr(s"$lStart div ${binUs}L"), expr(s"$lEnd div ${binUs}L")))),
      col("__lbin"))
    val r0 = keys.foldLeft(right)((df, k) => df.withColumnRenamed(k, s"__rk_$k"))
    val r = Shuffles.pinWide(r0
      .withColumn("__rsbin", expr(s"$rStart div ${binUs}L"))
      .withColumn("__rbin", explode(sequence(
        expr(s"$rStart div ${binUs}L"), expr(s"$rEnd div ${binUs}L")))),
      col("__rbin"))
    val base = l("__lbin") === r("__rbin") &&
      l(lEnd) >= r(rStart) && r(rEnd) >= l(lStart) &&
      l("__lbin") === greatest(l("__lsbin"), r("__rsbin"))
    val cond = keys.map(k => l(k) === r(s"__rk_$k")).foldLeft(base)(_ && _)
    l.join(r, cond)
      .drop(keys.map(k => s"__rk_$k") ++
        Seq("__lbin", "__rbin", "__lsbin", "__rsbin"): _*)
  }

  /** Salted equi-join for skewed keys: the big (left) side is split into
    * `salts` random sub-keys, the small-but-too-big-to-broadcast (right)
    * side is replicated once per salt, so one hot key fans out across
    * `salts` reducers instead of melting a single one. Result set is
    * identical to [[join]]; use when AQE's skew-join split isn't enough
    * (e.g. a single key holding >1 executor's worth of rows).
    * Inner/left only: replicating the right side makes right/outer
    * null-matching semantics ambiguous.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      how: String = "inner",
      salts: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.{array, explode, lit, rand}
    require(how == "inner" || how == "left",
      s"saltedJoin supports inner/left, got '$how'")
    val sl = left.withColumn("__salt", (rand(42) * salts).cast("int"))
    val sr = right.withColumn("__salt", explode(array((0 until salts).map(lit(_)): _*)))
    sl.join(sr, sl(leftKey) === sr(rightKey) && sl("__salt") === sr("__salt"), how)
      .drop("__salt")
  }

  /** Set ops completing the family next to S6's union-all (SURVEY §2.4
    * notes the reference has no intersect/except — included because any
    * engine user expects the full set algebra). SQL DISTINCT semantics
    * (Spark intersect/except == SQL INTERSECT/EXCEPT); Spark plans both
    * as aggregated semi/anti joins — shuffle on the full row as key.
    */
  def intersect(a: DataFrame, b: DataFrame): DataFrame = a.intersect(b)
  def except(a: DataFrame, b: DataFrame): DataFrame = a.except(b)

  /** Bloom-pruned LEFT SEMI join: build a bloom filter over the right
    * side's (long) keys, pre-filter the big left side with the
    * codegen'd probe [[graft.ext.expr.BloomMightContain]], then
    * re-verify survivors with an exact semi join. The RESULT is exactly
    * `left SEMI JOIN right` — the bloom's false positives are caught by
    * the verify join; its true negatives (exact by construction) are
    * rows that never enter the join's shuffle.
    *
    * This is the manual form of the runtime filter Spark injects with
    * `spark.sql.optimizer.runtime.bloomFilter.enabled`, exposed as an
    * operator so a pipeline can apply it where the optimizer's
    * heuristics wouldn't (e.g. the filter side is an already-computed
    * intermediate). At 100 TB the economics: shuffling the unpruned
    * fact table is O(|fact|); the bloom is O(bits) broadcast once, and
    * only ~selectivity + fpp of the fact reaches the shuffle.
    *
    * Eager by contract (like the reference's transpose guard): building
    * the filter RUNS the right side's aggregate at call time —
    * `expectedItems`/`fpp` bound the driver-held bits
    * (1M items @ 1% ~ 1.2 MB), independent of right-side row count.
    */
  def bloomPrunedSemiJoin(
      left: DataFrame,
      right: DataFrame,
      leftKey: String,
      rightKey: String,
      expectedItems: Long = 1000000L,
      fpp: Double = 0.01): DataFrame = {
    import org.apache.spark.sql.functions.{call_function, col, lit}
    graft.ext.expr.BloomMightContain.ensureRegistered(left.sparkSession)
    val bf = right.stat.bloomFilter(rightKey, expectedItems, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    val pruned = left.filter(
      call_function(graft.ext.expr.BloomMightContain.name,
        lit(bos.toByteArray), col(leftKey).cast("long")))
    pruned.join(right.select(col(rightKey)),
      pruned(leftKey) === right(rightKey), "left_semi")
  }

  /** SCD Type-2 dimension build from a change log: collapse
    * consecutive identical attribute values per key, then stamp each
    * surviving version with `valid_from` / `valid_to` (epoch seconds;
    * null valid_to = open) and an `is_current` flag — the standard
    * warehouse dimension-history shape (Kimball SCD2), as two window
    * passes.
    *
    * Determinism: the change order within a key is (ts, tieCol) — the
    * caller supplies a unique tiebreaker (an event id) so same-second
    * changes order identically on every engine. Scale shape: both
    * windows partition by the KEY (parallelism = |keys|, each key's
    * history is calendar-bounded), with one exchange serving both —
    * the second window reuses the first's (key, ts, tie) sort.
    */
  def scd2(
      df: DataFrame,
      keyCol: String,
      tsCol: String,
      attrCol: String,
      tieCol: String): DataFrame = {
    import org.apache.spark.sql.functions.{col, lag, lead, lit, unix_timestamp, when}
    import org.apache.spark.sql.expressions.Window
    val byKey = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol), col(tieCol))
    val changes = df
      .select(col(keyCol), col(tsCol), col(attrCol), col(tieCol))
      .withColumn("__prev", lag(col(attrCol), 1).over(byKey))
      .filter(col("__prev").isNull || col("__prev") =!= col(attrCol))
    changes
      .withColumn("valid_from", unix_timestamp(col(tsCol)).cast("long"))
      .withColumn("valid_to",
        unix_timestamp(lead(col(tsCol), 1).over(byKey)).cast("long"))
      .select(col(keyCol), col(attrCol),
        col("valid_from"), col("valid_to"),
        when(col("valid_to").isNull, lit(1)).otherwise(lit(0))
          .cast("int").as("is_current"),
        col(tieCol).as("change_id"))
      .orderBy(col(keyCol), col("valid_from"), col("change_id"))
  }

  /** CDC changelog apply: reduce an insert/update/delete stream to the
    * final table state — last writer per key wins, and a key whose
    * LAST change matches `deleteWhen` vanishes. This is the
    * upsert-with-tombstones merge a CDC ingestion pipeline runs on each
    * sync (k7's upsert handles I/U only; deletes need the tombstone
    * path). One window over (key: order by ts, tie) — single exchange
    * on the key, each key's history scanned once; the filter keeps
    * exactly one row per surviving key.
    *
    * Determinism: (tsCol, tieCol) must totally order each key's
    * changes; the caller supplies a unique tiebreaker, same contract
    * as [[scd2]].
    */
  def applyChangelog(
      changes: DataFrame,
      keyCol: String,
      tsCol: String,
      tieCol: String,
      deleteWhen: Column): DataFrame = {
    import org.apache.spark.sql.functions.{col, row_number}
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(keyCol))
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    changes
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1 && !deleteWhen)
      .drop("__rn")
      .orderBy(col(keyCol))
  }
}
