package graft

import org.apache.spark.sql.SparkSession

/** The one builder for every graft-owned SparkSession: Bench, Verify, the
  * test fixture and every dev main under `graft.tools`.
  *
  * A session is graft's shared [[base]] plus exactly one profile:
  *  - [[bench]]: what `graft.Bench` times. Probes build it too, so their
  *    plans and numbers carry over to Bench's;
  *  - [[verify]]: what `graft.Verify` and the specs check, AQE on and
  *    one shuffle partition per core.
  *
  * Each profile is a pure conf rule (`benchConfs`, `verifyConfs`) plus a
  * build call, so the rules are checkable without a session.
  */
object GraftSession {

  /** Confs every graft session carries, whatever the profile. */
  def base: Seq[(String, String)] = Seq(
    "spark.local.dir" -> s"${Scratch.dir()}/spark-local",
    "spark.sql.session.timeZone" -> "UTC",
    // ANSI off: null-on-bad-cast semantics, matching the reference's
    // runtime behavior and DuckDB TRY_CAST (SURVEY.md §7 risk register).
    "spark.sql.ansi.enabled" -> "false",
    // fixture events.ts is parquet TIMESTAMP(NANOS): read as ns-long
    // (graft.ext.Events.normalizeTs converts to micros downstream)
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    "spark.sql.extensions" -> "graft.ext.GraftExtensions",
    "spark.ui.enabled" -> "false"
  ) ++ Scratch.localFsConfs.toSeq

  /** Bench's profile over `inputBytes` of input: `local[SPARK_GRAFT_CPUS]`
    * (default 32), shuffle partitions and AQE derived from the input
    * volume (SPARK_GRAFT_SHUFFLE / SPARK_GRAFT_AQE override them), and
    * SPARK_GRAFT_EXTRA_CONF="k=v;k=v" applied last. `env` is the process
    * environment in [[bench]].
    */
  def benchConfs(inputBytes: Long, env: Map[String, String]): Seq[(String, String)] = {
    val cpus = env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Shuffle partitions sized by INPUT VOLUME, not a fixed constant —
    // the standard production sizing rule (~64 MB of input per shuffle
    // partition; Spark tuning guide's "few hundred MB per partition"
    // band), floored at cpus/4 so concurrent small stages still spread
    // over the box. At sf0.1 (~18 MB of parquet) this resolves to 8: a
    // fixed partitions=cores setting makes every tiny post-shuffle
    // stage pay 32 task launches to move kilobytes, and AQE's
    // parallelism-first coalescing keeps most of them (measured: a
    // fixed 32 costs ~12% suite-wide vs volume-sized partitions, and
    // parallelismFirst=false recovered none of it). At sf1 the same
    // rule grows the count back up, and at 100 TB it resolves to the
    // hundreds of thousands a real cluster runs with. Compute-bound
    // per-row kernels are unaffected: Tables.spread parallelizes those
    // by defaultParallelism (=cores), not by this conf.
    // Floored at 1: cpus < 4 with a sub-64MB fixture would otherwise
    // resolve to 0, which Spark rejects as a shuffle-partition count.
    val volumeSized =
      math.max(1, math.max(cpus.toInt / 4, (inputBytes / (64L << 20)).toInt)).toString
    // AQE by INPUT VOLUME, same derivation discipline as the
    // shuffle-partition rule above (r11, measured). AQE's levers —
    // partition coalescing, skew-join splits, runtime SMJ->BHJ — all act
    // on shuffles of real volume, and its price is structural: every
    // Exchange becomes a separately-materialized query stage (one extra
    // job submission + driver re-optimization round per stage, measured
    // 40-70ms/wave via tools/StageWaterfall — q_hhi runs 8 jobs for a
    // 25-row report). Below ~1 GiB of total input every shuffle in the
    // suite is KB-scale, so there is nothing for AQE's levers to win
    // back: interleaved same-JVM A/B over all 305 queries
    // (tools/InterleavedAB, both sides exposed to the same ambient load)
    // measured AQE off = -24.0s of 175.1s (-13.7%); a 14-query re-probe
    // of the apparent regressors at 5 pairs confirmed every one was
    // weather, not effect (worst true regression: q_tpch_q15 +0.06s).
    // At sf1 (158 MB, tools/ScaleUp) the heavy-20 A/B still nets -3.5s
    // for off — but the components have started to flip: q_hits'
    // iterative join loop pays the largest AQE tax (-3.8s off: one
    // re-optimization round per stage per iteration), while
    // d_containment is the first query where AQE's levers WIN at volume
    // (+4.0s off: the posting-list join wants runtime splits once hot
    // shingles carry real bytes). The crossover therefore sits above
    // the measured fixtures; 1 GiB keeps AQE off through the regime
    // where the tax is proven and on where shuffles carry real bytes
    // (skew, mis-estimated joins — not re-derivable statically).
    val aqeDefault = if (inputBytes >= (1L << 30)) "true" else "false"
    base ++ Seq(
      "spark.master" -> s"local[$cpus]",
      "spark.sql.shuffle.partitions" -> env.getOrElse("SPARK_GRAFT_SHUFFLE", volumeSized),
      "spark.sql.adaptive.enabled" -> env.getOrElse("SPARK_GRAFT_AQE", aqeDefault),
      // shuffle-file removals are async by default; on the larger SFs
      // the cleanup of query N's shuffles otherwise runs DURING query
      // N+1's timed reps (see the System.gc() note in Bench.main)
      "spark.cleaner.referenceTracking.blocking.shuffle" -> "true"
    ) ++ extraConf(env)
  }

  /** Verify's profile: AQE on and one shuffle partition per core. */
  def verifyConfs(cpus: Int): Seq[(String, String)] = base ++ Seq(
    "spark.master" -> s"local[$cpus]",
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.adaptive.enabled" -> "true")

  /** SPARK_GRAFT_EXTRA_CONF="k=v;k=v": conf overrides for A/B runs. */
  private def extraConf(env: Map[String, String]): Seq[(String, String)] =
    env.getOrElse("SPARK_GRAFT_EXTRA_CONF", "")
      .split(";").toSeq.filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('='); (kv.take(i).trim, kv.drop(i + 1).trim)
      }

  /** The session Bench times over `sfDir` ([[benchConfs]] over the bytes
    * under it). Prints the resolved master, partitions, AQE and extra
    * confs to stderr as one `[session]` line.
    */
  def bench(sfDir: String): SparkSession = {
    val spark = build(benchConfs(inputBytes(sfDir), sys.env))
    val resolved = Seq("spark.sql.shuffle.partitions", "spark.sql.adaptive.enabled") ++
      extraConf(sys.env).map(_._1)
    System.err.println(s"[session] master=${spark.sparkContext.master} " +
      resolved.distinct.map(k => s"$k=${spark.conf.getOption(k).orNull}").mkString(" "))
    spark
  }

  /** The session Verify and the specs check on, `local[cpus]`. */
  def verify(cpus: Int): SparkSession = build(verifyConfs(cpus))

  /** Between-query release: drops cached tables and every persistent
    * RDD. Several operators persist() an intermediate their returned
    * plan still references, so they cannot unpersist in-function; across
    * 300+ queries those blocks would otherwise pile up into GC pressure
    * that shows as phantom regressions on later queries (observed:
    * d_containment 1.2s isolated vs 6.1s mid-run).
    */
  def release(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = false))
  }

  private def build(confs: Seq[(String, String)]): SparkSession =
    confs.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .getOrCreate()

  /** Total bytes of the files under `dir`; 0 when it cannot be read. */
  private def inputBytes(dir: String): Long = try {
    def walk(f: java.io.File): Long =
      if (f.isDirectory) f.listFiles().map(walk).sum else f.length()
    walk(new java.io.File(dir))
  } catch { case _: Throwable => 0L }
}
