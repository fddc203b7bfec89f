package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.internal.SQLConf

/** Shuffle-shape helpers shared by the compute-dense reduce kernels. */
object Shuffles {

  /** USER-pinned WIDE clustering on `keys` for a COMPUTE-dense reduce
    * kernel (quadratic pair emission, per-group brute-force sweeps,
    * string-heavy builds) whose shuffled BYTES are tiny: AQE's
    * bytes-targeted partition coalescing would merge the exchange onto
    * one task and serialize the compute (measured: q_session_overlap
    * 3.1s coalesced vs 1.25s wide, e_knn_graph 1.2s vs 0.76s, sf0.1).
    * A user repartition on the same keys satisfies the downstream
    * aggregate/join's required distribution — no extra exchange — and
    * is exempt from coalescing. Width = max(cores, configured shuffle
    * partitions).
    *
    * The pin fires ONLY in the small-volume regime it was measured in
    * (round-7 advisory): when the optimizer's size estimate for the
    * input already reaches width × the AQE advisory partition size,
    * the planner itself keeps the exchange wide — the pin would only
    * bypass AQE coalescing of a genuinely large shuffle, and on a
    * cluster whose configured partitions are below its core count it
    * would silently widen past the planner's width. Above the
    * threshold the input is returned untouched. (Estimates after
    * explodes/joins are crude, but the failure mode is benign in both
    * directions: an overestimate skips the pin — planner default — and
    * an underestimate pins a shuffle AQE would have coalesced, which
    * is at worst the pre-gate behavior.)
    *
    * `spark.graft.pinWide=false` drops the pin (the kernel's own
    * exchange takes over, AQE coalescing included) — the escape hatch;
    * A/B it with `tools.InterleavedAB <sfDir> 'spark.graft.pinWide=false'`.
    */
  def pinWide(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val on = conf.getConfString("spark.graft.pinWide", "true") == "true"
    if (!on) df
    else {
      val width = math.max(spark.sparkContext.defaultParallelism,
        conf.numShufflePartitions)
      val advisory = conf.getConf(SQLConf.ADVISORY_PARTITION_SIZE_IN_BYTES)
      val smallVolume =
        df.queryExecution.optimizedPlan.stats.sizeInBytes <
          BigInt(width) * advisory
      if (smallVolume) df.repartition(width, keys: _*) else df
    }
  }

  /** UNCONDITIONAL keyed exchange for kernels whose CORRECTNESS — not
    * just speed — requires every row of a key on one partition (the
    * `sortWithinPartitions` run-grouping kernels, per-key buffering
    * inside `mapPartitions`). [[pinWide]] is a performance pin: it
    * returns the input UNTOUCHED when its conf gate is off or the
    * volume estimate is above threshold, which is only safe when a
    * downstream aggregate/join forces its own exchange anyway. When
    * the `mapPartitions` kernel IS the consumer there is no planner
    * exchange to fall back on, so the clustering must always happen.
    *
    * Width is pinned explicitly (no size-estimate gate): every caller
    * is a compute-dense kernel by construction, and the frames feeding
    * them are often typed flatMaps whose size ESTIMATE is the huge
    * unknown-stats default — a stats gate would route exactly those
    * through an unsized repartition that AQE's bytes-targeted
    * coalescing can merge onto one task, serializing the sweep (the
    * degenerate case pinWide was built against). width = max(cores,
    * configured shuffle partitions) IS the planner's own width on a
    * properly-configured cluster. `spark.graft.pinWide=false` keeps
    * the A/B lever: the exchange still happens (correctness), but
    * planner/AQE-sized. */
  def clusterByKey(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    val conf = spark.sessionState.conf
    val on = conf.getConfString("spark.graft.pinWide", "true") == "true"
    val width = math.max(spark.sparkContext.defaultParallelism,
      conf.numShufflePartitions)
    if (on) df.repartition(width, keys: _*)
    else df.repartition(keys: _*)
  }
}
