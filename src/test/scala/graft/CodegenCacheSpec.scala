package graft

import org.apache.spark.metrics.source.CodegenMetrics

/** Interleaved registry queries reuse their generated classes: graft's
  * shared conf set (`Scratch.localFsConfs`) sizes Spark's codegen cache
  * past the classes one pass over these queries generates, which
  * Spark's default of 100 entries does not hold.
  */
class CodegenCacheSpec extends SparkSpec {
  // the non-streaming queries of the benchmark's query sample, in its order
  private val queries = Seq(
    "t1_fill_nulls", "m_frame_dedup", "q_feature_frame", "q_gini",
    "t10_latest_by_key", "q_events_hourly", "t9_join_outer", "q_anomaly_days",
    "k8_json_roundtrip", "q_clustering_coeff", "q_tpch_q20", "d_cluster_sizes",
    "q_tpch_q9", "q_ltv_cohort", "d_ndcg", "k18_avro_roundtrip")

  test("a second interleaved pass over registry queries compiles no classes") {
    // AQE off, as Bench and the benchmark run: under AQE the whole-stage
    // codegen ids, which are part of each generated class's source and
    // so of its cache key, follow the order in which concurrent query
    // stages finish, so a repeat run can generate new source text.
    val s = spark.newSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    def compilesInPass(): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      queries.foreach(q => SparkEntry.queries(q)(s, sf()).write.mode("overwrite").format("noop").save())
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val first = compilesInPass()
    assert(first > 100, s"first pass compiled only $first classes: too few to overflow Spark's default cache")
    val second = compilesInPass()
    assert(second === 0L, s"second pass recompiled $second of the $first classes of the first")
  }
}
