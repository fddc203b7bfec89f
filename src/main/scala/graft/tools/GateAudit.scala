package graft.tools

import org.apache.spark.sql.functions._

/** Dev utility: print the volumes the driver-fast-path gates compare
  * against (`driverEdgeMax` in graft.ext.Graph / Dedup) for a fixture
  * directory — the audit behind the claim that the sf1 spot bench
  * actually exercises the distributed fallbacks (a gate that never
  * flips is untested scale code).
  *
  * Usage: runMain graft.tools.GateAudit <sfDir>
  */
object GateAudit {
  def main(args: Array[String]): Unit = {
    val dir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val spark = graft.GraftSession.bench(dir)
    spark.sparkContext.setLogLevel("WARN")

    val docs = graft.Tables.read(spark, dir, "documents")
    val pairs = graft.ext.Dedup.ngramJaccardPairs(docs).count()
    println(s"[gate] ngramJaccardPairs (d_pagerank input): $pairs pairs " +
      s"-> ${2 * pairs} directed edges vs pageRank driverEdgeMax=${graft.ext.Graph.DriverEdgeMaxDefault} " +
      s"=> ${if (2 * pairs > graft.ext.Graph.DriverEdgeMaxDefault) "DISTRIBUTED" else "driver"}")

    val hitsEdges = graft.Tables.read(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
      .join(graft.Tables.read(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_partkey")),
        col("o_orderkey") === col("l_orderkey"))
      .select(col("o_custkey"), col("l_partkey")).distinct().count()
    println(s"[gate] distinct (cust,part) (q_hits input): $hitsEdges edges " +
      s"vs hitsBipartite driverEdgeMax=${graft.ext.Graph.HitsDriverEdgeMax} " +
      s"=> ${if (hitsEdges > graft.ext.Graph.HitsDriverEdgeMax) "DISTRIBUTED" else "driver"}")

    val nearDup = graft.ext.Dedup.minhashDedup(docs).count()
    println(s"[gate] minhashDedup pairs (cluster family input): $nearDup pairs " +
      s"vs clusterPairsStar driverEdgeMax=${graft.ext.Graph.DriverEdgeMaxDefault} " +
      s"=> ${if (nearDup > graft.ext.Graph.DriverEdgeMaxDefault) "DISTRIBUTED" else "driver"}")

    val vecs = graft.Tables.read(spark, dir, "embeddings").count()
    println(s"[gate] embeddings (e_kmeans/e_pq input): $vecs vecs " +
      s"vs KmeansDriverVecMax=${graft.ext.Similarity.KmeansDriverVecMax} " +
      s"=> ${if (vecs > graft.ext.Similarity.KmeansDriverVecMax) "DISTRIBUTED" else "driver"}")

    spark.stop()
  }
}
