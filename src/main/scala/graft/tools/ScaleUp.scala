package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Dev tool: materialize a scaled-up copy of a fixture directory for the
  * at-scale spot bench (sf0.1 x FACTOR -> "sf1"), so the distributed
  * fallback paths behind the driver fast-path gates (`driverEdgeMax`
  * et al.) and the candidates-then-verify pipelines can be timed above
  * the volumes the driver ships.
  *
  * Scaling model — "facts grow, dims don't", the realistic 100 TB shape:
  *  - `region`/`nation`/`part`/`supplier` copied as-is (dimension
  *    tables stay broadcast-sized at any SF; lineitem fan-in per part
  *    grows with SF exactly like TPC-H's lineitem:part ratio does).
  *  - `customer`/`orders`/`lineitem`/`events` replicated FACTOR times
  *    with customer/order/event keys shifted by a disjoint-range
  *    constant per replica — foreign keys stay consistent (orders of
  *    replica i reference customers of replica i; events.user_id
  *    tracks the customer shift so stream-static enrichment still
  *    joins), dates/timestamps untouched (10x per-day density).
  *  - `documents` replicated with doc_id shifts and every WORD of a
  *    replica suffixed `~i`: within-replica token/shingle/Jaccard
  *    structure is preserved exactly (so the near-dup rate per unit of
  *    data is invariant — the property that makes dedup timings
  *    comparable across SF), while cross-replica shingle overlap is
  *    zero (no artificial 10-way duplicate groups that would blow up
  *    LSH candidate counts quadratically in FACTOR).
  *  - `embeddings` replicated with vec_id shifts and the vector
  *    ROTATED by i positions: rotation is an orthogonal transform, so
  *    every within-replica pairwise cosine/distance is preserved
  *    bit-for-bit while replicas don't collapse onto identical points.
  *
  * Usage: runMain graft.tools.ScaleUp <inDir> <outDir> [factor=10]
  */
object ScaleUp {
  def main(args: Array[String]): Unit = {
    val inDir = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val outDir = if (args.length > 1) args(1) else "target/sf1"
    val factor = if (args.length > 2) args(2).toInt else 10
    val spark = graft.GraftSession.bench(inDir)
    spark.sparkContext.setLogLevel("WARN")

    // Disjoint key ranges per replica: larger than any fixture key at
    // sf<=1 (lineitem keys reach ~6e6 at sf1), small enough that
    // factor*SHIFT stays far from Long overflow.
    val SHIFT = 100000000L

    def replicate(name: String, perReplica: (DataFrame, Int) => DataFrame): Unit = {
      val base = graft.Tables.read(spark, inDir, name)
      val out = (0 until factor)
        .map(i => perReplica(base, i))
        .reduce(_ unionByName _)
      // ~8 files per table: enough scan splits for local[32] without
      // tiny-file overhead at this volume
      out.repartition(8).write.mode("overwrite")
        .parquet(s"$outDir/$name.parquet")
      println(s"[scaleup] $name x$factor -> $outDir/$name.parquet")
    }

    def shifted(c: String, i: Int) = col(c) + lit(i * SHIFT)

    Seq("region", "nation", "part", "supplier").foreach { t =>
      graft.Tables.read(spark, inDir, t)
        .write.mode("overwrite").parquet(s"$outDir/$t.parquet")
      println(s"[scaleup] $t copied (dimension)")
    }

    replicate("customer", (df, i) => df.withColumn("c_custkey", shifted("c_custkey", i)))
    replicate("orders", (df, i) => df
      .withColumn("o_orderkey", shifted("o_orderkey", i))
      .withColumn("o_custkey", shifted("o_custkey", i)))
    replicate("lineitem", (df, i) => df
      .withColumn("l_orderkey", shifted("l_orderkey", i)))
    replicate("events", (df, i) => df
      .withColumn("event_id", shifted("event_id", i))
      .withColumn("user_id", shifted("user_id", i)))
    replicate("documents", (df, i) =>
      (if (i == 0) df
       else df.withColumn("text",
         array_join(transform(split(col("text"), " "),
           w => concat(w, lit(s"~$i"))), " ")))
        .withColumn("doc_id", shifted("doc_id", i))
        .withColumn("n_chars", length(col("text")).cast("long")))
    replicate("embeddings", (df, i) =>
      (if (i == 0) df
       else df.withColumn("embedding",
         concat(slice(col("embedding"), i + 1, 100000),
           slice(col("embedding"), 1, i))))
        .withColumn("vec_id", shifted("vec_id", i)))

    spark.stop()
  }
}
