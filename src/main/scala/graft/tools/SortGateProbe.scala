package graft.tools

/** One-off probe: print the optimizer size estimate feeding
  * CompactResultSortRule's stats gate for representative final-sort
  * children at a given SF dir, plus which sort shape each query's plan
  * actually chose — the data that picks the gate's default threshold.
  */
object SortGateProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.bench(dir)
    spark.sparkContext.setLogLevel("WARN")
    def probe(name: String): Unit = {
      val df = graft.SparkEntry.queries(name)(spark, dir)
      val opt = df.queryExecution.optimizedPlan
      val sizes = opt.collect {
        case org.apache.spark.sql.catalyst.plans.logical.Sort(_, _, c, _) =>
          c.stats.sizeInBytes
      }.mkString(",")
      val shape =
        if (df.queryExecution.executedPlan.toString.contains("rangepartitioning")) "RANGE"
        else "compact/other"
      println(s"[gate] $name  sortChildStats=[$sizes]  shape=$shape")
    }
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("t12_unpivot", "d_tfidf", "d_drift", "d_readability",
        "q_table_stats", "d_winnowing", "q1_agg")
    names.foreach(probe)
    spark.stop()
  }
}
