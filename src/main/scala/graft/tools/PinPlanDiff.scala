package graft.tools

/** Does the pin change the PLAN for a query at this SF? Prints whether
  * the executed-plan text differs between spark.graft.pinWide on/off —
  * if not, the gate (size threshold) vetoed every pin call site and any
  * measured on/off delta is pure noise.
  * Usage: runMain graft.tools.PinPlanDiff <sfDir> <q1> <q2> ...
  */
object PinPlanDiff {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.drop(1).toSeq
    val spark = graft.GraftSession.bench(dir)
    spark.sparkContext.setLogLevel("ERROR")
    def planOf(name: String, on: Boolean): String = {
      spark.conf.set("spark.graft.pinWide", on.toString)
      graft.SparkEntry.queries(name)(spark, dir)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.SimpleMode)
    }
    for (n <- names) {
      val same = planOf(n, on = true) == planOf(n, on = false)
      println(s"[pindiff] $n pinChangesPlan=${!same}")
    }
    spark.stop()
  }
}
