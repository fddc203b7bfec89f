package graft.tools

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec

/** Dev probe: execute a query through the noop sink, then dump every
  * physical operator with its populated SQL metrics (rows, bytes,
  * spill) — the numbers the UI's SQL tab would show, for a headless
  * session. Usage: runMain graft.tools.MetricsProbe <sfDir> <query>
  * The session is [[graft.GraftSession.bench]]: SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_EXTRA_CONF="k=v;k=v" act as they do for Bench.
  */
object MetricsProbe {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val name = args(1)
    val spark = graft.GraftSession.bench(dir)
    spark.sparkContext.setLogLevel("ERROR")
    // capture the WRITE command's own QueryExecution — that is the plan
    // that actually runs (and whose metrics are populated)
    @volatile var lastQe: org.apache.spark.sql.execution.QueryExecution = null
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, ns: Long): Unit =
        lastQe = qe
      override def onFailure(fn: String,
          qe: org.apache.spark.sql.execution.QueryExecution, e: Exception): Unit = ()
    })
    val df = graft.SparkEntry.queries(name)(spark, dir)
    val t0 = System.nanoTime()
    df.write.mode("overwrite").format("noop").save()
    println(f"[metrics] $name exec=${(System.nanoTime() - t0) / 1e9}%.3f s")
    // QueryExecutionListener delivery is async; give it a beat
    var waited = 0
    while (lastQe == null && waited < 50) { Thread.sleep(100); waited += 1 }
    def walk(p: SparkPlan, depth: Int): Unit = {
      val m = p.metrics.toSeq
        .filter { case (_, v) => v.value > 0 }
        .sortBy(_._1)
        .map { case (k, v) => s"$k=${v.value}" }.mkString(" ")
      println(s"${"  " * depth}${p.nodeName}: $m")
      val kids = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => p.children
      }
      kids.foreach(walk(_, depth + 1))
      p.subqueries.foreach(walk(_, depth + 1))
    }
    walk(if (lastQe != null) lastQe.executedPlan else df.queryExecution.executedPlan, 0)
    spark.stop()
  }
}
