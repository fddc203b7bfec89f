package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer

/** Dev probe: one warm run of a query, then a timed run with a
  * listener recording every job/stage submit+complete offset — shows
  * whether wall time sits in task execution or in driver gaps
  * (planning, AQE re-optimization, stage scheduling) between them.
  * Usage: runMain graft.tools.StageWaterfall <sfDir> <query> [reps]
  */
object StageWaterfall {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val name = args(1)
    val spark = graft.GraftSession.bench(dir)
    spark.sparkContext.setLogLevel("ERROR")
    // Tracker phases of the WRITE command's own QueryExecution (the
    // noop write wraps the query in a command and replans it — the
    // bare df's tracker does not see that cost).
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          durationNs: Long): Unit = {
        val ph = qe.tracker.phases.map { case (k, v) =>
          s"$k=${v.endTimeMs - v.startTimeMs}ms"
        }.mkString(" ")
        println(f"[waterfall] QE $fn dur=${durationNs / 1e9}%.3f phases: $ph")
      }
      override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
          e: Exception): Unit = ()
    })
    def exec(): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    exec(); exec() // warm
    case class Ev(kind: String, id: Int, t: Long, tasks: Int = -1)
    val evs = ArrayBuffer[Ev]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        evs.synchronized { evs += Ev("job+", e.jobId, System.nanoTime()) }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        evs.synchronized { evs += Ev("job-", e.jobId, System.nanoTime()) }
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        evs.synchronized { evs += Ev("stg+", e.stageInfo.stageId, System.nanoTime(), e.stageInfo.numTasks) }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        evs.synchronized { evs += Ev("stg-", e.stageInfo.stageId, System.nanoTime(), e.stageInfo.numTasks) }
    }
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    exec()
    val total = (System.nanoTime() - t0) / 1e9
    spark.sparkContext.removeSparkListener(listener)
    Thread.sleep(200)
    println(f"[waterfall] $name total=$total%.3f s")
    val sorted = evs.sortBy(_.t)
    sorted.foreach { e =>
      println(f"[waterfall]   +${(e.t - t0) / 1e6}%8.1f ms  ${e.kind} ${e.id}%4d tasks=${e.tasks}")
    }
    // driver-gap accounting: wall time not covered by any running stage
    val active = scala.collection.mutable.Set[Int]()
    var covered = 0L; var last = t0
    sorted.foreach { e =>
      val now = e.t
      if (active.nonEmpty) covered += now - last
      last = now
      if (e.kind == "stg+") active += e.id
      if (e.kind == "stg-") active -= e.id
    }
    val end = t0 + (total * 1e9).toLong
    if (active.nonEmpty) covered += end - last
    println(f"[waterfall] stage-covered=${covered / 1e9}%.3f s, driver-gap=${total - covered / 1e9}%.3f s")
    spark.stop()
  }
}
