package graft.tools

import org.apache.spark.sql.streaming.StreamingQueryListener
import scala.collection.mutable.ArrayBuffer

/** Dev utility: per-micro-batch duration breakdown for the st_* family.
  * Attaches a session-wide StreamingQueryListener, runs each streaming
  * query from SparkEntry at SPARK_GRAFT_SF_DIR, and prints every
  * batch's durationMs map — the data for deciding whether the
  * streaming floor is batch count, state machinery, or planning.
  */
object StreamProfile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.GraftSession.bench(sfDir)
    spark.sparkContext.setLogLevel("WARN")
    case class B(query: String, batchId: Long, rows: Long, durs: Map[String, Long])
    val batches = ArrayBuffer.empty[B]
    var current = "?"
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        batches.synchronized {
          import scala.jdk.CollectionConverters._
          batches += B(current, e.progress.batchId, e.progress.numInputRows,
            e.progress.durationMs.asScala.map { case (k, v) => (k, v.longValue) }.toMap)
        }
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    val stNames = graft.SparkEntry.queries.keys.filter(_.startsWith("st_")).toSeq.sorted
    // warm-up at smoke scale
    stNames.foreach { n => current = "warm"; graft.SparkEntry.queries(n)(spark, "/root/testdata/sf0.001").write.mode("overwrite").format("noop").save() }
    batches.clear()
    stNames.foreach { n =>
      current = n
      val t0 = System.nanoTime()
      graft.SparkEntry.queries(n)(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      println(f"== $n%-22s wall=$wall%.2f")
    }
    Thread.sleep(500)
    batches.groupBy(_.query).toSeq.sortBy(_._1).foreach { case (q, bs) =>
      bs.sortBy(_.batchId).foreach { b =>
        val interesting = b.durs.toSeq.filter(_._2 > 0).sortBy(-_._2)
          .map { case (k, v) => s"$k=$v" }.mkString(" ")
        println(f"  $q%-22s batch=${b.batchId} rows=${b.rows}%-7d $interesting")
      }
    }
    spark.stop()
  }
}
