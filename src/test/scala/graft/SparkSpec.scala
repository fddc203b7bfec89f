package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared Spark fixture: one local session per suite, Verify's profile
  * on 4 cores (`GraftSession.verify(4)`).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
  def t(name: String, dir: String = "sf0.001"): DataFrame =
    Tables.read(spark, sf(dir), name)

  /** `body`'s result and the number of Spark jobs it started, threads it
    * starts included (they inherit the job group).
    */
  def jobsIn[T](s: SparkSession)(body: => T): (T, Int) = {
    val sc = s.sparkContext
    val group = s"jobs-in-${System.nanoTime()}"
    val marker = s"$group-drain"
    val jobs = new AtomicInteger
    val drained = new CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull match {
          case `group`  => jobs.incrementAndGet(): Unit
          case `marker` => drained.countDown()
          case _        =>
        }
    }
    sc.addSparkListener(l)
    try {
      sc.setJobGroup(group, "measured")
      val out = try body finally sc.clearJobGroup()
      // the marker job's start is queued after every job of `body`
      sc.setJobGroup(marker, "listener drain")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus did not drain")
      (out, jobs.get)
    } finally sc.removeSparkListener(l)
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.verify(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
