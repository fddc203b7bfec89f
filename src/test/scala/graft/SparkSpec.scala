package graft

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
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = GraftSession.verify(4)
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
