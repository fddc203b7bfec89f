package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite

/** Shared Spark fixture: one local session per suite, config matching
  * Verify/Bench (UTC, ANSI off, ns-as-long, graft's shared conf set
  * `Scratch.localFsConfs`).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  def sf(dir: String = "sf0.001"): String = s"/root/testdata/$dir"
  def t(name: String, dir: String = "sf0.001"): DataFrame =
    Tables.read(spark, sf(dir), name)
}

object SparkSpec {
  lazy val session: SparkSession = {
    val tmpBase = Scratch.dir()
    val s = Scratch.localFsConfs.foldLeft(SparkSession.builder())((b, kv) => b.config(kv._1, kv._2))
      .master("local[4]")
      .appName("graft-test")
      .config("spark.local.dir", s"$tmpBase/spark-local")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }
}
