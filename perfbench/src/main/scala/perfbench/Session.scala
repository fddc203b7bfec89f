package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

import graft.Scratch

/** A single-process `local[nproc]` session with the confs `graft.Bench`
  * uses: graft's extensions, shuffle partitions and AQE sized by input
  * volume, the session scratch under `graft.Scratch`, and its local-FS
  * confs.
  */
object Session {
  val cpus: Int = Runtime.getRuntime.availableProcessors()

  /** Bench's rules: ~64 MB of input per shuffle partition, floored at a
    * quarter of the cores; AQE only from 1 GiB of input.
    */
  def confs(inputBytes: Long): Seq[(String, String)] = {
    val scratch = Scratch.dir()
    Seq(
      "spark.local.dir" -> s"$scratch/spark-local",
      "spark.sql.shuffle.partitions" -> math.max(1, math.max(cpus / 4, (inputBytes / (64L << 20)).toInt)).toString,
      "spark.sql.adaptive.enabled" -> (inputBytes >= (1L << 30)).toString,
      "spark.sql.session.timeZone" -> "UTC",
      "spark.sql.ansi.enabled" -> "false",
      "spark.sql.legacy.parquet.nanosAsLong" -> "true",
      "spark.sql.extensions" -> "graft.ext.GraftExtensions",
      "spark.ui.enabled" -> "false",
      "spark.cleaner.referenceTracking.blocking.shuffle" -> "true",
      "spark.log.level" -> "WARN",
    ) ++ Scratch.localFsConfs.toSeq
  }

  def build(work: File, inputBytes: Long): SparkSession = {
    work.mkdirs()
    confs(inputBytes).foldLeft(SparkSession.builder().master(s"local[$cpus]").appName("perfbench")) {
      case (b, (k, v)) => b.config(k, v)
    }.config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath)
      .getOrCreate()
  }
}
