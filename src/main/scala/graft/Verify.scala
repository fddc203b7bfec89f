package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the DuckDB oracle compare. A query that
  * throws is logged, the others still run, and the run exits 1. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val tmpBase = Scratch.dir()
    val spark = Scratch.localFsConfs.foldLeft(SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.local.dir", s"$tmpBase/spark-local"))((b, kv) => b.config(kv._1, kv._2))
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // ANSI off: null-on-bad-cast semantics, matching the reference's
      // runtime behavior and DuckDB TRY_CAST (SURVEY.md §7 risk register).
      .config("spark.sql.ansi.enabled", "false")
      // fixture events.ts is parquet TIMESTAMP(NANOS): read as ns-long
      // (graft.ext.Events.normalizeTs converts to micros downstream)
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.ext.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    // Dev-only subset knob (same contract as Bench): SPARK_GRAFT_ONLY=a,b
    // runs just those queries and writes a matching filtered
    // oracle_sql.json, so tools/oracle_check.py checks only the subset.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val queries = only.fold(SparkEntry.queries)(s => SparkEntry.queries.filter(kv => s(kv._1)))
    var failed = 0
    queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        failed += 1
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // Same between-query cache hygiene as Bench: several operators
      // persist() an intermediate their returned plan still references
      // (so they cannot unpersist in-function); across 300+ queries
      // those blocks would otherwise accumulate into GC pressure.
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values
        .foreach(_.unpersist(blocking = false))
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val oracles = only.fold(SparkEntry.oracleSql)(s => SparkEntry.oracleSql.filter(kv => s(kv._1)))
    val json = oracles
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (failed > 0) {
      System.err.println(s"[verify] $failed of ${queries.size} queries failed")
      sys.exit(1)
    }
  }
}
