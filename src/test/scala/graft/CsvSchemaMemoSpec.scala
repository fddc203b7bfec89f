package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types._

import graft.ops.Sources

/** `Sources.csv` infers a CSV's schema once per file version per
  * session: a repeat read of unchanged, settled files starts no job and
  * gives what a fresh inferred read gives; a new version, a file inside
  * the racy window or a conf that changes inference infers again.
  */
class CsvSchemaMemoSpec extends SparkSpec {

  /** Writes `text` to a fresh file and sets its mtime `ageMs` in the past. */
  private def csvFile(text: String, ageMs: Long): File = {
    val f = new File(Scratch.tempDir("csv-memo"), "t.csv")
    rewrite(f, text, ageMs)
    f
  }

  private def rewrite(f: File, text: String, ageMs: Long): Unit = {
    Files.writeString(f.toPath, text)
    if (ageMs > 0) assert(f.setLastModified(System.currentTimeMillis() - ageMs))
  }

  private def fresh(s: SparkSession, f: File): DataFrame =
    s.read.option("header", "true").option("inferSchema", "true").csv(f.getPath)

  private def rows(df: DataFrame): Seq[Seq[Any]] = df.collect().map(_.toSeq).toSeq.sortBy(_.toString)

  test("S1 a repeat inferred read of a settled file starts no job and matches a fresh inference") {
    val s = spark.newSession()
    val f = csvFile("id,qty,name\n1,10,a\n2,,b\n3,30,c\n", ageMs = 60000)
    val (first, firstJobs) = jobsIn(s)(Sources.csv(s, f.getPath))
    assert(firstJobs > 0, "the first read must infer")
    val (second, secondJobs) = jobsIn(s)(Sources.csv(s, f.getPath))
    assert(secondJobs === 0)
    val expected = fresh(s, f)
    assert(first.schema === expected.schema)
    assert(second.schema === expected.schema)
    assert(second.schema("qty").dataType === IntegerType)
    assert(rows(second) === rows(expected))
  }

  test("S1 a rewritten file with a new mtime infers its new types") {
    val s = spark.newSession()
    val f = csvFile("id,v\n1,10\n2,20\n", ageMs = 60000)
    Sources.csv(s, f.getPath)
    assert(Sources.csv(s, f.getPath).schema("v").dataType === IntegerType)
    rewrite(f, "id,v\n1,ab\n2,cd\n", ageMs = 30000) // same length, new mtime
    val (df, jobs) = jobsIn(s)(Sources.csv(s, f.getPath))
    assert(jobs > 0)
    assert(df.schema("v").dataType === StringType)
    assert(rows(df) === Seq(Seq(1, "ab"), Seq(2, "cd")))
  }

  test("S1 a file inside the racy window infers on every read") {
    val s = spark.newSession()
    val f = csvFile("id,v\n1,10\n2,20\n", ageMs = 0)
    Sources.csv(s, f.getPath)
    val (df, jobs) = jobsIn(s)(Sources.csv(s, f.getPath))
    val age = System.currentTimeMillis() - f.lastModified()
    assume(age < Sources.RacyWindowMs, s"the reads took $age ms, past the racy window")
    assert(jobs > 0)
    assert(df.schema === fresh(s, f).schema)
  }

  test("S1 a conf that changes inference (timestampType) is part of the key") {
    val s = spark.newSession()
    val f = csvFile("id,ts\n1,2024-01-05 10:00:00\n2,2024-02-06 11:30:00\n", ageMs = 60000)
    Sources.csv(s, f.getPath)
    val (ltz, ltzJobs) = jobsIn(s)(Sources.csv(s, f.getPath))
    assert(ltzJobs === 0)
    assert(ltz.schema("ts").dataType === TimestampType)
    s.conf.set("spark.sql.timestampType", "TIMESTAMP_NTZ")
    val (ntz, ntzJobs) = jobsIn(s)(Sources.csv(s, f.getPath))
    assert(ntzJobs > 0)
    assert(ntz.schema("ts").dataType === TimestampNTZType)
  }

  test("S1 an explicit schema is applied as given and starts no job") {
    val s = spark.newSession()
    val f = csvFile("id,v\n1,10\n2,20\n", ageMs = 60000)
    val (df, jobs) = jobsIn(s)(Sources.csv(s, f.getPath, Some("id LONG, v STRING")))
    assert(jobs === 0)
    assert(df.schema === StructType.fromDDL("id LONG, v STRING"))
    assert(rows(df) === Seq(Seq(1L, "10"), Seq(2L, "20")))
  }
}
