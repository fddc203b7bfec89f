package graft

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, struct, to_json}

import graft.ext.Quality

/** `SparkEntry.prewarmArtifacts` builds the snapshot artifacts as
  * concurrent chains: it writes what a chain-by-chain build writes, a
  * repeat starts no job, each artifact is read back with the schema an
  * inferred read gives, and a failing chain fails the prewarm by name
  * without leaving a pool thread behind.
  */
class PrewarmSpec extends SparkSpec {

  private val ArtifactTables = Seq("documents", "lineitem", "part")

  /** A fresh dataset dir holding copies of sf0.001 `tables`. Artifact
    * paths are keyed by the dataset dir, so a spec's builds never
    * overwrite artifacts another session reads.
    */
  private def dataset(tables: Seq[String]): String = {
    val d = Scratch.tempDir("prewarm")
    tables.foreach(t => Files.copy(Paths.get(sf(), s"$t.parquet"), Paths.get(d, s"$t.parquet")))
    d
  }

  private def artifactDir(df: DataFrame): String =
    new File(new java.net.URI(df.inputFiles.head)).getParent

  /** Artifact name -> read-back frame, running `dir`'s chains in order
    * (memo hits once the artifacts are built).
    */
  private def artifacts(s: SparkSession, dir: String): Map[String, DataFrame] =
    SparkEntry.artifactChains(s, dir).flatMap(_._2()).map { df =>
      new File(artifactDir(df)).getName -> df
    }.toMap

  /** (rows, order-invariant digest), the `Quality.contentChecksum` construction. */
  private def digest(df: DataFrame): (Long, Long) = {
    val r = Quality.contentChecksum(df, to_json(struct(df.columns.map(col).toIndexedSeq: _*))).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  private def prewarmThreads: Set[Thread] =
    Thread.getAllStackTraces.keySet.asScala.filter(_.getName.startsWith("graft-prewarm-")).toSet

  test("a concurrent prewarm writes what a chain-by-chain build writes") {
    val s = spark.newSession()
    val dir = dataset(ArtifactTables)
    SparkEntry.prewarmArtifacts(s, dir)
    val concurrent = artifacts(s, dir).map { case (n, df) => n -> digest(df) }
    val fresh = spark.newSession()
    val serial = artifacts(fresh, dataset(ArtifactTables)).map { case (n, df) => n -> digest(df) }
    assert(concurrent.keySet === Set("shingle_index", "jaccard_pairs_03_pfalse_c0",
      "neardup_pairs", "baskets", "brand_dim", "copurchase_pairs"))
    assert(concurrent.values.forall(_._1 > 0), concurrent)
    assert(concurrent === serial)
  }

  test("a second prewarm in the same session starts no job, and no pool thread outlives a prewarm") {
    val s = spark.newSession()
    val dir = dataset(ArtifactTables)
    val (_, first) = jobsIn(s)(SparkEntry.prewarmArtifacts(s, dir))
    assert(first > 0, "the listener must see the chains' jobs")
    assert(prewarmThreads.isEmpty)
    val (_, second) = jobsIn(s)(SparkEntry.prewarmArtifacts(s, dir))
    assert(second === 0)
  }

  test("each read-back artifact has the schema an inferred read gives") {
    val s = spark.newSession()
    val dir = dataset(ArtifactTables)
    SparkEntry.prewarmArtifacts(s, dir)
    artifacts(s, dir).foreach { case (name, df) =>
      assert(df.schema === s.read.parquet(artifactDir(df)).schema, name)
    }
  }

  test("a failing chain fails the prewarm with its artifact's name and leaves no pool thread") {
    val s = spark.newSession()
    // no part table: only the basket chain can fail
    val dir = dataset(ArtifactTables.filterNot(_ == "part"))
    val e = intercept[IllegalStateException](SparkEntry.prewarmArtifacts(s, dir))
    assert(e.getMessage.contains("baskets + brand_dim"), e.getMessage)
    assert(e.getSuppressed.isEmpty, "the other chains must succeed")
    assert(prewarmThreads.isEmpty)
  }
}
