package perfbench

import java.io.File
import java.util.SplittableRandom

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry

/** graft's analytics query registry (`SparkEntry.queries`) over read-only
  * fixtures, each result drained through the `noop` sink. A fixed
  * cost-stratified sample of the registry is checked once, untimed,
  * against digests committed with the benchmark, and then run in whole
  * passes, in a fixed cyclic order that starts where the seed says.
  */
final class QueryMix(seed: Long, dir: File, fixtures: File, expectedFile: File, stratum: Int) extends Workload {
  import QueryMix._

  val name = "query_mix"
  private lazy val expected: Seq[Expected] = QueryMix.read(expectedFile)
  private lazy val sample: IndexedSeq[Expected] = QueryMix.sample(expected, seed, stratum)
  private val orderFile = new File(dir, "in/order.txt")
  /** Queries whose check failed: their timed runs count as misses. */
  private var bad = Set.empty[String]

  def inputFiles: Seq[File] = Seq(orderFile, fixtures)
  def inputBytes: Long = Workload.sizeOf(fixtures)
  override def unit: Int = sample.size
  override def label(i: Int): String = sample((i - 1) % sample.size).name

  def describe: Map[String, Long] = Map(
    "registry_queries" -> expected.size.toLong, "sampled_queries" -> sample.size.toLong,
    "fixture_bytes" -> inputBytes) ++ Fixtures.Rows.map { case (t, n) => s"rows_$t" -> n }

  def generate(): Unit = {
    Workload.csv(orderFile, "query")(emit => sample.foreach(q => emit(q.name)))
    if (!new File(fixtures, "_COMPLETE").exists()) {
      val spark = Session.build(new File(dir, "gen"), 0L)
      try Fixtures.write(spark, fixtures) finally spark.stop()
      new File(fixtures, "_COMPLETE").createNewFile()
    }
  }

  def warmup(spark: SparkSession, t: Tracer): Unit =
    spark.range(0, 1000, 1, 4).write.mode("overwrite").format("noop").save()

  /** The shared snapshot artifacts, built untimed by Bench too. */
  def load(spark: SparkSession, t: Tracer): Unit =
    t.span("entry")(SparkEntry.prewarmArtifacts(spark, fixtures.getPath))

  def reset(): Unit = ()
  def outputRoots: Seq[File] = Nil

  private def build(spark: SparkSession, t: Tracer, q: String): DataFrame = {
    val df = t.span("entry")(SparkEntry.queries(q)(spark, fixtures.getPath))
    t.recordBuilt(df.queryExecution)
    df
  }

  override def checkPass(spark: SparkSession, t: Tracer): Seq[(String, Option[String])] =
    sample.map { e =>
      val failure =
        try {
          val df = build(spark, t, e.name)
          val schema = df.schema.simpleString
          val got = Digest.of(df)
          if (got.rows != e.rows) Some(s"${got.rows} rows, expected ${e.rows}")
          else if (schema != e.schema) Some(s"schema $schema, expected ${e.schema}")
          else if (e.digest != RowsOnly && got.digest != e.digest) Some(s"digest ${got.digest}, expected ${e.digest}")
          else None
        } catch { case ex: Throwable => Some(s"threw ${ex.getClass.getSimpleName}: ${ex.getMessage}") }
      hygiene(spark)
      if (failure.nonEmpty) bad += e.name
      e.name -> failure
    }

  def run(i: Int, spark: SparkSession, t: Tracer): OpOutcome = {
    val q = sample((i - 1) % sample.size)
    val df = build(spark, t, q.name)
    t.span("noop")(df.write.mode("overwrite").format("noop").save())
    if (bad.contains(q.name)) throw new Workload.Mismatch(s"${q.name} failed its output check")
    OpOutcome(q.rows, 0L, 0L)
  }

  /** Untimed, as in Bench: drop what a query cached so it cannot slow
    * the next one. (Bench's GC between queries is left out: here it made
    * op times less steady, not more.)
    */
  override def check(i: Int, spark: SparkSession, out: OpOutcome): Unit = hygiene(spark)

  private def hygiene(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
  }
}

object QueryMix {
  /** The expected digest of a query whose content is not compared. */
  val RowsOnly = "rows-only"

  /** The seven queries graft's README lists as approximate or
    * engine-local by design (simhash64 banding, IVF ANN, the decode
    * stub's digests, the approximate order statistics, BPE merge
    * training): their rows and schema are checked, their content is not.
    */
  val ApproximateByDesign = Set("d_simhash64", "d_simhash_neardup", "d_bpe_merges", "m_features",
    "q_order_stats_approx", "e_ann_ivf", "e_ann_ivf_idx")

  final case class Expected(name: String, costS: Double, rows: Long, digest: String, schema: String)

  def read(f: File): Seq[Expected] = {
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines().filterNot(l => l.startsWith("#") || l.isEmpty).map { l =>
      val c = l.split('\t')
      Expected(c(0), c(1).toDouble, c(2).toLong, c(3), c(4))
    }.toVector finally src.close()
  }

  /** Sorts the registry by committed reference cost and takes the middle
    * query of every `stratum` consecutive ones, so the sample spans the
    * cost range, in a fixed shuffled order; the seed picks where in that
    * cycle the run starts. Neither the sample nor the cycle depends on
    * the seed: with a seeded sample, the median op time's quartile spread
    * over five seeds was 25%, which would hide any real change.
    */
  def sample(all: Seq[Expected], seed: Long, stratum: Int): IndexedSeq[Expected] = {
    val arr = all.sortBy(e => (e.costS, e.name)).grouped(stratum).map(g => g(g.size / 2)).toArray
    val rnd = new SplittableRandom(Fixtures.Seed)
    (arr.length - 1 to 1 by -1).foreach { i =>
      val j = rnd.nextInt(i + 1)
      val tmp = arr(i); arr(i) = arr(j); arr(j) = tmp
    }
    val start = java.lang.Math.floorMod(seed, arr.length.toLong).toInt
    (arr.drop(start) ++ arr.take(start)).toIndexedSeq
  }
}
