package perfbench

import java.io.File
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.Pipeline
import graft.ops.{Cleaning, Columns, Mutation, Relational, Sinks, Sources}

/** The paper's own Extract -> Transform -> Load flow at volume: a dirty
  * sales fact (exact duplicates, null Quantity/Region, `Jkt`/`Jakarta`
  * spellings, a Paid/Pending/Cancelled mix) plus a product master, both
  * CSV. One op is one full pass: CSV scan with schema inference, the
  * reference's cleaning pipeline, a join to the master, a
  * month-partitioned parquet write and a written aggregate read back
  * from the loaded table.
  */
final class EtlBatch(seed: Long, dir: File, factRows: Int) extends Workload {
  val name = "etl_batch"
  private val inDir = new File(dir, "in")
  private val outDir = new File(dir, "out")
  private val factCsv = new File(inDir, "sales.csv")
  private val masterCsv = new File(inDir, "master.csv")

  /** (region, month) -> (rows, quantity, price) of the loaded table. */
  private var expected = Map.empty[(String, String), (Long, Long, Long)]
  private var loadedRows = 0L
  private var loadedBytes = 0L
  private var factLines = 0L

  def inputFiles: Seq[File] = Seq(factCsv, masterCsv)
  def inputBytes: Long = factCsv.length + masterCsv.length

  def describe: Map[String, Long] = Map(
    "fact_rows_with_duplicates" -> factLines, "fact_bytes" -> factCsv.length,
    "master_rows" -> (EtlBatch.MasterProducts + 1).toLong, "loaded_rows" -> loadedRows)

  def generate(): Unit = {
    val e = EtlBatch.writeFact(factCsv, seed, factRows)
    expected = e.groups
    loadedRows = e.groups.values.map(_._1).sum
    loadedBytes = e.loadedBytes
    factLines = e.lines
    Workload.csv(masterCsv, "Product_ID,Product_Name,Category,Supplier") { emit =>
      (1 to EtlBatch.MasterProducts).foreach { p =>
        emit(f"P-$p%03d,Product $p,${if (p % 3 == 0) "Accessories" else "Electronics"},Supplier ${p % 7}")
      }
      emit("P-999,Unsold product,Accessories,Supplier 0")
    }
  }

  /** One full pass, so every set-up has loaded the flow's code paths
    * and run a job; the rest of the JIT warm-up is the untimed warm ops
    * before the loop, which do not count as set-up.
    */
  def warmup(spark: SparkSession, t: Tracer): Unit =
    (1 to EtlBatch.WarmupPasses).foreach(_ => pass(spark, t, factCsv, new File(dir, "warm-out")))

  def load(spark: SparkSession, t: Tracer): Unit = ()

  def reset(): Unit = { Storage.deleteRecursively(outDir); Storage.deleteRecursively(new File(dir, "warm-out")) }

  def outputRoots: Seq[File] = Seq(outDir)

  private def opDir(i: Int) = new File(outDir, s"op$i")

  /** Each op loads into fresh directories; the previous op's are removed
    * untimed, so no op pays for another's files.
    */
  override def prepare(i: Int): Unit = Storage.deleteRecursively(opDir(i - 1))

  def run(i: Int, spark: SparkSession, t: Tracer): OpOutcome = {
    pass(spark, t, factCsv, opDir(i))
    OpOutcome(loadedRows, loadedBytes, loadedRows + expected.size)
  }

  private def pass(spark: SparkSession, t: Tracer, fact: File, out: File): Unit = {
    val (sales, master) = t.span("sources") {
      (Sources.csv(spark, fact.getPath), Sources.csv(spark, masterCsv.getPath))
    }
    val loaded = t.span("transform") {
      val clean = Pipeline("clean_sales")
        .stage("fill", Cleaning.fillNulls(_, "UNKNOWN", 0))
        .stage("dedup", Cleaning.dedup)
        .stage("fix_region", Mutation.replaceValue(_, "Region", "Jkt", "Jakarta"))
        .stage("date", Mutation.castColumn(_, "Date", "date"))
        .stage("paid_only", Mutation.filterContains(_, "Status", "Paid"))
        .stage("split_name", Columns.splitColumn(_, "Customer_Name", " "))
      val m = Columns.rename(master, "Product_ID", "M_Product_ID")
      Relational.join(clean(sales), m, "Product_ID", "M_Product_ID")
        .withColumn("month", date_format(col("Date"), "yyyy-MM"))
    }
    val table = new File(out, "sales").getPath
    t.span("sinks")(Sinks.parquet(loaded, table, Seq("month")))
    val agg = t.span("sources")(Sources.parquet(spark, table))
      .groupBy("Region", "month")
      .agg(count(lit(1)).as("n"), sum("Quantity").as("qty"), sum("Total_Price").as("price"))
    t.span("sinks")(Sinks.parquet(agg, new File(out, "by_region_month").getPath))
  }

  def check(i: Int, spark: SparkSession, out: OpOutcome): Unit = {
    val got = spark.read.parquet(new File(opDir(i), "by_region_month").getPath).collect()
      .map(r => (r.getString(0), r.getString(1)) -> (r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    Workload.expect(!got.keys.exists(_._1 == "Jkt"), "region Jkt survived the pipeline")
    Workload.expect(got.values.map(_._1).sum == loadedRows,
      s"loaded ${got.values.map(_._1).sum} rows, expected $loadedRows")
    Workload.expect(got == expected, s"per-region/month totals differ: ${(got.toSet diff expected.toSet).take(3)}")
    val months = new File(opDir(i), "sales").list().count(_.startsWith("month="))
    Workload.expect(months == expected.keys.map(_._2).toSet.size, s"$months month partitions")
  }
}

object EtlBatch {
  val MasterProducts = 50
  val WarmupPasses = 1
  private val Regions = Array("Jakarta", "Jkt", "Bandung", "Surabaya", "Medan", "Denpasar")
  private val First = Array("Budi", "Siti", "Agus", "Dewi", "Rina", "Andi", "Putri", "Joko", "Wati", "Eko")
  private val Last = Array("Santoso", "Wijaya", "Saputra", "Lestari", "Hidayat", "Pratama", "Kusuma", "Halim")
  private val Day0 = LocalDate.of(2024, 1, 1)

  final case class Facts(groups: Map[(String, String), (Long, Long, Long)], loadedBytes: Long, lines: Long)

  /** Writes `rows` distinct sales plus about 5% exact duplicates, and
    * returns what the reference pipeline must load from them.
    */
  def writeFact(file: File, seed: Long, rows: Int): Facts = {
    val rnd = new SplittableRandom(seed)
    val lines = new Array[String](rows)
    val groups = mutable.Map.empty[(String, String), (Long, Long, Long)].withDefaultValue((0L, 0L, 0L))
    var loadedBytes = 0L
    var written = 0L
    Workload.csv(file, "Transaction_ID,Date,Customer_Name,Product_ID,Region,Quantity,Total_Price,Status") { emit =>
      var i = 0
      while (i < rows) {
        val date = Day0.plusDays(rnd.nextInt(366).toLong)
        val product = 1 + rnd.nextInt(MasterProducts + 5) // 5 ids have no master row
        val region = if (rnd.nextInt(100) < 3) "" else Regions(rnd.nextInt(Regions.length))
        val qty = if (rnd.nextInt(100) < 3) None else Some(1 + rnd.nextInt(20))
        val unit = 10000L + (product * 7919 % 90) * 1000L
        val total = unit * qty.getOrElse(1 + rnd.nextInt(20))
        val s = rnd.nextInt(100)
        val status = if (s < 60) "Paid" else if (s < 85) "Pending" else "Cancelled"
        val line = f"TRX-$i%08d,$date,${First(rnd.nextInt(First.length))} ${Last(rnd.nextInt(Last.length))}," +
          f"P-$product%03d,$region,${qty.fold("")(_.toString)},$total,$status"
        lines(i) = line
        emit(line)
        written += 1
        if (rnd.nextInt(100) < 5) { emit(lines(rnd.nextInt(i + 1))); written += 1 }
        if (status == "Paid" && product <= MasterProducts) {
          val r = if (region.isEmpty) "UNKNOWN" else if (region == "Jkt") "Jakarta" else region
          val k = (r, date.toString.take(7))
          val (n, q, p) = groups(k)
          groups(k) = (n + 1, q + qty.getOrElse(0), p + total)
          loadedBytes += line.length + 1
        }
        i += 1
      }
    }
    Facts(groups.toMap, loadedBytes, written)
  }
}
