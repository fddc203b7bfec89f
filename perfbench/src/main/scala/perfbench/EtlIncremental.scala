package perfbench

import java.io.File
import java.time.LocalDate
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.ops.{Sinks, Sources}

/** Read-modify-write on loaded tables. Set-up loads three base tables;
  * each op applies one small seeded change batch through graft's
  * incremental sinks and reads the result back:
  *  - `accounts`: updates to existing keys plus new keys (`upsertParquet`);
  *  - `daily` (partitioned by day): a late day's reload
  *    (`overwritePartitionsDynamic`);
  *  - `customers`: SCD type-2 dimension changes (`scd2Merge`);
  *  - read-back: `Sources.parquet` plus one aggregate over `accounts`.
  * The generator keeps a model of every table, so each op's output is
  * checked against values known from the seed.
  */
final class EtlIncremental(seed: Long, dir: File, sizes: EtlIncremental.Sizes) extends Workload {
  import EtlIncremental._

  val name = "etl_incremental"
  private val inDir = new File(dir, "in")
  private val outDir = new File(dir, "out")
  private val accounts = new File(outDir, "accounts").getPath
  private val daily = new File(outDir, "daily").getPath
  private val customers = new File(outDir, "customers").getPath

  // model of the tables, rebuilt from the base on every reset
  private val balance = mutable.LongMap.empty[(Long, String)]       // acct -> (balance, city)
  private val dayTotals = mutable.Map.empty[LocalDate, (Long, Long)] // day -> (rows, amount)
  private val current = mutable.LongMap.empty[(String, String)]     // cust -> (segment, city)
  private val versions = mutable.LongMap.empty[Int]
  private var nextAcct = 0L
  private var nextCust = 0L
  private var nextTxn = 0L
  private var batchBytes = 0L
  private val batch = mutable.Map.empty[Int, Batch]

  def inputFiles: Seq[File] = Seq("accounts", "daily", "customers").map(n => new File(inDir, s"$n.csv")) ++
    (1 to 2).flatMap(i => Seq("upsert", "reload", "scd2").map(n => new File(inDir, s"batch$i/$n.csv")))
  def inputBytes: Long = Seq("accounts", "daily", "customers").map(n => new File(inDir, s"$n.csv").length).sum

  def describe: Map[String, Long] = Map(
    "accounts_rows" -> sizes.accounts.toLong, "daily_rows" -> sizes.days.toLong * sizes.perDay,
    "customers_rows" -> sizes.customers.toLong, "base_bytes" -> inputBytes,
    "batch_upsert_rows" -> sizes.upserts.toLong, "batch_reload_rows" -> sizes.perDay.toLong,
    "batch_scd2_rows" -> sizes.scd2.toLong, "batch_bytes" -> batchBytes)

  def generate(): Unit = {
    val rnd = new SplittableRandom(seed)
    Workload.csv(new File(inDir, "accounts.csv"), "acct_id,name,city,balance,updated") { emit =>
      (0 until sizes.accounts).foreach { a =>
        emit(s"$a,Account $a,${Cities(rnd.nextInt(Cities.length))},${rnd.nextInt(1000000)},$Day0")
      }
    }
    Workload.csv(new File(inDir, "daily.csv"), "txn_id,acct_id,amount,day") { emit =>
      var txn = 0L
      (0 until sizes.days).foreach { d =>
        (0 until sizes.perDay).foreach { _ =>
          emit(s"$txn,${rnd.nextInt(sizes.accounts)},${1 + rnd.nextInt(100000)},${Day0.plusDays(d.toLong)}")
          txn += 1
        }
      }
    }
    Workload.csv(new File(inDir, "customers.csv"), "cust_id,segment,city") { emit =>
      (0 until sizes.customers).foreach { c =>
        emit(s"$c,${Segments(rnd.nextInt(Segments.length))},${Cities(rnd.nextInt(Cities.length))}")
      }
    }
    reset()
    // the first two batches are generated here too, for the self-check
    (1 to 2).foreach(prepare)
    reset()
  }

  /** Rebuilds the model from the base CSVs and drops the loaded tables.
    * Change batches are regenerated from the model, so they repeat too.
    */
  def reset(): Unit = {
    Storage.deleteRecursively(outDir)
    Storage.deleteRecursively(new File(dir, "warm"))
    balance.clear(); dayTotals.clear(); current.clear(); versions.clear(); batch.clear()
    def rows(n: String) = {
      val src = scala.io.Source.fromFile(new File(inDir, s"$n.csv"), "UTF-8")
      try src.getLines().drop(1).map(_.split(',')).toVector finally src.close()
    }
    rows("accounts").foreach(c => balance(c(0).toLong) = (c(3).toLong, c(2)))
    rows("daily").foreach { c =>
      val d = LocalDate.parse(c(3))
      val (n, s) = dayTotals.getOrElse(d, (0L, 0L))
      dayTotals(d) = (n + 1, s + c(2).toLong)
    }
    rows("customers").foreach { c => current(c(0).toLong) = (c(1), c(2)); versions(c(0).toLong) = 1 }
    nextAcct = sizes.accounts.toLong
    nextCust = sizes.customers.toLong
    nextTxn = sizes.days.toLong * sizes.perDay
  }

  private val AccountsDdl = "acct_id BIGINT, name STRING, city STRING, balance BIGINT, updated DATE"
  private val DailyDdl = "txn_id BIGINT, acct_id BIGINT, amount BIGINT, day DATE"
  private val CustomersDdl = "cust_id BIGINT, segment STRING, city STRING"

  private def loadInto(spark: SparkSession, t: Tracer, base: File, limit: Option[Int] = None): Unit = {
    def csv(n: String, ddl: String) = {
      val df = t.span("sources")(Sources.csv(spark, new File(inDir, s"$n.csv").getPath, Some(ddl)))
      limit.fold(df)(df.limit)
    }
    val a = csv("accounts", AccountsDdl)
    t.span("sinks")(Sinks.parquet(a, new File(base, "accounts").getPath))
    val d = csv("daily", DailyDdl)
    t.span("sinks")(Sinks.parquet(d, new File(base, "daily").getPath, Seq("day")))
    val c = t.span("transform") {
      csv("customers", CustomersDdl)
        .withColumn("valid_from", lit(java.sql.Date.valueOf(Day0)))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
    }
    t.span("sinks")(Sinks.parquet(c, new File(base, "customers").getPath))
  }

  /** Warm-up: every sink path once, on small throw-away tables. */
  def warmup(spark: SparkSession, t: Tracer): Unit = {
    val warm = new File(dir, "warm")
    loadInto(spark, t, warm, limit = Some(1000))
    def csv(n: String, ddl: String) = Sources.csv(spark, new File(inDir, s"$n.csv").getPath, Some(ddl)).limit(100)
    Sinks.upsertParquet(spark, new File(warm, "accounts").getPath, csv("accounts", AccountsDdl), "acct_id")
    Sinks.overwritePartitionsDynamic(csv("daily", DailyDdl), new File(warm, "daily").getPath, Seq("day"))
    Sinks.scd2Merge(spark, new File(warm, "customers").getPath, csv("customers", CustomersDdl), "cust_id",
      java.sql.Date.valueOf(Day0.plusDays(1)))
    Sources.parquet(spark, new File(warm, "accounts").getPath).agg(count(lit(1)), sum("balance")).head()
    Storage.deleteRecursively(warm)
  }

  def load(spark: SparkSession, t: Tracer): Unit = loadInto(spark, t, outDir)

  def outputRoots: Seq[File] = Seq(outDir)
  override def existingTables(i: Int): Seq[String] = Seq(accounts, daily, customers)

  private def batchDir(i: Int) = new File(inDir, s"batch$i")

  /** Writes op `i`'s change batch and applies it to the model. */
  override def prepare(i: Int): Unit = {
    val rnd = new SplittableRandom(seed * 1000003L + i)
    val d = batchDir(i)
    // upserts: existing keys with a new balance and city, plus new keys
    val upKeys = (0 until sizes.upserts).map { j =>
      if (j < sizes.upserts * 4 / 5) (rnd.nextLong(nextAcct)) else { nextAcct += 1; nextAcct - 1 }
    }.distinct
    val day = Day0.plusDays(i.toLong + sizes.days)
    var bytes = Workload.csv(new File(d, "upsert.csv"), "acct_id,name,city,balance,updated") { emit =>
      upKeys.foreach { k =>
        val b = rnd.nextInt(1000000).toLong
        val city = Cities(rnd.nextInt(Cities.length))
        emit(s"$k,Account $k,$city,$b,$day")
        balance(k) = (b, city)
      }
    }
    // a late reload of one loaded day
    val reloadDay = Day0.plusDays(rnd.nextInt(sizes.days).toLong)
    var amount = 0L
    bytes += Workload.csv(new File(d, "reload.csv"), "txn_id,acct_id,amount,day") { emit =>
      (0 until sizes.perDay).foreach { _ =>
        val a = 1 + rnd.nextInt(100000)
        emit(s"$nextTxn,${rnd.nextLong(nextAcct)},$a,$reloadDay")
        nextTxn += 1
        amount += a
      }
    }
    dayTotals(reloadDay) = (sizes.perDay.toLong, amount)
    // SCD2: changed attributes, identical rows (no-ops) and new keys
    val scdKeys = (0 until sizes.scd2).map { j =>
      if (j < sizes.scd2 * 4 / 5) rnd.nextLong(nextCust) else { nextCust += 1; nextCust - 1 }
    }.distinct
    var changed = 0
    bytes += Workload.csv(new File(d, "scd2.csv"), "cust_id,segment,city") { emit =>
      scdKeys.zipWithIndex.foreach { case (k, j) =>
        val same = j % 4 == 3 && current.contains(k)
        val attrs =
          if (same) current(k)
          else (Segments(rnd.nextInt(Segments.length)), Cities(rnd.nextInt(Cities.length)))
        emit(s"$k,${attrs._1},${attrs._2}")
        if (!current.get(k).contains(attrs)) {
          changed += 1
          versions(k) = versions.getOrElse(k, 0) + 1
          current(k) = attrs
        }
      }
    }
    batchBytes = bytes
    batch(i) = Batch(upKeys, reloadDay, scdKeys, java.sql.Date.valueOf(day), changed, bytes)
  }

  def run(i: Int, spark: SparkSession, t: Tracer): OpOutcome = {
    val b = batch(i)
    val d = batchDir(i)
    def csv(n: String, ddl: String) = t.span("sources")(Sources.csv(spark, new File(d, s"$n.csv").getPath, Some(ddl)))
    val up = csv("upsert", AccountsDdl)
    t.span("sinks")(Sinks.upsertParquet(spark, accounts, up, "acct_id"))
    val reload = csv("reload", DailyDdl)
    t.span("sinks")(Sinks.overwritePartitionsDynamic(reload, daily, Seq("day")))
    val scd = csv("scd2", CustomersDdl)
    t.span("sinks")(Sinks.scd2Merge(spark, customers, scd, "cust_id", b.effective))
    val r = t.span("sources")(Sources.parquet(spark, accounts))
      .agg(count(lit(1)), sum("balance")).head()
    b.readBack = (r.getLong(0), r.getLong(1))
    val rows = b.upKeys.size + sizes.perDay + b.scdKeys.size
    OpOutcome(rows.toLong, b.bytes, (b.upKeys.size + sizes.perDay + b.changed).toLong)
  }

  def check(i: Int, spark: SparkSession, out: OpOutcome): Unit = {
    val b = batch(i)
    Workload.expect(b.readBack == ((balance.size.toLong, balance.values.map(_._1).sum)),
      s"accounts read back ${b.readBack}, expected ${(balance.size, balance.values.map(_._1).sum)}")
    val up = spark.read.parquet(accounts).where(col("acct_id").isin(b.upKeys: _*))
      .select("acct_id", "balance", "city").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getString(2)))).toMap
    Workload.expect(up.size == b.upKeys.size && b.upKeys.forall(k => up.get(k).contains(balance(k))),
      s"upserted keys differ: ${b.upKeys.find(k => !up.get(k).contains(balance(k)))}")
    val dayRow = spark.read.parquet(daily).where(col("day") === lit(java.sql.Date.valueOf(b.reloadDay)))
      .agg(count(lit(1)), sum("amount")).head()
    Workload.expect((dayRow.getLong(0), dayRow.getLong(1)) == dayTotals(b.reloadDay),
      s"reloaded day ${b.reloadDay}: ${(dayRow.getLong(0), dayRow.getLong(1))} vs ${dayTotals(b.reloadDay)}")
    val scd = spark.read.parquet(customers).where(col("cust_id").isin(b.scdKeys: _*))
      .select("cust_id", "segment", "city", "is_current").collect()
    val byKey = scd.groupBy(_.getLong(0))
    b.scdKeys.foreach { k =>
      val rows = byKey.getOrElse(k, Array.empty)
      val cur = rows.filter(_.getBoolean(3)).map(r => (r.getString(1), r.getString(2))).toSeq
      Workload.expect(rows.length == versions(k) && cur == Seq(current(k)),
        s"customer $k: ${rows.length} versions, current $cur; expected ${versions(k)}, ${current(k)}")
    }
  }
}

object EtlIncremental {
  final case class Sizes(accounts: Int, days: Int, perDay: Int, customers: Int, upserts: Int, scd2: Int)

  final case class Batch(upKeys: Seq[Long], reloadDay: LocalDate, scdKeys: Seq[Long],
      effective: java.sql.Date, changed: Int, bytes: Long) {
    var readBack: (Long, Long) = (0L, 0L)
  }

  private val Day0 = LocalDate.of(2024, 1, 1)
  private val Cities = Array("Jakarta", "Bandung", "Surabaya", "Medan", "Denpasar", "Makassar")
  private val Segments = Array("retail", "corporate", "government", "smb")
}
