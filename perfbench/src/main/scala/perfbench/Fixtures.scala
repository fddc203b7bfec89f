package perfbench

import java.io.File

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The star-schema, event, document and embedding tables graft's query
  * registry reads, generated at the sf0.01 sizes of graft's fixtures and
  * with their value domains. Every column is a pure function of the row
  * id and a fixed seed, and each table is one parquet file, so the bytes
  * are the same on every run and the committed digests stay valid.
  */
object Fixtures {
  val Seed = 42L
  val Rows: Seq[(String, Long)] = Seq(
    "region" -> 5L, "nation" -> 25L, "customer" -> 1500L, "supplier" -> 100L, "part" -> 2000L,
    "orders" -> 15000L, "lineitem" -> 60000L, "events" -> 10000L, "documents" -> 500L,
    "embeddings" -> 500L)
  private def n(t: String): Long = Rows.toMap.apply(t)

  private def h(tag: Int, id: Column = col("id")): Column = xxhash64(lit(Seed), lit(tag), id)
  private def pick(tag: Int, k: Long): Column = pmod(h(tag), lit(k))
  private def unif(tag: Int): Column = pmod(h(tag), lit(1000000L)) / 1e6
  private def oneOf(tag: Int, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (pick(tag, xs.size.toLong) + 1).cast("int"))
  private def money(tag: Int, lo: Double, hi: Double): Column = round(unif(tag) * (hi - lo) + lo, 2)
  private def daysFrom(epochSec: Long, tag: Int, span: Long): Column =
    timestamp_seconds(lit(epochSec) + pick(tag, span) * 86400L)

  private val Vocab = Seq("a", "the", "data", "spark", "table", "row", "column", "key", "value", "part",
    "hash", "join", "merge", "sort", "scan", "filter", "group", "agg", "window", "batch", "stream",
    "query", "order", "line", "customer", "fast", "slow", "big", "small", "vector")

  private def text(id: Column): Column = {
    val len = (pmod(h(90, id), lit(60L)) + 20L).cast("int")
    val words = transform(sequence(lit(1), len), i =>
      element_at(array(Vocab.map(lit): _*), (pmod(xxhash64(lit(Seed), lit(91), id, i), lit(Vocab.size.toLong)) + 1).cast("int")))
    array_join(words, " ")
  }

  def tables(spark: SparkSession): Seq[(String, DataFrame)] = {
    def ids(t: String) = spark.range(0, n(t), 1, 1)
    val day1995 = 788918400L // 1995-01-01
    Seq(
      "region" -> ids("region").select(col("id").cast("int").as("r_regionkey"),
        element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
          (col("id") + 1).cast("int")).as("r_name")),
      "nation" -> ids("nation").select(col("id").cast("int").as("n_nationkey"),
        concat(lit("NATION_"), col("id")).as("n_name"), pmod(col("id"), lit(5)).cast("int").as("n_regionkey")),
      "customer" -> ids("customer").select(col("id").as("c_custkey"),
        format_string("Customer#%09d", col("id")).as("c_name"), pick(1, 25).cast("int").as("c_nationkey"),
        money(2, -999.99, 9999.99).as("c_acctbal"),
        oneOf(3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment")),
      "supplier" -> ids("supplier").select(col("id").as("s_suppkey"),
        format_string("Supplier#%09d", col("id")).as("s_name"), pick(4, 25).cast("int").as("s_nationkey"),
        money(5, -999.99, 9999.99).as("s_acctbal")),
      "part" -> ids("part").select(col("id").as("p_partkey"),
        concat_ws(" ", oneOf(6, Seq("small", "red", "blue", "green", "large", "shiny", "old", "new")),
          oneOf(7, Seq("ring", "widget", "bolt", "gear", "nut", "valve", "pipe", "spring"))).as("p_name"),
        concat(lit("Brand#"), pick(8, 25) + 1).as("p_brand"),
        oneOf(9, Seq("ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE")).as("p_type"),
        (pick(10, 50) + 1).cast("int").as("p_size"),
        (lit(900.0) + pmod(col("id"), lit(1000L)) / 10.0).as("p_retailprice")),
      "orders" -> ids("orders").select(col("id").as("o_orderkey"), pick(11, n("customer")).as("o_custkey"),
        oneOf(12, Seq("F", "O", "P")).as("o_orderstatus"), money(13, 1000.0, 500000.0).as("o_totalprice"),
        daysFrom(day1995, 14, 2400).as("o_orderdate"),
        oneOf(15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority")),
      "lineitem" -> {
        val qty = (pick(19, 50) + 1).cast("double")
        ids("lineitem").select(pick(16, n("orders")).as("l_orderkey"), pick(17, n("part")).as("l_partkey"),
          pick(18, n("supplier")).as("l_suppkey"), (pick(20, 7) + 1).cast("int").as("l_linenumber"),
          qty.as("l_quantity"), round(qty * (lit(900.0) + unif(21) * 1200.0), 2).as("l_extendedprice"),
          (pick(22, 11) / 100.0).as("l_discount"), (pick(23, 9) / 100.0).as("l_tax"),
          oneOf(24, Seq("A", "N", "R")).as("l_returnflag"), oneOf(25, Seq("F", "O")).as("l_linestatus"),
          daysFrom(day1995 + 86400L, 26, 2500).as("l_shipdate"))
      },
      "events" -> ids("events").select(col("id").as("event_id"),
        timestamp_micros(lit(1704067200000000L) + pmod(h(27), lit(2592000000000L))).as("ts"),
        pick(28, 150).as("user_id"),
        oneOf(29, Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
        round(unif(30) * 490.0 + 0.01, 2).as("value"),
        format_string("{\"k\": %d}", pick(31, 100)).as("props")),
      // one document in ten is a near-copy of its predecessor, so the
      // near-duplicate family has pairs to find
      "documents" -> {
        val body = when(pick(32, 10) === 0 && col("id") > 0, concat(text(col("id") - 1), lit(" extra")))
          .otherwise(text(col("id")))
        ids("documents").select(col("id").as("doc_id"), body.as("text"),
          oneOf(33, Seq("en", "es", "de", "fr", "zh")).as("lang"),
          concat(lit("src"), pick(34, 20)).as("source"))
          .withColumn("n_chars", length(col("text")).cast("long"))
      },
      // embeddings cluster around one centroid per label
      "embeddings" -> {
        val label = pick(35, 10)
        val vec = transform(sequence(lit(0), lit(63)), i =>
          ((pmod(xxhash64(lit(Seed), lit(36), label, i), lit(2001L)) - 1000L) / 4000.0 +
            (pmod(xxhash64(lit(Seed), lit(37), col("id"), i), lit(2001L)) - 1000L) / 16000.0).cast("float"))
        ids("embeddings").select(col("id").as("vec_id"), vec.as("embedding"), label.cast("int").as("label"))
      })
  }

  /** Writes every table as the single parquet file `<dir>/<name>.parquet`,
    * the layout graft's fixtures have (its stream queries pick the events
    * table out of the directory by that file name).
    */
  def write(spark: SparkSession, dir: File): Unit =
    tables(spark).foreach { case (name, df) =>
      val tmp = new File(dir, s"$name.tmp")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.getPath)
      val part = tmp.listFiles().filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
      require(part.length == 1, s"$name: expected one part file, found ${part.length}")
      require(part(0).renameTo(new File(dir, s"$name.parquet")), s"$name: rename failed")
      Storage.deleteRecursively(tmp)
    }
}
