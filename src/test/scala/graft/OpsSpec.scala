package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.ops._

/** Unit tests for the SURVEY.md §2 parity operators, on tiny in-memory
  * frames replicating the reference sample data's dirty patterns
  * (FIXTURES.md §1: duplicate row, null Quantity, null Region,
  * Jkt/Jakarta inconsistency, First+Last names, date strings).
  */
class OpsSpec extends SparkSpec {

  private lazy val sales = {
    val schema = StructType(Seq(
      StructField("Transaction_ID", StringType),
      StructField("Date", StringType),
      StructField("Customer_Name", StringType),
      StructField("Product_ID", StringType),
      StructField("Region", StringType),
      StructField("Quantity", IntegerType),
      StructField("Total_Price", IntegerType),
      StructField("Status", StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row("TRX-101", "2024-01-05", "Budi Santoso", "P-001", "Jakarta", Integer.valueOf(2), Integer.valueOf(30000), "Paid"),
        Row("TRX-101", "2024-01-05", "Budi Santoso", "P-001", "Jakarta", Integer.valueOf(2), Integer.valueOf(30000), "Paid"), // exact dup
        Row("TRX-102", "2024-01-06", "Siti Aminah", "P-002", "Bandung", null, Integer.valueOf(50000), "Pending"),             // null qty
        Row("TRX-103", "2024-01-07", "Joko Anwar", "P-003", null, Integer.valueOf(1), Integer.valueOf(15000), "Paid"),        // null region
        Row("TRX-104", "2024-01-08", "Dewi Lestari", "P-001", "Jkt", Integer.valueOf(3), Integer.valueOf(45000), "Cancelled"),
        Row("TRX-105", "bad-date", "Rian Hidayat", "P-004", "Surabaya", Integer.valueOf(5), Integer.valueOf(75000), "Paid")),
      schema)
  }

  private lazy val products = {
    val schema = StructType(Seq(
      StructField("Product_ID", StringType),
      StructField("Product_Name", StringType),
      StructField("Category", StringType)))
    spark.createDataFrame(
      java.util.Arrays.asList(
        Row("P-001", "Mouse", "Electronics"),
        Row("P-002", "Keyboard", "Electronics"),
        Row("P-003", "Cable", "Accessories"),
        Row("P-004", "Monitor", "Electronics"),
        Row("P-005", "Webcam", "Electronics")), // no sales -> join-type differences
      schema)
  }

  test("T1 fillNulls fills strings then numerics") {
    val filled = Cleaning.fillNulls(sales, "UNKNOWN", 0)
    assert(filled.filter(col("Region").isNull || col("Quantity").isNull).count() === 0)
    assert(filled.filter(col("Region") === "UNKNOWN").count() === 1)
    assert(filled.filter(col("Quantity") === 0).count() === 1)
  }

  test("T2 dedup removes the exact duplicate row") {
    assert(sales.count() === 6)
    assert(Cleaning.dedup(sales).count() === 5)
    assert(Cleaning.dedupRemovedCount(sales) === 1)
    // idempotence
    assert(Cleaning.dedup(Cleaning.dedup(sales)).count() === 5)
  }

  test("stratifiedSample: deterministic, per-stratum fractions, append-stable") {
    import spark.implicits._
    val docs = (0L until 2000L).map(i => (i, if (i % 4 == 0) "en" else "id")).toDF("doc_id", "lang")
    val s1 = Cleaning.stratifiedSample(docs, "lang", "doc_id", Map("en" -> 0.5), defaultFraction = 0.1)
    // deterministic: identical twice, regardless of partitioning
    val ids1 = s1.select("doc_id").as[Long].collect().sorted
    val ids2 = Cleaning.stratifiedSample(docs.repartition(7), "lang", "doc_id",
      Map("en" -> 0.5), defaultFraction = 0.1).select("doc_id").as[Long].collect().sorted
    assert(ids1.sameElements(ids2))
    // fractions land near target per stratum (hash is uniform-ish)
    val en = s1.filter($"lang" === "en").count().toDouble / 500
    val id = s1.filter($"lang" === "id").count().toDouble / 1500
    assert(en > 0.35 && en < 0.65, s"en fraction $en")
    assert(id > 0.05 && id < 0.15, s"id fraction $id")
    // append-stable: a row's fate never changes when the corpus grows
    val grown = (0L until 4000L).map(i => (i, if (i % 4 == 0) "en" else "id")).toDF("doc_id", "lang")
    val idsGrown = Cleaning.stratifiedSample(grown, "lang", "doc_id", Map("en" -> 0.5),
      defaultFraction = 0.1).select("doc_id").as[Long].filter(_ < 2000L).collect().sorted
    assert(ids1.sameElements(idsGrown))
    // default fraction 0.0 drops unlisted strata entirely
    assert(Cleaning.stratifiedSample(docs, "lang", "doc_id", Map("en" -> 0.5))
      .filter($"lang" === "id").count() === 0)
  }

  test("T3 replaceValue rewrites only exact matches (Jkt -> Jakarta)") {
    val fixed = Mutation.replaceValue(sales, "Region", "Jkt", "Jakarta")
    assert(fixed.filter(col("Region") === "Jkt").count() === 0)
    assert(fixed.filter(col("Region") === "Jakarta").count() === 3)
    assert(fixed.filter(col("Region") === "Surabaya").count() === 1) // untouched
  }

  test("T3b regexReplace") {
    val r = Mutation.regexReplace(sales, "Transaction_ID", "^TRX-", "#")
    assert(r.filter(col("Transaction_ID") === "#101").count() === 2)
  }

  test("T4 filterContains is case-sensitive and drops null rows") {
    assert(Mutation.filterContains(sales, "Status", "Paid").count() === 4)
    assert(Mutation.filterContains(sales, "Status", "paid").count() === 0)
    assert(Mutation.filterContains(sales, "Region", "a").count() === 4) // null region row dropped
  }

  test("T5 transpose swaps rows and columns") {
    val r = t("region")
    val tr = Reshape.transpose(r, "r_name")
    assert(tr.count() === 1) // one non-id input column -> one output row
    assert(tr.columns.toSet === Set("column_name", "AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))
  }

  test("T5b pivotCount: explicit values, zeros for missing combos, no distinct-collect") {
    val p = Reshape.pivotCount(sales, col("Region"), "region", "Status",
      Seq("Paid", "Pending", "Cancelled", "Refunded"))
    val rows = p.collect().map(r => Option(r.getString(0)).getOrElse("<null>") ->
      (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    assert(rows("Jakarta") === ((2L, 0L, 0L, 0L)))
    assert(rows("Jkt") === ((0L, 0L, 1L, 0L)))
    assert(rows("<null>") === ((1L, 0L, 0L, 0L))) // Refunded never occurs -> 0 everywhere
    assert(rows.values.forall(_._4 === 0L))
  }

  test("T5 transpose guard rejects big tables") {
    intercept[IllegalArgumentException] {
      Reshape.transpose(t("lineitem"), "l_orderkey", maxRows = 10)
    }
  }

  test("T6 splitColumn produces _1/_2 and treats delimiter as regex") {
    val s = Columns.splitColumn(sales, "Customer_Name", " ")
    val row = s.filter(col("Transaction_ID") === "TRX-102").select("Customer_Name_1", "Customer_Name_2").head()
    assert(row.getString(0) === "Siti" && row.getString(1) === "Aminah")
    // regex semantics preserved (reference passes raw delimiter to split)
    val dot = Columns.splitColumn(sales, "Date", "-")
    assert(dot.filter(col("Date_1") === "2024").count() === 5)
  }

  test("T7 mergeColumns concat_ws skips nulls") {
    val m = Columns.mergeColumns(sales, "merged", "|", Seq("Region", "Status"))
    val nullRegion = m.filter(col("Transaction_ID") === "TRX-103").select("merged").head().getString(0)
    assert(nullRegion === "Paid") // null region skipped, no dangling separator
  }

  test("T8 castColumn: bad casts yield null (ANSI off)") {
    val c = Mutation.castColumn(sales, "Date", "date")
    assert(c.schema("Date").dataType === DateType)
    assert(c.filter(col("Date").isNull).count() === 1) // 'bad-date'
    val q = Mutation.castColumn(sales, "Quantity", "string")
    assert(q.schema("Quantity").dataType === StringType)
  }

  test("T9 join keeps both key columns; join-type containment") {
    val inner = Relational.join(sales, products, "Product_ID", "Product_ID", "inner")
    assert(inner.columns.count(_ == "Product_ID") === 2) // both keys retained (simple_etl.py:338-342)
    val left = Relational.join(sales, products, "Product_ID", "Product_ID", "left")
    val right = Relational.join(sales, products, "Product_ID", "Product_ID", "right")
    val outer = Relational.join(sales, products, "Product_ID", "Product_ID", "outer")
    assert(inner.count() === 6)
    assert(left.count() === 6)   // every sale has a product
    assert(right.count() === 7)  // P-005 unsold appears with nulls
    assert(outer.count() === 7)
    assert(inner.count() <= left.count() && left.count() <= outer.count())
    intercept[IllegalArgumentException] {
      Relational.join(sales, products, "Product_ID", "Product_ID", "cross")
    }
  }

  test("asOfJoin: greatest right ts <= left ts per key, inclusive, null when none") {
    import spark.implicits._
    val quotes = Seq( // (sym, qts, px)
      ("A", 10L, 1.0), ("A", 20L, 2.0), ("A", 30L, 3.0),
      ("B", 15L, 9.0)).toDF("sym", "qts", "px")
    val trades = Seq( // (sym, tts)
      ("A", 5L),   // before any quote -> null
      ("A", 20L),  // exactly at quote -> inclusive match 2.0
      ("A", 25L),  // between -> 2.0
      ("A", 99L),  // after all -> 3.0
      ("B", 14L),  // before B's quote -> null
      ("C", 50L))  // key with no quotes -> null
      .toDF("sym", "tts")
    val r = Relational.asOfJoin(trades, quotes, Seq("sym"), "tts", "qts")
      .orderBy(col("sym"), col("tts")).collect()
      .map(row => (row.getString(0), row.getLong(1),
        if (row.isNullAt(3)) null else java.lang.Double.valueOf(row.getDouble(3))))
    assert(r.toSeq === Seq(
      ("A", 5L, null), ("A", 20L, 2.0), ("A", 25L, 2.0), ("A", 99L, 3.0),
      ("B", 14L, null), ("C", 50L, null)))
  }

  test("rangeJoin: inclusive bounds, bin-crossing pairs, exactly-once matches") {
    import spark.implicits._
    val W = 1800L * 1000000L // 30 min in us
    def tsDf(name: String, rows: Seq[(String, Long)], tsCol: String, idCol: String) =
      rows.toDF("k", "us")
        .select(col("k"), timestamp_micros(col("us")).as(tsCol), col("us").as(idCol))
    val l = tsDf("l", Seq(("u1", 1000L * W + 7L), ("u2", 5000L * W)), "lts", "lid")
    val r = tsDf("r", Seq(
      ("u1", 1000L * W + 7L),       // == left ts (lower bound 0, inclusive)
      ("u1", 1001L * W + 7L),       // == left ts + W exactly (upper inclusive), next bin
      ("u1", 1001L * W + 8L),       // 1us past the window -> excluded
      ("u1", 999L * W),             // before -> excluded
      ("u3", 1000L * W + 10L)),     // other key -> excluded
      "rts", "rid")
    val out = Relational.rangeJoin(l, r, Seq("k"), "lts", "rts", 0L, W)
      .select(col("lid"), col("rid")).collect().map(x => (x.getLong(0), x.getLong(1))).toSet
    assert(out === Set(
      (1000L * W + 7L, 1000L * W + 7L),
      (1000L * W + 7L, 1001L * W + 7L)))
    // exactly-once: no duplicate pairs despite the left-side bin explode
    val cnt = Relational.rangeJoin(l, r, Seq("k"), "lts", "rts", 0L, W).count()
    assert(cnt === 2)

    // left semantics: matched rows identical to inner; the match-free left
    // row (u2) appears exactly ONCE with null right columns — not once per
    // exploded bin
    val lout = Relational.rangeJoin(l, r, Seq("k"), "lts", "rts", 0L, W, how = "left")
      .select(col("lid"), col("rid")).collect()
      .map(x => (x.getLong(0), if (x.isNullAt(1)) -1L else x.getLong(1))).toSet
    assert(lout === Set(
      (1000L * W + 7L, 1000L * W + 7L),
      (1000L * W + 7L, 1001L * W + 7L),
      (5000L * W, -1L)))
    assert(Relational.rangeJoin(l, r, Seq("k"), "lts", "rts", 0L, W, how = "left").count() === 3)
    // duplicate left rows keep their multiplicity in the unmatched case
    val lDup = tsDf("l", Seq(("u2", 5000L * W), ("u2", 5000L * W)), "lts", "lid")
    assert(Relational.rangeJoin(lDup, r, Seq("k"), "lts", "rts", 0L, W, how = "left").count() === 2)
  }

  test("saltedJoin matches plain join result (skew path)") {
    val orders = t("orders")
    val customer = t("customer")
    val plain = Relational.join(orders, customer, "o_custkey", "c_custkey", "inner").count()
    val salted = Relational.saltedJoin(orders, customer, "o_custkey", "c_custkey", "inner").count()
    assert(salted === plain)
    val plainLeft = Relational.join(orders, customer, "o_custkey", "c_custkey", "left").count()
    val saltedLeft = Relational.saltedJoin(orders, customer, "o_custkey", "c_custkey", "left").count()
    assert(saltedLeft === plainLeft)
    intercept[IllegalArgumentException] {
      Relational.saltedJoin(orders, customer, "o_custkey", "c_custkey", "outer")
    }
  }

  test("S6 unionAll aligns by name and null-fills missing columns") {
    val a = sales.select(col("Transaction_ID"), col("Region"))
    val b = products.select(col("Product_ID").as("Transaction_ID"), col("Category"))
    val u = Sources.unionAll(Seq(a, b))
    assert(u.count() === 11)
    assert(u.columns.toSet === Set("Transaction_ID", "Region", "Category"))
    assert(u.filter(col("Category").isNull).count() === 6) // sales rows null-filled
  }

  test("K1/K2/K5 sinks round-trip") {
    val dir = java.nio.file.Files.createTempDirectory("graft-sink").toString
    Sinks.parquet(products, s"$dir/p")
    assert(spark.read.parquet(s"$dir/p").count() === 5)
    Sinks.csv(products, s"$dir/c", header = true)
    assert(spark.read.option("header", "true").csv(s"$dir/c").count() === 5)
    Sinks.orc(products, s"$dir/o")
    val back = Sources.orc(spark, s"$dir/o")
    assert(back.orderBy(col("Product_ID")).collect().map(_.toSeq).toSeq ===
      products.orderBy(col("Product_ID")).collect().map(_.toSeq).toSeq)
  }

  test("S1b csvWithQuarantine surfaces malformed rows in _corrupt, keeps clean rows typed") {
    val dir = java.nio.file.Files.createTempDirectory("graft-badcsv")
    java.nio.file.Files.writeString(dir.resolve("d.csv"),
      "id,qty\n1,10\n2,not_a_number\n3,30\n")
    val df = Sources.csvWithQuarantine(spark, dir.toString + "/d.csv", "id INT, qty INT")
    df.cache() // PERMISSIVE corrupt-column reads need a single pass
    val clean = df.filter(col("_corrupt").isNull)
    val dirty = df.filter(col("_corrupt").isNotNull)
    assert(clean.count() === 2)
    assert(clean.schema("qty").dataType === IntegerType)
    assert(dirty.count() === 1)
    assert(dirty.head().getAs[String]("_corrupt").contains("not_a_number"))
    df.unpersist()
  }

  test("K7 upsertParquet: same-key rows replaced, new keys appended, others untouched") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ups").toString + "/p"
    Sinks.parquet(products, dir)
    import spark.implicits._
    val updates = Seq(
      ("P-001", "Gaming Mouse", "Electronics"), // replaces
      ("P-009", "Headset", "Audio"))            // new key
      .toDF("Product_ID", "Product_Name", "Category")
    val merged = Sinks.upsertParquet(spark, dir, updates, "Product_ID")
    assert(merged.count() === 6)
    val byId = merged.collect().map(r => r.getString(0) -> r.getString(1)).toMap
    assert(byId("P-001") === "Gaming Mouse")
    assert(byId("P-009") === "Headset")
    assert(byId("P-002") === "Keyboard") // untouched
    // the swap replaced the directory: a fresh read agrees
    assert(spark.read.parquet(dir).count() === 6)
  }

  test("K12 scd2Merge: changed rows close + reversion, no-op updates do not version, new keys insert") {
    val dir = java.nio.file.Files.createTempDirectory("graft-scd2").toString + "/p"
    import spark.implicits._
    val eff0 = java.sql.Date.valueOf("2020-01-01")
    val eff1 = java.sql.Date.valueOf("2024-06-01")
    Sinks.parquet(products
      .withColumn("valid_from", lit(eff0))
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true)), dir)
    val updates = Seq(
      ("P-001", "Gaming Mouse", "Electronics"), // changed name -> new version
      ("P-002", "Keyboard", "Electronics"),     // byte-identical -> NO new version
      ("P-009", "Headset", "Audio"))            // new key
      .toDF("Product_ID", "Product_Name", "Category")
    val merged = Sinks.scd2Merge(spark, dir, updates, "Product_ID", eff1)
    // 5 base + 1 new version + 1 new key = 7 (no row for the no-op)
    assert(merged.count() === 7)
    val p1 = merged.filter(col("Product_ID") === "P-001")
      .orderBy(col("valid_from")).collect()
    assert(p1.length === 2)
    assert(p1(0).getAs[java.sql.Date]("valid_to") === eff1 && !p1(0).getAs[Boolean]("is_current"))
    assert(p1(1).getAs[java.sql.Date]("valid_from") === eff1 &&
      p1(1).getAs[java.sql.Date]("valid_to") == null && p1(1).getAs[Boolean]("is_current"))
    assert(p1(1).getAs[String]("Product_Name") === "Gaming Mouse")
    val p2 = merged.filter(col("Product_ID") === "P-002").collect()
    assert(p2.length === 1 && p2(0).getAs[Boolean]("is_current")
      && p2(0).getAs[java.sql.Date]("valid_to") == null)
    val p9 = merged.filter(col("Product_ID") === "P-009").collect()
    assert(p9.length === 1 && p9(0).getAs[Boolean]("is_current")
      && p9(0).getAs[java.sql.Date]("valid_from") === eff1)
    // idempotence: re-merging the same batch changes nothing
    assert(Sinks.scd2Merge(spark, dir, updates, "Product_ID", eff1).count() === 7)
  }

  test("K6 compactParquet collapses a fragmented directory, preserves data") {
    val dir = java.nio.file.Files.createTempDirectory("graft-cmp").toString + "/n"
    val nation = t("nation")
    nation.repartition(10).write.parquet(dir)
    def parquetFiles = new java.io.File(dir).listFiles().count(_.getName.endsWith(".parquet"))
    assert(parquetFiles === 10)
    val back = Sinks.compactParquet(spark, dir, targetFileMB = 128)
    assert(parquetFiles === 1) // tiny table -> single target file
    assert(back.orderBy(col("n_nationkey")).collect().map(_.toSeq).toSeq ===
      nation.orderBy(col("n_nationkey")).collect().map(_.toSeq).toSeq)
  }

  test("S4/S5/K3 JDBC round-trip against embedded Derby (write, list, partitioned read)") {
    val tmp = java.nio.file.Files.createTempDirectory("graft-derby").toString
    System.setProperty("derby.stream.error.file", s"$tmp/derby.log")
    val url = s"jdbc:derby:$tmp/db;create=true"
    val props = Map("driver" -> "org.apache.derby.jdbc.EmbeddedDriver")
    val nation = t("nation").select(col("n_nationkey"), col("n_name"), col("n_regionkey"))
    // K3: overwrite write (twice — the second exercises the replace path)
    Sinks.jdbc(nation, url, "nation_rt", props)
    Sinks.jdbc(nation, url, "nation_rt", props)
    // S4: catalog listing sees the table
    val tables = Sources.jdbcTableNames(url, "", "").map(_.toLowerCase)
    assert(tables.contains("nation_rt"), s"catalog listing missing table: $tables")
    // S5 single-connection read
    val whole = Sources.jdbc(spark, url, "nation_rt", props)
    assert(whole.count() === nation.count())
    // S5 partitioned read: 4 range-parallel queries, same rows
    val parts = Sources.jdbc(spark, url, "nation_rt", props,
      partitionColumn = Some(("n_nationkey", 0L, 25L, 4)))
    assert(parts.rdd.getNumPartitions === 4)
    val back = parts.orderBy(col("n_nationkey")).collect().map(_.toSeq)
    val orig = nation.orderBy(col("n_nationkey")).collect().map(_.toSeq)
    assert(back.toSeq === orig.toSeq)
  }

  test("T4b filterContainsIgnoreCase matches any case, drops null rows") {
    val r = Mutation.filterContainsIgnoreCase(sales, "Status", "PAID")
    assert(r.count() === 4) // the four 'Paid' rows (incl. dup); Pending/Cancelled excluded
    val nulls = Mutation.filterContainsIgnoreCase(sales, "Region", "JAKARTA")
    assert(nulls.count() === 2) // both Jakarta rows; TRX-103's null Region drops
  }

  test("S2 Excel source reads a real xlsx (shared strings, sparse cells, types, dates)") {
    import java.util.zip.{ZipEntry, ZipOutputStream}
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsx")
    def writeXlsx(file: String, sheetXml: String, sharedXml: String, stylesXml: String): Unit = {
      val out = new ZipOutputStream(java.nio.file.Files.newOutputStream(dir.resolve(file)))
      def put(name: String, content: String): Unit = {
        out.putNextEntry(new ZipEntry(name))
        out.write(content.getBytes("UTF-8")); out.closeEntry()
      }
      put("[Content_Types].xml", """<?xml version="1.0"?><Types xmlns="http://schemas.openxmlformats.org/package/2006/content-types"/>""")
      put("xl/sharedStrings.xml", sharedXml)
      put("xl/styles.xml", stylesXml)
      put("xl/worksheets/sheet1.xml", sheetXml)
      out.close()
    }
    val shared =
      """<?xml version="1.0"?><sst><si><t>id</t></si><si><t>name</t></si><si><t>qty</t></si><si><t>Mouse</t></si><si><r><t>Key</t></r><r><t>board</t></r></si><si><t>when</t></si></sst>"""
    // xf1 = builtin date (14), xf2 = custom date format (164); the xf
    // inside cellStyleXfs is a decoy that must NOT shift cellXfs indices
    val styles =
      """<?xml version="1.0"?><styleSheet>
        |<numFmts count="1"><numFmt numFmtId="164" formatCode="dd/mm/yyyy hh:mm"/></numFmts>
        |<cellStyleXfs count="1"><xf numFmtId="14"/></cellStyleXfs>
        |<cellXfs count="3"><xf numFmtId="0"/><xf numFmtId="14"/><xf numFmtId="164"/></cellXfs>
        |</styleSheet>""".stripMargin
    // row2: full + date-styled serial; row3: qty absent (sparse), custom
    // date style with time fraction; row4: inline string + bool +
    // UNSTYLED serial (must stay a raw number)
    val sheet =
      """<?xml version="1.0"?><worksheet><sheetData>
        |<row r="1"><c r="A1" t="s"><v>0</v></c><c r="B1" t="s"><v>1</v></c><c r="C1" t="s"><v>2</v></c><c r="D1" t="s"><v>5</v></c></row>
        |<row r="2"><c r="A2"><v>1</v></c><c r="B2" t="s"><v>3</v></c><c r="C2"><v>2.5</v></c><c r="D2" s="1"><v>45321</v></c></row>
        |<row r="3"><c r="A3"><v>2</v></c><c r="B3" t="s"><v>4</v></c><c r="D3" s="2"><v>45321.5</v></c></row>
        |<row r="4"><c r="A4"><v>3</v></c><c r="B4" t="inlineStr"><is><t>Cable</t></is></c><c r="C4" t="b"><v>1</v></c><c r="D4"><v>45321</v></c></row>
        |</sheetData></worksheet>""".stripMargin
    writeXlsx("a.xlsx", sheet, shared, styles)
    val df = Sources.excel(spark, dir.toString + "/a.xlsx")
    assert(df.columns.toSeq === Seq("id", "name", "qty", "when"))
    // inference (openpyxl-primary behavior): all-integral id -> bigint;
    // qty mixes "2.5"/"true" and `when` mixes ISO dates with a raw
    // serial, so both stay strings
    assert(df.schema("id").dataType === LongType)
    val rows = df.orderBy(col("id")).collect()
    assert(rows.length === 3)
    assert(rows(0).toSeq === Seq(1L, "Mouse", "2.5", "2024-01-30"))
    assert(rows(1).toSeq === Seq(2L, "Keyboard", null, "2024-01-30 12:00:00")) // rich-text runs concat; sparse cell -> null
    assert(rows(2).toSeq === Seq(3L, "Cable", "true", "45321")) // no date style -> raw serial
    // the reference's all-string fallback stays available
    val rawDf = Sources.excel(spark, dir.toString + "/a.xlsx", inferTypes = false)
    assert(rawDf.schema.fields.forall(_.dataType === StringType))
    assert(rawDf.orderBy(col("id")).collect()(0).toSeq === Seq("1", "Mouse", "2.5", "2024-01-30"))
    // cast composes downstream, as the reference's T8 would: the two
    // date-styled cells become real dates, the unstyled serial nulls out
    val typed = Mutation.castColumn(Mutation.castColumn(df, "qty", "float"), "when", "date")
    assert(typed.schema("qty").dataType === FloatType)
    assert(typed.schema("when").dataType === DateType)
    // the two styled cells become the real date; the unstyled serial
    // string "45321" leniently parses as year 45321 (bare-yyyy form) —
    // exactly the garbage the style lookup exists to prevent
    assert(typed.filter(col("when") === lit("2024-01-30").cast("date")).count() === 2)
    assert(typed.filter(year(col("when")) === 45321).count() === 1)
    // serial conversion edges
    assert(ExcelSource.serialToIso(45321.0) === "2024-01-30")
    assert(ExcelSource.serialToIso(45321.5) === "2024-01-30 12:00:00")
    assert(ExcelSource.serialToIso(0.75) === "1899-12-30 18:00:00")
    // column-letter arithmetic
    assert(ExcelSource.colIndex("A1") === 0)
    assert(ExcelSource.colIndex("Z9") === 25)
    assert(ExcelSource.colIndex("AA3") === 26)
    assert(ExcelSource.colIndex("BC7") === 54)
  }

  test("K2b Excel sink: typed write → reader round-trip (numbers, dates, escaping)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-xlsx-sink")
    val path = dir.resolve("out.xlsx").toString
    val df = Seq(
      (1L, 2.5, true, "a<b&c>d", "2024-01-30", "2024-01-30 12:34:56"),
      (2L, -0.125, false, "plain", "1999-12-31", "2000-01-01 00:00:00"))
      .toDF("id", "x", "flag", "txt", "d", "ts")
      .withColumn("d", col("d").cast("date"))
      .withColumn("ts", col("ts").cast("timestamp"))
    ExcelSink.xlsx(df, path)
    val back = Sources.excel(spark, path)
    assert(back.columns.toSeq === df.columns.toSeq)
    // inference restores numeric types; date-styled serials surface as
    // ISO strings (castColumn-composable); booleans/text stay strings
    assert(back.schema("id").dataType === LongType)
    assert(back.schema("x").dataType === DoubleType)
    val rows = back.orderBy(col("id")).collect()
    assert(rows(0).toSeq === Seq(1L, 2.5, "true", "a<b&c>d", "2024-01-30", "2024-01-30 12:34:56"))
    assert(rows(1).toSeq === Seq(2L, -0.125, "false", "plain", "1999-12-31", "2000-01-01"))
    // typed date column round-trips exactly through castColumn
    val dBack = Mutation.castColumn(back, "d", "date").select(col("id"), col("d"))
    assert(dBack.orderBy(col("id")).collect().map(_.get(1).toString).toSeq ===
      Seq("2024-01-30", "1999-12-31"))
    // row-cap guard fails fast instead of silently truncating
    intercept[IllegalArgumentException] {
      ExcelSink.xlsx(df, dir.resolve("cap.xlsx").toString, maxRows = 1)
    }
  }

  test("K10 z-order: interleave key is exact and the layout clusters both dimensions") {
    import spark.implicits._
    // hand-checked interleave: a-bits at even positions, b-bits at odd
    val z = Seq((0L, 0L), (1L, 0L), (0L, 1L), (3L, 5L), (65535L, 65535L))
      .toDF("a", "b")
      .select(Sinks.zOrderKey(col("a"), col("b")).as("z")).as[Long].collect()
    assert(z.toSeq === Seq(0L, 1L, 2L, 39L, 4294967295L))
    // bijective on the 16-bit domain sample: distinct pairs <-> distinct keys
    val pairs = Seq.tabulate(200)(i => ((i * 7 % 100).toLong, (i * 13 % 100).toLong)).distinct
    val keys = pairs.toDF("a", "b").select(Sinks.zOrderKey(col("a"), col("b"))).distinct().count()
    assert(keys === pairs.size)
    // layout: after z-ordering, each output file covers a narrow slice of
    // BOTH dimensions (sum of per-file ranges ~ total range, not files x range)
    val dir = java.nio.file.Files.createTempDirectory("graft-zorder").toString + "/t"
    val df = Seq.tabulate(4096)(i => (i.toLong % 64, (i / 64).toLong)).toDF("x", "y")
    Sinks.zorderedParquet(df, "x", "y", dir, numFiles = 8)
    val perFile = spark.read.parquet(dir)
      .withColumn("f", input_file_name())
      .groupBy(col("f"))
      .agg((max(col("x")) - min(col("x"))).as("xr"), (max(col("y")) - min(col("y"))).as("yr"))
      .collect()
    assert(perFile.length > 1)
    val meanXr = perFile.map(_.getLong(1)).sum.toDouble / perFile.length
    val meanYr = perFile.map(_.getLong(2)).sum.toDouble / perFile.length
    // full range is 63 in each dim; z-clustered files must be far tighter
    // in both dims simultaneously (a plain sort on x would give yr ~ 63)
    assert(meanXr < 48 && meanYr < 48, s"z-order not clustering: xr=$meanXr yr=$meanYr")
  }

  test("Pipeline composes stages lazily and binds results into the catalog") {
    val cat = new Catalog(spark)
    cat.register("sales", sales)
    val clean = Pipeline("clean_sales")
      .stage("fill", Cleaning.fillNulls(_, "UNKNOWN", 0))
      .stage("dedup", Cleaning.dedup)
      .stage("fix_region", Mutation.replaceValue(_, "Region", "Jkt", "Jakarta"))
      .stage("paid_only", Mutation.filterContains(_, "Status", "Paid"))
    assert(clean.stageNames === Seq("fill", "dedup", "fix_region", "paid_only"))
    val out = clean.runOn(cat, "sales", "sales_clean")
    assert(cat.contains("sales_clean"))
    assert(out.count() === 3) // 6 rows -> dedup 5 -> Paid only 3
    assert(out.filter(col("Region") === "Jkt").count() === 0)
    // composition: whole chain is ONE plan over one scan (no barriers)
    val enrich = Pipeline("enrich").stage("label",
      Columns.mergeColumns(_, "label", "/", Seq("Region", "Status")))
    val full = clean.andThen(enrich)
    assert(full.stageNames.last === "enrich.label")
    assert(full(sales).columns.contains("label"))
    // SQL reachability of the registered result
    assert(spark.sql("SELECT count(*) FROM sales_clean").head().getLong(0) === 3)
  }

  test("Scratch.tempDir allocates under the scratch base after the JDK fixed its tmpdir") {
    // the JDK reads java.io.tmpdir once, at its first temp file
    java.nio.file.Files.deleteIfExists(java.nio.file.Files.createTempFile("graft-probe", ""))
    val d = new java.io.File(Scratch.tempDir("graft-probe"))
    try {
      assert(d.isDirectory)
      assert(d.getParentFile.getCanonicalPath === new java.io.File(Scratch.dir()).getCanonicalPath)
    } finally d.delete()
  }

  test("K1 partitioned parquet sink enables partition pruning") {
    val dir = java.nio.file.Files.createTempDirectory("graft-part").toString
    val ev = graft.ext.Events.normalizeTs(t("events"))
      .withColumn("day", to_date(col("ts")).cast("string"))
    Sinks.parquet(ev, s"$dir/events_by_day", partitionBy = Seq("day"))
    val days = new java.io.File(s"$dir/events_by_day").listFiles()
      .filter(_.getName.startsWith("day=")).map(_.getName)
    assert(days.length > 1, s"expected multiple day= partitions, got ${days.toSeq}")
    val oneDay = days.head.stripPrefix("day=")
    val back = spark.read.parquet(s"$dir/events_by_day").filter(col("day") === oneDay)
    // partition pruning: the filter eliminates non-matching directories
    // before the scan (visible as PartitionFilters in the plan)
    val plan = back.queryExecution.executedPlan.toString
    assert(plan.contains(s"PartitionFilters: [isnotnull(day") && plan.contains(s"= $oneDay)"),
      s"day filter should be a PartitionFilter (pruned before scan), plan:\n${plan.take(800)}")
    assert(back.count() === ev.filter(col("day") === oneDay).count())
  }

  test("K1 partitioned writes rebalance under AQE and carry no hint without it") {
    import org.apache.spark.sql.catalyst.plans.logical.{RebalancePartitions, ResolvedHint, UnresolvedHint}
    // (rebalanced, any hint left) in the analyzed plan of the write input
    def shape(aqe: Boolean): (Boolean, Boolean) = {
      val s = spark.newSession()
      s.conf.set("spark.sql.adaptive.enabled", aqe.toString)
      val plan = Sinks.rebalanced(s.range(10).withColumn("day", col("id") % 3), Seq("day"))
        .queryExecution.analyzed
      (plan.exists(_.isInstanceOf[RebalancePartitions]),
        plan.exists { case _: UnresolvedHint | _: ResolvedHint => true; case _ => false })
    }
    assert(shape(aqe = true) === ((true, false)))
    assert(shape(aqe = false) === ((false, false)))
  }

  test("bucketed tables join and aggregate with zero shuffle exchanges") {
    val o = t("orders").select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val c = t("customer").select(col("c_custkey"), col("c_name"))
    val bo = Sinks.bucketedParquet(o, "graft_test_bkt_orders", Seq("o_custkey"), 4)
    val bc = Sinks.bucketedParquet(c, "graft_test_bkt_customer", Seq("c_custkey"), 4)
    // force the sort-merge path: broadcast would hide the co-location
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = bo.join(bc, bo("o_custkey") === bc("c_custkey"))
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n"))
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      // bucket co-location: scan is already hash-partitioned on the key,
      // so neither the join nor the groupBy inserts an Exchange
      assert(!plan.contains("Exchange"),
        s"bucketed join+agg should be shuffle-free, plan:\n${plan.take(1200)}")
      assert(joined.count() === o.join(c, o("o_custkey") === c("c_custkey"))
        .groupBy(col("o_custkey")).count().count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS graft_test_bkt_orders")
      spark.sql("DROP TABLE IF EXISTS graft_test_bkt_customer")
    }
  }

  test("Catalog registers lazy plans and temp views") {
    val cat = new Catalog(spark)
    cat.register("products_t", products)
    assert(cat("products_t").count() === 5)
    assert(spark.sql("SELECT count(*) FROM products_t").head().getLong(0) === 5)
    assert(cat.names.contains("products_t"))
    cat.drop("products_t")
    assert(!cat.contains("products_t"))
  }

  test("unpivot: each measure becomes a row, ids repeated, no shuffle") {
    import spark.implicits._
    val df = Seq((1L, 2, 10.0, 20.0)).toDF("k", "ln", "qty", "price")
    val r = ops.Reshape.unpivot(df, Seq("k", "ln"), Seq("qty", "price"))
    val rows = r.collect().map(x =>
      (x.getLong(0), x.getInt(1), x.getString(2), x.getDouble(3))).sortBy(_._3)
    assert(rows.toSeq === Seq((1L, 2, "price", 20.0), (1L, 2, "qty", 10.0)))
    // map-side Expand only: no exchange in the plan
    val plan = r.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unpivot should not shuffle:\n$plan")
  }

  test("xml roundtrip preserves rows and survives special characters") {
    import spark.implicits._
    val tmp = Scratch.dir() + "/xml_rt"
    val df = Seq((1L, "a<b&c", "x"), (2L, "plain", "y"))
      .toDF("id", "payload", "tag")
    ops.Sinks.xml(df, tmp, "rec")
    val back = ops.Sources.xml(spark, tmp, "rec")
      .select(col("id").cast("bigint"), col("payload"), col("tag"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).sortBy(_._1)
    // XML escaping of <, & must round-trip losslessly
    assert(back.toSeq === Seq((1L, "a<b&c", "x"), (2L, "plain", "y")))
  }

  test("fixedWidth: roundtrip, null-as-padding, and overflow raises") {
    import spark.implicits._
    val tmp = Scratch.dir() + "/fw_rt"
    val df = Seq((1L, Some("abc"), 10), (2L, None, 20)).toDF("id", "s", "n")
    ops.Sinks.fixedWidth(df, tmp, Seq(4, 6, 4))
    val back = ops.Sources.fixedWidth(spark, tmp, "id bigint, s string, n int", Seq(4, 6, 4))
      .collect().sortBy(_.getLong(0))
    assert(back(0).getLong(0) === 1L && back(0).getString(1) === "abc" && back(0).getInt(2) === 10)
    assert(back(1).isNullAt(1)) // null wrote as padding, read back null
    val wide = Seq((1L, "longer than six", 1)).toDF("id", "s", "n")
    val e = intercept[Exception] {
      ops.Sinks.fixedWidth(wide, Scratch.dir() + "/fw_bad", Seq(4, 6, 4))
    }
    assert(e.getMessage.contains("fixed-width overflow") ||
      Option(e.getCause).exists(_.getMessage.contains("fixed-width overflow")))
  }

  test("avro roundtrip: every supported type and nulls survive bit-exact") {
    val tmp = Scratch.dir() + "/avro_rt"
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "id bigint, n int, s string, f float, d double, b boolean, " +
        "raw binary, day date, at timestamp, ntz timestamp_ntz")
    val rows = Seq(
      org.apache.spark.sql.Row(1L, 7, "héllo", 1.5f, 2.25, true,
        Array[Byte](0, 1, -1), java.sql.Date.valueOf("2026-02-28"),
        java.sql.Timestamp.valueOf("2026-02-28 12:34:56.123456"),
        java.time.LocalDateTime.parse("2026-02-28T12:34:56.123456")),
      org.apache.spark.sql.Row(2L, null, null, null, null, null,
        null, null, null, null))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    ops.AvroIO.write(df, tmp)
    val back = ops.AvroIO.read(spark, tmp)
    assert(back.schema === schema.copy(fields = schema.fields.map(_.copy(nullable = true))))
    val got = back.collect().sortBy(_.getLong(0))
    assert(got(0).getInt(1) === 7 && got(0).getString(2) === "héllo")
    assert(got(0).getFloat(3) === 1.5f && got(0).getDouble(4) === 2.25)
    assert(got(0).getBoolean(5) === true)
    assert(got(0).getAs[Array[Byte]](6).toSeq === Seq[Byte](0, 1, -1))
    assert(got(0).getDate(7) === java.sql.Date.valueOf("2026-02-28"))
    assert(got(0).getTimestamp(8) ===
      java.sql.Timestamp.valueOf("2026-02-28 12:34:56.123456"))
    assert(got(0).getAs[java.time.LocalDateTime](9) ===
      java.time.LocalDateTime.parse("2026-02-28T12:34:56.123456"))
    assert((1 to 9).forall(got(1).isNullAt))
    // per-partition file layout: 2 upstream partitions -> 2 containers
    assert(new java.io.File(tmp).listFiles().count(_.getName.endsWith(".avro")) === 2)
  }

  test("binaryFiles: per-file content is complete and glob prunes extensions") {
    import spark.implicits._
    val tmp = Scratch.dir() + "/bin_rt"
    ops.Sinks.textLines(Seq("abc", "de").toDF("value").coalesce(1), tmp)
    // a decoy file the glob must skip
    java.nio.file.Files.write(java.nio.file.Paths.get(tmp, "skip.bin"),
      Array[Byte](1, 2, 3))
    val rows = ops.Sources.binaryFiles(spark, tmp, "*.txt").collect()
    assert(rows.length === 1)
    val content = rows(0).getAs[Array[Byte]]("content")
    // both lines with terminators, order preserved within the file
    assert(new String(content, "UTF-8") === "abc\nde\n")
    assert(rows(0).getAs[Long]("length") === content.length.toLong)
  }
}
