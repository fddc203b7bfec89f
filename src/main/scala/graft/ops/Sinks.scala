package graft.ops

import org.apache.spark.sql.{DataFrame, SaveMode}

/** Load-stage sinks (reference: simple_etl.py:356-404, SURVEY.md §2.3).
  */
object Sinks {

  /** K1 — Parquet write (reference: simple_etl.py:369-372 via pandas
    * buffer). Distributed writer; optional partition columns for
    * partition-pruned downstream reads — the single most important knob
    * for a 100 TB table that is always filtered by date/tenant.
    *
    * Partitioned writes go through an AQE REBALANCE on the partition
    * columns first: without it every one of the N shuffle-map tasks
    * holds rows of every partition value, so the writer emits up to
    * N x |values| small files — the classic small-files defect that
    * makes the NEXT reader's listing/footer phase the bottleneck at
    * scale. REBALANCE is the adaptive form of `repartition(cols)`:
    * small partition values coalesce into shared tasks, and a skewed
    * value is SPLIT across tasks by the advisory size instead of
    * serializing one giant task (plain repartition would bottleneck the
    * write on the largest tenant/date).
    *
    * With AQE off there is no rebalance: Spark resolves the hint only
    * under AQE (and otherwise drops it with an `Unrecognized hint`
    * warning), so it is not attached and the number of files per
    * partition value follows the writing task count.
    */
  def parquet(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): DataFrame = {
    if (partitionBy.nonEmpty)
      rebalanced(df, partitionBy)
        .write.mode(SaveMode.Overwrite).partitionBy(partitionBy: _*).parquet(path)
    else df.write.mode(SaveMode.Overwrite).parquet(path)
    df
  }

  /** `df` with a REBALANCE hint on `cols` when the session runs AQE,
    * else `df` unchanged.
    */
  private[graft] def rebalanced(df: DataFrame, cols: Seq[String]): DataFrame =
    if (df.sparkSession.conf.get("spark.sql.adaptive.enabled").toBoolean)
      df.hint("rebalance", cols.map(org.apache.spark.sql.functions.col): _*)
    else df

  /** K2 — delimited-text write, HDFS-transparent (reference:
    * simple_etl.py:374-388 drops to `rdd.map(",".join)` with NO quoting —
    * SURVEY.md §2.3 says do not reproduce that bug). `DataFrameWriter.csv`
    * quotes and escapes properly and accepts `hdfs://` URIs natively.
    */
  def csv(df: DataFrame, path: String, header: Boolean = false): DataFrame = {
    df.write.mode(SaveMode.Overwrite).option("header", header.toString).csv(path)
    df
  }

  /** K2b — RFC 4180 dialect CSV write: quotes escape by DOUBLING
    * (`""`), not Spark's default backslash, so embedded commas, quotes
    * and NEWLINES inside fields round-trip against any standards-
    * compliant reader (DuckDB, Excel, Postgres COPY). Spark's default
    * escape produces files those readers mis-parse on quoted quotes —
    * the classic cross-tool CSV interop bug.
    */
  def csvRfc4180(df: DataFrame, path: String, header: Boolean = true): DataFrame = {
    df.write.mode(SaveMode.Overwrite)
      .option("header", header.toString)
      .option("quote", "\"").option("escape", "\"")
      .csv(path)
    df
  }

  /** Z-ORDER interleave key for two non-negative integer dimensions
    * (16 bits each): bit i of `a` lands at position 2i, bit i of `b` at
    * 2i+1. Rows close in BOTH dimensions get close z-values, so sorting
    * by z-key clusters multi-dimensional locality into the same parquet
    * row groups — min/max stats then prune scans filtered on EITHER
    * dimension, where a plain sort only serves its leading column.
    * Built-ins only (shift/and/or are codegen'd and the identical
    * expression runs on any engine for the oracle).
    */
  def zOrderKey(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.functions.{lit, shiftleft, shiftright}
    (0 until 16).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i)
        .bitwiseOR(shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)), 2 * i + 1))
    }.reduce(_ bitwiseOR _)
  }

  /** The same z-key as ANSI SQL text (for the DuckDB oracle): generated
    * from the identical bit positions, so both engines compute the same
    * integers.
    */
  def zOrderKeySql(a: String, b: String): String =
    (0 until 16).map { i =>
      s"(((($a >> $i) & 1) << ${2 * i}) | ((($b >> $i) & 1) << ${2 * i + 1}))"
    }.mkString("(", " | ", ")")

  /** Z-ordered parquet layout: range-partition + sort by the interleave
    * key of two dimensions, then write. One-time layout cost; afterwards
    * every row group's min/max stats are tight in BOTH dimensions, so
    * selective filters on either column skip most of the file — the
    * standard lakehouse OPTIMIZE ZORDER shape.
    */
  def zorderedParquet(
      df: DataFrame,
      colA: String,
      colB: String,
      path: String,
      numFiles: Int = 8): DataFrame = {
    import org.apache.spark.sql.functions.col
    df.withColumn("__z", zOrderKey(col(colA), col(colB)))
      .repartitionByRange(numFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode(SaveMode.Overwrite).parquet(path)
    df.sparkSession.read.parquet(path)
  }

  /** JSON-lines write — interchange sink counterpart of
    * [[Sources.json]]: one JSON object per line, distributed writer
    * (one file per partition). Schema is carried in the data, so a
    * round-trip re-infers types (ints widen to long) — an interchange
    * format, not a lakehouse one.
    */
  def json(df: DataFrame, path: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).json(path)
    df
  }

  /** ORC write — columnar sink counterpart of [[Sources.orc]]; same
    * distributed writer contract as parquet (overwrite, optional
    * partition columns for pruned reads).
    */
  def orc(df: DataFrame, path: String, partitionBy: Seq[String] = Nil): DataFrame = {
    val w = df.write.mode(SaveMode.Overwrite)
    (if (partitionBy.nonEmpty) w.partitionBy(partitionBy: _*) else w).orc(path)
    df
  }

  /** XML write — interchange counterpart of [[Sources.xml]]: each row
    * becomes one `<rowTag>` element under a shared root, one file per
    * partition. Like JSON the schema is re-inferred on read, so a
    * round-trip needs the same explicit casts.
    */
  def xml(df: DataFrame, path: String, rowTag: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).option("rowTag", rowTag)
      .format("xml").save(path)
    df
  }

  /** Plain-text write: exactly one string column, one line per row, one
    * file per partition — the one-doc-per-line corpus export. Rows must
    * not contain the line separator (caller's contract, as in Spark
    * itself); [[Sources.textLines]] reads the directory back.
    */
  def textLines(df: DataFrame, path: String): DataFrame = {
    df.write.mode(SaveMode.Overwrite).text(path)
    df
  }

  /** Fixed-width text write: every column cast to string and right-
    * padded to its width, lines concatenated with no delimiter — the
    * export format fixed-record consumers (mainframe loaders, COBOL
    * copybooks) ingest. A value WIDER than its field would silently
    * corrupt every later offset, so overflow raises at write time
    * instead of truncating; values must not carry trailing spaces
    * (they are indistinguishable from padding — [[Sources.fixedWidth]]
    * rtrims on read). Nulls write as all-padding and read back as
    * null. One file per partition, like every text sink here.
    */
  def fixedWidth(df: DataFrame, path: String, widths: Seq[Int]): DataFrame = {
    import org.apache.spark.sql.functions._
    require(widths.length == df.columns.length,
      s"df has ${df.columns.length} columns but ${widths.length} widths given")
    val line = concat(df.columns.zip(widths).map { case (c, wd) =>
      val s = coalesce(col(c).cast("string"), lit(""))
      when(length(s) > wd, raise_error(concat(
          lit(s"fixed-width overflow: column $c exceeds $wd chars: "), s)))
        .otherwise(rpad(s, wd, " "))
    }: _*)
    df.select(line.as("value")).write.mode(SaveMode.Overwrite).text(path)
    df
  }

  /** Bucketed parquet table write: hash-partition rows into `numBuckets`
    * files per partition by `bucketCols`, sorted within each bucket, and
    * register in the session catalog (bucket metadata lives there, which
    * is why this writes a TABLE, not a bare path).
    *
    * The 100 TB payoff: two tables bucketed the same way join WITHOUT
    * any shuffle — the scan is already hash-partitioned on the join key,
    * so SortMergeJoin reads buckets pairwise; a groupBy on the bucket
    * key aggregates shuffle-free too. For a fact table joined daily
    * against the same dimensions, this converts every query's O(|fact|)
    * shuffle into a one-time layout cost at write.
    */
  def bucketedParquet(
      df: DataFrame,
      table: String,
      bucketCols: Seq[String],
      numBuckets: Int): DataFrame = {
    val spark = df.sparkSession
    // The in-memory catalog dies with the session but the warehouse dir
    // doesn't: a leftover location from a previous run makes Overwrite
    // refuse ("LOCATION_ALREADY_EXISTS"). Drop both, then write.
    spark.sql(s"DROP TABLE IF EXISTS `$table`")
    val loc = new org.apache.hadoop.fs.Path(
      spark.conf.get("spark.sql.warehouse.dir"), table.toLowerCase)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(loc)) fs.delete(loc, true)
    df.write.mode(SaveMode.Overwrite).format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
      .sortBy(bucketCols.head, bucketCols.tail: _*)
      .saveAsTable(table)
    df.sparkSession.table(table)
  }

  /** Compact a parquet directory to ~`targetFileMB` output files — the
    * small-files maintenance op every large lake needs: thousands of
    * tiny files mean task-per-file scheduling overhead, metadata
    * pressure, and useless columnar chunks. Output file count is
    * computed from the CURRENT on-disk bytes (compressed), floor 1;
    * the rewrite goes to a temp sibling then swaps in via rename, so
    * readers never observe a half-written directory.
    */
  def compactParquet(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      targetFileMB: Int = 128): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val files = math.max(1, math.ceil(bytes.toDouble / (targetFileMB * 1024.0 * 1024.0)).toInt)
    swapRewrite(spark, p) { tmp =>
      spark.read.parquet(path).repartition(files)
        .write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  /** Keyed UPSERT (merge) into a parquet directory: rows of `updates`
    * replace same-key existing rows, new keys append — anti-join +
    * union + atomic swap, the plain-parquet shape of MERGE INTO (a
    * transactional table format adds concurrency/conflict handling on
    * top; the data rewrite is the same). Whole-table rewrite here; on a
    * date/tenant-partitioned 100 TB table restrict the rewrite to the
    * partitions the update keys touch (dynamic partition overwrite).
    */
  def upsertParquet(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      updates: DataFrame,
      keyCol: String): DataFrame = {
    val p = new org.apache.hadoop.fs.Path(path)
    // the anti-join must materialize BEFORE the target is replaced:
    // stage merged rows into the temp dir first, swap after
    swapRewrite(spark, p) { tmp =>
      val existing = spark.read.parquet(path)
      val merged = existing.join(updates, Seq(keyCol), "left_anti")
        .unionByName(updates.select(
          existing.columns.map(org.apache.spark.sql.functions.col).toIndexedSeq: _*))
      merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  /** SCD Type-2 merge into a parquet dimension history: the base table
    * carries (attrs..., valid_from DATE, valid_to DATE nullable,
    * is_current BOOLEAN); `updates` carries (key, attrs...). For every
    * update whose attribute tuple IS DISTINCT FROM the key's current
    * row, the current row is closed (valid_to = `effective`,
    * is_current = false) and a new current version is inserted
    * (valid_from = `effective`); identical updates are no-ops (no
    * spurious versions); unknown keys insert as brand-new current rows.
    * Closed history rows are never touched.
    *
    * Plan shape: `updates` is the small side of every comparison —
    * the changed-key detection is one join updates->current rows (AQE
    * broadcasts a small update batch at runtime), and the history
    * rewrite is anti-join + unions, all shuffle-on-key. Whole-table
    * rewrite via the same crash-safe temp-sibling swap as
    * [[upsertParquet]]; on a partitioned 100 TB dimension restrict the
    * rewrite to partitions the update keys touch (dynamic partition
    * overwrite).
    */
  def scd2Merge(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      updates: DataFrame,
      keyCol: String,
      effective: java.sql.Date): DataFrame = {
    import org.apache.spark.sql.functions._
    val p = new org.apache.hadoop.fs.Path(path)
    swapRewrite(spark, p) { tmp =>
      val existing = spark.read.parquet(path)
      val metaCols = Seq("valid_from", "valid_to", "is_current")
      val attrCols = existing.columns.filterNot(c => metaCols.contains(c) || c == keyCol).toSeq
      val cur = existing.filter(col("is_current"))
      // updates whose attribute tuple differs from the key's current row
      val differs = attrCols
        .map(a => !(updates(a) <=> cur(a)))
        .reduce(_ || _)
      val changed = updates.join(cur, updates(keyCol) === cur(keyCol) && differs, "left_semi")
      val newKeys = updates.join(existing, Seq(keyCol), "left_anti")
      def version(df: DataFrame) = df
        .select((keyCol +: attrCols).map(col).toIndexedSeq: _*)
        .withColumn("valid_from", lit(effective))
        .withColumn("valid_to", lit(null).cast("date"))
        .withColumn("is_current", lit(true))
      val changedKeys = changed.select(col(keyCol)).distinct()
      val closedOrKept = existing
        .join(changedKeys.withColumn("__chg", lit(1)), Seq(keyCol), "left")
        .select(
          (existing.columns.filterNot(metaCols.contains).map(col) ++ Seq(
            col("valid_from"),
            when(col("is_current") && col("__chg").isNotNull, lit(effective))
              .otherwise(col("valid_to")).as("valid_to"),
            (col("is_current") && col("__chg").isNull).as("is_current"))).toIndexedSeq: _*)
      val merged = closedOrKept
        .unionByName(version(changed))
        .unionByName(version(newKeys))
        .select(existing.columns.map(col).toIndexedSeq: _*)
      merged.write.mode(SaveMode.Overwrite).parquet(tmp)
    }
  }

  /** Rewrite `target` via temp-sibling + rename-aside: `write` produces
    * the new content at the temp path; the original is renamed aside
    * (not deleted) before the temp renames into place, so a crash at any
    * point leaves EITHER the old or the new complete directory
    * recoverable on disk — never neither. Not atomic for concurrent
    * readers: between the two renames the target path is briefly absent
    * (directory renames are not transactional on HDFS/object stores; a
    * table format's metadata pointer is what closes that window).
    */
  private def swapRewrite(
      spark: org.apache.spark.sql.SparkSession,
      target: org.apache.hadoop.fs.Path)(write: String => Unit): DataFrame = {
    val fs = target.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val tmp = new org.apache.hadoop.fs.Path(target.getParent, target.getName + "__rewrite_tmp")
    val old = new org.apache.hadoop.fs.Path(target.getParent, target.getName + "__rewrite_old")
    write(tmp.toString)
    fs.delete(old, true) // leftover from a previous crashed swap
    require(fs.rename(target, old), s"swapRewrite: rename-aside $target -> $old failed")
    require(fs.rename(tmp, target), s"swapRewrite: rename $tmp -> $target failed")
    fs.delete(old, true)
    spark.read.parquet(target.toString)
  }

  /** K3 — JDBC write (reference: simple_etl.py:390-404,
    * `to_sql(if_exists='replace')` => overwrite). Exercised end-to-end
    * against embedded Derby (s5_jdbc_roundtrip query, OpsSpec).
    *
    * MySQL dialect delta (the reference pins mysql-connector-python,
    * requirements.txt + simple_etl.py:101,115,400): Spark's JDBC
    * writer resolves per-URL dialects through its JdbcDialects
    * registry — a `jdbc:mysql:` URL gets backtick identifier quoting,
    * TEXT/BLOB type mapping, and boolean handling from the built-in
    * MySQLDialect with no code change here; only the driver jar on the
    * classpath differs. `if_exists='replace'` maps to Overwrite
    * exactly as for Derby (DROP + CREATE, dialect-generated DDL).
    * Asserted in JdbcDialectSpec (registry + quoting), since no MySQL
    * server exists in this environment.
    */
  def jdbc(df: DataFrame, url: String, table: String, props: Map[String, String] = Map.empty): DataFrame = {
    val base = df.write.mode(SaveMode.Overwrite).format("jdbc")
      .option("url", url).option("dbtable", table)
    props.foldLeft(base) { case (w, (k, v)) => w.option(k, v) }.save()
    df
  }

  /** Versioned-snapshot table: each write lands a COMPLETE immutable
    * copy under `path/v=<n>/` — the minimal time-travel layout (the
    * idea behind every table format's snapshot log, without the
    * transactional metadata layer). Old snapshots are never modified,
    * so readers pinned to a version see stable data while writers land
    * new versions; [[snapshotVersions]] is one driver-side directory
    * listing (metadata-only, like a real format's log read) and
    * [[readSnapshot]] reads exactly one snapshot directory — partition
    * pruning by construction, no cross-version list-and-filter.
    */
  def snapshotWrite(df: DataFrame, path: String, version: Long): DataFrame = {
    require(version >= 0, s"version=$version must be non-negative")
    df.write.mode(SaveMode.Overwrite).parquet(s"$path/v=$version")
    df
  }

  /** Versions present under a snapshot table root, ascending. */
  def snapshotVersions(
      spark: org.apache.spark.sql.SparkSession, path: String): Seq[Long] = {
    val p = new org.apache.hadoop.fs.Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq
      .filter(_.isDirectory)
      .map(_.getPath.getName)
      .collect { case s if s.startsWith("v=") => s.drop(2).toLong }
      .sorted
  }

  /** Time-travel read: the newest snapshot with version <= `asOf`
    * (latest when `asOf` is None). Fails loudly when nothing qualifies
    * — an as-of read silently returning a NEWER snapshot would defeat
    * the whole point.
    */
  def readSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      asOf: Option[Long] = None): DataFrame = {
    val versions = snapshotVersions(spark, path)
    require(versions.nonEmpty, s"no snapshots under $path")
    val pick = asOf match {
      case None => versions.last
      case Some(v) =>
        val ok = versions.filter(_ <= v)
        require(ok.nonEmpty, s"no snapshot at or before v=$v (have ${versions.mkString(",")})")
        ok.last
    }
    spark.read.parquet(s"$path/v=$pick")
  }

  /** Dynamic partition overwrite: replace ONLY the partitions present
    * in `updates`, leaving every other partition's files untouched —
    * the idempotent daily-reload pattern (re-run yesterday's load
    * without rewriting the year). Spark's static overwrite mode would
    * TRUNCATE the whole table first; the dynamic mode scopes the
    * delete to the incoming partition values, which is also the only
    * sane semantics at 100 TB (rewriting unrelated partitions is a
    * full-table write). The mode is passed as a PER-WRITE writer
    * option (DataFrameWriter options shadow the session conf for that
    * write only), so nothing global mutates — a concurrent overwrite
    * on the same session keeps whatever mode it asked for.
    */
  def overwritePartitionsDynamic(
      updates: DataFrame,
      path: String,
      partitionBy: Seq[String]): Unit = {
    require(partitionBy.nonEmpty, "overwritePartitionsDynamic: no partition columns")
    // same REBALANCE-before-partitionBy rationale as [[parquet]]: the
    // daily reload should not fragment the reloaded partition (with AQE
    // off, files per partition follow the writing task count)
    rebalanced(updates, partitionBy)
      .write.mode(SaveMode.Overwrite)
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy(partitionBy: _*).parquet(path)
  }
}
