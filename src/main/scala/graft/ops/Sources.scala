package graft.ops

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

import graft.SessionMemo

/** Extract-stage sources (reference: simple_etl.py:54-145, SURVEY.md §2.1).
  *
  * The reference reads with pandas then re-infers schema via
  * `spark.createDataFrame` with an all-string fallback
  * (simple_etl.py:70-74,165-169), and its app reruns that inference on
  * every interaction. We read directly with Spark's distributed
  * readers: an inferred CSV schema is computed once per file version
  * per session (see [[csv]] for the key and the racy window), and the
  * scan itself is parallel + column-pruned / predicate-pushed by
  * Catalyst — at 100 TB the read IS the query, so the scan must be the
  * pushdown target, never a driver-side library.
  */
object Sources {

  /** S1 — CSV scan with header + schema inference
    * (reference: simple_etl.py:69-70). Pass an explicit schema via
    * `schemaDdl` to skip the inference pass (one fewer full read — at
    * scale, inference on TB-sized CSV is a job of its own).
    *
    * Without `schemaDdl`, inference runs once per file version per
    * session. Spark's own inference costs two jobs (a `take(1)` for the
    * header, then a full pass over the data) plus their driver-side
    * planning, and an interactive E→T→L loop repeats it for bytes that
    * have not changed. The inferred schema is therefore memoized, keyed
    * on the session, the path, the `(path, length, modificationTime)`
    * of every leaf file the read covers, and all of the session's SQL
    * confs (time zone, `timestampType`, case sensitivity and the parser
    * policy all change what inference returns). A hit reads with the
    * memoized schema and starts no job; a miss infers exactly as an
    * unmemoized read does and returns that frame.
    *
    * Racy window: when any file's mtime is less than [[RacyWindowMs]]
    * before the listing, nothing is stored or looked up, and the read
    * infers as usual. A same-length rewrite within one mtime tick
    * would otherwise keep its identity and be served a stale schema
    * (git's rule for "racily clean" index entries); 2 s covers stores
    * with second-granularity mtimes. An unlistable or empty path also
    * infers as usual, so Spark reports its own error.
    */
  def csv(spark: SparkSession, path: String, schemaDdl: Option[String] = None): DataFrame = {
    val base = spark.read.option("header", "true")
    def infer(): DataFrame = base.option("inferSchema", "true").csv(path)
    schemaDdl match {
      case Some(ddl) => base.schema(ddl).csv(path)
      case None => csvVersion(spark, path) match {
        case None => infer()
        case Some(version) =>
          var inferred: DataFrame = null
          val schema = inferredCsvSchemas.get(spark, version) { inferred = infer(); inferred.schema }
          if (inferred != null) inferred else base.schema(schema).csv(path)
      }
    }
  }

  /** Age below which a file's mtime may not yet tell its versions
    * apart: a file this fresh is never memoized by [[csv]].
    */
  private[graft] val RacyWindowMs = 2000L

  // One entry is a StructType plus its key string (the conf part
  // dominates), so a few KB; the cap bounds sessions discarded while
  // their context lives, as for `Tables`' scan cache.
  private val inferredCsvSchemas = new SessionMemo[StructType](maxEntries = 64)(_ => ())

  /** The memo key of `path` in `spark`: its files' identities and the
    * session's confs, or `None` when the path cannot be listed, covers
    * no file, or covers a file inside the racy window.
    */
  private def csvVersion(spark: SparkSession, path: String): Option[String] = {
    val listedAt = System.currentTimeMillis()
    val files =
      try {
        val p = new Path(path)
        val fs = p.getFileSystem(spark.sessionState.newHadoopConf())
        Option(fs.globStatus(p)).getOrElse(Array.empty[FileStatus])
          .flatMap(st => if (st.isDirectory) leafFiles(fs, st.getPath) else Seq(st))
      } catch { case _: java.io.IOException => Array.empty[FileStatus] }
    if (files.isEmpty || files.exists(_.getModificationTime > listedAt - RacyWindowMs)) None
    else {
      val ids = files.map(f => s"${f.getPath}\t${f.getLen}\t${f.getModificationTime}").sorted
      val confs = spark.sessionState.conf.getAllConfs.toSeq.sorted.map { case (k, v) => s"$k=$v" }
      Some(((path +: ids) ++ ("" +: confs)).mkString("\n"))
    }
  }

  private def leafFiles(fs: FileSystem, dir: Path): Seq[FileStatus] = {
    val it = fs.listFiles(dir, true)
    val out = Seq.newBuilder[FileStatus]
    while (it.hasNext) out += it.next()
    out.result()
  }

  /** S1c — RFC 4180 multiline CSV scan: `multiLine` lets quoted fields
    * span physical newlines, `escape='"'` reads doubled quotes — the
    * dialect [[graft.ops.Sinks.csvRfc4180]] writes and standard tools
    * emit. Trade-off stated: multiline files are NOT splittable (one
    * task per file — record boundaries can't be found mid-file), so
    * at scale feed many files, not one giant one.
    */
  def csvMultiline(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("quote", "\"").option("escape", "\"")
      .schema(schemaDdl)
      .csv(path)

  /** S1b — CSV scan that SURFACES malformed rows instead of silently
    * degrading: PERMISSIVE mode routes any row that fails the schema
    * into a `_corrupt` column (nulls elsewhere), so a pipeline can
    * split clean/dirty and quarantine the dirty — the principled
    * version of the reference's coerce-everything-to-string fallback
    * (simple_etl.py:165-169). At 100 TB silently dropping or stringly
    * typing bad rows is how corrupt feeds go unnoticed for months.
    */
  def csvWithQuarantine(spark: SparkSession, path: String, schemaDdl: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .schema(schemaDdl + ", _corrupt STRING")
      .csv(path)

  /** S3 — Parquet scan (reference: simple_etl.py:73-74). */
  def parquet(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  /** Parquet scan with schema MERGING across files — the ingestion
    * schema-drift case: later batches add columns, rows from earlier
    * files surface nulls there. mergeSchema unions all file footers at
    * planning time; at very large file counts pin an explicit schema
    * (or use a table format) instead — the footer merge reads every
    * file's metadata.
    */
  def parquetMerged(spark: SparkSession, paths: String*): DataFrame =
    spark.read.option("mergeSchema", "true").parquet(paths: _*)

  /** JSON-lines scan — not in the reference UI but `props` JSON columns
    * in the fixtures motivate it (FIXTURES.md).
    */
  def json(spark: SparkSession, path: String): DataFrame =
    spark.read.json(path)

  /** ORC scan — not in the reference UI; included because a columnar
    * lakehouse source beyond parquet costs nothing (Spark's native ORC
    * reader: vectorized, predicate-pushdown, column-pruned — the same
    * scan properties the 100 TB contract demands of parquet). Avro is
    * deliberately absent: the spark-avro connector module does not ship
    * in this environment.
    */
  def orc(spark: SparkSession, path: String): DataFrame =
    spark.read.orc(path)

  /** XML scan — Spark 4 ships the (formerly spark-xml) reader natively.
    * `rowTag` names the repeated element that becomes one row; types are
    * re-inferred from the text like JSON (ints widen to long). An
    * interchange source for feed/export data, same distributed scan
    * contract as JSON-lines (one task per file split).
    */
  def xml(spark: SparkSession, path: String, rowTag: String): DataFrame =
    spark.read.option("rowTag", rowTag).format("xml").load(path)

  /** Plain-text scan: one row (`value: string`) per line across every
    * file under `path` — the raw-corpus entry point (log shards, one-
    * doc-per-line exports). Splittable and column-pruned like any
    * FileScan; pair with [[Sinks.textLines]] for the roundtrip.
    */
  def textLines(spark: SparkSession, path: String): DataFrame =
    spark.read.text(path)

  /** Fixed-width text scan — the mainframe/COBOL-feed ingestion format
    * every long-lived ETL estate still has: each line is a
    * concatenation of right-padded fields at fixed byte offsets, no
    * delimiter. `widths` gives each column's width in order;
    * `schemaDdl` names and types the columns (values are rtrim'd then
    * cast, empty → null — the inverse of [[Sinks.fixedWidth]]).
    * Splittable and parallel like any text scan; the substring slicing
    * is codegen'd per row, no UDF.
    */
  def fixedWidth(spark: SparkSession, path: String, schemaDdl: String,
      widths: Seq[Int]): DataFrame = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(schemaDdl)
    require(schema.length == widths.length,
      s"schema has ${schema.length} columns but ${widths.length} widths given")
    val offsets = widths.scanLeft(1)(_ + _)
    val cols = schema.fields.zipWithIndex.map { case (f, i) =>
      org.apache.spark.sql.functions
        .expr(s"nullif(rtrim(substring(value, ${offsets(i)}, ${widths(i)})), '')")
        .cast(f.dataType).as(f.name)
    }
    spark.read.text(path).select(cols.toSeq: _*)
  }

  /** Binary-file scan: one row per FILE — (path, modificationTime,
    * length, content) — the ingestion point for opaque payloads (images,
    * audio, model shards) that downstream multimodal ops treat as
    * `binary` columns. `pathGlobFilter` prunes by extension at listing
    * time, before any bytes are read; whole files are never split, so
    * `content` is always complete.
    */
  def binaryFiles(spark: SparkSession, path: String, glob: String = "*"): DataFrame =
    spark.read.format("binaryFile").option("pathGlobFilter", glob).load(path)

  /** S5 — JDBC table scan (reference: simple_etl.py:114-123, full-table
    * `pd.read_sql`). Distributed variant: when `partitionColumn` bounds
    * are given the read is split into `numPartitions` range-parallel
    * queries instead of one connection pulling the whole table through
    * the driver — mandatory at scale.
    *
    * Exercised end-to-end against embedded Derby (the Derby driver jar
    * ships in /opt/spark/jars): see the `s5_jdbc_roundtrip` query and
    * OpsSpec. Any other database needs only its driver jar + url.
    */
  def jdbc(
      spark: SparkSession,
      url: String,
      table: String,
      props: Map[String, String] = Map.empty,
      partitionColumn: Option[(String, Long, Long, Int)] = None): DataFrame = {
    val base = spark.read.format("jdbc")
      .option("url", url)
      .option("dbtable", table)
    val withProps = props.foldLeft(base) { case (r, (k, v)) => r.option(k, v) }
    val withParts = partitionColumn match {
      case Some((col, lo, hi, n)) =>
        withProps.option("partitionColumn", col)
          .option("lowerBound", lo).option("upperBound", hi)
          .option("numPartitions", n)
      case None => withProps
    }
    withParts.load()
  }

  /** S4 — JDBC catalog listing (reference: simple_etl.py:99-105 uses
    * SQLAlchemy inspect). JVM-native equivalent via DatabaseMetaData;
    * exercised against embedded Derby (s5_jdbc_roundtrip, OpsSpec).
    */
  def jdbcTableNames(url: String, user: String, password: String): Seq[String] = {
    val conn = java.sql.DriverManager.getConnection(url, user, password)
    try {
      val rs = conn.getMetaData.getTables(null, null, "%", Array("TABLE"))
      val buf = scala.collection.mutable.ArrayBuffer.empty[String]
      while (rs.next()) buf += rs.getString("TABLE_NAME")
      buf.toSeq
    } finally conn.close()
  }

  /** S2 — Excel scan (reference: simple_etl.py:71-72 via openpyxl).
    * Dependency-free .xlsx reader (zip-of-XML + StAX, both in the JDK);
    * see [[ExcelSource]] for the parsing + distribution model. Values
    * are strings (the reference's own fallback schema); cast downstream.
    */
  def excel(
      spark: SparkSession,
      path: String,
      header: Boolean = true,
      inferTypes: Boolean = true): DataFrame =
    ExcelSource.xlsx(spark, path, header, inferTypes)

  /** S6 — n-ary union of named tables (reference: simple_etl.py:134-145,
    * `pd.concat(ignore_index=True)`). pandas concat aligns BY NAME and
    * null-fills missing columns, so the faithful Spark mapping is
    * `unionByName(allowMissingColumns = true)`, not positional `union`
    * (SURVEY.md §2.1 S6). Union is a zero-shuffle operator in Spark —
    * partitions are simply concatenated.
    */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = {
    require(dfs.size >= 2, "unionAll needs >= 2 tables (simple_etl.py:137)")
    dfs.reduce(_.unionByName(_, allowMissingColumns = true))
  }
}
