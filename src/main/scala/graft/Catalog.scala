package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** Named-table catalog — the Spark-native analogue of the reference's
  * `st.session_state.data_store` dict of pandas frames
  * (reference: simple_etl.py:21-25,32-45).
  *
  * Key design departure (SURVEY.md §1): the reference materializes every
  * table eagerly (pandas at rest); we bind names to **lazy** `DataFrame`
  * plans so Catalyst fuses whole pipelines (pushdown, pruning, codegen
  * across all composed operators). `checkpoint(name)` is the lazy
  * analogue of the reference's materialize-to-store step — only worth it
  * when a table is consumed more than once (e.g. both sides of a
  * self-join).
  */
final class Catalog(val spark: SparkSession) {
  private val store = mutable.LinkedHashMap.empty[String, DataFrame]

  /** Bind `name` to a (lazy) plan; also registers a temp view so the
    * table is reachable from `spark.sql`. Copy-on-write semantics, same
    * as the reference (a join writes a NEW table, simple_etl.py:344-348).
    */
  def register(name: String, df: DataFrame): DataFrame = {
    store(name) = df
    df.createOrReplaceTempView(name)
    df
  }

  def apply(name: String): DataFrame =
    store.getOrElse(name, sys.error(s"catalog: no table named '$name'"))

  def get(name: String): Option[DataFrame] = store.get(name)
  def names: Seq[String] = store.keys.toSeq
  def contains(name: String): Boolean = store.contains(name)

  def drop(name: String): Unit = {
    store.remove(name)
    spark.catalog.dropTempView(name)
  }

  /** Cache a hot table (referenced >= 2x downstream). */
  def checkpoint(name: String): DataFrame = {
    val df = apply(name).cache()
    store(name) = df
    df
  }

  /** Load all standard fixture tables from a scale-factor directory. */
  def loadFixtures(dir: String): Unit =
    Tables.all.foreach(t => register(t, Tables.read(spark, dir, t)))
}

/** Scratch-space selection for graft-owned sessions (Bench/Verify/tests):
  * prefer a RAM-backed tmpfs for everything ephemeral — shuffle/spill
  * files (`spark.local.dir`), streaming checkpoints, and the temp dirs
  * the sink-roundtrip queries write through ([[Scratch.tempDir]]). On this
  * harness `/tmp` is ext4: leaving scratch there charges every shuffle
  * write and every micro-batch commit a real-disk fsync that a
  * single-process in-memory engine (the DuckDB oracle) never pays. On a
  * real cluster the analogue is pointing `spark.local.dir` at fast
  * local NVMe — standard deployment practice, not a semantics change.
  */
object Scratch {
  /** The scratch base: a per-PID directory under /dev/shm, or the JVM's
    * tmpdir when /dev/shm is unavailable. Resolved once per JVM, so the
    * sibling sweep below runs once, not on every temp allocation.
    */
  private lazy val base: String = {
    val shm = new java.io.File("/dev/shm")
    if (shm.isDirectory && shm.canWrite) {
      val root = new java.io.File(shm, "graft-scratch")
      root.mkdirs()
      // Per-PID subdir, so concurrent graft JVMs (a test run next to a
      // Verify run) can never clobber each other's shuffle files. tmpfs
      // survives JVM exit and the sink-roundtrip queries create temp
      // dirs every run, so reclaim siblings whose owning process is
      // gone instead of wiping the whole root (which live-deleted a
      // concurrent run's scratch when two sbt sessions overlapped).
      val pid = ProcessHandle.current().pid()
      val mine = new java.io.File(root, pid.toString)
      val siblings = root.listFiles()
      if (siblings != null) siblings.foreach { f =>
        val stale = f.getName.toLongOption match {
          case Some(p) => !ProcessHandle.of(p).isPresent
          case None    => true // pre-per-pid layout leftovers
        }
        if (stale) deleteRecursively(f)
      }
      mine.getAbsolutePath
    } else System.getProperty("java.io.tmpdir")
  }

  /** The scratch base, created if missing. Also points `java.io.tmpdir`
    * at it, for Spark and library code that allocates through the
    * property. That retargeting does not reach `Files.createTempDirectory`
    * once anything in the JVM has created a temp file: the JDK caches
    * the property on first use (`TempFileHelper`). graft's own temp
    * directories therefore go through [[tempDir]], never through the
    * property.
    */
  def dir(): String = {
    new java.io.File(base).mkdirs()
    System.setProperty("java.io.tmpdir", base)
    base
  }

  /** A fresh directory under the scratch base, named `prefix` plus a
    * random suffix.
    */
  def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(java.nio.file.Paths.get(dir()), prefix).toString

  private def deleteRecursively(f: java.io.File): Unit = {
    val children = f.listFiles()
    if (children != null) children.foreach(deleteRecursively)
    f.delete(): Unit
  }

  /** graft's shared session conf set: static and session confs every
    * graft-owned session applies at build time (Bench, Verify, the
    * tests, the probes, the benchmark). Static confs belong here and
    * nowhere else, because Spark reads them once per JVM.
    *
    * Local filesystem without client-side checksums: Hadoop's default
    * `file://` implementations (`LocalFileSystem` /
    * `LocalFs`) are CHECKSUMMED: every file written — parquet footers,
    * sink-roundtrip outputs, and each micro-batch's offset/commit/state
    * delta files — gets a `.crc` sidecar, and every read re-verifies it.
    * On the tmpfs scratch this doubles small-file metadata ops and adds
    * a full extra read+hash pass per file, guarding against disk bit-rot
    * that RAM-backed scratch cannot exhibit. The raw (non-checksummed)
    * impls drop that overhead with no semantic change (measured,
    * back-to-back family runs under comparable ambient load, medians:
    * `k6_compact` 4.25→0.52s, `k10_zorder` 1.25→0.58, `k18_avro`
    * 1.28→0.58, `k13_checksum` 0.58→0.31, streaming family −10-20%).
    * Cluster analogue: HDFS/S3 carry their own server-side integrity;
    * client-side local-FS CRC is scratch-dir overhead there too.
    *
    * The raw impls are graft's [[NioLocalFileSystem]] and [[NioLocalFs]],
    * not Hadoop's `RawLocalFileSystem` and `RawLocalFs`. Spark ships no
    * `libhadoop`, so Hadoop sets permissions by forking `chmod`: one
    * child process per file it creates and per directory it makes.
    * FileContext renames (streaming checkpoints) also fork `readlink`
    * for each path. JFR counted 37 `chmod` forks per `etl_batch` pass
    * of the benchmark and about 1 000 `chmod` and `readlink` forks per
    * `query_mix` run. Creating a file cost 4.4 ms with the fork and
    * 0.07 ms through java.nio (idle JVM, 4-core VM). The graft impls set
    * plain modes through java.nio and skip `readlink` for paths that
    * are not symlinks; mode bits and statuses stay Hadoop's.
    *
    * The state-store maintenance interval is raised past the bench's
    * lifetime: maintenance snapshots compact delta files so a RESTARTED
    * query replays fewer deltas, but every bench/verify checkpoint is
    * ephemeral (fresh dir per rep, never restarted), so the background
    * snapshot work — which pauses ALL loaded providers' stores while
    * they serialize — is pure interference with timed reps. Long-lived
    * production queries should keep the 60s default.
    *
    * Spark's generated-class cache holds 4000 entries, not its default
    * 100. Spark caches each compiled whole-stage or projection class by
    * its source text and the compiling thread's class loader, so a
    * class compiled both on the driver and in a task takes two entries.
    * The cache is LRU and sized once per JVM, when `CodeGenerator`
    * initializes; this static conf therefore only takes effect from the
    * first session's build confs, not from `spark.conf.set` or an
    * extension. With 100 entries, queries that run interleaved evict
    * each other's classes before they come round again, and every run
    * pays its Janino compiles anew. The cap is derived from the measured
    * working set (sf0.001, AQE off, 4 cores): one pass over the 16 batch
    * queries of the benchmark's sample fills ~375 entries, and one pass
    * over the whole registry fills ~3030 for the 298 batch queries plus
    * ~320 for the 7 `st_*` ones; 4000 holds a whole pass with ~20%
    * headroom.
    * An entry costs ~30 KB of heap (the heap freed by dropping 2000 and
    * 3377 entries gave 29.8 and 29.2 KB each), so a full cache is
    * ~120 MB. `st_*` queries still recompile on every run: each stream
    * runs under a class loader of its own, which is part of the key.
    *
    * `spark.plugins` names [[NoConfProvenance]], so the context's Hadoop
    * conf records no per-property provenance. Spark ships that conf in
    * every CSV and parquet scan broadcast and in every file-write task,
    * where each task deserializes it again. Hadoop's `Configuration.write`
    * gzips each property's source (`core-default.xml` and the like)
    * through a fresh `GZIPOutputStream` per string. With the ~1 100
    * properties of a graft session, one serialization cost 7.4 ms and
    * one deserialization 7.1 ms; without provenance 0.6 ms and 1.1 ms
    * (113 539 → 69 655 bytes; closure serializer, idle JVM). Only
    * `write`, `getPropertySources` and the XML/JSON dumps read the
    * provenance, and nothing in Spark calls `getPropertySources`. Hadoop
    * has no public API to drop it, so the plugin swaps a private field
    * by reflection; if the field is gone, it logs a WARN and leaves the
    * conf as it is, and `ConfProvenanceSpec` fails. The plugin sits
    * here, not in a session profile, so that every graft-owned session
    * (the benchmark's included) carries it.
    */
  val localFsConfs: Map[String, String] = Map(
    "spark.sql.codegen.cache.maxEntries" -> "4000",
    "spark.plugins" -> classOf[NoConfProvenance].getName,
    "spark.hadoop.fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "spark.hadoop.fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName,
    "spark.sql.streaming.stateStore.maintenanceInterval" -> "600s")
}

/** Fixture-table reader helpers (TESTDATA.md / FIXTURES.md §2). */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  // Catalog-metadata cache: the analyzed scan relation per
  // (session, path). `spark.read.parquet` re-lists the directory and
  // re-reads footers for schema inference on EVERY call — work a real
  // deployment does once at table registration (a metastore table's
  // schema and InMemoryFileIndex are session-cached by Spark itself;
  // DuckDB's CREATE VIEW equally binds schema once). The relation is an
  // immutable logical plan, safe to share across queries. A
  // [[SessionMemo]] keyed by (session identity, path) — so multiple
  // scale factors coexist — evicted when the session's context ends
  // (weak-key semantics alone can't reclaim an entry, because each
  // cached DataFrame strongly references its SparkSession and so pins
  // its own key) AND LRU-capped so sessions discarded while their
  // context lives (`newSession` per test) can't grow the map
  // unboundedly; an evicted entry just re-reads footers on next use.
  // Fixture paths are immutable-by-contract (TESTDATA.md);
  // mutable-table paths (sink round-trips) never go through
  // Tables.read.
  private val scanCache = new SessionMemo[DataFrame](maxEntries = 256)(_ => ())

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS), which Spark refuses
    // without this (runtime-settable) legacy conf. Graft-owned sessions
    // set it at build time; set it here too so queries work on
    // externally-owned sessions (e.g. the round driver's).
    if (name == "events")
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val path = s"$dir/$name.parquet"
    scanCache.get(spark, path)(spark.read.parquet(path))
  }

  /** Widen a NARROW input for per-row compute-bound kernels (regex
    * redaction, shingling, signature kernels): a scan whose split count
    * is below the executor-core count serializes CPU-bound work — the
    * fixture parquet is a single row group, so without this every text
    * kernel runs on ONE core while 31 idle. At cluster scale the scan
    * already yields >= cores splits and this is a NO-OP (no shuffle
    * inserted); the repartition only fires for narrow inputs, where the
    * one-time shuffle of the (small, by construction) data is repaid
    * ~cores-fold by the kernel.
    *
    * Plan-time decision, like AQE's coalescing but in the opposite
    * direction. Only SCAN-STAGE plans — leaf / project / filter chains
    * — are eligible; anything else (joins, aggregates, prior
    * repartitions) is returned untouched, twice over: (a) downstream of
    * a shuffle the width is the session's shuffle-partition count —
    * already wide; (b) probing a shuffle-bearing plan with `.rdd` makes
    * AQE materialize its stages AT PLAN TIME, i.e. run the upstream
    * pipeline once for the probe and again for the real execution
    * (measured: +0.5s on the MinHash verify path, whose input is a
    * semi-join). The structural check is on the OPTIMIZED LOGICAL plan
    * — physical `sparkPlan` can't be used for this: exchanges are only
    * inserted by the executedPlan preparation rules, so a join's
    * sparkPlan contains no Exchange node to find. Scan-only plans skip
    * AQE entirely, so their `.rdd.getNumPartitions` builds the RDD
    * lazily and runs no job.
    */
  def spread(df: DataFrame): DataFrame = spreadImpl(df, Nil)

  /** [[spread]], but hash-partitioned on `keys` instead of round-robin:
    * when the consumer's next wide operator clusters on (a superset of)
    * `keys`, the widening exchange doubles as that operator's required
    * distribution — HashPartitioning on a subset of the grouping/join
    * keys satisfies ClusteredDistribution — so downstream aggregates
    * and self-joins on `keys` plan with ZERO further exchanges. Same
    * narrow-scan-only guard as [[spread]].
    */
  def spreadBy(df: DataFrame, keys: org.apache.spark.sql.Column*): DataFrame =
    spreadImpl(df, keys)

  private def spreadImpl(
      df: DataFrame, keys: Seq[org.apache.spark.sql.Column]): DataFrame = {
    import org.apache.spark.sql.catalyst.plans.logical.{Filter, LeafNode, Project}
    val scanOnly = !df.queryExecution.optimizedPlan.exists {
      case _: Project | _: Filter => false
      case _: LeafNode => false
      case _ => true
    }
    if (!scanOnly) df
    else {
      val target = df.sparkSession.sparkContext.defaultParallelism
      if (df.rdd.getNumPartitions >= target) df
      else if (keys.isEmpty) df.repartition(target)
      else df.repartition(target, keys: _*)
    }
  }
}
