package perfbench

import java.io.File
import java.security.MessageDigest

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{Scratch, SparkEntry}

/** The benchmark's one command.
  *
  * {{{
  * perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --home <perfbench dir>
  *                [--inject-failure throw|mismatch]
  * perfbench.Main --self-check --home <dir>     generator determinism
  * perfbench.Main --gen-expected --home <dir>   rewrites expected/query_mix.tsv
  * }}}
  *
  * A run generates the seeded inputs (untimed), sets up three times
  * (session start, warm-up, base load or artifact prewarm) and keeps the
  * last session, runs the workload's checked pass and its untimed warm
  * ops, then runs ops in a closed loop with one client for `--seconds`.
  * With `--trace 0` it prints the end-to-end metrics; with `--trace 1`
  * it runs half the time plain and half traced and prints the per-layer
  * metrics. The last line
  * of stdout is one JSON object; the exit code is 0 only if every op ran
  * and every output check passed.
  */
object Main {
  final case class Args(workload: String = "", seed: Long = 1L, seconds: Double = 10.0,
      trace: Boolean = false, home: File = new File("perfbench"), inject: Option[String] = None,
      mode: String = "run")

  /** Per-workload sizes and the stated tail percentile. */
  val FactRows = 20000
  val IncSizes = EtlIncremental.Sizes(accounts = 50000, days = 30, perDay = 1000, customers = 20000,
    upserts = 500, scd2 = 300)
  val Stratum = 17
  val TracedOps = 5
  /** Untimed ops after the checked pass: the JIT was still compiling
    * through the first several timed ops (10-15 query ops, or the first
    * 8-10 etl passes counting the one per set-up, ran 10-80% slower than
    * the rest of the run), and the number of them that fell into the loop
    * set the median.
    */
  val EtlWarmOps = 10
  def warmOps(w: Workload): Int = if (w.unit > 1) w.unit else EtlWarmOps
  def tailPercentile(workload: String): Double = if (workload == "query_mix") 80.0 else 60.0

  def parse(argv: List[String], a: Args = Args()): Args = argv match {
    case "--workload" :: v :: rest => parse(rest, a.copy(workload = v))
    case "--seed" :: v :: rest => parse(rest, a.copy(seed = v.toLong))
    case "--seconds" :: v :: rest => parse(rest, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: rest => parse(rest, a.copy(trace = v == "1"))
    case "--home" :: v :: rest => parse(rest, a.copy(home = new File(v).getAbsoluteFile))
    case "--inject-failure" :: v :: rest => parse(rest, a.copy(inject = Some(v)))
    case "--self-check" :: rest => parse(rest, a.copy(mode = "self-check"))
    case "--gen-expected" :: rest => parse(rest, a.copy(mode = "gen-expected"))
    case Nil => a
    case other => throw new IllegalArgumentException(s"unknown arguments: ${other.mkString(" ")}")
  }

  def work(a: Args): File = new File(a.home, ".work")
  def fixtures(a: Args): File = new File(work(a), "fixtures/query_mix-v2")
  def expectedFile(a: Args): File = new File(a.home, "expected/query_mix.tsv")

  def workload(a: Args, name: String, seed: Long, dir: File): Workload = name match {
    case "etl_batch" => new EtlBatch(seed, dir, FactRows)
    case "etl_incremental" => new EtlIncremental(seed, dir, IncSizes)
    case "query_mix" => new QueryMix(seed, dir, fixtures(a), expectedFile(a), Stratum)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }
  val Workloads = Seq("etl_batch", "etl_incremental", "query_mix")

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val code = a.mode match {
      case "run" => run(a)
      case "self-check" => selfCheck(a)
      case "gen-expected" => genExpected(a)
    }
    sys.exit(code)
  }

  // ---------------------------------------------------------------------
  final case class OpRec(i: Int, label: String, seconds: Double, ok: Boolean, out: Option[OpOutcome],
      startMs: Double, endMs: Double, counters: Option[(Tracer.Counters, Tracer.Counters)],
      storage: Option[Storage.Delta], scratchGrowth: Long)

  private def nowMs: Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs
  private def sinceJvmStart: Double =
    (System.currentTimeMillis() - java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Heap in use after a full GC. Broadcast blocks and the like are freed
    * by Spark's cleaner only after the GC that finds them unreachable, so
    * collect and give the cleaner a moment, a few times, and keep the
    * lowest reading: on a loaded host one round left the cleaner behind.
    */
  private def heapMb(): Double = {
    val bean = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 2).map { _ =>
      System.gc()
      Thread.sleep(250)
      System.gc()
      bean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
  }

  private def median(xs: Seq[Double]): Double = percentile(xs, 50)

  /** Linear interpolation between closest ranks; failed ops are +inf. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) Double.NaN
    else {
      val pos = p / 100.0 * (s.size - 1)
      val lo = s(pos.toInt)
      val hi = s(math.min(s.size - 1, pos.toInt + 1))
      if (lo.isInfinite || hi.isInfinite) hi else lo + (hi - lo) * (pos - pos.toInt)
    }
  }

  def run(a: Args): Int = {
    // graft's temp directories land in the JVM's own java.io.tmpdir, not
    // under Scratch.dir(): Files.createTempDirectory reads the property
    // once, before Scratch.dir() retargets it. Both count as scratch.
    val jvmTmp = new File(System.getProperty("java.io.tmpdir")).getAbsoluteFile
    val ownTmp = jvmTmp.getPath.startsWith(work(a).getPath + "/")
    def clearJvmTmp(): Unit = if (ownTmp) Option(jvmTmp.listFiles()).getOrElse(Array.empty).foreach(Storage.deleteRecursively)
    clearJvmTmp()
    val dir = new File(work(a), a.workload)
    val w = workload(a, a.workload, a.seed, dir)
    w.generate()
    val off = new Tracer
    val setups = (1 to 3).map { k =>
      val t0 = System.nanoTime()
      val spark = Session.build(dir, w.inputBytes)
      val t1 = System.nanoTime()
      w.warmup(spark, off)
      val t2 = System.nanoTime()
      w.load(spark, off)
      val t3 = System.nanoTime()
      if (k < 3) { spark.stop(); w.reset() }
      System.err.println(f"[perfbench] setup $k: session ${(t1 - t0) / 1e9}%.3fs, warm-up ${(t2 - t1) / 1e9}%.3fs, load ${(t3 - t2) / 1e9}%.3fs")
      (spark, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9)
    }
    val spark = setups.last._1
    val heap = mutable.ArrayBuffer(heapMb())
    val scratch = Seq(new File(Scratch.dir()), jvmTmp)

    var attempted = 0
    var failed = 0
    val checkT0 = System.nanoTime()
    val checks = w.checkPass(spark, off)
    if (checks.nonEmpty) System.err.println(f"[perfbench] checked ${checks.size} ops in ${(System.nanoTime() - checkT0) / 1e9}%.1fs")
    checks.foreach { case (label, failure) =>
      attempted += 1
      failure.foreach { f => failed += 1; System.err.println(s"[perfbench] check $label FAILED: $f") }
    }
    heap += heapMb()

    val warmN = warmOps(w)
    val injectAt = warmN + 2
    def loop(from: Int, until: Double, minOps: Int, t: Tracer): Seq[OpRec] = {
      val recs = mutable.ArrayBuffer.empty[OpRec]
      var i = from
      while (System.nanoTime() / 1e9 < until || recs.size < minOps) {
        i += 1
        w.prepare(i)
        val traced = t.enabled
        t.op = i
        def walk() = if (traced) Storage.walk(w.outputRoots ++ scratch, Set("spark-local")) else Map.empty[String, Storage.FileRec]
        def scratchBytes(m: Map[String, Storage.FileRec]) =
          Storage.bytes(m.filter(f => scratch.exists(d => f._1.startsWith(d.getPath + "/"))))
        val before = walk()
        val c0 = if (traced) Some(t.counters()) else None
        val s0 = nowMs
        val t0 = System.nanoTime()
        val result =
          try {
            if (a.inject.contains("throw") && i == injectAt) throw new RuntimeException("injected failure")
            Right(t.span("op")(w.run(i, spark, t)))
          } catch { case e: Throwable => Left(e) }
        val dt = (System.nanoTime() - t0) / 1e9
        val s1 = nowMs
        val c1 = if (traced) Some(t.counters()) else None
        val after = walk()
        val scratchGrowth = scratchBytes(after) - scratchBytes(before)
        val checked = result.flatMap { out =>
          try {
            if (a.inject.contains("mismatch") && i == injectAt)
              throw new Workload.Mismatch("injected output mismatch")
            w.check(i, spark, out)
            Right(out)
          } catch { case e: Throwable => Left(e) }
        }
        System.err.println(f"[perfbench] op $i ${w.label(i)} ${dt}%.3fs")
        checked.left.foreach { e =>
          System.err.println(s"[perfbench] op $i ${w.label(i)} FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
        }
        val storage = if (traced) Some(Storage.delta(before, after, w.existingTables(i))) else None
        recs += OpRec(i, w.label(i), if (checked.isRight) dt else Double.PositiveInfinity, checked.isRight,
          checked.toOption, s0, s1, c0.zip(c1), storage, scratchGrowth)
      }
      recs.toSeq
    }

    // warm ops run and are checked like timed ones; only their times are dropped
    val warmT0 = System.nanoTime() / 1e9
    val warm = loop(0, 0.0, warmN, off)
    attempted += warm.size
    failed += warm.count(!_.ok)
    val start = System.nanoTime() / 1e9
    System.err.println(s"[perfbench] timed loop starts ${sinceJvmStart}s after JVM start")
    val (plain, traced, tracer) =
      if (!a.trace) {
        // a workload with multi-op units (the query sample) runs as many
        // whole passes as the warm pass says fit in `--seconds`, at least
        // three so the tail has ten samples beyond it; every run times
        // each query equally often
        val timed =
          if (w.unit == 1) loop(warmN, start + a.seconds, 1, off)
          else {
            val passes = math.max(3, (a.seconds / (start - warmT0)).toInt)
            (0 until passes).flatMap(p => loop(warmN + p * w.unit, 0.0, w.unit, off))
          }
        (timed, Seq.empty[OpRec], off)
      }
      else {
        // Plain and traced blocks alternate in ABBA order (a block is one
        // op, or one pass over the query sample), so a drift in op times
        // weighs on both alike; listeners are registered only around
        // traced blocks.
        // Traced blocks start on unit boundaries, so the first traced
        // unit is the same set of ops on every run with this seed.
        val t = new Tracer
        val p, tr = mutable.ArrayBuffer.empty[OpRec]
        val needed = if (w.unit > 1) w.unit else TracedOps
        var b = 0
        while (System.nanoTime() / 1e9 < start + a.seconds || tr.size < needed || p.isEmpty) {
          val traced = b % 4 == 1 || b % 4 == 2 // plain, traced, traced, plain, ...
          if (traced) { t.register(spark); t.enabled = true }
          val recs = loop(warmN + b * w.unit, 0.0, w.unit, if (traced) t else off)
          if (traced) { t.enabled = false; t.drain(spark); t.unregister(spark) }
          (if (traced) tr else p) ++= recs
          b += 1
        }
        (p.toSeq, tr.toSeq, t)
      }

    val ops = plain ++ traced
    attempted += ops.size
    failed += ops.count(!_.ok)
    val setupMedian = median(setups.map(s => s._2 + s._3 + s._4))

    val metrics: Seq[(String, Double, String)] =
      if (!a.trace) {
        val times = ops.map(_.seconds)
        val rows = ops.flatMap(_.out).map(_.rows).sum
        val busy = ops.map(o => (o.endMs - o.startMs) / 1e3).sum
        Seq(
          ("setup_s", setupMedian, "s"),
          ("op_p50_s", percentile(times, 50), "s"),
          ("op_tail_s", percentile(times, tailPercentile(a.workload)), "s"),
          ("throughput_rows_per_s", rows / busy, "rows/s"),
          ("ops_ok_ratio", (attempted - failed).toDouble / attempted, "ratio"),
          ("heap_peak_mb", heap.max, "MB"))
      } else layerMetrics(w, traced, tracer, plain, setups.map(s => (s._2, s._3, s._4)), scratch)

    if (a.trace) Tracer.writeSpans(tracer.all, new File(work(a), s"trace/${a.workload}-seed${a.seed}.jsonl"))
    spark.stop()
    Storage.deleteRecursively(scratch.head)
    clearJvmTmp()

    val correct = failed == 0
    def num(v: Double) = if (v.isNaN || v.isInfinite) "null" else v.toString
    val body = metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }.mkString(", ")
    System.err.println(s"[perfbench] ${a.workload} seed=${a.seed}: ${ops.size} timed ops, " +
      s"${ops.map(_.label).distinct.size} distinct, tail p${tailPercentile(a.workload)}, ${sinceJvmStart}s since JVM start")
    println(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {$body}}""")
    if (correct) 0 else 1
  }

  /** Per-layer numbers over the first unit of traced ops (the first
    * `TracedOps` ops, or the first full pass over the query sample), so
    * counts cover the same work on every run with the seed.
    */
  def layerMetrics(w: Workload, traced: Seq[OpRec], t: Tracer, plain: Seq[OpRec],
      setups: Seq[(Double, Double, Double)], scratch: Seq[File]): Seq[(String, Double, String)] = {
    val set = traced.take(if (w.unit > 1) w.unit else TracedOps)
    val n = set.size.toDouble
    def within(ms: Long, o: OpRec) = ms >= o.startMs - 1 && ms <= o.endMs + 1
    def perOp(f: OpRec => Double) = set.map(f).sum / n
    def spanS(name: String)(o: OpRec) = t.spansOf(o.i).filter(_.name == name).map(_.seconds).sum
    val tasks = t.tasks.toArray(Array.empty[Tracer.TaskRec]).toSeq
    val plans = t.plans.toArray(Array.empty[Tracer.PlanRec]).toSeq
    val batches = t.batches.toArray(Array.empty[Tracer.BatchRec]).toSeq
    val jobs = t.jobs.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue)
    val stages = t.stages.toArray(Array.empty[java.lang.Long]).toSeq.map(_.longValue)
    def tasksOf(o: OpRec) = tasks.filter(x => within(x.finish, o))
    def plansOf(o: OpRec) = plans.filter(x => within(x.startMs, o))
    def gap(o: OpRec): Double = {
      val iv = tasksOf(o).map(x => (math.max(x.launch.toDouble, o.startMs), math.min(x.finish.toDouble, o.endMs)))
        .filter(x => x._2 > x._1).sortBy(_._1)
      var covered = 0.0
      var end = Double.MinValue
      iv.foreach { case (s, e) =>
        if (s > end) { covered += e - s; end = e }
        else if (e > end) { covered += e - end; end = e }
      }
      (o.endMs - o.startMs - covered) / 1e3
    }
    def sourcesJobs(o: OpRec) = {
      val windows = t.spansOf(o.i).filter(_.name == "sources")
      jobs.count(j => windows.exists(s => j >= s.startMs - 1 && j <= s.endMs + 1)).toDouble
    }
    def sinkRecords(o: OpRec) = {
      val windows = t.spansOf(o.i).filter(_.name == "sinks")
      tasks.filter(x => windows.exists(s => x.finish >= s.startMs - 1 && x.finish <= s.endMs + 1)).map(_.outRecords).sum
    }
    def counter(f: Tracer.Counters => Long)(o: OpRec) = o.counters.map { case (a, b) => (f(b) - f(a)).toDouble }.getOrElse(0.0)
    val storage = set.flatMap(_.storage)
    val userBytes = set.flatMap(_.out).map(_.userBytes).sum
    val useful = set.flatMap(_.out).map(_.usefulRows).sum
    val rewritten = set.map(sinkRecords).sum
    val setBatches = batches.filter(b => set.exists(o => within(b.timeMs, o)))
    val overhead = {
      def byLabel(rs: Seq[OpRec]) = rs.filter(_.ok).groupBy(_.label).view.mapValues(r => median(r.map(_.seconds))).toMap
      val (p, q) = (byLabel(plain), byLabel(traced))
      median(q.keys.filter(p.contains).toSeq.map(k => q(k) / p(k)))
    }
    Seq(
      ("sources.call_s", perOp(spanS("sources")), "s"),
      ("sources.jobs", perOp(sourcesJobs), "count"),
      ("transform.build_s", perOp(spanS("transform")), "s"),
      ("sinks.call_s", perOp(spanS("sinks")), "s"),
      ("sinks.bytes_written", storage.map(_.bytes).sum / n, "bytes"),
      ("sinks.files_written", storage.map(_.dataFiles).sum / n, "count"),
      ("sinks.rewrite_bytes", storage.map(_.rewriteBytes).sum / n, "bytes"),
      ("sinks.useful_ratio", if (rewritten > 0) useful.toDouble / rewritten else 0.0, "ratio"),
      ("entry.build_s", perOp(spanS("entry")), "s"),
      ("exec.noop_s", perOp(spanS("noop")), "s"),
      ("catalyst.analysis_s", perOp(o => plansOf(o).map(_.analysisMs).sum / 1e3), "s"),
      ("catalyst.optimization_s", perOp(o => plansOf(o).map(_.optimizationMs).sum / 1e3), "s"),
      ("catalyst.planning_s", perOp(o => plansOf(o).map(_.planningMs).sum / 1e3), "s"),
      ("ext.rules_s", perOp(counter(_.rulesNs)) / 1e9, "s"),
      ("codegen.compile_s", perOp(counter(_.compileNs)) / 1e9, "s"),
      ("codegen.compiles", perOp(counter(_.compiles)), "count"),
      ("exec.jobs", perOp(o => jobs.count(j => within(j, o)).toDouble), "count"),
      ("exec.stages", perOp(o => stages.count(s => within(s, o)).toDouble), "count"),
      ("exec.tasks", perOp(o => tasksOf(o).size.toDouble), "count"),
      ("exec.driver_gap_s", perOp(gap), "s"),
      ("exec.task_cpu_s", perOp(o => tasksOf(o).map(_.cpuNs).sum / 1e9), "s"),
      ("exec.gc_s", perOp(o => tasksOf(o).map(_.gcMs).sum / 1e3), "s"),
      ("exec.input_bytes", perOp(o => tasksOf(o).map(_.inBytes).sum.toDouble), "bytes"),
      ("exec.shuffle_read_bytes", perOp(o => tasksOf(o).map(_.shReadBytes).sum.toDouble), "bytes"),
      ("exec.shuffle_write_bytes", perOp(o => tasksOf(o).map(_.shWriteBytes).sum.toDouble), "bytes"),
      ("exec.spill_bytes", perOp(o => tasksOf(o).map(_.spillBytes).sum.toDouble), "bytes"),
      ("stream.batches", setBatches.size / n, "count"),
      ("stream.batch_ms", if (setBatches.isEmpty) 0.0 else setBatches.map(_.durationMs).sum.toDouble / setBatches.size, "ms"),
      ("setup.session_s", median(setups.map(_._1)), "s"),
      ("setup.warmup_s", median(setups.map(_._2)), "s"),
      ("setup.prewarm_s", median(setups.map(_._3)), "s"),
      ("scratch.bytes", Storage.bytes(Storage.walk(scratch, Set("spark-local"))).toDouble, "bytes"),
      ("storage.write_amp", if (userBytes > 0) storage.map(_.bytes).sum.toDouble / userBytes else 0.0, "ratio"),
      ("storage.files_per_partition",
        if (storage.map(_.partitions).sum > 0) storage.map(_.dataFiles).sum.toDouble / storage.map(_.partitions).sum else 0.0,
        "count"),
      ("storage.scratch_leak_mb", set.map(_.scratchGrowth).sum / 1048576.0, "MB"),
      ("trace.overhead_ratio", overhead, "ratio"))
  }

  // ---------------------------------------------------------------------
  /** Same seed twice gives byte-identical inputs; another seed does not. */
  def selfCheck(a: Args): Int = {
    def hash(files: Seq[File]): String = {
      val md = MessageDigest.getInstance("SHA-256")
      def add(f: File): Unit =
        if (f.isDirectory) Option(f.listFiles()).getOrElse(Array.empty).sortBy(_.getName).foreach(add)
        else if (f.isFile) {
          // Spark names part files with a random id; only the bytes count
          md.update(java.nio.file.Files.readAllBytes(f.toPath))
        }
      files.foreach(add)
      md.digest().map("%02x".format(_)).mkString
    }
    val root = new File(work(a), "selfcheck")
    var ok = true
    Workloads.foreach { name =>
      def gen(tag: String, seed: Long) = {
        val d = new File(root, s"$name-$tag")
        Storage.deleteRecursively(d)
        if (name == "query_mix") Storage.deleteRecursively(fixtures(a))
        val w = workload(a, name, seed, d)
        w.generate()
        (hash(w.inputFiles), w.describe)
      }
      val (h1, sizes) = gen("a", 7)
      val (h2, _) = gen("b", 7)
      val (h3, _) = gen("c", 8)
      val same = h1 == h2
      val differs = h1 != h3
      ok &&= same && differs
      println(s"$name: same seed identical=$same, other seed differs=$differs; " +
        sizes.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" "))
    }
    Storage.deleteRecursively(root)
    if (ok) 0 else 1
  }

  // ---------------------------------------------------------------------
  /** Records each registry query's reference cost (median of 3 noop runs
    * after one warm run), row count, schema and digest on the fixtures.
    * The queries graft documents as approximate or engine-local, and any
    * whose digest differs between two runs, get rows and schema only.
    */
  def genExpected(a: Args): Int = {
    val dir = fixtures(a)
    val spark: SparkSession = Session.build(new File(work(a), "gen-expected"), 0L)
    if (!new File(dir, "_COMPLETE").exists()) {
      Fixtures.write(spark, dir)
      new File(dir, "_COMPLETE").createNewFile()
    }
    spark.stop()
    val s = Session.build(new File(work(a), "gen-expected"), Workload.sizeOf(dir))
    SparkEntry.prewarmArtifacts(s, dir.getPath)
    val lines = mutable.ArrayBuffer.empty[String]
    val notes = mutable.ArrayBuffer.empty[String]
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      try {
        def noop(): Double = {
          val t0 = System.nanoTime()
          fn(s, dir.getPath).write.mode("overwrite").format("noop").save()
          (System.nanoTime() - t0) / 1e9
        }
        noop()
        val cost = median((1 to 3).map(_ => noop()))
        val df = fn(s, dir.getPath)
        val d1 = Digest.of(df)
        val d2 = Digest.of(fn(s, dir.getPath))
        val digest =
          if (QueryMix.ApproximateByDesign.contains(name)) { notes += s"# rows-only $name: approximate or engine-local"; QueryMix.RowsOnly }
          else if (d1 != d2) { notes += s"# rows-only $name: digest differs between two runs"; QueryMix.RowsOnly }
          else d1.digest
        if (d1.rows != d2.rows) notes += s"# excluded $name: row count differs between two runs"
        else lines += f"$name\t$cost%.4f\t${d1.rows}\t$digest\t${df.schema.simpleString}"
        System.err.println(f"[perfbench] expected $name $cost%.3fs ${d1.rows} rows")
      } catch { case e: Throwable =>
        System.err.println(s"[perfbench] expected $name threw $e")
        notes += s"# excluded $name: threw ${e.getClass.getSimpleName}: ${e.getMessage.take(120).replace('\n', ' ')}"
      }
      s.catalog.clearCache()
      s.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
    }
    s.stop()
    val f = expectedFile(a)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try {
      w.println(s"# query_mix expectations: name, reference cost s (${Session.cpus} cores), rows, digest, schema")
      notes.foreach(w.println)
      lines.foreach(w.println)
    } finally w.close()
    println(s"wrote ${lines.size} queries, ${notes.size} notes to $f")
    0
  }
}
