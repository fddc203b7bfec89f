package graft.tools

/** Dev probe: interleaved A/B of session-conf sets over any subset of
  * the suite, inside ONE JVM. The host's ambient load arrives in waves
  * that dwarf most per-query deltas (r11 legs: same code drew 119-162s
  * totals), so back-to-back full runs cannot attribute a delta to a
  * change; alternating A,B,A,B,... reps inside one process exposes both
  * sides to the same weather and the per-query median delta is the
  * change's real effect.
  *
  * Usage: runMain graft.tools.InterleavedAB <sfDir> <bConfs> [query,...]
  *   bConfs:  "k=v;k=v" applied for the B reps (A = session defaults,
  *            restored between reps). Confs must be runtime-settable.
  *   queries: comma-separated allowlist; default = whole suite.
  * Env: GRAFT_AB_REPS (default 3 pairs). The session is
  * [[graft.GraftSession.bench]], so SPARK_GRAFT_CPUS, SPARK_GRAFT_SHUFFLE,
  * SPARK_GRAFT_AQE and SPARK_GRAFT_EXTRA_CONF (base confs for both
  * sides) act as they do for Bench.
  * A query with any failed timed run reports -1 on that side, stays out
  * of the TOTAL, and makes the run exit 1 after the table.
  */
object InterleavedAB {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val bConfs = args.lift(1).getOrElse("")
      .split(";").filter(_.contains("=")).map { kv =>
        val i = kv.indexOf('='); (kv.take(i).trim, kv.drop(i + 1).trim)
      }.toSeq
    require(bConfs.nonEmpty, "need B-side confs: \"k=v;k=v\"")
    val names = args.lift(2) match {
      case Some(list) => list.split(",").toSeq
      case None => graft.SparkEntry.queries.keys.toSeq.sorted
    }
    val pairs = sys.env.getOrElse("GRAFT_AB_REPS", "3").toInt
    // Bench's own session (master, volume-derived partitions and AQE,
    // SPARK_GRAFT_EXTRA_CONF as confs for BOTH sides), so A/B deltas
    // transfer to what Bench times
    val spark = graft.GraftSession.bench(dir)
    spark.sparkContext.setLogLevel("ERROR")
    val aConfs = bConfs.map { case (k, _) =>
      (k, scala.util.Try(spark.conf.get(k)).toOption)
    }
    def setB(): Unit = bConfs.foreach { case (k, v) => spark.conf.set(k, v) }
    def setA(): Unit = aConfs.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
    def runOnce(n: String): Double = {
      val t0 = System.nanoTime()
      try {
        graft.SparkEntry.queries(n)(spark, dir)
          .write.mode("overwrite").format("noop").save()
        (System.nanoTime() - t0) / 1e9
      } catch { case e: Throwable =>
        System.err.println(s"[ab] $n failed: ${e.getMessage}"); -1.0
      }
    }
    def hygiene(): Unit = { graft.GraftSession.release(spark); System.gc() }
    // -1 when any rep failed, as Bench reports a failed query
    def med(xs: Seq[Double]) =
      if (xs.exists(_ < 0)) -1.0 else graft.Bench.median(xs)
    // warm both sides once (codegen differs between conf sets)
    names.foreach { n => setA(); runOnce(n); setB(); runOnce(n); setA(); hygiene() }
    val rows = names.map { n =>
      val as = collection.mutable.ArrayBuffer[Double]()
      val bs = collection.mutable.ArrayBuffer[Double]()
      (1 to pairs).foreach { _ =>
        setA(); as += runOnce(n)
        setB(); bs += runOnce(n)
      }
      setA(); hygiene()
      (n, med(as.toSeq), med(bs.toSeq), (as ++ bs).count(_ < 0))
    }
    println(f"[ab] ${"query"}%-28s ${"A_med"}%7s ${"B_med"}%7s ${"B-A"}%7s")
    rows.sortBy { case (_, a, b, _) => a - b }.foreach { case (n, a, b, _) =>
      println(f"[ab] $n%-28s $a%7.3f $b%7.3f ${b - a}%+7.3f")
    }
    // failed queries stay out of the TOTAL, as in Bench
    val ok = rows.filter(_._4 == 0)
    val (totA, totB) = (ok.map(_._2).sum, ok.map(_._3).sum)
    println(f"[ab] TOTAL A=$totA%.2f s  B=$totB%.2f s  delta=${totB - totA}%+.2f s over ${ok.size} queries")
    spark.stop()
    val nFailed = rows.map(_._4).sum
    if (nFailed > 0) {
      val bad = rows.filter(_._4 > 0).map(_._1)
      System.err.println(s"[ab] $nFailed failed runs in ${bad.size} queries: ${bad.mkString(",")}")
      sys.exit(1)
    }
  }
}
