package graft.tools

import org.apache.spark.sql.catalyst.rules.RuleExecutor

/** Dev probe: split Catalyst plan time per query into the tracker's
  * phases (analysis / optimization / physical planning) across the
  * WHOLE suite, plus the cumulative per-RULE time ledger
  * (`RuleExecutor.dumpTimeSpent`) over all queries — tells which
  * queries pay the most driver CPU before any task runs, and which
  * optimizer rules that money goes to (the suite is 305 sub-second
  * queries, so plan time is a first-class cost here, re-paid every
  * timed rep).
  *
  * Usage: runMain graft.tools.PlanPhaseProbe <sfDir> [query...]
  * The session is [[graft.GraftSession.bench]]: SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_EXTRA_CONF="k=v;k=v" act as they do for Bench.
  */
object PlanPhaseProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.GraftSession.bench(dir)
    spark.sparkContext.setLogLevel("ERROR")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else graft.SparkEntry.queries.keys.toSeq.sorted
    // GRAFT_PROBE_WRITE=true: measure the phases of the WRITE command's
    // QueryExecution (what the bench actually times — the noop write
    // wraps the query in a command and replans the whole tree; the bare
    // df's tracker never sees that second pass).
    val writeMode = sys.env.getOrElse("GRAFT_PROBE_WRITE", "false") == "true"
    val lastPhases = new java.util.concurrent.atomic.AtomicReference[Map[String, Double]](Map.empty)
    if (writeMode)
      spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
            durationNs: Long): Unit =
          lastPhases.set(qe.tracker.phases.map { case (k, v) =>
            (k, (v.endTimeMs - v.startTimeMs) / 1000.0)
          })
        override def onFailure(fn: String, qe: org.apache.spark.sql.execution.QueryExecution,
            e: Exception): Unit = ()
      })
    // Warm pass: first plan of a session pays one-time costs (function
    // registry, scan-cache fill, codegen compiler init) that would
    // otherwise land on the alphabetically-first query.
    names.foreach { n =>
      try graft.SparkEntry.queries(n)(spark, dir).queryExecution.executedPlan
      catch { case e: Throwable =>
        System.err.println(s"[planphase] warm $n failed: ${e.getMessage}")
      }
    }
    RuleExecutor.resetMetrics()
    val rows = names.flatMap { n =>
      try {
        val trials = (1 to 3).map { _ =>
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries(n)(spark, dir)
          val (wall, ph) = if (writeMode) {
            lastPhases.set(null)
            df.write.mode("overwrite").format("noop").save()
            val w = (System.nanoTime() - t0) / 1e9
            // the QueryExecutionListener bus is async; poll briefly
            var waited = 0
            while (lastPhases.get() == null && waited < 2000) {
              Thread.sleep(5); waited += 5
            }
            (w, Option(lastPhases.get()).getOrElse(Map.empty[String, Double]))
          } else {
            df.queryExecution.executedPlan
            val w = (System.nanoTime() - t0) / 1e9
            (w, df.queryExecution.tracker.phases.map { case (k, v) =>
              (k, (v.endTimeMs - v.startTimeMs) / 1000.0)
            })
          }
          (wall, ph)
        }
        val wall = graft.Bench.median(trials.map(_._1))
        def phase(k: String) = graft.Bench.median(trials.map(_._2.getOrElse(k, 0.0)))
        Some((n, wall, phase("analysis"), phase("optimization"), phase("planning")))
      } catch { case e: Throwable =>
        System.err.println(s"[planphase] $n failed: ${e.getMessage}"); None
      }
    }
    println(f"[planphase] ${"query"}%-28s ${"wall"}%7s ${"analyze"}%7s ${"optimize"}%8s ${"plan"}%7s")
    rows.sortBy(-_._2).foreach { case (n, w, a, o, p) =>
      println(f"[planphase] $n%-28s $w%7.3f $a%7.3f $o%8.3f $p%7.3f")
    }
    val tot = rows.map(_._2).sum
    println(f"[planphase] TOTAL build+plan wall over ${rows.size} queries: $tot%.2f s " +
      f"(analysis ${rows.map(_._3).sum}%.2f, optimization ${rows.map(_._4).sum}%.2f, " +
      f"physical ${rows.map(_._5).sum}%.2f)")
    println("[planphase] cumulative rule ledger (top of dumpTimeSpent):")
    RuleExecutor.dumpTimeSpent().linesIterator.take(60).foreach(l => println("[planphase] " + l))
    spark.stop()
  }
}
