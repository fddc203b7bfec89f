package graft.tools

/** Dev tool: dump formatted physical plans for representative queries so
  * plan quality (pushdown, pruning, broadcast choice, codegen spans) can
  * be audited — the "is this the plan you'd want at 100 TB" check.
  *
  * The session is [[graft.GraftSession.bench]], so the plans are the
  * ones Bench times; SPARK_GRAFT_EXTRA_CONF="k=v;k=v" overrides confs.
  *
  * Env:
  *  - GRAFT_EXPLAIN_DIR=plans/r12  additionally write each query's plan
  *    to <dir>/<query><GRAFT_EXPLAIN_SUFFIX>.txt (suffix default "",
  *    e.g. "_before"/"_after") — the committed evidence files.
  */
object ExplainAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.01"
    val names = if (args.length > 1) args.drop(1).toSet else Set.empty[String]
    val spark = graft.GraftSession.bench(sfDir)
    spark.sparkContext.setLogLevel("ERROR")
    val outDir = sys.env.get("GRAFT_EXPLAIN_DIR")
    val suffix = sys.env.getOrElse("GRAFT_EXPLAIN_SUFFIX", "")
    outDir.foreach(d => java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d)))
    graft.SparkEntry.queries
      .filter { case (n, _) => names.isEmpty || names(n) }
      .toSeq.sortBy(_._1)
      .foreach { case (name, fn) =>
        println(s"\n========== $name ==========")
        try {
          val df = fn(spark, sfDir)
          // QueryExecution.explainString rather than df.explain so the
          // text can go to a file as well as stdout
          val txt = df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          println(txt)
          outDir.foreach { d =>
            java.nio.file.Files.write(
              java.nio.file.Paths.get(d, s"$name$suffix.txt"),
              txt.getBytes("UTF-8"))
          }
        } catch { case e: Throwable => println(s"explain failed: ${e.getMessage}") }
      }
    spark.stop()
  }
}
