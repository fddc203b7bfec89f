package graft.tools

import scala.collection.mutable

/** Dev probe: sampling profiler for the DRIVER side of a query's noop
  * write. A daemon thread samples the main thread's stack every ~3ms
  * while the query executes in a loop; frames are aggregated bottom-up
  * by the deepest org.apache.spark / graft frame so the report names
  * the driver-side work (planning, codegen generation, file-partition
  * planning, broadcast build, job submission) that the stage waterfall
  * can only show as gaps.
  *
  * Usage: runMain graft.tools.DriverProfile <sfDir> <query> [loops=30]
  * The session is [[graft.GraftSession.bench]]: SPARK_GRAFT_CPUS and
  * SPARK_GRAFT_EXTRA_CONF="k=v;k=v" act as they do for Bench.
  */
object DriverProfile {
  def main(args: Array[String]): Unit = {
    val dir = args(0); val name = args(1)
    val loops = if (args.length > 2) args(2).toInt else 30
    val spark = graft.GraftSession.bench(dir)
    spark.sparkContext.setLogLevel("ERROR")
    def exec(): Unit =
      graft.SparkEntry.queries(name)(spark, dir)
        .write.mode("overwrite").format("noop").save()
    exec(); exec() // warm
    val main = Thread.currentThread()
    val counts = new java.util.concurrent.ConcurrentHashMap[String, Integer]()
    @volatile var sampling = true
    var nSamples = 0
    val sampler = new Thread(() => {
      while (sampling) {
        val st = main.getStackTrace
        // label: the deepest frame in an "interesting" namespace, plus
        // its nearest enclosing spark entry point for context
        val frames = st.map(f => f.getClassName + "." + f.getMethodName)
        val deep = frames.find(f =>
          (f.startsWith("org.apache.spark") || f.startsWith("graft.") ||
            f.startsWith("org.apache.parquet") || f.startsWith("org.codehaus")) &&
            !f.contains("DriverProfile"))
          .getOrElse(frames.headOption.getOrElse("<empty>"))
        val anchor = frames.reverse.find(f =>
          f.contains("QueryExecution") || f.contains("SparkPlan") ||
            f.contains("DataFrameWriter") || f.contains("Dataset") ||
            f.contains("AdaptiveSparkPlan") || f.contains("SQLExecution"))
          .getOrElse("-")
        val key = deep + "  <=  " + anchor
        counts.merge(key, 1, (a, b) => a + b)
        nSamples += 1
        Thread.sleep(3)
      }
    })
    sampler.setDaemon(true)
    sampler.start()
    val t0 = System.nanoTime()
    (1 to loops).foreach(_ => exec())
    val wall = (System.nanoTime() - t0) / 1e9
    sampling = false
    Thread.sleep(50)
    println(f"[drvprof] $name: $loops loops in $wall%.2f s (${wall / loops}%.3f s/exec), $nSamples samples")
    import scala.jdk.CollectionConverters._
    val top = counts.asScala.toSeq.sortBy(-_._2).take(40)
    top.foreach { case (k, c) =>
      println(f"[drvprof] ${c.toInt * 100.0 / nSamples}%5.1f%% $k")
    }
    spark.stop()
  }
}
