package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One span around one call into a graft layer. Times are epoch ms with
  * sub-ms precision; `parent` is the id of the enclosing span (0 = none).
  */
final case class Span(id: Int, name: String, op: Int, parent: Int, startMs: Double, endMs: Double) {
  def seconds: Double = (endMs - startMs) / 1e3
}

/** Spans plus the counters Spark exposes through its public listener and
  * metrics APIs. Spans cost a clock read and an append; listener events
  * arrive asynchronously and are attributed to an op afterwards, by the
  * time they happened, which is exact because ops run one at a time.
  */
final class Tracer {
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 1
  var enabled = false
  var op = 0

  private def nowMs: Double = System.nanoTime() / 1e6 + Tracer.epochOffsetMs

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = nowMs
      try body
      finally {
        stack = stack.tail
        spans += Span(id, name, op, parent, t0, nowMs)
      }
    }

  def spansOf(opId: Int): Seq[Span] = spans.filter(_.op == opId).toSeq
  def all: Seq[Span] = spans.toSeq

  // ---- listener side ------------------------------------------------
  import Tracer._

  val jobs = new ConcurrentLinkedQueue[Long]()          // submission time
  val stages = new ConcurrentLinkedQueue[Long]()        // completion time
  val tasks = new ConcurrentLinkedQueue[TaskRec]()
  val plans = new ConcurrentLinkedQueue[PlanRec]()
  val batches = new ConcurrentLinkedQueue[BatchRec]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo.completionTime.getOrElse(System.currentTimeMillis()))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) tasks.add(TaskRec(info.launchTime, info.finishTime, m.executorCpuTime,
        m.jvmGCTime, m.inputMetrics.bytesRead, m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten, m.memoryBytesSpilled + m.diskBytesSpilled,
        m.outputMetrics.recordsWritten))
    }
  }

  private def phaseMs(qe: QueryExecution, phase: String): Long =
    qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)

  private def planRec(qe: QueryExecution): PlanRec = {
    val start = qe.tracker.phases.values.map(_.startTimeMs).minOption.getOrElse(0L)
    PlanRec(start, phaseMs(qe, "analysis"), phaseMs(qe, "optimization"), phaseMs(qe, "planning"))
  }

  /** Records the analysis phase of a Dataset built outside an action
    * (the Dataset constructor analyzes eagerly; the action's own
    * QueryExecution, seen by the listener below, covers the rest).
    */
  def recordBuilt(qe: QueryExecution): Unit = if (enabled) plans.add(planRec(qe))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      plans.add(planRec(qe))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      plans.add(planRec(qe))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val t = java.time.Instant.parse(p.timestamp).toEpochMilli
      val d = Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)
      batches.add(BatchRec(t, d))
    }
  }

  def register(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def unregister(spark: SparkSession): Unit = {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  /** Waits until the listener bus has delivered every event of the jobs
    * run so far: a marker job's start is queued after all of them, so
    * seeing it means the shared queue has delivered everything before it.
    */
  def drain(spark: SparkSession): Unit = {
    val sc = spark.sparkContext
    val group = s"perfbench-drain-${System.nanoTime()}"
    val seen = new java.util.concurrent.CountDownLatch(1)
    val l = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) seen.countDown()
    }
    sc.addSparkListener(l)
    sc.setJobGroup(group, "listener drain marker")
    try sc.parallelize(Seq(1), 1).count()
    finally sc.clearJobGroup()
    seen.await(30, java.util.concurrent.TimeUnit.SECONDS)
    sc.removeSparkListener(l)
    // the execution and streaming listeners sit on queues of their own,
    // which the marker does not pass through; give them a short grace
    Thread.sleep(200)
  }

  // ---- per-op in-process counters -------------------------------------
  def counters(): Counters =
    Counters(CodeGenerator.compileTime, CodegenMetrics.METRIC_COMPILATION_TIME.getCount,
      Tracer.extRulesNs())
}

object Tracer {
  final case class TaskRec(launch: Long, finish: Long, cpuNs: Long, gcMs: Long, inBytes: Long,
      shReadBytes: Long, shWriteBytes: Long, spillBytes: Long, outRecords: Long)
  final case class PlanRec(startMs: Long, analysisMs: Long, optimizationMs: Long, planningMs: Long)
  final case class BatchRec(timeMs: Long, durationMs: Long)
  /** Snapshot of process-wide counters (codegen, optimizer rules). */
  final case class Counters(compileNs: Long, compiles: Long, rulesNs: Long)

  /** Offset that turns System.nanoTime into epoch ms, so spans line up
    * with the epoch-ms timestamps Spark puts on its events.
    */
  val epochOffsetMs: Double = System.currentTimeMillis() - System.nanoTime() / 1e6

  /** graft's two injected optimizer rules, as RuleExecutor names them. */
  val extRules = Seq("graft.ext.expr.CompactResultSortRule", "graft.ext.expr.KernelRewriteRule")

  /** Total time RuleExecutor has spent in graft's rules, in ns. The
    * metering is process-wide and always on; its only public reader is
    * the text dump, parsed here.
    */
  def extRulesNs(): Long =
    RuleExecutor.dumpTimeSpent().linesIterator.flatMap { line =>
      val cols = line.trim.split("\\s+")
      if (cols.nonEmpty && extRules.contains(cols(0))) {
        // "<rule> <effective ns> / <total ns> <effective runs> / <runs>"
        cols.lift(3).flatMap(_.toLongOption)
      } else None
    }.sum

  /** Writes the spans as one JSON object per line. */
  def writeSpans(spans: Seq[Span], file: java.io.File): Unit = {
    file.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(file, "UTF-8")
    try spans.foreach { s =>
      w.println(f"""{"id":${s.id},"name":"${s.name}","op":${s.op},"parent":${s.parent},"start_ms":${s.startMs}%.3f,"end_ms":${s.endMs}%.3f}""")
    } finally w.close()
  }
}
