package perfbench

import java.io.{BufferedWriter, File, FileOutputStream, OutputStreamWriter}
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession

/** What one timed op delivered: `rows` of user data handled (input rows
  * loaded, change rows applied, result rows returned), `userBytes` of
  * that data as CSV, and `usefulRows`, the rows the op was asked to
  * write or change (the numerator of `sinks.useful_ratio`).
  */
final case class OpOutcome(rows: Long, userBytes: Long, usefulRows: Long)

/** One benchmark workload. The loop in [[Main]] calls, in order:
  * `generate` (untimed), then per set-up `warmup` and `load` (timed as
  * set-up, `reset` in between), `checkPass` (untimed), and per op
  * `prepare` (untimed), `run` (timed) and `check` (untimed).
  */
trait Workload {
  def name: String
  /** Seeded input generation into the workload's input directory. */
  def generate(): Unit
  /** Bytes of generated input graft reads; sizes the session like Bench. */
  def inputBytes: Long
  def warmup(spark: SparkSession, t: Tracer): Unit
  /** Base-table load or artifact prewarm. */
  def load(spark: SparkSession, t: Tracer): Unit
  def reset(): Unit
  /** Checked pass before the timed loop; returns (op label, failure). */
  def checkPass(spark: SparkSession, t: Tracer): Seq[(String, Option[String])] = Nil
  def prepare(i: Int): Unit = ()
  def run(i: Int, spark: SparkSession, t: Tracer): OpOutcome
  /** Throws when op `i`'s output is wrong. */
  def check(i: Int, spark: SparkSession, out: OpOutcome): Unit
  def label(i: Int): String = name
  /** Ops that make one deterministic unit (a pass over the query sample). */
  def unit: Int = 1
  /** Output roots walked to see what an op wrote; table roots that held
    * data before op `i` (writes under them are rewrites).
    */
  def outputRoots: Seq[File]
  def existingTables(i: Int): Seq[String] = Nil
  /** Files whose bytes the generator self-check compares. */
  def inputFiles: Seq[File]
  /** Sizes recorded with the benchmark. */
  def describe: Map[String, Long]
}

object Workload {
  def csv(file: File, header: String)(rows: (String => Unit) => Unit): Long = {
    file.getParentFile.mkdirs()
    val w = new BufferedWriter(new OutputStreamWriter(new FileOutputStream(file), StandardCharsets.UTF_8), 1 << 16)
    var bytes = 0L
    def emit(line: String): Unit = { w.write(line); w.write('\n'); bytes += line.length + 1 }
    try { emit(header); rows(emit) } finally w.close()
    bytes
  }

  final class Mismatch(msg: String) extends RuntimeException(msg)

  def expect(cond: Boolean, msg: => String): Unit = if (!cond) throw new Mismatch(msg)

  def sizeOf(f: File): Long =
    if (f.isDirectory) Option(f.listFiles()).map(_.map(sizeOf).sum).getOrElse(0L) else f.length
}
