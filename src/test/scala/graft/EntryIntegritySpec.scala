package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Guards the driver contract surface of [[SparkEntry]] against silent
  * key shadowing: a Scala `Map("k" -> a, ..., "k" -> b)` literal keeps
  * only the LAST binding, so a duplicated query name drops an operator
  * from the graded suite with no warning anywhere (round 8 shipped with
  * `"d_zipf"` bound twice, which silently removed `zipfSlope` and its
  * oracle from CORRECTNESS). This spec re-parses the source literal and
  * requires every source-level arrow to survive into the runtime Map.
  */
class EntryIntegritySpec extends AnyFunSuite {

  // Indentation-agnostic: any line that IS a string-key arrow binding
  // (modulo leading whitespace) counts, so a whitespace-only reformat
  // of the literal cannot silently weaken the parse. Nested Map(...)
  // literals inside query lambdas would also match — if one ever
  // appears, the bijection asserts below fail set equality, flagging
  // the spec for maintenance rather than passing vacuously.
  private val keyRe = """^\s*"([A-Za-z0-9_]+)" ->.*""".r

  // Resolve the source independent of the test JVM's working directory:
  // walk up from user.dir until the repo-relative path exists (sbt runs
  // tests from the project root, but forked/IDE runners may not).
  private lazy val sourceFile: java.nio.file.Path = {
    val rel = java.nio.file.Paths.get("src", "main", "scala", "graft", "SparkEntry.scala")
    Iterator.iterate(java.nio.file.Paths.get(
        sys.props.getOrElse("user.dir", ".")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .map(_.resolve(rel))
      .find(java.nio.file.Files.exists(_))
      .getOrElse(fail(s"SparkEntry.scala not found above ${sys.props("user.dir")}"))
  }

  private lazy val lines: Vector[String] =
    java.nio.file.Files.readAllLines(sourceFile).asScala.toVector

  private def regionKeys(from: Int, until: Int): Seq[String] =
    lines.slice(from, until).collect { case keyRe(k) => k }

  private def dups(ks: Seq[String]): Seq[String] =
    ks.groupBy(identity).collect { case (k, vs) if vs.size > 1 => k }.toSeq.sorted

  test("queries / oracleSql source literals contain no shadowed (duplicate) keys") {
    val qStart = lines.indexWhere(_.contains("def queries: Map[String"))
    val oStart = lines.indexWhere(_.contains("def oracleSql: Map[String"))
    assert(qStart >= 0, "queries literal not found — update the spec's anchors")
    assert(oStart > qStart, "oracleSql literal not found — update the spec's anchors")

    val qKeys = regionKeys(qStart, oStart)
    val oKeys = regionKeys(oStart, lines.length)

    assert(dups(qKeys).isEmpty, s"duplicate keys in queries literal: ${dups(qKeys)}")
    assert(dups(oKeys).isEmpty, s"duplicate keys in oracleSql literal: ${dups(oKeys)}")

    // Bijection between source arrows and runtime keys: catches shadowing
    // that slips past the regex AND regex drift (a false-positive match
    // would break set equality, flagging the spec for maintenance).
    assert(qKeys.size === SparkEntry.queries.size,
      "source arrow count != queries.size — a binding is being shadowed")
    assert(qKeys.toSet === SparkEntry.queries.keySet)
    assert(oKeys.size === SparkEntry.oracleSql.size,
      "source arrow count != oracleSql.size — a binding is being shadowed")
    assert(oKeys.toSet === SparkEntry.oracleSql.keySet)
  }

  test("every oracle key names a declared query") {
    val orphans = SparkEntry.oracleSql.keySet.diff(SparkEntry.queries.keySet)
    assert(orphans.isEmpty, s"oracleSql keys without a query: ${orphans.toSeq.sorted}")
  }

  test("every approximate-by-design name is a query with oracle SQL") {
    assert(SparkEntry.approximateByDesign.size === 7)
    SparkEntry.approximateByDesign.toSeq.sorted.foreach { n =>
      assert(SparkEntry.queries.contains(n), s"$n is not a query")
      assert(SparkEntry.oracleSql.contains(n), s"$n has no oracle SQL")
    }
  }
}
