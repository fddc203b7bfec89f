package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session profiles' conf rules, checked as pure functions: no
  * session is built here.
  */
class GraftSessionSpec extends AnyFunSuite {
  private val MB64 = 64L << 20
  private val GiB = 1L << 30

  /** The value a key resolves to once the confs are applied in order. */
  private def resolved(confs: Seq[(String, String)]): Map[String, String] = confs.toMap

  private def bench(bytes: Long, env: (String, String)*) =
    resolved(GraftSession.benchConfs(bytes, env.toMap))

  private val Parts = "spark.sql.shuffle.partitions"
  private val Aqe = "spark.sql.adaptive.enabled"

  test("bench partitions floor at 1 below 4 cores on a sub-64MB input") {
    Seq("1", "2", "3").foreach { c =>
      assert(bench(MB64 - 1, "SPARK_GRAFT_CPUS" -> c)(Parts) == "1", s"cpus=$c")
    }
    assert(bench(0L, "SPARK_GRAFT_CPUS" -> "2")("spark.master") == "local[2]")
  }

  test("bench partitions are cpus/4 at 32 cores and rise by one per 64MB of input") {
    assert(bench(0L, "SPARK_GRAFT_CPUS" -> "32")(Parts) == "8")
    assert(bench(0L)(Parts) == "8", "SPARK_GRAFT_CPUS defaults to 32")
    assert(bench(0L)("spark.master") == "local[32]")
    assert(bench(8 * MB64, "SPARK_GRAFT_CPUS" -> "32")(Parts) == "8")
    assert(bench(9 * MB64 - 1, "SPARK_GRAFT_CPUS" -> "32")(Parts) == "8")
    assert(bench(9 * MB64, "SPARK_GRAFT_CPUS" -> "32")(Parts) == "9")
    assert(bench(10 * MB64, "SPARK_GRAFT_CPUS" -> "32")(Parts) == "10")
  }

  test("bench AQE is off below 1 GiB of input and on from exactly 1 GiB") {
    assert(bench(GiB - 1)(Aqe) == "false")
    assert(bench(GiB)(Aqe) == "true")
    assert(bench(GiB, "SPARK_GRAFT_AQE" -> "false")(Aqe) == "false")
    assert(bench(0L, "SPARK_GRAFT_SHUFFLE" -> "5")(Parts) == "5")
  }

  test("SPARK_GRAFT_EXTRA_CONF entries override partitions and AQE") {
    val r = bench(GiB, "SPARK_GRAFT_CPUS" -> "4",
      "SPARK_GRAFT_EXTRA_CONF" ->
        "spark.sql.shuffle.partitions=3; spark.sql.adaptive.enabled=false;junk;x.y=a=b")
    assert(r(Parts) == "3")
    assert(r(Aqe) == "false")
    assert(r("x.y") == "a=b", "the value keeps everything after the first '='")
    assert(!r.contains("junk"))
  }

  test("verify(n) resolves AQE on and n partitions") {
    Seq(1, 4, 32).foreach { n =>
      val r = resolved(GraftSession.verifyConfs(n))
      assert(r(Aqe) == "true")
      assert(r(Parts) == n.toString)
      assert(r("spark.master") == s"local[$n]")
    }
  }

  test("both profiles carry the base and every Scratch.localFsConfs entry") {
    val profiles = Seq(
      "bench" -> bench(0L, "SPARK_GRAFT_CPUS" -> "4"),
      "verify" -> resolved(GraftSession.verifyConfs(4)))
    profiles.foreach { case (name, r) =>
      Scratch.localFsConfs.foreach { case (k, v) => assert(r.get(k).contains(v), s"$name: $k") }
      assert(r("spark.sql.ansi.enabled") == "false", name)
      assert(r("spark.sql.session.timeZone") == "UTC", name)
      assert(r("spark.sql.extensions") == "graft.ext.GraftExtensions", name)
      assert(r("spark.local.dir") == s"${Scratch.dir()}/spark-local", name)
    }
  }
}
