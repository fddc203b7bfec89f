package graft

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkEnv
import org.apache.spark.util.SerializableConfiguration

import graft.ops.{Sinks, Sources}

/** [[NoConfProvenance]] on the test session: the context's Hadoop conf
  * records no per-property provenance, not even after a reload, and its
  * copies serialize with every value intact.
  */
class ConfProvenanceSpec extends SparkSpec {
  private val Plugin = classOf[NoConfProvenance].getName

  private def entries(conf: Configuration): Map[String, String] =
    conf.iterator.asScala.map(e => e.getKey -> e.getValue).toMap

  private def plugins(value: Option[String]): Seq[String] =
    value.toSeq.flatMap(_.split(",")).map(_.trim)

  test("after a write, two scans and a reload, no key has provenance") {
    val dir = Scratch.tempDir("provenance")
    Sinks.parquet(t("orders"), s"$dir/orders", Seq("o_orderstatus"))
    Sinks.csv(t("nation"), s"$dir/nation", header = true)
    assert(Sources.parquet(spark, s"$dir/orders").count() == t("orders").count())
    assert(Sources.csv(spark, s"$dir/nation").count() == t("nation").count())
    val conf = spark.sparkContext.hadoopConfiguration
    conf.reloadConfiguration()
    // from core-default.xml, and one Spark sets from spark.buffer.size
    Seq("fs.defaultFS", "io.file.buffer.size").foreach { key =>
      assert(conf.get(key) != null, s"$key is still loaded")
      val sources = Option(conf.getPropertySources(key)).map(_.toSeq)
      assert(sources.isEmpty, s"$key: $sources")
    }
  }

  test("newHadoopConf() round-trips through the closure serializer with every key and value") {
    val conf = spark.sessionState.newHadoopConf()
    val ser = SparkEnv.get.closureSerializer.newInstance()
    val back = ser.deserialize[SerializableConfiguration](
      ser.serialize(new SerializableConfiguration(conf))).value
    val want = entries(conf)
    assert(want.size > 1000, want.size)
    assert(entries(back) == want)
  }

  test("only the keys a session sets carry provenance in its newHadoopConf()") {
    // a new session: its SQL conf holds the build confs, not what
    // earlier specs set on the shared one
    val session = spark.newSession()
    val conf = session.sessionState.newHadoopConf()
    val keys = entries(conf).keySet
    val sourced = keys.filter(conf.getPropertySources(_) != null)
    info(s"${sourced.size} of ${keys.size} keys carry provenance")
    assert(keys.size > 1000, keys.size)
    assert(sourced.size <= 48, s"${sourced.size} of ${keys.size}")
    assert(sourced.subsetOf(session.sessionState.conf.getAllConfs.keySet),
      (sourced -- session.sessionState.conf.getAllConfs.keySet).toSeq.sorted)
  }

  test("both GraftSession profiles and the test session list the plugin in spark.plugins") {
    val profiles = Seq(
      "bench" -> GraftSession.benchConfs(0L, Map("SPARK_GRAFT_CPUS" -> "4")),
      "verify" -> GraftSession.verifyConfs(4))
    profiles.foreach { case (name, confs) =>
      assert(plugins(confs.toMap.get("spark.plugins")).contains(Plugin), name)
    }
    assert(plugins(spark.sparkContext.getConf.getOption("spark.plugins")).contains(Plugin))
  }
}
