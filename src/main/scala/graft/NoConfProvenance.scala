package graft

import java.util.{AbstractMap, Collections, Map => JMap, Set => JSet}

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.spark.SparkContext
import org.apache.spark.api.plugin.{DriverPlugin, ExecutorPlugin, PluginContext, SparkPlugin}
import org.slf4j.LoggerFactory

/** Stops a SparkContext's Hadoop conf from recording where each property
  * came from (`spark.plugins` in [[Scratch.localFsConfs]]).
  *
  * Hadoop's `Configuration.write` gzips every property's provenance, and
  * Spark serializes the conf into every scan broadcast and file-write
  * task. The driver plugin runs once per context, right after its
  * Hadoop conf is built, and swaps the conf's private provenance map for
  * one that stores nothing. Copies (`sessionState.newHadoopConf()`) then
  * start with no provenance. No value or lookup changes.
  */
class NoConfProvenance extends SparkPlugin {
  override def driverPlugin(): DriverPlugin = new DriverPlugin {
    override def init(sc: SparkContext, ctx: PluginContext): JMap[String, String] = {
      NoConfProvenance.install(sc.hadoopConfiguration)
      Collections.emptyMap()
    }
  }

  override def executorPlugin(): ExecutorPlugin = null
}

object NoConfProvenance {

  /** A provenance map that drops every put. A cleared map would not do:
    * `reloadConfiguration()` (a later `JobConf` or `HdfsConfiguration`
    * load registers default resources) refills it on the next lookup.
    */
  private object Dropped extends AbstractMap[String, Array[String]] {
    override def put(key: String, sources: Array[String]): Array[String] = null
    override def entrySet(): JSet[JMap.Entry[String, Array[String]]] = Collections.emptySet()
  }

  /** Makes `conf` record no provenance. Hadoop has no public API for
    * it, so this sets the private `updatingResource` field; a Hadoop
    * without it gets one WARN and keeps its conf as it is.
    */
  private[graft] def install(conf: Configuration): Unit = try {
    val field = classOf[Configuration].getDeclaredField("updatingResource")
    field.setAccessible(true)
    field.set(conf, Dropped)
  } catch {
    case NonFatal(e) =>
      LoggerFactory.getLogger(classOf[NoConfProvenance]).warn(
        s"Hadoop conf keeps its property provenance: $e")
  }
}
