package graft

import java.net.URI
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{AbstractFileSystem, FileStatus, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission

import graft.ops.{Sinks, Sources}

/** graft's local filesystem ([[NioLocalFileSystem]], [[NioLocalFs]]):
  * writes and streaming checkpoints fork no process through Hadoop's
  * `Shell`, and the permission bits and file statuses are Hadoop's.
  */
class NioLocalFsSpec extends SparkSpec {

  /** `body`'s result and the commands of the processes started from a
    * frame of `org.apache.hadoop.util.Shell` while it ran, Shell's
    * one-time class initialization excluded.
    */
  private def shellForks[T](body: => T): (T, Seq[String]) = {
    // Shell's static initializer forks `setsid` once per JVM
    Class.forName("org.apache.hadoop.util.Shell")
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    rec.start()
    val out = try body finally rec.stop()
    val file = Paths.get(Scratch.tempDir("jfr"), "forks.jfr")
    try {
      rec.dump(file)
      val forks = RecordingFile.readAllEvents(file).asScala.toSeq.filter { e =>
        Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
          _.getMethod.getType.getName == "org.apache.hadoop.util.Shell"))
      }.map(_.getString("command"))
      (out, forks)
    } finally { rec.close(); Files.deleteIfExists(file): Unit }
  }

  private def localFs(fs: FileSystem, umask: Option[String]): FileSystem = {
    val conf = new Configuration(false)
    umask.foreach(conf.set("fs.permissions.umask-mode", _))
    fs.initialize(URI.create("file:///"), conf)
    fs
  }

  /** Mode bits (`07777`) of every path under `root`, keyed by relative path. */
  private def modes(root: String): Map[String, Int] = {
    val r = Paths.get(root)
    Files.walk(r).iterator().asScala.map { p =>
      r.relativize(p).toString -> (Files.getAttribute(p, "unix:mode").asInstanceOf[Integer] & 0xfff)
    }.toMap
  }

  /** The same tree written through `fs`: default and explicit modes. */
  private def writeTree(fs: FileSystem, root: String): Unit = {
    val r = new Path(root)
    fs.create(new Path(r, "a/b/default.bin")).close()
    fs.create(new Path(r, "explicit.bin"), new FsPermission("640"), true, 4096,
      1.toShort, 1L << 20, null).close()
    fs.mkdirs(new Path(r, "c/d"))
    fs.mkdirs(new Path(r, "e/f"), new FsPermission("750"))
    fs.mkdirs(new Path(r, "sticky"))
    fs.setPermission(new Path(r, "sticky"), new FsPermission("1777"))
    fs.setPermission(new Path(r, "a/b/default.bin"), new FsPermission("604"))
  }

  private def fields(s: FileStatus) =
    (s.getPath, s.getLen, s.isDirectory, s.isSymlink, s.getModificationTime,
      s.getPermission, s.getOwner, s.getGroup)

  test("a partitioned parquet write and its read-back fork nothing through Shell") {
    val out = s"${Scratch.tempDir("niofs")}/orders"
    val (n, forks) = shellForks {
      Sinks.parquet(t("orders"), out, Seq("o_orderstatus"))
      Sources.parquet(spark, out).count()
    }
    assert(n == t("orders").count())
    assert(forks.isEmpty, s"forked: ${forks.mkString("; ")}")
  }

  test("a streaming registry query drained through noop forks nothing through Shell") {
    val (_, forks) = shellForks {
      SparkEntry.queries("st_dedup")(spark, sf()).write.mode("overwrite").format("noop").save()
    }
    assert(forks.isEmpty, s"forked: ${forks.mkString("; ")}")
  }

  test("mode bits equal Hadoop's RawLocalFileSystem's, under the default umask and 077") {
    Seq(None, Some("077")).foreach { umask =>
      val hadoop = Scratch.tempDir("raw")
      val nio = Scratch.tempDir("nio")
      writeTree(localFs(new RawLocalFileSystem, umask), hadoop)
      writeTree(localFs(new NioLocalFileSystem, umask), nio)
      val want = modes(hadoop)
      assert(want.size == 10, want)
      assert(modes(nio) == want, s"umask $umask")
      assert(want("sticky") == Integer.parseInt("1777", 8), "the sticky bit survives")
    }
  }

  test("getFileLinkStatus of a regular file and of a symlink equal Hadoop's") {
    val dir = Scratch.tempDir("links")
    val file = Paths.get(dir, "f.txt")
    Files.write(file, "x".getBytes("UTF-8"))
    val link = Files.createSymbolicLink(Paths.get(dir, "l.txt"), file)
    val nio = localFs(new NioLocalFileSystem, None)
    val hadoop = localFs(new RawLocalFileSystem, None)
    Seq(file, link).foreach { p =>
      Seq(new Path(p.toString), new Path(p.toUri)).foreach { hp =>
        assert(fields(nio.getFileLinkStatus(hp)) == fields(hadoop.getFileLinkStatus(hp)), hp)
      }
    }
    val f = new Path(file.toUri)
    assert(fields(nio.getFileLinkStatus(f)) == fields(nio.getFileStatus(f)))
  }

  test("a graft session's file FileSystem and AbstractFileSystem are the graft classes") {
    val conf = spark.sparkContext.hadoopConfiguration
    val local = URI.create("file:///")
    assert(FileSystem.get(local, conf).getClass == classOf[NioLocalFileSystem])
    assert(AbstractFileSystem.get(local, conf).getClass == classOf[NioLocalFs])
  }
}
