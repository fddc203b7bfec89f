package perfbench

import java.io.File

/** What graft left on disk, seen from outside the program: a walk of a
  * directory tree before and after an op. A file counts as written by the
  * op when its (path, size, mtime) was not there before.
  */
object Storage {
  final case class FileRec(path: String, bytes: Long, mtime: Long) {
    def dir: String = path.substring(0, math.max(0, path.lastIndexOf('/')))
    /** Spark's data files; markers, checksums and metadata are not data. */
    def isData: Boolean = {
      val n = path.substring(path.lastIndexOf('/') + 1)
      n.startsWith("part-") && !n.endsWith(".crc")
    }
  }

  def walk(roots: Seq[File], exclude: Set[String] = Set.empty): Map[String, FileRec] = {
    val out = Map.newBuilder[String, FileRec]
    def go(f: File): Unit =
      if (!exclude.contains(f.getName)) {
        val kids = f.listFiles()
        if (kids != null) kids.foreach(go)
        else if (f.isFile) out += f.getPath -> FileRec(f.getPath, f.length, f.lastModified)
      }
    roots.filter(_.exists).foreach(go)
    out.result()
  }

  def bytes(snap: Map[String, FileRec]): Long = snap.values.map(_.bytes).sum

  /** Files present after but not (unchanged) before. */
  def written(before: Map[String, FileRec], after: Map[String, FileRec]): Seq[FileRec] =
    after.values.filter(r => !before.get(r.path).contains(r)).toSeq

  /** Storage effect of one op. `dataFiles` counts Spark data files and
    * `partitions` the distinct directories they landed in, which is one
    * per partition value for a partitioned write and one for a plain one.
    */
  final case class Delta(bytes: Long, dataFiles: Int, partitions: Int, rewriteBytes: Long)

  /** `existing` are the table roots that held data before the op; bytes
    * written under them are rewrites of existing tables.
    */
  def delta(before: Map[String, FileRec], after: Map[String, FileRec], existing: Seq[String]): Delta = {
    val w = written(before, after)
    val data = w.filter(_.isData)
    val rewrite = data.filter(r => existing.exists(e => r.path.startsWith(e + "/"))).map(_.bytes).sum
    Delta(w.map(_.bytes).sum, data.size, data.map(_.dir).distinct.size, rewrite)
  }

  def deleteRecursively(f: File): Unit = {
    val kids = f.listFiles()
    if (kids != null) kids.foreach(deleteRecursively)
    f.delete(): Unit
  }
}
