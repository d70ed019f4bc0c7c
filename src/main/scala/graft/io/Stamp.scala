package graft.io

import java.io.File

/** Filesystem identity stamp of a fixture table — file names, sizes
  * and mtimes folded through md5, from metadata alone (no data read,
  * no Spark job). Regenerating the fixture changes the stamp. Both
  * memos over fixture tables key on it: [[Store.dir]] names a store
  * by it (a new stamp forces a rebuild) and [[Tables]] keeps a
  * table's inferred schema under it (a new stamp re-infers). */
private[io] object Stamp {
  def apply(path: String): String = {
    def walk(f: File): Seq[File] =
      if (f.isDirectory) listing(f).sortBy(_.getName).flatMap(walk)
      else Seq(f)
    val sig = walk(new File(path))
      .map(f => s"${f.getName}:${f.length}:${f.lastModified}").mkString(";")
    java.security.MessageDigest.getInstance("MD5")
      .digest(sig.getBytes("UTF-8")).map("%02x".format(_)).mkString.take(12)
  }

  def listing(f: File): Seq[File] =
    Option(f.listFiles()).toSeq.flatten
}
