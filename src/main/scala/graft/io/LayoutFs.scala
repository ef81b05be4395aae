package graft.io

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileSystem, LocalFileSystem, RawLocalFileSystem, Path => HPath}
import org.apache.spark.sql.SparkSession

/** The file-system calls of the persisted layouts ([[Layout]]), routed
  * through the Hadoop FileSystem API so every path resolves its own
  * scheme (HDFS, or an object store through its Hadoop connector) rather
  * than assuming local disk. Locally every path resolves to `file://`,
  * so a local run executes the code a cluster runs. Targeted opens of a
  * layout's partition directories matter more on an object store, where
  * a recursive listing is a paged remote call per prefix
  * (bench_evidence/r15_idx_prune.md).
  *
  * A layout needs one atomic primitive, [[publish]]: create a name only
  * if it does not exist. It holds on HDFS, whose rename refuses an
  * existing destination, and on local disk, where it is a hard link
  * (link(2) refuses an existing name; rename(2) would replace it). An
  * object store needs a conditional put for it, which this module does
  * not implement: its rename is a copy, and two writers could both
  * commit the same log entry.
  *
  * Fixture builds (markers, staged test corpora) stay on `java.nio.file`:
  * they build local test inputs and are not part of the layout path.
  */
object LayoutFs {

  private def hconf: Configuration =
    SparkSession.active.sparkContext.hadoopConfiguration

  /** Resolve the FileSystem owning `p` from its scheme. */
  private[graft] def fsFor(p: String): (FileSystem, HPath) = {
    val hp = new HPath(p)
    (hp.getFileSystem(hconf), hp)
  }

  def exists(p: String): Boolean = {
    val (fs, hp) = fsFor(p)
    fs.exists(hp)
  }

  /** Recursive delete; a missing path is a no-op. */
  def deleteTree(p: String): Unit = {
    val (fs, hp) = fsFor(p)
    if (fs.exists(hp)) { fs.delete(hp, true); () }
  }

  /** Names of the immediate children of `p` (one listStatus call, never
    * a recursive walk), or only of its subdirectories; empty if `p` is
    * absent.
    */
  def listNames(p: String, dirsOnly: Boolean = false): Seq[String] = {
    val (fs, hp) = fsFor(p)
    if (!fs.exists(hp)) Seq.empty
    else fs.listStatus(hp).toSeq.filter(st => !dirsOnly || st.isDirectory)
      .map(_.getPath.getName).sorted
  }

  def listSubdirNames(p: String): Seq[String] = listNames(p, dirsOnly = true)

  /** A small file's whole content. */
  def readFile(p: String): String = {
    val (fs, hp) = fsFor(p)
    val in = fs.open(hp)
    try new String(in.readAllBytes(), UTF_8) finally in.close()
  }

  /** Write `content` to the new file `p`; fails if `p` exists. */
  def writeFile(p: String, content: String): Unit = {
    val (fs, hp) = fsFor(p)
    val out = fs.create(hp, false)
    try out.write(content.getBytes(UTF_8)) finally out.close()
  }

  /** Give the written file `tmp` the name `dst` if no file has it yet.
    * Returns false, and removes `tmp`, when `dst` already exists.
    */
  def publish(tmp: String, dst: String): Boolean = {
    val (fs, tp) = fsFor(tmp)
    val dp = new HPath(dst)
    fs match {
      case _: LocalFileSystem | _: RawLocalFileSystem =>
        def local(p: HPath) =
          java.nio.file.Paths.get(fs.makeQualified(p).toUri.getPath)
        try { java.nio.file.Files.createLink(local(dp), local(tp)); true }
        catch { case _: java.nio.file.FileAlreadyExistsException => false }
        finally { fs.delete(tp, false); () }
      case _ =>
        val renamed = fs.rename(tp, dp)
        if (!renamed) fs.delete(tp, false)
        renamed
    }
  }
}
