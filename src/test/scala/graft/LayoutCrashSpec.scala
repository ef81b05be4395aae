package graft

import java.io.IOException
import java.net.URI
import java.security.MessageDigest

import scala.collection.mutable.ArrayBuffer

import org.apache.hadoop.fs.{FSDataOutputStream, FilterFileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.io.Layout

/** The local file system under the scheme `crashfs`, which dies at its
  * Nth create, rename or delete under a watched directory: that
  * operation and every later one there throws, as if the process had
  * stopped. Its rename refuses an existing destination file, as HDFS's
  * does.
  */
class CrashFs extends FilterFileSystem(new CrashFs.Raw) {
  override def getScheme: String = CrashFs.Scheme

  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
                                  bufferSize: Int, replication: Short, blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    CrashFs.step("create", f)
    super.createNonRecursive(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashFs.step("rename", src)
    !isFile(dst) && super.rename(src, dst)
  }
  override def delete(f: Path, recursive: Boolean): Boolean = {
    CrashFs.step("delete", f)
    super.delete(f, recursive)
  }
}

object CrashFs {
  val Scheme = "crashfs"

  /** Raw local disk, addressed as `crashfs:///...`. */
  class Raw extends RawLocalFileSystem {
    override def getUri: URI = URI.create(s"$Scheme:///")
    override def getScheme: String = Scheme
  }

  private val log = ArrayBuffer.empty[(String, String)]
  private var watched = ""
  private var dieAt = 0

  /** Record an operation under the watched directory; throw from the
    * `dieAt`th one on. Operations elsewhere (a task of an earlier,
    * crashed write finishing late) pass unrecorded.
    */
  def step(kind: String, p: Path): Unit = synchronized {
    val path = p.toUri.getPath
    if (watched.nonEmpty && path.startsWith(watched)) {
      log += kind -> path
      if (dieAt > 0 && log.size >= dieAt)
        throw new IOException(s"injected crash at operation ${log.size}: $kind $p")
    }
  }

  /** Run `body` recording its operations under `root`, dying at the
    * `at`th (0: never).
    */
  def run[T](root: String, at: Int)(body: => T): (Either[Throwable, T], Seq[(String, String)]) = {
    synchronized { log.clear(); watched = new URI(root).getPath + "/"; dieAt = at }
    val r = try Right(body) catch { case e: Exception => Left(e) }
    synchronized { watched = ""; dieAt = 0; (r, log.toList) }
  }
}

/** Every crash point of the layout protocol: fold and tombstone on an
  * admission index, compaction on a cell layout, and vacuum with its
  * GC. Each operation runs once to list its file operations; then, for
  * each of the protocol's own steps and for the first, middle and last
  * operation inside the Spark data write, it runs again on a fresh fork
  * and dies there. A fresh reader must then see exactly the state
  * before or the state after (hash of the floor and of every row), and
  * an operation that left the state before must succeed when rerun.
  * The pristine bases the forks read stay byte-identical throughout.
  */
class LayoutCrashSpec extends AnyFunSuite with SparkTestBase {
  import ops.PipelineOps

  private val tmp = System.getProperty("java.io.tmpdir")
  private def crashRoot(name: String) = s"${CrashFs.Scheme}://$tmp/graft_crash_$name"

  override def beforeAll(): Unit = {
    super.beforeAll()
    spark.sparkContext.hadoopConfiguration
      .set(s"fs.${CrashFs.Scheme}.impl", classOf[CrashFs].getName)
  }

  /** A fresh reader's view: the vacuum floor and a hash of every row. */
  private def state(root: String): String = {
    val snap = Layout.snapshot(root)
    val rows = snap.readAll(spark).collect().map(_.toSeq.map {
      case a: scala.collection.Seq[_] => a.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted
    val md = MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"floor=${snap.floor} rows=${rows.length} " +
      md.digest().take(8).map("%02x".format(_)).mkString
  }

  /** SHA-256 of every file under a local directory, by relative path. */
  private def bytes(root: String): Map[String, String] = {
    val dir = java.nio.file.Paths.get(new URI(root).getPath)
    val walk = java.nio.file.Files.walk(dir)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_)).map { f =>
        dir.relativize(f).toString -> MessageDigest.getInstance("SHA-256")
          .digest(java.nio.file.Files.readAllBytes(f)).map("%02x".format(_)).mkString
      }.toMap
    } finally walk.close()
  }

  /** Spark's own job commit: task files, their temporary directories
    * and the success marker. Every other operation is a protocol step.
    */
  private def inSparkWrite(path: String): Boolean =
    Seq("/_temporary", "/part-", "/.spark-staging").exists(path.contains) || path.endsWith("/_SUCCESS")

  /** Crash `op` at every protocol step and at three points of its data
    * write. `prepare` builds the pre-state at a fresh root.
    */
  private def crashEverywhere(name: String, prepare: String => Unit)(op: String => Unit)
      : Seq[String] = {
    val dry = crashRoot(s"${name}_dry")
    prepare(dry)
    val pre = state(dry)
    val (ok, trace) = CrashFs.run(dry, 0)(op(dry))
    assert(ok.isRight, s"$name failed without a fault: $ok")
    val post = state(dry)
    io.LayoutFs.deleteTree(dry)
    assert(pre != post, s"$name changed nothing — the spec tests nothing")
    val write = trace.indices.filter(i => inSparkWrite(trace(i)._2))
    val protocol = trace.indices.filterNot(write.contains)
    assert(protocol.nonEmpty, s"$name: no protocol step in $trace")
    val points = (protocol ++ Seq(write.headOption, write.lift(write.size / 2), write.lastOption)
      .flatten).distinct.sorted
    points.map { i =>
      val root = crashRoot(s"${name}_$i")
      prepare(root)
      val (r, _) = CrashFs.run(root, i + 1)(op(root))
      assert(r.isLeft, s"$name: no crash at operation ${i + 1} ${trace(i)}")
      val seen = state(root)
      assert(seen == pre || seen == post,
        s"$name torn by a crash at ${trace(i)}: $seen, neither $pre nor $post")
      if (seen == pre) {
        op(root)
        assert(state(root) == post, s"$name: rerun after a crash at ${trace(i)} != post-state")
      }
      io.LayoutFs.deleteTree(root)
      s"${trace(i)._1} ${trace(i)._2.stripPrefix(tmp)} -> ${if (seen == pre) "pre" else "post"}"
    }
  }

  private def sigs(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(col("id").as("doc_id"),
      expr(s"transform(sequence(0, ${functions.HashFns.MinhashK - 1}), " +
        "i -> CAST((id * 7 + i) % 5 AS BIGINT))").as("sig"))

  private def cells(lo: Long, n: Long): DataFrame =
    spark.range(lo, lo + n).select(col("id").as("vec_id"), (col("id") % 6).as("cell"),
      lit(0L).as("s"), (col("id") * 3).as("code"), (col("id") % 11).as("err_e6"))

  test("fold, tombstone, compaction and vacuum leave the state before or " +
       "after at every crash point; the pristine bases stay byte-identical") {
    val admBase = crashRoot("adm_base")
    io.LayoutFs.deleteTree(admBase)
    PipelineOps.writeAdmissionIndex(sigs(0, 120), admBase, 4)
    val cellBase = crashRoot("cell_base")
    io.LayoutFs.deleteTree(cellBase)
    Layout.create(cellBase, ops.SimilarityOps.cellClustered(cells(0, 90)), "cell")
    val admBytes = bytes(admBase)
    val cellBytes = bytes(cellBase)
    def forkOf(base: String)(root: String): Unit = {
      Layout.fork(Layout.snapshot(base), root); ()
    }

    val folds = crashEverywhere("fold", forkOf(admBase)) { root =>
      PipelineOps.foldIntoAdmissionIndex(spark, root, sigs(500, 40)); ()
    }
    val tombstones = crashEverywhere("tombstone", forkOf(admBase)) { root =>
      PipelineOps.deleteFromAdmissionIndex(spark, root, sigs(0, 120).filter(col("doc_id") % 9 === 2)); ()
    }
    val compactions = crashEverywhere("compaction", forkOf(cellBase)) { root =>
      ops.SimilarityOps.foldCells(spark, Layout.snapshot(root),
        cells(200, 30).filter(col("cell") < 3)); ()
    }
    // the vacuum runs on a store it owns, so its GC has data to reclaim
    val vacuums = crashEverywhere("vacuum", { root =>
      io.LayoutFs.deleteTree(root)
      val g0 = Layout.create(root, ops.SimilarityOps.cellClustered(cells(0, 90)), "cell")
      ops.SimilarityOps.foldCells(spark, g0, cells(300, 20).filter(col("cell") < 2))
      ()
    }) { root =>
      assert(Layout.vacuum(root, 1L).nonEmpty)
      Layout.gc(root)
    }
    Seq("fold" -> folds, "tombstone" -> tombstones, "compaction" -> compactions,
        "vacuum" -> vacuums).foreach { case (n, pts) =>
      info(s"$n: ${pts.size} crash points\n  " + pts.mkString("\n  "))
    }
    assert(bytes(admBase) == admBytes, "a fork's mutation altered the pristine admission index")
    assert(bytes(cellBase) == cellBytes, "a fork's mutation altered the pristine cell layout")
    Seq(admBase, cellBase).foreach(io.LayoutFs.deleteTree)
  }
}
