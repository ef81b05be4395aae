package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Layout fork and file-system contracts:
  *  1. CLONE-FREE FORK: a fork of the persisted admission index takes a
  *     real fold and a real takedown; the pristine base stays
  *     byte-identical, only the touched buckets get data in the fork,
  *     the resolved view equals the closed-form state, and the fork's
  *     log re-opens to the same state.
  *  2. HADOOP-FS ROUTING: an explicit file:// URI (which
  *     java.nio.file.Paths.get would reject) behaves like a bare local
  *     path, and publishing an existing name refuses.
  */
class LayoutCloneSpec extends AnyFunSuite with SparkTestBase {

  private def dataFiles(dir: String): Seq[java.io.File] = {
    def walk(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
      else Seq(f)
    walk(new java.io.File(dir)).sortBy(_.getPath)
  }

  private def sha(f: java.io.File): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.digest(java.nio.file.Files.readAllBytes(f.toPath))
      .map("%02x".format(_)).mkString
  }

  test("overlay entry mutates clone-free: base byte-identical, resolution exact, ledger re-openable") {
    import ops.PipelineOps
    val base = PipelineOps.persistAdmissionIndex(spark, sf)
    val beforeSrc = dataFiles(base).map(f => f.getPath -> sha(f))
    // a run-local fork of the base, then a real fold and a real delete
    val fork = s"${System.getProperty("java.io.tmpdir")}/graft_ovspec"
    io.Layout.fork(io.Layout.snapshot(base), fork)
    val extra = PipelineOps.sharedBaseIndex(spark, sf)
      .filter(col("doc_id") % 23 === 1)
      .select((col("doc_id") + 7000000L).as("doc_id"), col("sig"))
      .localCheckpoint(true)
    val ft = PipelineOps.foldIntoAdmissionIndex(spark, fork, extra)
    val del = PipelineOps.sharedBaseIndex(spark, sf)
      .filter(PipelineOps.takedownPred(col("doc_id")))
    val dt = PipelineOps.deleteFromAdmissionIndex(spark, fork, del)
    assert(ft.nonEmpty && dt.nonEmpty, "degenerate: no buckets touched")
    // 1. the pristine base is byte-identical — no write path reaches it
    val afterSrc = dataFiles(base).map(f => f.getPath -> sha(f))
    assert(afterSrc == beforeSrc, "fork mutation altered the pristine base layout")
    // 2. only the touched buckets have data in the fork
    val state = io.Layout.snapshot(fork)
    val local = state.parts.filter { case (_, d) => !d.startsWith("/") }.keySet
    assert(local.subsetOf((ft ++ dt).toSet),
      s"fork holds un-touched buckets: ${local -- (ft ++ dt).toSet}")
    // 3. the resolved view equals the closed-form expected state
    def rowsFrom(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("doc_id"), col("band").cast("long"), col("key"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    val delIds = del.select("doc_id").collect().map(_.getLong(0)).toSet
    val expected = rowsFrom(
      PipelineOps.indexRowsOf(
        PipelineOps.sharedBaseIndex(spark, sf).unionByName(extra),
        PipelineOps.indexBuckets(state)))
      .filterNot { case (id, _, _) => delIds.contains(id) }
    assert(rowsFrom(state.readAll(spark)) == expected,
      "fork-resolved state != closed-form fold+delete result")
    // 4. the log persists: a fresh reader resolves identically
    //    (restart story)
    val reopened = io.Layout.snapshot(fork)
    assert(reopened == state, "the fork's log did not round-trip")
    assert(rowsFrom(reopened.readAll(spark)) == expected,
      "re-opened fork resolves differently")
    io.LayoutFs.deleteTree(fork)
  }

  test("LayoutFs resolves explicit file:// URIs through the Hadoop FileSystem") {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_clonespec_uri"
    io.LayoutFs.deleteTree(dir)
    io.LayoutFs.writeFile(s"file://$dir/.a.tmp", "kb=7\n")
    assert(io.LayoutFs.publish(s"file://$dir/.a.tmp", s"file://$dir/a"))
    assert(io.LayoutFs.exists(s"file://$dir/a"))
    assert(io.LayoutFs.readFile(s"file://$dir/a").trim == "kb=7")
    // a second writer of the same name loses, and the first content stays
    io.LayoutFs.writeFile(s"file://$dir/.b.tmp", "kb=8\n")
    assert(!io.LayoutFs.publish(s"file://$dir/.b.tmp", s"file://$dir/a"))
    assert(io.LayoutFs.readFile(dir + "/a").trim == "kb=7")
    assert(!io.LayoutFs.exists(s"$dir/.b.tmp"), "the losing writer's file was left")
    assert(io.LayoutFs.listSubdirNames(s"file://$dir") == Seq.empty)
    io.LayoutFs.deleteTree(s"file://$dir")
    assert(!io.LayoutFs.exists(dir))
  }
}
