package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q217 persisted-admission-index properties:
  *  1. DISK == MEMORY: the q217 card (admission via the on-disk index)
  *     equals the q215 card (in-memory index) row-for-row — the two
  *     lanes already share one oracle; this pins it in-process too.
  *  2. FOLD == REBUILD: folding a signature delta into an existing
  *     index (one log commit) yields exactly the row set of an index
  *     rebuilt from scratch over base + delta (the q182 compaction
  *     contract, here for the text side).
  *  3. FOLD LOCALITY: only the fold's touched pb buckets are
  *     rewritten — untouched buckets keep resolving to the same
  *     partition directory with the same files (names + sizes), which
  *     is the on-disk witness that compaction cost tracks the delta,
  *     not the corpus.
  */
class AdmissionIndexSpec extends AnyFunSuite with SparkTestBase {

  test("q217: disk-index admission card == q215 in-memory card") {
    val disk = ops.PipelineOps.pipelineIncrementDisk(spark, sf)
      .collect().map(_.toSeq).toSeq
    val mem = ops.PipelineOps.pipelineIncrement(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(disk == mem,
      s"disk-index admission diverged from in-memory:\n$disk\nvs\n$mem")
  }

  test("q217: fold == rebuild, and only touched buckets are rewritten") {
    val bSigs = ops.PipelineOps.sharedBaseIndex(spark, sf)
    // split the real base index: seed from two thirds, fold the rest
    val seed = bSigs.filter(col("doc_id") % 3 =!= 0)
    val delta = bSigs.filter(col("doc_id") % 3 === 0)
    assert(delta.count() > 0, "degenerate split: empty fold delta")

    val root = s"${System.getProperty("java.io.tmpdir")}/graft_admidx_foldspec"
    val foldDir = s"$root/folded"
    val fullDir = s"$root/rebuilt"
    Fixtures.clearDir(java.nio.file.Paths.get(root))
    // BOTH dirs at the SEED's bucket count: a fold preserves the
    // layout's kb (read from its log entry), so the rebuild twin must be
    // laid out at the same kb for row-set equality to include pb
    val kb = ops.PipelineOps.bucketsFor(seed.count())
    ops.PipelineOps.writeAdmissionIndex(seed, foldDir, kb)
    ops.PipelineOps.writeAdmissionIndex(bSigs, fullDir, kb)
    assert(ops.PipelineOps.indexBuckets(io.Layout.snapshot(foldDir)) == kb,
      "kb roundtrip")

    // per-bucket partition directory + file listing of a state
    def bucketFiles(dir: String): Map[Long, (String, Seq[(String, Long)])] = {
      val snap = io.Layout.snapshot(dir)
      snap.parts.keys.map { pb =>
        val b = new java.io.File(s"${snap.dirOf(pb)}/pb=$pb")
        pb -> (b.getPath -> b.listFiles().filter(_.getName.endsWith(".parquet"))
          .map(f => (f.getName, f.length())).sortBy(_._1).toSeq)
      }.toMap
    }
    val before = bucketFiles(foldDir)

    val touched = ops.PipelineOps.foldIntoAdmissionIndex(spark, foldDir, delta)
    assert(touched.nonEmpty, "fold touched no buckets")

    // 2. fold == rebuild on the full row set (sig compared as a string
    //    key — array equality via the same deterministic rendering)
    def rowsOf(dir: String): Set[(Long, Long, Long, Long, String)] =
      io.Layout.snapshot(dir).readAll(spark)
        .select(col("doc_id"), col("band").cast("long").as("band"), col("key"),
                col("pb").cast("long").as("pb"),
                concat_ws(",", col("sig")).as("sigkey"))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                   r.getString(4))).toSet
    val folded = rowsOf(foldDir)
    val rebuilt = rowsOf(fullDir)
    assert(folded == rebuilt,
      s"fold != rebuild: only-in-folded=${(folded -- rebuilt).take(3)}, " +
        s"only-in-rebuilt=${(rebuilt -- folded).take(3)}")

    // 3. locality: untouched buckets keep their exact files
    val after = bucketFiles(foldDir)
    before.foreach { case (pb, files) =>
      if (!touched.contains(pb))
        assert(after(pb) == files,
          s"untouched bucket $pb was rewritten: $files -> ${after(pb)}")
    }
    Fixtures.clearDir(java.nio.file.Paths.get(root))
  }

  test("q216/q217 probe reads a STRICT SUBSET of index files " +
       "(files-read metric, not the PartitionFilters string) (r15)") {
    // r14 verdict #1's 'Done' bar: the pruning claim must be backed by
    // the scan's own execution metric. Build the index at a bucket
    // count where a small batch's keys hash into a strict subset
    // (kb=64 — the ladder reaches this by ~160k docs; at the test sf
    // the ladder floor of 8 makes every batch span all buckets, which
    // is a fixture-scale artifact, not a layout property).
    val bSigs = ops.PipelineOps.sharedBaseIndex(spark, sf)
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_admidx_prunespec"
    Fixtures.clearDir(java.nio.file.Paths.get(dir))
    val kb = 64
    ops.PipelineOps.writeAdmissionIndex(bSigs, dir, kb)
    def parquetFiles(p: java.io.File): Seq[java.io.File] =
      p.listFiles().toSeq.flatMap {
        case d if d.isDirectory => parquetFiles(d)
        case f if f.getName.endsWith(".parquet") => Seq(f)
        case _ => Nil
      }
    val totalFiles = parquetFiles(new java.io.File(dir)).size
    // a 3-doc ingest batch: re-submissions of indexed docs (so the
    // probe also produces real matches, not just empty buckets)
    val delta = bSigs.orderBy("doc_id").limit(3)
      .select((col("doc_id") + 999000000L).as("doc_id"), col("sig"))
      .localCheckpoint(true)
    val probe = ops.PipelineOps.probeAdmissionIndex(spark, dir, delta)
    // execute, then read the FileSourceScan's numFiles metric off the
    // same QueryExecution instance
    val qe = probe.queryExecution
    val matches = probe.collect()
    assert(matches.length == 3, "re-submitted docs must match their entries")
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan) // AQE stages hide their subtree
      case f: FileSourceScanExec => Seq(f)
      case other =>
        other.children.flatMap(scans) ++ other.subqueries.flatMap(scans)
    }
    val idxScans = scans(qe.executedPlan).filter(
      _.relation.location.rootPaths.exists(_.toString.contains("graft_admidx_prunespec")))
    assert(idxScans.nonEmpty, s"no index FileScan found in:\n${qe.executedPlan}")
    val filesRead = idxScans.map(_.metrics("numFiles").value).sum
    // strict subset: the scan OPENED fewer files than the layout holds
    assert(filesRead > 0 && filesRead < totalFiles,
      s"probe read $filesRead of $totalFiles index files — not a strict subset")
    // and exactly the batch's candidate buckets: <= bands * distinct keys
    val expectedPbs = ops.PipelineOps.indexRowsOf(delta, kb)
      .select("pb").distinct().collect().map(_.getLong(0)).toSet
    val expectedFiles = parquetFiles(new java.io.File(dir)).count(f =>
      expectedPbs.exists(pb => f.getPath.contains(s"pb=$pb/") ||
        f.getParentFile.getName == s"pb=$pb"))
    assert(filesRead == expectedFiles,
      s"probe read $filesRead files != the candidate buckets' $expectedFiles")
    Fixtures.clearDir(java.nio.file.Paths.get(dir))
  }
}
