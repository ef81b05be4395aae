package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.io.Layout
import graft.ops.SimilarityOps

/** q191 versioned-index properties the oracle can't see: full-index
  * (not just probed-cell) snapshot equality under both pins, the
  * atomic-commit property (an UNCOMMITTED generation is invisible even
  * though its data files are fully written), and the cross-directory
  * resolution a pin-1 read performs. Then q210/q212's vacuum: the
  * floor, and the physical reclamation of a store the caller owns.
  */
class VersionSpec extends AnyFunSuite with SparkTestBase {

  private def dir = SimilarityOps.versionDir(sf)

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "cell", "s", "code", "err_e6")
      .orderBy("vec_id", "s", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq

  private def pinnedAt(root: String, pin: Long) = {
    val snap = Layout.snapshot(root, Some(pin))
    SimilarityOps.pinnedRead(spark, snap, snap.parts.keys.toSeq)
  }

  private def pinned(pin: Int) = rows(pinnedAt(dir, pin.toLong))

  private def rebuilt(pred: org.apache.spark.sql.Column) =
    rows(SimilarityOps.residualCodesBatch(spark, sf, pred))

  /** A cell layout at a fresh root, entry 0 = `g0`, one fold per later
    * generation: each replaces exactly the cells its rows hold.
    */
  private def store(name: String, g0: Seq[(Long, Long, Long, Long, Long)],
                    folds: Seq[(Long, Long, Long, Long, Long)]*): String = {
    import spark.implicits._
    val root = tempDir(name).toString
    def codes(rs: Seq[(Long, Long, Long, Long, Long)]) =
      rs.toDF("vec_id", "cell", "s", "code", "err_e6")
    folds.foldLeft(Layout.create(root, codes(g0), "cell")) { (prev, rs) =>
      Layout.rewrite(prev, codes(rs), rs.map(_._2).distinct)
    }
    root
  }

  test("pin 0 == pre-delta rebuild over ALL cells (time travel, g0 never mutated)") {
    SimilarityOps.indexVersions(spark, sf).collect() // build both generations
    assert(pinned(0) == rebuilt(col("vec_id") % 7 =!= 3),
      "the gen-0 snapshot drifted from the pre-delta corpus")
  }

  test("pin 1 == full rebuild over ALL cells (post-swap read is complete)") {
    SimilarityOps.indexVersions(spark, sf).collect()
    assert(pinned(1) == rebuilt(lit(true)),
      "the gen-1 read is distinguishable from a full rebuild")
  }

  test("an uncommitted generation is invisible: manifest commit IS the swap") {
    SimilarityOps.indexVersions(spark, sf).collect()
    val committed = java.nio.file.Paths.get(dir, "_log", "1")
    val aside = java.nio.file.Paths.get(dir, "_log", ".1.aside")
    // simulate the pre-commit moment: the fold's DATA files are fully
    // written, but its log entry is not yet published
    java.nio.file.Files.move(committed, aside)
    try {
      assert(Layout.snapshot(dir).version == 0L)
      assert(rows(SimilarityOps.pinnedRead(spark, Layout.snapshot(dir),
          Layout.snapshot(dir).parts.keys.toSeq)) == pinned(0),
        "a reader observed generation-1 data before its log commit")
    } finally java.nio.file.Files.move(aside, committed)
  }

  test("a pin-1 read genuinely spans generations (manifest resolution, not a dir read)") {
    // at the test sf the 1/7 delta touches every cell, so the real
    // fixture can't witness mixed ownership — drive the resolution on
    // a synthetic store where cell 0 stays in the base directory and
    // cell 1 is rewritten by the fold
    val root = store("graft_genspec_",
      Seq((10L, 0L, 0L, 1L, 5L), (11L, 1L, 0L, 2L, 6L)),
      Seq((11L, 1L, 0L, 9L, 7L), (12L, 1L, 0L, 3L, 8L)))
    def read(pin: Long) = pinnedAt(root, pin)
      .orderBy("cell", "vec_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // pin 0: both cells from the base
    assert(read(0) == Seq((0L, 10L, 1L), (1L, 11L, 2L)))
    // pin 1: cell 0 still resolves to the base, cell 1 to the fold —
    // one read, two data directories
    assert(read(1) == Seq((0L, 10L, 1L), (1L, 11L, 9L), (1L, 12L, 3L)))
    val g1 = Layout.snapshot(root, Some(1L))
    assert(g1.dirOf(0L) != g1.dirOf(1L))
    // and the REAL fixture's fold must at least be non-trivial
    SimilarityOps.indexVersions(spark, sf).collect()
    val (real0, real1) = (Layout.snapshot(dir, Some(0L)), Layout.snapshot(dir, Some(1L)))
    assert(real1.parts.exists { case (c, d) => !real0.parts.get(c).contains(d) },
      "the delta touched no cells — the fold tested nothing")
  }

  test("re-entrant call is idempotent (marker-guarded: no double fold, no new generation)") {
    SimilarityOps.indexVersions(spark, sf).collect()
    val first = pinned(1)
    val entries = Layout.versions(dir)
    SimilarityOps.indexVersions(spark, sf).collect()
    assert(pinned(1) == first)
    assert(Layout.versions(dir) == entries)
  }

  // ------------------------------------------------------------------
  // q210: the generation vacuum
  // ------------------------------------------------------------------

  /** q191's store rebuilt at a root this spec owns, so its data can be
    * reclaimed.
    */
  private def ownedStore(name: String): String = {
    val root = tempDir(name).toString
    val g0 = Layout.create(root, SimilarityOps.cellClustered(
      SimilarityOps.compactionCodesFor(spark, sf, col("vec_id") % 7 =!= 3)), "cell")
    SimilarityOps.foldCells(spark, g0, SimilarityOps.compactionDeltaFor(spark, sf))
    root
  }

  test("q210: vacuum mid-flight — a pin-1 read resolved BEFORE the " +
       "vacuum completes unchanged after gen-0 data is reclaimed") {
    val root = ownedStore("graft_vacspec_")
    val want = rows(pinnedAt(root, 1L))
    // the IN-FLIGHT read: owner resolution and file listing happen at
    // build time, BEFORE the vacuum deletes anything...
    val inFlight = pinnedAt(root, 1L)
    val g0 = Layout.snapshot(root, Some(0L))
    val reclaimed = Layout.vacuum(root, floor = 1L)
    assert(reclaimed.nonEmpty, "vacuum reclaimed nothing — inert fixture")
    Layout.gc(root)
    reclaimed.foreach { c =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(g0.dirOf(c), s"cell=$c")),
        s"gc left the reclaimed gen-0 partition cell=$c behind")
    }
    // ...and the fetch happens here, AFTER: it must still serve exactly
    assert(rows(inFlight) == want, "an in-flight pin-1 read changed under the vacuum")
    // a FRESH post-vacuum read agrees too (the lane's oracle property)
    assert(rows(pinnedAt(root, 1L)) == want)
  }

  test("q210: pins below the recorded floor refuse loudly") {
    val root = ownedStore("graft_vacfloor_")
    Layout.vacuum(root, floor = 1L)
    val e = intercept[IllegalArgumentException](pinnedAt(root, 0L))
    assert(e.getMessage.contains("vacuum floor"),
      s"wrong failure mode: ${e.getMessage}")
  }

  test("q212: the mid-stream vacuum genuinely fired — floor recorded, " +
       "gen-0 rows reclaimed from the lane manifest, batch 2 still served from gen 1") {
    val out = streaming.StreamingOps.streamVacuumServe(spark, sf).collect()
    val batches = out.map(_.getInt(0)).distinct.sorted.toSeq
    assert(batches == Seq(0, 1, 2), s"expected three batches: $batches")
    // batch 2 was served AFTER the vacuum (foreachBatch is sequential)
    assert(out.filter(_.getInt(0) == 2).forall(_.getInt(1) == 1),
      "batch 2 must serve pin 1")
    // clone-free entry: the lane owns only its fork's log; every data
    // directory it reads is the pristine store's
    val hex = java.lang.Integer.toHexString(sf.hashCode)
    val laneRoot = s"${System.getProperty("java.io.tmpdir")}/graft_svvac_$hex"
    val lane = Layout.snapshot(laneRoot)
    assert(lane.floor == 1L, "vacuum floor was never committed — the online vacuum did not run")
    assert(Layout.versions(laneRoot) == Seq(0L, 1L, 2L),
      s"expected fork, swap and vacuum entries: ${Layout.versions(laneRoot)}")
    val pristine = SimilarityOps.versionDir(sf)
    assert(lane.parts.values.forall(_.startsWith(pristine + "/")),
      "the lane reads data outside the pristine store — entry is not clone-free")
    // the gen-0 bindings the vacuum superseded are unreadable now, and
    // the pristine store's own gen-0 data is untouched (shared fixture)
    val g0 = Layout.snapshot(pristine, Some(0L))
    val superseded = g0.parts.keys.filter(c => lane.dirOf(c) != g0.dirOf(c))
    assert(superseded.nonEmpty)
    superseded.foreach { c =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(g0.dirOf(c), s"cell=$c")),
        s"the clone-free vacuum deleted pristine data: cell=$c")
    }
    // and sub-floor pins refuse on the live lane log
    val e = intercept[IllegalArgumentException](Layout.snapshot(laneRoot, Some(0L)))
    assert(e.getMessage.contains("vacuum floor"))
  }

  test("q210: the vacuum is CELL-granular — generations still serving " +
       "untouched cells keep exactly those partitions") {
    // synthetic store: g0 owns cells 0,1,2; g1 supersedes ONLY cell 1
    // (the real fixture's delta touches every cell at test sf, so the
    // partial-survival property needs a controlled store)
    val root = store("graft_vacuum_cellgran",
      Seq((10L, 0L, 0L, 1L, 5L), (11L, 1L, 0L, 2L, 6L), (12L, 2L, 0L, 3L, 7L)),
      Seq((11L, 1L, 0L, 9L, 1L)))
    val g0Dir = Layout.snapshot(root, Some(0L)).parts(0L)
    val reclaimed = Layout.vacuum(root, floor = 1L)
    assert(reclaimed == Seq(1L), s"expected only cell 1 reclaimed: $reclaimed")
    Layout.gc(root)
    assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(root, g0Dir, "cell=1")))
    Seq(0L, 2L).foreach { c =>
      assert(java.nio.file.Files.exists(java.nio.file.Paths.get(root, g0Dir, s"cell=$c")),
        s"untouched cell $c was wrongly reclaimed")
    }
    // the pin-1 read still spans directories: cell 1 from g1, rest g0
    val got = pinnedAt(root, 1L)
      .select("cell", "vec_id", "code").orderBy("cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 10L, 1L), (1L, 11L, 9L), (2L, 12L, 3L)))
  }

  test("q210: the recorded vacuum floor is MONOTONE — a later vacuum " +
       "with a lower floor cannot re-admit reclaimed pins (r12 advice)") {
    val root = store("graft_vacuum_monotone",
      Seq((10L, 0L, 0L, 1L, 5L), (11L, 1L, 0L, 2L, 6L)),
      Seq((11L, 1L, 0L, 9L, 1L)),
      Seq((10L, 0L, 0L, 8L, 2L)))
    // floor 2 reclaims g0's cell 0 (superseded by g2) and cell 1 (g1)
    assert(Layout.vacuum(root, floor = 2L) == Seq(0L, 1L))
    Layout.gc(root)
    assert(Layout.snapshot(root).floor == 2L)
    // a LOWER later floor must not lower the record: g0's data is gone,
    // so a pin-1 read of cell 0 would silently lose the row
    assert(Layout.vacuum(root, floor = 1L).isEmpty)
    assert(Layout.snapshot(root).floor == 2L,
      "vacuum lowered the recorded floor — reclaimed pins re-admitted")
    val e = intercept[IllegalArgumentException](pinnedAt(root, 1L))
    assert(e.getMessage.contains("vacuum floor"))
  }
}
