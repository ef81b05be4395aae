package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.SimilarityOps

/** q191 versioned-manifest properties the oracle can't see: full-index
  * (not just probed-cell) snapshot equality under both pins, the
  * atomic-commit property (an UNCOMMITTED generation is invisible even
  * though its data files are fully written), and the cross-generation
  * resolution a pin-1 read performs.
  */
class VersionSpec extends AnyFunSuite with SparkTestBase {

  private def dir = SimilarityOps.versionDir(sf)

  private def allCells(): Seq[Long] =
    spark.read.parquet(s"$dir/manifest")
      .select("cell").distinct().collect().map(_.getLong(0)).sorted.toSeq

  private def pinned(pin: Int): Seq[(Long, Long, Long, Long, Long)] =
    SimilarityOps.genPinnedRead(spark, dir, pin, allCells())
      .orderBy("vec_id", "s", "cell").collect()
      .map(r => (r.getLong(1), r.getLong(0), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq

  private def rebuilt(pred: org.apache.spark.sql.Column) =
    SimilarityOps.residualCodesBatch(spark, sf, pred)
      .select("vec_id", "cell", "s", "code", "err_e6")
      .orderBy("vec_id", "s", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq

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
    val committed = java.nio.file.Paths.get(dir, "manifest", "gen=1")
    val aside = java.nio.file.Paths.get(dir, "manifest_gen1_aside")
    // simulate the pre-commit moment: g1's DATA files are fully
    // written, but its manifest rows are not yet visible
    java.nio.file.Files.move(committed, aside)
    try {
      assert(pinned(1) == pinned(0),
        "a reader observed generation-1 data before its manifest commit")
    } finally java.nio.file.Files.move(aside, committed)
  }

  test("a pin-1 read genuinely spans generations (manifest resolution, not a dir read)") {
    // at the test sf the 1/7 delta touches every cell, so the real
    // fixture can't witness mixed ownership — drive the resolution
    // logic on a synthetic two-generation index where cell 0 stays
    // owned by g0 and cell 1 is rewritten by g1
    import spark.implicits._
    val root = tempDir("graft_genspec_").toString
    def codes(rows: Seq[(Long, Long, Long, Long, Long)]) =
      rows.toDF("vec_id", "cell", "s", "code", "err_e6")
    codes(Seq((10L, 0L, 0L, 1L, 5L), (11L, 1L, 0L, 2L, 6L)))
      .write.partitionBy("cell").parquet(s"$root/g0")
    codes(Seq((11L, 1L, 0L, 9L, 7L), (12L, 1L, 0L, 3L, 8L)))
      .write.partitionBy("cell").parquet(s"$root/g1")
    Seq((0L, "g0"), (1L, "g0")).toDF("cell", "dir")
      .write.parquet(s"$root/manifest/gen=0")
    Seq((1L, "g1")).toDF("cell", "dir")
      .write.parquet(s"$root/manifest/gen=1")
    def read(pin: Int) =
      SimilarityOps.genPinnedRead(spark, root, pin, Seq(0L, 1L))
        .orderBy("cell", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSeq
    // pin 0: both cells from g0
    assert(read(0) == Seq((0L, 10L, 1L), (1L, 11L, 2L)))
    // pin 1: cell 0 still resolves to g0, cell 1 to g1 — one read,
    // two generation directories
    assert(read(1) == Seq((0L, 10L, 1L), (1L, 11L, 9L), (1L, 12L, 3L)))
    // and the REAL fixture's fold must at least be non-trivial
    SimilarityOps.indexVersions(spark, sf).collect()
    val g1Cells = spark.read.parquet(s"$dir/manifest")
      .filter(col("gen") === 1).count()
    assert(g1Cells > 0, "the delta touched no cells — the fold tested nothing")
  }

  test("re-entrant call is idempotent (marker-guarded: no double fold, no new generation)") {
    SimilarityOps.indexVersions(spark, sf).collect()
    val first = pinned(1)
    val gens = java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "manifest")).count()
    SimilarityOps.indexVersions(spark, sf).collect()
    assert(pinned(1) == first)
    assert(java.nio.file.Files.list(
      java.nio.file.Paths.get(dir, "manifest")).count() == gens)
  }

  // ------------------------------------------------------------------
  // q210: the generation vacuum
  // ------------------------------------------------------------------

  test("q210: vacuum mid-flight — a pin-1 read resolved BEFORE the " +
       "vacuum completes unchanged after gen-0 data is reclaimed") {
    val root = SimilarityOps.cloneVersionStore(spark, sf)
    def cells(): Seq[Long] = spark.read.parquet(s"$root/manifest")
      .select("cell").distinct().collect().map(_.getLong(0)).sorted.toSeq
    val want = SimilarityOps.genPinnedRead(spark, root, 1, cells())
      .orderBy("vec_id", "s", "cell").collect().toSeq
    // the IN-FLIGHT read: owner resolution (the manifest collect)
    // happens at build time, BEFORE the vacuum deletes anything...
    val inFlight = SimilarityOps.genPinnedRead(spark, root, 1, cells())
      .orderBy("vec_id", "s", "cell")
    val reclaimed = SimilarityOps.vacuumTo(spark, root, floor = 1)
    assert(reclaimed.nonEmpty, "vacuum reclaimed nothing — inert fixture")
    // ...and the fetch happens here, AFTER: it must still serve exactly
    assert(inFlight.collect().toSeq == want,
      "an in-flight pin-1 read changed under the vacuum")
    // a FRESH post-vacuum read agrees too (the lane's oracle property)
    assert(SimilarityOps.genPinnedRead(spark, root, 1, cells())
      .orderBy("vec_id", "s", "cell").collect().toSeq == want)
  }

  test("q210: pins below the recorded floor refuse loudly") {
    val root = SimilarityOps.cloneVersionStore(spark, sf)
    SimilarityOps.vacuumTo(spark, root, floor = 1)
    val cells = spark.read.parquet(s"$root/manifest")
      .select("cell").distinct().collect().map(_.getLong(0)).sorted.toSeq
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.genPinnedRead(spark, root, 0, cells)
    }
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
    // clone-free entry: the lane owns only a manifest + floor;
    // the pristine store is the data root and must stay intact
    val hex = java.lang.Integer.toHexString(sf.hashCode)
    val laneRoot = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_svvac_$hex")
    val pristine = SimilarityOps.versionDir(sf)
    assert(!java.nio.file.Files.exists(laneRoot.resolve("store")),
      "lane still materializes a store copy — entry is not clone-free")
    assert(java.nio.file.Files.exists(laneRoot.resolve("_VACUUM_FLOOR")),
      "vacuum floor was never recorded — the online vacuum did not run")
    // superseded gen-0 rows are really gone FROM THE LANE MANIFEST:
    // every cell gen 1 owns must have lost its gen-0 manifest row
    // (the metadata half of the vacuum; the physical half is proven
    // on spec-local copies by the q210 tests above)
    val laneManifest = s"$laneRoot/manifest"
    val g1Cells = spark.read.parquet(laneManifest)
      .filter(org.apache.spark.sql.functions.col("gen") === 1)
      .select("cell").collect().map(_.getLong(0))
    assert(g1Cells.nonEmpty)
    val g0Cells = spark.read.parquet(laneManifest)
      .filter(org.apache.spark.sql.functions.col("gen") === 0)
      .select("cell").collect().map(_.getLong(0)).toSet
    g1Cells.foreach { c =>
      assert(!g0Cells.contains(c),
        s"superseded gen-0 manifest row for cell=$c survived the online vacuum")
    }
    // the pristine store's own gen-0 data is untouched (shared fixture)
    g1Cells.foreach { c =>
      assert(java.nio.file.Files.exists(
          java.nio.file.Paths.get(pristine, "g0", s"cell=$c")),
        s"the clone-free vacuum deleted pristine data: g0/cell=$c")
    }
    // and sub-floor pins refuse on the live lane manifest
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.manifestPinnedRead(spark,
        laneManifest, pristine, 0, Seq(g1Cells.head))
    }
    assert(e.getMessage.contains("vacuum floor"))
  }

  test("q210: the vacuum is CELL-granular — generations still serving " +
       "untouched cells keep exactly those partitions") {
    import spark.implicits._
    // synthetic store: g0 owns cells 0,1,2; g1 supersedes ONLY cell 1
    // (the real fixture's delta touches every cell at test sf, so the
    // partial-survival property needs a controlled store)
    val root = tempDir("graft_vacuum_cellgran").toString
    def writeGen(dir: String, rows: Seq[(Long, Long, Long, Long, Long)]): Unit =
      rows.toDF("vec_id", "s", "code", "err_e6", "cell")
        .write.partitionBy("cell").mode("overwrite").parquet(s"$root/$dir")
    writeGen("g0", Seq((10L, 0L, 1L, 5L, 0L), (11L, 0L, 2L, 6L, 1L),
                       (12L, 0L, 3L, 7L, 2L)))
    writeGen("g1", Seq((11L, 0L, 9L, 1L, 1L))) // cell 1 rewritten
    Seq((0L, "g0"), (1L, "g0"), (2L, "g0")).toDF("cell", "dir").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest/gen=0")
    Seq((1L, "g1")).toDF("cell", "dir").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest/gen=1")
    val reclaimed = SimilarityOps.vacuumTo(spark, root, floor = 1)
    assert(reclaimed == Seq(1L), s"expected only cell 1 reclaimed: $reclaimed")
    assert(!java.nio.file.Files.exists(
      java.nio.file.Paths.get(root, "g0", "cell=1")))
    Seq(0L, 2L).foreach { c =>
      assert(java.nio.file.Files.exists(
        java.nio.file.Paths.get(root, "g0", s"cell=$c")),
        s"untouched cell $c was wrongly reclaimed")
    }
    // the pin-1 read still spans generations: cell 1 from g1, rest g0
    val got = SimilarityOps.genPinnedRead(spark, root, 1, Seq(0L, 1L, 2L))
      .select("cell", "vec_id", "code").orderBy("cell")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == Seq((0L, 10L, 1L), (1L, 11L, 9L), (2L, 12L, 3L)))
  }

  test("q210: the recorded vacuum floor is MONOTONE — a later vacuum " +
       "with a lower floor cannot re-admit reclaimed pins (r12 advice)") {
    import spark.implicits._
    val root = tempDir("graft_vacuum_monotone").toString
    def writeGen(dir: String, rows: Seq[(Long, Long, Long, Long, Long)]): Unit =
      rows.toDF("vec_id", "s", "code", "err_e6", "cell")
        .write.partitionBy("cell").mode("overwrite").parquet(s"$root/$dir")
    writeGen("g0", Seq((10L, 0L, 1L, 5L, 0L), (11L, 0L, 2L, 6L, 1L)))
    writeGen("g1", Seq((11L, 0L, 9L, 1L, 1L)))
    writeGen("g2", Seq((10L, 0L, 8L, 2L, 0L)))
    Seq((0L, "g0"), (1L, "g0")).toDF("cell", "dir").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest/gen=0")
    Seq((1L, "g1")).toDF("cell", "dir").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest/gen=1")
    Seq((0L, "g2")).toDF("cell", "dir").coalesce(1)
      .write.mode("overwrite").parquet(s"$root/manifest/gen=2")
    // floor 2 reclaims g0/cell=0 (superseded by g2) and g0/cell=1 (g1)
    SimilarityOps.vacuumTo(spark, root, floor = 2)
    val floorPath = java.nio.file.Paths.get(root, "_VACUUM_FLOOR")
    assert(new String(java.nio.file.Files.readAllBytes(floorPath)).trim == "2")
    // a LOWER later floor must not lower the record: g0's data is gone,
    // so a pin-1 read of cell 0 would silently lose the row
    SimilarityOps.vacuumTo(spark, root, floor = 1)
    assert(new String(java.nio.file.Files.readAllBytes(floorPath)).trim == "2",
      "vacuumTo lowered the recorded floor — reclaimed pins re-admitted")
    val e = intercept[IllegalArgumentException] {
      SimilarityOps.genPinnedRead(spark, root, 1, Seq(0L))
    }
    assert(e.getMessage.contains("vacuum floor"))
  }
}
