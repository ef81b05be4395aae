package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.SimilarityOps

/** q182 LSM compaction held against its ground truth: merging the q173
  * arrival delta into the base layout must be HASH-INDISTINGUISHABLE
  * from rebuilding the whole index from scratch — over ALL cells, not
  * just the probed ones the registered lane returns (the oracle
  * already pins those). Plus the marker-idempotence property: a
  * re-entrant call must not double-insert the delta.
  */
class CompactionSpec extends AnyFunSuite with SparkTestBase {

  private def readAll() =
    io.Layout.snapshot(SimilarityOps.compactionDir(sf)).readAll(spark)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
              col("s"), col("code"), col("err_e6"))
      .orderBy("vec_id", "s", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq

  test("compacted index == full rebuild, over ALL cells") {
    SimilarityOps.indexCompaction(spark, sf).collect() // build + compact
    val got = readAll()
    val want = SimilarityOps.residualCodesBatch(spark, sf, lit(true))
      .select("vec_id", "cell", "s", "code", "err_e6")
      .orderBy("vec_id", "s", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq
    assert(got.size == want.size,
      s"row-count drift: compacted ${got.size} vs rebuild ${want.size}")
    assert(got == want, "compaction is distinguishable from a full rebuild")
  }

  test("compaction is idempotent: a second call must not re-apply the delta") {
    SimilarityOps.indexCompaction(spark, sf).collect()
    val first = readAll()
    SimilarityOps.indexCompaction(spark, sf).collect()
    assert(readAll() == first, "re-entrant compaction mutated the index")
  }

  test("q188 STREAM-ingested delta folds to the same index as the rebuild, over ALL cells") {
    // q182 proves the fold against a batch-derived delta; q188's delta
    // is literally the q173 stream's appended postings — the whole
    // maintenance loop (stream-ingest L0 files, prune, fold) must
    // still be hash-indistinguishable from a from-scratch rebuild
    streaming.StreamingOps.streamIngestCompact(spark, sf).collect() // ensure fold
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_slsmidx_" +
      java.lang.Integer.toHexString(sf.hashCode)
    val got = io.Layout.snapshot(dir).readAll(spark)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
              col("s"), col("code"), col("err_e6"))
      .orderBy("vec_id", "s", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq
    val want = SimilarityOps.residualCodesBatch(spark, sf, lit(true))
      .select("vec_id", "cell", "s", "code", "err_e6")
      .orderBy("vec_id", "s", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq
    assert(got == want,
      "stream-ingested fold is distinguishable from a full rebuild")
  }

  test("q185 serve-from-compacted-disk == q172 serve-from-memory, byte for byte") {
    // the lifecycle stitch: the ADC scores are integer LUT sums
    // (order-independent), so reading the codes from the compacted
    // layout must reproduce q172's in-memory results exactly
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val disk = rows(SimilarityOps.adcServeFromDisk(spark, sf))
    val mem = rows(SimilarityOps.ivfPqResidual(spark, sf))
    assert(disk == mem, "compacted-disk serving drifted from the in-memory lane")
  }

  test("the delta is genuinely non-trivial at this sf (slice non-empty, cells a strict subset)") {
    val delta = SimilarityOps.compactionDeltaFor(spark, sf)
    val deltaCells = delta.select("cell").distinct().count()
    val n = delta.count()
    assert(n > 0, "empty arrival slice — the lane tests nothing")
    val totalCells = io.Layout.snapshot(SimilarityOps.compactionDir(sf)).parts.size.toLong
    assert(deltaCells <= totalCells)
  }
}
