package graft

import org.scalatest.funsuite.AnyFunSuite

/** q216 stream-pipeline properties:
  *  1. STREAM == BATCH: the streamed admission card equals q215's
  *     batch card row-for-row (both already share one oracle; this
  *     asserts it in-process too, on the exact same session).
  *  2. THREE micro-batches genuinely fired (maxFilesPerTrigger=1 over
  *     the three mtime-ordered slices).
  *  3. CROSS-BATCH STATE LIVENESS: at least one dup-within rejection
  *     lands in a LATER batch than the earliest clean arrival it can
  *     match — i.e. the accumulated index (the stream's state) did
  *     real work; a lane where every dup resolves within its own
  *     batch would never exercise it.
  *  4. A RE-RUN BATCH REPLACES ITS PARTITION: committing the same
  *     batch id twice to the accumulated index leaves its rows once.
  */
class StreamPipelineSpec extends AnyFunSuite with SparkTestBase {

  test("q216: stream == batch card, three batches, cross-batch index work") {
    val streamed = streaming.StreamingOps.streamPipelineIngest(spark, sf)
      .collect().map(_.toSeq).toSeq
    val batch = ops.PipelineOps.pipelineIncrement(spark, sf)
      .collect().map(_.toSeq).toSeq
    assert(streamed == batch,
      s"streamed card diverged from the batch card:\n$streamed\nvs\n$batch")

    val v = streaming.StreamingOps.spiVerdicts(spark, sf)
      .select("doc_id", "source", "bucket", "batch").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2), r.getLong(3)))
    assert(v.map(_._4).distinct.sorted.toSeq == Seq(0L, 1L, 2L),
      s"expected three micro-batches: ${v.map(_._4).distinct.sorted.toSeq}")

    // cross-batch liveness: some dup_within verdict must sit in a
    // batch AFTER the batch of the smallest admitted-or-clean doc —
    // conservatively: a dup_within in batch >= 1 whose id-range slice
    // guarantees every smaller doc arrived earlier
    val dw = v.filter(_._3 == "dup_within")
    assert(dw.nonEmpty, "dup_within never fired in the stream")
    assert(dw.exists(_._4 >= 1L),
      "every dup_within resolved within batch 0 — the accumulated " +
        s"index was never exercised: ${dw.toSeq}")
  }

  test("q216 seen store: a batch id committed twice reads back exactly once") {
    import spark.implicits._
    val dir = tempDir("graft_spi_seen").resolve("seen").toString
    val store0 = streaming.StreamingOps.createSeenStore(spark, dir)
    assert(store0.parts.isEmpty && store0.open(spark, Seq(0L)).count() == 0L)
    val sigs = Seq((10L, Seq(1L, 2L)), (11L, Seq(3L, 4L))).toDF("doc_id", "sig")
    val once = streaming.StreamingOps.commitSeen(store0, sigs, 0L)
    // the micro-batch re-executed after a restart: same id, same rows
    val twice = streaming.StreamingOps.commitSeen(once, sigs, 0L)
    val later = streaming.StreamingOps.commitSeen(twice,
      Seq((12L, Seq(5L, 6L))).toDF("doc_id", "sig"), 1L)
    val fresh = io.Layout.snapshot(dir)
    assert(fresh.version == later.version && fresh.parts.keySet == Set(0L, 1L))
    // batch 2's prior-arrival side: every committed batch below 2, once
    val prior = fresh.open(spark, fresh.parts.keys.filter(_ < 2L).toSeq)
      .select("doc_id", "sig").as[(Long, Seq[Long])].collect().sortBy(_._1).toSeq
    assert(prior == Seq((10L, Seq(1L, 2L)), (11L, Seq(3L, 4L)), (12L, Seq(5L, 6L))))
  }
}
