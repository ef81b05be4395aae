package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q218 takedown-composite properties:
  *  1. BUCKET LIVENESS, both directions of "the index honors the
  *     curated state": some deleted docs are READMITTED on
  *     re-submission (their content left the index — the inverse of
  *     q215's always-rejected assertion) AND some are still rejected
  *     dup-vs-base (a surviving near-dup partner still covers their
  *     content — deletion of one group member must not open the door
  *     for its twin).
  *  2. CONSERVATION: per source, n_resub = quality + lang + pii +
  *     contam + dup_vs_base + dup_within + readmitted.
  *  3. TAKEDOWN IDENTITY: every effectively-removed doc re-submits
  *     cleanly (same text, same gates) and lands in exactly one
  *     admission bucket — n_taken_down = dup_vs_base + dup_within +
  *     readmitted per source.
  *  4. BEFORE/AFTER: n_final_after + n_taken_down equals q214's
  *     n_final per source (the card delta is exactly the takedown).
  *  5. ADMISSION SEMANTICS, per doc: a taken-down doc is rejected
  *     dup-vs-base iff the session-shared near-dup pair list links it
  *     to a doc that REMAINS in the post-takedown final set —
  *     recomputed independently from the cached pairs, not from the
  *     lane's own joins.
  *  6. TOMBSTONE CORRECTNESS: the tombstoned on-disk index holds
  *     exactly the pristine index's rows minus the deleted docs'.
  *  7. STEP-TAG COVERAGE: with the session artifacts prebuilt (the
  *     DevJobs/Bench contract), every job the lane launches carries a
  *     [[Steps]] tag — a new untagged action fails here.
  */
class PipelineTakedownSpec extends AnyFunSuite with SparkTestBase {

  test("q218: liveness, conservation, identities, per-doc semantics") {
    // ---- 7. every job of the lane carries a step tag ----
    Bench.prebuild(spark, sf)
    val tags = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        tags.add(Option(j.properties).flatMap(p => Option(p.getProperty(Steps.Key)))
          .getOrElse("(untagged)"))
        ()
      }
    }
    def drain(): Unit =
      org.apache.spark.sql.graftbridge.drainListenerBus(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(l)
    val card = try ops.PipelineOps.pipelineTakedown(spark, sf)
      finally { drain(); spark.sparkContext.removeSparkListener(l) }
    assert(!tags.isEmpty)
    assert(!tags.contains("(untagged)"), s"untagged q218 jobs; tags seen: $tags")

    val got = card.collect()
      .map(r => r.getString(0) -> (1 to 15).map(i =>
        if (i == 15) 0L else r.getLong(i)).toVector)
      .toMap

    def tot(i: Int): Long = got.values.map(_(i - 1)).sum
    // ---- 1. both admission directions fire ----
    assert(tot(8) > 0, "no deleted doc was readmitted — the tombstone is inert")
    assert(tot(6) > 0, "no deleted doc still matched a surviving near-dup " +
      "partner — the still-covered direction is untested on this fixture")
    assert(tot(11) > 0, "takedown removed nothing from the curated set")

    // ---- 2/3. conservation + takedown identity ----
    got.foreach { case (src, t) =>
      assert(t(0) == t(1) + t(2) + t(3) + t(4) + t(5) + t(6) + t(7),
        s"$src: resub buckets != n_resub: $t")
      assert(t(10) == t(5) + t(6) + t(7),
        s"$src: taken-down docs did not partition into " +
          s"dup_vs_base + dup_within + readmitted: $t")
    }

    // ---- 4. before/after against q214's card ----
    val before = ops.PipelineOps.pipelineComposite(spark, sf).collect()
      .map(r => r.getString(0) -> r.getLong(8)).toMap // n_final
    got.foreach { case (src, t) =>
      assert(t(11) + t(10) == before(src),
        s"$src: n_final_after ${t(11)} + n_taken_down ${t(10)} != " +
          s"q214 n_final ${before(src)}")
    }

    // ---- 5. per-doc semantics from the cached pair list ----
    val (audited, ndPairs) = ops.PipelineOps.sharedAuditedAndPairs(spark, sf)
    def isDel(id: Long): Boolean = id % 17 == 5 && id >= 20
    val fin = audited.filter(!col("is_bench") && !col("is_contam"))
      .select("doc_id", "source").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val finIds = fin.map(_._1).toSet
    val keptFinal = finIds.filterNot(isDel)
    val pairs = ndPairs.select("a", "b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val stillCovered = fin.filter { case (id, _) => isDel(id) }
      .filter { case (id, _) => pairs.exists { case (a, b) =>
        (a == id && keptFinal(b)) || (b == id && keptFinal(a)) } }
      .groupBy(_._2).map { case (s2, xs) => (s2, xs.length.toLong) }
    got.foreach { case (src, t) =>
      val expectDvb = stillCovered.getOrElse(src, 0L)
      assert(t(5) == expectDvb,
        s"$src: n_dup_vs_base ${t(5)} != pair-list recompute $expectDvb")
      assert(t(7) == t(10) - expectDvb,
        s"$src: n_readmitted ${t(7)} != taken ${t(10)} - covered $expectDvb")
    }

    // ---- 6. tombstoned index == pristine minus deleted (read through
    //         the clone-free fork's log) ----
    val pristine = ops.PipelineOps.persistAdmissionIndex(spark, sf)
    val tombstoned = ops.PipelineOps.takedownIndex(spark, sf)
    def rowsFrom(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long)] =
      df.select(col("doc_id"), col("band").cast("long"), col("key"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    def rowsOf(dir: String): Set[(Long, Long, Long)] =
      rowsFrom(io.Layout.snapshot(dir).readAll(spark))
    val want = rowsOf(pristine).filterNot { case (id, _, _) => isDel(id) }
    val gotRows = rowsOf(tombstoned)
    assert(gotRows == want,
      s"tombstoned index != pristine minus deletes: extra=" +
        s"${(gotRows -- want).take(3)}, missing=${(want -- gotRows).take(3)}")
  }
}
