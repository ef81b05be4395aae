package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** q220 lifecycle properties:
  *  1. BUCKET-SET MINIMALITY per epoch: every fold touched exactly
  *     the buckets the admitted signatures' banded rows hash into,
  *     every takedown exactly the deleted signatures' buckets —
  *     mutation cost tracks the delta at every epoch, never the
  *     corpus.
  *  2. FOLD == REBUILD at EVERY epoch boundary: replaying the lane's
  *     own mutation trace against a fresh fork, the index row set
  *     after each fold/delete equals a from-scratch rebuild of the
  *     closed-form surviving set at that boundary.
  *  3. DELETE LIVENESS / FOLD LIVENESS through the card: every
  *     epoch-1 takedown's re-submission is admitted in epoch 2;
  *     every epoch-1 survivor's re-submission is rejected; epoch 3
  *     cycles both again.
  *  4. ERROR PATH of the overlapped epoch checkpoints: when the card
  *     job fails alone, the failure propagates only after the
  *     admitted job has finished, and the persisted handles are
  *     released.
  *  5. ERROR PATH of the admission itself: when one of its own
  *     build-time jobs (sigs, probe) fails, no persisted handle is
  *     left behind.
  */
class PipelineLifecycleSpec extends AnyFunSuite with SparkTestBase {
  import ops.PipelineOps

  test("q220: bucket minimality, per-boundary fold==rebuild, liveness") {
    val (card, trace, idx) = PipelineOps.pipelineLifecycleFull(spark, sf)
    val rows = card.collect()
    val kb = PipelineOps.indexBuckets(io.Layout.snapshot(idx))

    // ---- 1. bucket-set minimality per epoch ----
    def pbsOf(sigs: org.apache.spark.sql.DataFrame): Set[Long] =
      PipelineOps.indexRowsOf(sigs, kb).select("pb").distinct()
        .collect().map(_.getLong(0)).toSet
    trace.filter(_.epoch < 3).foreach { ep =>
      assert(ep.foldTouched.toSet == pbsOf(ep.admSigs),
        s"epoch ${ep.epoch}: fold touched ${ep.foldTouched.toSet} != " +
          s"admitted sigs' buckets ${pbsOf(ep.admSigs)}")
      assert(ep.delTouched.toSet == pbsOf(ep.tdSigs),
        s"epoch ${ep.epoch}: delete touched ${ep.delTouched.toSet} != " +
          s"takedown sigs' buckets ${pbsOf(ep.tdSigs)}")
    }

    // ---- 2. fold == rebuild at every epoch boundary ----
    val root = s"${System.getProperty("java.io.tmpdir")}/graft_lc_spec"
    Fixtures.clearDir(java.nio.file.Paths.get(root))
    val replay = s"$root/replay"
    io.Layout.fork(io.Layout.snapshot(PipelineOps.persistAdmissionIndex(spark, sf)), replay)
    def rowsFrom(df: org.apache.spark.sql.DataFrame)
        : Set[(Long, Long, Long, Long, String)] =
      df.select(col("doc_id"), col("band").cast("long"), col("key"),
                col("pb").cast("long"), concat_ws(",", col("sig")))
        .collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                   r.getString(4))).toSet
    def rowsOf(p: String): Set[(Long, Long, Long, Long, String)] =
      rowsFrom(io.Layout.snapshot(p).readAll(spark))
    var expected = PipelineOps.sharedBaseIndex(spark, sf)
    var boundary = 0
    def checkBoundary(what: String): Unit = {
      boundary += 1
      val twin = s"$root/rebuild$boundary"
      PipelineOps.writeAdmissionIndex(expected, twin, kb)
      assert(rowsOf(replay) == rowsOf(twin),
        s"boundary $boundary ($what): replayed index != from-scratch rebuild")
    }
    trace.filter(_.epoch < 3).foreach { ep =>
      PipelineOps.foldIntoAdmissionIndex(spark, replay, ep.admSigs)
      expected = expected.unionByName(ep.admSigs)
      checkBoundary(s"epoch ${ep.epoch} fold")
      PipelineOps.deleteFromAdmissionIndex(spark, replay, ep.tdSigs)
      expected = expected.join(ep.tdSigs.select("doc_id"),
        Seq("doc_id"), "left_anti")
      checkBoundary(s"epoch ${ep.epoch} takedown")
    }
    // the replayed final state equals the lane's own final artifact
    // (read through the fork's log: untouched buckets resolve into the
    // base, mutated ones into the fork's own data directories)
    assert(rowsOf(replay) == rowsOf(idx),
      "replayed mutation trace diverged from the lane's final index")

    // ---- 3. liveness through the card + trace ----
    val n = (e: Int) => rows.filter(_.getLong(0) == e)
    def tot(e: Int, col: Int): Long = n(e).map(_.getLong(col)).sum
    val adm1 = trace(0).admSigs.select("doc_id").collect().map(_.getLong(0)).toSet
    val td1 = adm1.filter(_ % 3 == 0)
    val adm2 = trace(1).admSigs.select("doc_id").collect().map(_.getLong(0)).toSet
    val td2 = adm2.filter(_ % 2 == 0)
    val adm3 = trace(2).admSigs.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(td1.nonEmpty && td2.nonEmpty, "degenerate fixture: empty takedown")
    // epoch 2: the admitted set IS the takedown re-submissions, the
    // rejected-dup set IS the survivor re-submissions
    assert(adm2 == td1.map(_ + PipelineOps.LcTd1ResubOffset),
      "epoch 2 admitted set != epoch-1 takedown re-submissions — " +
        "delete or fold not live")
    assert(tot(2, 7) == (adm1.size - td1.size).toLong,
      s"epoch 2 n_dup_vs_base ${tot(2, 7)} != survivors ${adm1.size - td1.size}")
    // epoch 3: the epoch-2 takedowns admit AGAIN; the epoch-2
    // survivors reject against their folded entries
    val td2Resubs = td2.map(_ + PipelineOps.LcTd2ResubOffset)
    assert(td2Resubs.subsetOf(adm3),
      "an epoch-2 takedown re-submission was rejected in epoch 3 — " +
        "the second delete was not live")
    assert(adm3.forall(id =>
        id < PipelineOps.LcSurv2ResubOffset || id >= PipelineOps.LcFreshOffset),
      "an epoch-2 SURVIVOR re-submission was admitted in epoch 3 — " +
        "the second fold was not live")
    // conservation per (epoch, source)
    rows.foreach { r =>
      assert(r.getLong(2) == (3 to 9).map(r.getLong).sum,
        s"conservation violated: $r")
    }
    Fixtures.clearDir(java.nio.file.Paths.get(root))
  }

  test("q220 epoch: a failing card awaits the admitted job and releases the handles") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
    val idx = PipelineOps.persistAdmissionIndex(spark, sf)
    // every delta id sits within 1e8 of Long.MaxValue, so a source with
    // two admissions overflows the card's admitted_checksum under ANSI;
    // the admitted relation does no arithmetic on ids and succeeds.
    // Reversed-token copies pass the gates and match no base entry.
    val off = Long.MaxValue - 100000000L
    val overflow = (d0: org.apache.spark.sql.DataFrame) =>
      d0.filter(col("doc_id") % 11 === 1)
        .select((col("doc_id") + off).as("doc_id"), col("source"),
          concat_ws(" ", reverse(split(col("text"), " "))).as("text"))
    val open = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val started = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (Option(j.properties).exists(_.getProperty(Steps.Key) == "admitted")) {
          open.add(j.jobId); started.incrementAndGet(); ()
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit = { open.remove(j.jobId); () }
    }
    def drain(): Unit =
      org.apache.spark.sql.graftbridge.drainListenerBus(spark.sparkContext)
    spark.catalog.clearCache()
    drain()
    spark.sparkContext.addSparkListener(l)
    val e = try intercept[Exception](PipelineOps.lcAdmit(spark, sf, idx, overflow))
      finally { drain(); spark.sparkContext.removeSparkListener(l) }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => String.valueOf(t.getMessage)).mkString("\n")
    assert(msgs.contains("ARITHMETIC_OVERFLOW"), s"not the card's overflow: $msgs")
    assert(started.get > 0, "the admitted checkpoint never ran")
    assert(open.isEmpty, s"admitted jobs $open still running when the epoch failed")
    assert(spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager.isEmpty, "persisted admission handles leaked")
  }

  test("q215 admission: a failing sigs or probe job leaves no persisted handle") {
    // the session-shared builds persist for every later admission;
    // build them before taking the snapshot
    PipelineOps.sharedBaseIndex(spark, sf)
    PipelineOps.benchGramSet(spark, sf)
    def persisted = spark.sparkContext.getPersistentRDDs.keySet.toSet
    val failText = udf { (t: String) =>
      if (t != null) throw new IllegalStateException("forced sigs failure")
      t
    }
    val failures = Seq(
      "sigs" -> (() => PipelineOps.pipelineIncrementFull(spark, sf,
        deltaOf = d0 => d0.filter(col("doc_id") % 11 === 1)
          .select(col("doc_id") + 1000000000L as "doc_id", col("source"),
            failText(col("text")) as "text"))),
      "probe" -> (() => PipelineOps.pipelineIncrementFull(spark, sf,
        idxVia = Some(_ => throw new IllegalStateException("forced probe failure")))))
    failures.foreach { case (step, run) =>
      val before = persisted
      val e = intercept[Exception](run())
      val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
        .map(t => String.valueOf(t.getMessage)).mkString("\n")
      assert(msgs.contains(s"forced $step failure"), s"$step: not the forced failure: $msgs")
      val leaked = persisted -- before
      assert(leaked.isEmpty, s"$step failure left persisted RDDs $leaked")
    }
  }
}
