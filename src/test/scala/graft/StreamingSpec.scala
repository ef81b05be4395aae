package graft

import graft.streaming.StreamingOps
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite

class StreamingSpec extends AnyFunSuite with SparkTestBase {

  import StreamingOps.Evt

  private def ts(s: String) = java.sql.Timestamp.valueOf(s)

  test("streaming windowed agg == batch windowed agg on events") {
    val streamRes = StreamingOps.streamWindowed(spark, sf).collect()
    val batchRes = ops.EventOps.eventsWindow(spark, sf).collect()
    assert(streamRes.length == batchRes.length)
    streamRes.zip(batchRes).foreach { case (a, b) => assert(a == b) }
  }

  test("streaming sliding (hopping) windows == batch q94 on events") {
    val qname = "sliding_parity"
    val q = StreamingOps.streamingEvents(spark, sf)
      .groupBy(window(col("ts"), "10 minutes", "5 minutes"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
              col("event_type"), col("n"))
      .writeStream.outputMode("complete").format("memory").queryName(qname)
      .start()
    try q.processAllAvailable()
    finally q.stop()
    val stream = spark.table(qname).orderBy("wstart", "event_type").collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val batch = ops.SurfaceOps.slidingWindows(spark, sf).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(stream.toSeq == batch.toSeq)
  }

  test("streaming top-k: heap state merges correctly across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, Long, Double)]
    // the SHIPPED update function, not a copy — drift in the merge
    // logic fails this test, not just the slower oracle run
    val q = mem.toDS().map { case (k, id, v) => StreamingOps.KEvt(k, id, v) }
      .groupByKey(_.event_type)
      .mapGroupsWithState[StreamingOps.TopKState, StreamingOps.TopKEmit](
        GroupStateTimeout.NoTimeout)(StreamingOps.topKUpdate _)
      .writeStream.outputMode(OutputMode.Update)
      .format("memory").queryName("topk_batches").start()
    try {
      // batch 1: the eventual #2 and #4; batch 2: #1; batch 3: #3 + noise
      mem.addData(("a", 10L, 5.0), ("a", 11L, 2.0)); q.processAllAvailable()
      mem.addData(("a", 12L, 9.0), ("b", 20L, 1.0)); q.processAllAvailable()
      mem.addData(("a", 13L, 3.0), ("a", 14L, 0.5)); q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("topk_batches").as[StreamingOps.TopKEmit].collect()
    // one emission per key per batch it appeared in
    assert(rows.count(_.event_type == "a") == 3 && rows.count(_.event_type == "b") == 1)
    val finalA = rows.filter(_.event_type == "a").maxBy(_.n_seen)
    assert(finalA.n_seen == 5L)
    assert(finalA.ids == Seq(12L, 10L, 13L), s"got ${finalA.ids}")
    // state never holds more than k entries
    assert(rows.forall(_.ids.length <= StreamingOps.StreamK))
  }

  test("watermark + append mode drops late data past the watermark") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Double)]
    val agg = mem.toDF().toDF("ts", "value")
      .withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "5 minutes"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("wstart"), col("n"))
    val q = agg.writeStream.outputMode("append")
      .format("memory").queryName("wm_test").start()
    try {
      mem.addData((ts("2024-01-01 00:01:00"), 1.0), (ts("2024-01-01 00:02:00"), 2.0))
      q.processAllAvailable()
      // advance event time far beyond watermark → first window finalizes
      mem.addData((ts("2024-01-01 01:00:00"), 3.0))
      q.processAllAvailable()
      // late arrival for the long-closed first window → must be dropped
      mem.addData((ts("2024-01-01 00:03:00"), 4.0))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 02:00:00"), 5.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("wm_test").collect()
      .map(r => (r.getTimestamp(0).toString, r.getLong(1))).toMap
    // first window emitted with the 2 on-time rows only
    assert(rows.get("2024-01-01 00:00:00.0").contains(2L), s"got $rows")
  }

  test("streaming dedup: dropDuplicatesWithinWatermark suppresses dups in-window") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val dedup = mem.toDF().toDF("ts", "id")
      .withWatermark("ts", "10 minutes")
      .dropDuplicatesWithinWatermark("id")
    val q = dedup.writeStream.outputMode("append")
      .format("memory").queryName("dedup_test").start()
    try {
      mem.addData((ts("2024-01-01 00:01:00"), 1L), (ts("2024-01-01 00:02:00"), 2L))
      q.processAllAvailable()
      // duplicate id inside the watermark window → suppressed
      mem.addData((ts("2024-01-01 00:03:00"), 1L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:04:00"), 3L))
      q.processAllAvailable()
    } finally q.stop()
    val ids = spark.table("dedup_test").collect().map(_.getLong(1)).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L), s"got ${ids.toSeq}")
  }

  test("stream-static enrichment join (streaming events × dimension table)") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "tier")
    val mem = MemoryStream[(java.sql.Timestamp, Long, Double)]
    val joined = mem.toDF().toDF("ts", "user_id", "value")
      .join(dim, Seq("user_id"), "left")
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("enrich_test").start()
    try {
      mem.addData((ts("2024-01-01 00:00:00"), 1L, 10.0),
                  (ts("2024-01-01 00:01:00"), 3L, 20.0))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("enrich_test").collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(3)) "<none>" else r.getString(3))).toMap
    assert(rows == Map(1L -> "gold", 3L -> "<none>"))
  }

  test("checkpoint recovery: restart resumes exactly-once from the sink+checkpoint") {
    import spark.implicits._
    val srcDir = tempDir("graft_ckpt_src").toString
    val outDir = tempDir("graft_ckpt_out").toString
    val ckptDir = tempDir("graft_ckpt_meta").toString
    def writeBatch(name: String, vals: Seq[Long]): Unit =
      vals.toDF("v").coalesce(1).write.mode("overwrite").parquet(s"$srcDir/$name")
    def startQuery() = spark.readStream
      .schema(org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType))))
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$srcDir/*")
      .writeStream
      .option("checkpointLocation", ckptDir)
      .format("parquet")
      .option("path", outDir)
      .outputMode("append")
      .start()

    writeBatch("b1", Seq(1L, 2L))
    val q1 = startQuery()
    try q1.processAllAvailable() finally q1.stop()
    // new data arrives while the query is DOWN
    writeBatch("b2", Seq(3L, 4L))
    // restart from the same checkpoint: must pick up ONLY b2 — the
    // file-source log + sink commit log give exactly-once across the
    // stop/start boundary
    val q2 = startQuery()
    try q2.processAllAvailable() finally q2.stop()
    val rows = spark.read.parquet(outDir).collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L, 4L),
      s"restart lost or duplicated rows: ${rows.toSeq}")
  }

  test("q129 leaves no checkpoint or staging directory under java.io.tmpdir") {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    def entries(): Set[String] = tmp.listFiles().map(_.getName)
      .filter(n => n.startsWith("graft_ckpt") || n.startsWith("graft_stage")).toSet
    // the marker-guarded landing directory of the staged events is the
    // one entry q129 keeps
    val staged = s"graft_ckpt_src_${Integer.toHexString(sf.hashCode)}"
    val before = entries()
    (1 to 2).foreach(_ => StreamingOps.checkpointRecovery(spark, sf).collect())
    assert(entries() -- before -- Set(staged) == Set.empty)
  }

  test("foreachBatch sink: batchId-keyed writes are idempotent under replay") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val outDir = tempDir("graft_fb_sink").toString
    val mem = MemoryStream[(java.sql.Timestamp, Long)]
    val seen = scala.collection.mutable.ListBuffer[Long]()
    val q = mem.toDF().toDF("ts", "v").writeStream
      .foreachBatch { (batch: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
                       batchId: Long) =>
        seen += batchId
        // the exactly-once recipe: deterministic per-batch target +
        // overwrite — replaying a batch after a crash rewrites the same
        // files instead of duplicating rows
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
        // simulate the replay: writing the same batch again must be a no-op
        batch.write.mode("overwrite").parquet(s"$outDir/batch_id=$batchId")
      }
      .start()
    try {
      mem.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:01:00"), 2L))
      q.processAllAvailable()
      mem.addData((ts("2024-01-01 00:02:00"), 3L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.read.parquet(outDir).select("v").collect().map(_.getLong(0)).sorted
    assert(rows.toSeq == Seq(1L, 2L, 3L), s"replayed writes must not duplicate: ${rows.toSeq}")
    assert(seen.nonEmpty)
  }

  test("stream-stream join: watermarked interval join of two event streams") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // impressions joined to clicks that happen within 10 minutes after —
    // both sides watermarked so join state is evictable (the only
    // stream-stream join shape that is bounded on an unbounded stream)
    val imps = MemoryStream[(java.sql.Timestamp, Long)]
    val clicks = MemoryStream[(java.sql.Timestamp, Long)]
    val i = imps.toDF().toDF("its", "ad_id").withWatermark("its", "20 minutes")
    val c = clicks.toDF().toDF("cts", "cad_id").withWatermark("cts", "20 minutes")
    val joined = i.join(c,
      expr("ad_id = cad_id AND cts >= its AND cts <= its + INTERVAL 10 MINUTES"))
    val q = joined.writeStream.outputMode("append")
      .format("memory").queryName("ssj_test").start()
    try {
      imps.addData((ts("2024-01-01 00:00:00"), 1L), (ts("2024-01-01 00:00:00"), 2L))
      q.processAllAvailable()
      // click on ad 1 within the window; click on ad 2 far outside it
      clicks.addData((ts("2024-01-01 00:05:00"), 1L),
                     (ts("2024-01-01 01:00:00"), 2L))
      q.processAllAvailable()
    } finally q.stop()
    val rows = spark.table("ssj_test").collect().map(_.getLong(1))
    assert(rows.toSeq == Seq(1L), s"got ${rows.toSeq}")
  }

  test("streaming sessionizer: batch-spanning session emitted exactly once") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Evt]
    val sessions = StreamingOps.sessionizeStreaming(
      mem.toDS().withWatermark("ts", "0 seconds").as[StreamingOps.Evt],
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_stream").start()
    try {
      // session for user 1 opens in batch 1...
      mem.addData(Evt(1, ts("2024-01-01 00:00:00"), 1.0),
                  Evt(1, ts("2024-01-01 00:04:00"), 2.0))
      q.processAllAvailable()
      // ...and CONTINUES in batch 2 (gap 3min < 10min) — the batch-mode
      // variant would have emitted it already in batch 1 and again here
      mem.addData(Evt(1, ts("2024-01-01 00:07:00"), 3.0))
      q.processAllAvailable()
      // advance the watermark far past last+gap via another key → the
      // open session times out and flushes exactly once
      mem.addData(Evt(2, ts("2024-01-01 01:00:00"), 9.0))
      q.processAllAvailable()
      mem.addData(Evt(2, ts("2024-01-01 02:00:00"), 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("sess_stream").collect()
      .filter(_.getLong(0) == 1L)
      .map(r => (r.getTimestamp(1).toString, r.getInt(2), r.getDouble(3)))
    assert(u1.toSeq == Seq(("2024-01-01 00:00:00.0", 3, 6.0)), s"got ${u1.toSeq}")
  }

  test("streaming sessionizer: late in-gap event does not rewind or split the session") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Evt]
    // generous watermark delay so the late event is NOT dropped
    val sessions = StreamingOps.sessionizeStreaming(
      mem.toDS().withWatermark("ts", "30 minutes").as[StreamingOps.Evt],
      gapMs = 10 * 60 * 1000)
    val q = sessions.writeStream.outputMode("append")
      .format("memory").queryName("sess_ooo").start()
    try {
      mem.addData(Evt(1, ts("2024-01-01 00:00:00"), 1.0),
                  Evt(1, ts("2024-01-01 00:09:00"), 2.0))
      q.processAllAvailable()
      // LATE event (00:02, older than state.last=00:09) — merging it
      // must not rewind `last`, or the next on-time event would split
      mem.addData(Evt(1, ts("2024-01-01 00:02:00"), 3.0))
      q.processAllAvailable()
      mem.addData(Evt(1, ts("2024-01-01 00:15:00"), 4.0))
      q.processAllAvailable()
      // push the watermark far past last+gap to flush
      mem.addData(Evt(2, ts("2024-01-01 03:00:00"), 9.0))
      q.processAllAvailable()
      mem.addData(Evt(2, ts("2024-01-01 06:00:00"), 9.0))
      q.processAllAvailable()
    } finally q.stop()
    val u1 = spark.table("sess_ooo").collect()
      .filter(_.getLong(0) == 1L)
      .map(r => (r.getTimestamp(1).toString, r.getInt(2), r.getDouble(3)))
    // ONE session 00:00..00:15 with all 4 events — session_window
    // semantics (00:09→00:15 gap is 6min <= 10min)
    assert(u1.toSeq == Seq(("2024-01-01 00:00:00.0", 4, 10.0)), s"got ${u1.toSeq}")
  }

  test("flatMapGroupsWithState sessionizer (batch mode) == session_window") {
    import spark.implicits._
    val events = Seq(
      Evt(1, ts("2024-01-01 00:00:00"), 1.0),
      Evt(1, ts("2024-01-01 00:05:00"), 2.0),
      Evt(1, ts("2024-01-01 00:30:00"), 3.0), // gap 25min → new session
      Evt(2, ts("2024-01-01 00:00:00"), 4.0),
      Evt(2, ts("2024-01-01 00:10:00"), 5.0)  // gap exactly 10min → MERGED
    ).toDS()
    val got = StreamingOps.sessionize(events, gapMs = 10 * 60 * 1000)
      .collect().map(s => (s.user_id, s.session_start.toString, s.n_events, s.sum_value))
      .sortBy(x => (x._1, x._2))
    assert(got.toSeq == Seq(
      (1L, "2024-01-01 00:00:00.0", 2, 3.0),
      (1L, "2024-01-01 00:30:00.0", 1, 3.0),
      (2L, "2024-01-01 00:00:00.0", 2, 9.0)))

    // cross-check against the built-in session_window on the same data
    val sw = events.toDF()
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n"))
      .select(col("user_id"), col("session_window.start").as("st"), col("n"))
      .collect().map(r => (r.getLong(0), r.getTimestamp(1).toString, r.getLong(2).toInt))
      .sortBy(x => (x._1, x._2))
    assert(sw.toSeq == got.map(x => (x._1, x._2, x._3)).toSeq)
  }

  test("q170 stream token meter == batch encode of the delta with the corpus-trained vocab") {
    import org.apache.spark.sql.functions._
    val got = streaming.StreamingOps.streamTokenMeter(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    // batch twin: same corpus-slice training, same delta encode
    val (wsyms, handle) =
      ops.TextOps.bpeTrainedVocab(spark, sf, col("doc_id") % 5 =!= 4)
    val want = Tables.documents(spark, sf).filter(col("doc_id") % 5 === 4)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .join(broadcast(wsyms), Seq("w"), "left")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"),
           sum(coalesce(col("n_sym"), length(col("w")).cast("long"))).as("n_tokens"),
           sum(length(col("w")).cast("long")).as("n_chars"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    handle.unpersist(false)
    assert(got == want, "stream output != batch encode")
    // the stream's docs never trained the vocab; counts still cover all delta docs
    val nDelta = Tables.documents(spark, sf)
      .filter(col("doc_id") % 5 === 4).count()
    assert(got.size.toLong == nDelta)
  }

  test("q173 stream vector ingest == batch residual coding of the arrival slice") {
    import org.apache.spark.sql.functions._
    // the stream carries its centroid index as a one-row stream-static
    // BROADCAST side (broadcast data, not plan literals) and
    // encodes with a map-side argmin per arriving vector; the batch
    // twin encodes via the q172 broadcast-join plan — same semantics,
    // different physical path, so agreement checks routing, residuals,
    // codes and errors end to end
    val got = streaming.StreamingOps.streamVectorIngest(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq
    val want = ops.SimilarityOps
      .residualCodesBatch(spark, sf, col("vec_id") % 7 === 3).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq
    assert(got == want, "stream codes != batch residual codes")
    val nDelta = Tables.embeddings(spark, sf).filter(col("vec_id") % 7 === 3).count()
    assert(got.size.toLong == nDelta * ops.SimilarityOps.PqM)
  }

  test("q180 stream ANN serving == batch probe-and-score of the arrival slice") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    // the stream routes via the broadcast kit + stream-static cell
    // join; the batch twin routes via ivfRoutingRankedFor's n×k
    // cross-join plan — same doubles, different physical path
    val got = streaming.StreamingOps.streamAnnQuery(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSeq
    val all = ops.SimilarityOps.baseFor(spark, sf).persist()
    val k = ops.SimilarityOps.ivfKFor(all.count())
    val (assigned, probesR) = ops.SimilarityOps.ivfRoutingRankedFor(
      all, k, ops.SimilarityOps.IvfProbes, col("vec_id") % 7 === 5)
    val w = Window.partitionBy("qid").orderBy(col("cos_r").desc, col("vec_id").asc)
    val want = ops.SimilarityOps.scoreProbedOn(assigned, probesR.drop("crn"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= ops.SimilarityOps.TopK)
      .orderBy("qid", "rn").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3).toLong)).toSeq
    all.unpersist(false)
    assert(got == want, "stream serving != batch probe-and-score")
    val nQ = Tables.embeddings(spark, sf).filter(col("vec_id") % 7 === 5).count()
    assert(got.map(_._1).distinct.size.toLong == nQ,
      "every arriving query must be answered")
  }

  test("q193 mid-stream swap: batch 0 serves gen 0, batch 1 serves gen 1, snapshot-consistent") {
    import org.apache.spark.sql.functions._
    val rows = streaming.StreamingOps.streamVersionedServe(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(3))) // (gen, qid, vec_id)
    val gens = rows.map(_._1).distinct.sorted.toSeq
    assert(gens == Seq(0, 1),
      s"expected both generations to serve, saw $gens — the two-file " +
        "batch split or the mid-stream commit did not happen")
    // the deterministic arrival split: evens in batch 0 (gen 0), odds
    // in batch 1 (gen 1)
    assert(rows.filter(_._1 == 0).forall(_._2 % 2 == 0),
      "an odd-qid arrival was served from the gen-0 snapshot")
    assert(rows.filter(_._1 == 1).forall(_._2 % 2 == 1),
      "an even-qid arrival was served from generation 1")
    // the swap is OBSERVABLE in the data: the gen-0 snapshot predates
    // the delta fold, so no batch-0 fetch may contain a delta posting,
    // while gen-1 fetches must surface some (the probed cells all
    // received delta vectors at this sf)
    assert(rows.filter(_._1 == 0).forall(_._3 % 7 != 3),
      "a gen-0 fetch returned a posting from the not-yet-folded delta")
    assert(rows.exists(t => t._1 == 1 && t._3 % 7 == 3),
      "no gen-1 fetch surfaced any folded delta posting — the swap " +
        "served stale data")
  }

  test("q173 index metadata rides as broadcast DATA, not plan literals (r10)") {
    // the scale-killer fence: at the 50k-cell cap the centroid
    // table is ~25 MB — as a plan literal that breaks codegen's
    // constant pool; as a broadcast side it is routine. Guard that the
    // one-row kit relation joins in as a BroadcastHashJoin and that
    // the analyzed stream plan does not embed a centroid-table-sized
    // literal array.
    val (kitDf, _) = ops.SimilarityOps.ingestCoderKitDf(spark, sf)
    import org.apache.spark.sql.functions._
    val kitRow = kitDf.collect()
    assert(kitRow.length == 1, "index metadata must be a one-row relation")
    val nCells = kitRow.head.getSeq[Any](0).size
    assert(nCells >= 16, s"kit should carry the full centroid table, got $nCells")
    // the batch twin of the stream stage plans the same broadcast join
    val plan = Tables.embeddings(spark, sf)
      .select(col("vec_id"), col("embedding").as("v"))
      .withColumn("jk", lit(1))
      .join(broadcast(kitDf.withColumn("jk", lit(1))), Seq("jk"))
      .queryExecution.executedPlan.toString
    // Catalyst constant-folds the lit(1) key, so the batch plan may
    // come out as BroadcastNestedLoopJoin instead of BroadcastHashJoin
    // — either way the kit side is a BroadcastExchange, which is the
    // property under guard (metadata broadcast, never shuffled)
    assert(plan.contains("BroadcastHashJoin")
        || plan.contains("BroadcastNestedLoopJoin"),
      s"kit join not broadcast:\n$plan")
    assert(plan.contains("BroadcastExchange"), s"kit side not broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"kit join degraded:\n$plan")
  }
}
