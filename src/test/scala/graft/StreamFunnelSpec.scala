package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q204 held to the streaming battery's standard: the stream must equal
  * the batch twin row-for-row, and the statefulness must be REAL — the
  * state machine has to advance across micro-batch boundaries, not
  * complete inside one batch.
  */
class StreamFunnelSpec extends AnyFunSuite with SparkTestBase {

  test("stream == batch funnel, row for row") {
    val stream = streaming.StreamingOps.streamFunnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = ops.EventOps.funnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stream == batch)
  }

  test("the state machine genuinely advances across micro-batches") {
    streaming.StreamingOps.streamFunnel(spark, sf).collect()
    val hex = java.lang.Integer.toHexString(sf.hashCode)
    // Update-mode memory sink: one progress row per (user, batch) —
    // a user whose DISTINCT progress rows differ advanced across
    // batch boundaries
    val emissions = spark.table(s"graft_funnel_$hex")
      .groupBy("user_id")
      .agg(countDistinct(struct(col("t1"), col("t2"), col("t3"))).as("n_states"),
           count(lit(1)).as("n_emits"))
      .collect()
    assert(emissions.exists(_.getLong(2) >= 2L),
      "every user appeared in only one batch — the slicing never spans a user")
    assert(emissions.exists(_.getLong(1) >= 2L),
      "no user's state ever advanced across a batch boundary — the funnel " +
        "completed within single batches; the staged slices are degenerate")
  }

  test("progress is set-once monotone across emissions (the max-reduction's premise)") {
    streaming.StreamingOps.streamFunnel(spark, sf).collect()
    val hex = java.lang.Integer.toHexString(sf.hashCode)
    val perUser = spark.table(s"graft_funnel_$hex")
      .collect().map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3))))
      .groupBy(_._1)
    perUser.values.foreach { rows =>
      // all non-(-1) values of each field agree: set once, never changed
      Seq[((Long, Long, Long)) => Long](_._1, _._2, _._3).foreach { f =>
        val set = rows.map(r => f(r._2)).filter(_ >= 0).distinct
        assert(set.size <= 1, s"a progress field changed after being set: $rows")
      }
    }
  }

  // ------------------------------------------------------------------
  // q209: the watermark-bounded OUT-OF-ORDER variant
  // ------------------------------------------------------------------

  test("q209: out-of-order stream == batch funnel, row for row") {
    val stream = streaming.StreamingOps.streamFunnelWm(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    val batch = ops.EventOps.funnel(spark, sf).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    assert(stream == batch)
  }

  test("q209 staged slices are genuinely out of event-time order across " +
       "batches, within the promised disorder bound") {
    streaming.StreamingOps.streamFunnelWm(spark, sf).collect() // build fixture
    val hex = java.lang.Integer.toHexString(sf.hashCode)
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_funnelw_src_$hex")
    val slices = (0 until 3).map { i =>
      spark.read.parquet(dir.resolve(s"f$i.parquet").toString)
        .select("tus").collect().map(_.getLong(0))
    }
    // DISORDER liveness: a later slice must carry an event OLDER than
    // something in an earlier slice, else the lane proves nothing
    assert(slices(1).min < slices(0).max || slices(2).min < slices(1).max,
      "arrival slices are event-time ordered — the jitter staging is inert")
    // BOUND: no event in slice j may be older than (max ts seen before
    // slice j) minus the 2d watermark delay, or exactness breaks
    val bound = 2 * streaming.StreamingOps.DisorderUs
    assert(slices(1).min >= slices(0).max - bound &&
           slices(2).min >= slices.take(2).map(_.max).max - bound,
      "staged disorder exceeds the watermark delay — q209's premise is violated")
  }

  test("q209 finalization fires mid-stream: pending buffers shrink below " +
       "cumulative arrivals once the watermark advances") {
    streaming.StreamingOps.streamFunnelWm(spark, sf).collect()
    val hex = java.lang.Integer.toHexString(sf.hashCode)
    val em = streaming.StreamingOps
      .wmFoldEmissions(spark, s"graft_funnelw_$hex")
      .select("user_id", "version", "n_pending", "n_seen").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    // batch 0: watermark is 0, nothing can finalize
    em.filter(_._2 == 1L).foreach { e =>
      assert(e._3 == e._4, s"finalized before any watermark existed: $e")
    }
    // some later emission must have finalized events OUT of the buffer
    assert(em.exists(e => e._2 >= 2L && e._3 < e._4),
      "no user ever finalized below the watermark — the bounded-state " +
        "machinery never engaged; state would grow without bound")
  }

  test("q209 vs q204 on the SAME disordered slices: a late early view " +
       "changes the outcome, and only q209 matches the batch truth") {
    import org.apache.spark.sql.Row
    // user 1: click(t=20) and purchase(t=30) arrive in batch 0, the
    // EARLIER view(t=10) arrives late in batch 1 (disorder < 2h bound).
    // user 2 is in-order control: view then click across the batches.
    val h = 3600L * 1000000L // 1h in micros, well under the 2h delay
    val base = 1700000000000000L
    val slice0 = Seq(
      Row(1L, "click", base + 20 * h / 100, 100L),
      Row(1L, "purchase", base + 30 * h / 100, 101L),
      Row(2L, "view", base + 5 * h / 100, 102L))
    val slice1 = Seq(
      Row(1L, "view", base + 10 * h / 100, 103L), // the late early view
      Row(2L, "click", base + 40 * h / 100, 104L),
      // a far-future tail event pushes the watermark past everything
      // above so the final batch can finalize (and emissions settle)
      Row(2L, "purchase", base + 500 * h / 100, 105L))
    val dir = tempDir("graft_funnel_ooo_case")
    (Seq(slice0, slice1).zipWithIndex).foreach { case (rows, i) =>
      val stage = dir.resolve(s"_stage_$i")
      spark.createDataFrame(
          new java.util.ArrayList[Row](scala.jdk.CollectionConverters
            .SeqHasAsJava(rows).asJava),
          streaming.StreamingOps.funnelSliceSchema)
        .coalesce(1).write.mode("overwrite").parquet(stage.toString)
      val part = new java.io.File(stage.toString).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dir.resolve(s"f$i.parquet"),
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      Fixtures.clearDir(stage)
    }
    def finals(df: org.apache.spark.sql.DataFrame): Map[Long, (Long, Long, Long)] =
      df.collect().map(r =>
        r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    val ordered = finals(streaming.StreamingOps.orderedFoldFinal(
      spark, dir.toString, "graft_ooo_case_ordered"))
    val wm = finals(streaming.StreamingOps.wmFoldFinal(
      spark, dir.toString, "graft_ooo_case_wm"))
    val t1 = base + 10 * h / 100
    val t2 = base + 20 * h / 100
    val t3 = base + 30 * h / 100
    // batch truth (q201 semantics over ALL events, order-free)
    assert(wm(1L) == ((t1, t2, t3)),
      s"q209 must recover the full progression from disordered arrival: ${wm(1L)}")
    // q204's ordered fold discarded the click that preceded its view
    assert(ordered(1L) == ((t1, -1L, -1L)),
      s"expected the ordered fold to lose the click/purchase: ${ordered(1L)}")
    assert(ordered(1L) != wm(1L), "the disorder case failed to discriminate")
    // the in-order control user agrees everywhere
    assert(ordered(2L) == wm(2L))
  }
}
