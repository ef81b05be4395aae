package graft.streaming

import graft.{Fixtures, Q, Sessions, Steps, Tables}
import graft.functions.HashFns._
import graft.io.{Layout, Snapshot}
import graft.ops.EventOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Structured Streaming lane: the SAME transform that q26 runs in batch
  * (EventOps.windowedAgg) executed as an incremental streaming query —
  * readStream over the events parquet, windowed aggregation, memory
  * sink, drained synchronously with processAllAvailable.
  *
  * q41's oracle is therefore identical to q26's: streaming and batch
  * must agree row-for-row, which is exactly Spark's unified-engine
  * claim, here made an enforced test.
  *
  * Production shape (100 TB): swap the memory sink for kafka/parquet,
  * add `.withWatermark("ts", ...)` + append mode so state is bounded;
  * see StreamingSpec for the watermark variant.
  */
object StreamingOps {

  /** events schema with ts as raw nanos (TIMESTAMP(NANOS) parquet). */
  private val eventsRawSchema = StructType(Seq(
    StructField("event_id", LongType), StructField("ts", LongType),
    StructField("user_id", LongType), StructField("event_type", StringType),
    StructField("value", DoubleType), StructField("props", StringType)))

  /** events schema with ts as a native timestamp (TIMESTAMP(MICROS)
    * parquet, and slices re-written by this session).
    */
  private val eventsMicrosSchema = StructType(eventsRawSchema.map {
    case f if f.name == "ts" => StructField("ts", TimestampType)
    case f => f
  })

  def streamingEvents(s: SparkSession, d: String): DataFrame = {
    // The file-stream source wants a *directory* it can monitor; the
    // testdata table is a single file, so stage it into a tmp dir (in
    // production this is the landing directory new files arrive in).
    // Staging is idempotent across bench reps — skip the copy when the
    // target already matches (size AND mtime: a regenerated testdata
    // file of identical size must still invalidate the copy).
    val src = java.nio.file.Paths.get(s"$d/events.parquet")
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"),
      "graft_stream_src_" + java.lang.Integer.toHexString(d.hashCode))
    java.nio.file.Files.createDirectories(dir)
    val tgt = dir.resolve("events.parquet")
    if (!java.nio.file.Files.exists(tgt) ||
        java.nio.file.Files.size(tgt) != java.nio.file.Files.size(src) ||
        java.nio.file.Files.getLastModifiedTime(tgt)
          .compareTo(java.nio.file.Files.getLastModifiedTime(src)) < 0)
      java.nio.file.Files.copy(src, tgt,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING,
        java.nio.file.StandardCopyOption.COPY_ATTRIBUTES)
    // File streams need an explicit schema. The staged file is a byte
    // copy of the table, so the stream declares the `ts` type of the
    // table's resolved relation: raw nanos Long (TIMESTAMP(NANOS) under
    // nanosAsLong), TIMESTAMP_NTZ (un-adjusted micros) or TIMESTAMP. Once
    // the table is resolved in the session this reads no file and runs
    // no job; normalizeEventsTs then folds the type as batch reads do.
    val tsType = Tables.table(s, d, "events").schema("ts").dataType
    val schema = StructType(eventsRawSchema.map {
      case f if f.name == "ts" => StructField("ts", tsType)
      case f => f
    })
    Tables.normalizeEventsTs(s.readStream.schema(schema).parquet(dir.toString))
  }

  /** Every stateful streaming operator keeps one state-store instance
    * per shuffle partition, and every instance commits a delta file to
    * the checkpoint per micro-batch. At oracle/bench scale (thousands
    * of rows, 1-2 micro-batches) the session default of 32 partitions
    * is 4× the store setup/commit/maintenance overhead of 8 for zero
    * parallelism benefit — this fixed cost was ~2 s per streaming
    * query. Partition count never changes WHAT a stateful
    * query computes (state is keyed; partitioning only places keys), so
    * the cross-batch assertions are untouched. Production streams size
    * this to throughput: it is a per-query knob, not a semantic one.
    */
  private def withStreamShufflePartitions[T](s: SparkSession, n: Int = 8)(f: => T): T =
    Sessions.withConf(s, "spark.sql.shuffle.partitions" -> n.toString)(f)

  def streamWindowed(s: SparkSession, d: String): DataFrame = {
    val qname = "graft_stream_" + java.lang.Integer.toHexString(d.hashCode)
    withStreamShufflePartitions(s) {
      val q = EventOps.windowedAgg(streamingEvents(s, d))
        .writeStream
        .outputMode("complete")
        .format("memory")
        .queryName(qname)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    s.table(qname).orderBy("wstart", "event_type")
  }

  // ---- custom stateful operator: sessionization with explicit state ----

  final case class Evt(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Int, sum: Double)
  final case class SessionOut(user_id: Long, session_start: java.sql.Timestamp,
                              n_events: Int, sum_value: Double)

  /** flatMapGroupsWithState sessionizer — BATCH MODE ONLY:
    * each invocation sees the whole group, emits every session including
    * the still-open one, and clears state. Running this under a real
    * multi-micro-batch stream would emit a batch-spanning session twice
    * (once per batch, split). For the streaming-correct variant that
    * keeps the open session in state and flushes it only on event-time
    * timeout, use [[sessionizeStreaming]].
    */
  def sessionize(events: org.apache.spark.sql.Dataset[Evt],
                 gapMs: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[Evt], state: GroupState[SessionState]) =>
          // batch mode: rows is the whole group; sort by event time and
          // cut sessions only when the gap STRICTLY exceeds gapMs
          // (boundary-inclusive merge, same rule as session_window)
          val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
          val out = scala.collection.mutable.ListBuffer[SessionOut]()
          var cur: Option[SessionState] = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(st) if t - st.last <= gapMs =>
                cur = Some(st.copy(last = t, n = st.n + 1, sum = st.sum + e.value))
              case Some(st) =>
                out += SessionOut(uid, new java.sql.Timestamp(st.start), st.n, st.sum)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur.foreach { st =>
            out += SessionOut(uid, new java.sql.Timestamp(st.start), st.n, st.sum)
            state.remove()
          }
          out.iterator
      }
  }

  /** Streaming-correct sessionizer: custom per-key state + event-time
    * timeout, the scalable shape for 100 TB/day ingest (state is one
    * small record per OPEN session, closed by watermark progress).
    *
    * Contract per invocation:
    *  - timeout fired (watermark passed last_event + gap): emit the open
    *    session once, drop state;
    *  - new rows: merge into the open session (boundary-inclusive, same
    *    rule as session_window), emit any sessions the new rows CLOSE,
    *    keep the trailing open session in state, arm the timeout at
    *    last + gap.
    *
    * A session spanning micro-batches is therefore emitted exactly once
    * — the property the batch-mode variant above cannot provide.
    * Requires `withWatermark` on the input (event-time timeout needs a
    * watermark to fire against); see StreamingSpec.
    */
  def sessionizeStreaming(events: org.apache.spark.sql.Dataset[Evt],
                          gapMs: Long): org.apache.spark.sql.Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, SessionOut](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (uid: Long, rows: Iterator[Evt], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val st = state.get
            state.remove()
            Iterator.single(
              SessionOut(uid, new java.sql.Timestamp(st.start), st.n, st.sum))
          } else {
            val sorted = rows.toSeq.sortBy(e => (e.ts.getTime, e.value))
            val out = scala.collection.mutable.ListBuffer[SessionOut]()
            var cur: Option[SessionState] = state.getOption
            sorted.foreach { e =>
              val t = e.ts.getTime
              cur match {
                // merge window is [start-gap, last+gap]: a late event from
                // an earlier micro-batch (still above the watermark) must
                // extend the session BACKWARD without rewinding `last` —
                // st.copy(last = t) here would re-arm the timeout in the
                // past and split a session that session_window semantics
                // keep whole
                case Some(st) if t - st.last <= gapMs && st.start - t <= gapMs =>
                  cur = Some(st.copy(
                    start = math.min(st.start, t), last = math.max(st.last, t),
                    n = st.n + 1, sum = st.sum + e.value))
                case Some(st) if t > st.last =>
                  out += SessionOut(uid, new java.sql.Timestamp(st.start), st.n, st.sum)
                  cur = Some(SessionState(t, t, 1, e.value))
                case Some(st) =>
                  // older than start-gap: a distinct earlier session; it is
                  // final (any sibling event would also be late and the
                  // current session already bounds it from above)
                  out += SessionOut(uid, new java.sql.Timestamp(t), 1, e.value)
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { st =>
              state.update(st)
              state.setTimeoutTimestamp(st.last + gapMs)
            }
            out.iterator
          }
      }
  }

  /** Streaming exact-dedup: dropDuplicatesWithinWatermark on the event
    * stream — the streaming twin of batch DISTINCT, with state bounded
    * by the watermark instead of growing forever (the only shape that
    * survives an unbounded stream). Emitted rows are first-seen
    * (user_id, event_type) pairs; the batch oracle is COUNT(DISTINCT).
    */
  def streamDedup(s: SparkSession, d: String): DataFrame = {
    val qname = "graft_sdedup_" + java.lang.Integer.toHexString(d.hashCode)
    // ORACLE LANE CONSTRAINT: equality with batch COUNT(DISTINCT) needs
    // the dedup state to outlive the whole event-time span (~30 days of
    // testdata) — a shorter watermark would evict state mid-stream and
    // re-emit pairs under multi-batch delivery. Production streams pick
    // the watermark for state size, accepting window-scoped dedup.
    withStreamShufflePartitions(s) {
      val q = streamingEvents(s, d)
        .withWatermark("ts", "45 days")
        .dropDuplicatesWithinWatermark("user_id", "event_type")
        .writeStream
        .outputMode("append")
        .format("memory")
        .queryName(qname)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    s.table(qname)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_unique_users"))
      .orderBy("event_type")
  }

  private val streamDedupSql =
    """SELECT event_type, COUNT(DISTINCT user_id) AS n_unique_users
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  private val streamWindowedSql =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
       | event_type, COUNT(*) AS n,
       | ${graft.functions.Stable.dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin

  // ---- q116: streaming top-k per key — a bounded-heap leaderboard in
  //      explicit GroupState (the streaming twin of the TopKPerKey
  //      physical operator). State per key is EXACTLY k entries, so
  //      memory is bounded for any stream length; each micro-batch
  //      absorbs its rows into the heap and emits the current top-k
  //      with a monotone n_seen counter — the reader takes the row with
  //      max(n_seen) per key as the final answer (update-mode memory
  //      sink appends one emission per key per batch). Oracle: the
  //      batch row_number()<=k formulation over the same events. ----
  final case class KEvt(event_type: String, event_id: Long, value: Double)
  final case class TopKState(n: Long, top: List[(Double, Long)])
  final case class TopKEmit(event_type: String, n_seen: Long,
                            ids: Seq[Long], vals: Seq[Double])
  val StreamK = 3

  /** (value desc, event_id asc) total order — identical to the oracle's
    * `ORDER BY value DESC, event_id ASC`.
    */
  private val topKOrd = Ordering.by[(Double, Long), (Double, Long)] {
    case (v, id) => (-v, id)
  }

  /** The per-group state-update function — the ONE definition both the
    * registry query and StreamingSpec's cross-batch test run, so the
    * spec proves the shipped merge logic, not a copy.
    */
  private[graft] def topKUpdate(
      key: String, rows: Iterator[KEvt],
      state: org.apache.spark.sql.streaming.GroupState[TopKState]): TopKEmit = {
    val prev = state.getOption.getOrElse(TopKState(0L, Nil))
    var top = prev.top
    var n = prev.n
    rows.foreach { e =>
      n += 1
      top = ((e.value, e.event_id) :: top).sorted(topKOrd).take(StreamK)
    }
    state.update(TopKState(n, top))
    TopKEmit(key, n, top.map(_._2), top.map(_._1))
  }

  def streamTopK(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    val qname = "graft_stream_topk_" + java.lang.Integer.toHexString(d.hashCode)
    withStreamShufflePartitions(s) {
      val q = streamingEvents(s, d)
        .select(col("event_type"), col("event_id"), col("value")).as[KEvt]
        .groupByKey(_.event_type)
        .mapGroupsWithState[TopKState, TopKEmit](GroupStateTimeout.NoTimeout)(
          topKUpdate _)
        .writeStream
        .outputMode(OutputMode.Update)
        .format("memory")
        .queryName(qname)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy(col("n_seen").desc)
    s.table(qname)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1) // final (largest-n_seen) emission per key
      .select(col("event_type"), posexplode(col("ids")).as(Seq("r", "event_id")))
      .select(col("event_type"), (col("r") + 1).cast("long").as("rank"),
              col("event_id"))
      .orderBy("event_type", "rank")
  }

  private val streamTopKSql =
    s"""SELECT event_type, CAST(rn AS BIGINT) AS rank, event_id
       |FROM (SELECT event_type, event_id, row_number() OVER
       |        (PARTITION BY event_type ORDER BY value DESC, event_id ASC)
       |        AS rn
       |      FROM events)
       |WHERE rn <= $StreamK ORDER BY event_type, rank""".stripMargin

  // ---- q121: the STREAMING-CORRECT sessionizer as a registry
  //      query. sessionizeStreaming runs the event stream with
  //      a 0-second watermark; sessions closed by later events emit in
  //      batch 0, trailing open sessions flush via event-time TIMEOUT in
  //      the no-data micro-batch once the watermark reaches max(ts).
  //      A session whose last+gap lies at/after the final watermark can
  //      never time out — the batch oracle applies the same cutoff
  //      (last + gap < max ts), making the streaming semantics
  //      themselves the thing the oracle checks.
  //      Determinism notes: ts truncated to whole seconds on BOTH sides
  //      (GroupState math is in millis; events carry micros), and the
  //      summed measure is floor(value*100) — integer-valued doubles add
  //      exactly, so Scala's in-order accumulation == DuckDB's scan-order
  //      sum bit-for-bit. ----
  val SessGapMs: Long = 6L * 3600 * 1000

  def streamSession(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val qname = "graft_stream_sess_" + java.lang.Integer.toHexString(d.hashCode)
    withStreamShufflePartitions(s) {
      val evts = streamingEvents(s, d)
        .select(col("user_id"),
                date_trunc("second", col("ts")).as("ts"),
                floor(col("value") * 100).cast("double").as("value"))
        .withWatermark("ts", "0 seconds")
        .as[Evt]
      val q = sessionizeStreaming(evts, SessGapMs)
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    s.table(qname)
      .select(col("user_id"),
              date_format(col("session_start"), "yyyy-MM-dd HH:mm:ss").as("session_start"),
              col("n_events").cast("long").as("n_events"),
              col("sum_value"))
      .orderBy("user_id", "session_start")
  }

  private val streamSessionSql =
    """WITH e AS (SELECT user_id, date_trunc('second', ts) AS ts,
      |                  floor(value * 100) AS v FROM events),
      |mx AS (SELECT max(ts) AS maxts FROM e),
      |marked AS (SELECT user_id, ts, v,
      |  CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
      |            > INTERVAL 6 HOUR THEN 1 ELSE 0 END AS brk FROM e),
      |isl AS (SELECT user_id, ts, v,
      |  SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
      |                 ROWS UNBOUNDED PRECEDING) AS sid FROM marked),
      |sess AS (SELECT user_id, min(ts) AS session_start, max(ts) AS last_ts,
      |                count(*) AS n_events, sum(v) AS sum_value
      |         FROM isl GROUP BY user_id, sid)
      |SELECT user_id,
      |       strftime(session_start, '%Y-%m-%d %H:%M:%S') AS session_start,
      |       n_events, sum_value
      |FROM sess, mx WHERE last_ts + INTERVAL 6 HOUR < maxts
      |ORDER BY user_id, session_start""".stripMargin

  /** Stage a filtered slice of the events table into its own landing
    * directory ONCE (marker-guarded, shared across invocations and
    * bench reps) — per-run streams then scan only the slice they need
    * instead of re-reading the full table per branch. In production
    * this is the upstream router writing per-topic landing dirs; the
    * staged files carry micros timestamps, so readers use
    * [[stagedSchema]].
    */
  private def stagedEventSlice(s: SparkSession, d: String, name: String,
                               pred: org.apache.spark.sql.Column): String =
    stagedSource(d, s"stream_$name", "events") { dir =>
      writeOneFile(Tables.events(s, d).filter(pred), dir.resolve("slice.parquet"))
    }.toString

  /** The landing directory `graft_<name>_src_<hash of d>` under the
    * JVM temp dir, filled by `stage` ONCE per version of the input
    * table `d/<table>.parquet` (marker-guarded, shared across
    * invocations and bench reps).
    */
  private def stagedSource(d: String, name: String, table: String)(
      stage: java.nio.file.Path => Unit): java.nio.file.Path = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val dir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_${name}_src_$hex")
    Fixtures.staged(dir, s"$d/$table.parquet") {
      java.nio.file.Files.createDirectories(dir)
      stage(dir)
    }
  }

  /** Writes `df` as the single parquet file `dst`, replacing it: a
    * one-partition write into a temp directory, whose part file is
    * moved out (a `df` that is one sorted partition keeps its order).
    * The temp directory is deleted whatever happens.
    */
  private def writeOneFile(df: DataFrame, dst: java.nio.file.Path): Unit = {
    val tmp = java.nio.file.Files.createTempDirectory("graft_stage")
    try {
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = tmp.toFile.listFiles()
        .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet")).head
      java.nio.file.Files.move(part.toPath, dst,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } finally Fixtures.clearDir(tmp)
  }

  /** events schema for slices re-written by this session (micros ts). */
  private val stagedSchema = eventsMicrosSchema

  // ---- q127: stream-stream interval join as a registry query — the
  //      last spec-only streaming family. For every
  //      purchase, the clicks by the same user in the PRECEDING hour:
  //      both sides are watermarked streams, the join carries the
  //      event-time range constraint Spark needs to bound state (rows
  //      older than watermark - 1h are evicted), and inner-join matches
  //      emit eagerly — so with the testdata arriving as one batch the
  //      result equals the batch interval join DuckDB runs. Multi-batch
  //      state-eviction behavior is exercised separately in
  //      StreamingSpec; this entry oracles the JOIN SEMANTICS.
  //      Each side streams from its own pre-filtered staged slice
  //      (purchases are ~1/6 of events) rather than scanning the full
  //      table twice per run. ----
  def streamStreamJoin(s: SparkSession, d: String): DataFrame = {
    val qname = "graft_ssj_" + java.lang.Integer.toHexString(d.hashCode)
    val pDir = stagedEventSlice(s, d, "purch", col("event_type") === "purchase")
    val cDir = stagedEventSlice(s, d, "click", col("event_type") === "click")
    withStreamShufflePartitions(s, 2) {
      val purchases = s.readStream.schema(stagedSchema).parquet(pDir)
        .select(col("user_id"), col("ts").as("p_ts"), col("event_id").as("p_id"))
        .withWatermark("p_ts", "1 hour")
      val clicks = s.readStream.schema(stagedSchema).parquet(cDir)
        .select(col("user_id").as("c_user"), col("ts").as("c_ts"))
        .withWatermark("c_ts", "1 hour")
      val q = purchases.join(clicks,
          col("user_id") === col("c_user") &&
            col("c_ts") >= col("p_ts") - expr("INTERVAL 1 HOUR") &&
            col("c_ts") <= col("p_ts"))
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .start()
      // Both staged dirs hold ONE file and maxFilesPerTrigger is unset,
      // so batch 0 takes ALL data, and inner-join matches emit eagerly
      // in append mode — the answer is complete once the first data
      // batch commits. The only remaining work is the no-data state-
      // eviction batch (~0.5 s of pure maintenance a long-lived stream
      // amortizes); stop before it rather than pay it per invocation.
      // Multi-batch delivery + eviction semantics are exercised in
      // StreamingSpec.
      try {
        val deadline = System.nanoTime() + 120_000_000_000L
        while ((q.lastProgress == null || q.lastProgress.numInputRows == 0) &&
               System.nanoTime() < deadline)
          Thread.sleep(10)
        require(q.lastProgress != null && q.lastProgress.numInputRows > 0,
          "q127: data batch never committed")
      } finally q.stop()
    }
    s.table(qname)
      .groupBy(col("p_id"), col("user_id"))
      .agg(count(lit(1)).as("n_clicks"))
      .orderBy("p_id")
  }

  private val streamStreamJoinSql =
    """SELECT p.event_id AS p_id, p.user_id, COUNT(*) AS n_clicks
      |FROM events p JOIN events c
      |  ON p.event_type = 'purchase' AND c.event_type = 'click'
      | AND c.user_id = p.user_id
      | AND c.ts >= p.ts - INTERVAL 1 HOUR AND c.ts <= p.ts
      |GROUP BY 1, 2 ORDER BY p_id""".stripMargin

  // ---- q129: checkpoint recovery as an ORACLED query — the last
  //      spec-only streaming family. The event stream is staged as TWO
  //      files; a first query (one-file-per-trigger, long re-trigger
  //      interval so exactly ONE batch runs) processes half the data
  //      against a REAL checkpoint, stops, and a SECOND query started
  //      on the same checkpoint restores the aggregation state, sees
  //      only the unprocessed file in the source log, and drains it.
  //      The complete-mode table after restart is therefore correct
  //      ONLY IF recovery is exactly-once: dropped state would lose
  //      file A, a replayed file would double-count it. Oracle = the
  //      batch aggregate over all events. The checkpoint is fresh per
  //      invocation (recovery is re-exercised every run); the staged
  //      split is written once. Sum uses floor(value*100) — integer-
  //      valued doubles add exactly in any order. ----
  def checkpointRecovery(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val srcDir = stagedSource(d, "ckpt", "events") { dir =>
      writeOneFile(Tables.events(s, d).filter(col("event_id") % 2 === 0), dir.resolve("a.parquet"))
      writeOneFile(Tables.events(s, d).filter(col("event_id") % 2 === 1), dir.resolve("b.parquet"))
    }
    // fresh checkpoint per invocation: recovery is the thing under test.
    // The result lives in the memory table, so the checkpoint goes once
    // both queries have stopped.
    val ckptDir = java.nio.file.Files.createTempDirectory("graft_ckpt")
    val ckpt = ckptDir.toString
    val qname = s"graft_ckpt_$hex"
    def agged = s.readStream.schema(stagedSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
           sum(floor(col("value") * 100)).cast("long").as("sum_v2"))
    // 2 partitions: 3 aggregation keys, and BOTH queries commit one
    // state-store delta per partition per batch — at 8 partitions the
    // store overhead is 4x the benefit (see withStreamShufflePartitions)
    try withStreamShufflePartitions(s, 2) {
      val q1 = agged.writeStream.outputMode("complete").format("memory")
        .queryName(qname).option("checkpointLocation", ckpt)
        // first trigger fires immediately and takes ONE file; the next
        // would be a day away — so exactly one batch commits before stop
        .trigger(org.apache.spark.sql.streaming.Trigger.ProcessingTime("24 hours"))
        .start()
      try {
        val deadline = System.nanoTime() + 120_000_000_000L
        while (q1.lastProgress == null && System.nanoTime() < deadline)
          Thread.sleep(50)
        require(q1.lastProgress != null, "q129: first batch never committed")
      } finally q1.stop()
      val q2 = agged.writeStream.outputMode("complete").format("memory")
        .queryName(qname).option("checkpointLocation", ckpt)
        .start()
      try q2.processAllAvailable()
      finally q2.stop()
    } finally Fixtures.clearDir(ckptDir)
    s.table(qname).orderBy("event_type")
  }

  private val checkpointRecoverySql =
    """SELECT event_type, COUNT(*) AS n,
      | CAST(SUM(floor(value * 100)) AS BIGINT) AS sum_v2
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q138: STREAM-STATIC incremental dedup — the streaming twin of
  //      q137 and the one streaming join family the lane lacked
  //      (q127 covers stream-stream; this is the stream-vs-reference-
  //      table shape). The arriving batch streams in as documents; the
  //      corpus's banded MinHash index is the STATIC side — at 100 TB
  //      that index is a materialized table the stream probes, built
  //      once, amortized over every micro-batch. The streaming stage is
  //      deliberately STATELESS (shingle → sig → band explode →
  //      stream-static equi-join → exact-Jaccard rescore → append):
  //      no watermark, no state store, so throughput is map-side and
  //      state is zero no matter how long the stream runs. A pair that
  //      collides in several bands emits several identical match rows
  //      (the batch lane dedups candidates instead); the reader's
  //      row_number(=1) verdict reduction absorbs the multiplicity.
  //      Output contract == q137, oracle == q137's SQL: streaming and
  //      batch incremental dedup must agree row-for-row. ----
  /** Micro-batch physical plan of the most recent q138 run — streaming
    * plans are only printable after execution, so graft.Plans reads
    * this instead of calling explainString on an unstarted stream. */
  @volatile private[graft] var lastSsdPlan: Option[String] = None

  def streamStaticDedup(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val qname = s"graft_ssd_$hex"
    // stage the arriving batch (the doc_id % 5 = 4 slice) as the
    // file-stream landing dir; written once, marker-guarded
    val srcDir = stagedSource(d, "ssd", "documents") { dir =>
      writeOneFile(Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
        .select("doc_id", "text"), dir.resolve("delta.parquet"))
    }
    def sigify(df: DataFrame, idAs: String, sigAs: String, shAs: String): DataFrame =
      df.select(col("doc_id").as(idAs), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col(idAs), hashedShingles(shingles(col("toks"), 3)).as(shAs))
        .withColumn(sigAs, graft.expressions.MinHashSig.minhashSig(col(shAs)))
    def banded(df: DataFrame, sigCol: String): DataFrame =
      df.select(df.columns.toIndexedSeq.map(col) :+
        posexplode(array((0 until MinhashBands).map(b => bandKey(col(sigCol), b)): _*))
          .as(Seq("band", "key")): _*)
    // static side: the corpus band index, materialized before the
    // stream starts (the "already on disk" table of a real ingest)
    val corpusIdx = banded(
      sigify(Tables.documents(s, d).filter(col("doc_id") % 5 =!= 4)
               .repartition(col("doc_id")), "b", "sig_b", "sh_b"), "sig_b")
      .persist()
    corpusIdx.count()
    val docSchema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    withStreamShufflePartitions(s, 2) {
      val stream = banded(
        sigify(s.readStream.schema(docSchema).parquet(srcDir.toString),
               "a", "sig_a", "sh_a"), "sig_a")
      val estJ = aggregate(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), _ + _).cast("double") / lit(MinhashK.toDouble)
      val interD = size(array_intersect(col("sh_a"), col("sh_b"))).cast("double")
      val jac = interD / ((size(col("sh_a")) + size(col("sh_b"))) - interD)
      val q = stream.join(corpusIdx, Seq("band", "key"))
        .select(col("a"), col("b"), estJ.as("est_j"), round(jac, 6).as("jac_r"))
        .filter(col("est_j") >= 0.5)
        .select("a", "b", "jac_r")
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .start()
      try {
        q.processAllAvailable()
        // streaming physical plans only exist post-execution; capture
        // the last micro-batch's plan for graft.Plans evidence
        val buf = new java.io.ByteArrayOutputStream()
        Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) { q.explain() }
        lastSsdPlan = Some(buf.toString("UTF-8"))
      } finally q.stop()
    }
    corpusIdx.unpersist(false)
    // reader-side verdict reduction over the sink (q63 pattern): best
    // corpus match per arrived doc, every arrived doc verdicted
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("a").orderBy(col("jac_r").desc, col("b").asc)
    val best = s.table(qname)
      .withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
      .select(col("a").as("doc_id"), col("b").as("dup_of"), col("jac_r"))
    Tables.documents(s, d).filter(col("doc_id") % 5 === 4).select("doc_id")
      .join(best, Seq("doc_id"), "left")
      .select(col("doc_id"), col("dup_of").isNull.as("kept"),
              col("dup_of"), col("jac_r"))
      .orderBy("doc_id")
  }

  // ---- q149: the q148 ingest gate RUNNING AS A STREAM — the live
  //      shape: arriving docs land in a file-stream directory, the
  //      corpus's VAL-side band index is a static table materialized
  //      before the stream starts (production: the index a curation
  //      run maintains), and every micro-batch's stream-static band
  //      equi-join emits rejections append-mode with ZERO state store
  //      (stateless join against a static side — no watermark, no
  //      state cleanup, unbounded uptime). Per-doc verdicts equal the
  //      batch gate's rejected set (same oracle CTEs), which is the
  //      unified-engine claim enforced for the admission lane. ----
  def streamIngestGate(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val qname = s"graft_sig_$hex"
    // stage the arriving batch (doc_id, source, text) as the landing dir
    val srcDir = stagedSource(d, "sig", "documents") { dir =>
      writeOneFile(Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
        .select("doc_id", "source", "text"), dir.resolve("delta.parquet"))
    }
    def sigify(df: DataFrame, idAs: String, sigAs: String): DataFrame =
      df.select(col("doc_id").as(idAs), tokens(col("text")).as("toks"))
        .filter(size(col("toks")) >= 3)
        .select(col(idAs),
          graft.expressions.MinHashSig.minhashSig(
            hashedShingles(shingles(col("toks"), 3))).as(sigAs))
    def banded(df: DataFrame, sigCol: String): DataFrame =
      df.select(df.columns.toIndexedSeq.map(col) :+
        posexplode(array((0 until MinhashBands).map(b => bandKey(col(sigCol), b)): _*))
          .as(Seq("band", "key")): _*)
    // static side: ONLY the corpus docs the existing split assigns to
    // val — the gate never needs train-side neighbors, so the index is
    // ~10% of the corpus index
    val corpus = Tables.documents(s, d).filter(col("doc_id") % 5 =!= 4)
    val valIds = graft.ops.TextOps.leakageSplitAssignDf(corpus)
      .filter(col("split") === "val").select(col("doc_id"))
    val valIdx = banded(
      sigify(corpus.join(valIds, "doc_id").repartition(col("doc_id")),
             "b", "sig_b"), "sig_b")
      .persist()
    valIdx.count()
    withStreamShufflePartitions(s, 2) {
      val stream = banded(
        sigify(s.readStream.schema(StructType(Seq(
            StructField("doc_id", LongType), StructField("source", StringType),
            StructField("text", StringType))))
          .parquet(srcDir.toString), "a", "sig_a"), "sig_a")
      val estJ = aggregate(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), _ + _).cast("double") / lit(MinhashK.toDouble)
      val q = stream.join(valIdx, Seq("band", "key"))
        .select(col("a"), estJ.as("est_j"))
        .filter(col("est_j") >= 0.5)
        .select("a")
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    valIdx.unpersist(false)
    // reader-side verdicts: every arrived doc, admitted unless rejected
    val rejected = s.table(qname).select(col("a").as("doc_id")).distinct()
      .withColumn("rej", lit(1L))
    Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
      .select("doc_id", "source")
      .join(rejected, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("rej").isNull.as("admitted"))
      .orderBy("doc_id")
  }

  // ---- q154: DSIR admission gate RUNNING AS A STREAM — the scoring
  //      counterpart of q149's dedup gate. The static side is not a
  //      band index but a 256-row histogram pair collapsed to a
  //      LITERAL per-bucket ratio array plus one scalar cutoff (the
  //      corpus-gram-weighted mean ratio — scale-invariant where an
  //      absolute cutoff is not: measured 52/51/52% admission across
  //      sf0.001/0.01/0.1 vs 0/51/0% for any fixed absolute cut). The
  //      stream side is PURE per-row expression work — tokenize, hash,
  //      bucket, array lookup, integer mean — stateless append mode,
  //      zero state store, zero stream-side shuffle; at cluster scale
  //      the 2 KB ratio array rides the plan exactly like a broadcast
  //      histogram. Driver-side collect is the 256-row histogram:
  //      bounded metadata (the IVF-centroid precedent). BIGINT cut
  //      arithmetic holds to ~9e18 ratio-weighted gram mass (~1e13
  //      grams); past that the rollup needs DECIMAL — noted, not hit.
  def streamDsirGate(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val qname = s"graft_sdg_$hex"
    val srcDir = stagedSource(d, "sdg", "documents") { dir =>
      writeOneFile(Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
        .select("doc_id", "text"), dir.resolve("delta.parquet"))
    }
    // static prep: corpus-slice histograms -> ratio array + cutoff.
    // ONE conditional aggregate (count + count-when-en per bucket): the
    // former raw/tgt split aggregated the unpersisted tokenize+explode
    // relation twice — a full second corpus pass — and
    // needed a left join + null-fill that the conditional count gets by
    // construction (0 for buckets with no target grams).
    val B = graft.ops.TextOps.DsirB
    val hist = graft.ops.TextOps.dsirGrams(s, d)
      .filter(col("doc_id") % 5 =!= 4)
      .groupBy("bkt")
      .agg(count(lit(1)).as("rawc"),
           count(when(col("lang") === "en", 1)).as("tgtc"))
      .select("bkt", "rawc", "tgtc").collect()
    // empty bucket default (0+1)*1e6 div (0+1) — matches the oracle's
    // COALESCE on the left join, so engines agree BY CONSTRUCTION even
    // for delta grams whose bucket the corpus never saw
    val ratios = Array.fill(B)(1000000L)
    hist.foreach { r =>
      ratios(r.getLong(0).toInt) =
        ((r.getLong(2) + 1) * 1000000L) / (r.getLong(1) + 1)
    }
    val cut = {
      val num = hist.map(r =>
        BigInt(((r.getLong(2) + 1) * 1000000L) / (r.getLong(1) + 1)) * r.getLong(1)).sum
      val den = hist.map(r => BigInt(r.getLong(1))).sum
      (num / den).toLong
    }
    val ratioArr = array(ratios.toIndexedSeq.map(lit): _*)
    withStreamShufflePartitions(s, 2) {
      // zip-form bigrams (HashFns.adjacentPairs): the lambda
      // form re-tokenized the doc per position (unbound toks inside a
      // streaming projection, where no repartition barrier exists)
      val toks = tokens(col("text"))
      val grams = concat(toks, graft.functions.HashFns.adjacentPairs(toks))
      val rsum = aggregate(grams, lit(0L),
        (acc, g) => acc + element_at(ratioArr, (hash64(g) % B).cast("int") + 1))
      val q = s.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .parquet(srcDir.toString)
        .select(col("doc_id"), rsum.as("rsum"),
                size(grams).cast("long").as("n_grams"))
        .withColumn("weight", expr("rsum div n_grams"))
        .select(col("doc_id"), col("n_grams"), col("weight"),
                (col("weight") >= cut).as("admitted"))
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    s.table(qname).orderBy("doc_id")
  }

  private val streamDsirGateSql = {
    val B = graft.ops.TextOps.DsirB
    s"""WITH t AS (SELECT doc_id, lang, ${tokensSql("text")} AS toks
       |           FROM documents),
       |g0 AS (SELECT doc_id, lang, list_concat(toks,
       |         CASE WHEN len(toks) >= 2 THEN
       |           list_transform(range(1, len(toks)),
       |                          i -> toks[i] || ' ' || toks[i + 1])
       |         ELSE [] END) AS gs FROM t),
       |g AS (SELECT doc_id, lang, unnest(gs) AS gram FROM g0),
       |gb AS (SELECT doc_id, lang, ${hash64Sql("gram")} % $B AS bkt FROM g),
       |corpus AS (SELECT * FROM gb WHERE doc_id % 5 <> 4),
       |raw AS (SELECT bkt, COUNT(*) AS rawc FROM corpus GROUP BY bkt),
       |tgt AS (SELECT bkt, COUNT(*) AS tgtc FROM corpus
       |        WHERE lang = 'en' GROUP BY bkt),
       |hist AS (SELECT raw.bkt, rawc, COALESCE(tgtc, 0) AS tgtc
       |         FROM raw LEFT JOIN tgt USING (bkt)),
       |thr AS (SELECT CAST(CAST(SUM(((tgtc + 1) * 1000000) // (rawc + 1)
       |                             * rawc) AS BIGINT)
       |                    // CAST(SUM(rawc) AS BIGINT) AS BIGINT) AS cut
       |        FROM hist),
       |delta AS (SELECT gb.doc_id,
       |            COALESCE(((tgtc + 1) * 1000000) // (rawc + 1), 1000000) AS r
       |          FROM gb LEFT JOIN hist USING (bkt) WHERE gb.doc_id % 5 = 4),
       |w AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams,
       |        CAST(CAST(SUM(r) AS BIGINT) // COUNT(*) AS BIGINT) AS weight
       |      FROM delta GROUP BY doc_id)
       |SELECT doc_id, n_grams, weight,
       |       weight >= (SELECT cut FROM thr) AS admitted
       |FROM w ORDER BY doc_id""".stripMargin
  }

  // ---- q170: ingest-time tokenization metering — the q168 counting
  //      job RUNNING AS A STREAM, the shape every training-data intake
  //      actually deploys (token budgets are enforced at ingest, not in
  //      nightly batch). Static side: the q167 BPE loop trains on the
  //      CORPUS slice (doc_id % 5 <> 4 — the stream's own docs never
  //      train their tokenizer); its (word → n_sym) vocab is the
  //      static relation of a stream-static BROADCAST left join — at
  //      web scale a ~10 M-row tokenizer dictionary, the standard
  //      broadcast shape for distributed tokenization, zero state
  //      store, zero stream-side shuffle. The stream stage is
  //      stateless per-WORD enrichment (explode → join → token count
  //      with char-length fallback for out-of-vocab words) appended to
  //      the sink; the per-doc rollup is a downstream batch aggregate
  //      over the enriched table — exactly how metering pipelines
  //      compose (enrich in-stream, roll up in the serving store).
  //      Oracle: the unrolled q167 training CTEs on the corpus slice +
  //      the q168 encode shape on the delta slice. ----
  def streamTokenMeter(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val qname = s"graft_stm_$hex"
    val srcDir = stagedSource(d, "stm", "documents") { dir =>
      writeOneFile(Tables.documents(s, d).filter(col("doc_id") % 5 === 4)
        .select("doc_id", "text"), dir.resolve("delta.parquet"))
    }
    // static prep: train the tokenizer on the corpus slice
    val (wsyms, handle) =
      graft.ops.TextOps.bpeTrainedVocab(s, d, col("doc_id") % 5 =!= 4)
    withStreamShufflePartitions(s, 2) {
      val q = s.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("text", StringType))))
        .parquet(srcDir.toString)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(col("w") =!= "")
        .join(broadcast(wsyms), Seq("w"), "left")
        .select(col("doc_id"),
                coalesce(col("n_sym"), length(col("w")).cast("long")).as("tok"),
                length(col("w")).cast("long").as("chars"))
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    handle.unpersist(false)
    s.table(qname).groupBy("doc_id")
      .agg(count(lit(1)).as("n_words"), sum(col("tok")).as("n_tokens"),
           sum(col("chars")).as("n_chars"))
      .orderBy("doc_id")
  }

  private val streamTokenMeterSql = {
    val rounds = graft.ops.TextOps.BpeMaxRounds
    s"""WITH ${graft.ops.TextOps.bpeCteSql(rounds, " WHERE doc_id % 5 <> 4")},
vs AS (SELECT w, CAST((length(ws) - length(replace(ws, '|', ''))) // 2 AS BIGINT)
         AS n_sym FROM v$rounds),
dw AS (SELECT doc_id, w FROM
       (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents
        WHERE doc_id % 5 = 4)
       WHERE w <> '')
SELECT doc_id, COUNT(*) AS n_words,
  CAST(SUM(COALESCE(vs.n_sym, length(dw.w))) AS BIGINT) AS n_tokens,
  CAST(SUM(length(dw.w)) AS BIGINT) AS n_chars
FROM dw LEFT JOIN vs USING (w) GROUP BY doc_id ORDER BY doc_id"""
  }

  // ---- q173: STREAMING VECTOR-INDEX INGEST — the WRITE path of the
  //      q171/q172 serving index as a stream, the shape a live vector
  //      store actually runs (new embeddings are routed and compressed
  //      AT INGEST; the searchable index is the sink, not a nightly
  //      batch rebuild). Static prep: the index metadata rides as a
  //      ONE-ROW static relation carrying the whole centroid table as
  //      an array<struct<cid, cv, cn>> column, joined into the stream
  //      as a stream-static BROADCAST equi-join (q170's vocab shape) —
  //      broadcast DATA, not plan literals, so the documented
  //      50k-cell cap (~25 MB of centroids) stays inside what the
  //      broadcast machinery is built for instead of what the codegen
  //      constant pool can absorb. Only the residual
  //      codebooks stay literal: PqM·PqK·PqSub = 1 024 doubles by
  //      construction, corpus-independent. The stream stage is
  //      entirely STATELESS and map-side: per arriving vector, one
  //      transform-lambda argmin over the broadcast centroid array
  //      picks the cell (same negsim expression and min(struct)
  //      tie-break as the batch routing), element_at fetches the
  //      winning centroid, the residual feeds the shared
  //      [[graft.ops.SimilarityOps.residArgmins]] kernel, and the
  //      8 (s, code, err_e6) rows append to the sink — zero shuffle,
  //      zero state store, per-ingest cost linear in the batch.
  //      Oracle: q172's residual-code CTE chain restricted to the
  //      arrival slice; StreamingSpec additionally holds the stream
  //      against the broadcast-join BATCH plan of the same semantics
  //      (residualCodesBatch). ----
  /** Stage the q173/q188 arrival slice (vec_id % 7 = 3) as a one-file
    * parquet stream source; fixture-markered, returns the source dir.
    */
  private def stageIngestSource(s: SparkSession, d: String): java.nio.file.Path =
    stagedSource(d, "svi", "embeddings") { dir =>
      writeOneFile(Tables.embeddings(s, d).filter(col("vec_id") % 7 === 3)
        .select("vec_id", "embedding"), dir.resolve("delta.parquet"))
    }

  /** The q173 ingest coder as a STREAMING relation — arriving vectors
    * routed (broadcast one-row centroid kit, stateless argmin) and
    * residual-PQ-coded to (vec_id, cell, s, code, err_e6). q173 sinks
    * it to memory for the oracle; q188 sinks it to the delta area a
    * compaction then folds.
    */
  private def ingestCodedStream(
      s: SparkSession, d: String, srcDir: java.nio.file.Path): DataFrame = {
    import graft.expressions.VecDot.vecDot
    import graft.functions.VectorFns.toDouble
    val (kitDf, books) = graft.ops.SimilarityOps.ingestCoderKitDf(s, d)
    s.readStream.schema(StructType(Seq(
        StructField("vec_id", LongType),
        StructField("embedding", ArrayType(FloatType)))))
      .parquet(srcDir.toString)
      .select(col("vec_id"), col("embedding").as("v"))
      // stream-static broadcast of the one-row index-metadata
      // relation (dummy key → BroadcastHashJoin; a plain cross
      // join is rejected by the streaming checker)
      .withColumn("jk", lit(1))
      .join(broadcast(kitDf.withColumn("jk", lit(1))), Seq("jk"))
      .drop("jk")
      .withColumn("nrm", sqrt(vecDot(col("v"), col("v"))))
      .withColumn("best", array_min(transform(col("cents"), c =>
        struct((-vecDot(col("v"), c.getField("cv"))
                 / (col("nrm") * c.getField("cn"))).as("negsim"),
               c.getField("cid").as("cid")))))
      .withColumn("cell", col("best").getField("cid"))
      .withColumn("rv", zip_with(toDouble(col("v")),
        element_at(col("cents"), (col("cell") + 1).cast("int"))
          .getField("cv"),
        (a, b) => a - b))
      .select(col("vec_id"), col("cell"),
        posexplode(array(graft.ops.SimilarityOps.residArgmins(col("rv"), books): _*))
          .as(Seq("s", "c")))
      .select(col("vec_id"), col("cell"), col("s").cast("long").as("s"),
              col("c.cid").as("code"),
              floor(col("c.dist") * 1000000.0).cast("long").as("err_e6"))
  }

  def streamVectorIngest(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val qname = s"graft_svi_$hex"
    val srcDir = stageIngestSource(s, d)
    withStreamShufflePartitions(s, 2) {
      val q = ingestCodedStream(s, d, srcDir)
        .writeStream.outputMode("append").format("memory").queryName(qname)
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    s.table(qname).orderBy("vec_id", "s")
  }

  // ---- q188: STREAM-INGESTED DELTA FOLDED INTO THE BASE INDEX — the
  //      maintenance loop run end-to-end with the STREAM's own output
  //      as the delta (q182 proves compaction against a batch-derived
  //      delta; here the delta postings are literally what q173's
  //      coder appended). Three phases, each in its at-scale shape:
  //      (1) bulk-load the base index (corpus minus the arrival
  //      slice) as the q179 cell-partitioned layout; (2) run the q173
  //      ingest stream — stateless broadcast-kit routing + residual
  //      coding — with foreachBatch appending each micro-batch's
  //      postings to the delta area (a real ingest tier's L0 files);
  //      (3) fold: read the delta area back, prune the base scan to
  //      the delta-touched cells, one delta-side exchange, commit the
  //      touched cells as the next log entry (q182's fold verbatim).
  //      Oracle = the full-rebuild chain (q179's twin), so green ==
  //      the streamed-ingest + compaction pipeline is hash-
  //      indistinguishable from rebuilding the index from scratch —
  //      the lifecycle claim (ingest → persist → compact → serve)
  //      held end to end with real streaming I/O in the middle. ----
  def streamIngestCompact(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_slsmidx_$hex"
    val deltaDir = s"${System.getProperty("java.io.tmpdir")}/graft_slsmdelta_$hex"
    Fixtures.staged(java.nio.file.Paths.get(out), s"$d/embeddings.parquet") {
      Fixtures.clearDir(java.nio.file.Paths.get(deltaDir))
      // (1) bulk-load the base: corpus minus the arrival slice
      val base = Layout.create(out, graft.ops.SimilarityOps.cellClustered(
        graft.ops.SimilarityOps.compactionCodesFor(s, d, col("vec_id") % 7 =!= 3)), "cell")
      // (2) the q173 ingest stream appends its postings to the delta
      // area — the L0 files a serving tier accumulates between folds
      val srcDir = stageIngestSource(s, d)
      withStreamShufflePartitions(s, 2) {
        val q = ingestCodedStream(s, d, srcDir)
          .writeStream.outputMode("append")
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(deltaDir)
          }
          .start()
        try q.processAllAvailable()
        finally q.stop()
      }
      // (3) fold the streamed delta into the base (q182's fold)
      graft.ops.SimilarityOps.foldCells(s, base, s.read.parquet(deltaDir)
        .select("vec_id", "cell", "s", "code", "err_e6"))
      ()
    }
    graft.ops.SimilarityOps.probeReadBack(s, d, out)
  }

  // ---- q180: STREAMING ANN QUERY SERVING — the READ path twin of
  //      q173's ingest: query vectors ARRIVE as a stream and are
  //      answered online against the ON-DISK index, the lifecycle's
  //      last streaming gap (train q165/q177, ingest q173, persist
  //      q179, audit q175 — and now serve-on-arrival). Fully
  //      STATELESS: per arriving query, (1) the broadcast one-row
  //      centroid kit (q173's shape) yields the top-IvfProbes probe
  //      cells via an array_sort over (negsim, cid) structs — the
  //      exact ir0 ordering, no state store; (2) per micro-batch the
  //      serving tier FETCHES only the arriving queries' probed cells
  //      from the committed cell layout (the q179 shape,
  //      vectorLayoutDir): the snapshot is resolved once before the
  //      stream starts, foreachBatch collects the batch's probe cells
  //      (metadata-scale — arrivals × probes ids) and opens only those
  //      partition directories, with the recorded schema: no root
  //      listing and no schema job per batch (PlanShapeSpec); (3) the
  //      native vec_dot cosine scores each candidate map-side — the bounded batch
  //      probe relation BROADCASTS against the pruned lists — and the
  //      scored rows append to the output log. Ranking the bounded
  //      per-query candidate set (≤ probes·cell-size rows) happens
  //      downstream of the sink — where a serving tier ranks — so the
  //      stream itself needs no watermark and no aggregation state.
  //      Oracle: the q50 chain with the arrival slice as the query
  //      set; StreamingSpec holds the stream against the batch
  //      routing's plan (ivfRoutingRankedFor + scoreProbedOn — same
  //      doubles, different physical path). ----
  def streamAnnQuery(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.VecDot.vecDot
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val qname = s"graft_saq_$hex"
    val srcDir = stagedSource(d, "saq", "embeddings") { dir =>
      writeOneFile(Tables.embeddings(s, d).filter(col("vec_id") % 7 === 5)
        .select("vec_id", "embedding"), dir.resolve("delta.parquet"))
    }
    val (kitDf, _) = graft.ops.SimilarityOps.ingestCoderKitDf(s, d)
    val layout = Layout.snapshot(graft.ops.SimilarityOps.vectorLayoutDir(s, d))
    val nProbes = graft.ops.SimilarityOps.IvfProbes
    val outDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_saq_out_$hex")
    Fixtures.clearDir(outDir)
    withStreamShufflePartitions(s, 2) {
      val routed = s.readStream.schema(StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .parquet(srcDir.toString)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .withColumn("jk", lit(1))
        .join(broadcast(kitDf.withColumn("jk", lit(1))), Seq("jk"))
        .drop("jk")
        .withColumn("qn", sqrt(vecDot(col("qv"), col("qv"))))
        // probe cells: the ir0 ordering ((negsim, cid) struct sort)
        // over the broadcast centroid array, prefix nProbes — all
        // per-row lambda work, zero state
        .withColumn("pcells", slice(array_sort(transform(col("cents"), c =>
          struct((-vecDot(col("qv"), c.getField("cv"))
                   / (col("qn") * c.getField("cn"))).as("negsim"),
                 c.getField("cid").as("cid")))), 1, nProbes))
        .select(col("qid"), col("qv"), col("qn"),
                explode(transform(col("pcells"), p => p.getField("cid"))).as("cell"))
      // the serving tier's per-request fetch: collect the batch's probe
      // cells (metadata-scale), read ONLY those partition directories
      // from the on-disk layout, score map-side, append to the output
      // log — cost per micro-batch ∝ arrivals × probes × cell size,
      // never ∝ index size
      val q = routed.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val b = batch.persist()
          try {
            val cells = b.select("cell").distinct()
              .collect().map(_.getLong(0)).sorted.toSeq
            if (cells.nonEmpty) {
              layout.open(s, cells)
                .join(broadcast(b), Seq("cell"))
                .filter(col("vec_id") =!= col("qid"))
                .select(col("qid"), col("vec_id"),
                        round(vecDot(col("qv"), col("v")) / (col("qn") * col("nrm")), 6)
                          .as("cos_r"))
                .write.mode("append").parquet(outDir.toString)
            }
          } finally b.unpersist()
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // the serving tier's rank over the bounded per-query candidate set
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("qid").orderBy(col("cos_r").desc, col("vec_id").asc)
    s.read.parquet(outDir.toString)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= graft.ops.SimilarityOps.TopK)
      .withColumn("rn", col("rn").cast("long"))
      .orderBy("qid", "rn")
  }

  // ---- q193: VERSIONED SERVING UNDER A LIVE QUERY STREAM — the
  //      zero-downtime index swap, stitching q180 (serve-on-arrival)
  //      to q191 (index generations): query vectors keep arriving
  //      while the compactor commits generation 1 BETWEEN micro-
  //      batches, and each batch's fetch resolves the latest log entry
  //      AT FETCH TIME — so batch 0 (the even-qid arrivals) serves the
  //      gen-0 snapshot, the commit lands, and batch 1 (the odd-qid
  //      arrivals) serves gen 1, with no restart, no partial state,
  //      and no batch ever observing a half-committed generation
  //      (q191's atomicity property, now exercised mid-stream). The
  //      stream is q180's stateless routing (broadcast centroid kit,
  //      per-row probe-cell sort); the fetch is pinned to one log
  //      entry (owner resolution reads one small file, every data
  //      directory scan partition-PRUNED); the data directories are
  //      q191's immutable fixtures — only the run-local fork's log
  //      grows, exactly the mutation boundary a commit log buys.
  //      Output = each arrival's fetched postings tagged with the
  //      generation that served it; oracle derives batch 0 from the
  //      pre-delta corpus and batch 1 from the full corpus. ----
  def streamVersionedServe(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.VecDot.vecDot
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val versionRoot = graft.ops.SimilarityOps.versionDir(d)
    val laneRoot = s"${System.getProperty("java.io.tmpdir")}/graft_svsrv_$hex"
    val outDir = s"$laneRoot/out"
    // the run-local fork starts at generation 0 ONLY — the stream's
    // foreachBatch commits gen 1 mid-flight, so this must reset per run
    graft.ops.SimilarityOps.forkVersions(s, d, laneRoot, upTo = 0)
    // the arrival stream: two files with ordered mtimes → two
    // deterministic micro-batches (evens then odds)
    val srcDir = stagedSource(d, "svsrv", "embeddings") { dir =>
      Seq(("evens", col("vec_id") % 2 === 0, 20000L),
          ("odds", col("vec_id") % 2 =!= 0, 10000L)).foreach {
        case (name, pred, ageMs) =>
          val dst = dir.resolve(s"$name.parquet")
          writeOneFile(Tables.embeddings(s, d).filter(col("vec_id") % 7 === 5 && pred)
            .select("vec_id", "embedding"), dst)
          dst.toFile.setLastModified(System.currentTimeMillis() - ageMs)
      }
    }
    val (kitDf, _) = graft.ops.SimilarityOps.ingestCoderKitDf(s, d)
    val nProbes = graft.ops.SimilarityOps.IvfProbes
    withStreamShufflePartitions(s, 2) {
      val routed = s.readStream.schema(StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .withColumn("jk", lit(1))
        .join(broadcast(kitDf.withColumn("jk", lit(1))), Seq("jk"))
        .drop("jk")
        .withColumn("qn", sqrt(vecDot(col("qv"), col("qv"))))
        .withColumn("pcells", slice(array_sort(transform(col("cents"), c =>
          struct((-vecDot(col("qv"), c.getField("cv"))
                   / (col("qn") * c.getField("cn"))).as("negsim"),
                 c.getField("cid").as("cid")))), 1, nProbes))
        .select(col("qid"),
                explode(transform(col("pcells"), p => p.getField("cid"))).as("cell"))
      val q = routed.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Steps.tag(s, "batch") {
            val b = batch.persist()
            try {
              val cells = b.select("cell").distinct()
                .collect().map(_.getLong(0)).sorted.toSeq
              if (cells.nonEmpty) {
                // resolve the generation COMMITTED AT FETCH TIME — one
                // log entry read, not a per-batch Spark job
                val snap = Layout.snapshot(laneRoot)
                svServeRelation(s, snap, cells, b.select("qid", "cell"))
                  .select(lit(snap.meta("gen").toInt).as("gen_served"), col("qid"),
                          col("cell"), col("vec_id"), col("s"), col("code"),
                          col("err_e6"))
                  .write.mode("append").parquet(outDir)
              }
              // the production moment: the compactor commits generation
              // 1 while queries keep arriving — the NEXT batch resolves
              // it atomically, this one never saw it
              if (batchId == 0) Steps.tag(s, "swap") {
                Layout.adopt(Layout.snapshot(laneRoot),
                  Layout.snapshot(versionRoot, Some(1L)))
                ()
              }
            } finally { b.unpersist(); () }
          }
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    s.read.parquet(outDir)
      .select("gen_served", "qid", "cell", "vec_id", "s", "code", "err_e6")
      .orderBy("gen_served", "qid", "cell", "vec_id", "s")
  }

  // ---- q212: STREAMING VACUUM UNDER LIVE SERVING — q193 proved the
  //      zero-downtime SWAP; q210 proved the log-driven VACUUM;
  //      this lane closes the online lifecycle loop by running BOTH
  //      under one live query stream: batch 0 serves the gen-0
  //      snapshot, gen 1 commits between batches, batch 1 serves gen 1
  //      — and then the VACUUM reclaims gen 0's superseded cells while
  //      the stream is still up, with batch 2 proving post-vacuum
  //      serving is indistinguishable from batch 1 (the oracle derives
  //      both from the full corpus). The lane forks the generation
  //      store per run (q210's discipline — q191's pristine store is
  //      never written) and the vacuum is the exact q210 primitive
  //      (floor committed, sub-floor pins refuse). Three query slices
  //      (qid % 3, mtime-ordered files) make three deterministic
  //      micro-batches. ----
  def streamVacuumServe(s: SparkSession, d: String): DataFrame = {
    import graft.expressions.VecDot.vecDot
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val laneRoot = s"${System.getProperty("java.io.tmpdir")}/graft_svvac_$hex"
    val outDir = s"$laneRoot/out"
    // a run-local fork of the q191 store: the store stays the
    // immutable data root and the lane owns ONLY its fork's log (fresh
    // every run — the mid-stream commit and the online vacuum both
    // append entries, never data). The online vacuum is the metadata
    // half (Layout.vacuum); the physical half, Layout.gc, runs only on
    // a store its caller owns.
    val storeRoot = graft.ops.SimilarityOps.versionDir(d)
    graft.ops.SimilarityOps.forkVersions(s, d, laneRoot, upTo = 0)
    // the arrival stream: three files with ordered mtimes -> three
    // deterministic micro-batches (qid % 3 slices)
    val srcDir = stagedSource(d, "svvac", "embeddings") { dir =>
      (0 until 3).foreach { i =>
        val dst = dir.resolve(s"f$i.parquet")
        writeOneFile(Tables.embeddings(s, d)
          .filter(col("vec_id") % 7 === 5 && col("vec_id") % 3 === i)
          .select("vec_id", "embedding"), dst)
        dst.toFile.setLastModified(
          System.currentTimeMillis() - (30000L - i * 10000L))
      }
    }
    val (kitDf, _) = graft.ops.SimilarityOps.ingestCoderKitDf(s, d)
    val nProbes = graft.ops.SimilarityOps.IvfProbes
    withStreamShufflePartitions(s, 2) {
      val routed = s.readStream.schema(StructType(Seq(
          StructField("vec_id", LongType),
          StructField("embedding", ArrayType(FloatType)))))
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .select(col("vec_id").as("qid"), col("embedding").as("qv"))
        .withColumn("jk", lit(1))
        .join(broadcast(kitDf.withColumn("jk", lit(1))), Seq("jk"))
        .drop("jk")
        .withColumn("qn", sqrt(vecDot(col("qv"), col("qv"))))
        .withColumn("pcells", slice(array_sort(transform(col("cents"), c =>
          struct((-vecDot(col("qv"), c.getField("cv"))
                   / (col("qn") * c.getField("cn"))).as("negsim"),
                 c.getField("cid").as("cid")))), 1, nProbes))
        .select(col("qid"),
                explode(transform(col("pcells"), p => p.getField("cid"))).as("cell"))
      val q = routed.writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Steps.tag(s, "batch") {
            val b = batch.persist()
            try {
              val cells = b.select("cell").distinct()
                .collect().map(_.getLong(0)).sorted.toSeq
              if (cells.nonEmpty) {
                // the state committed at fetch time — see q193
                val snap = Layout.snapshot(laneRoot)
                svServeRelation(s, snap, cells, b.select("qid", "cell"))
                  .select(lit(batchId).cast("int").as("batch"),
                          lit(snap.meta("gen").toInt).as("gen_served"), col("qid"),
                          col("cell"), col("vec_id"), col("s"), col("code"),
                          col("err_e6"))
                  .write.mode("append").parquet(outDir)
              }
              // after batch 0: the zero-downtime swap (the q193 moment)
              if (batchId == 0) Steps.tag(s, "swap") {
                Layout.adopt(Layout.snapshot(laneRoot),
                  Layout.snapshot(storeRoot, Some(1L)))
                ()
              }
              // after batch 1: the ONLINE vacuum (the q210 primitive,
              // metadata half) — the floor is committed while the
              // stream is live; batch 2 must serve gen 1 unchanged
              if (batchId == 1) Steps.tag(s, "vacuum") {
                Layout.vacuum(laneRoot, floor = 1L)
                ()
              }
            } finally { b.unpersist(); () }
          }
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    s.read.parquet(outDir)
      .select("batch", "gen_served", "qid", "cell", "vec_id", "s", "code",
              "err_e6")
      .orderBy("batch", "qid", "cell", "vec_id", "s")
  }

  /** q193/q212's per-micro-batch serving relation — the pinned, pruned
    * fetch of one committed state joined against the batch's broadcast
    * probe set. A named surface so PlanShapeSpec can fence the shape
    * (pruned store FileScans + broadcast probe join) outside the
    * running stream.
    */
  private[graft] def svServeRelation(s: SparkSession, snap: Snapshot,
      cells: Seq[Long], probes: DataFrame): DataFrame =
    graft.ops.SimilarityOps.pinnedRead(s, snap, cells)
      .join(broadcast(probes), Seq("cell"))
      .filter(col("vec_id") =!= col("qid"))

  // ---- q216: the q215 INCREMENTAL COMPOSITE RUNNING AS A STREAM —
  //      the online ingest pipeline: the q215 delta batch lands as
  //      THREE id-ordered arrival slices (mtime-ordered files,
  //      maxFilesPerTrigger=1 -> three micro-batches); every batch
  //      runs the full gate chain STATELESSLY (quality / lang-ID /
  //      PII are per-row expressions; contamination joins the
  //      broadcast benchmark-gram set), then admits against TWO
  //      indexes: the static curated-base MinHash index (the
  //      session-shared artifact a deployment keeps on disk) and the
  //      ACCUMULATED index of every previously-arrived clean delta
  //      doc (appended per batch — the stream's state lives in the
  //      index, the q188 discipline, so the stateless-join shape has
  //      unbounded uptime). Because arrival slices are id-ordered,
  //      "arrived earlier" == "smaller doc_id", so the accumulated +
  //      within-batch smaller-id check reproduces q215's batch
  //      dup-within rule EXACTLY — the lane shares q215's oracle
  //      VERBATIM, the strongest stream==batch claim (the q138/q204
  //      discipline, here for the whole curation chain). ----
  /** Stage (idempotently, marker-keyed) q216's three id-ordered
    * arrival-slice files. Factored out of the lane so Bench's warm-up
    * can pre-build it (a cold fixture build would land inside the
    * timed rep 1). Returns the slice dir.
    */
  private[graft] def stageSpiSlices(
      s: SparkSession, d: String): java.nio.file.Path = {
    import graft.ops.PipelineOps
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val d0 = graft.ops.CoreOps.jsonlDocs(s, d)
      .select(col("doc_id"), col("meta.source").as("source"), col("text"))
    val srcDir = java.nio.file.Paths.get(
      System.getProperty("java.io.tmpdir"), s"graft_spi_src_$hex")
    val fixSrcs = Seq(s"$d/documents.parquet", "spi-fixture-v2:rev-twins")
    Fixtures.staged(srcDir, fixSrcs: _*) {
      java.nio.file.Files.createDirectories(srcDir)
      val ranked = PipelineOps.deltaBatch(d0)
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window.orderBy(col("doc_id"))))
      val n = ranked.count()
      (0 until 3).foreach { i =>
        val dst = srcDir.resolve(s"f$i.parquet")
        writeOneFile(
          ranked.filter(col("rk") > lit(i * n / 3) && col("rk") <= lit((i + 1) * n / 3))
            .select("doc_id", "source", "text")
            .coalesce(1).sortWithinPartitions("doc_id"), dst)
        dst.toFile.setLastModified(
          System.currentTimeMillis() - (30000L - i * 10000L))
      }
    }
  }

  def streamPipelineIngest(s: SparkSession, d: String): DataFrame = {
    import graft.ops.PipelineOps
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val laneRoot = s"${System.getProperty("java.io.tmpdir")}/graft_spi_$hex"
    val outDir = s"$laneRoot/out"
    val storeDir = s"$laneRoot/seen"
    // fresh run-local state every run: the accumulated index mutates
    Fixtures.clearDir(java.nio.file.Paths.get(laneRoot))
    // arrival slices: the q215 delta in doc_id order, three files
    // (staged by Bench.prebuild; its corpus read still infers a schema)
    val srcDir = Steps.tag(s, "static") { stageSpiSlices(s, d) }
    // the accumulated index: a batch-partitioned layout, empty at entry
    createSeenStore(s, storeDir)
    // static artifacts, ready BEFORE the stream starts. The curated-
    // base index is the PERSISTED q217 artifact — each micro-batch
    // probes only its candidate buckets through the pruned FileScan
    // instead of re-materializing the whole banded index per run.
    val idxDir = PipelineOps.persistAdmissionIndex(s, d)
    // collected once per (session, corpus) before the stream starts
    // (metadata-scale: the bounded BenchHoldout eval slice) — each
    // micro-batch's contam check is then a map-side arrays_overlap
    // against this literal (the session-shared benchGramSet, shared
    // with the whole q215/q217-q220 family)
    val benchGrams: Array[Long] = PipelineOps.benchGramSet(s, d)
    withStreamShufflePartitions(s, 2) {
      val q = s.readStream.schema(StructType(Seq(
          StructField("doc_id", LongType), StructField("source", StringType),
          StructField("text", StringType))))
        .option("maxFilesPerTrigger", 1)
        .parquet(srcDir.toString)
        .writeStream.outputMode("append")
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          Steps.tag(s, "batch") {
            // widen the arrival slice to cluster parallelism BEFORE the
            // per-row chain: a micro-batch arrives as ONE file (one scan
            // task), so without this the batch's gate/shingle/minhash
            // CPU runs 1-2 wide while everything downstream is keyed —
            // measured at 10x data this was q216's whole super-linear
            // term (gate 4.7x, contam 3.1x, sigs 3.2x —
            // bench_evidence/r15_idx_prune.md).
            // The per-batch JOIN width then scales with the batch (1
            // partition per ~1k rows, floor 2, cap at cluster width),
            // set on batch.sparkSession — the session cloned at query
            // start that actually plans the batch chain. This width
            // ladder runs a 131k-row batch 1.43x faster than the fixed
            // width 2 and moves nothing at 3-30k rows
            // (bench_evidence/r17_ladder.md).
            // Batch row count from the slice files' parquet footers: a
            // driver-side metadata read instead of a count job per
            // batch. Falls back to count() for a non-parquet batch shape.
            val nrows = {
              val files = batch.inputFiles
              if (files.nonEmpty && files.forall(_.endsWith(".parquet")))
                files.map { f =>
                  val rd = org.apache.parquet.hadoop.ParquetFileReader.open(
                    org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
                      new org.apache.hadoop.fs.Path(f),
                      s.sparkContext.hadoopConfiguration))
                  try rd.getRecordCount finally rd.close()
                }.sum
              else batch.count()
            }
            val width = s.sparkContext.defaultParallelism
            val np = math.max(2, math.min(width, (nrows / 1000L + 1L).toInt))
            batch.sparkSession.conf.set("spark.sql.shuffle.partitions", np)
            s.conf.set("spark.sql.shuffle.partitions", np)
            val wide = batch.repartition(width)
            val audit = PipelineOps.gateAudit(wide)
              .withColumn("n_tok", size(tokens(col("rtext"))).cast("long"))
              .persist()
            try {
              // prior-arrival index: the committed batches STRICTLY
              // before this one, so a re-run batch never probes its own
              // earlier output
              val store = Layout.snapshot(storeDir)
              val prior = store.open(s, store.parts.keys.filter(_ < batchId).toSeq)
                .select("doc_id", "sig")
              val (verdicts, dSigs, dg3k) =
                spiBatchAdmit(s, audit, benchGrams, prior,
                  db => PipelineOps.probeBandedIndex(s, idxDir, db))
              Steps.tag(s, "verdicts") {
                verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
              }
              // the stream's state lives in the index: this batch's
              // clean signatures commit as its OWN partition for later
              // arrivals to probe
              Steps.tag(s, "state") { commitSeen(store, dSigs, batchId) }
              dg3k.unpersist(false)
              ()
            } finally { audit.unpersist(false); () }
          }
        }
        .start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // the q215 card from the streamed verdicts — SAME columns, SAME
    // oracle (pipelineIncrementSql)
    Steps.tag(s, "card") {
      s.read.parquet(outDir).groupBy("source").agg(
        count(lit(1)).as("n_delta"),
        sum(when(col("bucket") === "quality", 1L).otherwise(0L)).as("n_quality_dropped"),
        sum(when(col("bucket") === "lang", 1L).otherwise(0L)).as("n_lang_dropped"),
        sum(when(col("bucket") === "pii", 1L).otherwise(0L)).as("n_pii_quarantined"),
        sum(when(col("bucket") === "contam", 1L).otherwise(0L)).as("n_contam_dropped"),
        sum(when(col("bucket") === "dup_base", 1L).otherwise(0L)).as("n_dup_vs_base"),
        sum(when(col("bucket") === "dup_within", 1L).otherwise(0L)).as("n_dup_within"),
        sum(when(col("bucket") === "admitted", 1L).otherwise(0L)).as("n_admitted"),
        sum(when(col("bucket") === "admitted", col("doc_id")).otherwise(0L))
          .as("admitted_checksum"),
        sum(when(col("bucket") === "admitted", col("n_tok")).otherwise(0L))
          .as("admitted_tok"))
        .orderBy("source")
        .localCheckpoint(true)
    }
  }

  /** q216's accumulated index at `dir`: an empty (doc_id, sig) layout
    * partitioned by `batch`.
    */
  private[graft] def createSeenStore(s: SparkSession, dir: String): Snapshot =
    Layout.create(dir, s.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
      StructType.fromDDL("doc_id BIGINT, sig ARRAY<BIGINT>, batch BIGINT")), "batch")

  /** Commit micro-batch `batchId`'s clean signatures as its own
    * partition of the accumulated index: a re-run batch replaces its
    * partition rather than duplicating it, and a crash leaves the
    * previous entry whole.
    */
  private[graft] def commitSeen(prev: Snapshot, sigs: DataFrame, batchId: Long): Snapshot =
    Layout.rewrite(prev, sigs.withColumn("batch", lit(batchId)), Seq(batchId))

  /** q216's per-batch admission relation — the whole stateless gate +
    * two-index admission chain for ONE micro-batch, over the already
    * gate-audited batch: contamination via the broadcast bench-gram
    * set, dup-vs-base via `idxOf` — the lane passes the q217 pruned
    * disk-index candidate side (banded clean sigs in, capped banded
    * store rows out) so each micro-batch opens only its candidate
    * buckets — and dup-within
    * via a (band,key) equi-join against the accumulated prior-arrival
    * index unioned with the batch's own smaller ids. A NAMED surface
    * so PlanShapeSpec can fence the shape — banded
    * equi-joins and a broadcast attach, never a cartesian — without
    * running the stream. Returns (verdict rows, the batch's clean
    * signatures to fold into the accumulated index, the dg3k handle
    * for the caller to unpersist).
    */
  private[graft] def spiBatchAdmit(s: SparkSession, audit: DataFrame,
      benchGrams: Array[Long], prior: DataFrame,
      idxOf: DataFrame => DataFrame): (DataFrame, DataFrame, DataFrame) = {
    import graft.ops.PipelineOps
    val estJOk = {
      val m = aggregate(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), _ + _)
      m.cast("double") / lit(MinhashK.toDouble) >= 0.5
    }
    // map-side contamination check (the q215 discipline): the
    // bounded benchmark gram set rides the plan as a literal and each
    // doc pays one arrays_overlap — no per-batch gram explode,
    // shuffle-distinct, or join. Same verdict set: empty gram arrays
    // (sub-8-token docs) overlap nothing. The flag is computed INTO
    // the persisted batch cache, so the clean set is a cache filter,
    // not a re-join of dg3k against its own contaminated subset (one
    // join stage per micro-batch for a column the cache can carry).
    val dg3k = audit.filter(col("score") >= PipelineOps.QualityMin &&
        col("lang_pred") =!= "und" &&
        col("n_red") < PipelineOps.PiiQuarantineAt)
      .select(col("doc_id"), col("source"), col("text"), col("rtext"),
        col("n_tok"),
        coalesce(arrays_overlap(
          hashedShingles(shingles(tokens(col("text")),
            PipelineOps.DecontamGram)),
          lit(benchGrams)), lit(false)).as("is_contam"))
      .persist()
    val contam = dg3k.filter(col("is_contam")).select("doc_id")
      .withColumn("is_contam", lit(true))
    val dcln = dg3k.filter(!col("is_contam")).drop("is_contam")
    val dSigs = Steps.tag(s, "sigs") { PipelineOps.sigsOf(dcln).localCheckpoint(true) }
    // BOTH dup checks as ONE candidate join (the q215 shape):
    // the static-index side (org 'b', the q217 pruned disk probe via
    // `idxOf`) unions with the accumulated-prior ∪ within-batch side
    // (org 'd' — hot-bucket capBandedFor rank over prior∪current
    // membership exactly as before; batches arrive id-ordered here,
    // so a > b matches the batch twin's full-delta rule at any bucket
    // size the fixture can stage, and bounds, not loses, work beyond
    // it). Sigs ride the banded rows on every side, so the est_j
    // rescore reads them off the candidate row with no re-attach
    // joins.
    val dBandS = PipelineOps.bandedWithSig(dSigs)
    val bSide = Steps.tag(s, "probe") { idxOf(dBandS) }.withColumn("org", lit("b"))
    val earlierS = PipelineOps.bandedWithSig(prior).unionByName(dBandS)
    val dSide = capBandedFor(earlierS, dBandS)
      .select("doc_id", "sig", "band", "key")
      .withColumn("org", lit("d"))
    val cand = dBandS.as("x").join(bSide.unionByName(dSide).as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          (col("y.org") === "b" || col("x.doc_id") > col("y.doc_id")))
      .select(col("x.doc_id").as("a"), col("x.sig").as("sig_a"),
              col("y.doc_id").as("b"), col("y.sig").as("sig_b"),
              col("y.org").as("org"))
      .dropDuplicates("a", "b", "org")
      .filter(estJOk)
    val dupFlags = cand.groupBy(col("a").as("doc_id"))
      .agg(max(col("org") === "b").as("f_dvb"),
           max(col("org") === "d").as("f_dwd"))
    // per-doc verdict rows (bucket names match q215's columns)
    val verdicts = audit
      .join(contam, Seq("doc_id"), "left")
      .join(dupFlags, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("n_tok"),
        when(col("score") < PipelineOps.QualityMin, "quality")
          .when(col("lang_pred") === "und", "lang")
          .when(col("n_red") >= PipelineOps.PiiQuarantineAt, "pii")
          .when(coalesce(col("is_contam"), lit(false)), "contam")
          .when(coalesce(col("f_dvb"), lit(false)), "dup_base")
          .when(coalesce(col("f_dwd"), lit(false)), "dup_within")
          .otherwise("admitted").as("bucket"))
    (verdicts, dSigs, dg3k)
  }

  /** Per-batch verdict log (spec surface: cross-batch liveness).
    * `batch` is the discovered partition column of the per-batch
    * idempotent write layout — cast back to the long the specs read.
    */
  private[graft] def spiVerdicts(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    s.read.parquet(
        s"${System.getProperty("java.io.tmpdir")}/graft_spi_$hex/out")
      .withColumn("batch", col("batch").cast("long"))
  }

  // ---- q204: STATEFUL STREAMING FUNNEL — the streaming twin of
  //      q201's strict-order view→click→purchase conversion, and the
  //      one stateful shape the battery lacked: a per-key STATE
  //      MACHINE advanced across micro-batches (the sessionizers keep
  //      interval state; this keeps progression state). Exactness
  //      contract, stated plainly: the incremental fold is exact when
  //      arrival is event-time-ordered ACROSS batches — a late early
  //      'view' could otherwise retro-lower t1 and resurrect a
  //      discarded click; an exact out-of-order funnel needs
  //      watermark-bounded event retention. The staged landing dir
  //      therefore carries three GLOBAL TS-RANK slices (f0/f1/f2,
  //      mtime+name ordered, maxFilesPerTrigger=1 → three batches),
  //      which is exactly what an upstream log router delivers.
  //      WITHIN a batch the group iterator is shuffle-ordered, so the
  //      fold sorts its batch slice by (ts, event_id) before
  //      advancing — per-user-per-batch rows, not corpus. State is
  //      three longs per user (bounded); emissions are Update-mode
  //      progress rows, reduced by componentwise max (progress is
  //      set-once monotone). Output contract == q201, oracle ==
  //      q201's SQL: the stream and the batch funnel must agree
  //      row-for-row. ----
  final case class FunnelEvt(user_id: Long, event_type: String,
                             tus: Long, event_id: Long)
  final case class FunnelSt(t1: Long, t2: Long, t3: Long)
  final case class FunnelEmit(user_id: Long, t1: Long, t2: Long, t3: Long)

  /** Schema of a staged funnel arrival slice (shared by q204/q209 and
    * StreamFunnelSpec's hand-built disorder fixtures).
    */
  private[graft] val funnelSliceSchema = StructType(Seq(
    StructField("user_id", org.apache.spark.sql.types.LongType),
    StructField("event_type", org.apache.spark.sql.types.StringType),
    StructField("tus", org.apache.spark.sql.types.LongType),
    StructField("event_id", org.apache.spark.sql.types.LongType)))

  /** q201's funnel step function over event-time-ORDERED events:
    * earliest view, then earliest click strictly after it, then
    * earliest purchase strictly after that. Exact iff `evts` really is
    * in (tus, event_id) order — the ordering obligation is the whole
    * difference between q204 and q209.
    */
  private[graft] def foldFunnel(t1o: Long, t2o: Long, t3o: Long,
                                evts: Iterable[FunnelPend]): (Long, Long, Long) = {
    var t1 = t1o; var t2 = t2o; var t3 = t3o
    evts.foreach { e =>
      e.event_type match {
        case "view" if t1 < 0 => t1 = e.tus
        case "click" if t1 >= 0 && t2 < 0 && e.tus > t1 => t2 = e.tus
        case "purchase" if t2 >= 0 && t3 < 0 && e.tus > t2 => t3 = e.tus
        case _ => ()
      }
    }
    (t1, t2, t3)
  }

  /** The q204 CORE: per-user ordered incremental fold over the slices
    * in `srcDir`, one micro-batch per file; returns the final per-user
    * (t1,t2,t3). Exact ONLY under event-time-ordered arrival across
    * batches (a late early view cannot retro-lower t1 here) — q209
    * [[wmFoldFinal]] is the disorder-tolerant variant, and
    * StreamFunnelSpec drives BOTH over the same shuffled slices to
    * prove the difference.
    */
  private[graft] def orderedFoldFinal(s: SparkSession, srcDir: String,
                                      qname: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    withStreamShufflePartitions(s) {
      val q = s.readStream.schema(funnelSliceSchema)
        .option("maxFilesPerTrigger", "1").parquet(srcDir)
        .as[FunnelEvt]
        .groupByKey(_.user_id)
        .flatMapGroupsWithState[FunnelSt, FunnelEmit](
          OutputMode.Update, GroupStateTimeout.NoTimeout) {
          (uid: Long, rows: Iterator[FunnelEvt], state: GroupState[FunnelSt]) =>
            var st = state.getOption.getOrElse(FunnelSt(-1L, -1L, -1L))
            // the group iterator is shuffle-ordered; restore event-time
            // order within this batch's slice before folding
            val (t1, t2, t3) = foldFunnel(st.t1, st.t2, st.t3,
              rows.map(e => FunnelPend(e.tus, e.event_id, e.event_type))
                .toSeq.sortBy(p => (p.tus, p.event_id)))
            st = FunnelSt(t1, t2, t3)
            state.update(st)
            Iterator.single(FunnelEmit(uid, st.t1, st.t2, st.t3))
        }
        .toDF()
        .writeStream.outputMode("update").format("memory")
        .queryName(qname).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // Update-mode emissions accumulate one progress row per (user,
    // batch); under ORDERED arrival progress fields are set-once
    // monotone, so the final state is the componentwise max
    s.table(qname).groupBy("user_id")
      .agg(max(struct(col("t1"), col("t2"), col("t3"))).as("m"))
      .select(col("user_id"), col("m.t1").as("t1"), col("m.t2").as("t2"),
              col("m.t3").as("t3"))
      .localCheckpoint(true)
  }

  /** Fold the per-user final progressions into q201's 3-row contract. */
  private def funnelRollup(fin: DataFrame): DataFrame = {
    def row(step: Long, name: String, cond: org.apache.spark.sql.Column,
            lag: org.apache.spark.sql.Column): DataFrame =
      fin.filter(cond)
        .agg(count(lit(1)).as("n_users"),
             coalesce(sum(lag), lit(0L)).as("sum_lag_micros"))
        .select(lit(step).as("step"), lit(name).as("step_name"),
                col("n_users"), col("sum_lag_micros"))
    row(1L, "view", col("t1") >= 0, lit(0L))
      .unionByName(row(2L, "click", col("t2") >= 0, col("t2") - col("t1")))
      .unionByName(row(3L, "purchase", col("t3") >= 0, col("t3") - col("t1")))
      .orderBy("step")
  }

  def streamFunnel(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    val srcDir = stagedSource(d, "funnel", "events") { dir =>
      // three event-time-ordered arrival slices by global ts rank;
      // sequential moves give mtime order = name order = time order
      val ranked = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
                unix_micros(col("ts")).as("tus"), col("event_id"))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("tus"), col("event_id"))))
      stageFunnelSlices(s, dir, ranked)
    }
    funnelRollup(orderedFoldFinal(s, srcDir.toString, s"graft_funnel_$hex"))
  }

  /** Write `ranked` (needs columns user_id/event_type/tus/event_id/rk)
    * as three single-file slices f0<f1<f2 in rank order, mtime+name
    * ordered so maxFilesPerTrigger=1 yields three deterministic
    * micro-batches.
    */
  private def stageFunnelSlices(s: SparkSession,
                                srcDir: java.nio.file.Path,
                                ranked: DataFrame): Unit = {
    val n = ranked.count()
    (0 until 3).foreach { i =>
      writeOneFile(
        ranked.filter(col("rk") > lit(i * n / 3) && col("rk") <= lit((i + 1) * n / 3))
          .select("user_id", "event_type", "tus", "event_id")
          .coalesce(1).sortWithinPartitions("tus", "event_id"),
        srcDir.resolve(s"f$i.parquet"))
    }
  }

  // ---- q209: WATERMARK-BOUNDED OUT-OF-ORDER STREAMING FUNNEL — the
  //      disorder-tolerant variant q204's header promised (its fold is
  //      exact only under event-time-ordered arrival; disorder is the
  //      NORMAL case in a real event pipeline). Per-user state is a
  //      FINALIZED fold plus a PENDING buffer: each batch, events at or
  //      below the watermark finalize into the fold in event-time order
  //      (the watermark guarantees nothing older can still arrive, so
  //      finalization order equals global event-time order); newer
  //      events wait in the buffer and are re-folded PROVISIONALLY on
  //      every emission — a late early view therefore retro-lowers t1
  //      and resurrects a click q204's fold would have discarded.
  //      Fixture: arrival = tus + deterministic jitter bounded by
  //      DisorderUs (xxhash64 of event_id), slices cut by ARRIVAL rank
  //      — genuinely shuffled across batches. With |arrival-tus| <= d,
  //      an arriving event's tus is always >= maxSeenTs - 2d, so a
  //      watermark delay of exactly 2d makes the finalized prefix
  //      provably complete. State per user: 3 longs + the <= 2d-wide
  //      pending buffer (watermark-bounded, the production answer) +
  //      2 counters. Emissions carry a per-user version; the final
  //      answer is the LAST version (progress is NOT monotone under
  //      re-folds, so q204's componentwise-max trick would be wrong
  //      here — max_by(version) instead). Oracle == q201's SQL: the
  //      out-of-order stream must agree with the batch funnel
  //      row-for-row. ----
  final case class FunnelPend(tus: Long, event_id: Long, event_type: String)
  final case class FunnelWmSt(t1: Long, t2: Long, t3: Long,
                              pending: Seq[FunnelPend], version: Long,
                              seen: Long)
  final case class FunnelWmEmit(user_id: Long, t1: Long, t2: Long, t3: Long,
                                version: Long, n_pending: Long, n_seen: Long)

  /** Event-time disorder bound d of the staged arrival order (1 h). */
  private[graft] val DisorderUs = 3600L * 1000000L

  /** The q209 CORE: watermark-bounded finalize + provisional re-fold
    * over the slices in `srcDir`; returns the final per-user
    * (t1,t2,t3). Exact under ANY arrival order whose event-time
    * disorder is bounded by half the watermark delay.
    */
  /** The q209 UNSTARTED stream (watermark + per-user
    * flatMapGroupsWithState) — a named surface so PlanShapeSpec can
    * fence the state plan (per-user keying, the 2d watermark) without
    * running the stream.
    */
  private[graft] def wmFoldStream(s: SparkSession, srcDir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
    s.readStream.schema(funnelSliceSchema)
      .option("maxFilesPerTrigger", "1").parquet(srcDir)
      .withColumn("ts", timestamp_micros(col("tus")))
      .withWatermark("ts", s"${2 * DisorderUs / 1000000L} seconds")
      .as[FunnelEvt]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[FunnelWmSt, FunnelWmEmit](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (uid: Long, rows: Iterator[FunnelEvt], state: GroupState[FunnelWmSt]) =>
          val st0 = state.getOption.getOrElse(
            FunnelWmSt(-1L, -1L, -1L, Nil, 0L, 0L))
          // watermark as of THIS batch (max event time of prior
          // batches minus the 2d delay); 0 before the first advance
          val wmUs = state.getCurrentWatermarkMs() * 1000L
          val arrived = rows
            .map(e => FunnelPend(e.tus, e.event_id, e.event_type)).toSeq
          val all = (st0.pending ++ arrived)
            .sortBy(p => (p.tus, p.event_id))
          // events at/below the watermark can never be preceded by a
          // still-unseen earlier event — finalize them in order
          val (ripe, hold) = all.partition(_.tus <= wmUs)
          val (f1, f2, f3) = foldFunnel(st0.t1, st0.t2, st0.t3, ripe)
          val st = FunnelWmSt(f1, f2, f3, hold, st0.version + 1,
            st0.seen + arrived.length)
          state.update(st)
          // provisional emission: finalized fold extended over the
          // pending buffer (complete at end-of-stream by definition)
          val (p1, p2, p3) = foldFunnel(f1, f2, f3, hold)
          Iterator.single(FunnelWmEmit(uid, p1, p2, p3, st.version,
            hold.length.toLong, st.seen))
      }
      .toDF()
  }

  private[graft] def wmFoldFinal(s: SparkSession, srcDir: String,
                                 qname: String): DataFrame = {
    withStreamShufflePartitions(s) {
      val q = wmFoldStream(s, srcDir)
        .writeStream.outputMode("update").format("memory")
        .queryName(qname).start()
      try q.processAllAvailable()
      finally q.stop()
    }
    // re-folds are NOT monotone — take each user's LAST emission
    s.table(qname).groupBy("user_id")
      .agg(max_by(struct(col("t1"), col("t2"), col("t3")),
                  col("version")).as("m"))
      .select(col("user_id"), col("m.t1").as("t1"), col("m.t2").as("t2"),
              col("m.t3").as("t3"))
      .localCheckpoint(true)
  }

  /** Per-user emission log of the q209 core (all versions) — spec
    * surface for the disorder/finalization liveness assertions.
    */
  private[graft] def wmFoldEmissions(s: SparkSession, qname: String): DataFrame =
    s.table(qname)

  /** Stage (idempotently) and return q209's jittered-arrival source
    * dir — shared by the registered lane and the plan fence.
    */
  private[graft] def wmFunnelSrcDir(s: SparkSession, d: String): String =
    stagedSource(d, "funnelw", "events") { dir =>
      // arrival order = event time + bounded deterministic jitter:
      // slices cut by ARRIVAL rank are genuinely out of event-time
      // order across batches, with disorder provably <= 2*DisorderUs
      val ranked = Tables.events(s, d)
        .select(col("user_id"), col("event_type"),
                unix_micros(col("ts")).as("tus"), col("event_id"))
        .withColumn("arrival", col("tus") +
          pmod(xxhash64(col("event_id")), lit(2 * DisorderUs + 1))
            - lit(DisorderUs))
        .withColumn("rk", row_number().over(
          org.apache.spark.sql.expressions.Window
            .orderBy(col("arrival"), col("event_id"))))
      stageFunnelSlices(s, dir, ranked)
    }.toString

  def streamFunnelWm(s: SparkSession, d: String): DataFrame = {
    val hex = java.lang.Integer.toHexString(d.hashCode)
    funnelRollup(wmFoldFinal(s, wmFunnelSrcDir(s, d), s"graft_funnelw_$hex"))
  }

  val queries: Seq[Q] = Seq(
    Q("q216_stream_pipeline_ingest", streamPipelineIngest,
      Some(graft.ops.PipelineOps.pipelineIncrementSql),
      "the q215 incremental composite RUNNING AS A STREAM: three id-ordered arrival slices each run the full gate chain statelessly (per-row gates + broadcast bench grams) and admit against the static curated-base MinHash index PLUS the accumulated index of earlier arrivals (state lives in the index — unbounded uptime); id-ordered arrival makes 'earlier' == 'smaller id', so the lane shares q215's oracle VERBATIM — stream == batch for the whole curation chain"),
    Q("q209_stream_funnel_ooo", streamFunnelWm,
      Some(graft.ops.EventOps.funnelSql),
      "watermark-bounded OUT-OF-ORDER streaming funnel: per-user finalized fold + pending buffer, events finalize in event-time order once the watermark passes (delay = 2x the staged disorder bound), late early views retro-lower t1 and resurrect discarded steps — arrival slices genuinely shuffled, oracle == q201's batch SQL"),
    Q("q204_stream_funnel", streamFunnel,
      Some(graft.ops.EventOps.funnelSql),
      "stateful streaming funnel: per-user progression state machine advanced across three event-time-ordered micro-batches (flatMapGroupsWithState, Update mode, 3-long state per user) — output contract == q201, oracle == q201's SQL"),
    Q("q212_stream_vacuum_serve", streamVacuumServe,
      Some(graft.ops.SimilarityOps.streamVacuumServeSql),
      "ONLINE lifecycle loop under one live query stream: batch 0 serves the gen-0 snapshot, the swap commits between batches, batch 1 serves gen 1, the q210 vacuum reclaims gen 0's superseded cells MID-STREAM, and batch 2 proves post-vacuum serving is byte-identical to pre-vacuum gen-1 serving (oracle derives all three batches closed-form)"),
    Q("q193_stream_versioned_serve", streamVersionedServe,
      Some(graft.ops.SimilarityOps.streamVersionedServeSql),
      "zero-downtime index swap under a live query stream: stateless q180 routing, a fetch pinned to the latest log entry per micro-batch, generation 1 committed BETWEEN batches — batch 0 serves the gen-0 snapshot, batch 1 serves gen 1, both snapshot-consistent (oracle splits the corpus accordingly)"),
    Q("q188_stream_ingest_compact", streamIngestCompact,
      Some(graft.ops.SimilarityOps.indexLayoutOracle),
      "stream-ingested delta folded into the base index: q173's coder streams postings into an L0 delta area via foreachBatch, compaction prunes the base to the touched cells and stage-and-swaps them — oracle = the full-rebuild chain, so the streamed maintenance loop is hash-indistinguishable from a rebuild"),
    Q("q180_stream_ann_query", streamAnnQuery,
      Some(graft.ops.SimilarityOps.streamAnnQuerySql),
      "streaming ANN query serving against the ON-DISK index: arriving query vectors route via the broadcast centroid kit (stateless), each micro-batch fetches only its probed cells from the cell-partitioned parquet layout (partition-PRUNED FileScan), cosine-scores map-side — the online READ path of the q173-ingested, q179-persisted index"),
    Q("q41_stream_windowed", streamWindowed, Some(streamWindowedSql),
      "Structured Streaming windowed agg == batch q26"),
    Q("q138_stream_static_dedup", streamStaticDedup,
      Some(graft.ops.DedupOps.dedupIncrementalSql),
      "stream-static band join: arriving batch vs corpus index == batch q137"),
    Q("q129_checkpoint_recovery", checkpointRecovery, Some(checkpointRecoverySql),
      "stop/restart on one checkpoint: restored state + source log == exactly-once"),
    Q("q127_stream_stream_join", streamStreamJoin, Some(streamStreamJoinSql),
      "watermarked stream-stream interval join == batch interval join"),
    Q("q63_stream_dedup", streamDedup, Some(streamDedupSql),
      "streaming dropDuplicatesWithinWatermark == batch COUNT(DISTINCT)"),
    Q("q116_stream_topk", streamTopK, Some(streamTopKSql),
      "stateful streaming top-k leaderboard (bounded GroupState heap)"),
    Q("q121_stream_session", streamSession, Some(streamSessionSql),
      "event-time-timeout sessionizer == batch gaps-and-islands oracle"),
    Q("q149_stream_ingest_gate", streamIngestGate,
      Some(graft.ops.DedupOps.ingestGatePerDocSql),
      "stream-static admission gate: arriving docs vs corpus-val band index == batch q148"),
    Q("q154_stream_dsir_gate", streamDsirGate, Some(streamDsirGateSql),
      "streaming DSIR scoring gate: literal ratio-array histogram, per-row integer mean weight, relative cutoff — stateless append"),
    Q("q170_stream_token_meter", streamTokenMeter, Some(streamTokenMeterSql),
      "ingest-time tokenization metering: corpus-trained BPE vocab as the stream-static broadcast side, stateless per-word enrichment, downstream per-doc rollup"),
    Q("q173_stream_vector_ingest", streamVectorIngest,
      Some(graft.ops.SimilarityOps.streamVectorIngestSql),
      "streaming vector-index ingest: centroid kit rides as a one-row stream-static BROADCAST relation (data, not plan literals); only the constant-size PqM x PqK residual codebooks stay literal. Stateless map-side cell routing + residual PQ coding per arriving vector == batch q172 chain on the arrival slice"))
}
