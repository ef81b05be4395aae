package graft.ops

import graft.{Q, Tables}
import graft.functions.Stable._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream operators over the `events` table (batch now; the same
  * transforms run under Structured Streaming in graft.streaming).
  *
  * Absent from the reference (SURVEY §2.2 "Streaming: absent") — these
  * are north-star operators. Windows are epoch-aligned so batch Spark,
  * streaming Spark and the DuckDB oracle all agree on bucket edges.
  */
object EventOps {

  private def ev(s: SparkSession, d: String) = Tables.events(s, d)

  /** Shared batch/streaming transform: tumbling 1h window per type.
    * Used by q26 (batch) and graft.streaming.StreamingOps (readStream).
    */
  def windowedAgg(df: DataFrame): DataFrame =
    df.groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
              col("event_type"), col("n"), col("sum_value"))

  def eventsWindow(s: SparkSession, d: String): DataFrame =
    windowedAgg(ev(s, d)).orderBy("wstart", "event_type")

  private val eventsWindowSql =
    s"""SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS wstart,
       | event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events GROUP BY 1, 2 ORDER BY wstart, event_type""".stripMargin

  /** Session windows: 10-minute inactivity gap per user. Spark's
    * session_window merges an event into the current session when the
    * gap is <= the gap duration (boundary-inclusive — verified in
    * StreamingSpec), so a new session starts only when the gap is
    * STRICTLY greater — the SQL twin reproduces that with lag +
    * running sum (gaps-and-islands).
    */
  def eventsSession(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
              date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("session_start"),
              col("n_events"), col("sum_value"))
      .orderBy("user_id", "session_start")

  private val eventsSessionSql =
    s"""WITH marked AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
       |           > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
       |  FROM events),
       |sessions AS (
       |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM marked)
       |SELECT user_id,
       | strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       | COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
       |FROM sessions GROUP BY user_id, sid
       |ORDER BY user_id, session_start""".stripMargin

  /** JSON prop extraction + aggregation (props is a JSON string). */
  def jsonExtract(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy("event_type")
      .agg(count(col("k")).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type")

  private val jsonExtractSql =
    """SELECT event_type, COUNT(k) AS n, CAST(SUM(k) AS BIGINT) AS sum_k,
      | MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT event_type,
      |        CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- composition: session windows × custom TopKPerKey operator —
  //      each user's single highest-value session. The custom physical
  //      operator consumes the session aggregate directly (bounded
  //      heap per user), where the window formulation would re-sort
  //      every session row. ----
  def topSessionPerUser(s: SparkSession, d: String): DataFrame = {
    val sessions = ev(s, d)
      .groupBy(session_window(col("ts"), "10 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .select(col("user_id"),
              date_format(col("session_window.start"), "yyyy-MM-dd HH:mm:ss")
                .as("session_start"),
              col("n_events"), col("sum_value"))
    graft.plans.TopKPerKey.topKPerKey(
      sessions,
      keys = Seq(col("user_id")),
      order = Seq(col("sum_value").desc, col("session_start").asc),
      k = 1)
      .orderBy("user_id")
  }

  private val topSessionPerUserSql =
    s"""WITH marked AS (
       |  SELECT user_id, ts, value,
       |    CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
       |           > INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk
       |  FROM events),
       |sessions AS (
       |  SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
       |    ROWS UNBOUNDED PRECEDING) AS sid
       |  FROM marked),
       |agged AS (
       |  SELECT user_id,
       |    strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
       |    COUNT(*) AS n_events, ${dsumSql("value")} AS sum_value
       |  FROM sessions GROUP BY user_id, sid),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY user_id
       |    ORDER BY sum_value DESC, session_start ASC) AS rn
       |  FROM agged)
       |SELECT user_id, session_start, n_events, sum_value
       |FROM ranked WHERE rn = 1 ORDER BY user_id""".stripMargin

  // ---- window frames: lag deltas + sliding ROWS-frame aggregates.
  //      Gap is computed in exact epoch micros (unix_micros / epoch_us
  //      — second-level truncation would diverge on sub-second
  //      timestamps). The sliding sum is floor(x·1e6)-quantized: Spark
  //      re-aggregates each frame left-to-right while DuckDB uses
  //      segment trees, so raw double sums would differ in order;
  //      integer sums are order-free. ----
  def movingWindow(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts"), col("event_id"))
    val frame = w.rowsBetween(-2, 0)
    ev(s, d)
      .select(col("user_id"), col("event_id"), col("ts"), col("value"))
      .withColumn("delta_us",
        unix_micros(col("ts")) - lag(unix_micros(col("ts")), 1).over(w))
      .withColumn("mv3_sum",
        sum(floor(col("value") * 1000000.0).cast("long")).over(frame)
          .cast("double") / 1000000.0)
      .withColumn("mv3_max", max(col("value")).over(frame))
      .select(col("user_id"), col("event_id"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
              col("delta_us"), col("mv3_sum"), col("mv3_max"))
      .orderBy("user_id", "event_id")
  }

  private val movingWindowSql =
    """SELECT user_id, event_id,
      | strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      | epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS delta_us,
      | CAST(SUM(CAST(floor(value * 1000000.0) AS BIGINT)) OVER f AS DOUBLE)
      |   / 1000000.0 AS mv3_sum,
      | MAX(value) OVER f AS mv3_max
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id),
      |       f AS (PARTITION BY user_id ORDER BY ts, event_id
      |             ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
      |ORDER BY user_id, event_id""".stripMargin

  // ---- range (interval) join, binned: count events inside overlapping
  //      [h-30min, h+90min) windows. The naive formulation is a
  //      BroadcastNestedLoopJoin (every row × every window — quadratic
  //      at scale); binning each window to the hour buckets it covers
  //      turns it into a broadcast EQUI-join on the bucket plus an
  //      exact residual filter — the standard scale rewrite for
  //      interval joins. The oracle uses the naive BETWEEN join:
  //      identical semantics, so results must match exactly. ----
  def rangeJoinBinned(s: SparkSession, d: String): DataFrame = {
    val wins = ev(s, d)
      .select(date_trunc("hour", col("ts")).as("h")).distinct()
      .select(col("h"),
              (col("h") - expr("INTERVAL 30 MINUTES")).as("ws"),
              (col("h") + expr("INTERVAL 90 MINUTES")).as("we"))
    val winBuckets = wins.select(col("h"), col("ws"), col("we"),
      explode(array(col("h") - expr("INTERVAL 1 HOUR"), col("h"),
                    col("h") + expr("INTERVAL 1 HOUR"))).as("bkt"))
    ev(s, d)
      .withColumn("bkt", date_trunc("hour", col("ts")))
      .join(broadcast(winBuckets), Seq("bkt"))
      .filter(col("ts") >= col("ws") && col("ts") < col("we"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
              col("n"), col("sum_value"))
      .orderBy("wstart")
  }

  private val rangeJoinBinnedSql =
    s"""WITH hrs AS (SELECT DISTINCT date_trunc('hour', ts) AS h FROM events),
       |wins AS (SELECT h, h - INTERVAL 30 MINUTE AS ws,
       |                h + INTERVAL 90 MINUTE AS we FROM hrs)
       |SELECT strftime(w.h, '%Y-%m-%d %H:%M:%S') AS wstart,
       | COUNT(*) AS n, ${dsumSql("e.value")} AS sum_value
       |FROM wins w JOIN events e ON e.ts >= w.ws AND e.ts < w.we
       |GROUP BY w.h ORDER BY wstart""".stripMargin

  // ---- q97: the SAME interval join written NAIVELY — `ts BETWEEN ws
  //      AND we` with no manual binning — relying on the
  //      BinnedRangeJoin optimizer rule to produce the equi-join plan
  //      q66 builds by hand. The user writes the obvious condition; the
  //      engine owns the scale rewrite (PlanShapeSpec asserts no nested
  //      loop survives). Bin width 1 h in micros matches the 2 h
  //      interval span. ----
  //      The bin-width conf is scoped: rule firing happens at plan
  //      materialization, so the registry entry materializes eagerly
  //      (localCheckpoint, like q34) inside the conf scope and RESTORES
  //      the previous value — a leaked width would silently auto-bin
  //      every later inner range join built on the same session with a
  //      width meant for this query's timestamp domain. Plan dumps and
  //      specs use [[rangeJoinAutoLazy]] inside their own conf scope.
  val RangeJoinWidthMicros: Long = 3600L * 1000000L

  def rangeJoinAuto(s: SparkSession, d: String): DataFrame =
    graft.Sessions.withConf(s,
        graft.plans.BinnedRangeJoin.WidthConf -> RangeJoinWidthMicros.toString) {
      rangeJoinAutoLazy(s, d).localCheckpoint(true)
    }

  /** The naive-BETWEEN formulation, not materialized: the caller owns
    * setting [[graft.plans.BinnedRangeJoin.WidthConf]] for the rule to
    * fire at execution time.
    */
  def rangeJoinAutoLazy(s: SparkSession, d: String): DataFrame = {
    val wins = ev(s, d)
      .select(date_trunc("hour", col("ts")).as("h")).distinct()
      .select(col("h"),
              (col("h") - expr("INTERVAL 30 MINUTES")).as("ws"),
              (col("h") + expr("INTERVAL 90 MINUTES")).as("we"))
    ev(s, d)
      .join(broadcast(wins), col("ts") >= col("ws") && col("ts") < col("we"))
      .groupBy(col("h"))
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .select(date_format(col("h"), "yyyy-MM-dd HH:mm:ss").as("wstart"),
              col("n"), col("sum_value"))
      .orderBy("wstart")
  }

  // ---- VARIANT lane (Spark 4 semi-structured type): parse the JSON
  //      props column ONCE into a variant, extract typed fields from
  //      the binary-encoded value — the modern replacement for
  //      re-parsing JSON text per extraction (q28's shape). Oracle via
  //      DuckDB's JSON extraction: same fields, same types. ----
  def variantExtract(s: SparkSession, d: String): DataFrame =
    ev(s, d)
      .withColumn("pv", parse_json(col("props")))
      .withColumn("k", try_variant_get(col("pv"), "$.k", "long"))
      .groupBy((col("k") % 10).as("bucket"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
           min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("bucket")

  private val variantExtractSql =
    """SELECT k % 10 AS bucket, COUNT(*) AS n,
      | CAST(SUM(k) AS BIGINT) AS sum_k, MIN(k) AS min_k, MAX(k) AS max_k
      |FROM (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |      FROM events)
      |GROUP BY 1 ORDER BY bucket""".stripMargin

  // ---- q201: FUNNEL ANALYSIS — the sequential-conversion query every
  //      event warehouse runs: of the users who did `view`, how many
  //      later did `click`, and of those how many later did `purchase`
  //      — each step's timestamp strictly AFTER the previous step's
  //      (min-of-later-events, not mere co-occurrence). Shape: each
  //      step scans ONLY its event type (the equality filter is
  //      pushed to the parquet scan), aggregates user-keyed, and each
  //      step relation is CHECKPOINTED before reuse — without that,
  //      the three union branches would rebuild the whole chain
  //      (view scanned 3×, click 2×; the first cut of this lane did
  //      exactly that, caught in its PLANS.md dump). Step joins are
  //      user-keyed; AQE broadcasts a step relation when it fits and
  //      falls back to a co-partitioned SMJ when the user dimension
  //      doesn't. Conversion lags are exact epoch-micro sums. ----
  def funnel(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("event_type"),
              unix_micros(col("ts")).as("tus"))
    val s1 = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min(col("tus")).as("t1"))
      .localCheckpoint(true)
    val s2 = ev.filter(col("event_type") === "click")
      .join(s1, Seq("user_id"))
      .filter(col("tus") > col("t1"))
      .groupBy("user_id")
      .agg(min(col("tus")).as("t2"), first(col("t1")).as("t1"))
      .localCheckpoint(true)
    val s3 = ev.filter(col("event_type") === "purchase")
      .join(s2, Seq("user_id"))
      .filter(col("tus") > col("t2"))
      .groupBy("user_id")
      .agg(min(col("tus")).as("t3"), first(col("t1")).as("t1"))
      .localCheckpoint(true)
    def row(step: Long, name: String, df: DataFrame, lag: Column): DataFrame =
      df.agg(count(lit(1)).as("n_users"),
             coalesce(sum(lag), lit(0L)).as("sum_lag_micros"))
        .select(lit(step).as("step"), lit(name).as("step_name"),
                col("n_users"), col("sum_lag_micros"))
    row(1L, "view", s1, lit(0L))
      .unionByName(row(2L, "click", s2, col("t2") - col("t1")))
      .unionByName(row(3L, "purchase", s3, col("t3") - col("t1")))
      .orderBy("step")
  }

  private[graft] val funnelSql =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tus FROM events),
      |f1 AS (SELECT user_id, MIN(tus) AS t1 FROM e
      |       WHERE event_type = 'view' GROUP BY user_id),
      |f2 AS (SELECT e.user_id, MIN(e.tus) AS t2, MIN(f1.t1) AS t1
      |       FROM e JOIN f1 ON e.user_id = f1.user_id
      |       WHERE e.event_type = 'click' AND e.tus > f1.t1
      |       GROUP BY e.user_id),
      |f3 AS (SELECT e.user_id, MIN(e.tus) AS t3, MIN(f2.t1) AS t1
      |       FROM e JOIN f2 ON e.user_id = f2.user_id
      |       WHERE e.event_type = 'purchase' AND e.tus > f2.t2
      |       GROUP BY e.user_id)
      |SELECT * FROM (
      |  SELECT CAST(1 AS BIGINT) AS step, 'view' AS step_name,
      |    CAST(COUNT(*) AS BIGINT) AS n_users,
      |    CAST(0 AS BIGINT) AS sum_lag_micros FROM f1
      |  UNION ALL
      |  SELECT 2, 'click', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(t2 - t1), 0) AS BIGINT) FROM f2
      |  UNION ALL
      |  SELECT 3, 'purchase', CAST(COUNT(*) AS BIGINT),
      |    CAST(COALESCE(SUM(t3 - t1), 0) AS BIGINT) FROM f3)
      |ORDER BY step""".stripMargin

  // ---- q202: COHORT RETENTION — the other staple event-warehouse
  //      rollup: users grouped by FIRST-ACTIVE week (the cohort), and
  //      for each later week the fraction of the cohort still active.
  //      Weeks are epoch-anchored integer indices (tus div 7d-micros),
  //      so both engines derive them with exact integer division.
  //      Shape: one distinct over (user, week) — the only corpus
  //      exchange — CHECKPOINTED because both the cohort aggregate and
  //      the cell join read it; the (cohort, offset) matrix is weeks²
  //      rows of metadata, also checkpointed since the size lookup and
  //      the output both read it; cohort sizes broadcast back for the
  //      retention ratio. Every user is active in their own first
  //      week, so the offset-0 cell IS the cohort size. ----
  private val WeekMicros = 7L * 86400L * 1000000L

  def retention(s: SparkSession, d: String): DataFrame = {
    val weeks = Tables.events(s, d)
      .select(col("user_id"),
              expr(s"unix_micros(ts) div $WeekMicros").as("week"))
      .distinct()
      .localCheckpoint(true)
    val cohorts = weeks.groupBy("user_id").agg(min(col("week")).as("cohort_week"))
    val cells = weeks.join(cohorts, Seq("user_id"))
      .groupBy(col("cohort_week"),
               (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_users"))
      .localCheckpoint(true)
    val sizes = cells.filter(col("week_offset") === 0L)
      .select(col("cohort_week"), col("n_users").as("cohort_size"))
    cells.join(broadcast(sizes), Seq("cohort_week"))
      .select(col("cohort_week"), col("week_offset"), col("n_users"),
              col("cohort_size"),
              expr("(n_users * 1000000) div cohort_size")
                .as("retention_millionths"))
      .orderBy("cohort_week", "week_offset")
  }

  private val retentionSql =
    s"""WITH w AS (SELECT DISTINCT user_id,
       |    epoch_us(ts) // $WeekMicros AS week FROM events),
       |c AS (SELECT user_id, MIN(week) AS cohort_week FROM w GROUP BY user_id),
       |cells AS (SELECT c.cohort_week, w.week - c.cohort_week AS week_offset,
       |    CAST(COUNT(*) AS BIGINT) AS n_users
       |  FROM w JOIN c ON w.user_id = c.user_id
       |  GROUP BY c.cohort_week, w.week - c.cohort_week),
       |sz AS (SELECT cohort_week, n_users AS cohort_size FROM cells
       |       WHERE week_offset = 0)
       |SELECT cells.cohort_week, cells.week_offset, cells.n_users,
       |  sz.cohort_size,
       |  CAST((cells.n_users * 1000000) // sz.cohort_size AS BIGINT)
       |    AS retention_millionths
       |FROM cells JOIN sz ON cells.cohort_week = sz.cohort_week
       |ORDER BY cells.cohort_week, cells.week_offset""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q201_funnel", funnel, Some(funnelSql),
      "funnel analysis: strictly-ordered view->click->purchase conversion counts + exact epoch-micro lag sums, each step a user-keyed aggregate reusing one exchange"),
    Q("q202_retention", retention, Some(retentionSql),
      "cohort retention matrix: first-active-week cohorts x week offset, distinct-user cells and exact integer retention ratios — one corpus exchange (user,week distinct)"),
    Q("q79_variant", variantExtract, Some(variantExtractSql),
      "Spark 4 VARIANT: parse props once, typed extraction from binary"),
    Q("q65_moving_window", movingWindow, Some(movingWindowSql),
      "lag deltas + sliding ROWS-frame aggregates (quantized exact)"),
    Q("q66_range_join", rangeJoinBinned, Some(rangeJoinBinnedSql),
      "interval join binned to a broadcast equi-join + residual filter"),
    Q("q97_range_join_auto", rangeJoinAuto, Some(rangeJoinBinnedSql),
      "naive BETWEEN join auto-binned by the BinnedRangeJoin rule"),
    Q("q59_top_session", topSessionPerUser, Some(topSessionPerUserSql),
      "session windows composed with the custom TopKPerKey operator"),
    Q("q26_events_window", eventsWindow, Some(eventsWindowSql),
      "tumbling 1h window agg"),
    Q("q27_events_session", eventsSession, Some(eventsSessionSql),
      "session windows (10 min gap)"),
    Q("q28_json_extract", jsonExtract, Some(jsonExtractSql),
      "JSON prop extraction + agg"))
}
