package graft.ops

import graft.{Q, Tables}
import graft.functions.HashFns.{hash64, hash64Sql, tokens, tokensSql}
import graft.functions.Stable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Advanced relational + scale-infrastructure operators, beyond the
  * reference surface (SURVEY §2.2 marks these families absent there):
  * pivot, cube, sketches, bucketed co-located joins, partition-pruned
  * sinks, as-of joins. These are the pieces a 100 TB deployment leans
  * on hardest: bucketing kills the fact-fact join shuffle, partition
  * pruning turns full scans into single-partition reads, sketches
  * replace exact distincts at a fraction of the memory.
  */
object AdvancedOps {

  // ---- pivot: per-returnflag means spread over linestatus columns ----
  def pivotAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(dmean(col("l_quantity")))
      .select(col("l_returnflag"), col("F").as("qty_f"), col("O").as("qty_o"))
      .orderBy("l_returnflag")

  private val pivotAggSql = {
    def cond(v: String) =
      s"CAST(SUM(CAST(CASE WHEN l_linestatus = '$v' THEN l_quantity END AS DECIMAL(18,6))) AS DOUBLE)" +
        s" / COUNT(CASE WHEN l_linestatus = '$v' THEN l_quantity END)"
    s"""SELECT l_returnflag, ${cond("F")} AS qty_f, ${cond("O")} AS qty_o
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin
  }

  // ---- cube: all grouping-set combinations + grouping id ----
  def cubeAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .cube("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
           grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_last,
               col("l_linestatus").asc_nulls_last)

  private val cubeAggSql =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       | ${dsumSql("l_quantity")} AS sum_qty,
       | CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
       |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin

  // ---- sketches: HLL distinct-count + approx quantiles. Sketch
  //      INTERNALS are engine-specific (Spark HLL++ vs DuckDB HLL,
  //      KLL vs t-digest), so the raw estimates can never hash-match.
  //      Oracle strategy (VERDICT r3 #2): each engine independently
  //      computes its own sketch AND the exact value, then emits
  //      error-ENVELOPE booleans — HLL within ±4·rsd of the exact
  //      distinct count, approx-p50 inside a histogram-derived
  //      [p49, p51] rank band. Both sides output (true, true, n) whenever their sketch
  //      honors its own accuracy contract, which IS the property a user
  //      of an approximate function relies on. SketchSpec additionally
  //      asserts the numeric envelope against exact values. ----
  // HLL envelope width: 4·rsd (rsd = 0.02 requested from Spark; DuckDB's
  // HLL runs its own default profile). At 4 sigma the per-engine flake
  // probability is ~6e-5 per run — the r4 band of 3·rsd carried ~0.3%
  // per engine per run, enough to surface as an unreproducible oracle
  // failure once in a few hundred rounds (ADVICE r4 #4). The envelope
  // only asserts "the sketch honors its accuracy contract typically",
  // so the wider band loses nothing.
  private val HllBand = 0.08

  def sketches(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    // countDistinct NEVER shares an Aggregate with other functions:
    // mixing them triggers the Expand rewrite (one input copy per
    // aggregate group through every operator — measured 20-60x slower
    // here), so the exact distinct count gets its own scan.
    val sketched = li.agg(
      approx_count_distinct(col("l_orderkey"), 0.02).as("orderkeys_hll"),
      percentile_approx(col("l_extendedprice"), lit(0.5), lit(10000)).as("price_p50_approx"),
      count(lit(1)).as("n"))
    // p50 rank band from a MERGEABLE integer-bucket histogram
    // (VERDICT r4 #1) — replaces the exact percentile(0.49, 0.51),
    // whose ObjectHashAggregate buffered every value through a
    // SinglePartition exchange. Bucket counts add associatively
    // (map-side combine; bit-identical at any cluster size) and the
    // cumulative pick runs over the bucket table (~price range in
    // dollars, ≤~110k rows at any sf), never the data. The band is a
    // superset of the exact [p49, p51] interval — p49 lies in bucket
    // b_lo so band_lo = b_lo ≤ p49, p51 in b_hi so band_hi = b_hi + 1
    // > p51 — and percentile_approx at accuracy 10000 has rank error
    // ±0.01%, far inside the ±1% rank band.
    val wCum = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val wAll = Window
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val band = li
      .groupBy(floor(col("l_extendedprice")).cast("long").as("b"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum(col("cnt")).over(wCum))
      .withColumn("n_rows", sum(col("cnt")).over(wAll))
      .agg(
        min(when(col("cum") >= ceil(col("n_rows") * 0.49), col("b"))).as("b_lo"),
        min(when(col("cum") >= ceil(col("n_rows") * 0.51), col("b"))).as("b_hi"))
    val exact = li.agg(countDistinct(col("l_orderkey")).as("orderkeys_exact"))
    sketched.crossJoin(broadcast(exact)).crossJoin(broadcast(band))
      .select(
        (abs(col("orderkeys_hll") - col("orderkeys_exact")) <=
          col("orderkeys_exact") * lit(HllBand)).as("hll_ok"),
        (col("price_p50_approx") >= col("b_lo").cast("double") &&
          col("price_p50_approx") < (col("b_hi") + 1).cast("double")).as("p50_ok"),
        col("n"))
  }

  private val sketchesSql =
    s"""WITH s AS (SELECT approx_count_distinct(l_orderkey) AS hll,
       |                  approx_quantile(l_extendedprice, 0.5) AS p50a,
       |                  count(*) AS n FROM lineitem),
       |     e AS (SELECT count(DISTINCT l_orderkey) AS nd FROM lineitem),
       |     h AS (SELECT CAST(floor(l_extendedprice) AS BIGINT) AS b,
       |                  count(*) AS cnt FROM lineitem GROUP BY 1),
       |     c AS (SELECT b, SUM(cnt) OVER (ORDER BY b
       |                     ROWS UNBOUNDED PRECEDING) AS cum FROM h),
       |     band AS (SELECT MIN(CASE WHEN cum >= ceil(n * 0.49) THEN b END) AS b_lo,
       |                     MIN(CASE WHEN cum >= ceil(n * 0.51) THEN b END) AS b_hi
       |              FROM c, s)
       |SELECT abs(hll - nd) <= nd * $HllBand AS hll_ok,
       |       p50a >= b_lo AND p50a < b_hi + 1 AS p50_ok, n
       |FROM s, e, band""".stripMargin

  // ---- q98: DETERMINISTIC quantile sketch — the oracle-able
  //      counterpart to q44's engine-specific percentile_approx. A
  //      fixed-width 1024-bucket histogram is a mergeable sketch with
  //      none of t-digest's merge-order sensitivity: bucket counts add
  //      associatively, so a 1000-executor build is bit-identical to a
  //      single-threaded one. Two scan passes (exact min/max, then
  //      counts); the cumulative pick runs over <=1024 rows regardless
  //      of data size. Estimate error is bounded by the bucket width —
  //      asserted against exact percentiles in SketchSpec. ----
  private val QhBuckets = 1024

  def quantileHist(s: SparkSession, d: String): DataFrame = {
    val price = col("l_extendedprice")
    val li = Tables.lineitem(s, d)
    val mm = li.agg(min(price).as("lo"), max(price).as("hi"),
                    count(lit(1)).as("n"))
    val width = (col("hi") - col("lo")) / lit(QhBuckets.toDouble)
    val counts = li.crossJoin(broadcast(mm))
      .select(least(floor((price - col("lo")) / width).cast("long"),
                    lit((QhBuckets - 1).toLong)).as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
    val cum = counts.withColumn("cum",
      sum(col("cnt")).over(Window.orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val qs = cum.sparkSession.range(1)
      .select(explode(array(Seq(0.25, 0.5, 0.75, 0.95).map(lit): _*)).as("q"))
    cum.crossJoin(broadcast(qs)).crossJoin(broadcast(mm))
      .filter(col("cum").cast("double") >= col("q") * col("n"))
      .groupBy("q")
      .agg(min(col("bucket")).as("qb"), min(col("n")).as("n"))
      .crossJoin(broadcast(mm.select(col("lo"), col("hi"))))
      .select(col("q"), col("qb"),
              floor((col("lo") + (col("qb") + lit(0.5))
                * ((col("hi") - col("lo")) / lit(QhBuckets.toDouble))) * 1e6)
                .cast("long").as("est_q6"),
              col("n"))
      .orderBy("q")
  }

  private val quantileHistSql =
    s"""WITH mm AS (SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
       |             COUNT(*) AS n FROM lineitem),
       |b AS (SELECT least(CAST(floor((l_extendedprice - lo)
       |        / ((hi - lo) / $QhBuckets.0)) AS BIGINT),
       |        ${QhBuckets - 1}) AS bucket
       |      FROM lineitem, mm),
       |c AS (SELECT bucket, COUNT(*) AS cnt FROM b GROUP BY 1),
       |cum AS (SELECT bucket, SUM(cnt) OVER (ORDER BY bucket
       |          ROWS UNBOUNDED PRECEDING) AS cum FROM c),
       |qs AS (SELECT CAST(unnest([0.25, 0.5, 0.75, 0.95]) AS DOUBLE) AS q),
       |pick AS (SELECT q, MIN(bucket) AS qb, MIN(n) AS n
       |         FROM cum, qs, mm
       |         WHERE CAST(cum AS DOUBLE) >= q * n GROUP BY q)
       |SELECT q, qb,
       | CAST(floor((lo + (qb + 0.5) * ((hi - lo) / $QhBuckets.0)) * 1e6)
       |   AS BIGINT) AS est_q6,
       | pick.n AS n
       |FROM pick, mm ORDER BY q""".stripMargin

  // ---- q99: count-min sketch — frequency estimation in fixed memory
  //      (4 x 1024 counters for any corpus size). The 4 row buckets are
  //      disjoint 10-bit slices of ONE md5 hash64 per token, so the
  //      sketch is DETERMINISTIC and the DuckDB twin reproduces it cell
  //      for cell — unlike q44's HLL, this sketch is fully
  //      oracle-checkable. Build is one explode + hash-agg (counts add,
  //      so partials merge associatively at any cluster size); probing
  //      joins 4 rows per key. est >= exact by
  //      construction (collisions only inflate) — the over_est column
  //      exposes the error; SketchSpec bounds it. ----
  private val CmDepths = 4
  private val CmWidth = 1024
  private val CmProbes =
    Seq("join", "hash", "scan", "order", "small", "customer", "zz_absent")

  def countMin(s: SparkSession, d: String): DataFrame = {
    // ONE md5 per token; the 4 row buckets are disjoint 10-bit slices
    // of the 60-bit hash (4x less hashing than hashing per depth —
    // slice independence is all count-min needs: a colliding pair in
    // one slice is unlikely to collide in another)
    def buckets(h: org.apache.spark.sql.Column) =
      posexplode(array((0 until CmDepths).map(dd =>
        shiftright(h, 10 * dd).bitwiseAND(lit((CmWidth - 1).toLong))): _*))
    val toks = Tables.documents(s, d)
      .select(explode(tokens(col("text"))).as("tok"))
      .select(col("tok"), hash64(col("tok")).as("h"))
      .persist()
    val sketch = toks
      .select(buckets(col("h")).as(Seq("depth", "bucket")))
      .groupBy("depth", "bucket").agg(count(lit(1)).as("cnt"))
    val probes = s.range(1)
      .select(explode(array(CmProbes.map(lit): _*)).as("tok"))
      .select(col("tok"), buckets(hash64(col("tok"))).as(Seq("depth", "bucket")))
    val est = probes.join(sketch, Seq("depth", "bucket"), "left")
      .groupBy("tok")
      .agg(min(coalesce(col("cnt"), lit(0L))).as("n_est"))
    val exact = toks.groupBy("tok").agg(count(lit(1)).as("n_exact"))
    val result = est.join(exact, Seq("tok"), "left")
      .select(col("tok"), col("n_est"),
              coalesce(col("n_exact"), lit(0L)).as("n_exact"),
              (col("n_est") - coalesce(col("n_exact"), lit(0L))).as("over_est"))
      .orderBy("tok")
      .localCheckpoint(true)
    toks.unpersist(false)
    result
  }

  private val countMinSql = {
    val probeList = CmProbes.map(p => s"'$p'").mkString("[", ", ", "]")
    val bucket = s"(h >> (10 * dd)) & ${CmWidth - 1}"
    s"""WITH t AS (SELECT tok, ${hash64Sql("tok")} AS h FROM
       |       (SELECT unnest(${tokensSql("text")}) AS tok FROM documents)),
       |ds AS (SELECT unnest(range(0, $CmDepths)) AS dd),
       |sk AS (SELECT dd, $bucket AS bucket, COUNT(*) AS cnt
       |       FROM t, ds GROUP BY 1, 2),
       |pr AS (SELECT tok, ${hash64Sql("tok")} AS h FROM
       |       (SELECT unnest($probeList) AS tok)),
       |pb AS (SELECT tok, dd, $bucket AS bucket FROM pr, ds),
       |est AS (SELECT pb.tok, MIN(COALESCE(sk.cnt, 0)) AS n_est
       |        FROM pb LEFT JOIN sk ON pb.dd = sk.dd AND pb.bucket = sk.bucket
       |        GROUP BY 1),
       |ex AS (SELECT tok, COUNT(*) AS n_exact FROM t GROUP BY 1)
       |SELECT est.tok, CAST(n_est AS BIGINT) AS n_est,
       | CAST(COALESCE(ex.n_exact, 0) AS BIGINT) AS n_exact,
       | CAST(n_est - COALESCE(ex.n_exact, 0) AS BIGINT) AS over_est
       |FROM est LEFT JOIN ex ON est.tok = ex.tok
       |ORDER BY est.tok""".stripMargin
  }

  // ---- q120: linear-counting distinct sketch — the oracle-able
  //      mergeable counterpart to q44's HLL (as q98 is to its quantile
  //      half). Per group, a 1024-bit bitmap (16 bigint words) marks
  //      hash buckets of seen keys; words merge with bit_or, which is
  //      idempotent AND associative, so a 1000-executor build is
  //      bit-identical to a single-threaded one and partial bitmaps
  //      union across shards/days for free. The distinct estimate
  //      -m·ln(zeros/m) is float, so it stays in the SPEC; the query
  //      outputs only integers — zero-bit count, xor checksum (proves
  //      identical bitmaps, not just similar counts), exact distinct
  //      from a separate aggregate (separate: mixing countDistinct
  //      with other aggs triggers the Expand rewrite). ----
  private val LcWords = 16 // 16 x 64 = 1024 bits
  /** bitmap size in bits — the m of the -m·ln(zeros/m) estimate; the
    * spec derives its formula from this so the geometry has one knob
    */
  val LcBits: Long = LcWords * 64L
  private val lcSeed = "lc:"

  def linearCount(s: SparkSession, d: String): DataFrame = {
    val bucket = pmod(hash64(concat(lit(lcSeed), col("l_partkey").cast("string"))),
                      lit(LcWords * 64L))
    // bind bucket once: both the word index and the bit mask read it
    val bound = Tables.lineitem(s, d)
      .select(col("l_returnflag"), bucket.as("bkt"))
      .select(col("l_returnflag"),
              expr("bkt DIV 64").as("w"),
              expr("shiftleft(1L, CAST(bkt % 64 AS INT))").as("m"))
    val words = (0 until LcWords).map(i =>
      expr(s"bit_or(CASE WHEN w = $i THEN m ELSE 0L END)").as(s"w$i"))
    val sketch = bound.groupBy("l_returnflag")
      .agg(words.head, words.tail: _*)
    val zeroBits = (0 until LcWords)
      .map(i => lit(64L) - expr(s"bit_count(w$i)").cast("long"))
      .reduce(_ + _)
    val xorSum = (0 until LcWords).map(i => col(s"w$i"))
      .reduce((a, b) => a.bitwiseXOR(b))
    val exact = Tables.lineitem(s, d)
      .groupBy(col("l_returnflag").as("rf2"))
      .agg(countDistinct(col("l_partkey")).as("n_exact"))
    sketch
      .select(col("l_returnflag"), zeroBits.as("n_zero_bits"),
              xorSum.as("xor_checksum"))
      .join(exact, col("l_returnflag") === col("rf2"))
      .select("l_returnflag", "n_zero_bits", "xor_checksum", "n_exact")
      .orderBy("l_returnflag")
  }

  private val linearCountSql = {
    val h = hash64Sql(s"'$lcSeed' || CAST(l_partkey AS VARCHAR)")
    val m = LcWords * 64
    // DuckDB overflow-checks 1<<63 (the sign bit) — mask it explicitly
    val mask = "CASE WHEN bkt % 64 = 63 THEN -9223372036854775808 " +
      "ELSE (1::BIGINT << CAST(bkt % 64 AS INTEGER)) END"
    val words = (0 until LcWords).map(i =>
      s"bit_or(CASE WHEN bkt // 64 = $i THEN $mask ELSE 0 END) AS w$i")
      .mkString(",\n       |   ")
    val zeros = (0 until LcWords)
      .map(i => s"(64 - CAST(bit_count(w$i) AS BIGINT))").mkString(" + ")
    val xor = (0 until LcWords).map(i => s"w$i")
      .reduceLeft((a, b) => s"xor($a, $b)")
    s"""WITH b AS (SELECT l_returnflag, (($h % $m) + $m) % $m AS bkt FROM lineitem),
       |sk AS (SELECT l_returnflag,
       |   $words
       |  FROM b GROUP BY 1),
       |ex AS (SELECT l_returnflag AS rf2,
       |         CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS n_exact
       |       FROM lineitem GROUP BY 1)
       |SELECT l_returnflag, CAST($zeros AS BIGINT) AS n_zero_bits,
       | CAST($xor AS BIGINT) AS xor_checksum, n_exact
       |FROM sk JOIN ex ON l_returnflag = rf2
       |ORDER BY l_returnflag""".stripMargin
  }

  // ---- bucketed co-located join: both fact tables pre-bucketed on the
  //      join key → SortMergeJoin with NO shuffle exchange on either
  //      side (the decisive optimization for repeated fact-fact joins
  //      at scale; BucketedJoinSpec asserts the exchange-free plan) ----
  def bucketedJoin(s: SparkSession, d: String): DataFrame = {
    val suffix = java.lang.Integer.toHexString(d.hashCode)
    val liT = s"graft_li_b_$suffix"
    val oT = s"graft_o_b_$suffix"
    if (!s.catalog.tableExists(liT)) {
      // the in-memory catalog dies with the JVM but the warehouse dir
      // survives — clear any stale location or saveAsTable refuses
      val wh = java.net.URI.create(
        s.conf.get("spark.sql.warehouse.dir")).getPath
      Seq(liT, oT).foreach { t =>
        val p = java.nio.file.Paths.get(wh, t)
        if (java.nio.file.Files.exists(p)) {
          import scala.jdk.CollectionConverters._
          java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
            .iterator().asScala.foreach(java.nio.file.Files.delete)
        }
      }
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_quantity", "l_extendedprice")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable(liT)
      Tables.orders(s, d)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable(oT)
    }
    s.table(liT)
      .join(s.table(oT), col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("o_orderstatus")
  }

  private val bucketedJoinSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- partitioned sink + partition pruning: write events by date,
  //      read one day back (plan shows PartitionFilters, scans 1/30 of
  //      the data) ----
  def partitionPrune(s: SparkSession, d: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_events_bydate_" +
      java.lang.Integer.toHexString(d.hashCode)
    // content-aware reuse: fingerprint the SOURCE parquet (size+mtime)
    // so a regenerated testdata file rebuilds the fixture rather than
    // silently serving stale rows to the oracle
    graft.Fixtures.staged(java.nio.file.Paths.get(out), s"$d/events.parquet") {
      Tables.events(s, d)
        .withColumn("event_date", to_date(col("ts")))
        .write.partitionBy("event_date").mode("overwrite").parquet(out)
    }
    s.read.parquet(out)
      .filter(col("event_date") === lit("2024-01-15"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"))
      .orderBy("event_type")
  }

  private val partitionPruneSql =
    s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value
       |FROM events WHERE CAST(ts AS DATE) = DATE '2024-01-15'
       |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- q124: write-layout management as an ORACLED query (VERDICT r4
  //      #6 — the last spec-only surface). The sink layout IS the read
  //      performance of every downstream job at 100 TB: file count,
  //      per-file key clustering, and records-per-file caps are product
  //      behavior, not incidentals. The query writes lineitem clustered
  //      into deterministic key-range buckets (floor(l_orderkey/20000)
  //      — explicit arithmetic, NOT repartitionByRange, whose sampled
  //      boundaries are not reproducible for an oracle), one writer
  //      task per bucket, maxRecordsPerFile=5000, then reads the layout
  //      FACTS back as rows: ceil(rows/5000) files per bucket, no file
  //      above the cap, per-file key ranges disjoint within a bucket.
  //      Every fact is arithmetic over the clean table, so DuckDB
  //      reproduces it without seeing the written directory. ----
  private val LayoutBucketWidth = 20000L
  private val LayoutMaxRecords = 5000L

  def writeLayout(s: SparkSession, d: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_layout_" +
      java.lang.Integer.toHexString(d.hashCode)
    // content-aware reuse (see partitionPrune)
    graft.Fixtures.staged(java.nio.file.Paths.get(out), s"$d/lineitem.parquet") {
      Tables.lineitem(s, d)
        .withColumn("bucket", floor(col("l_orderkey") / LayoutBucketWidth))
        // hash-repartition on the bucket column: every bucket is owned
        // by exactly one writer task, so files-per-bucket is the
        // deterministic ceil(bucket_rows / maxRecordsPerFile); the
        // within-task sort keeps each rolled file a contiguous key run
        .repartition(col("bucket"))
        .sortWithinPartitions("bucket", "l_orderkey")
        .write.partitionBy("bucket")
        .option("maxRecordsPerFile", LayoutMaxRecords)
        .mode("overwrite").parquet(out)
    }
    val wB = Window.partitionBy("bucket").orderBy("lo", "f")
    s.read.parquet(out)
      .groupBy(col("bucket"), col("_metadata.file_name").as("f"))
      .agg(count(lit(1)).as("rows"),
           min("l_orderkey").as("lo"), max("l_orderkey").as("hi"))
      .withColumn("prev_hi", lag(col("hi"), 1).over(wB))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_files"),
           sum(col("rows")).as("n_rows"),
           min(col("lo")).as("min_key"), max(col("hi")).as("max_key"),
           max(col("rows")).as("max_file_rows"),
           bool_and(col("prev_hi").isNull || col("prev_hi") <= col("lo"))
             .as("files_disjoint"))
      .select(col("bucket").cast("long").as("bucket"), col("n_files"),
              col("n_rows"), col("min_key"), col("max_key"),
              col("max_file_rows"), col("files_disjoint"))
      .orderBy("bucket")
  }

  private val writeLayoutSql =
    s"""WITH a AS (SELECT CAST(floor(l_orderkey / $LayoutBucketWidth.0) AS BIGINT) AS bucket,
       |                  COUNT(*) AS n_rows,
       |                  MIN(l_orderkey) AS min_key, MAX(l_orderkey) AS max_key
       |           FROM lineitem GROUP BY 1)
       |SELECT bucket, CAST(ceil(n_rows / $LayoutMaxRecords.0) AS BIGINT) AS n_files,
       |       n_rows, min_key, max_key,
       |       CAST(least(n_rows, $LayoutMaxRecords) AS BIGINT) AS max_file_rows,
       |       TRUE AS files_disjoint
       |FROM a ORDER BY bucket""".stripMargin

  // ---- as-of join: latest order at-or-before each event, per user.
  //      Spark has no asof operator; the scalable composition is a
  //      tagged union + one window pass (single shuffle on user_id),
  //      not a range cross-join. Order rows sort before event rows at
  //      equal timestamps (asof is <=), and same-timestamp orders
  //      resolve to the max orderkey — both engines share the rule. ----
  def asofJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .select(col("user_id"), col("ts"), col("event_id"),
              lit(1).as("kind"), lit(null).cast("long").as("o_orderkey"),
              lit(null).cast("double").as("o_totalprice"))
    val ord = Tables.orders(s, d)
      .select(col("o_custkey").as("user_id"), col("o_orderdate").as("ts"),
              lit(null).cast("long").as("event_id"),
              lit(0).as("kind"), col("o_orderkey"), col("o_totalprice"))
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts").asc, col("kind").asc, col("o_orderkey").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.unionByName(ord)
      .withColumn("last_orderkey", last(col("o_orderkey"), ignoreNulls = true).over(w))
      .withColumn("last_totalprice", last(col("o_totalprice"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("user_id"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss").as("ts_s"),
              col("last_orderkey"), col("last_totalprice"))
      .orderBy("event_id")
  }

  private val asofJoinSql =
    """WITH u AS (
      |  SELECT user_id, ts, event_id, 1 AS kind,
      |         CAST(NULL AS BIGINT) AS o_orderkey,
      |         CAST(NULL AS DOUBLE) AS o_totalprice
      |  FROM events
      |  UNION ALL
      |  SELECT o_custkey AS user_id, o_orderdate AS ts,
      |         CAST(NULL AS BIGINT) AS event_id, 0 AS kind,
      |         o_orderkey, o_totalprice
      |  FROM orders),
      |m AS (
      |  SELECT *,
      |    last_value(o_orderkey IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts, kind, o_orderkey
      |       ROWS UNBOUNDED PRECEDING) AS last_orderkey,
      |    last_value(o_totalprice IGNORE NULLS) OVER
      |      (PARTITION BY user_id ORDER BY ts, kind, o_orderkey
      |       ROWS UNBOUNDED PRECEDING) AS last_totalprice
      |  FROM u)
      |SELECT event_id, user_id, strftime(ts, '%Y-%m-%d %H:%M:%S') AS ts_s,
      |       last_orderkey, last_totalprice
      |FROM m WHERE kind = 1 ORDER BY event_id""".stripMargin

  // ---- custom-operator top-k per key: graft.plans.TopKPerKey keeps a
  //      bounded heap per key instead of window-sorting every row —
  //      same result set as q24's rank<=2 formulation, radically
  //      different physical plan (see TopKPerKeySpec for the
  //      differential + plan assertions) ----
  def topkPerKeyCustom(s: SparkSession, d: String): DataFrame =
    graft.plans.TopKPerKey.topKPerKey(
      Tables.lineitem(s, d)
        .select("l_orderkey", "l_linenumber", "l_extendedprice"),
      keys = Seq(col("l_orderkey")),
      order = Seq(col("l_extendedprice").desc, col("l_linenumber").asc),
      k = 2)
      .orderBy(col("l_orderkey"), col("l_extendedprice").desc,
               col("l_linenumber").asc)

  private val topkPerKeyCustomSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice
      |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  row_number() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rn
      |  FROM lineitem)
      |WHERE rn <= 2
      |ORDER BY l_orderkey, l_extendedprice DESC, l_linenumber ASC""".stripMargin

  // ---- JSON-lines sink + schema'd JSON scan roundtrip ----
  def jsonRoundtrip(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_events_json_" +
      java.lang.Integer.toHexString(d.hashCode)
    Tables.events(s, d)
      .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
              date_format(col("ts"), "yyyy-MM-dd HH:mm:ss.SSSSSS").as("ts_s"))
      .write.mode("overwrite").json(out)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts_s", StringType)))
    s.read.schema(schema).json(out)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), dsum(col("value")).as("sum_value"),
           min(col("ts_s")).as("min_ts"), max(col("ts_s")).as("max_ts"))
      .orderBy("event_type")
  }

  private val jsonRoundtripSql =
    s"""SELECT event_type, COUNT(*) AS n, ${dsumSql("value")} AS sum_value,
       | MIN(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS min_ts,
       | MAX(strftime(ts, '%Y-%m-%d %H:%M:%S.%f')) AS max_ts
       |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  // ---- typed Aggregator (UDAF surface): weighted mean via udaf() ----
  def weightedMean(s: SparkSession, d: String): DataFrame = {
    val wmean = udaf(new graft.functions.WeightedMean())
    Tables.lineitem(s, d)
      .groupBy("l_returnflag")
      .agg(wmean(col("l_discount"), col("l_quantity")).as("wavg_discount"),
           count(lit(1)).as("n"))
      .orderBy("l_returnflag")
  }

  private val weightedMeanSql =
    s"""SELECT l_returnflag,
       | ${graft.functions.WeightedMean.sql("l_discount", "l_quantity")} AS wavg_discount,
       | COUNT(*) AS n
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- TPC-H Q6: the classic predicate-pushdown revenue probe ----
  def tpchQ6(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .filter(col("l_discount").between(0.05, 0.07) && col("l_quantity") < 24)
      .agg(dsum(col("l_extendedprice") * col("l_discount")).as("revenue"),
           count(lit(1)).as("n"))

  private val tpchQ6Sql =
    s"""SELECT ${dsumSql("l_extendedprice * l_discount")} AS revenue,
       | COUNT(*) AS n
       |FROM lineitem
       |WHERE l_discount BETWEEN 0.05 AND 0.07 AND l_quantity < 24""".stripMargin

  // ---- histogram: fixed-width binning via floor arithmetic (DuckDB
  //      1.0 has no width_bucket; explicit floor is portable and
  //      deterministic on identical doubles) ----
  def histogram(s: SparkSession, d: String): DataFrame = {
    val lo = 900.0; val hi = 104950.0; val nb = 20
    val step = (hi - lo) / nb
    val bucket = least(floor((col("l_extendedprice") - lo) / step), lit(nb - 1.0))
      .cast("int")
    Tables.lineitem(s, d)
      .groupBy(bucket.as("bucket"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("bucket")
  }

  private val histogramSql = {
    val lo = 900.0; val hi = 104950.0; val nb = 20
    val step = (hi - lo) / nb
    val bucket = s"CAST(least(floor((l_extendedprice - $lo) / $step), ${nb - 1}.0) AS INTEGER)"
    s"""SELECT $bucket AS bucket, COUNT(*) AS n,
       | ${dsumSql("l_extendedprice")} AS sum_price
       |FROM lineitem GROUP BY $bucket ORDER BY bucket""".stripMargin
  }

  // ---- Pearson correlation from exact decimal sums (engine corr()
  //      implementations stream differently; the closed form over
  //      exact sums is bit-identical everywhere) ----
  def correlation(s: SparkSession, d: String): DataFrame = {
    val x = col("l_quantity"); val y = col("l_extendedprice")
    val n = count(lit(1)).cast("double")
    val agg = Tables.lineitem(s, d).agg(
      count(lit(1)).as("n"), dsum(x).as("sx"), dsum(y).as("sy"),
      dsum(x * x).as("sxx"), dsum(y * y).as("syy"), dsum(x * y).as("sxy"))
    agg.select(col("n"),
      ((col("n") * col("sxy") - col("sx") * col("sy")) /
        (sqrt(col("n") * col("sxx") - col("sx") * col("sx")) *
          sqrt(col("n") * col("syy") - col("sy") * col("sy")))).as("corr_qty_price"))
  }

  private val correlationSql = {
    val sx = dsumSql("l_quantity"); val sy = dsumSql("l_extendedprice")
    val sxx = dsumSql("l_quantity * l_quantity")
    val syy = dsumSql("l_extendedprice * l_extendedprice")
    val sxy = dsumSql("l_quantity * l_extendedprice")
    s"""SELECT n, ((n * sxy - sx * sy)
       |  / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy))) AS corr_qty_price
       |FROM (SELECT COUNT(*) AS n, $sx AS sx, $sy AS sy, $sxx AS sxx,
       |             $syy AS syy, $sxy AS sxy
       |      FROM lineitem)""".stripMargin
  }

  // ---- q126: pipeline observability as an ORACLED query. At 100 TB a
  //      second .count() to learn "how many rows did the scan see /
  //      how many were flagged" re-reads the input; Dataset.observe
  //      rides accumulator-backed metrics along the ONE pass the query
  //      already makes. The query attaches observe() to the pre-filter
  //      scan, drives the aggregate, then emits the observed metrics
  //      PLUS facts about the aggregate it rode along with — all exact
  //      arithmetic DuckDB reproduces from the clean table. Observation
  //      .get blocks on query completion (no async-listener raciness —
  //      that path is exercised by ObserveSpec). ----
  def observeMetrics(s: SparkSession, d: String): DataFrame = {
    val obs = org.apache.spark.sql.Observation()
    val grouped = Tables.lineitem(s, d)
      .observe(obs,
        count(lit(1)).as("rows_scanned"),
        sum(when(col("l_discount") > 0.05, 1L).otherwise(0L)).as("high_discount"))
      .filter(col("l_quantity") > 30)
      .groupBy("l_returnflag").agg(count(lit(1)).as("n"))
    // bounded collect: one row per returnflag (3); this DRIVES the
    // single observed pass
    val groups = grouped.collect()
    val m = obs.get
    s.range(1).select(
      lit(m("rows_scanned").asInstanceOf[Long]).as("rows_scanned"),
      lit(m("high_discount").asInstanceOf[Long]).as("high_discount"),
      lit(groups.length.toLong).as("n_groups"),
      lit(groups.map(_.getAs[Long]("n")).sum).as("n_high_qty"))
  }

  private val observeMetricsSql =
    """SELECT COUNT(*) AS rows_scanned,
      | CAST(SUM(CASE WHEN l_discount > 0.05 THEN 1 ELSE 0 END) AS BIGINT)
      |   AS high_discount,
      | (SELECT COUNT(DISTINCT l_returnflag) FROM lineitem
      |  WHERE l_quantity > 30) AS n_groups,
      | (SELECT COUNT(*) FROM lineitem WHERE l_quantity > 30) AS n_high_qty
      |FROM lineitem""".stripMargin

  // ---- q123: runtime bloom-filter join (Spark's InjectRuntimeFilter).
  //      At 100 TB the star-join killer is scanning AND shuffling the
  //      whole fact when the dim filter is selective. Dynamic partition
  //      pruning only covers partition columns; the runtime BLOOM
  //      filter covers arbitrary join keys — the optimizer plants
  //      bloom_filter_agg on the filtered (creation) side and
  //      might_contain(xxhash64(l_orderkey)) on the fact (application)
  //      side, dropping non-qualifying fact rows BEFORE the join
  //      exchange. Local testdata sits under the feature's size gates
  //      (application side must look 10 GB+, and a broadcastable dim
  //      bypasses the shuffle-join requirement), so the registry entry
  //      scopes the thresholds exactly like q97 scopes the bin width:
  //      save -> set -> materialize eagerly -> restore. The rewrite is
  //      pure pruning — the result is oracle-identical to the plain
  //      join (RuntimeFilterSpec also proves it differentially and
  //      asserts might_contain in the optimized plan). ----
  private val RuntimeFilterConf = Seq(
    "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
    // any application-side scan qualifies (default gate: 10 GB)
    "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
    // the rule only fires on probable SHUFFLE joins — the 100 TB case
    "spark.sql.autoBroadcastJoinThreshold" -> "-1")

  def runtimeFilterJoin(s: SparkSession, d: String): DataFrame =
    withRuntimeFilterConf(s) {
      runtimeFilterJoinLazy(s, d).localCheckpoint(true)
    }

  /** The join itself, not materialized: the caller owns setting
    * [[RuntimeFilterConf]] (see [[withRuntimeFilterConf]]) so the
    * injection happens when IT plans, not here.
    */
  def runtimeFilterJoinLazy(s: SparkSession, d: String): DataFrame = {
    val ord = Tables.orders(s, d)
      .filter(col("o_orderpriority") === "1-URGENT" &&
        col("o_orderstatus") === "F")
      .select("o_orderkey")
    Tables.lineitem(s, d)
      .join(ord, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), dsum(col("l_extendedprice")).as("sum_price"))
      .orderBy("l_returnflag")
  }

  /** Scoped conf for specs / plan dumps of the lazy variant. */
  def withRuntimeFilterConf[T](s: SparkSession)(body: => T): T =
    graft.Sessions.withConf(s, RuntimeFilterConf: _*)(body)

  // ---- q162: HyperLogLog register sketch — THE practical distinct
  //      counter at 100 TB (fixed 64 registers per group vs q120's
  //      1024-bit bitmap, usable to billions of distinct keys). Each
  //      value hashes once (md5 60-bit), picks register h % 64, and its
  //      rank rho = trailing-zeros+1 of the remaining 54 bits becomes a
  //      CONTRIBUTION 2^(cap − rho) via one CASE on (w & -w) — encoding
  //      the rank as its final summand makes the register aggregate a
  //      plain MIN (min contribution == max rank), so partials are
  //      mergeable and idempotent: shard/day register relations union
  //      with a MIN, bit-identically, exactly like production HLL
  //      sketch stores. The harmonic-mean estimate is integer-exact
  //      cross-engine: S = Σ 2^(cap − M_j) is an exact BIGINT, and
  //      alpha·m²·2^cap rides as a digit-string DECIMAL(38,0)/HUGEINT
  //      divided by (S·1e9) in ONE wide-integer step: Spark's `div`
  //      returns BIGINT, so the former two-step (÷S, then ÷1e9) put an
  //      est·1e9-scale intermediate in a Long — overflow once a group's
  //      cardinality passes ~9.2e9, exactly the billions regime the
  //      lane advertises. floor(floor(a/b)/c) = floor(a/(b·c)) for
  //      positive integers, so the combined divisor is value-identical
  //      where both forms are defined and survives to est ~9.2e18. The
  //      register checksum proves both engines hold bit-identical
  //      registers; the exact COUNT(DISTINCT) audit + a 30% integer
  //      error envelope ride the same relation (q44's envelope idea,
  //      but here the sketch itself is exact, not just enveloped). ----
  private val HllM = 64L
  private val HllCap = 40
  private val hllAlphaE9: Long =
    math.floor(0.7213 / (1 + 1.079 / HllM) * 1e9).toLong
  private val hllNum: String =
    (BigInt(hllAlphaE9) * HllM * HllM * (BigInt(1) << HllCap)).toString
  private val hllCaseArms: String = (0 until HllCap - 1)
    .map(k => s"WHEN ${1L << k} THEN ${1L << (HllCap - 1 - k)}").mkString(" ")

  def hllSketch(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_returnflag").as("grp"), col("l_orderkey").as("k"))
    val regs = li
      .withColumn("h", hash64(concat(lit("hll_"), col("k").cast("string"))))
      .withColumn("reg", expr(s"h % $HllM"))
      .withColumn("w", expr(s"h div $HllM"))
      .withColumn("cv", expr(s"CASE (w & -w) $hllCaseArms ELSE 1 END"))
      .groupBy("grp", "reg").agg(min(col("cv")).as("c"))
    val st = regs.groupBy("grp")
      .agg(count(lit(1)).as("n_regs"), sum(col("c")).as("s_present"),
           sum(expr(s"reg * ${1L << (HllCap + 1)} + c")).as("reg_checksum"))
      .withColumn("s_sum",
        expr(s"s_present + ($HllM - n_regs) * ${1L << HllCap}"))
      .withColumn("est",
        expr(s"CAST('$hllNum' AS DECIMAL(38,0)) div " +
          "(CAST(s_sum AS DECIMAL(20,0)) * 1000000000)"))
    val truth = li.groupBy("grp").agg(countDistinct(col("k")).as("n_true"))
    st.join(truth, Seq("grp"))
      .select(col("grp"), col("n_regs"), col("s_sum"), col("reg_checksum"),
              col("est"), col("n_true"),
              (abs(col("est") - col("n_true")) * 100 <= col("n_true") * 30)
                .as("within_30pct"))
      .orderBy("grp")
  }

  private val hllSketchSql =
    s"""WITH v AS (SELECT l_returnflag AS grp, l_orderkey AS k,
       |             ${hash64Sql("'hll_' || CAST(l_orderkey AS VARCHAR)")} AS h
       |           FROM lineitem),
       |cvt AS (SELECT grp, h % $HllM AS reg,
       |          CASE ((h // $HllM) & -(h // $HllM)) $hllCaseArms ELSE 1 END AS cv
       |        FROM v),
       |regs AS (SELECT grp, reg, MIN(cv) AS c FROM cvt GROUP BY grp, reg),
       |st AS (SELECT grp, COUNT(*) AS n_regs,
       |         CAST(SUM(c) AS BIGINT) AS s_present,
       |         CAST(SUM(reg * ${1L << (HllCap + 1)} + c) AS BIGINT)
       |           AS reg_checksum
       |       FROM regs GROUP BY grp),
       |s2 AS (SELECT grp, n_regs,
       |         CAST(s_present + ($HllM - n_regs) * ${1L << HllCap} AS BIGINT)
       |           AS s_sum,
       |         reg_checksum
       |       FROM st),
       |e AS (SELECT grp, n_regs, s_sum, reg_checksum,
       |        CAST(CAST('$hllNum' AS HUGEINT)
       |          // (CAST(s_sum AS HUGEINT) * 1000000000) AS BIGINT) AS est
       |      FROM s2),
       |t AS (SELECT l_returnflag AS grp, COUNT(DISTINCT l_orderkey) AS n_true
       |      FROM lineitem GROUP BY 1)
       |SELECT e.grp, n_regs, s_sum, reg_checksum, est, n_true,
       |       (abs(est - n_true) * 100 <= n_true * 30) AS within_30pct
       |FROM e JOIN t USING (grp) ORDER BY grp""".stripMargin

  // ---- q161: Z-order (Morton) clustering audit — the multi-dimensional
  //      data-skipping layout a 100 TB lakehouse sorts by when reads
  //      filter on MORE than one column. A linear sort on l_partkey
  //      gives perfect partkey skipping and ZERO suppkey skipping
  //      (every file spans the whole suppkey domain); interleaving the
  //      bits of both keys' 10-bit grid ranks makes each of the 64
  //      key-range buckets a ~128×128 grid cell, so min/max pruning
  //      works on EITHER dimension. The z-key is a pure map-side
  //      integer expression (grid ranks from one broadcast 1-row
  //      extent aggregate — explicit arithmetic, not repartitionByRange
  //      sampling, so both engines assign identical buckets); the
  //      audit groups the corpus once per layout into 64 rows carrying
  //      the per-bucket min/max envelopes that ARE the skipping
  //      behavior. ZOrderSpec measures it: suppkey probes touch ≤ half
  //      the buckets under z-order vs all 64 under the linear layout,
  //      and a full driver-side Morton recomputation matches exactly. ----
  private val ZBits = 10
  private val ZGrid = 1L << ZBits // 1024 grid cells per dimension
  private val ZBuckets = 64L

  def zorderLayout(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
      .select(col("l_partkey").as("p"), col("l_suppkey").as("sk"))
    // grid ranks normalized by BOTH extents (keys are not assumed
    // 1-based) — (x - min) is nonnegative, so div/% agree across engines
    val ext = li.agg(min(col("p")).as("pminv"), max(col("p")).as("pmaxv"),
                     min(col("sk")).as("sminv"), max(col("sk")).as("smaxv"))
    val zexpr = (0 until ZBits).map { b =>
      s"(((pb div ${1L << b}) % 2) * ${1L << (2 * b + 1)}) + " +
        s"(((sb div ${1L << b}) % 2) * ${1L << (2 * b)})"
    }.mkString(" + ")
    val graded = li.join(broadcast(ext))
      .withColumn("pb",
        expr(s"CAST(((p - pminv) * $ZGrid) div (pmaxv - pminv + 1) AS BIGINT)"))
      .withColumn("sb",
        expr(s"CAST(((sk - sminv) * $ZGrid) div (smaxv - sminv + 1) AS BIGINT)"))
      .withColumn("zkey", expr(zexpr))
    def audit(tag: String, bucket: org.apache.spark.sql.Column): DataFrame =
      graded.groupBy(bucket.as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
             min(col("p")).as("pmin"), max(col("p")).as("pmax"),
             min(col("sk")).as("smin"), max(col("sk")).as("smax"))
        .select(lit(tag).as("layout"), col("bucket"), col("n_rows"),
                col("pmin"), col("pmax"), col("smin"), col("smax"))
    val z = audit("zorder",
      expr(s"CAST(zkey div ${(ZGrid * ZGrid) / ZBuckets} AS BIGINT)"))
    val lin = audit("linear", expr(s"CAST(pb div ${ZGrid / ZBuckets} AS BIGINT)"))
    z.unionByName(lin).orderBy("layout", "bucket")
  }

  private val zorderLayoutSql = {
    val zexpr = (0 until ZBits).map { b =>
      s"(((pb // ${1L << b}) % 2) * ${1L << (2 * b + 1)}) + " +
        s"(((sb // ${1L << b}) % 2) * ${1L << (2 * b)})"
    }.mkString(" + ")
    s"""WITH ext AS (SELECT MIN(l_partkey) AS pminv, MAX(l_partkey) AS pmaxv,
       |                    MIN(l_suppkey) AS sminv, MAX(l_suppkey) AS smaxv
       |             FROM lineitem),
       |b AS (SELECT l_partkey AS p, l_suppkey AS sk,
       |        CAST(((l_partkey - pminv) * $ZGrid) // (pmaxv - pminv + 1)
       |          AS BIGINT) AS pb,
       |        CAST(((l_suppkey - sminv) * $ZGrid) // (smaxv - sminv + 1)
       |          AS BIGINT) AS sb
       |      FROM lineitem CROSS JOIN ext),
       |z AS (SELECT p, sk, pb, sb, CAST($zexpr AS BIGINT) AS zkey FROM b),
       |za AS (SELECT 'zorder' AS layout,
       |         CAST(zkey // ${(ZGrid * ZGrid) / ZBuckets} AS BIGINT) AS bucket,
       |         COUNT(*) AS n_rows, MIN(p) AS pmin, MAX(p) AS pmax,
       |         MIN(sk) AS smin, MAX(sk) AS smax
       |       FROM z GROUP BY 2),
       |la AS (SELECT 'linear' AS layout,
       |         CAST(pb // ${ZGrid / ZBuckets} AS BIGINT) AS bucket,
       |         COUNT(*) AS n_rows, MIN(p) AS pmin, MAX(p) AS pmax,
       |         MIN(sk) AS smin, MAX(sk) AS smax
       |       FROM z GROUP BY 2)
       |SELECT * FROM (SELECT * FROM za UNION ALL SELECT * FROM la)
       |ORDER BY layout, bucket""".stripMargin
  }

  private val runtimeFilterJoinSql =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       | ${dsumSql("l_extendedprice")} AS sum_price
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE o_orderpriority = '1-URGENT' AND o_orderstatus = 'F'
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q55_tpch_q6", tpchQ6, Some(tpchQ6Sql), "TPC-H Q6 revenue probe"),
    Q("q123_runtime_filter", runtimeFilterJoin, Some(runtimeFilterJoinSql),
      "runtime bloom-filter join: selective dim filter prunes the fact pre-shuffle"),
    Q("q56_histogram", histogram, Some(histogramSql),
      "fixed-width histogram binning"),
    Q("q57_correlation", correlation, Some(correlationSql),
      "Pearson correlation from exact sums"),
    Q("q54_weighted_mean", weightedMean, Some(weightedMeanSql),
      "typed Aggregator (udaf): integer-exact weighted mean"),
    Q("q51_json_roundtrip", jsonRoundtrip, Some(jsonRoundtripSql),
      "JSON-lines write + schema'd read roundtrip"),
    Q("q48_topk_per_key", topkPerKeyCustom, Some(topkPerKeyCustomSql),
      "custom LogicalPlan+Strategy+SparkPlan bounded-heap per-key top-k"),
    Q("q42_pivot", pivotAgg, Some(pivotAggSql), "pivot wide aggregation"),
    Q("q43_cube", cubeAgg, Some(cubeAggSql), "cube grouping sets"),
    Q("q44_sketch", sketches, Some(sketchesSql),
      "HLL distinct + approx quantiles, oracled via error-envelope booleans"),
    Q("q98_quantile_hist", quantileHist, Some(quantileHistSql),
      "deterministic mergeable histogram quantiles (oracle-checked sketch)"),
    Q("q99_countmin", countMin, Some(countMinSql),
      "count-min sketch: fixed-memory frequency estimates, cell-exact twin"),
    Q("q120_linear_count", linearCount, Some(linearCountSql),
      "linear-counting distinct sketch: bit_or-mergeable bitmap, xor-exact twin"),
    Q("q45_bucketed_join", bucketedJoin, Some(bucketedJoinSql),
      "bucketed co-located fact-fact join (no shuffle)"),
    Q("q46_partition_prune", partitionPrune, Some(partitionPruneSql),
      "partitioned sink + partition-pruned scan"),
    Q("q124_write_layout", writeLayout, Some(writeLayoutSql),
      "write-layout facts: bucketed clustered sink, file counts/caps/key ranges as rows"),
    Q("q126_observe", observeMetrics, Some(observeMetricsSql),
      "Dataset.observe: scan metrics ride the one pass (no second read), emitted as rows"),
    Q("q47_asof_join", asofJoin, Some(asofJoinSql),
      "as-of join via tagged union + window (single shuffle)"),
    Q("q161_zorder", zorderLayout, Some(zorderLayoutSql),
      "Z-order clustering audit: Morton-interleaved buckets vs linear sort, per-bucket min/max skipping envelopes"),
    Q("q162_hll", hllSketch, Some(hllSketchSql),
      "HyperLogLog register sketch: mergeable MIN registers, integer-exact harmonic estimate, checksum + exact audit"))
}
