package graft.ops

import graft.{Q, Tables}
import graft.functions.Stable._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Joins + TPC-H-flavored end-to-end queries.
  *
  * The reference has no joins (SURVEY §2.2) — these exist to make the
  * star-schema testdata meaningful and to exercise Spark's join
  * machinery the way a 100 TB deployment would:
  *  - dimension tables (region/nation/customer/supplier/part) are tiny
  *    relative to the fact table at any scale factor → `broadcast()`
  *    them so the fact table never shuffles for the join;
  *  - fact-fact joins (lineitem⋈orders) shuffle on the join key; AQE
  *    handles skew at runtime;
  *  - semi/anti joins instead of join+distinct.
  */
object JoinOps {

  // ---- broadcast star join: revenue per (region, nation) ----
  def joinBroadcast(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    val n = Tables.nation(s, d)
    val r = Tables.region(s, d)
    val revenue = (col("l_extendedprice") * (lit(1) - col("l_discount")))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(dsum(revenue).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy("r_name", "n_name")
  }

  private val joinBroadcastSql =
    s"""SELECT r_name, n_name,
       | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
       | COUNT(*) AS n_items
       |FROM lineitem
       |JOIN orders   ON l_orderkey = o_orderkey
       |JOIN customer ON o_custkey = c_custkey
       |JOIN nation   ON c_nationkey = n_nationkey
       |JOIN region   ON n_regionkey = r_regionkey
       |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  // ---- left semi: orders having a high-quantity line (EXISTS) ----
  def joinSemi(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val hi = Tables.lineitem(s, d).filter(col("l_quantity") > 45)
      .select(col("l_orderkey"))
    o.join(hi, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("o_orderstatus")
  }

  private val joinSemiSql =
    s"""SELECT o_orderstatus, COUNT(*) AS n,
       | ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders WHERE EXISTS (SELECT 1 FROM lineitem
       |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
       |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin

  // ---- left anti: customers with no high-value order (NOT EXISTS) ----
  def joinAnti(s: SparkSession, d: String): DataFrame = {
    val c = Tables.customer(s, d)
    val o = Tables.orders(s, d).filter(col("o_totalprice") > 300000)
      .select(col("o_custkey"))
    c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n"))
      .orderBy("c_mktsegment")
  }

  private val joinAntiSql =
    """SELECT c_mktsegment, COUNT(*) AS n
      |FROM customer WHERE NOT EXISTS
      |  (SELECT 1 FROM orders WHERE o_custkey = c_custkey
      |     AND o_totalprice > 300000)
      |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- left outer join + null handling ----
  def joinOuter(s: SparkSession, d: String): DataFrame = {
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d)
    o.join(broadcast(c), col("o_custkey") === col("c_custkey"), "left")
      .groupBy(coalesce(col("c_mktsegment"), lit("<none>")).as("segment"))
      .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))
      .orderBy("segment")
  }

  private val joinOuterSql =
    s"""SELECT COALESCE(c_mktsegment, '<none>') AS segment,
       | COUNT(*) AS n_orders, ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders LEFT JOIN customer ON o_custkey = c_custkey
       |GROUP BY COALESCE(c_mktsegment, '<none>') ORDER BY segment""".stripMargin

  // ---- TPC-H Q5: local supplier volume — the join-heaviest classic
  //      (6 tables). Join order: fact-fact lineitem⋈orders shuffles
  //      once on l_orderkey; customer/supplier/nation/region are all
  //      broadcast, so the fact side never re-shuffles; the region
  //      filter prunes before anything joins. c_nationkey = s_nationkey
  //      ("local" supplier) rides along as a post-join predicate. ----
  def tpchQ5(s: SparkSession, d: String): DataFrame = {
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(s, d)
      .join(Tables.orders(s, d)
              .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                      col("o_orderdate") < lit("1997-01-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.supplier(s, d)),
            col("l_suppkey") === col("s_suppkey") &&
              col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(s, d)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(s, d)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("r_name") === "ASIA")
      .groupBy("n_name")
      .agg(dsum(revenue).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  private val tpchQ5Sql =
    s"""SELECT n_name, ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
       | COUNT(*) AS n_items
       |FROM lineitem
       | JOIN orders ON l_orderkey = o_orderkey
       | JOIN customer ON o_custkey = c_custkey
       | JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
       | JOIN nation ON s_nationkey = n_nationkey
       | JOIN region ON n_regionkey = r_regionkey
       |WHERE r_name = 'ASIA'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1997-01-01 00:00:00'
       |GROUP BY n_name ORDER BY revenue DESC, n_name ASC""".stripMargin

  // ---- TPC-H Q10: returned-item customer ranking — join + top-k
  //      composite: fact-fact shuffle, broadcast dims, then
  //      TakeOrderedAndProject for the top-20 (no full sort). ----
  def tpchQ10(s: SparkSession, d: String): DataFrame = {
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    Tables.lineitem(s, d)
      .filter(col("l_returnflag") === "R")
      .join(Tables.orders(s, d)
              .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp") &&
                      col("o_orderdate") < lit("1996-07-01").cast("timestamp")),
            col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(Tables.customer(s, d)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(Tables.nation(s, d)), col("c_nationkey") === col("n_nationkey"))
      .groupBy("c_custkey", "c_name", "n_name")
      .agg(dsum(revenue).as("revenue"), count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  private val tpchQ10Sql =
    s"""SELECT c_custkey, c_name, n_name,
       | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue,
       | COUNT(*) AS n_items
       |FROM lineitem
       | JOIN orders ON l_orderkey = o_orderkey
       | JOIN customer ON o_custkey = c_custkey
       | JOIN nation ON c_nationkey = n_nationkey
       |WHERE l_returnflag = 'R'
       |  AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
       |  AND o_orderdate < TIMESTAMP '1996-07-01 00:00:00'
       |GROUP BY c_custkey, c_name, n_name
       |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin

  // ---- SQL-lane per-key top-k: the same row_number()<=k idiom a SQL
  //      user writes, submitted as TEXT through spark.sql — planned
  //      through the custom TopKPerKey operator by the TopKRankPushdown
  //      rule with zero API involvement (the point of shipping the
  //      rewrite as an optimizer rule rather than a helper function).
  //      PlanShapeSpec asserts the operator appears in this plan. ----
  def sqlTopKPerKey(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    s.sql("""
      SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
             CAST(rn AS BIGINT) AS rn
      FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
              row_number() OVER (PARTITION BY l_returnflag
                ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
            FROM lineitem_v)
      WHERE rn <= 5
      ORDER BY l_returnflag, rn""")
  }

  private val sqlTopKPerKeySql =
    """SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, rn
      |FROM (SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
      |        row_number() OVER (PARTITION BY l_returnflag
      |          ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
      |      FROM lineitem)
      |WHERE rn <= 5
      |ORDER BY l_returnflag, rn""".stripMargin

  // ---- multi-format federation: one aggregate over three slices of
  //      the same logical table living in three formats (parquet
  //      testdata + CSV and ORC copies written by their roundtrip
  //      queries' sink paths). The lakehouse reality: long-lived data
  //      spans formats; the engine unions them into one plan with
  //      per-source pushdown intact. ----
  def federatedUnion(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.types._
    val tmpBase = System.getProperty("java.io.tmpdir")
    val li = Tables.lineitem(s, d)
    val cols = Seq("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
    // stage the CSV and ORC copies ONCE per dataset — a real lake
    // already has these; re-writing them per build would make every
    // bench rep measure staging I/O instead of the federated read
    val csvDir = s"$tmpBase/graft_fed_csv_${math.abs(d.hashCode)}"
    val orcDir = s"$tmpBase/graft_fed_orc_${math.abs(d.hashCode)}"
    // content-aware reuse: fingerprint the source parquet (size+mtime)
    // so regenerated testdata rebuilds the staged copies
    graft.Fixtures.staged(java.nio.file.Paths.get(csvDir), s"$d/lineitem.parquet") {
      li.filter(col("l_linenumber") === 1).select(cols.map(col): _*)
        .write.mode("overwrite").option("header", "true").csv(csvDir)
    }
    graft.Fixtures.staged(java.nio.file.Paths.get(orcDir), s"$d/lineitem.parquet") {
      li.filter(col("l_linenumber") === 2).select(cols.map(col): _*)
        .write.mode("overwrite").orc(orcDir)
    }
    val csvSchema = StructType(Seq(
      StructField("l_orderkey", LongType), StructField("l_linenumber", IntegerType),
      StructField("l_quantity", DoubleType), StructField("l_returnflag", StringType)))
    val fromCsv = s.read.option("header", "true").schema(csvSchema).csv(csvDir)
    val fromOrc = s.read.orc(orcDir)
    val fromParquet = li.filter(col("l_linenumber") >= 3).select(cols.map(col): _*)
    fromCsv.unionByName(fromOrc).unionByName(fromParquet)
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"))
      .orderBy("l_returnflag")
  }

  private val federatedUnionSql =
    s"""SELECT l_returnflag, COUNT(*) AS n, ${dsumSql("l_quantity")} AS sum_qty
       |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // ---- scalar subquery: filter against a computed global aggregate
  //      ("items priced above the corpus mean"). One SQL template
  //      serves BOTH engines — the threshold is the decimal-stabilized
  //      mean, so the subquery's value is bit-identical and the filter
  //      cuts the same rows. Spark plans the subquery as a broadcast
  //      scalar (one extra job), not a per-row recomputation. ----
  private def scalarSubqueryText(table: String): String =
    s"""SELECT l_returnflag, COUNT(*) AS n,
       | ${dsumSql("l_extendedprice")} AS sum_price
       |FROM $table
       |WHERE l_extendedprice >
       |  (SELECT ${dmeanSql("l_extendedprice")} FROM $table)
       |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  def scalarSubquery(s: SparkSession, d: String): DataFrame = {
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_sq")
    s.sql(scalarSubqueryText("lineitem_sq"))
  }

  // ---- TPC-H Q1: pricing summary report ----
  def tpchQ1(s: SparkSession, d: String): DataFrame = {
    val disc = col("l_extendedprice") * (lit(1) - col("l_discount"))
    val charge = disc * (lit(1) + col("l_tax"))
    Tables.lineitem(s, d)
      .filter(col("l_shipdate") <= lit("1999-12-01").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        dsum(col("l_quantity")).as("sum_qty"),
        dsum(col("l_extendedprice")).as("sum_base_price"),
        dsum(disc).as("sum_disc_price"),
        dsum(charge).as("sum_charge"),
        dmean(col("l_quantity")).as("avg_qty"),
        dmean(col("l_extendedprice")).as("avg_price"),
        dmean(col("l_discount")).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val tpchQ1Sql =
    s"""SELECT l_returnflag, l_linestatus,
       | ${dsumSql("l_quantity")} AS sum_qty,
       | ${dsumSql("l_extendedprice")} AS sum_base_price,
       | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS sum_disc_price,
       | ${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")} AS sum_charge,
       | ${dmeanSql("l_quantity")} AS avg_qty,
       | ${dmeanSql("l_extendedprice")} AS avg_price,
       | ${dmeanSql("l_discount")} AS avg_disc,
       | COUNT(*) AS count_order
       |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1999-12-01 00:00:00'
       |GROUP BY l_returnflag, l_linestatus
       |ORDER BY l_returnflag, l_linestatus""".stripMargin

  // ---- TPC-H Q3 shape: top-10 revenue orders for a segment ----
  def tpchQ3(s: SparkSession, d: String): DataFrame = {
    val li = Tables.lineitem(s, d)
    val o = Tables.orders(s, d)
    val c = Tables.customer(s, d).filter(col("c_mktsegment") === "BUILDING")
    val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(c), col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"),
               date_format(col("o_orderdate"), "yyyy-MM-dd").as("orderdate_s"))
      .agg(dsum(revenue).as("revenue"))
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  private val tpchQ3Sql =
    s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS orderdate_s,
       | ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
       |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
       |WHERE EXISTS (SELECT 1 FROM customer
       |  WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
       |GROUP BY l_orderkey, strftime(o_orderdate, '%Y-%m-%d')
       |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin

  // ---- window functions: per-order rank + running sum ----
  def windowRank(s: SparkSession, d: String): DataFrame = {
    val w = Window.partitionBy("l_orderkey")
      .orderBy(col("l_extendedprice").desc, col("l_linenumber").asc)
    val wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.lineitem(s, d)
      .withColumn("rnk", row_number().over(w))
      .withColumn("run_qty", sum(col("l_quantity")).over(wsum))
      .filter(col("rnk") <= 2)
      // BIGINT to mirror DuckDB's row_number() (Spark's is INT) — the
      // local gate compares dtypes strictly, not just values
      .select(col("l_orderkey"), col("l_linenumber"), col("l_extendedprice"),
              col("rnk").cast("long").as("rnk"), col("run_qty"))
      .orderBy("l_orderkey", "rnk")
  }

  private val windowRankSql =
    """SELECT l_orderkey, l_linenumber, l_extendedprice, rnk, run_qty
      |FROM (SELECT l_orderkey, l_linenumber, l_extendedprice,
      |  row_number() OVER (PARTITION BY l_orderkey
      |    ORDER BY l_extendedprice DESC, l_linenumber ASC) AS rnk,
      |  SUM(l_quantity) OVER (PARTITION BY l_orderkey
      |    ORDER BY l_extendedprice DESC, l_linenumber ASC
      |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_qty
      |  FROM lineitem)
      |WHERE rnk <= 2 ORDER BY l_orderkey, rnk""".stripMargin

  // ---- rollup: hierarchical totals + GROUPING id ----
  def rollupAgg(s: SparkSession, d: String): DataFrame =
    Tables.lineitem(s, d)
      .rollup("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("n"), dsum(col("l_quantity")).as("sum_qty"),
           grouping_id().as("gid"))
      .orderBy(col("gid"), col("l_returnflag").asc_nulls_last,
               col("l_linestatus").asc_nulls_last)

  private val rollupAggSql =
    s"""SELECT l_returnflag, l_linestatus, COUNT(*) AS n,
       | ${dsumSql("l_quantity")} AS sum_qty,
       | CAST(GROUPING(l_returnflag) * 2 + GROUPING(l_linestatus) AS BIGINT) AS gid
       |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
       |ORDER BY gid, l_returnflag ASC NULLS LAST, l_linestatus ASC NULLS LAST""".stripMargin

  // ---- salted join: the manual skew-mitigation pattern. The hot key's
  //      rows split across SALT partitions because the fact side keys by
  //      (key, id % SALT) and the dim side replicates each row SALT
  //      times — identical results, no single straggler task. (AQE's
  //      skewedJoin does this adaptively; the explicit form is for
  //      deterministic skew you know at plan time.) ----
  private val Salt = 4

  def saltedJoin(s: SparkSession, d: String): DataFrame = {
    val ev = Tables.events(s, d)
      .withColumn("salt", (col("event_id") % Salt).cast("int"))
    val cust = Tables.customer(s, d)
      .crossJoin(broadcast(s.range(Salt).select(col("id").cast("int").as("salt"))))
    ev.join(broadcast(cust),
        ev("user_id") === cust("c_custkey") && ev("salt") === cust("salt"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_events"), dsum(col("value")).as("sum_value"))
      .orderBy("c_mktsegment")
  }

  private val saltedJoinSql =
    s"""SELECT c_mktsegment, COUNT(*) AS n_events,
       | ${dsumSql("value")} AS sum_value
       |FROM events JOIN customer ON user_id = c_custkey
       |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin

  // ---- pure-SQL surface: the same engine drives spark.sql over temp
  //      views (the reference is API-only; SQL comes free with Spark) ----
  def sqlSurface(s: SparkSession, d: String): DataFrame = {
    Tables.orders(s, d).createOrReplaceTempView("orders_v")
    Tables.lineitem(s, d).createOrReplaceTempView("lineitem_v")
    s.sql("""
      SELECT o_orderpriority,
             COUNT(*) AS n_orders,
             CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      FROM orders_v
      WHERE EXISTS (SELECT 1 FROM lineitem_v
                    WHERE l_orderkey = o_orderkey AND l_quantity > 45)
      GROUP BY o_orderpriority
      ORDER BY o_orderpriority""")
  }

  private val sqlSurfaceSql =
    s"""SELECT o_orderpriority, COUNT(*) AS n_orders,
       | ${dsumSql("o_totalprice")} AS sum_price
       |FROM orders WHERE EXISTS (SELECT 1 FROM lineitem
       |  WHERE l_orderkey = o_orderkey AND l_quantity > 45)
       |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  val queries: Seq[Q] = Seq(
    Q("q52_salted_join", saltedJoin, Some(saltedJoinSql),
      "manual skew-salted equi-join (same result, no straggler task)"),
    Q("q53_sql_surface", sqlSurface, Some(sqlSurfaceSql),
      "pure spark.sql over temp views"),
    Q("q18_join_broadcast", joinBroadcast, Some(joinBroadcastSql),
      "star join, all dims broadcast"),
    Q("q19_join_semi", joinSemi, Some(joinSemiSql), "left semi (EXISTS)"),
    Q("q20_join_anti", joinAnti, Some(joinAntiSql), "left anti (NOT EXISTS)"),
    Q("q21_join_outer", joinOuter, Some(joinOuterSql), "left outer + coalesce"),
    Q("q22_tpch_q1", tpchQ1, Some(tpchQ1Sql), "TPC-H Q1 pricing summary"),
    Q("q69_tpch_q5", tpchQ5, Some(tpchQ5Sql), "TPC-H Q5 local supplier volume (6-table join)"),
    Q("q73_tpch_q10", tpchQ10, Some(tpchQ10Sql), "TPC-H Q10 returned-item top-20 (join + TakeOrdered)"),
    Q("q77_sql_topk", sqlTopKPerKey, Some(sqlTopKPerKeySql),
      "SQL-text row_number()<=k planned through TopKPerKey by the rule"),
    Q("q78_federated_union", federatedUnion, Some(federatedUnionSql),
      "one aggregate over CSV + ORC + parquet slices of one table"),
    Q("q80_scalar_subquery", scalarSubquery, Some(scalarSubqueryText("lineitem")),
      "filter vs computed global aggregate (shared SQL template)"),
    Q("q23_tpch_q3", tpchQ3, Some(tpchQ3Sql), "TPC-H Q3 top-10 revenue"),
    Q("q24_window_rank", windowRank, Some(windowRankSql), "window rank + running sum"),
    Q("q25_rollup", rollupAgg, Some(rollupAggSql), "rollup + grouping id"))
}
