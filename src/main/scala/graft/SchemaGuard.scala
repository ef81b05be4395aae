package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types._

/** Defensive shape check for the driver's read-only testdata
  * (TESTDATA.md). The r7 regeneration changed events.ts from
  * TIMESTAMP(NANOS) to un-adjusted TIMESTAMP(MICROS) mid-round and the
  * breakage surfaced as 15 erroring queries and 2 silently-wrong
  * streaming answers. This guard makes the NEXT shape change fail
  * loudly, with a diff, at the very first table read of a test/verify
  * run instead.
  *
  * Temporal columns accept every generation the loaders can normalize
  * (TimestampType / TimestampNTZType / raw-nanos LongType — see
  * [[Tables.normalizeEventsTs]]); everything else must match exactly.
  */
object SchemaGuard {

  /** Accepted Spark types per column, per table. */
  private val temporal: Set[DataType] =
    Set(TimestampType, TimestampNTZType, LongType)
  private def exact(t: DataType): Set[DataType] = Set(t)

  val expected: Map[String, Seq[(String, Set[DataType])]] = Map(
    "region" -> Seq(
      "r_regionkey" -> exact(IntegerType), "r_name" -> exact(StringType)),
    "nation" -> Seq(
      "n_nationkey" -> exact(IntegerType), "n_name" -> exact(StringType),
      "n_regionkey" -> exact(IntegerType)),
    "customer" -> Seq(
      "c_custkey" -> exact(LongType), "c_name" -> exact(StringType),
      "c_nationkey" -> exact(IntegerType), "c_acctbal" -> exact(DoubleType),
      "c_mktsegment" -> exact(StringType)),
    "supplier" -> Seq(
      "s_suppkey" -> exact(LongType), "s_name" -> exact(StringType),
      "s_nationkey" -> exact(IntegerType), "s_acctbal" -> exact(DoubleType)),
    "part" -> Seq(
      "p_partkey" -> exact(LongType), "p_name" -> exact(StringType),
      "p_brand" -> exact(StringType), "p_type" -> exact(StringType),
      "p_size" -> exact(IntegerType), "p_retailprice" -> exact(DoubleType)),
    "orders" -> Seq(
      "o_orderkey" -> exact(LongType), "o_custkey" -> exact(LongType),
      "o_orderstatus" -> exact(StringType), "o_totalprice" -> exact(DoubleType),
      "o_orderdate" -> temporal, "o_orderpriority" -> exact(StringType)),
    "lineitem" -> Seq(
      "l_orderkey" -> exact(LongType), "l_partkey" -> exact(LongType),
      "l_suppkey" -> exact(LongType), "l_linenumber" -> exact(IntegerType),
      "l_quantity" -> exact(DoubleType), "l_extendedprice" -> exact(DoubleType),
      "l_discount" -> exact(DoubleType), "l_tax" -> exact(DoubleType),
      "l_returnflag" -> exact(StringType), "l_linestatus" -> exact(StringType),
      "l_shipdate" -> temporal),
    "events" -> Seq(
      "event_id" -> exact(LongType), "ts" -> temporal,
      "user_id" -> exact(LongType), "event_type" -> exact(StringType),
      "value" -> exact(DoubleType), "props" -> exact(StringType)),
    "documents" -> Seq(
      "doc_id" -> exact(LongType), "text" -> exact(StringType),
      "lang" -> exact(StringType), "source" -> exact(StringType),
      "n_chars" -> exact(LongType)),
    "embeddings" -> Seq(
      "vec_id" -> exact(LongType),
      "embedding" -> exact(ArrayType(FloatType)),
      "label" -> exact(IntegerType))
  )

  /** Diff one table's actual schema against the contract; Nil = ok.
    * Array element nullability is ignored (writer-dependent).
    */
  def diff(table: String, actual: StructType): Seq[String] = {
    val exp = expected(table)
    val act = actual.fields.map(f => f.name -> f.dataType).toMap
    val missing = exp.collect {
      case (n, _) if !act.contains(n) => s"$table: missing column $n" }
    val extra = actual.fieldNames.filterNot(exp.map(_._1).contains)
      .map(n => s"$table: unexpected column $n (${act(n).simpleString})")
    // compare on simpleString so array element nullability (writer-
    // dependent) does not fail the match
    val wrongType = exp.collect {
      case (n, ok) if act.contains(n) &&
          !ok.exists(t => t.simpleString == act(n).simpleString) =>
        s"$table: column $n has type ${act(n).simpleString}, expected one of " +
          ok.map(_.simpleString).mkString("{", ", ", "}")
    }
    missing ++ extra ++ wrongType
  }

  /** Check every table under `sfDir`; throws with the full diff on any
    * mismatch. Footer reads only — no data scan. A TIMESTAMP(NANOS)
    * generation probes as LongType instead of failing the read outright
    * because every [[Sessions]] session sets `nanosAsLong`.
    */
  def check(s: SparkSession, sfDir: String): Unit = {
    val problems = expected.keys.toSeq.sorted.flatMap { t =>
      val path = s"$sfDir/$t.parquet"
      if (!new java.io.File(path).exists()) Seq(s"$t: file missing at $path")
      else
        try diff(t, s.read.parquet(path).schema)
        catch { case e: Exception => Seq(s"$t: unreadable — ${e.getMessage}") }
    }
    require(problems.isEmpty,
      s"testdata at $sfDir does not match the expected shape " +
        s"(TESTDATA.md / SchemaGuard.expected):\n  " +
        problems.mkString("\n  "))
  }
}
