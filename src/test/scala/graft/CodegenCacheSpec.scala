package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import org.scalatest.funsuite.AnyFunSuite

/** The session's two static codegen settings ([[Sessions]]) make the
  * JVM compile each distinct generated class once:
  *  1. a round of more distinct plans than Spark's default cache holds
  *     (100 entries) compiles nothing when it runs again;
  *  2. a second start of the same streaming query compiles nothing,
  *     though it runs on a new cloned session.
  */
class CodegenCacheSpec extends AnyFunSuite with SparkTestBase {

  /** Classes Spark's code generator compiled while `f` ran. */
  private def compiles(f: => Unit): Long = {
    val c0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
    f
    CodegenMetrics.METRIC_COMPILATION_TIME.getCount - c0
  }

  test("150 distinct plans run twice: the second round compiles no class") {
    // each literal is inlined into the generated code, so every plan
    // is a distinct class
    def round(): Unit = (1 to 150).foreach { i =>
      spark.range(0, 8, 1, 1).select((col("id") * i + i).as("x"))
        .write.format("noop").mode("overwrite").save()
    }
    val first = compiles(round())
    assert(first >= 150, s"the plans did not compile distinct classes: $first")
    val second = compiles(round())
    assert(second == 0, s"the second round recompiled $second of $first classes")
  }

  test("the same file-stream aggregation started twice: the second start compiles no class") {
    import spark.implicits._
    val src = tempDir("graft_codegen_src")
    (0 until 40).map(i => (i % 3).toLong -> i.toLong).toDF("k", "v")
      .coalesce(1).write.mode("overwrite").parquet(src.resolve("a").toString)
    val schema = StructType(Seq(StructField("k", LongType), StructField("v", LongType)))
    def start(): Seq[(Long, Long)] = {
      val q = spark.readStream.schema(schema).parquet(s"$src/*")
        .groupBy("k").agg(sum("v").as("s"))
        .writeStream.outputMode("complete").format("memory")
        .queryName("codegen_cache_stream")
        .option("checkpointLocation", tempDir("graft_codegen_ckpt").toString)
        .start()
      try q.processAllAvailable() finally q.stop()
      spark.table("codegen_cache_stream").orderBy("k").as[(Long, Long)].collect().toSeq
    }
    var firstRows, secondRows = Seq.empty[(Long, Long)]
    val first = compiles { firstRows = start() }
    val second = compiles { secondRows = start() }
    assert(secondRows == firstRows && firstRows.map(_._1) == Seq(0L, 1L, 2L))
    assert(first > 0, "the first start compiled nothing")
    assert(second == 0, s"the second start recompiled $second of $first classes")
  }
}
