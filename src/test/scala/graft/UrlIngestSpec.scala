package graft

import graft.sources.{CsvIngest, UrlIngest}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** URL CSV ingest (SURVEY §2 O24): scheme-agnostic fetch-to-spool +
  * the engine's normal distributed CSV lane. Zero-egress sandbox, so
  * the spec drives the identical code path over file:// URLs.
  */
class UrlIngestSpec extends AnyFunSuite with SparkTestBase {

  test("file:// URL fetch equals a direct read of the same file") {
    val out = tempDir("graft_urlspec").toString
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .coalesce(1)
      .write.mode("overwrite").option("header", "true").csv(out)
    val part = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv")).head
    val viaUrl = UrlIngest.readCsvFromUrl(spark, part.toURI.toString)
    val direct = CsvIngest.readInferFast(spark, part.getAbsolutePath)
    assert(viaUrl.schema == direct.schema)
    val key = Seq(col("l_orderkey"), col("l_linenumber"))
    assert(viaUrl.orderBy(key: _*).collect().map(_.toSeq.toString).toSeq ==
           direct.orderBy(key: _*).collect().map(_.toSeq.toString).toSeq)
  }

  test("unreachable URL fails loudly, not with an empty frame") {
    intercept[Exception] {
      UrlIngest.readCsvFromUrl(spark, "file:///nonexistent/graft/nope.csv")
        .count()
    }
  }
}
