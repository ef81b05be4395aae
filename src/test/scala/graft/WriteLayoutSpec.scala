package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Write-path layout management — the small-files problem and its
  * opposite. At 100 TB the sink layout IS the read performance of every
  * downstream job: file count is controlled by repartition /
  * maxRecordsPerFile, and range-clustered files give min/max
  * file-skipping on the clustering key (the single-column analogue of
  * q92's z-order story).
  */
class WriteLayoutSpec extends AnyFunSuite with SparkTestBase {

  private def partFiles(dir: String): Array[java.io.File] =
    new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))

  test("repartition(n) compacts the sink to exactly n files") {
    val out = tempDir("graft_compact").toString
    Tables.lineitem(spark, sf).repartition(4)
      .write.mode("overwrite").parquet(out)
    assert(partFiles(out).length == 4)
  }

  test("maxRecordsPerFile bounds every file") {
    val out = tempDir("graft_maxrec").toString
    Tables.lineitem(spark, sf).coalesce(1)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", 1000)
      .parquet(out)
    val files = partFiles(out)
    assert(files.length >= 2, "expected the single task to split output files")
    files.foreach { f =>
      val n = spark.read.parquet(f.getAbsolutePath).count()
      assert(n <= 1000, s"${f.getName} has $n records")
    }
    // nothing lost in the split
    val total = files.map(f => spark.read.parquet(f.getAbsolutePath).count()).sum
    assert(total == Tables.lineitem(spark, sf).count())
  }

  test("repartitionByRange + sortWithinPartitions yields disjoint per-file key ranges") {
    val out = tempDir("graft_cluster").toString
    Tables.lineitem(spark, sf)
      .repartitionByRange(4, col("l_shipdate"))
      .sortWithinPartitions("l_shipdate")
      .write.mode("overwrite").parquet(out)
    val ranges = partFiles(out).map { f =>
      val r = spark.read.parquet(f.getAbsolutePath)
        .agg(min(date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss")),
             max(date_format(col("l_shipdate"), "yyyy-MM-dd HH:mm:ss"))).head()
      (r.getString(0), r.getString(1))
    }.sortBy(_._1)
    // every file's range ends before (or where) the next begins: a scan
    // with a shipdate predicate prunes to at most one + boundary files
    ranges.sliding(2).foreach {
      case Array((_, hi), (lo2, _)) => assert(hi <= lo2, s"overlap: $hi > $lo2")
      case _ =>
    }
  }
}
