package graft

import graft.sources.CsvIngest
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Prefix CSV schema inference (the polars infer_schema_length
  * contract): same schema and same values as Spark's full-pass
  * inference on machine-written exports, whatever the split size, with
  * no scan task reading the file to infer (q125's lane; Bench
  * stage_read).
  */
class CsvIngestSpec extends AnyFunSuite with SparkTestBase {

  private def writeCsv(name: String): String = {
    val out = tempDir(name).toString
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity",
              "l_extendedprice", "l_shipdate", "l_returnflag")
      .repartition(4) // several part files: inference must pick ONE
      .write.mode("overwrite").option("header", "true").csv(out)
    out
  }

  test("fast inference matches full-pass inference: schema and values") {
    val dir = writeCsv("graft_csvingest")
    val key = Seq(col("l_orderkey"), col("l_linenumber"))
    val schemas = Seq("16k", "128m").map { split =>
      withConf("spark.sql.files.maxPartitionBytes" -> split) {
        val full = spark.read.option("header", "true")
          .option("inferSchema", "true").csv(dir)
        val (fast, bytesRead) = taskBytesRead(CsvIngest.readInferFast(spark, dir))
        assert(bytesRead == 0, s"inference read $bytesRead file bytes at split $split")
        assert(fast.schema == full.schema,
          s"split $split: fast=${fast.schema.treeString}\nfull=${full.schema.treeString}")
        assert(fast.orderBy(key: _*).collect().map(_.toSeq.toString).toSeq ==
               full.orderBy(key: _*).collect().map(_.toSeq.toString).toSeq)
        fast.schema
      }
    }
    assert(schemas.distinct.size == 1)
  }

  test("single-file path (not a directory) works") {
    val dir = writeCsv("graft_csvingest_one")
    val part = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .head.getAbsolutePath
    val df = CsvIngest.readInferFast(spark, part)
    assert(df.count() > 0)
    assert(df.schema.fieldNames.contains("l_extendedprice"))
  }

  test("readPrefix: exact file-order prefix semantics") {
    val dir = writeCsv("graft_csvprefix")
    val all = CsvIngest.readInferFast(spark, dir)
    val total = all.count()
    assert(total > 10)
    // cap >= total: plain scan, every row, NO limit operator in the plan
    val uncapped = CsvIngest.readPrefix(spark, dir, total + 5)
    assert(uncapped.count() == total)
    assert(!uncapped.queryExecution.optimizedPlan.toString.contains("GlobalLimit"))
    // cap that lands inside a file: exactly n rows, and they are the
    // union of the leading whole files plus a prefix of the boundary
    // file (file-name order) — verify against a per-file reconstruction
    val files = new java.io.File(dir).listFiles()
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(".csv"))
      .map(_.getAbsolutePath).sorted
    val perFile = files.map(f => CsvIngest.readInferFast(spark, f).count())
    val n = perFile.head + perFile(1) / 2 // inside the second file
    val got = CsvIngest.readPrefix(spark, dir, n)
    assert(got.count() == n)
    // whole-file part must be exactly the first file's rows
    val firstFileRows = CsvIngest.readInferFast(spark, files.head)
      .collect().map(_.toSeq.toString).toSet
    val gotRows = got.collect().map(_.toSeq.toString).toSet
    assert(firstFileRows.subsetOf(gotRows))
    // boundary cap of 0 rows on an exact file edge
    assert(CsvIngest.readPrefix(spark, dir, perFile.head).count() == perFile.head)
  }

  test("readPrefix: boundary file yields its FIRST rows even when split") {
    // Pin the exact-prefix contract: the boundary file's
    // remainder must be its leading rows in within-file order, not an
    // arbitrary `limit` pick. Force the boundary file into many splits
    // so a bare Dataset.limit WOULD be free to take rows from any
    // split, then check the taken rows against the file's true head.
    val out = tempDir("graft_csvpfx_split").toString
    // one sorted single-file csv: file order == l_orderkey order
    Tables.lineitem(spark, sf)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .repartition(1).sortWithinPartitions("l_orderkey", "l_linenumber")
      .write.mode("overwrite").option("header", "true").csv(out)
    val prev = spark.conf.get("spark.sql.files.maxPartitionBytes")
    try {
      spark.conf.set("spark.sql.files.maxPartitionBytes", "16384") // ~16 KB splits
      val n = 1234L
      val key = Seq(col("l_orderkey").cast("long"), col("l_linenumber").cast("long"))
      val got = CsvIngest.readPrefix(spark, out, n)
        .select(key: _*).collect().map(r => (r.getLong(0), r.getLong(1)))
      assert(got.length == n.toInt)
      val expected = Tables.lineitem(spark, sf)
        .orderBy("l_orderkey", "l_linenumber")
        .select(key: _*).limit(n.toInt).collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      assert(got.sortBy(identity).toSeq == expected.sortBy(identity).toSeq)
    } finally spark.conf.set("spark.sql.files.maxPartitionBytes", prev)
  }

  test("a header-only first file hands the prefix to the next file") {
    val dir = writeCsv("graft_csvingest_hdr")
    val full = spark.read.option("header", "true").option("inferSchema", "true").csv(dir).schema
    // what a writer leaves for an empty partition (q125's fixture has
    // one); "a.csv" sorts before the part files
    java.nio.file.Files.write(java.nio.file.Paths.get(dir, "a.csv"),
      (full.fieldNames.mkString(",") + "\n").getBytes("UTF-8"))
    assert(CsvIngest.readInferFast(spark, dir).schema == full)
  }

  test("inference skips _SUCCESS/hidden files when picking the sample") {
    val dir = writeCsv("graft_csvingest_succ")
    // Spark's own writer leaves _SUCCESS in the dir — readInferFast must
    // not try to infer from it (empty file → empty schema)
    assert(new java.io.File(dir, "_SUCCESS").exists())
    val df = CsvIngest.readInferFast(spark, dir)
    assert(df.schema.length == 6)
  }
}
