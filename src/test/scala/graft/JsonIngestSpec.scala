package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** q194's prefix-inference JSONL contract: the schema inferred from
  * the head of the first file, read with no scan task, must agree with
  * the full-scan inferred schema (on this machine-written fixture) at
  * any split size, must arrive as a TREE (nested struct
  * preserved, not flattened or stringified), and the read-back rows
  * must round-trip the source exactly at row level — the oracle only
  * sees the rollup.
  */
class JsonIngestSpec extends AnyFunSuite with SparkTestBase {

  private def fixtureDir: String = {
    // build through the registered lane so the marker discipline holds
    ops.CoreOps.jsonlIngest(spark, sf).collect()
    s"${System.getProperty("java.io.tmpdir")}/graft_jsonl_${math.abs(sf.hashCode)}"
  }

  test("single-file inference == full-scan inference, and the schema is a tree") {
    val dir = fixtureDir
    val schemas = Seq("16k", "128m").map { split =>
      withConf("spark.sql.files.maxPartitionBytes" -> split) {
        val (df, bytesRead) = taskBytesRead(sources.JsonIngest.readInferFast(spark, dir))
        assert(bytesRead == 0, s"inference read $bytesRead file bytes at split $split")
        val full = spark.read.json(dir).schema
        assert(df.schema == full,
          s"split $split: prefix inference drifted from the full scan:\n${df.schema}\nvs\n$full")
        df.schema
      }
    }
    assert(schemas.distinct.size == 1)
    val fast = schemas.head
    val meta = fast("meta").dataType
    assert(meta.isInstanceOf[StructType],
      s"nested metadata flattened/stringified to $meta")
    assert(meta.asInstanceOf[StructType].fieldNames.sorted.toSeq ==
      Seq("lang", "n_chars", "source"))
    // the fixture must genuinely be multi-file or the prefix-inference
    // path degenerates to the full scan
    val parts = new java.io.File(dir).listFiles()
      .count(f => f.getName.startsWith("part-") && f.getName.endsWith(".json"))
    assert(parts >= 2, s"only $parts data files — single-file fixture")
  }

  test("inference reads whole lines of a gzipped file, and all of an over-budget first line") {
    val dir = tempDir("graft_jsonl_head")
    val budget = sources.DataFiles.PrefixBytes
    def write(name: String, lines: Iterator[String], gzip: Boolean): String = {
      val f = dir.resolve(name)
      val raw = java.nio.file.Files.newOutputStream(f)
      val out = if (gzip) new java.util.zip.GZIPOutputStream(raw) else raw
      try lines.foreach(l => out.write((l + "\n").getBytes("UTF-8"))) finally out.close()
      f.toString
    }
    def line(i: Int, text: String) = s"""{"id":$i,"meta":{"n":$i},"text":"$text"}"""
    // the budget ends inside a line: a cut line would infer _corrupt_record
    val gz = write("cut.json.gz",
      Iterator.range(0, 3 * budget / 1000).map(i => line(i, "y" * (997 - line(i, "").length))),
      gzip = true)
    // the first line alone exceeds the budget: it is read to its end
    val long = write("long.json",
      Iterator(line(0, "x" * (budget + 10))) ++ Iterator.range(1, 50).map(line(_, "z")),
      gzip = false)
    try for (f <- Seq(gz, long)) {
      val got = sources.JsonIngest.readInferFast(spark, f)
      assert(got.schema == spark.read.json(f).schema, s"$f: ${got.schema}")
      assert(got.count() == spark.read.json(f).count())
    } finally {
      java.nio.file.Files.list(dir).forEach(f => java.nio.file.Files.delete(f))
      java.nio.file.Files.delete(dir)
    }
  }

  test("JSONL round-trips every field exactly (row-level, not just the rollup)") {
    val dir = fixtureDir
    val got = sources.JsonIngest.readInferFast(spark, dir)
      .select(col("doc_id"), col("meta.lang").as("lang"),
              col("meta.source").as("source"),
              col("meta.n_chars").as("n_chars"), col("text"))
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
                 r.getLong(3), r.getString(4))).toSeq
    val want = Tables.documents(spark, sf)
      .select("doc_id", "lang", "source", "n_chars", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2),
                 r.getLong(3), r.getString(4))).toSeq
    assert(got.size == want.size)
    assert(got == want, "a field drifted through the JSONL round trip")
  }
}
