package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** JSONL (JSON Lines) ingestion — the interchange format LLM-pipeline
  * corpora actually ship in (one JSON object per line, nested
  * metadata riding as structs), with the same prefix-inference
  * contract as [[CsvIngest.readInferFast]]: Spark's native JSON
  * inference reads and parses EVERY byte once just to discover the
  * schema, then again to load. Inferring on the bounded head of the
  * data files, read on the driver, and pinning the schema for the
  * full scan makes inference a constant prefix while the main scan
  * keeps its pushdown and parallelism — and unlike CSV, the inferred
  * schema here is a TREE (nested structs land as StructType fields
  * addressable by dot path, arrays as ArrayType), so the fast path must
  * preserve nesting, not flatten it. The trade is CsvIngest's: a type
  * visible only outside the prefix widens late; machine-written
  * exports (the JSONL norm) don't hit it, adversarial inputs pass an
  * explicit schema.
  */
object JsonIngest {

  def readInferFast(spark: SparkSession, path: String): DataFrame = {
    val schema = spark.read.json(DataFiles.headLines(spark, DataFiles.list(spark, path))).schema
    spark.read.schema(schema).json(path)
  }
}
