package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** CSV ingestion without the full-pass schema-inference tax.
  *
  * Spark's `inferSchema=true` reads and type-parses EVERY byte twice:
  * one full pass to infer, one to load. The reference's fastest engines
  * don't (SURVEY §2 O3): polars infers from the first 100 rows
  * (`infer_schema_length`, main.rs:85-94 / notebook cells) and
  * datatable samples. At 30.3 M rows the second pass is ~half the
  * reference read-stage time (VERDICT r4 #4).
  *
  * [[readInferFast]] reproduces the prefix-inference contract
  * Spark-natively: read the first [[DataFiles.PrefixBytes]] of the
  * directory's data files, in name order, on the driver, cut at the
  * last whole line, run Spark's own CSV inference over those lines in
  * memory (a repeated header line is dropped, as in the scan), then
  * scan the whole directory with the inferred schema pinned. Inference
  * costs a constant prefix, reads no byte through a scan task, and
  * picks the same rows whatever the split size; the main scan is
  * unchanged — same pushdown, same partitioning, same parallelism.
  * The trade is the same one polars makes: a type that only shows up
  * outside the prefix (e.g. a stray string in a numeric column) is not
  * seen at inference time and lands as a parse-error null under
  * PERMISSIVE mode instead of widening the column. Callers with
  * adversarial inputs pass an explicit schema (q13's lane); callers
  * re-reading machine-written exports — the benchmark's case and the
  * overwhelmingly common one — get a ~2× faster read.
  */
object CsvIngest {

  /** Spark's CSV inference over the bounded head of `files`. */
  private def inferSchema(spark: SparkSession, files: Seq[String], header: Boolean): StructType =
    spark.read.option("header", header.toString).option("inferSchema", "true")
      .csv(DataFiles.headLines(spark, files)).schema

  def readInferFast(spark: SparkSession, path: String,
                    header: Boolean = true): DataFrame = {
    val schema = inferSchema(spark, DataFiles.list(spark, path), header)
    spark.read.option("header", header.toString).schema(schema).csv(path)
  }

  /** First `n` rows of a CSV directory in file-name order — the
    * distributed twin of pandas' `read_csv(nrows=n)` (reference read
    * stage, Benchmark1.java:31-40 / notebook `nrows=30_300_000`).
    *
    * `Dataset.limit(n)` is the wrong tool for this at scale twice
    * over: (a) its physical plan funnels EVERY surviving row through a
    * single-partition exchange (measured: +8 s on the 30.3 M-row read,
    * 3× the entire distributed parse), and (b) it returns an
    * *arbitrary* n rows, not the file-order prefix the reference
    * semantics promise. This reader instead:
    *   1. counts rows per file with a distributed newline scan (no
    *      field parsing — ~¼ the cost of a typed parse pass);
    *   2. takes whole files while they fit under the cap — these parse
    *      fully parallel, no limit operator anywhere in their plan;
    *   3. takes the FIRST `remaining` rows of the ONE boundary file in
    *      true within-file order: rows are keyed by
    *      (`input_file_block_start`, `monotonically_increasing_id`) —
    *      the block offset pins each split's position in the file and
    *      the id is monotone within a split, so `orderBy(...).limit(r)`
    *      plans as a TakeOrdered over just that file's splits and is
    *      EXACT regardless of how Spark bin-packs the splits into
    *      partitions (a bare `Dataset.limit` would take an arbitrary
    *      `r` rows — file splits carry no order contract);
    *   4. never touches files past the boundary (a prefix cap at 100 TB
    *      should prune the scan, not read-then-drop).
    * If the cap covers the whole dataset (the benchmark's case — and
    * pandas' on the same file), the result is a plain uncapped scan:
    * the cap costs one newline pass and removes nothing.
    */
  def readPrefix(spark: SparkSession, path: String, n: Long,
                 header: Boolean = true): DataFrame = {
    import org.apache.spark.sql.functions.{col, count, input_file_block_start,
      input_file_name, lit, monotonically_increasing_id}
    val files = DataFiles.list(spark, path)
    val schema = inferSchema(spark, files, header)
    def read(files: Seq[String]) = spark.read
      .option("header", header.toString).schema(schema).csv(files: _*)
    val headerRows = if (header) 1L else 0L
    // input_file_name URIs are URL-encoded and listStatus paths are
    // not (file:/ vs file:///, %20 vs space) — normalize both sides to
    // a decoded FS path before matching, and fail LOUD if a listed
    // file has no line-count entry (a silent 0 would make the prefix
    // over-read past n)
    def normPath(u: String): String =
      try new org.apache.hadoop.fs.Path(new java.net.URI(u)).toUri.getPath
      catch { case _: Exception => new org.apache.hadoop.fs.Path(u).toUri.getPath }
    val lineCounts: Map[String, Long] = spark.read.textFile(files: _*)
      .groupBy(input_file_name().as("f")).agg(count(lit(1)).as("c"))
      .collect().map(r => normPath(r.getString(0)) -> r.getLong(1)).toMap
    def rowsOf(f: String): Long = {
      val c = lineCounts.getOrElse(normPath(f), throw new IllegalStateException(
        s"readPrefix: no line count for listed file $f " +
          s"(have: ${lineCounts.keys.take(3).mkString(", ")}…)"))
      math.max(0L, c - headerRows)
    }
    val cum = files.scanLeft(0L)((acc, f) => acc + rowsOf(f))
    if (cum.last <= n) read(files)
    else {
      val nWhole = cum.indexWhere(_ > n) - 1 // files fully under the cap
      val whole = files.take(nWhole)
      val boundary = files(nWhole)
      val rest = n - cum(nWhole)
      // rest < the boundary file's row count, which a newline scan just
      // counted into a Long — but limit() takes an Int, so make the
      // narrowing loud instead of letting toInt wrap
      require(rest <= Int.MaxValue.toLong,
        s"readPrefix: boundary-file remainder $rest exceeds Int.MaxValue; " +
          "re-layout the export with smaller files")
      val capped = read(Seq(boundary))
        .withColumn("__bs", input_file_block_start())
        .withColumn("__id", monotonically_increasing_id())
        .orderBy(col("__bs"), col("__id"))
        .limit(rest.toInt)
        .drop("__bs", "__id")
      if (whole.isEmpty) capped else read(whole).unionAll(capped)
    }
  }
}
