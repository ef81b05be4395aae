package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Remote CSV ingest — SURVEY §2 O24, the reference's "read a CSV
  * straight off a URL" operator (notebook harness, the pandas/polars
  * `read_csv(url)` cells).
  *
  * Shape: the URL names ONE logical file, so the fetch is a driver-side
  * stream-to-spool (exactly what the reference engines do internally —
  * none of them range-parallelize HTTP), and everything AFTER the spool
  * is the engine's normal distributed CSV lane ([[CsvIngest]] prefix
  * inference + schema-pinned scan, pushdown and partitioning intact).
  * For multi-file / petabyte ingest the URL belongs in a manifest read
  * by `spark.read.csv(paths*)` against an object store, not here.
  *
  * The code path is scheme-agnostic `java.net.URL` streaming: https in
  * production, `file://` in the zero-egress sandbox (UrlIngestSpec and
  * q130 exercise it end to end — the fetch/spool/parse machinery is
  * identical, only the socket differs).
  */
object UrlIngest {

  /** Fetch `url` to a local spool file, then read it as CSV with
    * prefix schema inference. Returns the spool-backed DataFrame.
    */
  def readCsvFromUrl(spark: SparkSession, url: String,
                     header: Boolean = true): DataFrame = {
    val spool = java.nio.file.Files.createTempDirectory("graft_url_spool")
      .resolve("fetched.csv")
    val in = new java.net.URI(url).toURL.openStream()
    try java.nio.file.Files.copy(in, spool,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    finally in.close()
    CsvIngest.readInferFast(spark, spool.toString, header)
  }
}
