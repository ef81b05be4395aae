package graft

import org.apache.spark.sql.SparkSession

/** Single source of truth for the benchmark-lane SparkSession config —
  * Bench and DevJobs must measure under IDENTICAL settings or outlier
  * investigations chase config drift instead of plans. Verify keeps its
  * own leaner session (driver contract).
  */
object Sessions {
  def benchSession(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // File scans keep Spark's split rule, maxSplitBytes =
      // min(maxPartitionBytes, max(openCostInBytes, totalBytes / cores)):
      // a scan of more than cores × 128 KiB gets about one split per
      // core. Every testdata parquet file holds exactly one row group,
      // so a smaller split cap only adds empty parquet tasks, and on CSV
      // (the reference table, and the cache built from it) per-task
      // scheduling and deserialisation.
      .config("spark.sql.files.openCostInBytes", "128k")
      // AQE small-partition floor: the default 1m minPartitionSize
      // coalesces this workload's small-byte / high-CPU-per-row
      // shuffles (gram postings, grain pairs, candidate windows) down
      // to 8-16 of the 32 slots. Fixture shuffles are KB-to-MB while
      // the per-row kernels are real; a deployment's shuffles are
      // GB-scale and never touch this floor.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
  }
}
