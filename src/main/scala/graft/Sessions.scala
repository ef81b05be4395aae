package graft

import org.apache.spark.sql.SparkSession

/** Single source of truth for the benchmark-lane SparkSession config —
  * Bench and DevJobs must measure under IDENTICAL settings or outlier
  * investigations chase config drift instead of plans. Verify keeps its
  * own leaner session (driver contract).
  *
  * The JVM compiles each distinct generated class once. Two settings
  * do this, and both are static: Spark reads them once, when the
  * session or its `CodeGenerator` is created, so they go in the builder
  * (set on a running session they do nothing).
  *  - [[CodegenCacheEntries]]: `CodeGenerator` keeps compiled classes
  *    in an LRU cache of `spark.sql.codegen.cache.maxEntries` entries
  *    (Spark's default is 100). A workload that cycles through more
  *    distinct classes than that misses on every access. One
  *    `registry_lanes` pass compiled 125–127 classes at Spark's
  *    default and 0 with this cache. A full `graft.Bench` pass runs
  *    both registry halves in one JVM: all 221 lanes after
  *    `Bench.prebuild` at sf0.01 compiled 3,743 distinct classes, and
  *    4,112 after three passes (before the stage-id setting below).
  *    The cache holds that with 2x headroom. Each cached class keeps
  *    about 35–40 KB alive: `relational_lanes` holds ~1,100 classes
  *    and its live memory rose by 38 MB.
  *  - [[ArtifactIsolation]] off: the cache is keyed on the task's
  *    context classloader as well as the code. With isolation on, each
  *    streaming query, which runs on a cloned session, gave its tasks
  *    a new session classloader, so every stream start recompiled the
  *    same code (a small file-stream aggregation: 10 of its 23 classes
  *    at its second start). With it off, all tasks share one loader.
  *    The engine adds no session artifacts, so isolation had nothing
  *    to isolate.
  */
object Sessions {
  val CodegenCacheEntries = 8192
  val ArtifactIsolation = false

  def benchSession(appName: String): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.artifact.isolation.enabled", ArtifactIsolation)
      // By default a whole-stage class is named after its codegen stage
      // id, which AQE assigns as it re-plans, so the id of one stage
      // moved between runs of a lane and its unchanged code recompiled.
      .config("spark.sql.codegen.useIdInClassName", "false")
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
