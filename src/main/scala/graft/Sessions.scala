package graft

import org.apache.spark.sql.SparkSession

/** The one SparkSession factory. Bench, BenchIsolated, DevJobs,
  * DevExplain, Scaling, ScaleSmoke, Plans, the correctness dump
  * (Verify, whose output the DuckDB oracle checks) and the test suite
  * all build their session here, so they differ only in app name and
  * core count. The oracle therefore checks the plans Bench times: the
  * [[GraftExtensions]] rules, the split rule and the AQE floor below.
  *
  * Core count: `cpus` (the tests pin 4); otherwise `SPARK_GRAFT_CPUS`,
  * which defaults to the machine's available processors. Shuffle
  * partitions follow it.
  *
  * Settings that Spark reads once, when the session or its
  * `CodeGenerator` is created, go in the builder (set on a running
  * session they do nothing); `newSession()` of this session inherits
  * all of them.
  */
object Sessions {

  def benchSession(
      appName: String,
      cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors)): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      // The JVM compiles each distinct generated class once.
      // `CodeGenerator` keeps compiled classes in an LRU cache of this
      // many entries (Spark's default is 100). A workload that cycles
      // through more distinct classes than that misses on every access.
      // One `registry_lanes` pass compiled 125–127 classes at Spark's
      // default and 0 with this cache. A full `graft.Bench` pass runs
      // both registry halves in one JVM: all 221 lanes after
      // `Bench.prebuild` at sf0.01 compiled 3,743 distinct classes, and
      // 4,112 after three passes (before the stage-id setting below).
      // The cache holds that with 2x headroom. Each cached class keeps
      // about 35–40 KB alive: `relational_lanes` holds ~1,100 classes
      // and its live memory rose by 38 MB.
      .config("spark.sql.codegen.cache.maxEntries", 8192L)
      // The codegen cache is keyed on the task's context classloader as
      // well as the code. With artifact isolation on, each streaming
      // query, which runs on a cloned session, gave its tasks a new
      // session classloader, so every stream start recompiled the same
      // code (a small file-stream aggregation: 10 of its 23 classes at
      // its second start). With it off, all tasks share one loader. The
      // engine adds no session artifacts, so isolation had nothing to
      // isolate.
      .config("spark.sql.artifact.isolation.enabled", false)
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
      // events.ts has shipped as parquet TIMESTAMP(NANOS), which Spark's
      // reader rejects unless this surfaces it as a raw Long (a no-op
      // for micros columns); `Tables.normalizeEventsTs` folds it back.
      // Set for every session, so a table's inferred schema never
      // depends on which lane read it first.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // Global-sort stability (VERDICT r4 #5): a range exchange on a
      // low-cardinality key (ScaleSmoke's sort on Age, 60 distinct
      // values) drew boundaries loose enough at the default 100
      // samples per partition that partition sizes, and the stage
      // time, swung between runs. 4x the sample is microseconds of
      // work for boundaries that keep the sort partitions near-even.
      .config("spark.sql.execution.rangeExchange.sampleSizePerPartition", "400")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** Run `body` with the session confs `kvs` set, then restore each
    * key's previous value, or unset it if it had none, also when `body`
    * throws.
    */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    val prev = kvs.map { case (k, _) => k -> s.conf.getOption(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }
}
