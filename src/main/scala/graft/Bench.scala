package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Benchmark main (driver-run per round → BENCH_r{N}.json).
  *
  * Two layers, mirroring the reference harnesses (SURVEY §2 O17-O22):
  *  - stage benchmarks `stage_*`: the reference's five timed stages
  *    (read CSV / write CSV / group / sort / to_np, Benchmark1.java:31-78
  *    + the sweep's filter, datatable_benchmark.py:38-54) on lineitem at
  *    the given scale factor — median of 3 reps after a warm-up rep,
  *    System.gc between reps (O19/O20);
  *  - every registry query once, end to end.
  *
  * Execution is forced through the noop datasource sink: it
  * materializes every output row but writes nothing — unlike count(),
  * which lets Catalyst delete the very operator under test (a Sort
  * beneath an Aggregate is dead code).
  */
object Bench {

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def time(f: => Unit): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e9
  }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  /** 1-minute load average — recorded at run start and end so a bench
    * taken on a contended box self-annotates (r8: a loaded driver run
    * read 197 s vs 119 s idle for identical code; without this field
    * the contamination is only detectable by forensic re-runs).
    * private[graft]: ScaleSmoke stamps the same flag (r13 verdict #3 —
    * its committed artifact was captured at loadavg 4.76 with no flag,
    * contradicting the repo's own contention rule).
    */
  private[graft] def loadAvg1m(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble
      finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** Contention threshold on the START loadavg (r12 verdict #5): three
    * rounds of driver benches ran with loadavg 3.7-8.0 and every
    * apparent cross-round regression in them was environment noise the
    * verdicts had to re-litigate. Above this, the run is stamped
    * `"contended": true` in both JSON outputs — we flag rather than
    * refuse because the driver's round bench must still produce an
    * artifact, but the flag makes the artifact self-disqualifying for
    * cross-round perf adjudication (the arbiter is then an idle
    * same-session re-run, the r10 protocol).
    */
  private[graft] val ContendedLoadAvg = 2.0

  /** Untimed build-artifact pre-pass at the bench sf. The persisted
    * admission index, the sim truth store, the session-shared curation
    * state, the ANN eval's trained kits and the arrival-slice fixtures
    * are built once per corpus version, not per query; building them
    * here lets every lane's rep 1 measure the lane (without it, q219's
    * rep 1 read 56.3 s against 8.6-11.6 s for reps 2-4).
    */
  private[graft] def prebuild(spark: SparkSession, sfDir: String): Unit = {
    ops.PipelineOps.persistAdmissionIndex(spark, sfDir)
    ops.PipelineOps.sharedAudited(spark, sfDir).count()
    ops.PipelineOps.sharedBaseIndex(spark, sfDir).count()
    ops.PipelineOps.benchGramSet(spark, sfDir)
    ops.SimilarityOps.sharedSimTruth(spark, sfDir).count()
    ops.SimilarityOps.sharedRawTrain(spark, sfDir)
    ops.SimilarityOps.sharedTrainedKit(spark, sfDir)
    streaming.StreamingOps.stageSpiSlices(spark, sfDir)
    ()
  }

  /** Short git HEAD rev, read straight from .git (no exec): stamps
    * BENCH_ISOLATED.json so a stale isolated pass from an older
    * commit cannot silently ride along inside a newer BENCH_DETAIL
    * (r15 ADVICE #5). Follows a `gitdir: <path>` pointer file (git
    * worktrees / submodules keep the real gitdir elsewhere, and a
    * worktree's HEAD ref may resolve against its `commondir`) —
    * without the indirection both stamps read "unknown" and the
    * freshness check vacuously passed exactly where rev tracking was
    * unavailable (r16 ADVICE). "unknown" outside a git checkout.
    */
  private[graft] def gitRev(): String =
    try {
      import java.nio.file.{Files, Path, Paths}
      import java.nio.charset.StandardCharsets.UTF_8
      def read(p: Path) = new String(Files.readAllBytes(p), UTF_8).trim
      val dotGit = Paths.get(".git")
      val gitDir =
        if (Files.isRegularFile(dotGit)) {
          val s = read(dotGit)
          if (s.startsWith("gitdir: ")) Paths.get(s.stripPrefix("gitdir: "))
          else return "unknown"
        } else dotGit
      // refs of a worktree gitdir live in its commondir (the main
      // repo's .git); HEAD itself stays per-worktree
      val common = {
        val c = gitDir.resolve("commondir")
        if (Files.exists(c)) gitDir.resolve(read(c)).normalize() else gitDir
      }
      val head = read(gitDir.resolve("HEAD"))
      if (!head.startsWith("ref: ")) head.take(12)
      else {
        val ref = head.stripPrefix("ref: ")
        val candidates = Seq(gitDir.resolve(ref), common.resolve(ref))
        candidates.find(Files.exists(_)) match {
          case Some(rp) => read(rp).take(12)
          case None =>
            val packed = common.resolve("packed-refs")
            if (!Files.exists(packed)) "unknown"
            else read(packed)
              .linesIterator.find(_.endsWith(" " + ref))
              .map(_.split("\\s+")(0).take(12)).getOrElse("unknown")
        }
      }
    } catch { case _: Throwable => "unknown" }

  def main(args: Array[String]): Unit = {
    val loadStart = loadAvg1m()
    val contended = loadStart > ContendedLoadAvg
    if (contended)
      System.err.println(
        f"[bench] WARNING: loadavg_start $loadStart%.2f > $ContendedLoadAvg%.1f — " +
          "box is contended; timings will be stamped \"contended\": true " +
          "and must not be used for cross-round comparisons")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    val spark = Sessions.benchSession("graft-bench")

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val memMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rssMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    // raw per-rep seconds, in run order, exactly the sample the metric
    // was computed over (r13 verdict #3: q148's contended median hid a
    // single 12 s rep spike — min/median alone cannot localize which
    // rep a contention burst polluted; the arrays make it post-hoc
    // diagnosable without a re-run)
    val repSec = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()

    // ---- JVM + codegen warm-up on the smallest sf (O19) ----
    val warmSf = "/root/testdata/sf0.001"
    try {
      force(ops.CoreOps.scanAgg(spark, warmSf))
      force(ops.CoreOps.sortAsc(spark, warmSf))
      force(ops.JoinOps.joinBroadcast(spark, warmSf))
    } catch { case e: Throwable => System.err.println(s"[bench] warmup: $e") }
    try prebuild(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench] prebuild: $e") }

    // ---- reference-stage benchmarks on lineitem ----
    val tmpCsv = s"${System.getProperty("java.io.tmpdir")}/graft_bench_csv"
    val li = Tables.lineitem(spark, sfDir)
    // untimed setup: materialize the in-memory table (reference ops run
    // on an already-loaded frame) and a CSV copy for the read stage
    li.cache(); li.count()
    li.write.mode("overwrite").option("header", "true").csv(tmpCsv)

    def heapMb(): Double = {
      val r = Runtime.getRuntime
      (r.totalMemory() - r.freeMemory()) / 1048576.0
    }

    // Process-level memory, the metric the reference actually reports
    // (updated.rs:20-64 K32GetProcessMemoryInfo working set,
    // datatable_benchmark.py:18-21 psutil rss) — JVM heap alone misses
    // off-heap Tungsten pages, codegen, and VM overhead. local-mode
    // Spark is one JVM, so VmRSS is directly comparable to the
    // reference's single-process numbers; VmHWM is the peak analogue of
    // PeakWorkingSetSize.
    def procStatusMb(key: String): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/self/status")
        try src.getLines().collectFirst {
          case l if l.startsWith(key + ":") =>
            l.trim.split("\\s+")(1).toDouble / 1024.0 // kB -> MiB
        }.getOrElse(-1.0)
        finally src.close()
      } catch { case _: Throwable => -1.0 }

    def stage(name: String)(f: => Unit): Unit = {
      try {
        val times = (0 to reps).map { i =>
          System.gc()
          val t = time(f)
          t
        }
        results(s"stage_$name") = median(times.drop(1)) // drop warm-up rep
        memMb(s"stage_$name") = heapMb()
        rssMb(s"stage_$name") = procStatusMb("VmRSS")
        repSec(s"stage_$name") = times.drop(1) // the sample the median saw
      } catch { case e: Throwable =>
        System.err.println(s"[bench] stage $name failed: $e")
        // all maps stay key-aligned on failure — consumers that
        // zip the JSON objects by key set must not misattribute values
        results(s"stage_$name") = -1
        memMb(s"stage_$name") = -1
        rssMb(s"stage_$name") = -1
        repSec(s"stage_$name") = Seq.empty
      }
    }

    // schema-INFERRED read, the reference's O3 contract — via the
    // prefix inference path (CsvIngest): inference reads a bounded
    // prefix of one file instead of a full extra type-parsing pass,
    // which is what the reference's fastest engines (polars/datatable)
    // also do. Inference runs INSIDE the timed region, every rep.
    stage("read") {
      force(graft.sources.CsvIngest.readInferFast(spark, tmpCsv))
    }
    stage("write") {
      li.write.mode("overwrite").option("header", "true")
        .csv(tmpCsv + "_out")
    }
    stage("group") {
      force(li.groupBy("l_returnflag")
        .agg(avg("l_quantity").as("m1"), avg("l_extendedprice").as("m2")))
    }
    stage("sort") {
      force(li.orderBy(col("l_extendedprice")))
    }
    stage("filter") {
      force(li.filter(col("l_quantity") > 25))
    }
    stage("to_np") {
      // reference to_numpy is a projection, not a sort — q08's ORDER BY
      // exists only for oracle determinism, so the stage measures the
      // matrix construction alone
      val numeric = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
        "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      force(li.select(array(numeric.map(c => col(c).cast("double")): _*).as("vec")))
    }

    // ---- eager-vs-lazy pipeline comparison (the reference's headline
    //      result, main.rs:170-175: fused lazy execution vs per-stage
    //      materialization) ----
    stage("pipeline_lazy") {
      force(ops.CoreOps.lazyPipeline(spark, sfDir))
    }
    stage("pipeline_eager") {
      val scan = Tables.lineitem(spark, sfDir).cache(); scan.count()
      val sorted = scan.orderBy(col("l_extendedprice")).cache(); sorted.count()
      val filtered = sorted.filter(col("l_extendedprice") > 500).cache(); filtered.count()
      force(filtered.groupBy("l_returnflag")
        .agg(avg("l_orderkey"), avg("l_extendedprice")))
      Seq(scan, sorted, filtered).foreach(_.unpersist(blocking = true))
    }

    // ---- every registry query, end to end: best of 2 cold runs (the
    //      cache is cleared per rep so persisted intermediates don't
    //      turn rep 2 into a warm-cache measurement) ----
    val qreps = sys.env.getOrElse("SPARK_GRAFT_QREPS", "2").toInt
    val qMedian = scala.collection.mutable.LinkedHashMap[String, Double]()
    val qRepCount = scala.collection.mutable.LinkedHashMap[String, Int]()
    // Optional registry restriction (comma-separated name prefixes) —
    // the instrument behind like-for-like experiments: bench exactly a
    // prior round's query set in one JVM to separate suite-growth
    // pressure (heap/code-cache of new lanes) from box contention
    // (r9 ADVICE). Not set by the driver; round benches stay full.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    // Match a selector against the full name OR the bare "qNN" prefix
    // (the token before the first underscore) — `startsWith` alone let
    // "q17" silently select q170-q179 (r10 ADVICE), corrupting
    // like-for-like subset experiments.
    val benchSet = only match {
      case Some(ps) =>
        Registry.all.filter(q =>
          ps.exists(p => p == q.name || p == q.name.takeWhile(_ != '_')))
      case None => Registry.all
    }
    benchSet.foreach { q =>
      try {
        def rep(): Double = {
          spark.catalog.clearCache()
          System.gc() // keep stray major GCs out of the measured window
          time(force(q.build(spark, sfDir)))
        }
        var times = (1 to qreps).map(_ => rep())
        // adaptive resample: a >30% spread between reps means one of
        // them ate a JIT recompile / major GC / cleaner pause, not plan
        // time — the r5 "regression cluster" (q34/q36/q58...) was
        // exactly this, reproducing at ±70% run-to-run in otherwise
        // untouched code on an idle box. Up to 2 extra reps for noisy
        // queries bounds the extra bench wall-clock to the noisy few
        // while keeping the metric an honest min-of-cold-runs. To keep
        // the variable sample size honest (r6 ADVICE: min over more
        // draws can only fall), BENCH_DETAIL records the per-query rep
        // count AND the median-of-reps alongside the min — adjudicate
        // a suspect delta on the median, which is sample-size-robust.
        // Sub-2s lanes get a TIGHTER trigger and one more allowed
        // resample: their absolute jitter (~0.2-0.5 s of JIT/GC/cleaner
        // noise) is a large RELATIVE fraction, and r10's rebaseline
        // caught five untouched short lanes reading 1.5-1.9x because
        // both cold reps were slow together, under the 1.3 trigger.
        def spreadTrigger: Double = if (times.min < 2.0) 1.15 else 1.3
        def maxExtra: Int = if (times.min < 2.0) 3 else 2
        var extra = 0
        while (extra < maxExtra &&
               times.max / math.max(times.min, 1e-9) > spreadTrigger) {
          times = times :+ rep(); extra += 1
        }
        results(q.name) = times.min
        qMedian(q.name) = median(times)
        qRepCount(q.name) = times.length
        repSec(q.name) = times
      } catch { case e: Throwable =>
        System.err.println(s"[bench] ${q.name} failed: $e")
        results(q.name) = -1
        qMedian(q.name) = -1
        qRepCount(q.name) = 0
        repSec(q.name) = Seq.empty
      }
    }

    // Locale.ROOT: the f interpolator honours the JVM default locale,
    // and a comma-decimal locale would emit unparseable JSON
    def num(v: Double, p: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${p}f", Double.box(v))
    val total = results.values.filter(_ >= 0).sum
    // errored queries are excluded from `value` (they record -1), so
    // cross-round total comparisons need the exclusion count alongside
    // (ADVICE r7: a round with N errors understates its like-for-like
    // total; `errors` makes that visible to any dashboard)
    val errors = results.values.count(_ < 0)

    // Full-resolution detail (full query names, 4 dp) → file, for humans.
    val qsFull = results.map { case (k, v) => "\"" + k + "\":" + num(v, 4) }
      .mkString("{", ",", "}")
    val mems = memMb.map { case (k, v) => "\"" + k + "\":" + num(v, 1) }
      .mkString("{", ",", "}")
    val rsses = rssMb.map { case (k, v) => "\"" + k + "\":" + num(v, 1) }
      .mkString("{", ",", "}")
    val peakRss = procStatusMb("VmHWM")
    val loadEnd = loadAvg1m()
    val qsMed = qMedian.map { case (k, v) => "\"" + k + "\":" + num(v, 4) }
      .mkString("{", ",", "}")
    val qsReps = qRepCount.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val qsRaw = repSec.map { case (k, v) =>
        "\"" + k + "\":" + v.map(num(_, 4)).mkString("[", ",", "]") }
      .mkString("{", ",", "}")
    // fresh-JVM isolated numbers for the high-variance composite
    // lanes, if a BenchIsolated pass has produced them (r14 verdict
    // #7: q216 read 12.4 s under full-suite pressure vs 7-8 s
    // isolated — the artifact should carry both, labeled). Embedded
    // verbatim with its own contention stamp; consumers adjudicate
    // suite-pressure gaps on this field instead of re-running.
    val isolated =
      try {
        val p = java.nio.file.Paths.get("BENCH_ISOLATED.json")
        if (!java.nio.file.Files.exists(p)) ""
        else {
          val raw = new String(java.nio.file.Files.readAllBytes(p),
            java.nio.charset.StandardCharsets.UTF_8).trim
          // BenchIsolated writes FINAL key names + freshness stamps;
          // verify them instead of blindly embedding (r15 ADVICE #5:
          // an isolated pass from an older commit or different sf
          // silently rode along). sf mismatch => hard skip (numbers
          // not comparable); rev mismatch => embed flagged stale (the
          // usual verify flow commits between the two runs, so this
          // warns rather than refuses).
          def field(k: String): Option[String] =
            ("\"" + k + "\":\"([^\"]*)\"").r
              .findFirstMatchIn(raw).map(_.group(1))
          if (!raw.contains("\"isolated_sec\"")) {
            System.err.println("[bench] BENCH_ISOLATED.json is in the " +
              "pre-r16 format — skipping embed; re-run graft.BenchIsolated")
            ""
          } else if (!field("isolated_sf").contains(sfDir)) {
            System.err.println(s"[bench] BENCH_ISOLATED.json sf " +
              s"${field("isolated_sf").getOrElse("?")} != $sfDir — stale, " +
              "skipping embed; re-run graft.BenchIsolated")
            ""
          } else {
            val rev = gitRev()
            // unknown == unknown is NOT freshness — it means rev
            // tracking was unavailable for one or both runs, which is
            // exactly when the check must not vacuously pass (r16
            // ADVICE)
            val stale = rev == "unknown" ||
              !field("isolated_rev").contains(rev)
            if (stale)
              System.err.println(s"[bench] BENCH_ISOLATED.json rev " +
                s"${field("isolated_rev").getOrElse("?")} != $rev — " +
                "embedding flagged isolated_stale")
            "," + raw.stripPrefix("{").stripSuffix("}") +
              s""","isolated_stale":$stale"""
          }
        }
      } catch { case _: Throwable => "" }
    val detail =
      s"""{"metric":"total","value":${num(total, 4)},"unit":"sec","errors":$errors,"queries":$qsFull,"median_sec":$qsMed,"reps":$qsReps,"rep_sec":$qsRaw,"mem_mb":$mems,"rss_mb":$rsses,"peak_rss_mb":${num(peakRss, 1)},"loadavg_start":${num(loadStart, 2)},"loadavg_end":${num(loadEnd, 2)},"contended":$contended,"sf":"$sfDir"$isolated}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_DETAIL.json"),
      (detail + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))

    // The ONE machine-read stdout line. The harness that captures it
    // keeps only a bounded tail of the run's output, so this line must
    // stay short: registry queries are keyed by their "qNN" prefix
    // (full names in BENCH_DETAIL.json), stage_* keys stay verbatim
    // because they are what BASELINE.md is compared against.
    def shortKey(k: String): String =
      if (k.startsWith("stage_")) k else k.takeWhile(_ != '_')
    val qsShort = results.map { case (k, v) => "\"" + shortKey(k) + "\":" + num(v, 3) }
      .mkString("{", ",", "}")
    println(s"""{"metric":"total","value":${num(total, 3)},"unit":"sec","errors":$errors,"queries":$qsShort,"peak_rss_mb":${num(peakRss, 1)},"loadavg_start":${num(loadStart, 2)},"loadavg_end":${num(loadEnd, 2)},"contended":$contended,"sf":"$sfDir"}""")
    spark.stop()
  }
}
