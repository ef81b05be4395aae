package graft.perfbench

import scala.collection.mutable

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.Sessions

/** The benchmark harness. Runs one workload in one JVM through the
  * program's own `Sessions.benchSession`, times every operation from the
  * outside, and writes `result.json` (metrics, per-pass times, output
  * samples for the checks) and, with `--trace 1`, `spans.jsonl` into the
  * run directory. `perfbench/run.py` builds it, checks the outputs and
  * prints the result.
  *
  * args: <workload> <seed> <seconds> <trace 0|1> <runDir> <dataDir> <t0EpochMs>
  */
object Main {
  /** One timed operation: `run` builds the plan and forces it. */
  final case class Op(module: String, name: String, run: () => Unit)

  def force(df: DataFrame): Unit = df.write.format("noop").mode("overwrite").save()

  private def now(): Double = System.nanoTime() / 1e9

  private val started = now()
  /** Progress to stderr (the run's stderr.log), with seconds since start. */
  def log(msg: String): Unit = System.err.println(f"[perfbench] ${now() - started}%8.2f $msg")

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted; val n = s.length
    if (n == 0) 0.0 else if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  def quantile(xs: Seq[Double], q: Double): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0 else {
      val pos = q * (s.length - 1); val lo = pos.toInt; val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  }

  /** A workload: the set-up it needs and the operations of one pass. */
  trait Workload {
    /** Untimed set-up after the session exists: data, artifacts and, for
      * the lanes, the output check. Records each step's seconds into `setup`.
      */
    def setup(spark: SparkSession, setup: mutable.LinkedHashMap[String, Double]): Unit
    def ops(spark: SparkSession): Seq[Op]
    /** Untimed passes after set-up: on 4 cores operation times still fall
      * by about a tenth per pass until the fourth or fifth pass (JIT).
      */
    def warmupPasses: Int
    /** Whether the seed shuffles the order of the operations. */
    def shuffled: Boolean
    /** Runs before each timed operation, outside its time. */
    def beforeOp(spark: SparkSession): Unit
    /** Values the output check compares against DuckDB. */
    def checks(spark: SparkSession): Map[String, Any] = Map.empty
    /** Seconds spent inside named module functions in the last pass. */
    def inner: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  }

  def main(argv: Array[String]): Unit = {
    val Array(workload, seedS, secondsS, traceS, runDir, dataDir, t0S) = argv
    val seed = seedS.toLong
    val seconds = secondsS.toDouble
    val trace = traceS == "1"
    val cores = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt
    val failures = mutable.LinkedHashMap[String, String]()
    val setup = mutable.LinkedHashMap[String, Double]()

    var t = now()
    val spark = Sessions.benchSession("perfbench")
    spark.sparkContext.setLogLevel("ERROR")
    setup("session") = now() - t

    val w: Workload = workload match {
      case "reference_stages" => new ReferenceStages(runDir, seed, cores)
      case other => Lanes.workload(other, dataDir, runDir, failures)
    }
    log(f"session ${setup("session")}%.2f s")
    w.setup(spark, setup)
    val ops = w.ops(spark)
    def run(op: Op): Unit =
      try op.run()
      catch { case e: Throwable =>
        failures.getOrElseUpdate(s"${op.module}.${op.name}", String.valueOf(e).take(300))
      }
    t = now()
    for (_ <- 1 to w.warmupPasses; op <- ops) { w.beforeOp(spark); run(op) }
    setup("warmup") = setup.getOrElse("warmup", 0.0) + now() - t
    // the memory the loaded, warmed-up workload holds, taken after the
    // same amount of work in every run: the heap after a full collection
    // plus non-heap (classes, generated code, the JIT's code cache). The
    // collection's after-effects fall in pass 0, which no metric uses.
    val (liveHeap, nonHeap) = Probes.liveMb()
    log("set-up done: " + setup.map { case (k, v) => f"$k=$v%.2f" }.mkString(" ") +
      f" live_heap_mb=$liveHeap%.1f nonheap_mb=$nonHeap%.1f")
    val rnd = new scala.util.Random(seed)
    val recorder = if (trace) Some(new Recorder) else None

    // ---- timed passes: at least `minPasses`, then while a further
    //      pass is predicted to end within `seconds`. Pass 0 still
    //      carries the end of the JIT warm-up and the live_mb
    //      collection: it is recorded but left out of the metrics. ----
    val firstTimedMs = System.currentTimeMillis()
    val setupS = (firstTimedMs - t0S.toLong) / 1000.0
    // untraced: pass 0 and two measured passes; traced: the ABBA pattern
    // below needs passes 1 to 4
    val minPasses = if (trace) 5 else 3
    val order = if (w.shuffled) rnd.shuffle(ops) else ops
    val passOps = mutable.ArrayBuffer[Seq[(Op, Double)]]()
    val passTraced = mutable.ArrayBuffer[Boolean]()
    val traces = mutable.ArrayBuffer[(PassTrace, Probes.Fs, Double)]()
    val stageRss = mutable.LinkedHashMap[String, Double]()
    val inner = mutable.LinkedHashMap[String, Double]()
    val measureStart = now()
    def passSums = passOps.map(_.map(_._2).sum)
    while (passOps.size < minPasses ||
           now() - measureStart + median(passSums.toSeq) <= seconds) {
      val p = passOps.size
      // traced passes in an ABBA pattern from pass 1 on (untraced,
      // traced, traced, untraced), so a warm-up trend does not bias the
      // overhead
      val traced = trace && (p % 4 == 2 || p % 4 == 3)
      val passStartMs = System.currentTimeMillis()
      if (traced) recorder.get.attach(spark)
      val fs0 = Probes.fs(); val gc0 = Probes.gcMs()
      val windows = mutable.ArrayBuffer[(Op, Double, Long, Long)]()
      order.foreach { op =>
        w.beforeOp(spark)
        val startMs = System.currentTimeMillis()
        t = now()
        run(op)
        val wall = now() - t
        windows += ((op, wall, startMs, System.currentTimeMillis()))
        if (traced) stageRss(op.name) = Probes.statusMb("VmRSS")
      }
      passOps += windows.map(x => (x._1, x._2)).toSeq
      log(f"pass $p traced=$traced ${windows.map(_._2).sum}%.3f s")
      passTraced += traced
      if (traced) {
        val r = recorder.get
        val pt = r.summarise(spark, s"run/pass$p",
          windows.map { case (op, wall, s, e) => OpWindow(op.module, op.name, s, e, wall) }.toSeq)
        r.detach(spark)
        val passSpan = Span(s"run/pass$p", "run", "pass", s"pass $p", passStartMs,
          System.currentTimeMillis())
        traces += ((pt.copy(spans = passSpan +: pt.spans), Probes.fs() - fs0,
          (Probes.gcMs() - gc0) / 1000.0))
        w.inner.foreach { case (k, v) => inner(k) = inner.getOrElse(k, 0.0) + v }
      }
    }

    val checks = try w.checks(spark) catch { case e: Throwable =>
      failures.getOrElseUpdate("check", String.valueOf(e).take(300)); Map.empty[String, Any]
    }
    log("checks done")
    val loadEnd = Probes.loadAvg()
    val peakRss = Probes.statusMb("VmHWM")
    spark.stop()

    // ---- metrics ----
    val e2ePasses = passOps.indices.filter(p => p > 0 && !passTraced(p))
    val sums = passSums.toSeq
    // each operation's median over the untraced passes; the percentiles
    // are taken over these, one sample per operation
    val perOp = ops.map { op =>
      s"${op.module}.${op.name}" -> median(e2ePasses.map(i => passOps(i).find(_._1 eq op).get._2))
    }
    val e2e = mutable.LinkedHashMap[String, Double](
      "setup_s" -> setupS,
      "pass_s" -> median(e2ePasses.map(sums)),
      "op_p50_s" -> quantile(perOp.map(_._2), 0.5),
      "op_p90_s" -> quantile(perOp.map(_._2), 0.9),
      "live_mb" -> (liveHeap + nonHeap))
    val layers =
      if (!trace) Map.empty[String, Double]
      else Layers(traces.toSeq, setup, inner, stageRss,
        Map("peak_rss_mb" -> peakRss, "jvm.live_heap_mb" -> liveHeap, "jvm.nonheap_mb" -> nonHeap), cores,
        median(passOps.indices.filter(passTraced).map(sums)), median(e2ePasses.map(sums)))
    val counts = if (trace) Layers.countRepeats(traces.toSeq) else Map.empty[String, Seq[Double]]

    val out = mutable.LinkedHashMap[String, Any](
      "workload" -> workload, "seed" -> seed, "seconds" -> seconds, "trace" -> trace,
      "stamp" -> Map("cores_used" -> cores, "loadavg_end" -> loadEnd,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1048576),
      "ops" -> ops.map(o => s"${o.module}.${o.name}"),
      "samples_per_pass" -> ops.size, "passes_measured" -> e2ePasses.size,
      "pass_s" -> sums, "pass_traced" -> passTraced.toSeq,
      "op_median_s" -> perOp.toMap, "setup" -> setup, "end_to_end" -> e2e,
      "per_layer" -> layers, "count_per_pass" -> counts,
      "failures" -> failures, "checks" -> checks)
    val mapper = new ObjectMapper().registerModule(DefaultScalaModule)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(runDir, "result.json"),
      mapper.writeValueAsString(out))
    if (trace) {
      val run = Span("run", "", "run", workload, firstTimedMs, System.currentTimeMillis())
      val lines = (run +: traces.flatMap(_._1.spans)).map(s => mapper.writeValueAsString(s))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(runDir, "spans.jsonl"),
        lines.mkString("", "\n", "\n"))
    }
  }
}
