package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Reference-scale benchmark: reproduces the published workload of
  * BASELINE.md Table A/B — the 30,300,000-row × 9-numeric-column
  * diabetes CSV (~1 GB) and its five timed stages
  * (read / write / group / sort / to_np), exactly as the reference
  * harnesses run them (notebook cells + Benchmark1.java:31-78):
  * read = CSV with schema inference capped at 30.3 M rows;
  * group = mean(Glucose) by Outcome; sort = Age descending;
  * to_np = whole table to a dense double matrix.
  *
  * Dataset generation mirrors FIXTURES A3 distributionally (seeded
  * Spark rand/randn; byte-equality with NumPy streams is impossible
  * and irrelevant — the stages measure throughput, not values).
  *
  * Run: `sbt "runMain graft.ScaleSmoke"` (~1 GB in java.io.tmpdir,
  * several minutes). Writes one JSON line like Bench.
  */
object ScaleSmoke {
  private val Rows = 30300000L

  def main(args: Array[String]): Unit = {
    // 1-minute load average at run start/end: a contended box inflates
    // stage times up to 2x, and the stamp makes that visible
    val loadStart = Bench.loadAvg1m()
    // same threshold + flag as Bench — flag, don't refuse, and a
    // contended run must not clobber an idle artifact
    val contendedStart = loadStart > Bench.ContendedLoadAvg
    if (contendedStart)
      System.err.println(
        f"[scale-smoke] WARNING: loadavg_start $loadStart%.2f > " +
          f"${Bench.ContendedLoadAvg}%.1f — box is contended; run is " +
          "stamped \"contended\": true and must not replace idle artifacts")
    val spark = Sessions.benchSession("graft-scale-smoke")
    val cpus = spark.sparkContext.defaultParallelism

    def force(df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def time(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val tmp = s"${System.getProperty("java.io.tmpdir")}/graft_diabetes_csv"

    // ---- untimed setup: generate the A3-shaped 1 GB CSV (the
    //      reference builds its dataset before timing too). The data
    //      is seeded-deterministic, so SPARK_GRAFT_REUSE=1 skips the
    //      regeneration when the export is already on disk — iteration
    //      convenience only, the artifact is identical either way. ----
    val reuse = sys.env.get("SPARK_GRAFT_REUSE").contains("1") &&
      new java.io.File(tmp, "_SUCCESS").exists()
    if (!reuse) {
      val gen = spark.range(Rows).select(
        (rand(1) * 17).cast("int").as("Pregnancies"),
        (rand(2) * 200).cast("int").as("Glucose"),
        (rand(3) * 122).cast("int").as("BloodPressure"),
        (rand(4) * 99).cast("int").as("SkinThickness"),
        (rand(5) * 846).cast("int").as("Insulin"),
        round(rand(6) * 67.1, 1).as("BMI"),
        round(rand(7) * 2.42, 3).as("DiabetesPedigreeFunction"),
        (rand(8) * 60 + 21).cast("int").as("Age"),
        (rand(9) * 2).cast("int").as("Outcome"))
      gen.write.mode("overwrite").option("header", "true").csv(tmp)
    }

    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val rssMb = scala.collection.mutable.LinkedHashMap[String, Double]()
    val reps = sys.env.getOrElse("SPARK_GRAFT_REPS", "3").toInt
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.length / 2)
    // process RSS after each stage — what the reference's memory columns
    // measure (psutil rss / working set), see Bench.procStatusMb
    def vmRssMb(): Double =
      try {
        val src = scala.io.Source.fromFile("/proc/self/status")
        try src.getLines().collectFirst {
          case l if l.startsWith("VmRSS:") =>
            l.trim.split("\\s+")(1).toDouble / 1024.0
        }.getOrElse(-1.0)
        finally src.close()
      } catch { case _: Throwable => -1.0 }
    // SPARK_GRAFT_STAGES=sort,group runs a subset (tuning iteration);
    // the JSON artifact is only written on a full five-stage run
    val onlyStages = sys.env.get("SPARK_GRAFT_STAGES").map(_.split(",").toSet)
    def stage(name: String)(f: => Unit): Unit = if (onlyStages.forall(_.contains(name))) {
      // inter-stage barrier: flush dirty pages before timing. The write
      // stage leaves ~3 GB of buffered CSV draining to the VM disk, and
      // without the barrier that writeback bled into whichever stage
      // ran next (measured: sort swinging 3.3↔9.0 s between runs with
      // zero spill — writeback contention, not sort work).
      try new ProcessBuilder("sync").start().waitFor()
      catch { case _: Throwable => }
      // reference protocol (O17/O19/O20): repeated timed trials with a
      // gc between reps, median reported, after a per-stage warm-up rep
      // (dropped, exactly like Bench's stage_* measurements — the first
      // rep carries this stage's codegen + JIT, which is startup cost,
      // not stage throughput)
      val times = (0 to reps).map { _ => System.gc(); time(f) }
      results(name) = median(times.drop(1))
      rssMb(name) = vmRssMb()
    }

    // warm-up (O19): small read to JIT the CSV path
    force(spark.read.option("header", "true").option("inferSchema", "true")
      .csv(tmp).limit(1000))

    // ---- read: schema-inferred CSV scan, 30.3 M-row cap. Inference
    //      via the bounded-prefix path (graft.sources.CsvIngest):
    //      the full-pass inferSchema re-parses all 30.3 M rows before
    //      loading them — the contract the reference engines actually
    //      implement is prefix inference (polars infer_schema_length,
    //      datatable sampling), VERDICT r4 #4. The row cap runs through
    //      readPrefix — exact pandas-nrows semantics (file-order
    //      prefix) — NOT Dataset.limit, whose plan funnels all 30.3 M
    //      parsed rows through a single-partition exchange (measured
    //      +8 s, 3× the distributed parse itself) and doesn't even
    //      promise the first n rows. Inference AND the cap's newline
    //      count are INSIDE the timed region, every rep. ----
    stage("read") {
      force(graft.sources.CsvIngest.readPrefix(spark, tmp, Rows))
    }

    // in-memory table for the remaining stages (the reference ops run
    // on the already-loaded frame); untimed, so inference path is
    // irrelevant here — use the fast one for wall-clock anyway
    val table = graft.sources.CsvIngest.readInferFast(spark, tmp).cache()
    table.count()

    stage("write") {
      table.write.mode("overwrite").option("header", "true").csv(tmp + "_out")
    }
    stage("group") {
      force(table.groupBy("Outcome").agg(avg("Glucose").as("mean_glucose")))
    }
    stage("sort") {
      force(table.orderBy(col("Age").desc))
    }
    stage("to_np") {
      force(table.select(array(table.columns.toIndexedSeq.map(c => col(c).cast("double")): _*)
        .as("vec")))
    }

    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val rs = rssMb.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val loadEnd = Bench.loadAvg1m()
    // BOTH readings are judged (r14 verdict #6: the start-only stamp
    // missed a competitor arriving mid-run, and the end reading alone
    // is inflated by the run itself). The run's own `cpus` worker threads
    // can push the 1-min loadavg up to ~cpus; anything beyond
    // cpus + threshold at the end cannot be us, so it flags.
    val contendedEnd = loadEnd > cpus.toDouble + Bench.ContendedLoadAvg
    val contended = contendedStart || contendedEnd
    val rule = s"start>${Bench.ContendedLoadAvg} || end>cpus+${Bench.ContendedLoadAvg}"
    val line =
      s"""{"metric":"scale_smoke_30.3M","value":${num(results.values.sum)},"unit":"sec","queries":$qs,"rss_mb":$rs,"rows":$Rows,"loadavg_start":${num(loadStart)},"loadavg_end":${num(loadEnd)},"contended":$contended,"contended_rule":"$rule"}"""
    println(line)
    // machine-readable copy for graft.Plot (O23); partial tuning runs
    // must not clobber the full-run artifact, and a CONTENDED run
    // diverts to a sidecar so it cannot silently replace the idle
    // artifact it is not comparable with (r14 ADVICE: the warning
    // stated the rule but the write was unconditional)
    if (results.size == 5) {
      val dst = if (contended) "SCALE_SMOKE_contended.json" else "SCALE_SMOKE.json"
      if (contended)
        System.err.println(
          "[scale-smoke] contended run — writing to SCALE_SMOKE_contended.json, " +
            "idle artifact left untouched")
      java.nio.file.Files.write(java.nio.file.Paths.get(dst),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    }

    // side-by-side with BASELINE.md Table A (Colab) and B (local)
    val baseline = Map(
      "read" -> (65.911, 15.528, 8.262, 4.719),
      "write" -> (35.350, 88.642, 9.340, 11.232),
      "group" -> (17.722, 0.966, 1.445, 0.691),
      "sort" -> (4.419, 3.882, 3.309, 0.688),
      "to_np" -> (7.568, 0.808, 1.153, 3.067))
    println(f"${"stage"}%-7s ${"spark"}%9s ${"tablesaw"}%9s ${"pandas"}%9s ${"polars"}%9s ${"datatable"}%9s")
    results.foreach { case (k, v) =>
      val (t, p, pl, dt) = baseline(k)
      println(f"$k%-7s ${num(v)}%9s $t%9.3f $p%9.3f $pl%9.3f $dt%9.3f")
    }
    spark.stop()
  }
}
