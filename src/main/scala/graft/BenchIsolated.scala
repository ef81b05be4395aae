package graft

import org.apache.spark.sql.DataFrame

/** Fresh-JVM isolation pass for the high-variance lanes (r14 verdict
  * #7: q216's committed BENCH_DETAIL entry read 12.4 s under
  * full-suite pressure vs 7-8 s isolated — suite heap/code-cache
  * pressure, not lane cost, and the artifact could not say so).
  *
  * The lane set is DefaultLanes UNION the lanes the round's own two
  * readings disagree about (r15 verdict #5 — the hand-picked ten
  * missed every one of r15's outliers):
  *  - intra-run spikes: BENCH_DETAIL.json rep arrays whose max/median
  *    exceeds [[GapRatio]] (one rep polluted by a contention burst);
  *  - driver/idle gaps: the latest driver BENCH_r{N}.json lane time
  *    vs the committed idle BENCH_DETAIL median, ratio over
  *    [[GapRatio]] in either direction.
  *
  * Runs with Bench's exact protocol (artifact pre-pass, cache clear +
  * gc per rep, best+median of 3) and writes BENCH_ISOLATED.json with
  * FINAL key names (isolated_sec, ...) plus a git-rev + sf stamp —
  * the next full Bench embeds it verbatim after checking the stamps
  * (r15 ADVICE: the old substring-rename embed had no freshness guard
  * and an artifact from another commit/sf rode along silently).
  *
  * Run it idle, AFTER the full Bench, from a fresh JVM:
  *   sbt 'runMain graft.BenchIsolated'
  */
object BenchIsolated {
  private[graft] val DefaultLanes = Seq(
    "q148_ingest_gate", // r15: 12.5 s in both driver reps vs 0.89 idle
    "q163_rank_metrics", "q174_filtered_ann", "q213_audio_clipdup",
    "q214_pipeline_composite", "q215_pipeline_increment",
    "q216_stream_pipeline_ingest", "q217_pipeline_index_disk",
    "q218_pipeline_takedown", "q219_pipeline_two_epoch",
    "q220_pipeline_lifecycle")

  /** Two readings of one lane disagreeing by more than this ratio
    * make the lane adjudication-worthy (r15 verdict #5: "~2x").
    */
  private[graft] val GapRatio = 2.0

  /** Lanes below this cost are skipped by the gap sweep: a 0.1 s lane
    * doubling is scheduler noise, not a finding.
    */
  private[graft] val GapFloorSec = 0.5

  private def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  private def readFile(p: String): Option[String] =
    try {
      val path = java.nio.file.Paths.get(p)
      if (java.nio.file.Files.exists(path))
        Some(new String(java.nio.file.Files.readAllBytes(path),
          java.nio.charset.StandardCharsets.UTF_8))
      else None
    } catch { case _: Throwable => None }

  /** Lanes whose committed-vs-driver readings (or intra-run reps)
    * disagree by > GapRatio, with a one-line reason each. Pure
    * artifact forensics — regex extraction, no JSON lib needed for
    * the driver file whose "tail" field is truncated mid-object.
    */
  private[graft] def gapLanes(): Seq[(String, String)] = {
    val driverFiles = try {
      val d = new java.io.File(".")
      d.listFiles().toSeq.map(_.getName)
        .flatMap { n =>
          """BENCH_r(\d+)\.json""".r.findFirstMatchIn(n)
            .map(m => (m.group(1).toInt, n))
        }.sortBy(-_._1).map(_._2)
    } catch { case _: Throwable => Seq.empty }
    gapLanesFrom(readFile("BENCH_DETAIL.json"),
      driverFiles.headOption.flatMap(readFile))
  }

  /** The pure forensic sweep, file contents in (spec surface). */
  private[graft] def gapLanesFrom(
      detail: Option[String], driver: Option[String]): Seq[(String, String)] = {
    val out = scala.collection.mutable.LinkedHashMap[String, String]()
    // 1. intra-run spikes: rep arrays with max/median > GapRatio
    detail.foreach { txt =>
      val repsBlock = """"rep_sec":\{(.*?)\}""".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      val arr = """"(q\d+[a-z0-9_]*)":\[([0-9.,\s]+)\]""".r
      arr.findAllMatchIn(repsBlock).foreach { m =>
        val name = m.group(1)
        val reps = m.group(2).split(",").map(_.trim.toDouble).toSeq
        if (reps.size >= 2) {
          val med = reps.sorted.apply(reps.size / 2)
          if (med > 0 && reps.max > GapFloorSec && reps.max / med > GapRatio)
            out.getOrElseUpdate(name,
              f"intra-run spike: max=${reps.max}%.2f vs median=$med%.2f")
        }
      }
    }
    // 2. driver/idle gaps: latest BENCH_r{N}.json short keys vs the
    //    committed detail medians (short key = name up to first '_')
    val medians: Map[String, Double] = detail.map { txt =>
      val medBlock = """"median_sec":\{(.*?)\}""".r
        .findFirstMatchIn(txt).map(_.group(1)).getOrElse("")
      """"(q\d+[a-z0-9_]*)":([0-9.]+)""".r.findAllMatchIn(medBlock)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
    }.getOrElse(Map.empty)
    driver.foreach { txt =>
      // the driver artifact's lane times live inside its "tail" JSON
      // STRING value, so the quotes arrive backslash-escaped
      val drvTimes = """\\?"(q\d+)\\?":([0-9.]+)""".r.findAllMatchIn(txt)
        .map(m => m.group(1) -> m.group(2).toDouble).toMap
      medians.foreach { case (name, med) =>
        val short = name.takeWhile(_ != '_')
        drvTimes.get(short).foreach { drv =>
          if (med > 0 && drv > 0 && math.max(drv, med) > GapFloorSec &&
              math.max(drv, med) / math.min(drv, med) > GapRatio)
            out.getOrElseUpdate(name,
              f"driver/idle gap: driver=$drv%.2f vs idle median=$med%.2f")
        }
      }
    }
    out.toSeq
  }

  def main(args: Array[String]): Unit = {
    val loadStart = Bench.loadAvg1m()
    val contended = loadStart > Bench.ContendedLoadAvg
    if (contended)
      System.err.println(
        f"[bench-isolated] WARNING: loadavg_start $loadStart%.2f > " +
          f"${Bench.ContendedLoadAvg}%.1f — contended; stamped")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val lanes =
      if (args.nonEmpty) args.toSeq
      else {
        val auto = gapLanes().filterNot { case (n, _) => DefaultLanes.contains(n) }
        auto.foreach { case (n, why) =>
          println(s"[bench-isolated] auto-included $n ($why)") }
        DefaultLanes ++ auto.map(_._1)
      }
    val spark = Sessions.benchSession("graft-bench-isolated")
    try Bench.prebuild(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[bench-isolated] prebuild: $e") }
    val byName = Registry.all.map(q => q.name -> q).toMap
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    val medians = scala.collection.mutable.LinkedHashMap[String, Double]()
    lanes.filter(byName.contains).foreach { name =>
      val q = byName(name)
      try {
        val times = (1 to 3).map { _ =>
          spark.catalog.clearCache()
          System.gc()
          val t0 = System.nanoTime()
          force(q.build(spark, sfDir))
          (System.nanoTime() - t0) / 1e9
        }
        results(name) = times.min
        medians(name) = times.sorted.apply(1)
        println(f"[bench-isolated] $name%-30s min=${times.min}%6.2f s  " +
          f"reps=(${times.map(t => f"$t%.2f").mkString(", ")})")
      } catch { case e: Throwable =>
        System.err.println(s"[bench-isolated] $name failed: $e")
        results(name) = -1; medians(name) = -1
      }
    }
    def num(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.4f", Double.box(v))
    val qs = results.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val ms = medians.map { case (k, v) => "\"" + k + "\":" + num(v) }
      .mkString("{", ",", "}")
    val loadEnd = Bench.loadAvg1m()
    // FINAL key names + freshness stamps: Bench embeds this verbatim
    // after checking isolated_rev/isolated_sf against its own run
    val line =
      s"""{"isolated_sec":$qs,"isolated_median_sec":$ms,"isolated_loadavg_start":${num(loadStart)},"isolated_loadavg_end":${num(loadEnd)},"isolated_contended":$contended,"isolated_sf":"$sfDir","isolated_rev":"${Bench.gitRev()}"}"""
    java.nio.file.Files.write(java.nio.file.Paths.get("BENCH_ISOLATED.json"),
      (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(line)
    spark.stop()
  }
}
