package graft.perfbench

import scala.collection.mutable

/** The per-layer metrics of a traced run. Each value is the mean over
  * the traced passes, so the module `busy_s` values add up to the mean
  * traced pass time, and each module's job time plus `gap_s` is its
  * `busy_s`. Layers a workload does not run report 0.
  */
object Layers {
  val Modules: Seq[String] = Seq(
    "ops.CoreOps", "ops.JoinOps", "ops.TpchOps", "ops.TpchOps2", "ops.SurfaceOps",
    "ops.AdvancedOps", "ops.EventOps", "ops.IncrementalOps", "ops.TextOps", "ops.DedupOps",
    "ops.SimilarityOps", "ops.MultimodalOps", "ops.PipelineOps", "streaming.StreamingOps")
  val SetupSteps: Seq[String] = Seq("session", "datagen", "warmup") ++ Lanes.Builders.map(_._1)
  val Stages: Seq[String] = ReferenceStages.Stages

  def apply(traces: Seq[(PassTrace, Probes.Fs, Double)],
            setup: collection.Map[String, Double],
            inner: collection.Map[String, Double],
            stageRss: collection.Map[String, Double],
            memory: collection.Map[String, Double], cores: Int,
            tracedPassS: Double, untracedPassS: Double): Map[String, Double] = {
    val n = math.max(traces.size, 1).toDouble
    def mean(f: ((PassTrace, Probes.Fs, Double)) => Double): Double = traces.map(f).sum / n
    val mb = 1048576.0
    val m = mutable.LinkedHashMap[String, Double]()
    Modules.foreach { mod =>
      def of(p: PassTrace) = p.ops.filter(_.module == mod)
      m(s"$mod.busy_s") = mean(x => of(x._1).map(_.wallS).sum)
      m(s"$mod.jobs") = mean(x => of(x._1).map(_.jobs).sum.toDouble)
      m(s"$mod.tasks") = mean(x => of(x._1).map(_.tasks).sum.toDouble)
      m(s"$mod.gap_s") = mean(x => of(x._1).map(_.gapS).sum)
    }
    m("sources.CsvIngest.busy_s") = inner.getOrElse("sources.CsvIngest", 0.0) / n
    SetupSteps.foreach(s => m(s"setup.${s}_s") = setup.getOrElse(s, 0.0))
    val passS = mean(x => x._1.ops.map(_.wallS).sum)
    m("spark.plan_s") = mean(_._1.planS)
    m("spark.jobs") = mean(_._1.jobs.toDouble)
    m("spark.stages") = mean(_._1.stages.toDouble)
    m("spark.tasks") = mean(_._1.tasks.tasks.toDouble)
    m("spark.gap_s") = mean(x => x._1.ops.map(_.gapS).sum)
    m("spark.sched_delay_s") = mean(_._1.tasks.schedMs / 1000.0)
    m("spark.task_s") = mean(_._1.tasks.taskMs / 1000.0)
    m("spark.cpu_s") = mean(_._1.tasks.cpuNs / 1e9)
    m("spark.gc_s") = mean(_._1.tasks.gcMs / 1000.0)
    m("spark.deser_s") = mean(_._1.tasks.deserMs / 1000.0)
    m("spark.slot_util") = if (passS > 0) m("spark.task_s") / (passS * cores) else 0.0
    m("spark.shuffle_write_mb") = mean(_._1.tasks.shuffleWriteB / mb)
    m("spark.shuffle_read_mb") = mean(_._1.tasks.shuffleReadB / mb)
    m("spark.fetch_wait_s") = mean(_._1.tasks.fetchMs / 1000.0)
    m("spark.spill_mb") = mean(_._1.tasks.spillB / mb)
    m("spark.scan_mb") = mean(_._1.tasks.scanB / mb)
    m("spark.output_mb") = mean(_._1.tasks.outputB / mb)
    m("spark.task_failures") = mean(_._1.tasks.failures.toDouble)
    m("stream.batches") = mean(_._1.batches.toDouble)
    m("stream.trigger_s") = mean(_._1.triggerS)
    m("stream.plan_s") = mean(_._1.streamPlanS)
    m("stream.add_batch_s") = mean(_._1.addBatchS)
    m("stream.wal_s") = mean(_._1.walS)
    m("fs.write_ops") = mean(_._2.writeOps.toDouble)
    m("fs.read_ops") = mean(_._2.readOps.toDouble)
    m("fs.bytes_written_mb") = mean(_._2.bytesWritten / mb)
    m("fs.bytes_read_mb") = mean(_._2.bytesRead / mb)
    m("jvm.gc_s") = mean(_._3)
    m ++= memory
    Stages.foreach { s =>
      m(s"stage.${s}_s") = mean(x => x._1.ops.filter(_.name == s).map(_.wallS).sum)
      m(s"rss_mb.$s") = stageRss.getOrElse(s, 0.0)
    }
    m("trace.pass_s") = tracedPassS
    m("trace.overhead_frac") = if (untracedPassS > 0) tracedPassS / untracedPassS - 1 else 0.0
    m("trace.unattributed_jobs") = mean(_._1.unattributed.toDouble)
    m.toMap
  }

  /** Per-pass values of every count, to see which repeat exactly. */
  def countRepeats(traces: Seq[(PassTrace, Probes.Fs, Double)]): Map[String, Seq[Double]] = {
    val m = mutable.LinkedHashMap[String, Seq[Double]](
      "spark.jobs" -> traces.map(_._1.jobs.toDouble),
      "spark.stages" -> traces.map(_._1.stages.toDouble),
      "spark.tasks" -> traces.map(_._1.tasks.tasks.toDouble),
      "spark.task_failures" -> traces.map(_._1.tasks.failures.toDouble),
      "stream.batches" -> traces.map(_._1.batches.toDouble),
      "fs.write_ops" -> traces.map(_._2.writeOps.toDouble),
      "fs.read_ops" -> traces.map(_._2.readOps.toDouble))
    Modules.foreach { mod =>
      val jobs = traces.map(_._1.ops.filter(_.module == mod).map(_.jobs).sum.toDouble)
      if (jobs.exists(_ > 0)) {
        m(s"$mod.jobs") = jobs
        m(s"$mod.tasks") = traces.map(_._1.ops.filter(_.module == mod).map(_.tasks).sum.toDouble)
      }
    }
    m.toMap
  }
}
