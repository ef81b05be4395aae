package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._

/** Per-lane A/B timer and scheduler-overhead profile — counts Spark jobs,
  * stages and tasks for one registry-lane execution and compares the
  * executor-side task time against the lane's wall-clock, so the
  * optimization round can tell COMPUTE-bound lanes (task time ≈ wall ×
  * cores in use) from OVERHEAD-bound lanes (wall ≫ task time / width:
  * the cost is driver-side planning + AQE stage materialization +
  * scheduling latency, and the lever is fewer actions/stages, not
  * faster kernels). `compiles=` counts the classes Spark's code
  * generator compiled during the rep; a warm rep should compile none
  * (see [[Sessions]]), so a nonzero count there is a cache miss.
  * After a lane's last rep it also prints one row per [[Steps]] tag
  * entered — the composite lanes' logical steps, attributed from the
  * real run, with the summed wall time of the tag's bodies (`wall_s`)
  * also for a step that runs no job — plus an `(untagged)` row; the
  * rep's own noop write is the `sink` step.
  *
  * Usage: runMain graft.DevJobs <sfDir> <reps> <lane> [<lane>...]
  * Artifacts are pre-built untimed by [[Bench.prebuild]]; each rep
  * clears the cache like Bench reps do and prints its wall time, so
  * interleaving two arms' runs on one box gives a per-lane A/B.
  */
object DevJobs {
  private val Untagged = "(untagged)"

  /** One step's totals; job wall times are summed, so overlapped jobs
    * count twice. */
  final class StepTotals {
    var jobs, stages, tasks = 0
    var taskMs, cpuMs, jobMs, wallNs = 0L
  }

  final class Counter extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-stage totals keyed by (stageId): (name, tasks, taskMs, cpuMs)
    val byStage = new java.util.concurrent.ConcurrentHashMap[
      Int, (String, Int, Long, Long)]()
    // step attribution: a job's tag from its local properties at
    // onJobStart, a stage's through the first job that lists it
    private val jobTag = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()
    private val stageTag = new java.util.concurrent.ConcurrentHashMap[Int, String]()
    private val bySteps = scala.collection.mutable.LinkedHashMap[String, StepTotals]()
    private def step(tag: String)(f: StepTotals => Unit): Unit =
      bySteps.synchronized(f(bySteps.getOrElseUpdate(tag, new StepTotals)))
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs += 1
      val tag = Option(j.properties).flatMap(p => Option(p.getProperty(Steps.Key)))
        .getOrElse(Untagged)
      jobTag.put(j.jobId, (tag, j.time))
      j.stageIds.foreach(stageTag.putIfAbsent(_, tag))
      step(tag)(_.jobs += 1)
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case Steps.Span(path, ns) => step(path)(_.wallNs += ns)
      case _ =>
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(jobTag.get(j.jobId)).foreach { case (tag, t0) =>
        step(tag)(_.jobMs += j.time - t0)
      }
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      val prev = byStage.getOrDefault(s.stageInfo.stageId, ("", 0, 0L, 0L))
      byStage.put(s.stageInfo.stageId,
        (s.stageInfo.name, s.stageInfo.numTasks, prev._3, prev._4))
      step(stageTag.getOrDefault(s.stageInfo.stageId, Untagged)) { st =>
        st.stages += 1
        st.tasks += s.stageInfo.numTasks
      }
    }
    val gcMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val deserMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val fetchMs = new java.util.concurrent.atomic.AtomicLong(0L)
    val runMs = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onTaskEnd(t: SparkListenerTaskEnd): Unit =
      if (t.taskInfo != null) {
        taskTimeMs.addAndGet(t.taskInfo.duration)
        val cpu = if (t.taskMetrics != null) {
          gcMs.addAndGet(t.taskMetrics.jvmGCTime)
          deserMs.addAndGet(t.taskMetrics.executorDeserializeTime)
          runMs.addAndGet(t.taskMetrics.executorRunTime)
          if (t.taskMetrics.shuffleReadMetrics != null)
            fetchMs.addAndGet(t.taskMetrics.shuffleReadMetrics.fetchWaitTime)
          t.taskMetrics.executorCpuTime / 1000000L
        } else 0L
        byStage.merge(t.stageId, ("", 0, t.taskInfo.duration, cpu),
          (a, b) => (a._1, a._2, a._3 + b._3, a._4 + b._4))
        step(stageTag.getOrDefault(t.stageId, Untagged)) { st =>
          st.taskMs += t.taskInfo.duration
          st.cpuMs += cpu
        }
      }
    def reset(): Unit = {
      jobs = 0; stages = 0; tasks = 0; taskTimeMs.set(0L); byStage.clear()
      gcMs.set(0L); deserMs.set(0L); fetchMs.set(0L); runMs.set(0L)
      jobTag.clear(); stageTag.clear(); bySteps.synchronized(bySteps.clear())
    }
    def top(n: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      byStage.asScala.toSeq.sortBy(-_._2._3).take(n).map {
        case (id, (name, nt, ms, cpu)) =>
          f"    stage $id%4d ${ms / 1e3}%7.1f s (cpu ${cpu / 1e3}%7.1f s) " +
            f"$nt%4d tasks  ${name.take(90)}"
      }
    }
    /** One row per tag in first-seen order, then `(untagged)`. */
    def steps: Seq[String] = bySteps.synchronized {
      val untagged = bySteps.getOrElse(Untagged, new StepTotals)
      val header = f"    ${"step"}%-28s ${"jobs"}%5s ${"stages"}%6s ${"tasks"}%6s " +
        f"${"task_s"}%7s ${"cpu_s"}%7s ${"job_wall_s"}%10s ${"wall_s"}%7s"
      header +: (bySteps.toSeq.filter(_._1 != Untagged) :+ (Untagged -> untagged)).map {
        case (tag, t) =>
          f"    $tag%-28s ${t.jobs}%5d ${t.stages}%6d ${t.tasks}%6d " +
            f"${t.taskMs / 1e3}%7.2f ${t.cpuMs / 1e3}%7.2f ${t.jobMs / 1e3}%10.2f " +
            f"${t.wallNs / 1e9}%7.2f"
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSet
    val spark = Sessions.benchSession("graft-devjobs")
    try Bench.prebuild(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[devjobs] prebuild: $e") }
    val c = new Counter
    spark.sparkContext.addSparkListener(c)
    def drain(): Unit = org.apache.spark.sql.graftbridge.drainListenerBus(spark.sparkContext)
    Registry.all.filter(q => names.contains(q.name)).foreach { q =>
      (1 to reps).foreach { rep =>
        spark.catalog.clearCache()
        System.gc()
        drain() // events of the previous rep land before the reset
        c.reset()
        val compiles0 = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
        val t0 = System.nanoTime()
        val out = q.build(spark, sfDir)
        Steps.tag(spark, "sink") { out.write.format("noop").mode("overwrite").save() }
        val wall = (System.nanoTime() - t0) / 1e9
        val compiles = CodegenMetrics.METRIC_COMPILATION_TIME.getCount - compiles0
        drain()
        val tt = c.taskTimeMs.get() / 1e3
        println(f"[devjobs] ${q.name} rep$rep wall=$wall%.2f s " +
          f"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} compiles=$compiles " +
          f"taskTime=$tt%.1f s (avg ${
            if (c.tasks > 0) tt * 1000 / c.tasks else 0.0}%.1f ms/task) " +
          f"run=${c.runMs.get() / 1e3}%.1f gc=${c.gcMs.get() / 1e3}%.1f " +
          f"deser=${c.deserMs.get() / 1e3}%.1f fetchWait=${c.fetchMs.get() / 1e3}%.1f")
        if (rep == reps) {
          c.top(12).foreach(println)
          c.steps.foreach(println)
        }
      }
    }
    spark.stop()
  }
}
