package graft

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** Per-lane A/B timer and scheduler-overhead profile — counts Spark jobs,
  * stages and tasks for one registry-lane execution and compares the
  * executor-side task time against the lane's wall-clock, so the
  * optimization round can tell COMPUTE-bound lanes (task time ≈ wall ×
  * cores in use) from OVERHEAD-bound lanes (wall ≫ task time / width:
  * the cost is driver-side planning + AQE stage materialization +
  * scheduling latency, and the lever is fewer actions/stages, not
  * faster kernels).
  *
  * Usage: runMain graft.DevJobs <sfDir> <reps> <lane> [<lane>...]
  * Artifacts are pre-built untimed by [[Bench.prebuild]]; each rep
  * clears the cache like Bench reps do and prints its wall time, so
  * interleaving two arms' runs on one box gives a per-lane A/B.
  */
object DevJobs {
  final class Counter extends SparkListener {
    @volatile var jobs = 0
    @volatile var stages = 0
    @volatile var tasks = 0
    val taskTimeMs = new java.util.concurrent.atomic.AtomicLong(0L)
    // per-stage totals keyed by (stageId): (name, tasks, taskMs, cpuMs)
    val byStage = new java.util.concurrent.ConcurrentHashMap[
      Int, (String, Int, Long, Long)]()
    override def onJobStart(j: SparkListenerJobStart): Unit = jobs += 1
    override def onStageCompleted(s: SparkListenerStageCompleted): Unit = {
      stages += 1
      tasks += s.stageInfo.numTasks
      val prev = byStage.getOrDefault(s.stageInfo.stageId, ("", 0, 0L, 0L))
      byStage.put(s.stageInfo.stageId,
        (s.stageInfo.name, s.stageInfo.numTasks, prev._3, prev._4))
      ()
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
        ()
      }
    def reset(): Unit = {
      jobs = 0; stages = 0; tasks = 0; taskTimeMs.set(0L); byStage.clear()
      gcMs.set(0L); deserMs.set(0L); fetchMs.set(0L); runMs.set(0L)
    }
    def top(n: Int): Seq[String] = {
      import scala.jdk.CollectionConverters._
      byStage.asScala.toSeq.sortBy(-_._2._3).take(n).map {
        case (id, (name, nt, ms, cpu)) =>
          f"    stage $id%4d ${ms / 1e3}%7.1f s (cpu ${cpu / 1e3}%7.1f s) " +
            f"$nt%4d tasks  ${name.take(90)}"
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val reps = args(1).toInt
    val names = args.drop(2).toSet
    val spark = Sessions.benchSession("graft-devjobs")
    spark.sparkContext.setLogLevel("WARN")
    try Bench.prebuild(spark, sfDir)
    catch { case e: Throwable => System.err.println(s"[devjobs] prebuild: $e") }
    val c = new Counter
    spark.sparkContext.addSparkListener(c)
    Registry.all.filter(q => names.contains(q.name)).foreach { q =>
      (1 to reps).foreach { rep =>
        spark.catalog.clearCache()
        System.gc()
        // let queued listener events from the previous rep drain
        Thread.sleep(300)
        c.reset()
        val t0 = System.nanoTime()
        q.build(spark, sfDir).write.format("noop").mode("overwrite").save()
        val wall = (System.nanoTime() - t0) / 1e9
        Thread.sleep(300) // drain
        val tt = c.taskTimeMs.get() / 1e3
        println(f"[devjobs] ${q.name} rep$rep wall=$wall%.2f s " +
          f"jobs=${c.jobs} stages=${c.stages} tasks=${c.tasks} " +
          f"taskTime=$tt%.1f s (avg ${
            if (c.tasks > 0) tt * 1000 / c.tasks else 0.0}%.1f ms/task) " +
          f"run=${c.runMs.get() / 1e3}%.1f gc=${c.gcMs.get() / 1e3}%.1f " +
          f"deser=${c.deserMs.get() / 1e3}%.1f fetchWait=${c.fetchMs.get() / 1e3}%.1f")
        if (rep == reps) c.top(12).foreach(println)
      }
    }
    spark.stop()
  }
}
