package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** A span of the trace tree run → pass → operation → job → stage.
  * Times are epoch milliseconds, the clock Spark stamps its events with.
  */
final case class Span(id: String, parent: String, kind: String, name: String,
                      startMs: Long, endMs: Long)

/** Executor-side totals of the tasks of one pass. */
final class TaskTotals {
  var tasks, failures = 0L
  var taskMs, cpuNs, gcMs, deserMs, schedMs, fetchMs = 0L
  var shuffleWriteB, shuffleReadB, spillB, scanB, outputB = 0L
}

/** Spark, SQL and streaming listeners that the benchmark registers
  * itself. Events are buffered as they arrive and summarised once per
  * pass, after the listener bus has drained.
  */
final class Recorder extends SparkListener {
  private final case class JobEv(id: Int, startMs: Long, endMs: Long, stageIds: Seq[Int])
  private final case class StageEv(id: Int, name: String, submitMs: Long, endMs: Long)
  private final case class TaskEv(stageId: Int, ok: Boolean, durMs: Long, cpuNs: Long, gcMs: Long,
                                  deserMs: Long, schedMs: Long, fetchMs: Long, shW: Long,
                                  shR: Long, spill: Long, scan: Long, out: Long)
  private final case class BatchEv(triggerMs: Long, planMs: Long, addBatchMs: Long, walMs: Long)

  private val jobStarts = new ConcurrentLinkedQueue[(Int, Long, Seq[Int])]()
  private val jobEnds = new ConcurrentLinkedQueue[(Int, Long)]()
  private val stages = new ConcurrentLinkedQueue[StageEv]()
  private val tasks = new ConcurrentLinkedQueue[TaskEv]()
  private val planMs = new java.util.concurrent.atomic.AtomicLong(0L)
  private val batches = new ConcurrentLinkedQueue[BatchEv]()

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobStarts.add((e.jobId, e.time, e.stageIds))
  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobEnds.add((e.jobId, e.time))
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    stages.add(StageEv(i.stageId, i.name, i.submissionTime.getOrElse(0L),
      i.completionTime.getOrElse(0L)))
  }
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val info = e.taskInfo
    val m = e.taskMetrics
    if (info != null) {
      val ok = e.reason == org.apache.spark.Success
      if (m == null) tasks.add(TaskEv(e.stageId, ok, info.duration, 0, 0, 0, 0, 0, 0, 0, 0, 0, 0))
      else {
        val sched = math.max(0L, info.duration - m.executorDeserializeTime -
          m.executorRunTime - m.resultSerializationTime - info.gettingResultTime)
        tasks.add(TaskEv(e.stageId, ok, info.duration, m.executorCpuTime, m.jvmGCTime,
          m.executorDeserializeTime, sched, m.shuffleReadMetrics.fetchWaitTime,
          m.shuffleWriteMetrics.bytesWritten, m.shuffleReadMetrics.totalBytesRead,
          m.diskBytesSpilled, m.inputMetrics.bytesRead, m.outputMetrics.bytesWritten))
      }
    }
  }

  val sqlListener: QueryExecutionListener = new QueryExecutionListener {
    private def add(qe: QueryExecution): Unit =
      planMs.addAndGet(qe.tracker.phases.values.map(p => p.endTimeMs - p.startTimeMs).sum)
    override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = add(qe)
    override def onFailure(f: String, qe: QueryExecution, ex: Exception): Unit = add(qe)
  }

  val streamListener: StreamingQueryListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val d = e.progress.durationMs
      def g(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches.add(BatchEv(g("triggerExecution"), g("queryPlanning"), g("addBatch"), g("walCommit")))
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(this)
    spark.listenerManager.register(sqlListener)
    spark.streams.addListener(streamListener)
  }

  def detach(spark: SparkSession): Unit = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(this)
    spark.listenerManager.unregister(sqlListener)
    spark.streams.removeListener(streamListener)
  }

  /** Summarises and clears the buffered events of one pass. Every job is
    * attributed to the operation whose window contains its start: the
    * operations run one at a time, so the windows do not overlap.
    */
  def summarise(spark: SparkSession, passId: String, ops: Seq[OpWindow]): PassTrace = {
    org.apache.spark.perfbench.BusDrain(spark.sparkContext)
    def drain[T](q: ConcurrentLinkedQueue[T]): Seq[T] = {
      val b = Seq.newBuilder[T]
      var x = q.poll()
      while (x != null) { b += x; x = q.poll() }
      b.result()
    }
    val ends = drain(jobEnds).toMap
    val jobs = drain(jobStarts).map { case (id, t, st) => JobEv(id, t, ends.getOrElse(id, t), st) }
    val stageEvs = drain(stages)
    val taskEvs = drain(tasks)
    val batchEvs = drain(batches)
    val plan = planMs.getAndSet(0L)

    val stageJob = mutable.Map[Int, Int]()
    jobs.sortBy(_.id).foreach(j => j.stageIds.foreach(s => stageJob.getOrElseUpdate(s, j.id)))
    val tasksByStage = taskEvs.groupBy(_.stageId).view.mapValues(_.size).toMap
    val opOfJob = jobs.flatMap { j =>
      ops.indices.find(i => j.startMs >= ops(i).startMs && j.startMs <= ops(i).endMs).map(j.id -> _)
    }.toMap

    val spans = Seq.newBuilder[Span]
    val opStats = ops.zipWithIndex.map { case (o, i) =>
      val opId = s"$passId/op$i"
      spans += Span(opId, passId, "operation", s"${o.module}.${o.name}", o.startMs, o.endMs)
      val mine = jobs.filter(j => opOfJob.get(j.id).contains(i))
      // union of the op's job intervals, clipped to its window
      var covered = 0L; var reach = o.startMs
      mine.map(j => (math.max(j.startMs, o.startMs), math.min(j.endMs, o.endMs)))
        .sortBy(_._1).foreach { case (s, e) =>
          val s1 = math.max(s, reach)
          if (e > s1) { covered += e - s1; reach = e }
        }
      mine.foreach(j => spans += Span(s"$opId/job${j.id}", opId, "job", s"job ${j.id}", j.startMs, j.endMs))
      val myStages = stageJob.collect { case (s, jid) if mine.exists(_.id == jid) => s }.toSet
      stageEvs.filter(s => myStages.contains(s.id)).foreach { s =>
        spans += Span(s"$opId/job${stageJob(s.id)}/stage${s.id}", s"$opId/job${stageJob(s.id)}",
          "stage", s.name, s.submitMs, s.endMs)
      }
      val busyS = math.min(covered / 1000.0, o.wallS)
      OpTrace(o.module, o.name, o.wallS, mine.size, myStages.toSeq.map(tasksByStage.getOrElse(_, 0)).sum,
        busyS, o.wallS - busyS)
    }
    val t = new TaskTotals
    taskEvs.foreach { e =>
      t.tasks += 1; if (!e.ok) t.failures += 1
      t.taskMs += e.durMs; t.cpuNs += e.cpuNs; t.gcMs += e.gcMs; t.deserMs += e.deserMs
      t.schedMs += e.schedMs; t.fetchMs += e.fetchMs; t.shuffleWriteB += e.shW
      t.shuffleReadB += e.shR; t.spillB += e.spill; t.scanB += e.scan; t.outputB += e.out
    }
    PassTrace(opStats, jobs.size, jobs.size - opOfJob.size, stageEvs.size, t, plan / 1000.0,
      batchEvs.size, batchEvs.map(_.triggerMs).sum / 1000.0, batchEvs.map(_.planMs).sum / 1000.0,
      batchEvs.map(_.addBatchMs).sum / 1000.0, batchEvs.map(_.walMs).sum / 1000.0, spans.result())
  }
}

/** One operation's time window, in epoch ms, and its measured wall time. */
final case class OpWindow(module: String, name: String, startMs: Long, endMs: Long, wallS: Double)

final case class OpTrace(module: String, name: String, wallS: Double, jobs: Int, tasks: Int,
                         jobBusyS: Double, gapS: Double)

/** One traced pass; `unattributed` counts jobs that started outside every
  * operation's window.
  */
final case class PassTrace(ops: Seq[OpTrace], jobs: Int, unattributed: Int, stages: Int,
                           tasks: TaskTotals,
                           planS: Double, batches: Int, triggerS: Double, streamPlanS: Double,
                           addBatchS: Double, walS: Double, spans: Seq[Span])

/** Process-level readings: file operations, JVM GC, memory, load. */
object Probes {
  final case class Fs(readOps: Long, writeOps: Long, bytesRead: Long, bytesWritten: Long) {
    def -(o: Fs): Fs = Fs(readOps - o.readOps, writeOps - o.writeOps,
      bytesRead - o.bytesRead, bytesWritten - o.bytesWritten)
  }

  /** Operations from [[CountingLocalFs]]; bytes from Hadoop's statistics,
    * summed over every FileSystem class registered for the `file` scheme.
    */
  def fs(): Fs = {
    val st = org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").toSeq
    Fs(CountingLocalFs.reads.get, CountingLocalFs.writes.get,
      st.map(_.getBytesRead).sum, st.map(_.getBytesWritten).sum)
  }

  /** The 1-minute load average. */
  def loadAvg(): Double = {
    val src = scala.io.Source.fromFile("/proc/loadavg")
    try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
  }

  def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ >= 0).sum

  /** Heap in use after a full collection, and non-heap in use, in MiB. */
  def liveMb(): (Double, Double) = {
    System.gc()
    val mx = java.lang.management.ManagementFactory.getMemoryMXBean
    (mx.getHeapMemoryUsage.getUsed / 1048576.0, mx.getNonHeapMemoryUsage.getUsed / 1048576.0)
  }

  /** A /proc/self/status field in MiB (VmRSS, VmHWM). */
  def statusMb(key: String): Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith(key + ":") => l.trim.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(0.0)
    finally src.close()
  }
}
