package graft

import java.util.Properties
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.concurrent.Await
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite

/** [[Steps]] tags:
  *  1. a job inside nested tags carries `outer/inner`, and the
  *     property is restored after the block and after an exception;
  *  2. Futures run one after the other on the checkpoint pool (reused
  *     threads) carry their own tag, not the thread's stale one;
  *  3. a tag set inside a foreachBatch body leaves the stream's job
  *     group alone, so `query.stop()` still cancels the batch's job;
  *  4. a tag whose body runs no Spark job still gets its timed row in
  *     `DevJobs`' per-step table.
  */
class StepsSpec extends AnyFunSuite with SparkTestBase {
  private def drain(): Unit =
    org.apache.spark.sql.graftbridge.drainListenerBus(spark.sparkContext)

  private def tagOf(p: Properties): String =
    Option(p).map(_.getProperty(Steps.Key)).orNull

  /** The properties of every job `f` launched. */
  private def jobProps(f: => Any): Seq[Properties] = {
    val seen = new ConcurrentLinkedQueue[Properties]()
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        seen.add(j.properties); ()
      }
    }
    drain()
    spark.sparkContext.addSparkListener(l)
    try {
      f
      drain()
      seen.asScala.toSeq
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("nested tags join with '/' and restore after the block and after an exception") {
    val sc = spark.sparkContext
    assert(sc.getLocalProperty(Steps.Key) == null)
    val props = jobProps {
      Steps.tag(spark, "outer") {
        Steps.tag(spark, "inner") { spark.range(10).count() }
        assert(sc.getLocalProperty(Steps.Key) == "outer")
      }
    }
    assert(props.nonEmpty)
    assert(props.map(tagOf).distinct == Seq("outer/inner"))
    assert(sc.getLocalProperty(Steps.Key) == null)

    Steps.tag(spark, "outer") {
      intercept[IllegalStateException] {
        Steps.tag(spark, "inner") { throw new IllegalStateException("boom") }
      }
      assert(sc.getLocalProperty(Steps.Key) == "outer")
    }
    intercept[IllegalStateException] {
      Steps.tag(spark, "outer") { throw new IllegalStateException("boom") }
    }
    assert(sc.getLocalProperty(Steps.Key) == null)
  }

  test("Futures on the checkpoint pool carry their own tag, not a stale one") {
    implicit val ec: scala.concurrent.ExecutionContext = ops.PipelineOps.checkpointEc
    // a pool thread created during epoch1 inherits its tag; when the
    // second Future reuses it, only the value set inside the Future is
    // current
    val props = jobProps {
      Seq("epoch1", "epoch2").foreach { e =>
        Steps.tag(spark, e) {
          Await.result(Steps.future(spark, "admitted")(spark.range(5).collect()),
            Duration.Inf)
        }
      }
    }
    assert(props.map(tagOf).distinct == Seq("epoch1/admitted", "epoch2/admitted"))
    assert(spark.sparkContext.getLocalProperty(Steps.Key) == null)
  }

  test("a tag inside foreachBatch keeps the stream's job group, so stop() cancels the batch") {
    val dir = tempDir("graft_steps_stream")
    spark.range(0, 8).write.mode("overwrite").parquet(s"$dir/src")
    val started = new CountDownLatch(1)
    val ended = new CountDownLatch(1)
    @volatile var job: Option[(Int, Properties)] = None
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        if (tagOf(j.properties) == "batch" && job.isEmpty) {
          job = Some((j.jobId, j.properties))
          started.countDown()
        }
      override def onJobEnd(j: SparkListenerJobEnd): Unit =
        if (job.exists(_._1 == j.jobId)) ended.countDown()
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val q = spark.readStream.schema("id LONG").parquet(s"$dir/src")
        .writeStream
        .foreachBatch { (_: DataFrame, _: Long) =>
          Steps.tag(spark, "batch") {
            // one task that runs until the job is cancelled (bounded)
            spark.sparkContext.parallelize(Seq(1), 1).foreach { _ =>
              val t0 = System.nanoTime()
              while (!org.apache.spark.TaskContext.get().isInterrupted() &&
                  System.nanoTime() - t0 < 120L * 1000000000L)
                Thread.sleep(50)
            }
          }
        }
        .start()
      assert(started.await(60, TimeUnit.SECONDS), "the batch job never started")
      val props = job.get._2
      assert(props.getProperty("spark.jobGroup.id") == q.runId.toString,
        "the tag clobbered the stream's job group")
      val t0 = System.nanoTime()
      q.stop()
      assert(!q.isActive)
      assert(ended.await(60, TimeUnit.SECONDS),
        "stop() did not cancel the tagged batch job")
      assert((System.nanoTime() - t0) / 1e9 < 60.0)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a tag whose body runs no job gets a DevJobs row with its wall time") {
    val c = new DevJobs.Counter
    drain()
    spark.sparkContext.addSparkListener(c)
    try {
      Steps.tag(spark, "commit") { Thread.sleep(20) }
      Steps.tag(spark, "outer") { Steps.tag(spark, "commit") { () } }
      drain()
    } finally spark.sparkContext.removeSparkListener(c)
    assert(c.jobs == 0)
    val rows = c.steps.drop(1).map(_.trim.split("\\s+").toSeq)
    val byTag = rows.map(r => r.head -> r).toMap
    assert(byTag.keySet == Set("commit", "outer", "outer/commit", "(untagged)"), rows)
    assert(byTag("commit")(1) == "0", "a jobless step has no jobs")
    assert(byTag("commit").last.toDouble >= 0.02, s"wall_s of a 20 ms body: ${byTag("commit")}")
    assert(byTag("outer").last.toDouble >= byTag("outer/commit").last.toDouble)
  }
}
