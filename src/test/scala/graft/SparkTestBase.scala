package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.{BeforeAndAfterAll, Suite}

/** One shared SparkSession for the whole test run (per-suite sessions
  * thrash codegen caches and dominate test time). It is the bench
  * session of [[Sessions]] pinned to 4 cores, so the tests run the plans
  * Bench times: the extension rules, the split rule, the AQE floor and
  * the static codegen settings (`CodegenCacheSpec`).
  */
object TestSession {
  lazy val spark: SparkSession = Sessions.benchSession("graft-tests", cpus = 4)

  val Sf = "/root/testdata/sf0.001"
}

trait SparkTestBase extends BeforeAndAfterAll { this: Suite =>
  lazy val spark: SparkSession = TestSession.spark
  def sf: String = TestSession.Sf

  private val tempDirs = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A new empty directory under the JVM temp dir, deleted with all its
    * contents when the suite ends.
    */
  def tempDir(prefix: String): java.nio.file.Path = tempDirs.synchronized {
    val dir = java.nio.file.Files.createTempDirectory(prefix)
    tempDirs += dir
    dir
  }

  override protected def afterAll(): Unit =
    try tempDirs.synchronized(tempDirs.foreach(Fixtures.clearDir))
    finally super.afterAll()

  /** Runs `f` with the given session confs set, then restores them. */
  def withConf[A](pairs: (String, String)*)(f: => A): A =
    Sessions.withConf(spark, pairs: _*)(f)

  /** `f`'s result and the file bytes its tasks read (summed task
    * `inputMetrics.bytesRead`).
    */
  def taskBytesRead[A](f: => A): (A, Long) = {
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.inputMetrics.bytesRead)
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.sql.graftbridge.drainListenerBus(spark.sparkContext)
      (a, bytes.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }
}
