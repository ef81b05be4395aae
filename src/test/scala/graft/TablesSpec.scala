package graft

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.TimestampType
import org.scalatest.funsuite.AnyFunSuite

/** The input memo of [[Tables.table]]: a table resolves once per
  * session, resolves again when its files change, and every call is an
  * independent relation.
  */
class TablesSpec extends AnyFunSuite with SparkTestBase {

  /** `f`'s result and the number of Spark jobs it started. */
  private def jobsStarted[A](f: => A): (A, Int) = {
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    spark.sparkContext.addSparkListener(l)
    try {
      val a = f
      org.apache.spark.sql.graftbridge.drainListenerBus(spark.sparkContext)
      (a, jobs.get)
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("a second Tables.lineitem call starts no Spark job") {
    // the control: a bare read runs Parquet's schema-merge job
    val (_, bare) = jobsStarted(spark.read.parquet(s"$sf/lineitem.parquet"))
    assert(bare > 0, "a bare parquet read started no job: the counter sees nothing")
    Tables.lineitem(spark, sf)
    val (df, again) = jobsStarted(Tables.lineitem(spark, sf))
    assert(again == 0, s"a resolved table started $again jobs")
    assert(df.count() == spark.read.parquet(s"$sf/lineitem.parquet").count())
  }

  test("a rewritten table resolves again and returns the new rows") {
    val d = tempDir("graft_tables")
    val file = d.resolve("nation.parquet")
    Files.copy(Paths.get(s"$sf/nation.parquet"), file)
    def keys(): Seq[Long] =
      Tables.nation(spark, d.toString).select(col("n_nationkey").cast("long"))
        .collect().map(_.getLong(0)).sorted.toSeq
    assert(keys() == (0L until 25L))
    assert(jobsStarted(Tables.nation(spark, d.toString))._2 == 0)

    // new length: fewer rows
    val staged = d.resolve("_staged")
    spark.read.parquet(s"$sf/nation.parquet").filter(col("n_nationkey") < 5)
      .coalesce(1).write.parquet(staged.toString)
    val part = staged.toFile.listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.move(part.toPath, file, StandardCopyOption.REPLACE_EXISTING)
    assert(keys() == (0L until 5L))

    // same bytes, new mtime: resolved again (the schema job runs)
    Files.setLastModifiedTime(file, java.nio.file.attribute.FileTime.fromMillis(
      Files.getLastModifiedTime(file).toMillis - 60000L))
    val (_, jobs) = jobsStarted(Tables.nation(spark, d.toString))
    assert(jobs > 0, "a table with a new mtime was served from the memo")
    assert(keys() == (0L until 5L))
  }

  test("two reads of one table in a join are distinct sides with the plain-read answer") {
    val (n1, n2) = (Tables.nation(spark, sf), Tables.nation(spark, sf))
    val ids1 = n1.queryExecution.analyzed.output.map(_.exprId).toSet
    val ids2 = n2.queryExecution.analyzed.output.map(_.exprId).toSet
    assert(ids1.intersect(ids2).isEmpty, s"shared attribute ids ${ids1.intersect(ids2)}")
    def pairs(a: DataFrame, b: DataFrame): Seq[(String, String)] =
      a.as("n1").join(b.as("n2"),
          col("n1.n_regionkey") === col("n2.n_regionkey") &&
            col("n1.n_nationkey") < col("n2.n_nationkey"))
        .select(col("n1.n_name"), col("n2.n_name"))
        .collect().map(r => (r.getString(0), r.getString(1))).sorted.toSeq
    val plain = () => spark.read.parquet(s"$sf/nation.parquet")
    val got = pairs(n1, n2)
    assert(got.nonEmpty)
    assert(got == pairs(plain(), plain()))
  }

  test("Tables.events has one ts type whatever was resolved before it") {
    // fresh sessions: nothing memoized; each inherits the factory's
    // nanosAsLong, so no read order can change the inferred ts type
    val first = spark.newSession()
    val direct = Tables.events(first, sf).schema("ts").dataType
    val second = spark.newSession()
    Tables.lineitem(second, sf)
    Tables.table(second, sf, "events") // the raw relation, before normalizeEventsTs
    val after = Tables.events(second, sf).schema("ts").dataType
    assert(direct == TimestampType)
    assert(after == direct)
    assert(Tables.events(spark, sf).schema("ts").dataType == direct)
  }
}
