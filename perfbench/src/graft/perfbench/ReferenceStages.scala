package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The paper's workload: an A3-shaped diabetes table (FIXTURES.md, nine
  * numeric columns), generated from the seed as a headed CSV the way
  * `graft.ScaleSmoke` generates it, then the reference stages in the
  * paper's order — read (sampled-inference CSV via `sources.CsvIngest`),
  * write CSV, group, sort, filter, to_np — and the sort → filter →
  * group pipeline of the Rust harness, once lazy (one fused plan) and
  * once eager (each step materialised), on the loaded table.
  */
object ReferenceStages {
  /** A thirtieth of the paper's 30.3 M rows, so a run fits its time box. */
  val Rows = 1010000L
  val Stages: Seq[String] = Seq("read", "write", "group", "sort", "filter", "to_np",
    "lazy_pipeline", "eager_pipeline")
}

final class ReferenceStages(runDir: String, seed: Long, cores: Int) extends Main.Workload {
  import ReferenceStages._

  private val csv = s"$runDir/data/diabetes_csv"
  private val csvOut = s"$runDir/data/write_out"
  private var table: DataFrame = _
  override val inner: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap.empty
  def shuffled = false
  def warmupPasses = 3
  // flush dirty pages first, so the write stage's write-back does not
  // land in the next stage's time
  def beforeOp(s: SparkSession): Unit = new ProcessBuilder("sync").start().waitFor()

  private def pipeline(src: DataFrame): DataFrame =
    src.orderBy(col("Glucose")).filter(col("Glucose") > 100)
      .groupBy("Outcome").agg(avg("Age").as("age_mean"), avg("Glucose").as("glucose_mean"))
      .orderBy("Outcome")

  /** The pipeline with every step materialised before the next, its
    * result handed to `sink`.
    */
  private def eager[T](sink: DataFrame => T): T = {
    val sorted = table.orderBy(col("Glucose")).cache(); sorted.count()
    val filtered = sorted.filter(col("Glucose") > 100).cache(); filtered.count()
    try sink(filtered.groupBy("Outcome")
      .agg(avg("Age").as("age_mean"), avg("Glucose").as("glucose_mean")).orderBy("Outcome"))
    finally Seq(sorted, filtered).foreach(_.unpersist(blocking = true))
  }

  private def rows(df: DataFrame): Seq[Seq[Any]] =
    df.collect().map(r => Seq(r.get(0).toString, r.getDouble(1), r.getDouble(2))).toSeq

  def setup(s: SparkSession, setup: mutable.LinkedHashMap[String, Double]): Unit = {
    val t = System.nanoTime()
    val k = seed * 16
    s.range(0, Rows, 1, cores).select(
      (rand(k + 1) * 17).cast("int").as("Pregnancies"),
      (rand(k + 2) * 200).cast("int").as("Glucose"),
      (rand(k + 3) * 122).cast("int").as("BloodPressure"),
      (rand(k + 4) * 99).cast("int").as("SkinThickness"),
      (rand(k + 5) * 846).cast("int").as("Insulin"),
      round(rand(k + 6) * 67.1, 1).as("BMI"),
      round(rand(k + 7) * 2.42, 3).as("DiabetesPedigreeFunction"),
      (rand(k + 8) * 60 + 21).cast("int").as("Age"),
      (rand(k + 9) * 2).cast("int").as("Outcome"))
      .write.mode("overwrite").option("header", "true").csv(csv)
    // the in-memory table the later stages run on, as the reference
    // engines run them on an already-loaded frame
    table = graft.sources.CsvIngest.readInferFast(s, csv).cache()
    table.count()
    setup("datagen") = (System.nanoTime() - t) / 1e9
  }

  def ops(s: SparkSession): Seq[Main.Op] = {
    def op(name: String)(f: => Unit) = Main.Op("stages", name, () => f)
    Seq(
      op("read") {
        val t = System.nanoTime()
        val df = graft.sources.CsvIngest.readInferFast(s, csv)
        inner("sources.CsvIngest") = (System.nanoTime() - t) / 1e9
        Main.force(df)
      },
      op("write")(table.write.mode("overwrite").option("header", "true").csv(csvOut)),
      op("group")(Main.force(table.groupBy("Outcome").agg(avg("Glucose").as("mean_glucose")))),
      op("sort")(Main.force(table.orderBy(col("Age").desc))),
      op("filter")(Main.force(table.filter(col("Glucose") > 100))),
      op("to_np")(Main.force(table.select(
        array(table.columns.toIndexedSeq.map(c => col(c).cast("double")): _*).as("vec")))),
      op("lazy_pipeline")(Main.force(pipeline(table))),
      op("eager_pipeline")(eager(Main.force)))
  }

  /** Spark's side of the output check; run.py compares it with DuckDB
    * over the same CSV.
    */
  override def checks(s: SparkSession): Map[String, Any] = {
    val read = graft.sources.CsvIngest.readInferFast(s, csv)
    val sorted = table.orderBy(col("Age").desc)
    // per sorted partition: (index, rows, first, last, ordered within)
    val parts = sorted.select("Age").rdd.mapPartitionsWithIndex { (i, it) =>
      val a = it.map(_.getInt(0)).toArray
      val ok = a.indices.drop(1).forall(j => a(j - 1) >= a(j))
      if (a.isEmpty) Iterator.empty else Iterator((i, a.length, a.head, a.last, ok))
    }.collect().sortBy(_._1)
    val ordered = parts.forall(_._5) &&
      parts.sliding(2).forall(p => p.length < 2 || p(0)._4 >= p(1)._3)
    def means(df: DataFrame) = df.collect().map(r => r.get(0).toString -> r.getDouble(1)).toMap
    val np = table.select(
      array(table.columns.toIndexedSeq.map(c => col(c).cast("double")): _*).as("vec"))
    Map(
      "rows" -> Rows,
      "read_rows" -> read.count(),
      "read_schema" -> read.schema.fields.map(f => f.name -> f.dataType.simpleString).toMap,
      "write_rows" -> s.read.option("header", "true").csv(csvOut).count(),
      "group_mean_glucose" -> means(table.groupBy("Outcome").agg(avg("Glucose"))),
      "sort_rows" -> parts.map(_._2.toLong).sum,
      "sort_ordered" -> ordered,
      "sort_first_age" -> parts.headOption.map(_._3).getOrElse(-1),
      "sort_last_age" -> parts.lastOption.map(_._4).getOrElse(-1),
      "filter_rows" -> table.filter(col("Glucose") > 100).count(),
      "to_np_width" -> np.select(size(col("vec"))).distinct().collect().map(_.getInt(0)).toSeq,
      "to_np_rows" -> np.count(),
      "lazy_pipeline" -> rows(pipeline(table)),
      "eager_pipeline" -> eager(rows),
      "csv" -> csv)
  }
}
