package graft.perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.{ops => o, streaming => st, Q}

/** Registry-lane workloads over the fixed tables in `dataDir`.
  *
  *  - `registry_lanes`: a fixed cross-section of the registry, one lane
  *    from each ops module but `PipelineOps`, sized so a run fits about
  *    a minute.
  *  - `relational_lanes`: every lane of the eight relational modules.
  *  - `corpus_pipeline`: every lane of the six corpus modules, after the
  *    session-artifact builders.
  *
  * Set-up writes each lane's output once (the check pass, which is also
  * the first JIT warm-up) for the DuckDB comparison; timed passes force
  * each lane into the noop sink, in an order the seed shuffles.
  */
object Lanes {
  val Relational: Seq[(String, Seq[Q])] = Seq(
    "ops.CoreOps" -> o.CoreOps.queries, "ops.JoinOps" -> o.JoinOps.queries,
    "ops.TpchOps" -> o.TpchOps.queries, "ops.TpchOps2" -> o.TpchOps2.queries,
    "ops.SurfaceOps" -> o.SurfaceOps.queries, "ops.AdvancedOps" -> o.AdvancedOps.queries,
    "ops.EventOps" -> o.EventOps.queries, "ops.IncrementalOps" -> o.IncrementalOps.queries)
  val Corpus: Seq[(String, Seq[Q])] = Seq(
    "ops.TextOps" -> o.TextOps.queries, "ops.DedupOps" -> o.DedupOps.queries,
    "ops.SimilarityOps" -> o.SimilarityOps.queries, "ops.MultimodalOps" -> o.MultimodalOps.queries,
    "ops.PipelineOps" -> o.PipelineOps.queries, "streaming.StreamingOps" -> st.StreamingOps.queries)

  /** The lanes of `registry_lanes`, by registry name: one from each
    * module but `PipelineOps`, so a pass stays near 7 s on a 4-core box.
    * Every `PipelineOps` lane needs session artifacts whose build would
    * add about 15 s to set-up; they run in `corpus_pipeline`.
    */
  val CrossSection: Seq[String] = Seq(
    "q01_scan_agg", "q22_tpch_q1", "q83_tpch_q14", "q110_tpch_q22", "q91_string_battery",
    "q55_tpch_q6", "q27_events_session", "q113_upsert", "q29_tokens", "q33_dedup_exact",
    "q179_index_layout", "q95_pcm_energy", "q41_stream_windowed")

  /** The session-artifact builders, in the order `graft.Bench` runs them. */
  val Builders: Seq[(String, (SparkSession, String) => Unit)] = Seq(
    "persistAdmissionIndex" -> ((s, d) => { o.PipelineOps.persistAdmissionIndex(s, d); () }),
    "sharedAudited" -> ((s, d) => { o.PipelineOps.sharedAudited(s, d).count(); () }),
    "sharedBaseIndex" -> ((s, d) => { o.PipelineOps.sharedBaseIndex(s, d).count(); () }),
    "benchGramSet" -> ((s, d) => { o.PipelineOps.benchGramSet(s, d); () }),
    "sharedSimTruth" -> ((s, d) => { o.SimilarityOps.sharedSimTruth(s, d).count(); () }),
    "sharedRawTrain" -> ((s, d) => { o.SimilarityOps.sharedRawTrain(s, d); () }),
    "sharedTrainedKit" -> ((s, d) => { o.SimilarityOps.sharedTrainedKit(s, d); () }),
    "stageSpiSlices" -> ((s, d) => { st.StreamingOps.stageSpiSlices(s, d); () }))

  def workload(name: String, dataDir: String, runDir: String,
               failures: mutable.Map[String, String]): Main.Workload = {
    val (lanes, builders) = name match {
      case "registry_lanes" =>
        val all = (Relational ++ Corpus).flatMap { case (m, qs) => qs.map(m -> _) }
        val byName = all.map(x => x._2.name -> x).toMap
        val missing = CrossSection.filterNot(byName.contains)
        require(missing.isEmpty, s"unknown lanes: ${missing.mkString(",")}")
        (CrossSection.map(byName), Seq.empty)
      case "relational_lanes" => (Relational.flatMap { case (m, qs) => qs.map(m -> _) }, Seq.empty)
      case "corpus_pipeline" => (Corpus.flatMap { case (m, qs) => qs.map(m -> _) }, Builders)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    new LaneWorkload(lanes, builders, dataDir, runDir, failures)
  }

  final class LaneWorkload(lanes: Seq[(String, Q)],
                           builders: Seq[(String, (SparkSession, String) => Unit)],
                           dataDir: String, runDir: String,
                           failures: mutable.Map[String, String]) extends Main.Workload {
    def shuffled = true
    /** One more pass after the check pass, which is the first warm-up. */
    def warmupPasses = 1
    def beforeOp(spark: SparkSession): Unit = spark.catalog.clearCache()

    def setup(spark: SparkSession, setup: mutable.LinkedHashMap[String, Double]): Unit = {
      builders.foreach { case (n, f) =>
        val t = System.nanoTime()
        try f(spark, dataDir)
        catch { case e: Throwable => failures.getOrElseUpdate(s"setup.$n", String.valueOf(e).take(300)) }
        setup(n) = (System.nanoTime() - t) / 1e9
      }
      // the check pass: every lane's output to parquet and the oracle SQL
      // to oracle_sql.json, as graft.Verify writes them, for the DuckDB
      // comparison; it doubles as the warm-up
      val t = System.nanoTime()
      val out = java.nio.file.Paths.get(runDir, "out")
      java.nio.file.Files.createDirectories(out)
      lanes.foreach { case (m, q) =>
        spark.catalog.clearCache()
        val t1 = System.nanoTime()
        try q.build(spark, dataDir).coalesce(1).write.mode("overwrite").parquet(s"$out/${q.name}")
        catch { case e: Throwable => failures.getOrElseUpdate(s"$m.${q.name}", String.valueOf(e).take(300)) }
        Main.log(f"check pass ${q.name} ${(System.nanoTime() - t1) / 1e9}%.3f s")
      }
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
        .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
      java.nio.file.Files.writeString(out.resolve("oracle_sql.json"), mapper.writeValueAsString(
        lanes.flatMap { case (_, q) => q.oracle.map(q.name -> _) }.toMap))
      setup("warmup") = (System.nanoTime() - t) / 1e9
    }

    def ops(spark: SparkSession): Seq[Main.Op] = lanes.map { case (m, q) =>
      Main.Op(m, q.name, () => Main.force(q.build(spark, dataDir)))
    }
  }
}
