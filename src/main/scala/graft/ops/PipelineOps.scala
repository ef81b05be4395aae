package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.functions.HashFns._
import graft.{Q, Steps, Tables}
import graft.io.{Layout, Snapshot}

/** q214: the END-TO-END curation pipeline composite.
  *
  * Every gate below exists as its own green lane — ingest (q194),
  * quality (q30), language-ID (q31), PII redaction (q61), near-dup
  * downweighting (q34's MinHash pairs + q146's weight discipline),
  * benchmark decontamination (q81), mixture reweighting (q139),
  * sequence packing (q72) and the dataset card (q181) — but separate
  * lanes never prove the gates COMPOSE: does the dedup weight survive
  * the mix reweight? does the pack respect the PII quarantine? does a
  * doc the quality gate dropped stay out of the contamination scan?
  * This lane chains them into one relation and emits a per-source
  * dataset card whose every column is a composition witness, checked
  * end-to-end by one DuckDB oracle:
  *
  *   ingest (the real q194 JSONL read path; the oracle starts from the
  *     parquet source of truth the fixture was staged from)
  *   -> g1 QUALITY: composite score (q30's exact formula) >= 0.35
  *   -> g2 LANG-ID: marker-prediction (q31's formula) != 'und'
  *   -> g3 PII: redact entities+emails (q61's rewrite); quarantine
  *        docs with >= PiiQuarantineAt matches — survivors carry the
  *        REDACTED text downstream (the pipeline trains on what the
  *        redaction left, so dedup fingerprints see it too)
  *   -> g4 NEAR-DUP DOWNWEIGHT: q34's banded MinHash pairs (est_j >=
  *        0.5) over the surviving redacted texts; each doc's group key
  *        is least(own id, min paired partner) — a SINGLE-HOP
  *        neighborhood key (one content exchange; full transitive
  *        closure is q58's lane) — and every member carries q146's
  *        weight floor(1e6 / group size)
  *   -> g5 DECONTAMINATE: benchmark = ORIGINAL text 8-grams of
  *        doc_id < BenchHoldout (the eval set as published — redaction
  *        placeholders must not HIDE real overlap, so the corpus side
  *        scans original text too); bench ids leave the training set
  *        here, and any survivor sharing a gram is dropped. Weights
  *        assigned at g4 are NOT re-normalized after these drops — a
  *        real pipeline's choice, and exactly the kind of cross-gate
  *        interaction the one-oracle check exists to pin
  *   -> g6 MIX REWEIGHT (q139's sqrt-temperature discipline) over the
  *        WEIGHTED token mass sum(n_tok * w_e6) — the dedup weights
  *        surviving into the mixture is the composition under test
  *   -> g7 PACK (q72's greedy per-source bins) over final survivors
  *        only — the pack respecting every upstream quarantine
  *   -> g8 DATASET CARD: one row per INGESTED source (sources gated to
  *        zero stay visible with zeroed columns), with per-gate drop
  *        counts, the kept-set doc_id checksum (proves identical SETS,
  *        not just counts), weighted mass, mixture allocation and pack
  *        bins.
  *
  * Scale shape: one corpus exchange for the MinHash bands (q34's),
  * one broadcast anti-join for the contamination drop (bench grams are
  * metadata-scale), map-side-combined per-source aggregates, and the
  * per-source pack window — no all-pairs, no corpus-side cross join.
  */
object PipelineOps {

  /** One daemon thread for overlapping a pair of independent
    * checkpoint jobs (guide §2.6) — the second job of the pair runs on
    * the caller's thread, so the pool never queues more than one job
    * per concurrent lane.
    */
  private[graft] lazy val checkpointEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-ckpt-overlap")
        t.setDaemon(true)
        t
      }))

  private[graft] val QualityMin = 0.35
  private[graft] val PiiQuarantineAt = 11
  private[graft] val BenchHoldout = 20L
  private[graft] val DecontamGram = 8
  private[graft] val PackBudget = 4096L
  private[graft] val MixBudgetTok = 1000000000L

  /** The surviving per-doc relation after every gate, with per-stage
    * flags — the spec surface (the registered lane aggregates it).
    * Returns (per-doc audit relation, the verified near-dup pair list
    * `nd` (a, b) — persisted; q218's takedown reuses it so a delete
    * never re-mines candidates — and handles to unpersist).
    */
  private[graft] def pipelineDocs(s: SparkSession, d: String)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    val d0 = CoreOps.jsonlDocs(s, d)
      .select(col("doc_id"), col("meta.source").as("source"), col("text"))
      .repartition(col("doc_id"))
    val toks = tokens(col("text"))
    val g1 = d0.withColumn("score", TextOps.scoreCol(toks))
    val g1k = g1.filter(col("score") >= QualityMin)
    val g2k = g1k.filter(TextOps.predCol(toks) =!= "und")
    val g3 = g2k.withColumn("n_red",
        (regexp_count(col("text"), lit(TextOps.EmailRe))
          + regexp_count(col("text"), lit(TextOps.EntityRe))).cast("long"))
      .withColumn("rtext",
        regexp_replace(regexp_replace(col("text"), TextOps.EntityRe, "[ENTITY]"),
          TextOps.EmailRe, "[EMAIL]"))
    val g3k = g3.filter(col("n_red") < PiiQuarantineAt)
      .select(col("doc_id"), col("source"), col("text"), col("rtext"))
      .persist()
    // g4: q34's banded MinHash pairs over the REDACTED survivors
    val sh = sigsOf(g3k).persist()
    val banded = bandedOf(sh)
    // hot-bucket bound (HashFns.capBanded): smaller-id side capped to
    // its bucket's BandBucketCap lowest doc_ids — no O(m²) bucket
    val pairs = capBanded(banded).as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b"))
      .distinct()
    val matches = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), _ + _)
    val nd = pairs
      .join(sh.select(col("doc_id").as("a"), col("sig").as("sig_a")), "a")
      .join(sh.select(col("doc_id").as("b"), col("sig").as("sig_b")), "b")
      .filter(matches.cast("double") / lit(MinhashK.toDouble) >= 0.5)
      .select("a", "b")
      .persist()
    val pmin = nd.select(col("a").as("doc_id"), col("b").as("p"))
      .unionByName(nd.select(col("b").as("doc_id"), col("a").as("p")))
      .groupBy("doc_id").agg(min(col("p")).as("pm"))
    val wG = Window.partitionBy("gkey")
    val g4w = g3k.join(pmin, Seq("doc_id"), "left")
      .withColumn("gkey", least(col("doc_id"), coalesce(col("pm"), col("doc_id"))))
      .withColumn("w_e6", floor(lit(1000000L) / count(lit(1)).over(wG)).cast("long"))
      .drop("pm")
    // g5: benchmark grams from the ORIGINAL corpus text (pre-gate)
    val bench = d0.filter(col("doc_id") < BenchHoldout)
      .select(tokens(col("text")).as("btoks"))
      .filter(size(col("btoks")) >= DecontamGram)
      .select(explode(hashedShingles(shingles(col("btoks"), DecontamGram))).as("g"))
      .distinct()
    val contam = g4w.filter(col("doc_id") >= BenchHoldout)
      .select(col("doc_id"), tokens(col("text")).as("ctoks"))
      .filter(size(col("ctoks")) >= DecontamGram)
      .select(col("doc_id"),
        explode(hashedShingles(shingles(col("ctoks"), DecontamGram))).as("g"))
      .join(broadcast(bench), "g")
      .select("doc_id").distinct()
    val audited = g4w
      .withColumn("is_bench", col("doc_id") < BenchHoldout)
      .join(contam.withColumn("is_contam", lit(true)), Seq("doc_id"), "left")
      .withColumn("is_contam", coalesce(col("is_contam"), lit(false)))
      .withColumn("n_tok", size(tokens(col("rtext"))).cast("long"))
    (audited, nd, Seq(g3k, sh, nd))
  }

  /** MinHash signatures of a (doc_id, …, rtext) relation — the same
    * fused-kernel pipeline q34 uses, over the redacted text.
    */
  private[graft] def sigsOf(docsIn: DataFrame): DataFrame =
    docsIn
      .select(col("doc_id"), tokens(col("rtext")).as("rtoks"))
      .filter(size(col("rtoks")) >= 3)
      .select(col("doc_id"), hashedShingles(shingles(col("rtoks"), 3)).as("sh"))
      .select(col("doc_id"),
        graft.expressions.MinHashSig.minhashSig(col("sh")).as("sig"))

  private[graft] def bandedOf(sigs: DataFrame): DataFrame = {
    val bandCols = array((0 until MinhashBands).map(b => bandKey(col("sig"), b)): _*)
    sigs.select(col("doc_id"), posexplode(bandCols).as(Seq("band", "key")))
  }

  /** [[bandedOf]] with the signature carried through the explode:
    * the dup checks rescore candidate pairs by signature
    * agreement, and re-attaching sigs through per-side joins cost two
    * extra join stages per check — carrying the (delta-scale) sig
    * array through the banded rows is strictly cheaper.
    */
  private[graft] def bandedWithSig(sigs: DataFrame): DataFrame = {
    val bandCols = array((0 until MinhashBands).map(b => bandKey(col("sig"), b)): _*)
    sigs.select(col("doc_id"), col("sig"),
      posexplode(bandCols).as(Seq("band", "key")))
  }

  /** The benchmark 8-gram set as a sorted literal array — the
    * decontamination reference every admission checks against.
    * Session-cached (the sharedBaseIndex discipline): the set is
    * a deterministic, metadata-scale artifact of the corpus (the
    * bounded BenchHoldout eval slice — a few thousand 60-bit longs at
    * any corpus size), and collecting it per pipelineIncrementFull
    * CALL — once each for q215/q217/q218, twice in q219 and three
    * times across q220's epochs — cost a distinct+collect job
    * (~0.4 s) each time. One compute per (session, corpus) serves
    * them all; outputs are bit-identical on hit or miss.
    */
  private[graft] def benchGramSet(s: SparkSession, d: String): Array[Long] =
    graft.SessionCache.cachedAs(s, "benchgrams",
        Seq(s"$d/documents.parquet")) {
      CoreOps.jsonlDocs(s, d)
        .select(col("doc_id"), col("text"))
        .filter(col("doc_id") < BenchHoldout)
        .select(tokens(col("text")).as("btoks"))
        .filter(size(col("btoks")) >= DecontamGram)
        .select(explode(hashedShingles(shingles(col("btoks"), DecontamGram)))
          .as("g"))
        .distinct().collect().map(_.getLong(0)).sorted
    }

  /** All four gate signals on a (doc_id, source, text) relation —
    * q215's delta chain (the base chain keeps its staged form in
    * [[pipelineDocs]]).
    */
  private[graft] def gateAudit(docsIn: DataFrame): DataFrame = {
    val toks = tokens(col("text"))
    docsIn
      .withColumn("score", TextOps.scoreCol(toks))
      .withColumn("lang_pred", TextOps.predCol(toks))
      .withColumn("n_red",
        (regexp_count(col("text"), lit(TextOps.EmailRe))
          + regexp_count(col("text"), lit(TextOps.EntityRe))).cast("long"))
      .withColumn("rtext",
        regexp_replace(regexp_replace(col("text"), TextOps.EntityRe, "[ENTITY]"),
          TextOps.EmailRe, "[EMAIL]"))
  }

  /** Session-shared audited relation (the whole gate chain's per-doc
    * outcome) PLUS the verified near-dup pair list — q214/q215/q218
    * derive IDENTICALLY from the same corpus, so the build is computed
    * once per (session, documents fingerprint) and checkpointed (the
    * cross-lane cache discipline; outputs bit-identical on hit or
    * miss). The pair list rides along because it is the EXPENSIVE
    * mined artifact (banded candidates + est_j verification): q218's
    * takedown recomputes group weights from `pairs minus pairs
    * touching a deleted doc` — a linear fold — instead of re-mining.
    */
  private[graft] def sharedAuditedAndPairs(
      s: SparkSession, d: String): (DataFrame, DataFrame) =
    graft.SessionCache.cachedAs(s, "pipeaudit",
        Seq(s"$d/documents.parquet")) {
      val (audited, nd, handles) = pipelineDocs(s, d)
      val outP = nd.localCheckpoint(true)
      val out = audited.localCheckpoint(true)
      handles.foreach(_.unpersist(false))
      (out, outP)
    }

  private[graft] def sharedAudited(s: SparkSession, d: String): DataFrame =
    sharedAuditedAndPairs(s, d)._1

  def pipelineComposite(s: SparkSession, d: String): DataFrame = {
    val d0 = Steps.tag(s, "read") { CoreOps.jsonlDocs(s, d) }
      .select(col("doc_id"), col("meta.source").as("source"), col("text"))
      .repartition(col("doc_id"))
      .persist()
    val toks = tokens(col("text"))
    val scored = d0.withColumn("score", TextOps.scoreCol(toks)).persist()
    val ing = d0.groupBy("source").agg(count(lit(1)).as("n_ingested"))
    val s1 = scored.filter(col("score") < QualityMin)
      .groupBy("source").agg(count(lit(1)).as("n1"))
    val s2 = scored.filter(col("score") >= QualityMin)
      .filter(TextOps.predCol(toks) === "und")
      .groupBy("source").agg(count(lit(1)).as("n2"))
    val s3 = scored.filter(col("score") >= QualityMin)
      .filter(TextOps.predCol(toks) =!= "und")
      .filter((regexp_count(col("text"), lit(TextOps.EmailRe))
        + regexp_count(col("text"), lit(TextOps.EntityRe))) >= PiiQuarantineAt)
      .groupBy("source").agg(count(lit(1)).as("n3"))
    val audited = sharedAudited(s, d)
    val s4 = audited.filter(col("w_e6") < 1000000L)
      .groupBy("source").agg(count(lit(1)).as("n4"))
    val s5b = audited.filter(col("is_bench"))
      .groupBy("source").agg(count(lit(1)).as("n5b"))
    val s5c = audited.filter(!col("is_bench") && col("is_contam"))
      .groupBy("source").agg(count(lit(1)).as("n5c"))
    val fin0 = audited.filter(!col("is_bench") && !col("is_contam")).persist()
    val fin = fin0.groupBy("source")
      .agg(count(lit(1)).as("n_final"),
           sum(col("doc_id")).as("kept_checksum"),
           sum(col("n_tok") * col("w_e6")).as("eff_tok_e6"))
      .withColumn("wq",
        floor(sqrt(col("eff_tok_e6").cast("double") / 1000000.0) * 1000000.0)
          .cast("long"))
    val wP = Window.partitionBy("source").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, 0)
    val pb = fin0
      .withColumn("running", sum(col("n_tok")).over(wP))
      .withColumn("bin", expr(s"(running - n_tok) div $PackBudget"))
      .groupBy("source")
      .agg((max(col("bin")) + 1L).as("n_bins"), sum(col("n_tok")).as("pack_tok"))
    val tot = fin.agg(sum(col("wq")).as("wq_tot"))
    val result = ing
      .join(s1, Seq("source"), "left").join(s2, Seq("source"), "left")
      .join(s3, Seq("source"), "left").join(s4, Seq("source"), "left")
      .join(s5b, Seq("source"), "left").join(s5c, Seq("source"), "left")
      .join(fin, Seq("source"), "left").join(pb, Seq("source"), "left")
      .crossJoin(broadcast(tot))
      .select(col("source"), col("n_ingested"),
        coalesce(col("n1"), lit(0L)).as("n_quality_dropped"),
        coalesce(col("n2"), lit(0L)).as("n_lang_dropped"),
        coalesce(col("n3"), lit(0L)).as("n_pii_quarantined"),
        coalesce(col("n4"), lit(0L)).as("n_dup_downweighted"),
        coalesce(col("n5b"), lit(0L)).as("n_bench_excluded"),
        coalesce(col("n5c"), lit(0L)).as("n_contam_dropped"),
        coalesce(col("n_final"), lit(0L)).as("n_final"),
        coalesce(col("kept_checksum"), lit(0L)).as("kept_checksum"),
        coalesce(col("eff_tok_e6"), lit(0L)).as("eff_tok_e6"),
        round(coalesce(col("wq"), lit(0L)).cast("double") / col("wq_tot"), 6)
          .as("mix_weight"),
        floor(lit(MixBudgetTok.toDouble) * coalesce(col("wq"), lit(0L))
          / col("wq_tot")).cast("long").as("alloc_tok"),
        coalesce(col("n_bins"), lit(0L)).as("n_bins"),
        coalesce(col("pack_tok"), lit(0L)).as("pack_tok"))
      .orderBy("source")
    val card = Steps.tag(s, "card") { result.localCheckpoint(true) }
    Seq(fin0, d0, scored).foreach(_.unpersist(false))
    card
  }

  /** The delta gate chain, `p`-prefixed so it composes next to the
    * base chain inside q215's oracle — SAME gate formulas as the base
    * chain below (one source of truth per gate lives in TextOps; this
    * generator only renames the CTEs).
    */
  private def gateChainSql(inCte: String, p: String): String = {
    val t = "string_split(text, ' ')"
    s"""${p}g1 AS (SELECT *, ${TextOps.scoreSql(t)} AS score FROM $inCte),
       |${p}g1k AS (SELECT * FROM ${p}g1 WHERE score >= $QualityMin),
       |${p}g2k AS (SELECT * FROM ${p}g1k WHERE ${TextOps.predSql(t)} <> 'und'),
       |${p}g3 AS (SELECT *,
       |   (len(regexp_extract_all(text, '${TextOps.EmailRe}'))
       |    + len(regexp_extract_all(text, '${TextOps.EntityRe}'))) AS n_red,
       |   regexp_replace(regexp_replace(text, '${TextOps.EntityRe}', '[ENTITY]', 'g'),
       |     '${TextOps.EmailRe}', '[EMAIL]', 'g') AS rtext
       |  FROM ${p}g2k),
       |${p}g3k AS MATERIALIZED (SELECT doc_id, source, text, rtext FROM ${p}g3
       |        WHERE n_red < $PiiQuarantineAt)""".stripMargin
  }

  /** `p`-prefixed shingle/signature/band chain over `inCte` (defaults
    * to `${p}g3k`; q215's delta chain reads its post-contamination
    * relation instead). sigs/banded are MATERIALIZED: both get
    * referenced by multiple downstream CTEs and DuckDB re-inlines
    * multi-referenced CTEs per reference.
    */
  private def sigChainSql(p: String, inCte: String = null): String = {
    val in = if (inCte == null) s"${p}g3k" else inCte
    val rt = "string_split(rtext, ' ')"
    val bands = (0 until MinhashBands)
      .map(b => s"SELECT doc_id, $b AS band, ${bandKeySql("sig", b)} AS key FROM ${p}sigs")
      .mkString("\n UNION ALL ")
    s"""${p}sh AS (SELECT doc_id, ${hashedShinglesSql(shinglesSql("rtoks", 3))} AS sh
       |       FROM (SELECT doc_id, $rt AS rtoks FROM $in)
       |       WHERE len(rtoks) >= 3),
       |${p}sigs AS MATERIALIZED (SELECT doc_id, ${minhashSigFromHashesSql("sh")} AS sig FROM ${p}sh),
       |${p}banded AS MATERIALIZED ($bands),
       |${p}bandedc AS (${capBandedSql(s"${p}banded")})""".stripMargin
  }

  private def estJSql(sx: String, sy: String): String =
    s"""CAST(list_sum(list_transform(range(1, ${MinhashK + 1}),
       |         i -> CASE WHEN $sx[i] = $sy[i] THEN 1 ELSE 0 END)) AS DOUBLE)
       |         / ${MinhashK.toDouble}""".stripMargin

  /** Shared chain prefix (d0 .. g5k, the curated final set) — the
    * q214 oracle's first half, reused verbatim as q215's base state
    * and, prefixed + corpus-filtered, as q218's from-scratch
    * re-curation twin.
    */
  private def chainPrefixSqlFor(p: String, docsWhere: String): String = {
    val t = "string_split(text, ' ')"
    s"""${p}d0 AS (SELECT doc_id, source, text FROM documents$docsWhere),
       |${gateChainSql(s"${p}d0", p)},
       |${sigChainSql(p)},
       |${p}pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |          FROM ${p}bandedc x JOIN ${p}banded y
       |            ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id),
       |${p}nd AS (SELECT a, b FROM ${p}pairs
       |       JOIN ${p}sigs sx ON sx.doc_id = ${p}pairs.a
       |       JOIN ${p}sigs sy ON sy.doc_id = ${p}pairs.b
       |       WHERE ${estJSql("sx.sig", "sy.sig")} >= 0.5),
       |${p}pmin AS (SELECT doc_id, MIN(p) AS pm FROM
       |          (SELECT a AS doc_id, b AS p FROM ${p}nd
       |           UNION ALL SELECT b, a FROM ${p}nd) GROUP BY doc_id),
       |${p}g4 AS (SELECT ${p}g3k.*, least(${p}g3k.doc_id,
       |         COALESCE(${p}pmin.pm, ${p}g3k.doc_id)) AS gkey
       |       FROM ${p}g3k LEFT JOIN ${p}pmin ON ${p}pmin.doc_id = ${p}g3k.doc_id),
       |${p}g4w AS MATERIALIZED (SELECT *, CAST(1000000 // (COUNT(*) OVER (PARTITION BY gkey))
       |          AS BIGINT) AS w_e6 FROM ${p}g4),
       |${p}bench AS MATERIALIZED (SELECT DISTINCT g FROM
       |           (SELECT unnest(${hashedShinglesSql(shinglesSql("btoks", DecontamGram))}) AS g
       |            FROM (SELECT $t AS btoks FROM ${p}d0 WHERE doc_id < $BenchHoldout)
       |            WHERE len(btoks) >= $DecontamGram)),
       |${p}contam AS (SELECT DISTINCT doc_id FROM
       |            (SELECT doc_id,
       |               unnest(${hashedShinglesSql(shinglesSql("ctoks", DecontamGram))}) AS g
       |             FROM (SELECT doc_id, $t AS ctoks FROM ${p}g4w
       |                   WHERE doc_id >= $BenchHoldout)
       |             WHERE len(ctoks) >= $DecontamGram) gg
       |           JOIN ${p}bench USING (g)),
       |${p}g5k AS MATERIALIZED (SELECT * FROM ${p}g4w WHERE doc_id >= $BenchHoldout
       |        AND doc_id NOT IN (SELECT doc_id FROM ${p}contam))""".stripMargin
  }

  private val chainPrefixSql: String = chainPrefixSqlFor("", "")

  private[graft] val pipelineCompositeSql: String = {
    val t = "string_split(text, ' ')"
    val rt = "string_split(rtext, ' ')"
    s"""WITH $chainPrefixSql,
       |ing AS (SELECT source, COUNT(*) AS n_ingested FROM d0 GROUP BY source),
       |s1 AS (SELECT source, COUNT(*) AS n1 FROM g1 WHERE score < $QualityMin
       |       GROUP BY source),
       |s2 AS (SELECT source, COUNT(*) AS n2 FROM g1k
       |       WHERE ${TextOps.predSql(t)} = 'und' GROUP BY source),
       |s3 AS (SELECT source, COUNT(*) AS n3 FROM g3 WHERE n_red >= $PiiQuarantineAt
       |       GROUP BY source),
       |s4 AS (SELECT source, COUNT(*) AS n4 FROM g4w WHERE w_e6 < 1000000
       |       GROUP BY source),
       |s5b AS (SELECT source, COUNT(*) AS n5b FROM g4w WHERE doc_id < $BenchHoldout
       |        GROUP BY source),
       |s5c AS (SELECT g4w.source, COUNT(*) AS n5c FROM g4w JOIN contam USING (doc_id)
       |        WHERE g4w.doc_id >= $BenchHoldout GROUP BY g4w.source),
       |fin AS (SELECT source, COUNT(*) AS n_final,
       |          CAST(SUM(doc_id) AS BIGINT) AS kept_checksum,
       |          CAST(SUM(CAST(len($rt) AS BIGINT) * w_e6) AS BIGINT) AS eff_tok_e6
       |        FROM g5k GROUP BY source),
       |w AS (SELECT *, CAST(floor(sqrt(CAST(eff_tok_e6 AS DOUBLE) / 1000000.0)
       |        * 1000000.0) AS BIGINT) AS wq FROM fin),
       |tot AS (SELECT CAST(SUM(wq) AS BIGINT) AS wq_tot FROM w),
       |pk AS (SELECT source, doc_id, CAST(len($rt) AS BIGINT) AS n_tok FROM g5k),
       |pr AS (SELECT source, n_tok, SUM(n_tok) OVER (PARTITION BY source
       |         ORDER BY doc_id ROWS UNBOUNDED PRECEDING) AS running FROM pk),
       |pb AS (SELECT source, CAST(MAX((running - n_tok) // $PackBudget) + 1 AS BIGINT)
       |          AS n_bins,
       |        CAST(SUM(n_tok) AS BIGINT) AS pack_tok FROM pr GROUP BY source)
       |SELECT ing.source, ing.n_ingested,
       |  COALESCE(s1.n1, 0) AS n_quality_dropped,
       |  COALESCE(s2.n2, 0) AS n_lang_dropped,
       |  COALESCE(s3.n3, 0) AS n_pii_quarantined,
       |  COALESCE(s4.n4, 0) AS n_dup_downweighted,
       |  COALESCE(s5b.n5b, 0) AS n_bench_excluded,
       |  COALESCE(s5c.n5c, 0) AS n_contam_dropped,
       |  COALESCE(fin.n_final, 0) AS n_final,
       |  COALESCE(fin.kept_checksum, 0) AS kept_checksum,
       |  COALESCE(fin.eff_tok_e6, 0) AS eff_tok_e6,
       |  round(CAST(COALESCE(w.wq, 0) AS DOUBLE) / tot.wq_tot, 6) AS mix_weight,
       |  CAST(floor($MixBudgetTok.0 * COALESCE(w.wq, 0) / tot.wq_tot) AS BIGINT)
       |    AS alloc_tok,
       |  COALESCE(pb.n_bins, 0) AS n_bins,
       |  COALESCE(pb.pack_tok, 0) AS pack_tok
       |FROM ing
       |LEFT JOIN s1 USING (source) LEFT JOIN s2 USING (source)
       |LEFT JOIN s3 USING (source) LEFT JOIN s4 USING (source)
       |LEFT JOIN s5b USING (source) LEFT JOIN s5c USING (source)
       |LEFT JOIN fin USING (source) LEFT JOIN w USING (source)
       |LEFT JOIN pb USING (source)
       |CROSS JOIN tot
       |ORDER BY ing.source""".stripMargin
  }

  // ---- q215: INCREMENTAL composite — the daily-ingest shape of q214
  //      (the q137 discipline lifted to the WHOLE gate chain): a new
  //      batch lands against an already-curated corpus, runs the same
  //      quality / lang-ID / PII gates, decontaminates against the
  //      same benchmark grams, and is then ADMITTED against the base
  //      corpus's fingerprint index (delta x index banded join — at
  //      100 TB that index is the persisted artifact; per ingest the
  //      cost is linear in the batch, never the corpus) plus a
  //      within-batch self-check. Delta fixture is closed-form in both
  //      engines: a near-dup variant ('delta ' prepended — every
  //      original 3-shingle survives, so est_j stays high) of every
  //      doc_id % 5 == 0 doc, plus an exact re-submission of every
  //      doc_id % 7 == 3 doc. Classification buckets are DISJOINT in
  //      pipeline order (gates -> contamination -> dup-vs-base ->
  //      dup-within-batch -> admitted), so per-source conservation
  //      holds and the card is a complete admission audit. ----
  private val DeltaNearOffset = 1000000L
  private val DeltaCopyOffset = 2000000L
  private val DeltaRevAOffset = 3000000L
  private val DeltaRevBOffset = 4000000L

  /** The closed-form delta batch over the ingested corpus. Three
    * branches, each exercising a different admission bucket:
    *  - a 'delta '-prefixed NEAR-DUP variant of every doc_id % 5 == 0
    *    doc (every original 3-shingle survives -> caught vs the base
    *    index when the original is in the final set);
    *  - an exact RE-SUBMISSION of every doc_id % 7 == 3 doc;
    *  - TWO REVERSED-TOKEN copies of every doc_id % 11 == 1 doc — the
    *    within-batch twins: score/lang/PII are token-ORDER-INVARIANT
    *    (so the twins pass the gates iff the original does), reversed
    *    3-shingles are disjoint from every forward shingle in the
    *    base index (no dup-vs-base), and the twins match each other
    *    exactly — the larger id lands in dup_within, the smaller is
    *    admitted. Without this branch dup_within is structurally dead:
    *    variants of FINAL docs classify dup-vs-base first, and copies
    *    of gate-dropped docs fail the same gates their original did.
    */
  /** Smallest spacing between the synthetic-branch id offsets (the
    * delta branches sit 1 M apart). Both engine and oracle share the
    * offset constants, so an id-range overflow would alias branches
    * SILENTLY with no oracle signal: assert headroom
    * loudly at lane entry instead. One metadata-scale agg job.
    */
  private[graft] val MinOffsetSpacing = 1000000L

  // memoized by the input's FULL canonicalized plan + bound + site
  // label, so 'lazy' plan sweeps stop paying a corpus-column scan per
  // lane invocation. The key is structural plan equality, not a
  // 32-bit semanticHash, whose collision would silently skip the
  // guard; the handful of distinct corpus plans per JVM makes holding
  // them as keys free. Same corpus => same canonicalized plan =>
  // one job per JVM; a localCheckpointed input (epoch admissions,
  // whose rows genuinely change run-to-run) is a fresh plan each run
  // and correctly re-asserts.
  private val headroomChecked = new scala.collection.concurrent.TrieMap[
    (org.apache.spark.sql.catalyst.plans.logical.LogicalPlan, Long, String),
    Boolean]()

  private def assertIdHeadroom(df: DataFrame, bound: Long, where: String): Unit = {
    val key = (df.queryExecution.logical.canonicalized, bound, where)
    headroomChecked.getOrElseUpdate(key, {
      val r = df.agg(max(col("doc_id"))).head()
      if (!r.isNullAt(0))
        require(r.getLong(0) < bound,
          s"$where: max(doc_id)=${r.getLong(0)} >= offset spacing $bound — " +
            "synthetic id branches would alias silently; regenerate with " +
            "larger offsets or a smaller corpus")
      true
    })
    ()
  }

  private[graft] def deltaBatch(d0: DataFrame): DataFrame = {
    assertIdHeadroom(d0, MinOffsetSpacing, "deltaBatch")
    val rev = concat_ws(" ", reverse(split(col("text"), " ")))
    // ONE pass over the corpus instead of a 4-branch union: each
    // doc emits the branch rows it matches via a map-side explode —
    // identical row multiset (a doc matching several branch predicates
    // emits one row per match, exactly as the union did), but the d0
    // cache is scanned once instead of four times and the delta keeps
    // d0's partition count instead of stacking 4x partitions into
    // every downstream stage of the admission chain (measured: the
    // union shape ran the whole gate/sig chain as 128 ~20-doc tasks
    // whose duration was ~4x their CPU time — pure per-task overhead).
    def branch(pred: Column, off: Long, text: Column) =
      when(pred, struct((col("doc_id") + off).as("doc_id"),
        col("source").as("source"), text.as("text")))
    d0.select(explode(array(
        branch(col("doc_id") % 5 === 0, DeltaNearOffset,
          concat(lit("delta "), col("text"))),
        branch(col("doc_id") % 7 === 3, DeltaCopyOffset, col("text")),
        branch(col("doc_id") % 11 === 1, DeltaRevAOffset, rev),
        branch(col("doc_id") % 11 === 1, DeltaRevBOffset, rev))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
              col("r.text").as("text"))
  }

  /** Session-shared MinHash index over the curated final set — the
    * artifact q215's admission probes (and the thing a deployment
    * persists between ingests).
    */
  private[graft] def sharedBaseIndex(s: SparkSession, d: String): DataFrame =
    graft.SessionCache.cachedAs(s, "pipebsig",
        Seq(s"$d/documents.parquet")) {
      val audited = sharedAudited(s, d)
      sigsOf(audited.filter(!col("is_bench") && !col("is_contam"))
        .select("doc_id", "rtext")).localCheckpoint(true)
    }

  // ---- q217: the PERSISTED admission index — the
  //      q179 on-disk discipline applied to the TEXT side. q215/q216's
  //      own docs call the curated-base MinHash fingerprint index "the
  //      persisted artifact at 100 TB", yet until this lane it lived
  //      only in the session cache: a restart re-fingerprinted the
  //      corpus. Here the banded index is WRITTEN partitioned by
  //      pb = band * KeyBuckets + hash(key) % KeyBuckets (each row
  //      carries its doc's full signature inline, so one pruned fetch
  //      answers both candidate lookup and the est_j verification —
  //      no second corpus-side join), and a delta probe reads ONLY its
  //      candidate buckets back through a partition-PRUNED FileScan.
  //      At 100 TB: KeyBuckets scales to thousands, an ingest batch
  //      touches the buckets its own keys hash into, and the probe's
  //      bucket list is metadata-scale (bounded by bands x buckets and
  //      by 4 x batch rows, whichever is smaller). Compaction = fold
  //      newly-admitted signatures into exactly the touched buckets,
  //      committed as the layout's next log entry (graft.io.Layout) —
  //      untouched buckets are never read OR rewritten
  //      (AdmissionIndexSpec proves fold == rebuild byte-for-byte on
  //      row sets and that only touched buckets change). The lane itself is q215's admission run THROUGH the
  //      disk index — same card, same oracle, verbatim. ----
  /** Key buckets per band, CORPUS-SCALED (a fixed count would be the
    * last scale constant in the index layout): one bucket per ~2500
    * indexed docs, floor 8, cap 4096. The divisor is deliberately
    * COARSE: below ~20k docs more buckets only multiply small-file
    * opens (measured: a /250 ladder WORSENED the 10x-docs decade,
    * 1.70x -> 1.79x — every probe at toy scale spans all buckets
    * anyway), while at deployment scale the cap dominates and a batch
    * touches the buckets its own keys hash into. The CHOSEN value is
    * part of the on-disk artifact (recorded as `kb` in every log
    * entry, read back by every probe/fold/delete) — pb values are
    * meaningless without it.
    */
  private[graft] def bucketsFor(nDocs: Long): Int =
    math.min(4096, math.max(8, math.ceil(nDocs / 2500.0).toInt))

  private[graft] def pbCol(band: Column, key: Column, kb: Int): Column =
    band.cast("long") * kb + pmod(xxhash64(key), lit(kb.toLong))

  /** Banded index rows with the signature INLINE: (doc_id, sig, band,
    * key, pb). Inline sigs trade bands x sig storage for a one-fetch
    * probe — the candidate join and the est_j check read the same
    * pruned rows, which is the difference between one and two index
    * round-trips per ingest at scale.
    */
  private[graft] def indexRowsOf(sigs: DataFrame, kb: Int): DataFrame = {
    val bandCols = array((0 until MinhashBands).map(b => bandKey(col("sig"), b)): _*)
    sigs.select(col("doc_id"), col("sig"),
        posexplode(bandCols).as(Seq("band", "key")))
      .withColumn("pb", pbCol(col("band"), col("key"), kb))
  }

  private[graft] def admissionIndexDir(d: String): String =
    s"${System.getProperty("java.io.tmpdir")}/graft_admidx_" +
      java.lang.Integer.toHexString(d.hashCode)

  /** Write an admission index of `sigs` as a new layout at `root` under
    * bucket count `kb`, recorded in its log entry — shared by the
    * fixture build and the specs' twin layouts (the maintenance ops go
    * through fold/delete, which preserve kb).
    */
  private[graft] def writeAdmissionIndex(
      sigs: DataFrame, root: String, kb: Int): Unit = {
    Layout.create(root,
      indexRowsOf(sigs, kb).repartition(col("pb"))
        .sortWithinPartitions("pb", "band", "key", "doc_id"),
      "pb", Map("kb" -> kb.toString))
    ()
  }

  /** The bucket count a snapshot of an admission index was laid out
    * with — the probe must bucket its keys with the INDEX's kb, not a
    * recomputed one (an index built at a different corpus size has a
    * different kb).
    */
  private[graft] def indexBuckets(idx: Snapshot): Int = idx.meta("kb").toInt

  /** Fixture marker version: bump when the layout scheme changes so a
    * stale tmp index from an older round regenerates.
    */
  private val IdxLayoutV = "admidx-v3:coarse-bucket-ladder"

  /** Build (idempotently, marker-keyed on the corpus + layout version)
    * the on-disk admission index of the q214-curated final set: one
    * writer task per bucket, rows clustered (band, key, doc_id) so
    * each posting run is contiguous. Returns the directory.
    */
  private[graft] def persistAdmissionIndex(s: SparkSession, d: String): String = {
    val dir = admissionIndexDir(d)
    graft.Fixtures.staged(java.nio.file.Paths.get(dir), s"$d/documents.parquet", IdxLayoutV) {
      val sigs = sharedBaseIndex(s, d)
      writeAdmissionIndex(sigs, dir, bucketsFor(sigs.count()))
    }
    dir
  }

  /** Clone-free entry into mutations over the pristine persisted index:
    * a run-local fork of it (graft.io.Layout.fork). Every fold and
    * takedown writes the fork's root only; untouched buckets keep
    * resolving into the base, which no code path writes. Returns the
    * fork's root.
    */
  private[graft] def forkIndex(s: SparkSession, d: String, tag: String): String =
    Steps.tag(s, "overlay") {
      val root = s"${System.getProperty("java.io.tmpdir")}/graft_admov_${tag}_" +
        java.lang.Integer.toHexString(d.hashCode)
      Layout.fork(Layout.snapshot(persistAdmissionIndex(s, d)), root)
      root
    }

  /** The pruned probe: dup-vs-base doc_ids of `dSigs` against the
    * on-disk index. The delta's candidate buckets are collected
    * driver-side (metadata-scale: <= MinhashBands * kb values
    * regardless of batch size) and opened DIRECTLY (targeted listing
    * + partition filter) — PlanShapeSpec fences that the store
    * FileScan actually prunes on pb, AdmissionIndexSpec that the
    * files-read metric is exactly the candidate buckets. Semantics ==
    * the in-memory dvb join, which is what lets q217 share q215's
    * oracle verbatim.
    */
  private[graft] def probeAdmissionIndex(
      s: SparkSession, root: String, dSigs: DataFrame): DataFrame = {
    // delta sigs ride the banded probe rows: the store side
    // already carries its signature inline, so est_j verification
    // reads both sigs off the candidate row — no re-attach join
    val dBand = bandedWithSig(dSigs)
    val idx = probeBandedIndex(s, root, dBand)
    val matches = aggregate(
      zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
      lit(0L), _ + _)
    dBand.as("x").join(idx.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key"))
      .select(col("x.doc_id").as("a"), col("x.sig").as("sig_a"),
              col("y.doc_id").as("b"), col("y.sig").as("sig_b"))
      .dropDuplicates("a", "b")
      .filter(matches.cast("double") / lit(MinhashK.toDouble) >= 0.5)
      .select(col("a").as("doc_id")).distinct()
  }

  /** The probe's capped, pruned, sig-carrying banded STORE side — the
    * candidate relation [[probeAdmissionIndex]] joins, split out so
    * admissions can UNION it with the within-delta side and pay one
    * candidate join for both dup checks. `dBandS` carries
    * (doc_id, sig, band, key) — [[bandedWithSig]]'s shape.
    *
    * The delta's candidate buckets are collected driver-side
    * (metadata-scale: <= MinhashBands * kb values regardless of batch
    * size) and opened DIRECTLY from the latest log entry (targeted
    * listing + partition filter). The hot-bucket cap ranks
    * over the bucket's full (band, key) membership — pb is a function
    * of (band, key), so every member of a touched bucket lands in an
    * opened pb dir AND survives the capBandedFor semi-join on the
    * delta's exact keys; the rank therefore equals the in-memory bBand
    * rank in pipelineIncrementFull's dup-vs-base arm, which is what
    * lets q217 share q215's oracle verbatim.
    */
  private[graft] def probeBandedIndex(
      s: SparkSession, root: String, dBandS: DataFrame): DataFrame = {
    val idx = Layout.snapshot(root)
    val dPb = dBandS.withColumn("pb", pbCol(col("band"), col("key"), indexBuckets(idx)))
    val pbs = dPb.select("pb").distinct()
      .collect().map(_.getLong(0)).sorted.toSeq
    capBandedFor(idx.open(s, pbs), dPb)
      .select("doc_id", "sig", "band", "key")
  }

  /** Fold newly-admitted signatures into an EXISTING on-disk admission
    * index without a rebuild (q182's compaction for the text side):
    * only the fold's touched pb buckets are read back and rewritten,
    * and committed as the index's next log entry; untouched buckets
    * are never opened. Returns the touched bucket ids (spec surface).
    */
  private[graft] def foldIntoAdmissionIndex(
      s: SparkSession, root: String, newSigs: DataFrame): Seq[Long] =
    Steps.tag(s, "fold") {
      val idx = Layout.snapshot(root)
      val kb = indexBuckets(idx) // folds PRESERVE the layout's kb
      val add = indexRowsOf(newSigs, kb).localCheckpoint(true)
      val touched = add.select("pb").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      val existing = idx.open(s, touched)
        .select("doc_id", "sig", "band", "key")
        .withColumn("pb", pbCol(col("band"), col("key"), kb))
      val merged = existing.unionByName(
          add.select("doc_id", "sig", "band", "key", "pb"))
        .repartition(col("pb"))
        .sortWithinPartitions("pb", "band", "key", "doc_id")
      Layout.rewrite(idx, merged, touched)
      touched
    }

  /** q217: q215's incremental admission with the dup-vs-base stage
    * served by the PERSISTED index — the restart story: nothing here
    * re-fingerprints the corpus once the index exists on disk.
    */
  def pipelineIncrementDisk(s: SparkSession, d: String): DataFrame = {
    val dir = persistAdmissionIndex(s, d)
    val (lazyResult, handles) = pipelineIncrementLazy(s, d,
      Some(dBandS => probeBandedIndex(s, dir, dBandS)))
    val result = Steps.tag(s, "card") { lazyResult.localCheckpoint(true) }
    handles.foreach(_.unpersist(false))
    result
  }

  def pipelineIncrement(s: SparkSession, d: String): DataFrame = {
    val (lazyResult, handles) = pipelineIncrementLazy(s, d)
    val result = Steps.tag(s, "card") { lazyResult.localCheckpoint(true) }
    handles.foreach(_.unpersist(false))
    result
  }

  /** The un-checkpointed admission card + the persisted handles to
    * release — the plan surface PlanShapeSpec fences (the dup-vs-base
    * stage must stay a (band, key) equi-join against the index).
    * `idxVia`, when set, supplies the dup-vs-base CANDIDATE side (the
    * capped banded index rows the delta's bands touch, sig riding)
    * from the delta's banded relation instead of the in-memory index
    * — q217 routes it through the PERSISTED on-disk index
    * ([[probeBandedIndex]]); everything else (gates, contamination,
    * within-batch check, card) is shared verbatim, which is why q217
    * can register q215's oracle unchanged.
    */
  private[graft] def pipelineIncrementLazy(
      s: SparkSession, d: String,
      idxVia: Option[DataFrame => DataFrame] = None,
      deltaOf: DataFrame => DataFrame = deltaBatch): (DataFrame, Seq[DataFrame]) = {
    val (card, _, handles) = pipelineIncrementFull(s, d, idxVia, deltaOf)
    (card, handles)
  }

  /** Unpersists the RDD a `localCheckpoint`ed relation reads. */
  private def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.logical match {
      case r: org.apache.spark.sql.execution.LogicalRDD => r.rdd.unpersist(false)
      case _ =>
    }

  /** [[pipelineIncrementLazy]] plus the ADMITTED relation — q219's
    * epoch-1 state: what an ingest run hands to the index fold. One
    * relation (doc_id, source, text, rtext, sig), so an epoch pays one
    * checkpoint of it; callers needing only the signatures project
    * them (`sig` is null exactly for the sub-3-token admitted docs).
    * The extra is lazy over the persisted handles; a caller that
    * needs it past release must checkpoint first. If the call throws,
    * it has released every handle it persisted before the failure
    * propagates.
    */
  private[graft] def pipelineIncrementFull(
      s: SparkSession, d: String,
      idxVia: Option[DataFrame => DataFrame] = None,
      deltaOf: DataFrame => DataFrame = deltaBatch)
      : (DataFrame, DataFrame, Seq[DataFrame]) = {
    // what this call has persisted so far: if one of its own jobs
    // (sigs, probe, the shared builds) throws, no caller holds the
    // handles, so they are released here before the failure propagates
    val persisted = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def held(df: DataFrame): DataFrame = { persisted += df; df }
    var sigs = Option.empty[DataFrame]
    try {
      // "delta" covers the build-time jobs: the corpus read's JSON schema
      // inference and, once per corpus, deltaBatch's id-headroom check
      val d0 = held(Steps.tag(s, "delta") { CoreOps.jsonlDocs(s, d) }
        .select(col("doc_id"), col("meta.source").as("source"), col("text"))
        .repartition(col("doc_id"))
        .persist())
      // the base curated state = q214's final survivor set (the session-
      // shared audited build); its fingerprint index is what a
      // deployment keeps on disk — shared too (a deployment never
      // re-fingerprints the corpus per ingest)
      val bSigs = sharedBaseIndex(s, d)
      val dAudit = held(Steps.tag(s, "delta") { gateAudit(deltaOf(d0)).persist() })
      // dg3k is single-consumer (the `clean` persist right below adds
      // one map-side column and caches), so its own persist would be a
      // pure extra materialization per admission
      val dg3k = dAudit
        .filter(col("score") >= QualityMin && col("lang_pred") =!= "und" &&
          col("n_red") < PiiQuarantineAt)
        .select("doc_id", "source", "text", "rtext")
      // contamination against the SAME benchmark grams (original text).
      // The benchmark gram set is metadata-scale by construction
      // (the BenchHoldout eval slice — bounded at any corpus size), so
      // it collects once per call and the per-doc check becomes a pure
      // map-side arrays_overlap against the literal set — replacing the
      // old explode -> broadcast join -> distinct -> left-join chain
      // (three jobs and a delta-gram shuffle) with zero extra stages.
      // Semantics identical: overlap(grams(doc), bench) == "shares at
      // least one 8-gram"; sub-8-token docs have an empty gram array
      // and overlap() is false, exactly as they produced no explode
      // rows before. (A benchmark suite too large to inline — far
      // beyond any real eval set — would fall back to the broadcast
      // semi-join form; the set here is a few thousand longs.)
      // Session-cached: one distinct+collect per (session, corpus)
      // instead of one per admission call (see benchGramSet)
      val benchGrams: Array[Long] = benchGramSet(s, d)
      val clean = held(dg3k
        // coalesce: arrays_overlap is null-propagating, and the old
        // join form mapped a (hypothetical) null text to not-contam —
        // keep that mapping explicit rather than letting a null ride
        // the downstream flag algebra
        .withColumn("is_contam",
          coalesce(arrays_overlap(
            hashedShingles(shingles(tokens(col("text")), DecontamGram)),
            lit(benchGrams)), lit(false)))
        .persist())
      val dcln = clean.filter(!col("is_contam"))
      val dSigs = Steps.tag(s, "sigs") { sigsOf(dcln).localCheckpoint(true) }
      sigs = Some(dSigs)
      val matches = aggregate(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => when(x === y, 1L).otherwise(0L)),
        lit(0L), _ + _)
      def estOk = matches.cast("double") / lit(MinhashK.toDouble) >= 0.5
      // BOTH dup checks as ONE candidate join: the dup-vs-base
      // side (the q137 asymmetry — the base contributes only its banded
      // index rows, never re-pairing itself) and the within-delta
      // smaller-id side union into one org-tagged candidate relation, so
      // the delta's banded rows pay one join, one (a, b, org) dedup and
      // one flag aggregate instead of two of each plus two flag joins.
      // Per-org semantics are those of two separate checks: each side
      // keeps its own hot-bucket cap (capBandedFor's broadcast-semi prefilter on the
      // base/index side — identical output, batch-proportional cost,
      // guide §3.2 — and capBanded on the delta side), the within pair
      // rule (x.doc_id > y.doc_id) applies only to org 'd' rows via the
      // join condition, sigs ride the banded rows (bandedWithSig)
      // so est_j reads both off the candidate row, and the (a, b, org)
      // dedup reproduces each check's independent (a, b) dedup (sig is
      // functionally determined by the doc id, so duplicates agree).
      val dBandS = bandedWithSig(dSigs)
      val bSide = (idxVia match {
        case Some(f) => Steps.tag(s, "probe") { f(dBandS) }
        case None =>
          capBandedFor(bandedWithSig(bSigs), dBandS)
            .select("doc_id", "sig", "band", "key")
      }).withColumn("org", lit("b"))
      val dSide = capBanded(dBandS)
        .select("doc_id", "sig", "band", "key")
        .withColumn("org", lit("d"))
      val cand = dBandS.as("x").join(bSide.unionByName(dSide).as("y"),
          col("x.band") === col("y.band") && col("x.key") === col("y.key") &&
            (col("y.org") === "b" || col("x.doc_id") > col("y.doc_id")))
        .select(col("x.doc_id").as("a"), col("x.sig").as("sig_a"),
                col("y.doc_id").as("b"), col("y.sig").as("sig_b"), col("y.org").as("org"))
        .dropDuplicates("a", "b", "org")
        .filter(estOk)
      val dupFlags = cand.groupBy(col("a").as("doc_id"))
        .agg(max(col("org") === "b").as("f_dvb"),
             max(col("org") === "d").as("f_dwd"))
      val flagged = held(clean
        .join(dupFlags, Seq("doc_id"), "left")
        .withColumn("is_dvb", !col("is_contam") && coalesce(col("f_dvb"), lit(false)))
        .withColumn("is_dwd",
          !col("is_contam") && !col("is_dvb") && coalesce(col("f_dwd"), lit(false)))
        .drop("f_dvb", "f_dwd")
        .persist())
      // dataset card as ONE conditional aggregate: the per-gate
      // rollup used to run 8 separate groupBy(source) aggregates (ing +
      // z1..z6 + adm) stitched by a 7-way left join — measured at ~3 s
      // of the lane, all plan/shuffle overhead over a |sources|-row
      // result. The audit relation LEFT-joined to the flag columns
      // classifies every delta doc into exactly one gate bucket (the
      // same mutually-exclusive when-chain q216's verdict log uses), so
      // one groupBy(source) with sum(when(...)) columns produces the
      // identical card: audit rows == deltaOf(d0) rows (n_delta), the
      // g1-g3 predicates partition audit exactly as z1..z3 filtered,
      // and g4-g6/admitted come from the flags (null — never reached
      // g4 — coalesces to false, exactly the old join semantics).
      val gateOk = col("score") >= QualityMin && col("lang_pred") =!= "und" &&
        col("n_red") < PiiQuarantineAt
      val admitted = gateOk && !coalesce(col("is_contam"), lit(false)) &&
        !coalesce(col("is_dvb"), lit(false)) && !coalesce(col("is_dwd"), lit(false))
      val result = dAudit
        .join(flagged.select("doc_id", "is_contam", "is_dvb", "is_dwd"),
          Seq("doc_id"), "left")
        .groupBy("source")
        .agg(count(lit(1)).as("n_delta"),
          sum(when(col("score") < QualityMin, 1L).otherwise(0L))
            .as("n_quality_dropped"),
          sum(when(col("score") >= QualityMin && col("lang_pred") === "und", 1L)
            .otherwise(0L)).as("n_lang_dropped"),
          sum(when(col("score") >= QualityMin && col("lang_pred") =!= "und" &&
            col("n_red") >= PiiQuarantineAt, 1L).otherwise(0L))
            .as("n_pii_quarantined"),
          sum(when(coalesce(col("is_contam"), lit(false)), 1L).otherwise(0L))
            .as("n_contam_dropped"),
          sum(when(coalesce(col("is_dvb"), lit(false)), 1L).otherwise(0L))
            .as("n_dup_vs_base"),
          sum(when(coalesce(col("is_dwd"), lit(false)), 1L).otherwise(0L))
            .as("n_dup_within"),
          sum(when(admitted, 1L).otherwise(0L)).as("n_admitted"),
          sum(when(admitted, col("doc_id")).otherwise(0L))
            .as("admitted_checksum"),
          sum(when(admitted, size(tokens(col("rtext"))).cast("long"))
            .otherwise(0L)).as("admitted_tok"))
        .orderBy("source")
      // the admitted relation with the signature riding along (LEFT
      // join: sub-3-token admitted docs have no signature row — the old
      // separate sigs relation inner-joined them away, so `sig IS NULL`
      // marks exactly those docs for callers that fold signatures)
      val admittedRel = flagged
        .filter(!col("is_contam") && !col("is_dvb") && !col("is_dwd"))
        .select("doc_id", "source", "text", "rtext")
        .join(dSigs, Seq("doc_id"), "left")
      // audited is the session-shared checkpoint — NOT unpersisted here
      (result, admittedRel, Seq(dAudit, clean, flagged, d0))
    } catch {
      case e: Throwable =>
        persisted.foreach(_.unpersist(false))
        sigs.foreach(releaseCheckpoint)
        throw e
    }
  }

  // ---- q218: TAKEDOWN through the CURATION composite — the
  //      right-to-be-forgotten path: a deterministic delete
  //      set (doc_id % 17 == 5, outside the benchmark holdout) is
  //      propagated through the CURATED corpus as one oracle-checked
  //      pipeline: (1) the docs leave the persisted admission index
  //      via q187-shaped TOMBSTONE deletes (a rewrite of ONLY
  //      the buckets their bands hash into — at 100 TB a takedown
  //      touches a handful of partitions, never the index);
  //      (2) group weights are RECOMPUTED from the session-shared
  //      near-dup pair list minus pairs touching a deleted doc — a
  //      linear fold over the cached mined artifact, no re-banding,
  //      no re-pairing, no re-fingerprinting; (3) the per-source card
  //      re-emits (final count, checksum, weighted mass, mixture);
  //      and (4) EVERY deleted doc is RE-SUBMITTED as a delta batch
  //      against the post-takedown state — the inverse of q215's
  //      always-rejected assertion: a deleted doc whose content no
  //      longer near-matches any remaining curated doc must be
  //      ADMITTED (the index honors the curated state both ways),
  //      while one that still matches a surviving near-dup partner is
  //      still rejected. Oracle = a FROM-SCRATCH re-curation of
  //      documents-minus-deletes (the prefixed chain generator) plus
  //      the q215 admission chain for the re-submissions — green
  //      means the targeted update is hash-indistinguishable from
  //      re-running the whole pipeline without the deleted docs. ----
  private[graft] val TakedownOffset = 5000000L

  /** The delete set: outside the bench holdout so the benchmark gram
    * set — an eval artifact, not training corpus — is invariant and
    * contamination flags need no recompute (the oracle's from-scratch
    * twin would otherwise cascade the gram change, which is a
    * different, rarer operation than a training-data takedown).
    */
  private[graft] def takedownPred(id: Column): Column =
    id % 17 === 5 && id >= BenchHoldout

  /** Every takedown-targeted doc re-submitted under a fresh id — the
    * gates re-drop the ones they always dropped; the interesting rows
    * are the formerly-FINAL docs now probing the tombstoned index.
    */
  private[graft] def takedownResubs(d0: DataFrame): DataFrame =
    d0.filter(takedownPred(col("doc_id")))
      .select((col("doc_id") + TakedownOffset).as("doc_id"), col("source"),
              col("text"))

  /** q187's tombstone shape for the admission index: remove
    * `delSigs`'s docs from the on-disk index by rewriting ONLY the
    * buckets their banded rows live in (derived from the signatures —
    * no index scan locates them), committed as the next log entry.
    * Returns touched bucket ids.
    */
  private[graft] def deleteFromAdmissionIndex(
      s: SparkSession, root: String, delSigs: DataFrame): Seq[Long] =
    Steps.tag(s, "tombstone") {
      val idx = Layout.snapshot(root)
      val kb = indexBuckets(idx) // deletes PRESERVE the layout's kb
      val delRows = indexRowsOf(delSigs, kb).localCheckpoint(true)
      val touched = delRows.select("pb").distinct()
        .collect().map(_.getLong(0)).sorted.toSeq
      if (touched.nonEmpty) {
        val del = delRows.select("doc_id").distinct()
        val remaining = idx.open(s, touched)
          .select("doc_id", "sig", "band", "key")
          .withColumn("pb", pbCol(col("band"), col("key"), kb))
          .join(broadcast(del), Seq("doc_id"), "left_anti")
          .repartition(col("pb"))
          .sortWithinPartitions("pb", "band", "key", "doc_id")
        Layout.rewrite(idx, remaining, touched)
      }
      touched
    }

  /** Post-takedown serving state: the takedown set tombstoned out of a
    * run-local fork of the persisted index — the pristine base is never
    * opened for write and nothing is copied. Only the takedown's
    * touched buckets materialize in the fork. Returns the fork's root.
    */
  private[graft] def takedownIndex(s: SparkSession, d: String): String = {
    val idx = forkIndex(s, d, "td")
    deleteFromAdmissionIndex(s, idx,
      sharedBaseIndex(s, d).filter(takedownPred(col("doc_id"))))
    idx
  }

  def pipelineTakedown(s: SparkSession, d: String): DataFrame = {
    // 1-2. tombstone the on-disk index; re-submit every deleted doc
    //      through the full gate chain + admission against it
    val tdIdx = takedownIndex(s, d)
    val resubCard = Steps.tag(s, "resub") {
      val (resubCard0, handles) = pipelineIncrementLazy(s, d,
        Some(dBandS => probeBandedIndex(s, tdIdx, dBandS)), takedownResubs)
      val card = Steps.tag(s, "card") { resubCard0.localCheckpoint(true) }
      handles.foreach(_.unpersist(false))
      card
    }
    Steps.tag(s, "refold") {
      // 3. the post-takedown card: weights refold from the cached pair
      //    list (survivor pairs are identical in a from-scratch rerun —
      //    banding is per-doc, so no surviving pair appears or vanishes)
      val (audited, ndPairs) = sharedAuditedAndPairs(s, d)
      val del = takedownPred(col("doc_id"))
      val survivors = audited.filter(!del).drop("gkey", "w_e6")
      val ndLive = ndPairs.filter(
        !takedownPred(col("a")) && !takedownPred(col("b")))
      val pmin2 = ndLive.select(col("a").as("doc_id"), col("b").as("p"))
        .unionByName(ndLive.select(col("b").as("doc_id"), col("a").as("p")))
        .groupBy("doc_id").agg(min(col("p")).as("pm"))
      val wG = Window.partitionBy("gkey")
      val refreshed = survivors.join(pmin2, Seq("doc_id"), "left")
        .withColumn("gkey", least(col("doc_id"), coalesce(col("pm"), col("doc_id"))))
        .withColumn("w_e6", floor(lit(1000000L) / count(lit(1)).over(wG)).cast("long"))
      val finA = refreshed.filter(!col("is_bench") && !col("is_contam"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_final_after"),
             sum(col("doc_id")).as("kept_checksum_after"),
             sum(col("n_tok") * col("w_e6")).as("eff_tok_e6_after"))
        .withColumn("wq",
          floor(sqrt(col("eff_tok_e6_after").cast("double") / 1000000.0) * 1000000.0)
            .cast("long"))
      val taken = audited.filter(del && !col("is_bench") && !col("is_contam"))
        .groupBy("source").agg(count(lit(1)).as("n_taken_down"))
      val tot = finA.agg(sum(col("wq")).as("wq_tot"))
      val spine = CoreOps.jsonlDocs(s, d)
        .select(col("meta.source").as("source")).distinct()
      val result = spine
        .join(resubCard, Seq("source"), "left")
        .join(taken, Seq("source"), "left")
        .join(finA, Seq("source"), "left")
        .crossJoin(broadcast(tot))
        .select(col("source"),
          coalesce(col("n_delta"), lit(0L)).as("n_resub"),
          coalesce(col("n_quality_dropped"), lit(0L)).as("n_quality_dropped"),
          coalesce(col("n_lang_dropped"), lit(0L)).as("n_lang_dropped"),
          coalesce(col("n_pii_quarantined"), lit(0L)).as("n_pii_quarantined"),
          coalesce(col("n_contam_dropped"), lit(0L)).as("n_contam_dropped"),
          coalesce(col("n_dup_vs_base"), lit(0L)).as("n_dup_vs_base"),
          coalesce(col("n_dup_within"), lit(0L)).as("n_dup_within"),
          coalesce(col("n_admitted"), lit(0L)).as("n_readmitted"),
          coalesce(col("admitted_checksum"), lit(0L)).as("readmitted_checksum"),
          coalesce(col("admitted_tok"), lit(0L)).as("readmitted_tok"),
          coalesce(col("n_taken_down"), lit(0L)).as("n_taken_down"),
          coalesce(col("n_final_after"), lit(0L)).as("n_final_after"),
          coalesce(col("kept_checksum_after"), lit(0L)).as("kept_checksum_after"),
          coalesce(col("eff_tok_e6_after"), lit(0L)).as("eff_tok_e6_after"),
          round(coalesce(col("wq"), lit(0L)).cast("double") / col("wq_tot"), 6)
            .as("mix_weight_after"))
        .orderBy("source")
      result.localCheckpoint(true)
    }
  }

  private[graft] val pipelineTakedownSql: String = {
    val t = "string_split(text, ' ')"
    val rt = "string_split(rtext, ' ')"
    val tdWhere = s" WHERE NOT (doc_id % 17 = 5 AND doc_id >= $BenchHoldout)"
    s"""WITH ${chainPrefixSqlFor("t", tdWhere)},
       |rdelta AS (SELECT doc_id + $TakedownOffset AS doc_id, source, text
       |           FROM documents
       |           WHERE doc_id % 17 = 5 AND doc_id >= $BenchHoldout),
       |${gateChainSql("rdelta", "r")},
       |rcontam AS (SELECT DISTINCT doc_id FROM
       |            (SELECT doc_id,
       |               unnest(${hashedShinglesSql(shinglesSql("ctoks", DecontamGram))}) AS g
       |             FROM (SELECT doc_id, $t AS ctoks FROM rg3k)
       |             WHERE len(ctoks) >= $DecontamGram) gg
       |           JOIN tbench USING (g)),
       |rdcln AS MATERIALIZED (SELECT * FROM rg3k
       |        WHERE doc_id NOT IN (SELECT doc_id FROM rcontam)),
       |${sigChainSql("r", "rdcln")},
       |tbsig AS MATERIALIZED (SELECT s.doc_id, s.sig FROM tsigs s
       |        JOIN tg5k USING (doc_id)),
       |tbband AS MATERIALIZED (SELECT b.doc_id, b.band, b.key FROM tbanded b
       |        JOIN tg5k USING (doc_id)),
       |rcvb AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |        FROM rbanded x JOIN (${capBandedSql("tbband")}) y
       |          ON x.band = y.band AND x.key = y.key),
       |rdvb AS MATERIALIZED (SELECT DISTINCT a AS doc_id FROM rcvb
       |       JOIN rsigs sx ON sx.doc_id = rcvb.a
       |       JOIN tbsig sy ON sy.doc_id = rcvb.b
       |       WHERE ${estJSql("sx.sig", "sy.sig")} >= 0.5),
       |rcwd AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |        FROM rbanded x JOIN rbandedc y
       |          ON x.band = y.band AND x.key = y.key AND x.doc_id > y.doc_id),
       |rdwd AS MATERIALIZED (SELECT DISTINCT a AS doc_id FROM rcwd
       |       JOIN rsigs sx ON sx.doc_id = rcwd.a
       |       JOIN rsigs sy ON sy.doc_id = rcwd.b
       |       WHERE ${estJSql("sx.sig", "sy.sig")} >= 0.5
       |         AND a NOT IN (SELECT doc_id FROM rdvb)),
       |radm AS (SELECT * FROM rdcln
       |        WHERE doc_id NOT IN (SELECT doc_id FROM rdvb)
       |          AND doc_id NOT IN (SELECT doc_id FROM rdwd)),
       |ring AS (SELECT source, COUNT(*) AS n_resub FROM rdelta GROUP BY source),
       |rz1 AS (SELECT source, COUNT(*) AS n1 FROM rg1 WHERE score < $QualityMin
       |       GROUP BY source),
       |rz2 AS (SELECT source, COUNT(*) AS n2 FROM rg1k
       |       WHERE ${TextOps.predSql(t)} = 'und' GROUP BY source),
       |rz3 AS (SELECT source, COUNT(*) AS n3 FROM rg3
       |       WHERE n_red >= $PiiQuarantineAt GROUP BY source),
       |rz4 AS (SELECT source, COUNT(*) AS n4 FROM rg3k
       |       JOIN rcontam USING (doc_id) GROUP BY source),
       |rz5 AS (SELECT source, COUNT(*) AS n5 FROM rdcln
       |       JOIN rdvb USING (doc_id) GROUP BY source),
       |rz6 AS (SELECT source, COUNT(*) AS n6 FROM rdcln
       |       JOIN rdwd USING (doc_id) GROUP BY source),
       |rza AS (SELECT source, COUNT(*) AS n_readmitted,
       |         CAST(SUM(doc_id) AS BIGINT) AS readmitted_checksum,
       |         CAST(SUM(len($rt)) AS BIGINT) AS readmitted_tok
       |       FROM radm GROUP BY source),
       |ttk AS (SELECT source, COUNT(*) AS n_taken_down FROM rdcln GROUP BY source),
       |tfin AS (SELECT source, COUNT(*) AS n_final_after,
       |          CAST(SUM(doc_id) AS BIGINT) AS kept_checksum_after,
       |          CAST(SUM(CAST(len($rt) AS BIGINT) * w_e6) AS BIGINT)
       |            AS eff_tok_e6_after
       |        FROM tg5k GROUP BY source),
       |tww AS (SELECT *, CAST(floor(sqrt(CAST(eff_tok_e6_after AS DOUBLE)
       |          / 1000000.0) * 1000000.0) AS BIGINT) AS wq FROM tfin),
       |ttot AS (SELECT CAST(SUM(wq) AS BIGINT) AS wq_tot FROM tww),
       |spine AS (SELECT DISTINCT source FROM documents)
       |SELECT spine.source,
       |  COALESCE(ring.n_resub, 0) AS n_resub,
       |  COALESCE(rz1.n1, 0) AS n_quality_dropped,
       |  COALESCE(rz2.n2, 0) AS n_lang_dropped,
       |  COALESCE(rz3.n3, 0) AS n_pii_quarantined,
       |  COALESCE(rz4.n4, 0) AS n_contam_dropped,
       |  COALESCE(rz5.n5, 0) AS n_dup_vs_base,
       |  COALESCE(rz6.n6, 0) AS n_dup_within,
       |  COALESCE(rza.n_readmitted, 0) AS n_readmitted,
       |  COALESCE(rza.readmitted_checksum, 0) AS readmitted_checksum,
       |  COALESCE(rza.readmitted_tok, 0) AS readmitted_tok,
       |  COALESCE(ttk.n_taken_down, 0) AS n_taken_down,
       |  COALESCE(tfin.n_final_after, 0) AS n_final_after,
       |  COALESCE(tfin.kept_checksum_after, 0) AS kept_checksum_after,
       |  COALESCE(tfin.eff_tok_e6_after, 0) AS eff_tok_e6_after,
       |  round(CAST(COALESCE(tww.wq, 0) AS DOUBLE) / ttot.wq_tot, 6)
       |    AS mix_weight_after
       |FROM spine
       |LEFT JOIN ring USING (source)
       |LEFT JOIN rz1 USING (source) LEFT JOIN rz2 USING (source)
       |LEFT JOIN rz3 USING (source) LEFT JOIN rz4 USING (source)
       |LEFT JOIN rz5 USING (source) LEFT JOIN rz6 USING (source)
       |LEFT JOIN rza USING (source) LEFT JOIN ttk USING (source)
       |LEFT JOIN tfin USING (source) LEFT JOIN tww USING (source)
       |CROSS JOIN ttot
       |ORDER BY spine.source""".stripMargin
  }

  /** The q215 delta chain (delta .. adm) as reusable CTE text — q219
    * builds its epoch-1 state from it verbatim.
    */
  private def incrementChainSql: String = {
    val t = "string_split(text, ' ')"
    s"""delta AS (SELECT doc_id + $DeltaNearOffset AS doc_id, source,
       |            'delta ' || text AS text
       |          FROM documents WHERE doc_id % 5 = 0
       |          UNION ALL
       |          SELECT doc_id + $DeltaCopyOffset, source, text
       |          FROM documents WHERE doc_id % 7 = 3
       |          UNION ALL
       |          SELECT doc_id + $DeltaRevAOffset, source,
       |            array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |          FROM documents WHERE doc_id % 11 = 1
       |          UNION ALL
       |          SELECT doc_id + $DeltaRevBOffset, source,
       |            array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |          FROM documents WHERE doc_id % 11 = 1),
       |${gateChainSql("delta", "d")},
       |dcontam AS (SELECT DISTINCT doc_id FROM
       |            (SELECT doc_id,
       |               unnest(${hashedShinglesSql(shinglesSql("ctoks", DecontamGram))}) AS g
       |             FROM (SELECT doc_id, $t AS ctoks FROM dg3k)
       |             WHERE len(ctoks) >= $DecontamGram) gg
       |           JOIN bench USING (g)),
       |dcln AS MATERIALIZED (SELECT * FROM dg3k
       |        WHERE doc_id NOT IN (SELECT doc_id FROM dcontam)),
       |${sigChainSql("d", "dcln")},
       |bsig AS MATERIALIZED (SELECT s.doc_id, s.sig FROM sigs s
       |        JOIN g5k USING (doc_id)),
       |bband AS MATERIALIZED (SELECT b.doc_id, b.band, b.key FROM banded b
       |        JOIN g5k USING (doc_id)),
       |cvb AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |        FROM dbanded x JOIN (${capBandedSql("bband")}) y
       |          ON x.band = y.band AND x.key = y.key),
       |dvb AS MATERIALIZED (SELECT DISTINCT a AS doc_id FROM cvb
       |       JOIN dsigs sx ON sx.doc_id = cvb.a
       |       JOIN bsig sy ON sy.doc_id = cvb.b
       |       WHERE ${estJSql("sx.sig", "sy.sig")} >= 0.5),
       |cwd AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |        FROM dbanded x JOIN dbandedc y
       |          ON x.band = y.band AND x.key = y.key AND x.doc_id > y.doc_id),
       |dwd AS MATERIALIZED (SELECT DISTINCT a AS doc_id FROM cwd
       |       JOIN dsigs sx ON sx.doc_id = cwd.a
       |       JOIN dsigs sy ON sy.doc_id = cwd.b
       |       WHERE ${estJSql("sx.sig", "sy.sig")} >= 0.5
       |         AND a NOT IN (SELECT doc_id FROM dvb)),
       |adm AS MATERIALIZED (SELECT * FROM dcln
       |        WHERE doc_id NOT IN (SELECT doc_id FROM dvb)
       |          AND doc_id NOT IN (SELECT doc_id FROM dwd))""".stripMargin
  }

  // ---- q219: TWO-EPOCH INGEST CONTINUITY — the fold primitive under
  //      an oracle (AdmissionIndexSpec proves fold == rebuild,
  //      this lane proves the folded artifact SERVES). Epoch 1 is
  //      q215's admission verbatim; its ADMITTED signatures then fold
  //      into a run-local clone of the persisted base index (the
  //      end-of-ingest checkpoint a deployment runs — exactly what
  //      q216's accumulated per-batch state becomes at day's end), and
  //      epoch 2 admits a second closed-form delta against the FOLDED
  //      index:
  //        A. an exact re-submission of every epoch-1 ADMITTED doc —
  //           rejected dup-vs-base via its OWN folded entry (est_j=1),
  //           the fold-liveness bucket (admission now remembers what
  //           it admitted);
  //        B. the q215 copy branch AGAIN (doc_id % 7 == 3) — classified
  //           exactly as in epoch 1, proving the fold did not corrupt
  //           the pre-existing entries... except copies whose epoch-1
  //           twin was ADMITTED, which are now rejected against it —
  //           both engines derive this closed-form;
  //        C. reversed-token copies of doc_id % 13 == 7 docs — fresh
  //           content EXCEPT where the doc also hit the % 11 == 1
  //           epoch-1 reversed-twin branch, whose admitted reversed
  //           text now lives in the folded index: a cross-epoch
  //           near-dup catch that no single-epoch lane can express.
  //      Cost shape: the fold rewrites only the admitted docs' buckets
  //      (one log commit); epoch 2 is the q217 pruned probe against
  //      the folded layout. Oracle = base chain + epoch-1 chain + a
  //      folded index defined as (base ∪ admitted) + the epoch-2
  //      admission chain — all closed-form. ----
  private[graft] val Epoch2AdmOffset = 20000000L
  private[graft] val Epoch2CopyOffset = 30000000L
  private[graft] val Epoch2RevOffset = 40000000L

  private[graft] def epoch2Batch(d0: DataFrame, adm1: DataFrame): DataFrame = {
    // epoch-1 admitted ids (delta ids, <= base + 4 M) + the adm offset
    // must stay below the next epoch-2 branch
    assertIdHeadroom(adm1, Epoch2CopyOffset - Epoch2AdmOffset, "epoch2Batch")
    val rev = concat_ws(" ", reverse(split(col("text"), " ")))
    // the two d0 branches as ONE corpus pass (the deltaBatch
    // shape): same row multiset, one cache scan, no partition stacking
    def branch(pred: Column, off: Long, text: Column) =
      when(pred, struct((col("doc_id") + off).as("doc_id"),
        col("source").as("source"), text.as("text")))
    val d0Part = d0.select(explode(array(
        branch(col("doc_id") % 7 === 3, Epoch2CopyOffset, col("text")),
        branch(col("doc_id") % 13 === 7, Epoch2RevOffset, rev))).as("r"))
      .filter(col("r").isNotNull)
      .select(col("r.doc_id").as("doc_id"), col("r.source").as("source"),
              col("r.text").as("text"))
    adm1.select((col("doc_id") + Epoch2AdmOffset).as("doc_id"), col("source"),
        col("text"))
      .unionByName(d0Part)
  }

  def pipelineTwoEpoch(s: SparkSession, d: String): DataFrame = {
    // epoch 1: q215's admission; keep the admitted relation alive past
    // the handle release (ONE checkpoint: rows and sigs ride the
    // same relation)
    val admitted = Steps.tag(s, "epoch1") {
      val (_, admitted0, handles1) = pipelineIncrementFull(s, d)
      val adm = Steps.tag(s, "admitted") { admitted0.localCheckpoint(true) }
      handles1.foreach(_.unpersist(false))
      adm
    }
    // the end-of-ingest checkpoint: fold admitted signatures into a
    // fork of the persisted base (the pristine fixture q217/q218 read
    // stays untouched: no write path targets it)
    val idx = forkIndex(s, d, "e2")
    foldIntoAdmissionIndex(s, idx,
      admitted.filter(col("sig").isNotNull).select("doc_id", "sig"))
    // epoch 2 against the folded artifact
    Steps.tag(s, "epoch2") {
      val (card2, handles2) = pipelineIncrementLazy(s, d,
        Some(db => probeBandedIndex(s, idx, db)),
        d0 => epoch2Batch(d0, admitted))
      val result = Steps.tag(s, "card") { card2.localCheckpoint(true) }
      handles2.foreach(_.unpersist(false))
      result
    }
  }

  // ---- q220: N-EPOCH INDEX LIFECYCLE — the text
  //      index's full maintenance loop under ONE oracle, closing the
  //      symmetry with the vector side (compaction q182, tombstones
  //      q187, vacuum q210, swap q212). THREE epochs drive
  //      admit -> fold -> takedown on the persisted q217 artifact:
  //        epoch 1: q215's delta admitted against the pristine clone
  //                 (disk probe), admitted sigs FOLD in, then a
  //                 deterministic takedown (admitted ids % 3 == 0)
  //                 tombstones out of the index;
  //        epoch 2: the taken-down docs RE-SUBMITTED (new ids) — must
  //                 be ADMITTED (their entries are gone: delete is
  //                 live) — alongside re-submissions of the epoch-1
  //                 survivors — must be REJECTED dup-vs-base against
  //                 their own folded entries (fold is live). Admitted
  //                 set folds in; takedown #2 (ids % 2 == 0) leaves.
  //        epoch 3: the epoch-2 takedowns re-submitted (admitted
  //                 AGAIN — the delete/fold cycle composes), epoch-2
  //                 survivors re-submitted (rejected), plus FRESH
  //                 near-dup variants ('delta ' || text of
  //                 doc_id % 19 == 4) probing entries that predate
  //                 both folds — original base entries must still
  //                 match after two fold+delete cycles.
  //      Cost shape at 100 TB: each epoch's admission is the q217
  //      pruned probe (cost ∝ batch buckets), each fold/delete is a
  //      rewrite of exactly the touched buckets (spec:
  //      minimality + fold == rebuild at EVERY epoch boundary) — K
  //      epochs cost K x delta work, never K x corpus. Oracle models
  //      the index state closed-form per epoch: I1 = (base ∪ adm1) \
  //      td1, I2 = (I1 ∪ adm2) \ td2. ----
  private[graft] val LcTd1ResubOffset = 100000000L
  private[graft] val LcSurv1ResubOffset = 200000000L
  private[graft] val LcTd2ResubOffset = 1000000000L
  private[graft] val LcSurv2ResubOffset = 2000000000L
  private[graft] val LcFreshOffset = 3000000000L

  /** Per-epoch trace for the lifecycle spec: what folded, what left,
    * and exactly which buckets each mutation touched.
    */
  private[graft] final case class LcEpoch(
      epoch: Int, admSigs: DataFrame, tdSigs: DataFrame,
      foldTouched: Seq[Long], delTouched: Seq[Long])

  /** One lifecycle epoch's admission against `idx`: the card and the
    * admitted relation, both checkpointed BEFORE the index mutates
    * (the probe reads the store lazily; a fold/delete between build
    * and force would leak the NEXT epoch's state into this epoch's
    * card). The two checkpoints are independent reads of the same
    * persisted admission state, so they run as OVERLAPPED jobs (guide
    * §2.6: actions are only sequential because the driver calls them
    * sequentially) — the admitted job back-fills executors the card
    * job's stage tails leave idle; cache-block races are handled by
    * the BlockManager's per-block locks and both results are
    * order-independent. If the card job fails, the admitted job is
    * awaited (its outcome ignored) before the persisted handles are
    * released under it, and the card's failure propagates.
    */
  private[graft] def lcAdmit(s: SparkSession, d: String, idx: String,
      deltaOf: DataFrame => DataFrame): (DataFrame, DataFrame) = {
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val (card0, admitted0, handles) = pipelineIncrementFull(
      s, d, Some(db => probeBandedIndex(s, idx, db)), deltaOf)
    val admF = Steps.future(s, "admitted")(
      admitted0.localCheckpoint(true))(checkpointEc)
    try {
      val card =
        try Steps.tag(s, "card") { card0.localCheckpoint(true) }
        catch { case e: Throwable => Await.ready(admF, Duration.Inf); throw e }
      (card, Await.result(admF, Duration.Inf))
    } finally handles.foreach(_.unpersist(false))
  }

  /** The lane body, exposing the mutation trace + index dir (spec
    * surface); the registered build drops both.
    */
  private[graft] def pipelineLifecycleFull(
      s: SparkSession, d: String): (DataFrame, Seq[LcEpoch], String) = {
    // a fork of the persisted index (clone-free; the pristine base
    // serves every epoch's untouched buckets directly)
    val idx = forkIndex(s, d, "lc")
    // one epoch: admit, then (tdMod > 0) fold the admitted signatures
    // in and tombstone the takedown (admitted ids % tdMod == 0) out.
    // ONE admitted checkpoint per epoch: signatures project off
    // it lazily; the takedown sigs stay lazy over it too (no store
    // reads in the lineage, so post-mutation consumers — the delete
    // and the lifecycle spec — recompute them safely)
    def epoch(e: Int, deltaOf: DataFrame => DataFrame, tdMod: Int,
        headroom: Long): (DataFrame, DataFrame, LcEpoch) =
      Steps.tag(s, s"epoch$e") {
        val (card, adm) = lcAdmit(s, d, idx, deltaOf)
        val sig = adm.filter(col("sig").isNotNull).select("doc_id", "sig")
        if (tdMod == 0) (card, adm, LcEpoch(e, sig, sig.limit(0), Nil, Nil))
        else {
          assertIdHeadroom(adm, headroom, s"lifecycle epoch$e")
          val ft = foldIntoAdmissionIndex(s, idx, sig)
          val td = sig.filter(col("doc_id") % tdMod === 0)
          (card, adm, LcEpoch(e, sig, td, ft, deleteFromAdmissionIndex(s, idx, td)))
        }
      }
    // epoch 1: q215's delta against the pristine base
    val (card1, adm1, ep1) = epoch(1, deltaBatch, 3, LcTd1ResubOffset)
    // epoch 2: takedown re-submissions (admit) + survivor re-submissions (reject)
    // lazy over adm1's checkpoint: single-consumer (the epoch's
    // gateAudit persist materializes it once) — the dg3k rule.
    // Every adm row lands in exactly one branch, so the two resub
    // slices fuse into one conditional-offset pass: same rows,
    // one checkpoint scan, no partition stacking into the epoch chain.
    def resubSplit(rows: DataFrame, pred: Column, offT: Long,
        offF: Long): DataFrame =
      rows.select((col("doc_id") + when(pred, lit(offT)).otherwise(lit(offF)))
        .as("doc_id"), col("source"), col("text"))
    val delta2 = resubSplit(adm1, col("doc_id") % 3 === 0,
      LcTd1ResubOffset, LcSurv1ResubOffset)
    val (card2, adm2, ep2) = epoch(2, _ => delta2, 2,
      LcTd2ResubOffset - LcSurv1ResubOffset)
    // epoch 3: cycle again + fresh near-dups of pre-fold base entries
    // (built inside the epoch, so its corpus read is tagged with it)
    def delta3: DataFrame = {
      val fresh = CoreOps.jsonlDocs(s, d)
        .select(col("doc_id"), col("meta.source").as("source"), col("text"))
        .filter(col("doc_id") % 19 === 4)
        .select((col("doc_id") + LcFreshOffset).as("doc_id"), col("source"),
                concat(lit("delta "), col("text")).as("text"))
      resubSplit(adm2, col("doc_id") % 2 === 0,
          LcTd2ResubOffset, LcSurv2ResubOffset)
        .unionByName(fresh) // lazy — see delta2
    }
    val (card3, adm3, ep3) = epoch(3, _ => delta3, 0, 0L)
    // assemble: one row per (epoch, source), q215's card + n_taken_down
    def withTd(card: DataFrame, e: Int, tdRows: DataFrame): DataFrame =
      card.join(tdRows.groupBy("source").agg(count(lit(1)).as("ntd")),
          Seq("source"), "left")
        .select(lit(e.toLong).as("epoch"), col("source"), col("n_delta"),
          col("n_quality_dropped"), col("n_lang_dropped"),
          col("n_pii_quarantined"), col("n_contam_dropped"),
          col("n_dup_vs_base"), col("n_dup_within"), col("n_admitted"),
          col("admitted_checksum"), col("admitted_tok"),
          coalesce(col("ntd"), lit(0L)).as("n_taken_down"))
    val out = withTd(card1, 1, adm1.filter(col("doc_id") % 3 === 0))
      .unionByName(withTd(card2, 2, adm2.filter(col("doc_id") % 2 === 0)))
      .unionByName(withTd(card3, 3, adm3.limit(0)))
      .orderBy("epoch", "source")
    (Steps.tag(s, "assemble") { out.localCheckpoint(true) }, Seq(ep1, ep2, ep3), idx)
  }

  def pipelineLifecycle(s: SparkSession, d: String): DataFrame =
    pipelineLifecycleFull(s, d)._1

  /** `p`-prefixed full admission chain (gates -> contamination ->
    * sigs -> dup-vs-index -> dup-within -> admitted) of `deltaCte`
    * against the index state (`idxSig`, `idxBand`) — the q215 chain
    * parameterized on the index relation, so each lifecycle epoch
    * probes the closed-form folded/tombstoned state of the previous.
    */
  private def lcEpochChainSql(p: String, deltaCte: String,
      idxSig: String, idxBand: String): String = {
    val t = "string_split(text, ' ')"
    s"""${gateChainSql(deltaCte, p)},
       |${p}contam AS (SELECT DISTINCT doc_id FROM
       |            (SELECT doc_id,
       |               unnest(${hashedShinglesSql(shinglesSql("ctoks", DecontamGram))}) AS g
       |             FROM (SELECT doc_id, $t AS ctoks FROM ${p}g3k)
       |             WHERE len(ctoks) >= $DecontamGram) gg
       |           JOIN bench USING (g)),
       |${p}cln AS MATERIALIZED (SELECT * FROM ${p}g3k
       |        WHERE doc_id NOT IN (SELECT doc_id FROM ${p}contam)),
       |${sigChainSql(p, s"${p}cln")},
       |${p}cvb AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |        FROM ${p}banded x JOIN (${capBandedSql(idxBand)}) y
       |          ON x.band = y.band AND x.key = y.key),
       |${p}dvb AS MATERIALIZED (SELECT DISTINCT a AS doc_id FROM ${p}cvb
       |       JOIN ${p}sigs sx ON sx.doc_id = ${p}cvb.a
       |       JOIN $idxSig sy ON sy.doc_id = ${p}cvb.b
       |       WHERE ${estJSql("sx.sig", "sy.sig")} >= 0.5),
       |${p}cwd AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |        FROM ${p}banded x JOIN ${p}bandedc y
       |          ON x.band = y.band AND x.key = y.key AND x.doc_id > y.doc_id),
       |${p}dwd AS MATERIALIZED (SELECT DISTINCT a AS doc_id FROM ${p}cwd
       |       JOIN ${p}sigs sx ON sx.doc_id = ${p}cwd.a
       |       JOIN ${p}sigs sy ON sy.doc_id = ${p}cwd.b
       |       WHERE ${estJSql("sx.sig", "sy.sig")} >= 0.5
       |         AND a NOT IN (SELECT doc_id FROM ${p}dvb)),
       |${p}adm AS MATERIALIZED (SELECT * FROM ${p}cln
       |        WHERE doc_id NOT IN (SELECT doc_id FROM ${p}dvb)
       |          AND doc_id NOT IN (SELECT doc_id FROM ${p}dwd))""".stripMargin
  }

  /** `p`-prefixed per-source epoch card over the [[lcEpochChainSql]]
    * relations, with the epoch literal and the takedown count.
    */
  private def lcCardSql(p: String, epoch: Int, deltaCte: String,
      tdWhere: String): String = {
    val t = "string_split(text, ' ')"
    val rt = "string_split(rtext, ' ')"
    s"""${p}ing AS (SELECT source, COUNT(*) AS n_delta FROM $deltaCte
       |       GROUP BY source),
       |${p}z1 AS (SELECT source, COUNT(*) AS n1 FROM ${p}g1
       |       WHERE score < $QualityMin GROUP BY source),
       |${p}z2 AS (SELECT source, COUNT(*) AS n2 FROM ${p}g1k
       |       WHERE ${TextOps.predSql(t)} = 'und' GROUP BY source),
       |${p}z3 AS (SELECT source, COUNT(*) AS n3 FROM ${p}g3
       |       WHERE n_red >= $PiiQuarantineAt GROUP BY source),
       |${p}z4 AS (SELECT source, COUNT(*) AS n4 FROM ${p}g3k
       |       JOIN ${p}contam USING (doc_id) GROUP BY source),
       |${p}z5 AS (SELECT source, COUNT(*) AS n5 FROM ${p}cln
       |       JOIN ${p}dvb USING (doc_id) GROUP BY source),
       |${p}z6 AS (SELECT source, COUNT(*) AS n6 FROM ${p}cln
       |       JOIN ${p}dwd USING (doc_id) GROUP BY source),
       |${p}za AS (SELECT source, COUNT(*) AS n_admitted,
       |         CAST(SUM(doc_id) AS BIGINT) AS admitted_checksum,
       |         CAST(SUM(len($rt)) AS BIGINT) AS admitted_tok
       |       FROM ${p}adm GROUP BY source),
       |${p}zt AS (SELECT source, COUNT(*) AS ntd FROM ${p}adm
       |       WHERE $tdWhere GROUP BY source),
       |${p}card AS (SELECT CAST($epoch AS BIGINT) AS epoch,
       |  ${p}ing.source, ${p}ing.n_delta,
       |  COALESCE(${p}z1.n1, 0) AS n_quality_dropped,
       |  COALESCE(${p}z2.n2, 0) AS n_lang_dropped,
       |  COALESCE(${p}z3.n3, 0) AS n_pii_quarantined,
       |  COALESCE(${p}z4.n4, 0) AS n_contam_dropped,
       |  COALESCE(${p}z5.n5, 0) AS n_dup_vs_base,
       |  COALESCE(${p}z6.n6, 0) AS n_dup_within,
       |  COALESCE(${p}za.n_admitted, 0) AS n_admitted,
       |  COALESCE(${p}za.admitted_checksum, 0) AS admitted_checksum,
       |  COALESCE(${p}za.admitted_tok, 0) AS admitted_tok,
       |  COALESCE(${p}zt.ntd, 0) AS n_taken_down
       | FROM ${p}ing
       | LEFT JOIN ${p}z1 USING (source) LEFT JOIN ${p}z2 USING (source)
       | LEFT JOIN ${p}z3 USING (source) LEFT JOIN ${p}z4 USING (source)
       | LEFT JOIN ${p}z5 USING (source) LEFT JOIN ${p}z6 USING (source)
       | LEFT JOIN ${p}za USING (source) LEFT JOIN ${p}zt USING (source))"""
      .stripMargin
  }

  private[graft] val pipelineLifecycleSql: String = {
    s"""WITH $chainPrefixSql,
       |bsig AS MATERIALIZED (SELECT s.doc_id, s.sig FROM sigs s
       |        JOIN g5k USING (doc_id)),
       |bband AS MATERIALIZED (SELECT b.doc_id, b.band, b.key FROM banded b
       |        JOIN g5k USING (doc_id)),
       |kdelta AS (SELECT doc_id + $DeltaNearOffset AS doc_id, source,
       |            'delta ' || text AS text
       |          FROM documents WHERE doc_id % 5 = 0
       |          UNION ALL
       |          SELECT doc_id + $DeltaCopyOffset, source, text
       |          FROM documents WHERE doc_id % 7 = 3
       |          UNION ALL
       |          SELECT doc_id + $DeltaRevAOffset, source,
       |            array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |          FROM documents WHERE doc_id % 11 = 1
       |          UNION ALL
       |          SELECT doc_id + $DeltaRevBOffset, source,
       |            array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |          FROM documents WHERE doc_id % 11 = 1),
       |${lcEpochChainSql("k", "kdelta", "bsig", "bband")},
       |f1sig AS MATERIALIZED (SELECT doc_id, sig FROM bsig
       |        UNION ALL
       |        SELECT s.doc_id, s.sig FROM ksigs s JOIN kadm USING (doc_id)
       |        WHERE s.doc_id % 3 <> 0),
       |f1band AS MATERIALIZED (SELECT doc_id, band, key FROM bband
       |        UNION ALL
       |        SELECT b.doc_id, b.band, b.key FROM kbanded b JOIN kadm USING (doc_id)
       |        WHERE b.doc_id % 3 <> 0),
       |e2delta AS (SELECT doc_id + $LcTd1ResubOffset AS doc_id, source, text
       |            FROM kadm WHERE doc_id % 3 = 0
       |            UNION ALL
       |            SELECT doc_id + $LcSurv1ResubOffset, source, text
       |            FROM kadm WHERE doc_id % 3 <> 0),
       |${lcEpochChainSql("e", "e2delta", "f1sig", "f1band")},
       |f2sig AS MATERIALIZED (SELECT doc_id, sig FROM f1sig
       |        UNION ALL
       |        SELECT s.doc_id, s.sig FROM esigs s JOIN eadm USING (doc_id)
       |        WHERE s.doc_id % 2 <> 0),
       |f2band AS MATERIALIZED (SELECT doc_id, band, key FROM f1band
       |        UNION ALL
       |        SELECT b.doc_id, b.band, b.key FROM ebanded b JOIN eadm USING (doc_id)
       |        WHERE b.doc_id % 2 <> 0),
       |e3delta AS (SELECT doc_id + $LcTd2ResubOffset AS doc_id, source, text
       |            FROM eadm WHERE doc_id % 2 = 0
       |            UNION ALL
       |            SELECT doc_id + $LcSurv2ResubOffset, source, text
       |            FROM eadm WHERE doc_id % 2 <> 0
       |            UNION ALL
       |            SELECT doc_id + $LcFreshOffset, source, 'delta ' || text
       |            FROM documents WHERE doc_id % 19 = 4),
       |${lcEpochChainSql("h", "e3delta", "f2sig", "f2band")},
       |${lcCardSql("k", 1, "kdelta", "doc_id % 3 = 0")},
       |${lcCardSql("e", 2, "e2delta", "doc_id % 2 = 0")},
       |${lcCardSql("h", 3, "e3delta", "FALSE")}
       |SELECT * FROM (SELECT * FROM kcard
       |  UNION ALL SELECT * FROM ecard
       |  UNION ALL SELECT * FROM hcard)
       |ORDER BY epoch, source""".stripMargin
  }

  private[graft] val pipelineTwoEpochSql: String = {
    val t = "string_split(text, ' ')"
    val rt = "string_split(rtext, ' ')"
    s"""WITH $chainPrefixSql,
       |$incrementChainSql,
       |fsig AS MATERIALIZED (SELECT doc_id, sig FROM bsig
       |       UNION ALL
       |       SELECT s.doc_id, s.sig FROM dsigs s JOIN adm USING (doc_id)),
       |fband AS MATERIALIZED (SELECT doc_id, band, key FROM bband
       |       UNION ALL
       |       SELECT b.doc_id, b.band, b.key FROM dbanded b JOIN adm USING (doc_id)),
       |e2delta AS (SELECT doc_id + $Epoch2AdmOffset AS doc_id, source, text
       |            FROM adm
       |            UNION ALL
       |            SELECT doc_id + $Epoch2CopyOffset, source, text
       |            FROM documents WHERE doc_id % 7 = 3
       |            UNION ALL
       |            SELECT doc_id + $Epoch2RevOffset, source,
       |              array_to_string(list_reverse(string_split(text, ' ')), ' ')
       |            FROM documents WHERE doc_id % 13 = 7),
       |${gateChainSql("e2delta", "e")},
       |econtam AS (SELECT DISTINCT doc_id FROM
       |            (SELECT doc_id,
       |               unnest(${hashedShinglesSql(shinglesSql("ctoks", DecontamGram))}) AS g
       |             FROM (SELECT doc_id, $t AS ctoks FROM eg3k)
       |             WHERE len(ctoks) >= $DecontamGram) gg
       |           JOIN bench USING (g)),
       |ecln AS MATERIALIZED (SELECT * FROM eg3k
       |        WHERE doc_id NOT IN (SELECT doc_id FROM econtam)),
       |${sigChainSql("e", "ecln")},
       |ecvb AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |        FROM ebanded x JOIN (${capBandedSql("fband")}) y
       |          ON x.band = y.band AND x.key = y.key),
       |edvb AS MATERIALIZED (SELECT DISTINCT a AS doc_id FROM ecvb
       |       JOIN esigs sx ON sx.doc_id = ecvb.a
       |       JOIN fsig sy ON sy.doc_id = ecvb.b
       |       WHERE ${estJSql("sx.sig", "sy.sig")} >= 0.5),
       |ecwd AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
       |        FROM ebanded x JOIN ebandedc y
       |          ON x.band = y.band AND x.key = y.key AND x.doc_id > y.doc_id),
       |edwd AS MATERIALIZED (SELECT DISTINCT a AS doc_id FROM ecwd
       |       JOIN esigs sx ON sx.doc_id = ecwd.a
       |       JOIN esigs sy ON sy.doc_id = ecwd.b
       |       WHERE ${estJSql("sx.sig", "sy.sig")} >= 0.5
       |         AND a NOT IN (SELECT doc_id FROM edvb)),
       |eadm AS (SELECT * FROM ecln
       |        WHERE doc_id NOT IN (SELECT doc_id FROM edvb)
       |          AND doc_id NOT IN (SELECT doc_id FROM edwd)),
       |eing AS (SELECT source, COUNT(*) AS n_delta FROM e2delta GROUP BY source),
       |ez1 AS (SELECT source, COUNT(*) AS n1 FROM eg1 WHERE score < $QualityMin
       |       GROUP BY source),
       |ez2 AS (SELECT source, COUNT(*) AS n2 FROM eg1k
       |       WHERE ${TextOps.predSql(t)} = 'und' GROUP BY source),
       |ez3 AS (SELECT source, COUNT(*) AS n3 FROM eg3
       |       WHERE n_red >= $PiiQuarantineAt GROUP BY source),
       |ez4 AS (SELECT source, COUNT(*) AS n4 FROM eg3k
       |       JOIN econtam USING (doc_id) GROUP BY source),
       |ez5 AS (SELECT source, COUNT(*) AS n5 FROM ecln
       |       JOIN edvb USING (doc_id) GROUP BY source),
       |ez6 AS (SELECT source, COUNT(*) AS n6 FROM ecln
       |       JOIN edwd USING (doc_id) GROUP BY source),
       |eza AS (SELECT source, COUNT(*) AS n_admitted,
       |         CAST(SUM(doc_id) AS BIGINT) AS admitted_checksum,
       |         CAST(SUM(len($rt)) AS BIGINT) AS admitted_tok
       |       FROM eadm GROUP BY source)
       |SELECT eing.source, eing.n_delta,
       |  COALESCE(ez1.n1, 0) AS n_quality_dropped,
       |  COALESCE(ez2.n2, 0) AS n_lang_dropped,
       |  COALESCE(ez3.n3, 0) AS n_pii_quarantined,
       |  COALESCE(ez4.n4, 0) AS n_contam_dropped,
       |  COALESCE(ez5.n5, 0) AS n_dup_vs_base,
       |  COALESCE(ez6.n6, 0) AS n_dup_within,
       |  COALESCE(eza.n_admitted, 0) AS n_admitted,
       |  COALESCE(eza.admitted_checksum, 0) AS admitted_checksum,
       |  COALESCE(eza.admitted_tok, 0) AS admitted_tok
       |FROM eing
       |LEFT JOIN ez1 USING (source) LEFT JOIN ez2 USING (source)
       |LEFT JOIN ez3 USING (source) LEFT JOIN ez4 USING (source)
       |LEFT JOIN ez5 USING (source) LEFT JOIN ez6 USING (source)
       |LEFT JOIN eza USING (source)
       |ORDER BY eing.source""".stripMargin
  }

  private[graft] val pipelineIncrementSql: String = {
    val t = "string_split(text, ' ')"
    val rt = "string_split(rtext, ' ')"
    s"""WITH $chainPrefixSql,
       |$incrementChainSql,
       |ding AS (SELECT source, COUNT(*) AS n_delta FROM delta GROUP BY source),
       |z1 AS (SELECT source, COUNT(*) AS n1 FROM dg1 WHERE score < $QualityMin
       |       GROUP BY source),
       |z2 AS (SELECT source, COUNT(*) AS n2 FROM dg1k
       |       WHERE ${TextOps.predSql(t)} = 'und' GROUP BY source),
       |z3 AS (SELECT source, COUNT(*) AS n3 FROM dg3
       |       WHERE n_red >= $PiiQuarantineAt GROUP BY source),
       |z4 AS (SELECT source, COUNT(*) AS n4 FROM dg3k
       |       JOIN dcontam USING (doc_id) GROUP BY source),
       |z5 AS (SELECT source, COUNT(*) AS n5 FROM dcln
       |       JOIN dvb USING (doc_id) GROUP BY source),
       |z6 AS (SELECT source, COUNT(*) AS n6 FROM dcln
       |       JOIN dwd USING (doc_id) GROUP BY source),
       |za AS (SELECT source, COUNT(*) AS n_admitted,
       |         CAST(SUM(doc_id) AS BIGINT) AS admitted_checksum,
       |         CAST(SUM(len($rt)) AS BIGINT) AS admitted_tok
       |       FROM adm GROUP BY source)
       |SELECT ding.source, ding.n_delta,
       |  COALESCE(z1.n1, 0) AS n_quality_dropped,
       |  COALESCE(z2.n2, 0) AS n_lang_dropped,
       |  COALESCE(z3.n3, 0) AS n_pii_quarantined,
       |  COALESCE(z4.n4, 0) AS n_contam_dropped,
       |  COALESCE(z5.n5, 0) AS n_dup_vs_base,
       |  COALESCE(z6.n6, 0) AS n_dup_within,
       |  COALESCE(za.n_admitted, 0) AS n_admitted,
       |  COALESCE(za.admitted_checksum, 0) AS admitted_checksum,
       |  COALESCE(za.admitted_tok, 0) AS admitted_tok
       |FROM ding
       |LEFT JOIN z1 USING (source) LEFT JOIN z2 USING (source)
       |LEFT JOIN z3 USING (source) LEFT JOIN z4 USING (source)
       |LEFT JOIN z5 USING (source) LEFT JOIN z6 USING (source)
       |LEFT JOIN za USING (source)
       |ORDER BY ding.source""".stripMargin
  }

  val queries: Seq[Q] = Seq(
    Q("q220_pipeline_lifecycle", pipelineLifecycle, Some(pipelineLifecycleSql),
      "N-EPOCH INDEX LIFECYCLE — the text admission index's full maintenance loop under one oracle (the vector side's q182/q187/q210/q212 symmetry): THREE epochs of admit -> fold -> takedown on the persisted q217 artifact; epoch 2 re-submits the epoch-1 takedowns (ADMITTED: delete is live) alongside the epoch-1 survivors (REJECTED against their own folded entries: fold is live), epoch 3 cycles both again plus fresh near-dup variants probing base entries that predate both folds — the oracle models each epoch's index state closed-form (I1 = (base ∪ adm1) \\ td1, I2 = (I1 ∪ adm2) \\ td2); spec asserts bucket-set minimality and fold == rebuild at every epoch boundary"),
    Q("q219_pipeline_two_epoch", pipelineTwoEpoch, Some(pipelineTwoEpochSql),
      "TWO-EPOCH ingest continuity — the fold primitive under an oracle: epoch 1 is q215's admission verbatim, its admitted signatures fold into a fork of the persisted base index (a rewrite of only the touched buckets — the end-of-ingest checkpoint q216's accumulated state becomes), and epoch 2 admits a second closed-form delta against the FOLDED artifact: re-submissions of epoch-1 admissions are rejected against their OWN folded entries, the q215 copy branch classifies as before except where its epoch-1 twin was admitted, and reversed copies catch cross-epoch near-dups of the folded reversed twins"),
    Q("q218_pipeline_takedown", pipelineTakedown, Some(pipelineTakedownSql),
      "TAKEDOWN through the curation composite: a deterministic delete set leaves the persisted admission index via q187-shaped tombstones (a rewrite of only the touched buckets), group weights refold from the cached near-dup pair list (no re-mining), the per-source card re-emits (final count/checksum/weighted mass/mixture), and every deleted doc is RE-SUBMITTED against the post-takedown state — admitted unless it still near-matches a surviving doc (the inverse of q215's always-rejected assertion); oracle = from-scratch re-curation without the deleted docs + the q215 admission chain"),
    Q("q217_pipeline_index_disk", pipelineIncrementDisk, Some(pipelineIncrementSql),
      "q215's incremental admission with the dup-vs-base stage served by the PERSISTED on-disk MinHash index (the q179 discipline for the text side): banded rows written partitionBy(pb = band x bucket(key)) with signatures inline, the delta probe reads ONLY its candidate buckets through a partition-PRUNED FileScan, and compaction folds admitted signatures into exactly the touched buckets, one log commit each (AdmissionIndexSpec: fold == rebuild) — card and oracle shared with q215 verbatim"),
    Q("q215_pipeline_increment", pipelineIncrement, Some(pipelineIncrementSql),
      "INCREMENTAL composite (the q137 discipline over the whole gate chain): a closed-form delta batch (near-dup variants + exact re-submissions) runs the same quality/lang/PII gates, decontaminates against the same benchmark grams, then is ADMITTED against the q214-curated base corpus's MinHash fingerprint index (delta x index banded join — cost linear in the batch) plus a within-batch self-check; disjoint buckets in pipeline order make the per-source admission card a conservation-complete audit"),
    Q("q214_pipeline_composite", pipelineComposite, Some(pipelineCompositeSql),
      "END-TO-END curation composite: real JSONL ingest -> quality gate -> lang-ID gate -> PII redact+quarantine -> MinHash near-dup downweighting (on the REDACTED text) -> benchmark holdout + decontamination (on ORIGINAL text) -> sqrt-temperature mix over the WEIGHTED token mass -> per-source packing -> dataset card; one oracle proves the gates compose (weights survive the mix, the pack respects every quarantine)"))
}
