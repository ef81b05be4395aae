package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan-shape assertions for the round-2 queries whose VALUE is the
  * plan: results prove semantics, these prove the physical strategy
  * survives refactors (the properties that matter at 100 TB).
  */
class PlanShapeSpec extends AnyFunSuite with SparkTestBase {

  /** The value of `body` and the number of Spark jobs it started. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val n = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = { n.incrementAndGet(); () }
    }
    def drain(): Unit = org.apache.spark.sql.graftbridge.drainListenerBus(spark.sparkContext)
    drain()
    spark.sparkContext.addSparkListener(l)
    try { val r = body; drain(); (r, n.get) }
    finally spark.sparkContext.removeSparkListener(l)
  }

  /** The partition directories a plan's file scans list. */
  private def scannedDirs(df: org.apache.spark.sql.DataFrame): Seq[String] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    def scans(p: SparkPlan): Seq[FileSourceScanExec] = p match {
      case a: AdaptiveSparkPlanExec => scans(a.executedPlan)
      case q: QueryStageExec => scans(q.plan)
      case f: FileSourceScanExec => Seq(f)
      case other => other.children.flatMap(scans)
    }
    scans(df.queryExecution.executedPlan)
      .flatMap(_.relation.location.rootPaths.map(_.getName))
  }

  /** Fence a pinned layout read: resolving the committed state and
    * building the read run no Spark job, every scan prunes on the
    * layout's partition column, and the scans list exactly the probed
    * keys' partition directories. `read` builds the read from the
    * snapshot; by default a cell layout's posting read.
    */
  private def assertPinnedRead(what: String, root: String, pin: Option[Long], keys: Seq[Long])(
      read: (io.Snapshot, Seq[Long]) => org.apache.spark.sql.DataFrame =
        ops.SimilarityOps.pinnedRead(spark, _, _)): Unit = {
    val ((snap, df), jobs) = jobsDuring {
      val snap = io.Layout.snapshot(root, pin)
      (snap, read(snap, keys))
    }
    assert(jobs == 0, s"$what: resolving the snapshot and building the read ran $jobs Spark jobs")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"$what plan:\n$plan")
    assert(!plan.contains("PartitionFilters: []"),
      s"$what: a data directory scan does not prune partitions:\n$plan")
    val dirs = scannedDirs(df)
    val want = keys.filter(snap.parts.contains).map(k => s"${snap.partCol}=$k")
    assert(want.nonEmpty, s"$what: none of the probed keys $keys is in the layout")
    assert(dirs.sorted == want.sorted,
      s"$what scans $dirs, not exactly the probed directories $want")
  }

  private def physical(name: String): String = {
    val q = Registry.all.find(_.name == name).get
    q.build(spark, sf).queryExecution.executedPlan.toString
  }

  test("q44 sketch: no exact-percentile hold-all-values aggregate (r5)") {
    val plan = physical("q44_sketch")
    // the r4 envelope buffered every l_extendedprice through an exact
    // percentile(...) in a SinglePartition ObjectHashAggregate; the r5
    // band comes from a mergeable integer-bucket histogram instead
    assert(!plan.contains("percentile("),
      s"exact percentile crept back into the sketch plan:\n$plan")
    assert(plan.contains("approx_count_distinct"), s"plan:\n$plan")
  }

  test("q67 percentiles: the window runs over the COUNT table, " +
       "never over per-row data (r5)") {
    val q = Registry.all.find(_.name == "q67_percentiles").get
    val optimized = q.build(spark, sf).queryExecution.optimizedPlan
    // every Window node must sit above an Aggregate — 3 effective
    // window streams over the raw fact table would serialize the sort
    // onto 3 tasks at any cluster size
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val windows = optimized.collect { case w: LWindow => w }
    assert(windows.nonEmpty, s"expected a window in:\n$optimized")
    windows.foreach { w =>
      val aggBelow = w.collectFirst { case a: Aggregate => a }
      assert(aggBelow.nonEmpty,
        s"window must consume the (group,value) count aggregate, not raw rows:\n$optimized")
    }
  }

  test("q66 binned range join: equi-join, never a nested-loop join") {
    val plan = physical("q66_range_join")
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"interval join degenerated to a nested loop:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast equi-join:\n$plan")
  }

  test("q69 TPC-H Q5: dims broadcast, single fact-fact exchange pre-agg") {
    val plan = physical("q69_tpch_q5")
    val bhj = plan.linesIterator.count(_.contains("BroadcastHashJoin"))
    assert(bhj >= 4, s"expected >=4 broadcast dim joins, got $bhj:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"))
    // lineitem⋈orders may shuffle (large sf) or broadcast (tiny sf —
    // orders fits under the auto-broadcast threshold here); what must
    // NEVER happen is more than one shuffle join or a nested loop
    val smjOrShuffled = plan.linesIterator.count(l =>
      l.contains("SortMergeJoin") || l.contains("ShuffledHashJoin"))
    assert(smjOrShuffled <= 1, s"more than one shuffle join:\n$plan")
    assert(bhj + smjOrShuffled == 5, s"expected 5 joins total:\n$plan")
  }

  test("q77 SQL-text rank filter planned through the custom operator") {
    val plan = physical("q77_sql_topk")
    assert(plan.contains("TopKPerKey"),
      s"TopKRankPushdown did not fire on SQL text:\n$plan")
  }

  test("q60/q78: ORC scan and the federated parquet slice keep filter pushdown") {
    val orc = physical("q60_orc_roundtrip")
    assert(orc.contains("PushedFilters: [") &&
      orc.contains("GreaterThan(l_quantity,30"),
      s"ORC scan lost the pushed filter:\n$orc")
    // q78: the l_linenumber >= 3 slice filter must reach the parquet
    // scan (per-source pushdown through the union)
    val fed = physical("q78_federated_union")
    assert(fed.contains("GreaterThanOrEqual(l_linenumber,3"),
      s"federated parquet slice lost its pushed filter:\n$fed")
  }

  test("q64 k-means: no planner-forced shuffle below the partial aggregate") {
    val plan = physical("q64_kmeans_iter")
    assert(!plan.contains("Join"), s"assignment must not join:\n$plan")
    // everything below the PARTIAL HashAggregate (the last one printed)
    // is the argmin assignment + generate: the only exchange allowed
    // there is the explicit input-staging repartition (REPARTITION_BY_COL)
    // — an ENSURE_REQUIREMENTS exchange would mean the assignment
    // stopped being map-side
    val lines = plan.linesIterator.toVector
    val partialIdx = lines.lastIndexWhere(_.contains("HashAggregate"))
    assert(partialIdx >= 0, s"no HashAggregate in:\n$plan")
    val below = lines.drop(partialIdx + 1)
    val forced = below.filter(l =>
      l.contains("Exchange") && l.contains("ENSURE_REQUIREMENTS"))
    assert(forced.isEmpty,
      s"planner-forced shuffle below the partial aggregate:\n${forced.mkString("\n")}\n$plan")
  }

  test("q168 BPE encode: vocab joins broadcast, the corpus never sort-merges (r9)") {
    // the trained vocab is dictionary-scale; if the broadcast hint is
    // ever lost the doc-word join degrades to a corpus-wide
    // SortMergeJoin exchange — the regression that matters at 100 TB
    // the registry entry eagerly checkpoints (RDD-scan plan) — guard
    // the lazy variant, the q34/semDedupLazy precedent
    val (lazyDf, handle) = ops.TextOps.bpeEncodeLazy(spark, sf)
    val plan = lazyDf.queryExecution.executedPlan.toString
    handle.unpersist(false)
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"vocab join degraded to a sort-merge join:\n$plan")
  }

  test("q164 multi-table LSH: candidates dedup map-side before the rank exchange (r9)") {
    // the (qid, vec_id) MAX collapse must plan as partial+final hash
    // aggregate (map-side combine) — without it every duplicate
    // cross-table candidate rides the shuffle into the window sort
    val plan = physical("q164_ann_multilsh")
    assert(plan.contains("HashAggregate"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q171 IVF-PQ: candidate set broadcasts against the codes, never sort-merged (r9)") {
    // the candidate set is bounded (NQueries·probes·~cell-size rows);
    // if its broadcast is lost, the ADC scoring join degrades to a
    // corpus-wide exchange of the codes — the regression that matters
    // at 100 TB. Guard the lazy core (the registered entry eagerly
    // checkpoints, the q168 precedent).
    val all = ops.SimilarityOps.baseFor(spark, sf)
    val df = ops.SimilarityOps.ivfPqSearchCore(
      spark, all, ops.SimilarityOps.ivfKFor(all.count()))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"ADC scoring degraded to a sort-merge join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q172 residual IVF-PQ: centroid, candidate and LUT joins all broadcast (r9)") {
    // three broadcast-bounded sides ride the corpus scan: the MB-scale
    // centroid table (residual computation), the bounded candidate
    // set, and the per-(query, cell) LUT — if any one degrades, the
    // corpus shuffles for scoring
    val all = ops.SimilarityOps.baseFor(spark, sf)
    val df = ops.SimilarityOps.ivfPqResidualCore(
      spark, all, ops.SimilarityOps.ivfKFor(all.count()))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"residual scoring degraded to a sort-merge join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q174 filtered ANN: label attach and candidate joins broadcast, no cartesian (r10)") {
    // the bounded scored candidate set must BROADCAST against the
    // (vec_id, lbl) scan — if that flips, the corpus shuffles for the
    // label filter, the scale regression the lane's docstring promises
    // away. Both probe modes ride one routing (ivfRoutingRanked).
    val allL = ops.SimilarityOps.labeledBase(spark, sf)
    val df = ops.SimilarityOps.filteredAnnCore(
      spark, allL, ops.SimilarityOps.ivfKFor(allL.count()))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"label attach degraded to a sort-merge join:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("q176 MMR pool: one broadcast-nested-loop corpus pass, rank collapses before output (r10)") {
    // the pool stage is q176's ONLY corpus-scale work: the query set
    // rides a broadcast nested-loop join over the corpus scan and the
    // rn<=MmrPool window collapses it to queries*pool rows; a
    // CartesianProduct here means the broadcast was lost and the
    // corpus shuffles for scoring
    val all = ops.SimilarityOps.baseFor(spark, sf)
    val plan = ops.SimilarityOps.mmrPoolOn(all)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
  }

  test("q179 probe read-back prunes partitions at the FileScan (r10)") {
    // the lane's reason to exist: a 2-of-k-cell probe must touch
    // 2-of-k partition directories. An empty PartitionFilters means
    // the probe scans the whole index — the on-disk scale regression.
    val plan = ops.SimilarityOps.indexLayout(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"plan:\n$plan")
    assert(!plan.contains("PartitionFilters: []"),
      s"probe scan does not prune partitions:\n$plan")
  }

  test("q179 probe opens its cells from the layout's log: no job, only the probed cell dirs") {
    ops.SimilarityOps.indexLayout(spark, sf) // ensure layout
    assertPinnedRead("q179 probe", ops.SimilarityOps.indexLayoutDir(sf), None, Seq(0L, 1L))()
  }

  test("q191 generation-pinned reads prune partitions in EVERY generation's FileScan (r11)") {
    // the log must buy metadata-cost resolution, not save it and then
    // scan whole data directories: resolving a pin reads one log entry
    // (no Spark job), and each per-directory read in the pinned union
    // lists only the probed cells and carries its own PartitionFilters
    ops.SimilarityOps.indexVersions(spark, sf).collect() // fixture
    val dir = ops.SimilarityOps.versionDir(sf)
    Seq(0L, 1L).foreach { pin =>
      assertPinnedRead(s"pin $pin", dir, Some(pin), Seq(0L, 1L))()
    }
  }

  test("q180 serving fetch prunes partitions at the on-disk layout's FileScan (r11)") {
    // q180's static side is the committed cell layout, resolved once
    // before the stream starts; each micro-batch opens only its probe
    // cells — the exact fetch relation foreachBatch issues
    val dir = ops.SimilarityOps.vectorLayoutDir(spark, sf)
    assertPinnedRead("q180 fetch", dir, None, Seq(0L, 1L))(_.open(spark, _))
  }

  test("q182 compaction merge: pruned base scan + ONE exchange on the delta only (r11)") {
    // LSM minor compaction's scale contract: untouched cells are never
    // read (PartitionFilters on the base scan), the touched base lists
    // ride partition-aligned with no exchange, and the delta is the
    // only side that shuffles
    ops.SimilarityOps.indexCompaction(spark, sf).collect() // ensure fixture
    val delta = ops.SimilarityOps.compactionDeltaFor(spark, sf)
    val (merged, _) = ops.SimilarityOps.compactionMerge(
      spark, io.Layout.snapshot(ops.SimilarityOps.compactionDir(sf)), delta)
    val plan = merged.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: ["), s"plan:\n$plan")
    assert(!plan.contains("PartitionFilters: []"),
      s"base scan does not prune to the delta's cells:\n$plan")
    val exchanges = "Exchange".r.findAllMatchIn(plan).size
    assert(exchanges == 1,
      s"expected exactly one exchange (the delta side), got $exchanges:\n$plan")
  }

  test("q183 pre-filter read prunes BOTH partition levels at the FileScan (r11)") {
    // the lane's reason to exist: the label filter must prune at the
    // scan, BEFORE any scoring — each (label, cell) list is one
    // partition `list = lbl * k + cell`, and only the query label's
    // lists of the probed cells are listed
    ops.SimilarityOps.partitionedFilteredAnn(spark, sf).collect() // ensure layout
    val dir = ops.SimilarityOps.labelLayoutDir(spark, sf)
    val k = ops.SimilarityOps.ivfKFor(ops.SimilarityOps.embCount(spark, sf))
    // a label with a list in cell 0 (a centroid's own cell is never empty)
    val lbl = Math.floorDiv(
      io.Layout.snapshot(dir).parts.keys.filter(Math.floorMod(_, k) == 0L).min, k)
    val lists = Seq(0L, 1L).map(cell => lbl * k + cell)
    assertPinnedRead("q183 pre-filter read", dir, None, lists)(_.open(spark, _))
  }

  test("q187 delete merge: pruned scan + broadcast anti join, ZERO shuffle exchanges (r11)") {
    // the delete path's scale contract: only tombstone-touched cells
    // are read, the deleted postings drop in a map-side broadcast
    // LEFT ANTI join, and nothing shuffles — a delete costs the
    // touched lists, never the index
    ops.SimilarityOps.indexDelete(spark, sf).collect() // ensure fixture
    val tombstones = ops.SimilarityOps.deleteTombstonesFor(spark, sf)
    val (survivors, _) = ops.SimilarityOps.deleteMerge(
      spark, io.Layout.snapshot(ops.SimilarityOps.deleteDir(sf)), tombstones)
    val plan = survivors.queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("graft_delidx") && l.contains("PartitionFilters: [cell")),
      s"delete scan does not prune to touched cells:\n$plan")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"),
      s"tombstone drop is not a broadcast anti join:\n$plan")
    val shuffles = plan.linesIterator.count(l =>
      l.contains("Exchange") && !l.contains("BroadcastExchange"))
    assert(shuffles == 0,
      s"expected zero shuffle exchanges in the delete merge, got $shuffles:\n$plan")
  }

  test("q185 disk serving: pruned postings scan, probe join broadcasts (r11)") {
    // the serving read must prune to the probed cells at the FileScan
    // and the NQueries·probes probe relation must broadcast against
    // the postings — if either degrades, serving cost tracks the
    // index instead of the probe set
    ops.SimilarityOps.indexCompaction(spark, sf).collect() // ensure fixture
    val plan = ops.SimilarityOps.adcServePostingsFor(spark, sf)
      .queryExecution.executedPlan.toString
    // target the INDEX scan's own line: the plan also embeds the
    // routing's embeddings scans (not partitioned — their empty
    // PartitionFilters are expected)
    assert(plan.linesIterator.exists(l =>
        l.contains("graft_lsmidx") && l.contains("PartitionFilters: [cell")),
      s"serving postings scan does not prune on cell:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"probe join degraded to a sort-merge join:\n$plan")
  }

  test("q200/q207/q208 archive reads: map-side decode, the ONLY exchange " +
       "is the presentation sort (r11 plan-fence ask)") {
    Seq("q200_warc_ingest", "q207_gzip_sink", "q208_tgz_archive").foreach { n =>
      val plan = physical(n)
      assert(plan.contains("MapPartitions"),
        s"$n lost its map-side decode span:\n$plan")
      val ex = plan.linesIterator.filter(l =>
        l.contains("Exchange") && !l.contains("BroadcastExchange")).toSeq
      assert(ex.size == 1 && ex.head.contains("rangepartitioning"),
        s"$n decode path grew a data shuffle beyond the presentation sort:\n$plan")
    }
  }

  test("q205 per-source quota prunes map-side: TopKPerKeyPartial sits " +
       "BELOW the key exchange (r11 plan-fence ask)") {
    val plan = physical("q205_sample_per_source")
    val lines = plan.linesIterator.toSeq
    val iPartial = lines.indexWhere(_.contains("TopKPerKeyPartial"))
    val iExchange = lines.indexWhere(l =>
      l.contains("Exchange hashpartitioning"))
    assert(iPartial >= 0 && iExchange >= 0,
      s"expected TopKPerKeyPartial + key exchange:\n$plan")
    // plans print top-down: the exchange must appear ABOVE the partial
    assert(iExchange < iPartial,
      s"the map-side partial no longer feeds the exchange — the shuffle " +
        s"would carry the corpus:\n$plan")
  }

  test("q199 split serving: one checkpointed routing per phase, broadcast " +
       "probe scoring, no corpus-corpus shuffle (r11 plan-fence ask)") {
    val (_, after) = ops.SimilarityOps.splitServingPhases(spark, sf)
    val plan = after.queryExecution.executedPlan.toString
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    // nested loops allowed: the 1-row occupancy-stats attach + the two
    // query-scale routing crosses (NQueries-filtered left x broadcast
    // kit) — anything more means a corpus-side cross crept in
    val bnlj = plan.linesIterator.count(_.contains("BroadcastNestedLoopJoin"))
    assert(bnlj <= 3, s"unexpected nested loops ($bnlj):\n$plan")
    // every BNLJ left side must be query-scale or the occ-stats rollup:
    // the corpus assignment relation must reach scoring via the cell
    // equi-join, never a cross
    assert(plan.contains("TopKPerKeyPartial"),
      s"probe top-K lost its map-side partial:\n$plan")
  }

  test("q210 post-vacuum pinned read prunes partitions at every " +
       "generation's FileScan (r12 plan-fence ask)") {
    // the vacuum must not change the read's shape: a pin-at-floor read
    // over a vacuumed store still resolves owners from one log entry
    // and scans each data directory partition-PRUNED — an empty
    // PartitionFilters would mean the whole (partially reclaimed) store
    // is scanned. The registered lane vacuums a run-local fork of the
    // pristine store — fence that exact read shape.
    val laneRoot = s"${System.getProperty("java.io.tmpdir")}/graft_vacfence"
    ops.SimilarityOps.forkVersions(spark, sf, laneRoot, upTo = 1)
    io.Layout.vacuum(laneRoot, floor = 1L)
    assertPinnedRead("post-vacuum pin 1", laneRoot, Some(1L), Seq(0L, 1L))()
  }

  test("q211 video near-dup pair stage: df-capped postings equi-join, " +
       "never a nested loop or cartesian (r12 plan-fence ask)") {
    // the inverted index exists so candidates come from fingerprint
    // equality — a BroadcastNestedLoopJoin / CartesianProduct here
    // means the join key was lost and the corpus goes all-pairs
    val sigs = ops.MultimodalOps.videoSigsFor(spark, sf)
    val plan = ops.MultimodalOps.videoNearDupFrom(sigs, identity)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"pair stage degenerated to a nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(plan.contains("Join"), s"expected the postings self-join:\n$plan")
  }

  test("q213 audio clip-dup pair stage: df-capped positional postings " +
       "with in-place pair emission — one grain exchange, no join of " +
       "the grain relation (r12 plan-fence ask; r17 postings shape)") {
    val grains = ops.MultimodalOps.audioGrainsFor(spark, sf)
    val plan = ops.MultimodalOps.audioClipDupFrom(grains, identity)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"pair stage degenerated to a nested loop:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    // the pair stage is the q151 combinations idiom: candidate pairs
    // come off the df-capped posting lists in place — a Join of the
    // corpus-scale grain relation would mean the postings rewrite
    // regressed to the three-pass join shape. r18: the aggregate is
    // capped_collect_list (bounded buffer — no unbounded collect_list
    // may reappear here: a hot grain would buffer its full posting
    // list before the df cap could drop it)
    assert(plan.contains("capped_collect_list"),
      s"expected the bounded postings aggregate:\n$plan")
    assert("(?<!capped_)collect_list".r.findFirstIn(plan).isEmpty,
      s"unbounded collect_list reappeared in the postings stage:\n$plan")
  }

  test("q212 serving fetch reuses q193's pruned shape: pruned store " +
       "FileScans + broadcast probe join (r12 plan-fence ask)") {
    // replicate the lane's batch-0 moment outside the stream: the
    // run-local gen-0 fork of the PRISTINE store and the exact
    // per-batch serving relation the foreachBatch issues
    val hex = java.lang.Integer.toHexString(sf.hashCode)
    val laneRoot = s"${System.getProperty("java.io.tmpdir")}/graft_svvac_fence_$hex"
    ops.SimilarityOps.forkVersions(spark, sf, laneRoot, upTo = 0)
    assertPinnedRead("batch-0 fetch", laneRoot, None, Seq(0L, 1L))()
    import spark.implicits._
    val probes = Seq((100L, 0L), (101L, 1L)).toDF("qid", "cell")
    val plan = streaming.StreamingOps.svServeRelation(
        spark, io.Layout.snapshot(laneRoot), Seq(0L, 1L), probes)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("graft_genidx") && l.contains("PartitionFilters: [cell")),
      s"serving fetch does not prune the store scan on cell:\n$plan")
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"probe join degraded to a sort-merge join:\n$plan")
  }

  test("q209 state plan stays per-user-keyed under the 2d watermark " +
       "(r12 plan-fence ask)") {
    // the funnel's exactness proof hangs on (a) per-user state keying
    // and (b) a watermark delay of exactly twice the staged disorder
    // bound — fence both on the UNSTARTED stream's analyzed plan
    val srcDir = streaming.StreamingOps.wmFunnelSrcDir(spark, sf)
    val analyzed = streaming.StreamingOps.wmFoldStream(spark, srcDir)
      .queryExecution.analyzed
    import org.apache.spark.sql.catalyst.plans.logical.{EventTimeWatermark, FlatMapGroupsWithState}
    val fm = analyzed.collect { case f: FlatMapGroupsWithState => f }
    assert(fm.size == 1, s"expected one FlatMapGroupsWithState:\n$analyzed")
    // the grouping key deserializes from the per-user groupByKey — its
    // single grouping attribute must trace to user_id (value: Long)
    assert(fm.head.groupingAttributes.size == 1,
      s"state must key on exactly the user:\n${fm.head.groupingAttributes}")
    val wm = analyzed.collect { case w: EventTimeWatermark => w }
    assert(wm.size == 1, s"expected one EventTimeWatermark:\n$analyzed")
    assert(wm.head.delay.microseconds == 2 * streaming.StreamingOps.DisorderUs,
      s"watermark delay is not 2x the disorder bound: ${wm.head.delay}")
  }

  test("q214 composite: banded pair equi-join + broadcast contamination " +
       "attach, never a cartesian (r13)") {
    // the per-doc audit relation carries the whole gate chain: its
    // near-dup stage must stay the q34 banded equi-join and the
    // contamination attach must ride the broadcast bench-gram set —
    // a cartesian/nested-loop here means a gate lost its key
    val (audited, _, handles) = ops.PipelineOps.pipelineDocs(spark, sf)
    val plan = audited.queryExecution.executedPlan.toString
    handles.foreach(_.unpersist(false))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    assert(plan.contains("BroadcastHashJoin"),
      s"contamination attach lost its broadcast:\n$plan")
  }

  test("q215 increment: admission joins stay (band,key) equi-joins, " +
       "never a cartesian (r13)") {
    // the incremental contract: the delta checks against the base
    // INDEX via band-key equality (cost linear in the batch) — a
    // cartesian/nested-loop here means delta x corpus went all-pairs
    val (lazyDf, handles) = ops.PipelineOps.pipelineIncrementLazy(spark, sf)
    val plan = lazyDf.queryExecution.executedPlan.toString
    handles.foreach(_.unpersist(false))
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    assert(plan.contains("Join"), s"expected the banded admission joins:\n$plan")
  }

  test("q216 per-batch admission: banded equi-joins over the static + " +
       "accumulated indexes, broadcast contamination, never a cartesian " +
       "(r13 verdict #2)") {
    // replicate one micro-batch's admission relation outside the
    // stream via the extracted spiBatchAdmit surface: a plan
    // regression in the per-batch joins (cartesian, lost broadcast)
    // would otherwise pass sbt test silently inside foreachBatch
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, size, split}
    // a real corpus slice: enough docs survive the gates that the
    // clean-signature side is non-empty (a gate-failing synthetic
    // fixture lets empty-relation propagation fold the dvb probe away
    // and the fence would assert against a degenerate plan)
    val batch = Tables.documents(spark, sf)
      .select(col("doc_id"), col("source"), col("text")).limit(30)
    val audit = ops.PipelineOps.gateAudit(batch)
      .withColumn("n_tok", size(split(col("rtext"), " ")).cast("long"))
    val bSigs = ops.PipelineOps.sharedBaseIndex(spark, sf)
    val idxDir = ops.PipelineOps.persistAdmissionIndex(spark, sf)
    val benchGrams = Array(123456789L)
    val prior = bSigs.limit(2) // stand-in for the accumulated index
    val (verdicts, _, dg3k) = streaming.StreamingOps.spiBatchAdmit(
      spark, audit, benchGrams, prior,
      db => ops.PipelineOps.probeBandedIndex(spark, idxDir, db))
    val plan = verdicts.queryExecution.executedPlan.toString
    dg3k.unpersist(false)
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    // r17: the contamination check is a map-side arrays_overlap
    // against the literal benchmark gram set — no gram explode, no
    // join for it anywhere in the per-batch plan
    assert(plan.contains("arrays_overlap"),
      s"contamination check is no longer the map-side overlap:\n$plan")
    assert(plan.contains("Join"), s"expected the banded admission joins:\n$plan")
    // the dup-vs-base stage rides the q217 disk index: the store scan
    // must prune on pb inside THIS per-batch plan too
    assert(plan.linesIterator.exists(l =>
        l.contains("graft_admidx") && l.contains("PartitionFilters: [pb")),
      s"per-batch admission does not prune the index scan:\n$plan")
  }

  test("q217 disk-index probe: store FileScan prunes on pb, admission " +
       "stays a (band,key) equi-join (r14)") {
    // the persisted-index contract: a delta probe reads ONLY its
    // candidate pb buckets — an empty PartitionFilters means every
    // ingest scans the whole corpus-scale index
    val dir = ops.PipelineOps.persistAdmissionIndex(spark, sf)
    val dSigs = ops.PipelineOps.sharedBaseIndex(spark, sf).limit(3)
    val plan = ops.PipelineOps.probeAdmissionIndex(spark, dir, dSigs)
      .queryExecution.executedPlan.toString
    assert(plan.linesIterator.exists(l =>
        l.contains("graft_admidx") && l.contains("PartitionFilters: [pb")),
      s"probe does not prune the index scan on pb:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"plan:\n$plan")
    assert(plan.contains("Join"), s"expected the banded probe join:\n$plan")
  }

  test("q177 trained residual IVF-PQ serves through q172's broadcast plan (r10)") {
    // training only changes the BOOK CONTENTS (driver-side values);
    // the serving plan must stay q172's — bounded candidate + LUT
    // broadcasts, no corpus exchange for scoring
    val all = ops.SimilarityOps.baseFor(spark, sf)
    val df = ops.SimilarityOps.ivfPqResidualTrainedCore(
      spark, all, ops.SimilarityOps.ivfKFor(all.count()),
      ops.SimilarityOps.pqTrainRoundsFor(all.count()))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"plan:\n$plan")
    assert(!plan.contains("SortMergeJoin"), s"plan:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"plan:\n$plan")
  }

  test("no CartesianProduct in any LAZY pre-checkpoint plan surface (r15)") {
    // complements the registry-wide sweep in RegistrySmokeSpec (which
    // sees the post-checkpoint RDD-scan plans of the eager lanes):
    // the checkpointing lanes' real join shapes live in their lazy
    // variants, swept here without executing them
    val surfaces: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "q34_lazy" -> (() => {
        val (p, sh) = ops.DedupOps.dedupMinhashLazy(spark, sf)
        sh.unpersist(false); p
      }),
      "q152_lazy" -> (() => {
        val (p, hs) = ops.TextOps.dsirWeightLazy(spark, sf)
        hs.foreach(_.unpersist(false)); p
      }),
      "q156_lazy" -> (() => {
        val (p, hs) = ops.DedupOps.intraRepeatLazy(spark, sf)
        hs.foreach(_.unpersist(false)); p
      }),
      "q158_lazy" -> (() => {
        val (p, t) = ops.TextOps.hybridRrfLazy(spark, sf)
        t.unpersist(false); p
      }),
      "q131_lazy" -> (() => {
        val (p, hs) = ops.SimilarityOps.semDedupLazy(spark, sf)
        hs.foreach(_.unpersist(false)); p
      }),
      "q215_lazy" -> (() => {
        val (p, hs) = ops.PipelineOps.pipelineIncrementLazy(spark, sf)
        hs.foreach(_.unpersist(false)); p
      }))
    surfaces.foreach { case (name, mk) =>
      val plan = mk().queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name: CartesianProduct in the lazy plan:\n$plan")
    }
  }
}
