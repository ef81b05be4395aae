package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.SimilarityOps

/** q171/q172 IVF-ADC properties:
  *  1. every q171 output row (qid, n_cand, n_overlap,
  *     recall_millionths) matches a full independent driver-side rerun
  *     of the lane — coarse routing (argmin cell + top-probe cells),
  *     seed-book PQ codes, the floor-e6 integer LUT, ADC top-K over
  *     the pruned candidates, exact-L2 top-K over the FULL corpus, and
  *     the overlap — all in the production fold order;
  *  2. the same for q172's residual variant: residual codebooks from
  *     seeds [k, k+PqK) (the first k vectors are the centroids — their
  *     residuals are zero, so seeding from them would build degenerate
  *     books), per-(query, probed-cell) LUT over query residuals;
  *  3. the coarse index actually PRUNES: each query's candidate count
  *     is well under the corpus size (the lanes' reason to exist vs
  *     full-corpus ADC q157), candidate sets are IDENTICAL across the
  *     two lanes (shared routing — the recall delta isolates the
  *     encoding), and the measured pruning factor and both recalls are
  *     reported.
  *
  * Geometry is derived from the lane's own constants (IvfProbes, PqM/
  * PqSub/PqK, NQueries, TopK) — the MultiLshSpec lesson: a constant
  * change must not silently leave the spec testing a different shape.
  */
class IvfPqSpec extends AnyFunSuite with SparkTestBase {

  private val M = SimilarityOps.PqM
  private val Sub = SimilarityOps.PqSub
  private val K = SimilarityOps.PqK
  private val NQ = SimilarityOps.NQueries
  private val Top = SimilarityOps.TopK
  private val Probes = SimilarityOps.IvfProbes

  /** Left-to-right fold from 0.0 — the vec_dot kernel's order. */
  private def dot(a: Array[Double], b: Array[Double]): Double = {
    var acc = 0.0; var i = 0
    while (i < a.length) { acc += a(i) * b(i); i += 1 }
    acc
  }

  private def r6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def loadVecs(): Array[(Long, Array[Double])] =
    Tables.embeddings(spark, sf).select("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).map(_.toDouble).toArray)
      .sortBy(_._1)

  /** Coarse routing shared by both reruns: per-id assigned cell and,
    * for queries, the probe-cell set.
    */
  private case class Routing(
      k: Long, cellOf: Map[Long, Long], probesOf: Map[Long, Seq[Long]])

  private def route(vecs: Array[(Long, Array[Double])]): Routing = {
    val k = SimilarityOps.ivfKFor(vecs.length.toLong)
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dot(v, v)) }.toMap
    val cents = vecs.filter(_._1 < k)
    def cellRank(id: Long, v: Array[Double]): Seq[(Double, Long)] =
      cents.toSeq.map { case (cid, cv) => (-dot(v, cv) / (nrm(id) * nrm(cid)), cid) }
        .sortBy(identity)
    Routing(
      k,
      vecs.map { case (id, v) => id -> cellRank(id, v).head._2 }.toMap,
      vecs.filter(_._1 < NQ).map { case (id, v) =>
        id -> cellRank(id, v).take(Probes).map(_._2)
      }.toMap)
  }

  private def booksFrom(seeds: Seq[(Long, Array[Double])]): IndexedSeq[IndexedSeq[(Long, Array[Double])]] =
    (0 until M).map { s =>
      seeds.toIndexedSeq.map { case (cid, cv) =>
        (cid, cv.slice(s * Sub, s * Sub + Sub))
      }
    }

  /** ADC + exact + overlap over the routed candidates; `encOf` maps an
    * id to the vector the codes quantize (raw for q171, residual for
    * q172) and `lutVecOf(qid, cell)` to the vector the LUT measures
    * from (query, or query residual wrt the probed cell).
    */
  private def score(
      vecs: Array[(Long, Array[Double])], r: Routing,
      books: IndexedSeq[IndexedSeq[(Long, Array[Double])]],
      encOf: Long => Array[Double],
      lutVecOf: (Long, Long) => Array[Double]): Seq[(Long, Long, Long, Long)] = {

    def codeOf(v: Array[Double], s: Int): Long = {
      val vSub = v.slice(s * Sub, s * Sub + Sub)
      val vv = dot(vSub, vSub)
      books(s).map { case (cid, cb) =>
        (vv - 2.0 * dot(vSub, cb) + dot(cb, cb), cid)
      }.minBy(identity)._2
    }
    val codes = vecs.map { case (id, _) =>
      id -> (0 until M).map(s => codeOf(encOf(id), s))
    }.toMap

    // LUT keyed (qid, cell, s, cid) — for q171 the cell key is unused
    // upstream (lutVecOf ignores it) but harmless
    val lut = (for {
      qid <- (0 until NQ).map(_.toLong)
      cell <- r.probesOf(qid)
      s <- 0 until M
      (cid, cb) <- books(s)
    } yield {
      val qv = lutVecOf(qid, cell)
      var acc = 0.0; var j = 0
      while (j < Sub) { val dd = qv(s * Sub + j) - cb(j); acc += dd * dd; j += 1 }
      ((qid, cell, s, cid), math.floor(acc * 1000000.0).toLong)
    }).toMap

    (0 until NQ).map { qi =>
      val (qid, qv) = vecs(qi)
      val cand = vecs.filter { case (id, _) =>
        id != qid && r.probesOf(qid).contains(r.cellOf(id))
      }
      val topAdc = cand.toSeq.map { case (id, _) =>
        val cell = r.cellOf(id)
        (codes(id).zipWithIndex.map { case (c, s) => lut((qid, cell, s, c)) }.sum, id)
      }.sortBy(identity).take(Top).map(_._2).toSet
      val qq = dot(qv, qv)
      val topExact = vecs.toSeq.filter(_._1 != qid).map { case (id, v) =>
        (r6(dot(v, v) - 2.0 * dot(qv, v) + qq), id)
      }.sortBy(identity).take(Top).map(_._2)
      val overlap = topExact.count(topAdc.contains).toLong
      (qid, cand.length.toLong, overlap, overlap * 1000000L / Top)
    }
  }

  /** q171 rerun: raw-vector codes from seed books [0, PqK). */
  private def rerunRaw(vecs: Array[(Long, Array[Double])]): Seq[(Long, Long, Long, Long)] = {
    val r = route(vecs)
    val byId = vecs.toMap
    score(vecs, r, booksFrom(vecs.take(K).toSeq),
          encOf = byId, lutVecOf = (qid, _) => byId(qid))
  }

  /** q172 rerun: residual codes from seeds [k, k+PqK), cell-dependent
    * query-residual LUT.
    */
  private def rerunResidual(vecs: Array[(Long, Array[Double])]): Seq[(Long, Long, Long, Long)] = {
    val r = route(vecs)
    val byId = vecs.toMap
    def residual(v: Array[Double], cell: Long): Array[Double] = {
      val cv = byId(cell)
      Array.tabulate(v.length)(i => v(i) - cv(i))
    }
    val seeds = vecs.filter { case (id, _) => id >= r.k && id < r.k + K }
      .map { case (id, v) => (id, residual(v, r.cellOf(id))) }
    score(vecs, r, booksFrom(seeds.toSeq),
          encOf = id => residual(byId(id), r.cellOf(id)),
          lutVecOf = (qid, cell) => residual(byId(qid), cell))
  }

  /** Independent driver-side Lloyd loop over arbitrary vectors — the
    * q165 recipe (argmin assignment under the previous round's books,
    * quantized-integer mean update) re-implemented from scratch for
    * the q177 differential.
    */
  private def lloyd(
      xs: Seq[(Long, Array[Double])],
      seed: IndexedSeq[IndexedSeq[(Long, Array[Double])]],
      rounds: Int): IndexedSeq[IndexedSeq[(Long, Array[Double])]] = {
    var books = seed
    def codeOf(v: Array[Double], s: Int): Long = {
      val vSub = v.slice(s * Sub, s * Sub + Sub)
      val vv = dot(vSub, vSub)
      books(s).map { case (cid, cb) =>
        (vv - 2.0 * dot(vSub, cb) + dot(cb, cb), cid)
      }.minBy(identity)._2
    }
    for (_ <- 1 to rounds) {
      val asg: Seq[(Int, Long, Array[Double])] = xs.flatMap { case (_, v) =>
        (0 until M).map(s => (s, codeOf(v, s), v))
      }
      books = (0 until M).map { s =>
        asg.filter(_._1 == s).groupBy(_._2).map { case (code, ms) =>
          (code, Array.tabulate(Sub) { j =>
            val qx = ms.map(m => math.floor(m._3(s * Sub + j) * 1e6).toLong).sum
            (qx.toDouble / 1e6) / ms.size
          })
        }.toIndexedSeq.sortBy(_._1)
      }
    }
    books
  }

  /** q177 rerun: q172's shape with the residual books Lloyd-trained
    * for pqTrainRoundsFor(n) rounds before coding.
    */
  private def rerunTrained(vecs: Array[(Long, Array[Double])]): Seq[(Long, Long, Long, Long)] = {
    val r = route(vecs)
    val byId = vecs.toMap
    def residual(v: Array[Double], cell: Long): Array[Double] = {
      val cv = byId(cell)
      Array.tabulate(v.length)(i => v(i) - cv(i))
    }
    val resids = vecs.toSeq.map { case (id, v) => (id, residual(v, r.cellOf(id))) }
    val seeds = resids.filter { case (id, _) => id >= r.k && id < r.k + K }
    val trained = lloyd(resids, booksFrom(seeds),
      SimilarityOps.pqTrainRoundsFor(vecs.length.toLong))
    val residOf = resids.toMap
    score(vecs, r, trained,
          encOf = residOf,
          lutVecOf = (qid, cell) => residual(byId(qid), cell))
  }

  test("q171 rows match a full driver-side IVF-PQ rerun") {
    val got = SimilarityOps.ivfPqSearch(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == rerunRaw(loadVecs()))
  }

  test("q172 rows match a full driver-side residual IVF-PQ rerun") {
    val got = SimilarityOps.ivfPqResidual(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    assert(got == rerunResidual(loadVecs()))
  }

  test("q177 rows match a full driver-side Lloyd-trained residual IVF-PQ rerun") {
    val vecs = loadVecs()
    val got = SimilarityOps.ivfPqResidualTrained(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSeq
    val want = rerunTrained(vecs)
    assert(got == want)
    // same candidate sets as the seed-book lane (shared routing): the
    // recall delta isolates what TRAINING buys over the seed books
    val seedRows = rerunResidual(vecs)
    assert(got.map(r => (r._1, r._2)) == seedRows.map(r => (r._1, r._2)))
    def recall(rows: Seq[(Long, Long, Long, Long)]): Double =
      rows.map(_._4).sum.toDouble / rows.size / 1e6
    info(f"recall@$Top seed books ${recall(seedRows)}%.2f -> " +
      f"trained books ${recall(got)}%.2f (${SimilarityOps.pqTrainRoundsFor(vecs.length.toLong)} Lloyd rounds)")
  }

  test("q179 read-back postings match a driver-side decode; layout is one dir per cell") {
    val vecs = loadVecs()
    val r = route(vecs)
    val byId = vecs.toMap
    def residual(v: Array[Double], cell: Long): Array[Double] = {
      val cv = byId(cell)
      Array.tabulate(v.length)(i => v(i) - cv(i))
    }
    val seeds = vecs.filter { case (id, _) => id >= r.k && id < r.k + K }
      .map { case (id, v) => (id, residual(v, r.cellOf(id))) }
    val books = booksFrom(seeds.toSeq)
    def codeRow(v: Array[Double], s: Int): (Long, Long) = {
      val vSub = v.slice(s * Sub, s * Sub + Sub)
      val vv = dot(vSub, vSub)
      val (dist, cid) = books(s).map { case (cid, cb) =>
        (vv - 2.0 * dot(vSub, cb) + dot(cb, cb), cid)
      }.minBy(identity)
      (cid, math.floor(dist * 1000000.0).toLong)
    }
    val probeCells = r.probesOf(0L).toSet
    val want = vecs.toSeq.filter(v => probeCells.contains(r.cellOf(v._1)))
      .flatMap { case (id, v) =>
        val rv = residual(v, r.cellOf(id))
        (0 until M).map { s =>
          val (cid, err) = codeRow(rv, s)
          (r.cellOf(id), id, s.toLong, cid, err)
        }
      }.sortBy(t => (t._1, t._2, t._3))
    val got = SimilarityOps.indexLayout(spark, sf).collect()
      .map(rr => (rr.getLong(0), rr.getLong(1), rr.getLong(2),
                  rr.getLong(3), rr.getLong(4))).toSeq
    assert(got == want, "read-back postings != driver-side decode")
    // the committed layout really is one partition per inverted list
    val parts = graft.io.Layout.snapshot(SimilarityOps.indexLayoutDir(sf)).parts
    assert(parts.keySet == vecs.map(v => r.cellOf(v._1)).toSet,
      "committed partitions != occupied cells")
    info(s"${parts.size} committed cell partitions; probe read ${got.size} postings " +
      s"from ${probeCells.size} cells")
  }

  test("q175 occupancy histogram matches a driver-side routing rerun; cells account for the corpus") {
    val vecs = loadVecs()
    val r = route(vecs)
    val occ = vecs.groupBy(v => r.cellOf(v._1)).map { case (c, vs) => c -> vs.length.toLong }
    val want = (0L until r.k).toSeq
      .map(cid => occ.getOrElse(cid, 0L))
      .groupBy(identity).map { case (o, cs) => (o, cs.size.toLong) }
      .toSeq.sortBy(_._1)
    val got = SimilarityOps.ivfStats(spark, sf).collect()
      .map(rr => (rr.getLong(0), rr.getLong(1))).toSeq
    assert(got == want)
    // the histogram accounts for every cell and every vector
    assert(got.map(_._2).sum == r.k)
    assert(got.map { case (o, n) => o * n }.sum == vecs.length)
    val max = got.map(_._1).max; val mean = vecs.length.toDouble / r.k
    info(f"k=${r.k} cells, mean occupancy $mean%.1f, max $max " +
      f"(imbalance ${max / mean}%.1fx), empty ${got.find(_._1 == 0L).map(_._2).getOrElse(0L)}")
  }

  test("the coarse index prunes; shared routing; the measured trade is reported") {
    val vecs = loadVecs()
    val raw = rerunRaw(vecs)
    val res = rerunResidual(vecs)
    val n = vecs.length
    // identical candidate sets: the recall delta isolates the encoding
    assert(raw.map(r => (r._1, r._2)) == res.map(r => (r._1, r._2)))
    raw.foreach { case (qid, nCand, _, _) =>
      // probes/k of the cells ⇒ far fewer candidates than the corpus;
      // 4x slack over the expected share absorbs cell-size skew
      assert(nCand < n - 1, s"qid $qid: no pruning ($nCand of ${n - 1})")
      val expectedShare = Probes.toDouble / SimilarityOps.ivfKFor(n.toLong)
      assert(nCand <= n * expectedShare * 4 + K,
        s"qid $qid: candidate set $nCand way over the probes/k share")
    }
    val meanCand = raw.map(_._2).sum.toDouble / raw.size
    def recall(rows: Seq[(Long, Long, Long, Long)]): Double =
      rows.map(_._4).sum.toDouble / rows.size / 1e6
    info(f"corpus $n, mean candidates $meanCand%.1f " +
      f"(${n / meanCand}%.1fx pruning); recall@$Top raw(leaked seeds) " +
      f"${recall(raw)}%.2f vs residual(held-out seeds) ${recall(res)}%.2f")
    (raw ++ res).foreach { case (_, _, ov, rm) => assert(rm == ov * 1000000L / Top) }
  }
}
