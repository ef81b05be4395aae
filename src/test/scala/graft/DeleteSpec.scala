package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops.SimilarityOps

/** q187 tombstone deletes held against ground truth: compacting a
  * delete set into the persisted index must be HASH-INDISTINGUISHABLE
  * from rebuilding the index from the retained corpus — over ALL
  * cells, not just the probed ones the registered lane returns. Plus
  * idempotence (re-entrant call must not re-delete / mutate) and the
  * non-vacuity checks that keep the lane honest.
  */
class DeleteSpec extends AnyFunSuite with SparkTestBase {

  private def readAll() =
    io.Layout.snapshot(SimilarityOps.deleteDir(sf)).readAll(spark)
      .select(col("vec_id"), col("cell").cast("long").as("cell"),
              col("s"), col("code"), col("err_e6"))
      .orderBy("vec_id", "s", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq

  test("post-delete index == rebuild from the retained corpus, over ALL cells") {
    SimilarityOps.indexDelete(spark, sf).collect() // build + delete
    val got = readAll()
    val want = SimilarityOps.residualCodesBatch(spark, sf, lit(true))
      .filter(col("vec_id") % 11 =!= 4)
      .select("vec_id", "cell", "s", "code", "err_e6")
      .orderBy("vec_id", "s", "cell").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
                 r.getLong(4))).toSeq
    assert(got.size == want.size,
      s"row-count drift: post-delete ${got.size} vs filtered rebuild ${want.size}")
    assert(got == want, "tombstone compaction is distinguishable from a filtered rebuild")
    assert(got.forall(_._1 % 11 != 4), "a tombstoned vec_id survived the delete")
  }

  test("the delete set is genuinely non-empty and survivors remain") {
    SimilarityOps.indexDelete(spark, sf).collect()
    val n = Tables.embeddings(spark, sf).count()
    val nDel = Tables.embeddings(spark, sf).filter(col("vec_id") % 11 === 4).count()
    assert(nDel > 0, "empty tombstone set — the lane tests nothing")
    assert(nDel < n, "everything deleted — the lane tests nothing")
    val survivors = readAll().map(_._1).distinct.size.toLong
    assert(survivors == n - nDel,
      s"survivor count $survivors != corpus $n - deleted $nDel")
  }

  test("delete is idempotent: a second call must not mutate the index") {
    SimilarityOps.indexDelete(spark, sf).collect()
    val first = readAll()
    SimilarityOps.indexDelete(spark, sf).collect()
    assert(readAll() == first, "re-entrant delete mutated the index")
  }
}
