package graft

import graft.expressions.{MinHashSig, VecDot}
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** SparkSessionExtensions entry point: registers graft's native
  * expressions for SQL use (`SELECT vec_dot(a, b)`), so the engine's
  * custom kernels are first-class functions, not just Scala helpers.
  *
  * Every session of the engine loads it: [[Sessions.benchSession]], the
  * one factory that Bench, Verify (the oracle's dump), ScaleSmoke, Plans
  * and the tests share, sets `spark.sql.extensions` to this class. So the
  * DuckDB oracle checks the plans these rules produce, the ones Bench
  * times; `ExtensionEquivalenceSpec` shows they change no answer.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(e: SparkSessionExtensions): Unit = {
    e.injectFunction((
      new FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (children.length != 2) {
          throw new IllegalArgumentException(
            s"vec_dot(array<float|double>, array<float|double>) takes 2 " +
              s"arguments, got ${children.length}")
        }
        VecDot(children(0), children(1))
      }))
    e.injectFunction((
      new FunctionIdentifier("minhash_sig"),
      new ExpressionInfo(classOf[MinHashSig].getName, "minhash_sig"),
      (children: Seq[org.apache.spark.sql.catalyst.expressions.Expression]) => {
        if (children.length != 1) {
          throw new IllegalArgumentException(
            s"minhash_sig(array<bigint>) takes 1 argument, got ${children.length}")
        }
        MinHashSig(children.head)
      }))
    e.injectPlannerStrategy(_ => graft.plans.GraftStrategies)
    e.injectOptimizerRule(_ => graft.plans.TopKRankPushdown)
    e.injectOptimizerRule(_ => graft.plans.BinnedRangeJoin)
  }
}
