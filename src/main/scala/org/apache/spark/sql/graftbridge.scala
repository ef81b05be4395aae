package org.apache.spark.sql

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.classic.ExpressionUtils

/** Bridge into Spark's private[sql] Column<->Expression converters
  * (org.apache.spark.sql.classic.ExpressionUtils, Spark 4.x). Lives in
  * the org.apache.spark.sql package solely to satisfy the private[sql]
  * scope — the standard pattern for libraries shipping native Catalyst
  * expressions against the decoupled Column API.
  */
object graftbridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  /** Canonicalize -0.0 → 0.0 and NaN → the canonical NaN (recursively
    * through structs/arrays). The optimizer applies this to the keys of
    * every built-in grouping/join/window operator; custom operators that
    * hash or byte-compare key bytes must apply it themselves or ±0.0
    * keys land in different shuffle partitions (ADVICE r4).
    */
  def normalizeFloats(e: Expression): Expression =
    org.apache.spark.sql.catalyst.optimizer.NormalizeFloatingNumbers.normalize(e)
  /** Block until every queued listener event has been delivered — an
    * exact drain where a fixed sleep is only best-effort on a loaded box.
    */
  def drainListenerBus(sc: org.apache.spark.SparkContext): Unit =
    sc.listenerBus.waitUntilEmpty()
  /** Deliver `e` to every listener of `sc` (their `onOtherEvent`). */
  def postEvent(sc: org.apache.spark.SparkContext,
                e: org.apache.spark.scheduler.SparkListenerEvent): Unit =
    sc.listenerBus.post(e)
  def ofRows(spark: SparkSession,
             plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame =
    classic.Dataset.ofRows(
      spark.asInstanceOf[classic.SparkSession], plan)
}
