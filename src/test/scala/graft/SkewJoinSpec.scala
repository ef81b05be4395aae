package graft

import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** AQE skew-join handling — the runtime complement to q52's explicit
  * salting. A hot key that would pin one reducer for the whole stage is
  * split into multiple tasks by AQE at execution time, with no query
  * rewrite: the 100 TB answer to "one customer is half the fact table".
  */
class SkewJoinSpec extends AnyFunSuite with SparkTestBase {

  test("AQE splits the hot key of a skewed sort-merge join at runtime") {
    import spark.implicits._
    // 50k rows of key 0 + 1k spread keys vs a 2k-row right side
    val left = spark.range(51000)
      .select(when(col("id") < 50000, 0L).otherwise(col("id") - 49999).as("k"),
              col("id").as("v"))
    val right = spark.range(2000).select(col("id").as("k2"), lit(1L).as("w"))
    val joined = left.join(right.hint("merge"), col("k") === col("k2"))
    withConf(
      "spark.sql.adaptive.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "16KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "16KB",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // collect() executes THIS dataset's QueryExecution (count() would
      // spawn its own, leaving joined.queryExecution un-executed)
      val n = joined.collect().length
      assert(n == 50000 + 1000, s"wrong join result $n")
      val adaptive = joined.queryExecution.executedPlan.collectFirst {
        case a: AdaptiveSparkPlanExec => a
      }
      assert(adaptive.isDefined, "expected an adaptive plan")
      val finalPlan = adaptive.get.executedPlan.toString
      assert(finalPlan.contains("skew=true"),
        s"AQE did not mark the join skewed:\n$finalPlan")
    }
  }
}
