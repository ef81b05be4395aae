package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.rules.RuleExecutor
import org.scalatest.funsuite.AnyFunSuite

/** The oracle and the tests run the session Bench times, with the
  * [[GraftExtensions]] optimizer rules on, so the oracle checks the
  * extension plans. This spec proves that those rules change no answer:
  * every registered lane is built at sf0.001 with them; each lane whose
  * plans they change is built again without them (where they must not
  * fire), and returns the same rows (in any order) with the rules on,
  * with them off, with AQE off, and at 1 and at 7 shuffle partitions.
  */
class ExtensionEquivalenceSpec extends AnyFunSuite with SparkTestBase {

  private val Rules = Seq("graft.plans.TopKRankPushdown", "graft.plans.BinnedRangeJoin")
  private val RulesOff = "spark.sql.optimizer.excludedRules" -> Rules.mkString(",")

  /** An order-insensitive digest of `df`'s rows: each row rendered to
    * text (binary by content, map entries sorted), the lines sorted and
    * hashed, prefixed by the row count.
    */
  private def contentHash(df: DataFrame): String = {
    def render(v: Any): String = v match {
      case null => "null"
      case b: Array[Byte] => b.mkString("0x[", ",", "]")
      case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
      case m: scala.collection.Map[_, _] =>
        m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
      case s: Iterable[_] => s.map(render).mkString("[", ",", "]")
      case x => x.toString
    }
    val rows = df.collect().map(render).sorted
    val md = java.security.MessageDigest.getInstance("SHA-256")
    rows.foreach(r => md.update((r + "\n").getBytes("UTF-8")))
    s"${rows.length} rows " + md.digest().map("%02x".format(_)).mkString
  }

  /** Effective invocations of each extension rule so far in this JVM,
    * from the optimizer's rule metering (`RuleExecutor.dumpTimeSpent`,
    * columns: rule, effective / total time, effective / total runs). An
    * invocation is effective when it changed the plan.
    */
  private def effectiveRuns(): Seq[Long] = {
    val lines = RuleExecutor.dumpTimeSpent().split("\n").map(_.trim)
    Rules.map(r => lines.find(_.startsWith(r + " "))
      .fold(0L)(_.split("\\s+")(4).toLong))
  }

  /** Builds lane `q`, then drops what it persisted (as Verify and Bench
    * do between lanes), and tells whether one of the extension rules
    * changed a plan on the way: in the plan of the frame it returns, or
    * in a query it ran while building (q97, for one, is materialized by
    * a local checkpoint). This is the with- and without-rules plan
    * comparison: comparing two builds' plans directly does not work,
    * as about 80 lanes differ build to build for other reasons (a new
    * checkpoint RDD, new UDF instances, a newly collected local
    * relation).
    */
  private def rulesFire(q: Q): Boolean = {
    val before = effectiveRuns()
    try q.build(spark, sf).queryExecution.optimizedPlan
    finally spark.catalog.clearCache()
    effectiveRuns() != before
  }

  test("the extension rules change no lane's answer under any of five configs") {
    val changed = Registry.all.filter { q =>
      rulesFire(q) && {
        assert(!withConf(RulesOff)(rulesFire(q)), s"${q.name}: excluded rules still fired")
        true
      }
    }
    val names = changed.map(_.name)
    info(s"lanes whose plan the rules change: ${names.mkString(", ")}")
    Seq("q97_", "q38_", "q77_").foreach { p =>
      assert(names.exists(_.startsWith(p)), s"no ${p}* lane among the changed ones: $names")
    }

    val configs = Seq(
      "rules on" -> Seq.empty[(String, String)],
      "rules off" -> Seq(RulesOff),
      "AQE off" -> Seq("spark.sql.adaptive.enabled" -> "false"),
      "1 shuffle partition" -> Seq("spark.sql.shuffle.partitions" -> "1"),
      "7 shuffle partitions" -> Seq("spark.sql.shuffle.partitions" -> "7"))
    val divergent = changed.flatMap { q =>
      val hashes = configs.map { case (label, conf) =>
        label -> withConf(conf: _*) {
          try contentHash(q.build(spark, sf)) finally spark.catalog.clearCache()
        }
      }
      if (hashes.map(_._2).distinct.size == 1) None
      else Some(s"${q.name}: " + hashes.map { case (l, h) => s"$l=$h" }.mkString("; "))
    }
    assert(divergent.isEmpty, divergent.mkString("\n", "\n", ""))
  }
}
