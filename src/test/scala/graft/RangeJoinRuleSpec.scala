package graft

import graft.plans.{GraftExtensions, RangeJoinRule}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.joins.BroadcastNestedLoopJoinExec
import org.apache.spark.sql.functions._

/** The optimizer-rule path: a NAIVE inequality join, written exactly the
  * way a user would write it, must come out planned as the bin-bucketed
  * equi-join (no nested loop) and produce identical rows.
  */
class RangeJoinRuleSpec extends SparkTestBase {
  import spark.implicits._

  GraftExtensions.register(spark) // installs RangeJoinRule on the live session

  private def points = {
    val rnd = new scala.util.Random(42)
    (1 to 2000).map(i => (i.toLong, rnd.nextDouble() * 200.0)).toDF("pid", "v")
  }
  private def intervals = {
    val rnd = new scala.util.Random(7)
    (1 to 50).map { i =>
      val lo = rnd.nextDouble() * 180.0
      (i.toLong, lo, lo + rnd.nextDouble() * 40.0)
    }.toDF("iid", "lo", "hi")
  }

  private def naiveJoin(p: DataFrame, iv: DataFrame): DataFrame =
    p.join(iv, p("v") >= iv("lo") && p("v") < iv("hi"))
      .select("pid", "iid", "v")

  private def withBinWidth[T](w: String)(f: => T): T = {
    // AQE off for the plan assertions: AdaptiveSparkPlanExec hides its
    // children from collect() (graft.Profile unwraps it instead)
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    spark.conf.set(RangeJoinRule.BinWidthKey, w)
    try f finally {
      spark.conf.unset(RangeJoinRule.BinWidthKey)
      spark.conf.set("spark.sql.adaptive.enabled", aqe)
    }
  }

  private def nestedLoops(df: DataFrame): Int =
    df.queryExecution.executedPlan.collect {
      case b: BroadcastNestedLoopJoinExec => b
    }.size

  test("rule off (no conf): inequality join stays a nested loop") {
    val aqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = naiveJoin(points, intervals)
      assert(nestedLoops(df) == 1)
    } finally spark.conf.set("spark.sql.adaptive.enabled", aqe)
  }

  test("rule on: same rows, no nested loop in the plan") {
    val expected = naiveJoin(points, intervals)
      .as[(Long, Long, Double)].collect().toSet
    withBinWidth("25.0") {
      val df = naiveJoin(points, intervals)
      assert(nestedLoops(df) == 0, df.queryExecution.executedPlan.toString)
      assert(df.as[(Long, Long, Double)].collect().toSet == expected)
    }
  }

  test("rule on: point side on the RIGHT is rewritten too") {
    val p = points; val iv = intervals
    def join() = iv.join(p, p("v") >= iv("lo") && p("v") < iv("hi"))
      .select("pid", "iid", "v")
    val expected = join().as[(Long, Long, Double)].collect().toSet
    withBinWidth("10.0") {
      val df = join()
      assert(nestedLoops(df) == 0)
      assert(df.as[(Long, Long, Double)].collect().toSet == expected)
    }
  }

  test("rule on: flipped argument order and closed bounds still match") {
    val p = points; val iv = intervals
    def join() = p.join(iv, iv("lo") <= p("v") && iv("hi") >= p("v"))
      .select("pid", "iid")
    val expected = join().as[(Long, Long)].collect().toSet
    withBinWidth("40.0") {
      val df = join()
      assert(nestedLoops(df) == 0)
      assert(df.as[(Long, Long)].collect().toSet == expected)
    }
  }

  test("rule leaves equi-joins and non-range nested loops alone") {
    val p = points; val iv = intervals
    withBinWidth("25.0") {
      // equi conjunct present -> hash-joinable already, not rewritten
      val equi = p.join(iv, p("pid") === iv("iid") && p("v") >= iv("lo"))
      assert(nestedLoops(equi) == 0) // broadcast HASH join, not our bins
      assert(equi.queryExecution.optimizedPlan.toString.contains("pid"))
      // one-bound-only condition (upper bound is a literal, not a column
      // from the other side): not a range join, stays a nested loop
      val oneSided = p.join(iv, p("v") >= iv("lo") && p("v") < lit(1e9))
      assert(nestedLoops(oneSided) == 1)
      assert(oneSided.count() > 0)
    }
  }

  test("extra rows with NULL bounds or values never match, as in the naive join") {
    val p = points.unionByName(Seq((9999L, Option.empty[Double])).toDF("pid", "v"))
    val iv = intervals.unionByName(
      Seq((99L, Option.empty[Double], Option.empty[Double])).toDF("iid", "lo", "hi"))
    val expected = naiveJoin(p, iv).as[(Long, Long, Double)].collect().toSet
    withBinWidth("25.0") {
      assert(naiveJoin(p, iv).as[(Long, Long, Double)].collect().toSet == expected)
      assert(!expected.exists(r => r._1 == 9999L || r._2 == 99L))
    }
  }
}
