package graft

import graft.plans.RangeJoinBinRewrite
import org.apache.spark.sql.graftshim.shim

/** The optimizer rule that auto-bins range joins: result-identical to the
  * naive non-equi join, introduces the bin equality (hash-joinable), and
  * stays a no-op when the conf is unset. */
class RangeJoinBinRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def data = {
    val rng = new scala.util.Random(13)
    val points = Seq.tabulate(250)(i =>
      (i.toLong, s"k${rng.nextInt(4)}", rng.nextInt(1000).toLong)).toDF("pid", "k", "pt")
    val intervals = Seq.tabulate(50) { i =>
      val lo = rng.nextInt(950).toLong
      (s"k${rng.nextInt(4)}", lo, lo + rng.nextInt(100).toLong, i.toLong)
    }.toDF("k", "lo", "hi", "iid")
    (points, intervals)
  }

  test("rule is a no-op without the binWidth conf") {
    spark.conf.unset("spark.graft.rangeJoin.binWidth")
    val (points, intervals) = data
    val j = points.join(intervals,
      points("k") === intervals("k") && intervals("lo") <= points("pt") &&
        points("pt") <= intervals("hi"))
    val plan = j.queryExecution.optimizedPlan
    assert(RangeJoinBinRewrite(spark)(plan) eq plan)
  }

  test("rewritten join is result-identical and carries the bin equality") {
    val (points, intervals) = data
    val j = points.join(intervals,
      points("k") === intervals("k") && intervals("lo") <= points("pt") &&
        points("pt") <= intervals("hi"))
    val expected = j.select($"pid", $"iid").as[(Long, Long)].collect().toSet

    spark.conf.set("spark.graft.rangeJoin.binWidth", "64")
    try {
      val rewritten = RangeJoinBinRewrite(spark)(j.queryExecution.optimizedPlan)
      assert(rewritten.toString.contains("__graft_bin"),
        "rule should have introduced bin columns")
      val out = shim.ofRows(spark, rewritten)
      val got = out.select($"pid", $"iid").as[(Long, Long)].collect().toSet
      assert(got == expected && expected.nonEmpty)
      // the physical plan hashes on the bin equality — no nested loop
      val physical = out.queryExecution.executedPlan.toString
      assert(!physical.contains("NestedLoop"), physical.take(500))
    } finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  test("the session's injected rule bins a range join run directly") {
    val (points, intervals) = data
    val cond = intervals("lo") <= points("pt") && points("pt") <= intervals("hi")
    val expected = points.join(intervals, cond)
      .select($"pid", $"iid").as[(Long, Long)].collect().toSet

    spark.conf.set("spark.graft.rangeJoin.binWidth", "64")
    try {
      // no manual rule call: the session's own optimizer applies it
      val out = points.join(intervals, cond)
      assert(out.queryExecution.optimizedPlan.toString.contains("__graft_bin"),
        "the injected rule should have introduced bin columns")
      assert(out.select($"pid", $"iid").as[(Long, Long)].collect().toSet == expected)
      assert(expected.nonEmpty)
      val physical = out.queryExecution.executedPlan.toString
      assert(!physical.contains("NestedLoop"), physical.take(500))
    } finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
  }

  test("rewrite applies without any equi key (pure interval join)") {
    val (points, intervals) = data
    val j = points.join(intervals,
      intervals("lo") <= points("pt") && points("pt") <= intervals("hi"))
    val expected = j.select($"pid", $"iid").as[(Long, Long)].collect().toSet

    spark.conf.set("spark.graft.rangeJoin.binWidth", "64")
    try {
      val rewritten = RangeJoinBinRewrite(spark)(j.queryExecution.optimizedPlan)
      val out = shim.ofRows(spark, rewritten)
      assert(out.select($"pid", $"iid").as[(Long, Long)].collect().toSet == expected)
      assert(!out.queryExecution.executedPlan.toString.contains("NestedLoop"))
    } finally spark.conf.unset("spark.graft.rangeJoin.binWidth")
  }
}
