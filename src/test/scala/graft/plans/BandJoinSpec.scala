package graft.plans

import graft.SparkSpec
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

class BandJoinSpec extends SparkSpec {
  import spark.implicits._

  private def points: DataFrame = Seq(
    ("c1", 0L), ("c1", 99L), ("c1", 100L), ("c1", 101L), ("c1", 250L),
    ("c1", 999L), ("c2", 100L), ("c2", 100L) // duplicate point rows survive
  ).toDF("chrom", "pos")

  private def intervals: DataFrame = Seq(
    ("c1", 0L, 99L, "a"),     // exactly one band at width 100
    ("c1", 50L, 250L, "b"),   // spans three bands
    ("c1", 100L, 100L, "c"),  // zero-length on a band boundary
    ("c2", 90L, 110L, "d"),   // other chromosome
    ("c1", 500L, 400L, "e")   // inverted (malformed): matches nothing
  ).toDF("ichrom", "lo", "hi", "name")

  private def naive: Set[(String, Long, String)] =
    points.join(intervals,
        col("chrom") === col("ichrom") &&
          col("pos").between(col("lo"), col("hi")))
      .select("chrom", "pos", "name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSet

  test("bandJoin operator equals the naive range join, width extremes included") {
    for (width <- Seq(1L, 7L, 100L, 1000000L)) {
      val banded = BandJoin.bandJoin(points, intervals,
          "pos", "lo", "hi", width,
          pointKeys = Seq("chrom"), intervalKeys = Seq("ichrom"))
        .select("chrom", "pos", "name").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getString(2)))
      // multiset semantics: duplicates preserved
      assert(banded.length == banded.toSet.size + 1, s"width=$width") // the c2 dup pair
      assert(banded.toSet == naive, s"width=$width")
    }
  }

  // the rule is registered on the shared session by GraftSession
  test("rewrite rule: fires on equi-free range joins, result unchanged") {
    // no equi conjunct — the BroadcastNestedLoopJoin shape
    val df = points.join(intervals, col("pos").between(col("lo"), col("hi")))
    val optimized = df.queryExecution.optimizedPlan
    assert(optimized.toString.contains("_graft_band"),
      "rule should have injected band keys")
    assert(optimized.toString.toLowerCase.contains("explode"))
    val expected = points.select("pos").as[Long].collect().flatMap { p =>
      intervals.collect().filter(r => p >= r.getLong(1) && p <= r.getLong(2))
        .map(r => (p, r.getString(3)))
    }.toSet
    val got = df.select(col("pos"), col("name")).collect()
      .map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == expected)
  }

  test("rewrite rule: leaves equi joins, hinted joins, and outer joins alone") {
    val equi = points.join(intervals,
      col("chrom") === col("ichrom") && col("pos").between(col("lo"), col("hi")))
    assert(!equi.queryExecution.optimizedPlan.toString.contains("_graft_band"))
    val hinted = points.join(broadcast(intervals),
      col("pos").between(col("lo"), col("hi")))
    assert(!hinted.queryExecution.optimizedPlan.toString.contains("_graft_band"))
    val outer = points.join(intervals,
      col("pos").between(col("lo"), col("hi")), "left")
    assert(!outer.queryExecution.optimizedPlan.toString.contains("_graft_band"))
  }

  test("auto width follows the typical interval length under skew") {
    val rule = BandJoinRewrite(spark)
    // 950 short intervals (~1k) + 50 long outliers (100k): p95 ≈ 1k,
    // so the derived width must track the typical length, not the
    // outliers (which stay fan-out-bounded by the maxLen/4096 floor)
    val skewed = (1 to 1000).map { i =>
      val len = if (i % 20 == 0) 100000L else 1000L
      (i.toLong * 1000000L, i.toLong * 1000000L + len)
    }.toDF("lo", "hi")
    val plan = skewed.queryExecution.analyzed
    val lo = plan.output.find(_.name == "lo").get
    val hi = plan.output.find(_.name == "hi").get
    val w = rule.deriveWidth(plan, lo, hi)
    assert(w.exists(v => v >= 512 && v <= 4096), s"derived $w")
    // all-long intervals: width scales up with them
    val long = (1 to 100).map(i => (0L, 10000000L)).toDF("lo", "hi")
    val planL = long.queryExecution.analyzed
    val wL = rule.deriveWidth(planL,
      planL.output.find(_.name == "lo").get,
      planL.output.find(_.name == "hi").get)
    assert(wL.exists(_ >= (1L << 23)), s"derived $wL")
    // degenerate (all zero-length) falls back
    val degen = Seq((5L, 5L), (7L, 7L)).toDF("lo", "hi")
    val planD = degen.queryExecution.analyzed
    assert(rule.deriveWidth(planD,
      planD.output.find(_.name == "lo").get,
      planD.output.find(_.name == "hi").get).isEmpty)
  }

  test("rewrite rule: disabled by conf") {
    spark.conf.set("spark.graft.bandJoin.enabled", "false")
    try {
      val df = points.join(intervals, col("pos").between(col("lo"), col("hi")))
      assert(!df.queryExecution.optimizedPlan.toString.contains("_graft_band"))
    } finally spark.conf.unset("spark.graft.bandJoin.enabled")
  }
}
