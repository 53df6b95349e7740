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

  /** (chrom, pos, name) rows of `df`, sorted: a multiset to compare. */
  private def rows(df: DataFrame): Seq[(String, Long, String)] =
    df.select("chrom", "pos", "name").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getString(2))).toSeq.sorted

  private def equiFree(p: DataFrame, iv: DataFrame): DataFrame =
    p.join(iv, col("pos").between(col("lo"), col("hi")))

  // no session rule rewrites range joins: an equi-free range join takes
  // the band path only through an explicit keyless bandJoin call
  test("rewrite rule: fires on equi-free range joins, result unchanged") {
    val expected = rows(equiFree(points, intervals))
    // without the chromosome key the c2 points also match the c1
    // intervals b and c, so this is not the keyed join's result
    assert(expected.toSet != naive)
    for (width <- Seq(1L, 7L, 100L, 1000000L)) {
      val banded = BandJoin.bandJoin(points, intervals,
        "pos", "lo", "hi", width, pointKeys = Nil, intervalKeys = Nil)
      assert(rows(banded) == expected, s"width=$width")
    }
  }

  test("rewrite rule: leaves equi joins, hinted joins, and outer joins alone") {
    val between = col("pos").between(col("lo"), col("hi"))
    val joins = Map(
      "equi" -> points.join(intervals, col("chrom") === col("ichrom") && between),
      "hinted" -> points.join(broadcast(intervals), between),
      "outer" -> points.join(intervals, between, "left"),
      "equi-free inner" -> equiFree(points, intervals))
    for ((shape, df) <- joins) {
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(!optimized.contains("_graft_band"), s"$shape join: $optimized")
      assert(!optimized.toLowerCase.contains("explode"), s"$shape join: $optimized")
    }
  }

  test("auto width follows the typical interval length under skew") {
    // 950 short intervals (~1k) + 50 long outliers (100k): width 1024
    // tracks the typical length, so each outlier explodes to ~100 bands
    val skewed = (1 to 1000).map { i =>
      val lo = i.toLong * 1000000L
      val len = if (i % 20 == 0) 100000L else 1000L
      ("c1", lo, lo + len, s"i$i")
    }.toDF("ichrom", "lo", "hi", "name")
    // points on, just inside and just outside both bounds of every
    // interval, plus one deep inside the long ones' span
    val pts = (1 to 1000).flatMap { i =>
      val lo = i.toLong * 1000000L
      Seq(lo - 1, lo, lo + 1, lo + 999, lo + 1000, lo + 1001, lo + 50000,
        lo + 99999, lo + 100000, lo + 100001)
    }.map(p => ("c1", p)).toDF("chrom", "pos")
    val expected = rows(equiFree(pts, skewed))
    assert(expected.length == 950 * 4 + 50 * 8)
    val banded = BandJoin.bandJoin(pts, skewed, "pos", "lo", "hi", 1024L)
    assert(rows(banded) == expected)
  }

  test("rewrite rule: disabled by conf") {
    // the retired spark.graft.bandJoin.* keys are inert: setting them
    // changes no plan
    val (p, iv) = (points, intervals)
    val plain = equiFree(p, iv).queryExecution.optimizedPlan
    spark.conf.set("spark.graft.bandJoin.enabled", "true")
    spark.conf.set("spark.graft.bandJoin.width", "7")
    try {
      val withKeys = equiFree(p, iv).queryExecution.optimizedPlan
      assert(withKeys.canonicalized == plain.canonicalized)
      assert(!withKeys.toString.contains("_graft_band"))
    } finally {
      spark.conf.unset("spark.graft.bandJoin.enabled")
      spark.conf.unset("spark.graft.bandJoin.width")
    }
  }
}
