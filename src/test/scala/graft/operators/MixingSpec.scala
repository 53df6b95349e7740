package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.functions._

class MixingSpec extends SparkSpec {
  import spark.implicits._

  private val docs = (0L until 400L).map { i =>
    (i, s"src${i % 4}", 10L + (i % 7)) // ~4 sources, ~1300 tokens each
  }.toDF("doc_id", "source", "tokens")

  test("mix sampling hits target token shares within sampling noise") {
    val weights = Map("src0" -> 0.5, "src1" -> 0.25, "src2" -> 0.25)
    val sampled = Mixing.sampleToMix(docs, "doc_id", "source", "tokens",
      weights, totalTokenBudget = 1500L)
    val got = sampled.groupBy("source").agg(sum("tokens").as("t"))
      .as[(String, Long)].collect().toMap
    // unweighted source dropped entirely
    assert(!got.contains("src3"))
    // each weighted source lands near its token target (md5-uniform
    // acceptance over ~100 docs: allow 40% relative noise)
    assert(math.abs(got("src0") - 750.0) / 750.0 < 0.4, s"src0=${got("src0")}")
    assert(math.abs(got("src1") - 375.0) / 375.0 < 0.4, s"src1=${got("src1")}")
    assert(math.abs(got("src2") - 375.0) / 375.0 < 0.4, s"src2=${got("src2")}")
  }

  test("a source with less supply than target keeps every row") {
    // src0 has ~1300 tokens; target 0.9 * 10000 = 9000 >> supply
    val sampled = Mixing.sampleToMix(docs, "doc_id", "source", "tokens",
      Map("src0" -> 0.9), totalTokenBudget = 10000L)
    assert(sampled.count() == docs.filter(col("source") === "src0").count())
  }

  test("sampling is deterministic across runs and partitionings") {
    val w = Map("src0" -> 0.3, "src1" -> 0.3)
    val a = Mixing.sampleToMix(docs, "doc_id", "source", "tokens", w, 800L)
      .select("doc_id").as[Long].collect().toSet
    val b = Mixing.sampleToMix(docs.repartition(7), "doc_id", "source",
      "tokens", w, 800L).select("doc_id").as[Long].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("mixReport reconciles achieved shares with the sample") {
    val w = Map("src0" -> 0.5, "src1" -> 0.5)
    val sampled = Mixing.sampleToMix(docs, "doc_id", "source", "tokens", w, 1000L)
    val rep = Mixing.mixReport(sampled, "source", "tokens", w)
      .select("source", "achievedShare", "targetShare")
      .as[(String, Double, Double)].collect()
    assert(math.abs(rep.map(_._2).sum - 1.0) < 1e-9)
    assert(rep.forall(r => math.abs(r._2 - r._3) < 0.25))
  }

  test("assignSplit: fractions roughly honoured, exhaustive, stable") {
    val split = Mixing.assignSplit(docs, "doc_id", valFrac = 0.2,
      testFrac = 0.1)
    val byKind = split.groupBy("split").count()
      .as[(String, Long)].collect().toMap
    assert(byKind.keySet.subsetOf(Set("train", "val", "test")))
    assert(byKind.values.sum == 400L)
    assert(byKind("val") > 40 && byKind("val") < 120)   // ~80 expected
    assert(byKind("test") > 15 && byKind("test") < 80)  // ~40 expected
    // per-id determinism across partitioning
    val a = split.select("doc_id", "split").as[(Long, String)].collect().toMap
    val b = Mixing.assignSplit(docs.repartition(7), "doc_id",
        valFrac = 0.2, testFrac = 0.1)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(a == b)
    // independent of sampleToMix's unsalted draw: both val and train
    // ids appear among sampleToMix survivors (no correlated stripe)
    val survivors = Mixing.sampleToMix(docs, "doc_id", "source", "tokens",
      Map("src0" -> 0.5, "src1" -> 0.5), 1000L)
    val kinds = Mixing.assignSplit(survivors, "doc_id", valFrac = 0.2,
      testFrac = 0.1).select("split").distinct().as[String].collect().toSet
    assert(kinds.contains("train") && kinds.contains("val"))
  }

  test("assignSplit: zero fractions produce pure train") {
    val kinds = Mixing.assignSplit(docs, "doc_id", valFrac = 0.0,
      testFrac = 0.0).select("split").distinct().as[String].collect().toSet
    assert(kinds == Set("train"))
  }

  test("temperatureMix flattens a skewed mix: alpha < 1 boosts the scarce " +
    "source's share relative to the natural mix") {
    // 90/10 skew between two sources
    val skewed = ((0L until 360L).map(i => (i, "big", 10L)) ++
      (360L until 400L).map(i => (i, "small", 10L)))
      .toDF("doc_id", "source", "tokens")
    def share(alpha: Double): Double = {
      val s = Mixing.temperatureMix(skewed, "doc_id", "source", "tokens",
        alpha, totalTokenBudget = 2000L)
        .groupBy("source").agg(sum("tokens").as("t"))
        .as[(String, Long)].collect().toMap
      s.getOrElse("small", 0L).toDouble / (s.values.sum.toDouble)
    }
    val natural = 0.1
    assert(share(0.3) > share(0.7))
    assert(share(0.7) > natural)
  }

  test("temperatureMix at alpha = 1 reproduces sampleToMix with natural " +
    "weights (same survivors)") {
    val weights = Map("src0" -> 0.25, "src1" -> 0.25, "src2" -> 0.25,
      "src3" -> 0.25)
    // constant tokens ⇒ natural shares are exactly 0.25 each, so the
    // α = 1 flattening must select the same survivor set
    val uniform = (0L until 400L).map(i => (i, s"src${i % 4}", 10L))
      .toDF("doc_id", "source", "tokens")
    val a = Mixing.temperatureMix(uniform, "doc_id", "source", "tokens",
      alpha = 1.0, totalTokenBudget = 1500L)
      .select("doc_id").as[Long].collect().toSet
    val b = Mixing.sampleToMix(uniform, "doc_id", "source", "tokens", weights,
      totalTokenBudget = 1500L)
      .select("doc_id").as[Long].collect().toSet
    assert(a == b)
  }

  test("temperatureMix is deterministic and never oversamples an " +
    "exhausted source") {
    val out1 = Mixing.temperatureMix(docs, "doc_id", "source", "tokens",
      alpha = 0.5, totalTokenBudget = 100000L)
    val out2 = Mixing.temperatureMix(docs.repartition(7), "doc_id", "source",
      "tokens", alpha = 0.5, totalTokenBudget = 100000L)
    // budget >> corpus: every row survives (fraction capped at 1)
    assert(out1.count() == 400L)
    assert(out1.select("doc_id").as[Long].collect().toSet ==
      out2.select("doc_id").as[Long].collect().toSet)
  }

  test("curriculumBins: balanced quantile bins ordered by score, " +
    "per-domain when asked") {
    val scored = (0L until 40L).map(i =>
      (i, s"d${i % 2}", i.toDouble)).toDF("doc_id", "source", "score")
    val global = Mixing.curriculumBins(scored, "score", "doc_id", nBins = 4)
      .select("doc_id", "bin").as[(Long, Int)].collect().toMap
    // 40 rows / 4 bins = 10 each; score == id so bin = id/10 + 1
    assert((0L until 40L).forall(i => global(i) == (i / 10 + 1).toInt))
    val byDomain = Mixing.curriculumBins(scored, "score", "doc_id",
      nBins = 2, byCol = Some("source"))
      .select("doc_id", "source", "bin").as[(Long, String, Int)].collect()
    // each domain has 20 rows → bins of 10; highest scores land in bin 2
    byDomain.groupBy(_._2).foreach { case (_, rows) =>
      assert(rows.count(_._3 == 1) == 10 && rows.count(_._3 == 2) == 10)
      val maxBin1 = rows.filter(_._3 == 1).map(_._1).max
      val minBin2 = rows.filter(_._3 == 2).map(_._1).min
      assert(maxBin1 < minBin2)
    }
  }

  test("stratifiedTake keeps exactly n per stratum, deterministically") {
    val out = Mixing.stratifiedTake(docs, "source", "doc_id", n = 30)
    val counts = out.groupBy("source").count()
      .as[(String, Long)].collect().toMap
    assert(counts.values.toSet === Set(30L))
    // deterministic: a rerun selects the identical ids
    val again = Mixing.stratifiedTake(docs, "source", "doc_id", n = 30)
    assert(out.select("doc_id").as[Long].collect().sorted ===
      again.select("doc_id").as[Long].collect().sorted)
  }

  test("stratifiedTake caps at stratum size when n exceeds it") {
    val out = Mixing.stratifiedTake(docs, "source", "doc_id", n = 500)
    assert(out.count() === 400L)
  }

  test("stratifiedTakeAgg matches the window cut exactly, without a Window") {
    for (n <- Seq(1, 7, 30, 500)) {
      val win = Mixing.stratifiedTake(docs, "source", "doc_id", n)
        .select("doc_id").as[Long].collect().sorted
      val agg = Mixing.stratifiedTakeAgg(docs, "source", "doc_id", n)
        .select("doc_id").as[Long].collect().sorted
      assert(agg === win, s"n=$n")
    }
    val plan = Mixing.stratifiedTakeAgg(docs, "source", "doc_id", 5)
      .queryExecution.optimizedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, plan.toString)
  }

  test("sampleToMixWithRepeats upsamples scarce sources by whole " +
    "epochs plus a thinned partial, capped at maxRepeat") {
    // one source, 10 docs x 10 tokens = 100 avail; target 250 → 2 full
    // epochs + 0.5 partial
    val docs = (1L to 10L).map(i => (i, "s", 10L))
      .toDF("doc_id", "source", "tokens")
    val out = Mixing.sampleToMixWithRepeats(docs, "doc_id", "source",
        "tokens", Map("s" -> 1.0), totalTokenBudget = 250L)
      .select("doc_id", "copy").as[(Long, Int)].collect().toSeq
    val byDoc = out.groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    // every doc appears for copies 1 and 2; roughly half get copy 3
    assert(byDoc.size == 10)
    byDoc.values.foreach(cs => assert(cs.take(2) == Seq(1, 2)))
    val third = byDoc.values.count(_.contains(3))
    assert(third > 0 && third < 10, s"partial epoch picked $third/10")
    // the cap: a 100x over-target source stops at maxRepeat epochs
    val capped = Mixing.sampleToMixWithRepeats(docs, "doc_id", "source",
        "tokens", Map("s" -> 1.0), totalTokenBudget = 100000L,
        maxRepeat = 4)
      .groupBy("doc_id").count().select("count").as[Long].collect()
    assert(capped.forall(_ == 4L))
    // a source meeting its target within one epoch downsamples like
    // sampleToMix: copy is always 1
    val down = Mixing.sampleToMixWithRepeats(docs, "doc_id", "source",
        "tokens", Map("s" -> 1.0), totalTokenBudget = 50L)
      .select("copy").as[Int].collect()
    assert(down.nonEmpty && down.forall(_ == 1))
  }

  test("sampleToMixWithRepeats: a tokenless or weight-absent source " +
    "emits nothing instead of maxRepeat full epochs") {
    val docs = Seq((1L, "zero", 0L), (2L, "zero", 0L), (3L, "other", 10L))
      .toDF("doc_id", "source", "tokens")
    // 'zero' has weight but no tokens; 'other' has tokens but no weight
    val out = Mixing.sampleToMixWithRepeats(docs, "doc_id", "source",
        "tokens", Map("zero" -> 1.0), totalTokenBudget = 100L)
      .select("doc_id").as[Long].collect()
    assert(out.isEmpty, out.mkString(","))
  }

  test("quantileNormalize keeps null-score/null-domain rows with a " +
    "null percentile instead of dropping them") {
    val docs = Seq(
      (1L, Option("a"), Option(10L)), (2L, Option("a"), Option(20L)),
      (3L, Option("a"), Option.empty[Long]), (4L, Option.empty[String], Option(5L)))
      .toDF("doc_id", "source", "n")
    val got = Mixing.quantileNormalize(docs, "n", "source")
      .select("doc_id", "score_pctl").as[(Long, Option[Double])]
      .collect().toMap
    assert(got.size == 4)
    assert(got(1L).contains(0.0) && got(2L).contains(1.0))
    assert(got(3L).isEmpty && got(4L).isEmpty)
  }

  test("quantileNormalize matches SQL percent_rank semantics, ties " +
    "share a rank, singleton domains score 0") {
    val docs = Seq(
      (1L, "a", 10L), (2L, "a", 20L), (3L, "a", 20L), (4L, "a", 40L),
      (5L, "b", 7L))
      .toDF("doc_id", "source", "n")
    val got = Mixing.quantileNormalize(docs, "n", "source")
      .select("doc_id", "score_pctl").as[(Long, Double)].collect().toMap
    // domain a (n−1 = 3): 10 → 0/3, the tied 20s → 1/3, 40 → 3/3
    assert(got(1L) == 0.0 && got(4L) == 1.0)
    assert(got(2L) == 1.0 / 3 && got(3L) == 1.0 / 3)
    assert(got(5L) == 0.0)
  }

  test("assignSplitLeakageSafe: a near-dup cluster shares one split; " +
    "unpaired docs split exactly like assignSplit") {
    import org.apache.spark.sql.functions.col
    val docs = (1L to 200L).map(i => (i, s"doc $i")).toDF("doc_id", "text")
    val pairs = Seq((1L, 2L), (2L, 3L), (10L, 11L)).toDF("idA", "idB")
    val safe = Mixing.assignSplitLeakageSafe(docs, "doc_id", pairs,
        valFrac = 0.3, testFrac = 0.3, cache = CacheHandle())
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    assert(Set(safe(1L), safe(2L), safe(3L)).size == 1)
    assert(safe(10L) == safe(11L))
    val plain = Mixing.assignSplit(docs, "doc_id",
        valFrac = 0.3, testFrac = 0.3)
      .select("doc_id", "split").as[(Long, String)].collect().toMap
    val paired = Set(1L, 2L, 3L, 10L, 11L)
    (1L to 200L).filterNot(paired)
      .foreach(i => assert(safe(i) == plain(i), s"doc $i diverged"))
    // cluster members split by their REPRESENTATIVE's draw
    assert(safe(2L) == plain(1L) && safe(11L) == plain(10L))
    // with wide fractions, 200 docs land in all three splits
    assert(safe.values.toSet == Set("train", "val", "test"))
  }
}
