package graft.operators

import graft.plans.LogSumExp.logsumexp
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bayesian colocalisation over aligned locus overlaps.
  *
  * Input: one row per (pair, tagVariantId) with a `statistics` struct of
  * `left_/right_{logBF, posteriorProbability, beta, ...}` — the output
  * of [[Overlaps.findOverlaps]].
  *
  * Unlike the reference — which collect_lists all logBFs per pair and
  * runs NumPy UDFs over the vectors (reference:
  * src/gentropy/method/colocalisation.py:240-448) — the hypothesis
  * log-Bayes-factors are computed with a streaming logsumexp aggregate
  * ([[graft.plans.LogSumExpAgg]]): map-side partials, O(1) state per
  * pair, no per-pair array materialisation. That is what keeps COLOC
  * viable when a pair's credible sets hold millions of tags.
  */
object Coloc {

  val PseudoCount = 1e-10
  val OverlapSizeCutoff = 5
  val PosteriorCutoff = 0.5

  private def tagVariantSource(stats: Column): Column =
    when(stats.getField("left_posteriorProbability").isNotNull &&
      stats.getField("right_posteriorProbability").isNotNull, lit("both"))
      .when(stats.getField("left_posteriorProbability").isNotNull, lit("left"))
      .otherwise(lit("right"))

  /** COLOC posteriors h0..h4 per overlapping pair.
    * reference: src/gentropy/method/colocalisation.py:193-448 */
  def colocalise(
      overlaps: DataFrame,
      priorC1: Double = 1e-4,
      priorC2: Double = 1e-4,
      priorC12: Double = 1e-5): DataFrame = {

    val s = col("statistics")
    val lbf = coalesce(s.getField("left_logBF"), lit(0.0))
    val rbf = coalesce(s.getField("right_logBF"), lit(0.0))
    val lpp = coalesce(s.getField("left_posteriorProbability"), lit(0.0))
    val rpp = coalesce(s.getField("right_posteriorProbability"), lit(0.0))
    val isBoth = tagVariantSource(s) === "both"

    val grouped = overlaps
      .groupBy("chromosome", "leftStudyLocusId", "rightStudyLocusId", "rightStudyType")
      .agg(
        sum(when(isBoth, 1L).otherwise(0L)).as("numberColocalisingVariants"),
        logsumexp(lbf).as("logsum1"),
        logsumexp(rbf).as("logsum2"),
        logsumexp(lbf + rbf).as("logsum12"),
        (max(when(isBoth && lpp > PosteriorCutoff && rpp > PosteriorCutoff, 1)
          .otherwise(0)) > 0).as("anySnpBothSidesHigh"),
        betaRatioSignAverage(s.getField("left_beta"), s.getField("right_beta"))
          .as("betaRatioSignAverage"))
    hypothesisPosteriors(grouped, priorC1, priorC2, priorC12)
  }

  /** Hypothesis posteriors h0..h4 from per-pair logsums — the shared
    * tail of [[colocalise]] and [[colocaliseFused]]. Input columns:
    * (chromosome, leftStudyLocusId, rightStudyLocusId, rightStudyType,
    * numberColocalisingVariants, logsum1, logsum2, logsum12,
    * anySnpBothSidesHigh, betaRatioSignAverage). */
  def hypothesisPosteriors(
      grouped: DataFrame,
      priorC1: Double = 1e-4,
      priorC2: Double = 1e-4,
      priorC12: Double = 1e-5): DataFrame = {

    val sumlogsum = col("logsum1") + col("logsum2")
    val mx = greatest(sumlogsum, col("logsum12"))
    val logdiff = when(sumlogsum === col("logsum12"), lit(PseudoCount))
      .otherwise(mx + log(exp(sumlogsum - mx) - exp(col("logsum12") - mx)))

    val lH0 = lit(0.0)
    val lH1 = lit(math.log(priorC1)) + col("logsum1")
    val lH2 = lit(math.log(priorC2)) + col("logsum2")
    val lH3 = lit(math.log(priorC1) + math.log(priorC2)) + col("logdiff")
    val lH4 = lit(math.log(priorC12)) + col("logsum12")

    val withBf = grouped
      .filter(col("numberColocalisingVariants") > OverlapSizeCutoff ||
        col("anySnpBothSidesHigh"))
      .withColumn("logdiff", logdiff)
      .withColumn("lH0", lH0).withColumn("lH1", lH1).withColumn("lH2", lH2)
      .withColumn("lH3", lH3).withColumn("lH4", lH4)

    // softmax over the 5 hypothesis BFs, in pure column math
    val hs = Seq("lH0", "lH1", "lH2", "lH3", "lH4").map(col)
    val hmax = greatest(hs: _*)
    val denom = hs.map(h => exp(h - hmax)).reduce(_ + _)

    withBf
      .withColumn("h0", exp(col("lH0") - hmax) / denom)
      .withColumn("h1", exp(col("lH1") - hmax) / denom)
      .withColumn("h2", exp(col("lH2") - hmax) / denom)
      .withColumn("h3", exp(col("lH3") - hmax) / denom)
      .withColumn("h4", exp(col("lH4") - hmax) / denom)
      .drop("logsum1", "logsum2", "logsum12", "logdiff",
        "lH0", "lH1", "lH2", "lH3", "lH4", "anySnpBothSidesHigh")
      .withColumn("colocalisationMethod", lit("COLOC"))
  }

  /** COLOC directly from exploded tags — the scale path.
    *
    * The classic pipeline materialises the full outer alignment of
    * every overlapping pair's credible sets (|A ∪ B| rows per pair)
    * and aggregates it. But each hypothesis logsum decomposes exactly
    * into per-locus and intersection-only parts: non-shared tags of
    * the aligned frame contribute their own side's logBF to one
    * logsum and exp(0)=1 to the other, so with
    *   L_X   = logsumexp of locus X's logBFs       (one groupBy of tags)
    *   L_X∩  = logsumexp of X's logBFs over A∩B    (off the tag self-join)
    *   n_X   = |X|, n∩ = |A∩B|
    * the aligned-frame logsums are
    *   logsum1  = lse(L_A, ln(n_B − n∩))
    *   logsum2  = lse(L_B, ln(n_A − n∩))
    *   logsum12 = lse(L12∩, logdiff(L_A, L_A∩), logdiff(L_B, L_B∩))
    * (count-guarded: a term is absent when its count is zero, never
    * decided by float equality). This removes the two align joins, the
    * full-outer sort-merge and the |A ∪ B|-sized aggregation — work
    * becomes O(intersection) + O(tags), the shape that survives 100 TB.
    * Requires tag variants unique within each locus (credible-set
    * invariant; duplicate tags would multiply-count intersections).
    *
    * `tags` is the output of [[Overlaps.explodeLoci]]; persist it —
    * it feeds the per-locus aggregate and both self-join sides. */
  def colocaliseFused(
      tags: DataFrame,
      intraStudy: Boolean = false,
      priorC1: Double = 1e-4,
      priorC2: Double = 1e-4,
      priorC12: Double = 1e-5): DataFrame = {

    val locusAgg = tags
      .groupBy("chromosome", "studyLocusId")
      .agg(count(lit(1)).as("nLocus"),
        logsumexp(coalesce(col("logBF"), lit(0.0))).as("lseLocus"))

    val m = Overlaps.matchedTagPairs(tags, intraStudy)
    val lbf = coalesce(col("left_logBF"), lit(0.0))
    val rbf = coalesce(col("right_logBF"), lit(0.0))
    val lpp = coalesce(col("left_posteriorProbability"), lit(0.0))
    val rpp = coalesce(col("right_posteriorProbability"), lit(0.0))
    val pairAgg = m
      .groupBy("chromosome", "leftStudyLocusId", "rightStudyLocusId",
        "rightStudyType")
      .agg(
        count(lit(1)).as("nAB"),
        logsumexp(lbf).as("lseAab"),
        logsumexp(rbf).as("lseBab"),
        logsumexp(lbf + rbf).as("lse12ab"),
        (max(when(lpp > PosteriorCutoff && rpp > PosteriorCutoff, 1)
          .otherwise(0)) > 0).as("anySnpBothSidesHigh"),
        betaRatioSignAverage(col("left_beta"), col("right_beta"))
          .as("betaRatioSignAverage"))

    // pair → per-locus aggregates of both sides; the locus aggregate is
    // tiny relative to the pair table (one row per locus), so AQE
    // broadcasts it when small and shuffles on the pair keys otherwise
    val joined = pairAgg
      .join(locusAgg.select(col("chromosome"),
        col("studyLocusId").as("leftStudyLocusId"),
        col("nLocus").as("nA"), col("lseLocus").as("lseA")),
        Seq("chromosome", "leftStudyLocusId"))
      .join(locusAgg.select(col("chromosome"),
        col("studyLocusId").as("rightStudyLocusId"),
        col("nLocus").as("nB"), col("lseLocus").as("lseB")),
        Seq("chromosome", "rightStudyLocusId"))

    def lse2(a: Column, b: Column): Column = {
      val mx = greatest(a, b)
      mx + log(exp(a - mx) + exp(b - mx))
    }
    val nAOnly = col("nA") - col("nAB")
    val nBOnly = col("nB") - col("nAB")
    val ls1 = when(nBOnly === 0, col("lseA"))
      .otherwise(lse2(col("lseA"), log(nBOnly)))
    val ls2 = when(nAOnly === 0, col("lseB"))
      .otherwise(lse2(col("lseB"), log(nAOnly)))
    // log(Σ_{t∈X∖∩} exp(bf)) = logdiff of the locus and intersection
    // sums; absence is decided by the exact integer count, the ≤ guard
    // only catches float cancellation on genuinely-positive terms
    def logdiffTerm(nOnly: Column, lse: Column, lseAb: Column): Column =
      when(nOnly === 0, lit(null).cast("double"))
        .otherwise(when(lse <= lseAb, log(lit(PseudoCount)))
          .otherwise(lse + log(lit(1.0) - exp(lseAb - lse))))
    val tA = logdiffTerm(nAOnly, col("lseA"), col("lseAab"))
    val tB = logdiffTerm(nBOnly, col("lseB"), col("lseBab"))
    val mx12 = greatest(col("lse12ab"), coalesce(tA, col("lse12ab")),
      coalesce(tB, col("lse12ab")))
    val ls12 = mx12 + log(exp(col("lse12ab") - mx12) +
      coalesce(exp(tA - mx12), lit(0.0)) +
      coalesce(exp(tB - mx12), lit(0.0)))

    val grouped = joined.select(
      col("chromosome"), col("leftStudyLocusId"), col("rightStudyLocusId"),
      col("rightStudyType"),
      col("nAB").as("numberColocalisingVariants"),
      ls1.as("logsum1"), ls2.as("logsum2"), ls12.as("logsum12"),
      col("anySnpBothSidesHigh"), col("betaRatioSignAverage"))
    hypothesisPosteriors(grouped, priorC1, priorC2, priorC12)
  }

  /** eCAVIAR directly from exploded tags — the scale path.
    *
    * Unlike COLOC, every eCAVIAR aggregate consumes ONLY intersection
    * rows of the aligned frame: `numberColocalisingVariants` counts
    * tags on both sides, CLPP sums left_pp × right_pp (null on
    * one-sided rows), and the beta-ratio sign average filters to rows
    * with both betas. So the peaks-distinct and both align joins of
    * the classic [[Overlaps.findOverlaps]] → [[eCaviar]] pipeline
    * contribute nothing but the |A ∪ B|-row frame they build — the
    * same aggregates over [[Overlaps.matchedTagPairs]] are exact,
    * with work O(intersection) instead of O(union): measured 127.96 →
    * 8.1 s on the 10×-scale ChainBench colocalisation stage.
    * Randomized parity with the classic path is pinned by ColocSpec.
    *
    * `tags` is the output of [[Overlaps.explodeLoci]]; persist it —
    * it feeds both self-join sides. */
  def eCaviarFused(tags: DataFrame, intraStudy: Boolean = false): DataFrame = {
    val lpp = col("left_posteriorProbability")
    val rpp = col("right_posteriorProbability")
    Overlaps.matchedTagPairs(tags, intraStudy)
      .groupBy("leftStudyLocusId", "rightStudyLocusId", "rightStudyType",
        "chromosome")
      .agg(
        count(lit(1)).as("numberColocalisingVariants"),
        sum(lpp * rpp).as("clpp"),
        betaRatioSignAverage(col("left_beta"), col("right_beta"))
          .as("betaRatioSignAverage"))
      .withColumn("colocalisationMethod", lit("eCAVIAR"))
  }

  /** eCAVIAR CLPP: Σ left_pp·right_pp per pair.
    * reference: src/gentropy/method/colocalisation.py:98-190 */
  def eCaviar(overlaps: DataFrame): DataFrame = {
    val s = col("statistics")
    val isBoth = tagVariantSource(s) === "both"
    overlaps
      .groupBy("leftStudyLocusId", "rightStudyLocusId", "rightStudyType", "chromosome")
      .agg(
        sum(when(isBoth, 1L).otherwise(0L)).as("numberColocalisingVariants"),
        sum(s.getField("left_posteriorProbability") *
          s.getField("right_posteriorProbability")).as("clpp"),
        betaRatioSignAverage(s.getField("left_beta"), s.getField("right_beta"))
          .as("betaRatioSignAverage"))
      .withColumn("colocalisationMethod", lit("eCAVIAR"))
  }

  /** Average sign of the left/right beta ratio per pair, over the
    * left (`lb`) and right (`rb`) beta columns — the one expression of
    * every COLOC and eCAVIAR aggregate here, folded into the same
    * groupBy as the hypothesis aggregation: `avg` ignores nulls, so the
    * `when` filter reproduces the reference's pre-filter + mean exactly
    * (reference: src/gentropy/dataset/study_locus_overlap.py:55-83)
    * while executing the overlaps subtree exactly once — the join-back
    * formulation re-ran the whole explode→self-join→align pyramid.
    * Pairs with zero qualifying tags yield null, as the left join did. */
  private def betaRatioSignAverage(lb: Column, rb: Column): Column =
    avg(when(lb.isNotNull && rb.isNotNull && lb =!= 0 && rb =!= 0,
      signum(lb / rb)))
}
