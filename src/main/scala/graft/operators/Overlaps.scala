package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Find overlapping study-locus pairs sharing at least one tag variant.
  *
  * Semantics match the reference's `find_overlaps`
  * (reference: src/gentropy/dataset/study_locus.py:487-608, 820-858):
  * GWAS loci on the left; every GWAS-GWAS pair counted once
  * (`leftStudyLocusId > rightStudyLocusId`), GWAS-molecular-trait pairs
  * with the molecular trait always on the right. Then tags of each
  * overlapping pair are aligned with a full outer join so the union of
  * both credible sets survives.
  *
  * Scale design: the peak self-join is an equi join on
  * `(chromosome, tagVariantId)` — sort-merge/shuffled-hash friendly,
  * residual predicates stay as filters. The exploded tag table is
  * cached because it feeds three joins. (A fixed
  * `repartition(chromosome)` was removed in round 2: ~24 distinct
  * values collapse parallelism and skew by construction, and the
  * downstream joins key on different columns anyway.)
  */
object Overlaps {

  private val statsCols =
    Seq("logBF", "posteriorProbability", "beta", "pValueMantissa", "pValueExponent")

  /** Explode `locus` into one row per (studyLocusId, tagVariantId). */
  def explodeLoci(credSet: DataFrame): DataFrame =
    credSet
      .filter(col("studyType").isNotNull)
      .withColumn("tag", explode(col("locus")))
      .select(
        Seq("studyLocusId", "studyId", "studyType", "chromosome", "region")
          .map(col) ++
          Seq(col("tag.variantId").as("tagVariantId")) ++
          statsCols.map(c => col(s"tag.$c").as(c)): _*)

  /** The pair predicate of the tag self-join: every GWAS-GWAS pair
    * once, molecular trait always on the right (or, in intra-study
    * mode, same-study cross-region pairs). */
  private def pairCondition(intraStudy: Boolean): Column =
    if (intraStudy)
      col("left.studyId") === col("right.studyId") &&
        col("left.chromosome") === col("right.chromosome") &&
        col("left.tagVariantId") === col("right.tagVariantId") &&
        col("left.studyLocusId") > col("right.studyLocusId") &&
        col("left.region") =!= col("right.region")
    else
      col("left.chromosome") === col("right.chromosome") &&
        col("left.tagVariantId") === col("right.tagVariantId") &&
        (col("right.studyType") =!= "gwas" ||
          col("left.studyLocusId") > col("right.studyLocusId")) &&
        col("left.studyType") === "gwas"

  /** One row per matched tag pair — the raw (un-distinct'd) tag
    * self-join, with both sides' statistics. This is the shared
    * intersection kernel: [[overlappingPeaks]] is its distinct
    * projection, and [[graft.operators.Coloc.colocaliseFused]]
    * aggregates it directly without materialising aligned overlaps.
    *
    * `maxTagLoci`: optional hot-tag guard — a tag shared by n loci
    * yields O(n²) pairs, so a pathological ubiquitous tag (an
    * MHC-region variant present in most credible sets of a
    * chromosome) can quadratically dominate the join. When set, tags
    * appearing in more than `maxTagLoci` loci are dropped from the
    * pair space via a groupBy-derived stop-set + broadcast anti-join
    * (the same pattern as the dedup hot-bucket and LD-clump caps).
    * Default None = exact reference semantics. */
  def matchedTagPairs(tags: DataFrame, intraStudy: Boolean = false,
                      maxTagLoci: Option[Int] = None): DataFrame = {
    val bounded = maxTagLoci match {
      case None => tags
      case Some(cap) =>
        val hot = tags
          .groupBy("chromosome", "tagVariantId").count()
          .filter(col("count") > cap)
          .select("chromosome", "tagVariantId")
        tags.join(broadcast(hot), Seq("chromosome", "tagVariantId"), "left_anti")
    }
    // pin a shuffled hash join: both sides of the self-join are the
    // SAME corpus-sized tag frame, so a planner broadcast (which
    // optimistic post-pruning parquet size estimates do trigger here)
    // would collect a corpus-scale side to the driver — the death
    // shape at 100 TB, and measurably slower than the 2-sided shuffle
    // even at bench scale (600k-row BroadcastExchange ≈ 1 s).
    // shuffle_hash over merge: SMJ's two 600k-row sorts measured +75%
    // on the fused-COLOC e2e for identical results. The SHJ build side
    // is per-partition and in-memory — bounded by sizing
    // spark.sql.shuffle.partitions to the corpus (the same contract as
    // every aggregation here), with AQE skew-join splitting oversized
    // partitions; a deployment that cannot guarantee that should
    // switch this hint to "merge" (spilling sorts) at the cost above.
    val left = bounded.alias("left").hint("shuffle_hash")
    val right = bounded.alias("right")
    left
      .join(right, pairCondition(intraStudy), "inner")
      .select(
        col("left.chromosome").as("chromosome") +:
          col("left.studyLocusId").as("leftStudyLocusId") +:
          col("right.studyLocusId").as("rightStudyLocusId") +:
          col("right.studyType").as("rightStudyType") +:
          col("left.tagVariantId").as("tagVariantId") +:
          (statsCols.map(c => col(s"left.$c").as(s"left_$c")) ++
            statsCols.map(c => col(s"right.$c").as(s"right_$c"))): _*)
  }

  /** Distinct overlapping (left, right) locus pairs.
    * reference: src/gentropy/dataset/study_locus.py:487-545 */
  def overlappingPeaks(tags: DataFrame, intraStudy: Boolean = false): DataFrame =
    matchedTagPairs(tags, intraStudy)
      .select("leftStudyLocusId", "rightStudyLocusId", "rightStudyType",
        "chromosome")
      .distinct()

  /** Outer-align tags of each overlapping pair (union of both credible
    * sets). reference: src/gentropy/dataset/study_locus.py:547-607 */
  def alignOverlappingTags(tags: DataFrame, peaks: DataFrame): DataFrame = {
    val left = tags.select(
      col("chromosome") +: col("tagVariantId") +:
        col("studyLocusId").as("leftStudyLocusId") +:
        statsCols.map(c => col(c).as(s"left_$c")): _*)
      .join(peaks, Seq("chromosome", "leftStudyLocusId"), "inner")
    val right = tags.select(
      col("chromosome") +: col("tagVariantId") +:
        col("studyLocusId").as("rightStudyLocusId") +:
        statsCols.map(c => col(c).as(s"right_$c")): _*)
      .join(peaks, Seq("chromosome", "rightStudyLocusId"), "inner")
    left
      .join(
        right,
        Seq("chromosome", "rightStudyLocusId", "leftStudyLocusId", "tagVariantId",
          "rightStudyType"),
        "outer")
      .select(
        col("leftStudyLocusId"), col("rightStudyLocusId"), col("rightStudyType"),
        col("chromosome"), col("tagVariantId"),
        struct(
          statsCols.map(c => col(s"left_$c")) ++
            statsCols.map(c => col(s"right_$c")): _*).as("statistics"))
  }

  /** Full pipeline: credible sets → StudyLocusOverlap rows.
    *
    * The flat exploded tags feed three joins (peak self-join + both
    * align sides); caching them measured consistently faster than
    * recomputation on the sf0.1 bench (6-7 s vs 7-19 s) — unlike
    * array-heavy frames, flat rows columnar-cache cheaply. The persist
    * registers on `cache`: call `cache.release()` after the terminal
    * action on the returned frame, or pass `CacheHandle.disabled` to
    * recompute the explode per consumer instead. */
  def findOverlaps(credSet: DataFrame, intraStudy: Boolean = false,
                   cache: graft.core.CacheHandle): DataFrame = {
    val tags = cache.persist(explodeLoci(credSet))
    // peaks feed BOTH align joins; without the persist the whole
    // self-join + distinct pyramid is evaluated once per side (exchange
    // reuse does not survive AQE re-planning reliably)
    val peaks = cache.persist(overlappingPeaks(tags, intraStudy))
    alignOverlappingTags(tags, peaks)
  }
}
