package graft.ml

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** L2G gold-standard construction: curated positive (locus, gene)
  * links expanded with window negatives, de-duplicated across
  * overlapping loci and cleaned of interaction-confounded negatives.
  *
  * Semantics mirror the reference
  * (reference: src/gentropy/dataset/l2g_gold_standard.py:25-237,
  * src/gentropy/datasource/open_targets/l2g_gold_standard.py:13-135)
  * with Spark-first physical shapes: the per-gene "is this gene
  * explained by several loci" check is a groupBy count joined back
  * (the reference's `collect_set().over(Window.partitionBy(geneId))`
  * materialises the id list on every row — the count is all that is
  * consumed), and sets are labelled with plain column ops throughout.
  */
object L2GGoldStandard {

  val InteractionThreshold = 0.7
  val PositiveLabel = "positive"
  val NegativeLabel = "negative"
  val LocusToGeneWindow = 500000

  /** Top-scoring interaction per (geneA, geneB) pair.
    * reference: src/gentropy/dataset/l2g_gold_standard.py:76-106 */
  def processGeneInteractions(interactions: DataFrame): DataFrame =
    interactions
      .groupBy(col("targetA").as("geneIdA"), col("targetB").as("geneIdB"))
      .agg(max(col("scoring")).as("score"))

  /** Parse the curated positive set: high/medium-confidence curation
    * rows keyed by (studyLocusId, studyId, variantId, geneId) with the
    * curation sources collected.
    * reference: src/gentropy/datasource/open_targets/l2g_gold_standard.py:23-58 */
  def parsePositiveCuration(curation: DataFrame): DataFrame =
    curation
      .filter(col("gold_standard_info.highest_confidence")
        .isin("High", "Medium"))
      .select(
        col("association_info.otg_id").as("studyId"),
        col("gold_standard_info.gene_id").as("geneId"),
        concat_ws("_",
          col("sentinel_variant.locus_GRCh38.chromosome"),
          col("sentinel_variant.locus_GRCh38.position"),
          col("sentinel_variant.alleles.reference"),
          col("sentinel_variant.alleles.alternative")).as("variantId"),
        col("metadata.set_label").as("source"))
      .withColumn("studyLocusId",
        md5(concat_ws("_", col("studyId"), col("variantId"))))
      .groupBy("studyLocusId", "studyId", "variantId", "geneId")
      .agg(collect_set(col("source")).as("sources"))

  /** Expand positives with negatives: every gene whose TSS is within
    * the window of the sentinel variant and is NOT the curated gene.
    * `distances` carries (variantId, targetId, distanceFromTss).
    * reference: src/gentropy/datasource/open_targets/l2g_gold_standard.py:60-107 */
  def expandGoldStandardWithNegatives(positiveSet: DataFrame,
                                      distances: DataFrame): DataFrame =
    positiveSet
      .withColumnRenamed("geneId", "curatedGeneId")
      .join(
        distances
          .select(col("variantId"), col("targetId").as("nonCuratedGeneId"),
            col("distanceFromTss"))
          .filter(col("distanceFromTss") <= LocusToGeneWindow),
        Seq("variantId"), "left")
      .withColumn("goldStandardSet",
        when(col("curatedGeneId") === col("nonCuratedGeneId") ||
          col("nonCuratedGeneId").isNull, PositiveLabel)
          .otherwise(NegativeLabel))
      .withColumn("geneId",
        when(col("goldStandardSet") === PositiveLabel, col("curatedGeneId"))
          .otherwise(col("nonCuratedGeneId")))
      .drop("distanceFromTss", "curatedGeneId", "nonCuratedGeneId")

  /** Full parse: curation → positives → expanded positive/negative set.
    * reference: src/gentropy/datasource/open_targets/l2g_gold_standard.py:109-135 */
  def fromCuration(curation: DataFrame, distances: DataFrame): DataFrame =
    expandGoldStandardWithNegatives(parsePositiveCuration(curation), distances)

  /** Drop loci that are not independent: where the same gene is
    * "explained" by more than one study locus AND the locus overlaps
    * another through its sentinel variant, the redundant rows go.
    * `overlaps` is a StudyLocusOverlap frame (leftStudyLocusId,
    * rightStudyLocusId, tagVariantId, ...).
    * reference: src/gentropy/dataset/l2g_gold_standard.py:141-184 */
  def filterUniqueAssociations(goldStandard: DataFrame,
                               overlaps: DataFrame): DataFrame = {
    // square matrix: every overlap visible from both sides
    val squared = overlaps
      .select(col("leftStudyLocusId").as("studyLocusId"), col("tagVariantId"))
      .unionByName(overlaps
        .select(col("rightStudyLocusId").as("studyLocusId"),
          col("tagVariantId")))
      .distinct()
    // genes explained by >1 locus: a groupBy count, not a per-row
    // collected id set — only the cardinality is consumed
    val multiLocusGenes = goldStandard
      .groupBy("geneId")
      .agg(countDistinct(col("studyLocusId")).as("_nLoci"))
      .filter(col("_nLoci") > 1)
      .select("geneId")
    val overlapping = goldStandard
      .join(squared,
        goldStandard("studyLocusId") === squared("studyLocusId") &&
          goldStandard("variantId") === squared("tagVariantId"),
        "left_semi")
    goldStandard
      .join(overlapping.select("studyLocusId", "geneId", "variantId")
        .join(multiLocusGenes, Seq("geneId"), "left_semi"),
        Seq("studyLocusId", "geneId", "variantId"), "left_anti")
      .select(goldStandard.columns.map(col).toSeq: _*)
  }

  /** Remove false negatives: negative rows whose gene interacts
    * (score > threshold) with a gene that is a positive somewhere in
    * the gold standard.
    * reference: src/gentropy/dataset/l2g_gold_standard.py:186-237 */
  def removeFalseNegatives(goldStandard: DataFrame,
                           interactions: DataFrame): DataFrame = {
    val squaredInteractions = interactions
      .unionByName(interactions.select(
        col("geneIdB").as("geneIdA"), col("geneIdA").as("geneIdB"),
        col("score")))
      .filter(col("score") > InteractionThreshold)
    val cols = goldStandard.columns.map(col).toSeq
    goldStandard.alias("left")
      .join(squaredInteractions.alias("right"),
        col("left.geneId") === col("right.geneIdA"), "left")
      .withColumnRenamed("geneIdB", "interactorGeneId")
      // status lookup against DISTINCT (gene, label) pairs — ≤2 rows
      // per gene. The reference joins the full gold standard here and
      // relies on the final distinct; that fans out by the interactor
      // gene's row count (quadratic when genes recur across many loci)
      // for an identical result set.
      .join(
        goldStandard.select(col("geneId").as("interactorGeneId"),
          col("goldStandardSet").as("interactorGoldStandardSet"))
          .distinct(),
        Seq("interactorGeneId"), "left")
      .filter(col("left.geneId") =!= col("interactorGeneId") ||
        col("interactorGeneId").isNull)
      .filter(
        !(col("goldStandardSet") === NegativeLabel) &&
          col("interactorGoldStandardSet") === PositiveLabel ||
          col("interactorGeneId").isNull)
      .select(cols: _*)
      .distinct()
  }

  /** Feature matrix restricted to the gold standard: bring (studyId,
    * variantId) from the credible sets, inner-join the gold standard
    * on (studyId, variantId, geneId), keep protein-coding rows.
    * reference: src/gentropy/dataset/l2g_gold_standard.py:108-140 */
  def buildFeatureMatrix(goldStandard: DataFrame, featureMatrix: DataFrame,
                         credSets: DataFrame): DataFrame =
    featureMatrix
      .join(credSets.select("studyLocusId", "variantId", "studyId"),
        Seq("studyLocusId"), "left")
      .join(broadcast(goldStandard.drop("studyLocusId", "sources")),
        Seq("studyId", "variantId", "geneId"), "inner")
      .filter(col("isProteinCoding") === 1.0)
      .drop("studyId", "variantId")
      .distinct()
      .na.fill(0.0)

  /** End-to-end: curation + distances + overlaps + interactions →
    * refined gold standard.
    *
    * The expanded gold standard feeds three consumers inside
    * [[filterUniqueAssociations]] (gene-multiplicity counts, the
    * overlap semi-join, the final anti-join) and the filtered set two
    * inside [[removeFalseNegatives]] (left side + interactor-status
    * lookup) — without the persists the curation→negatives expansion
    * pipeline re-evaluates up to six times (measured 25.8→~8 s at
    * sf0.1). Nothing is computed here: under AQE the caller's terminal
    * action fills both caches as table-cache query stages that run
    * before the stages reading them, and a partition is computed once
    * even when several such stages ask for it at the same time (the
    * others wait on BlockManager's write lock for the block, then read
    * it). Release via `cache` after the terminal action.
    * reference: src/gentropy/dataset/l2g_gold_standard.py:33-66 */
  def fromOtgCuration(curation: DataFrame, distances: DataFrame,
                      overlaps: DataFrame, interactions: DataFrame,
                      cache: graft.core.CacheHandle): DataFrame = {
    val gs = cache.persist(fromCuration(curation, distances))
    val unique = cache.persist(filterUniqueAssociations(gs, overlaps))
    removeFalseNegatives(unique, processGeneInteractions(interactions))
  }
}
