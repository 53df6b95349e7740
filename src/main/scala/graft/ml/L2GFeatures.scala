package graft.ml

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Locus-to-gene (L2G) feature factory.
  *
  * Covers the reference's four feature families
  * (reference: src/gentropy/dataset/l2g_features/distance.py:21-453,
  * colocalisation.py:23-735, vep.py:21-272, other.py:20-362) with a
  * different physical shape: the reference computes each of its 28
  * features as an independent pipeline over the same inputs (28 scans
  * of the credible sets at worst); here each family computes ALL its
  * local features in ONE join + ONE groupBy using conditional
  * aggregates, and all its neighbourhood variants in ONE
  * protein-coding join + ONE window pass. Per family: 2 shuffles
  * total, independent of feature count — the shape that survives a
  * 100× scale-up.
  *
  * All feature frames are wide: (studyLocusId, geneId, feature...).
  * [[featureMatrix]] outer-joins families and zero-fills, matching the
  * reference's long-to-wide pivot + fillna in its feature matrix
  * (reference: src/gentropy/dataset/l2g_feature_matrix.py).
  */
object L2GFeatures {

  val GenomicWindow = 500000

  private def logScale(agg: Column, window: Int): Column =
    log10(agg) / math.log10(window + 1.0)

  private def ratioToRegionalMax(local: Column, regionalMax: Column): Column =
    when(regionalMax.isNotNull && regionalMax =!= 0.0,
      coalesce(local, lit(0.0)) / regionalMax).otherwise(lit(0.0))

  /** Credible-set tags exploded once, with the sentinel (lead) flag —
    * the shared input of the distance/VEP/other families. */
  def explodedTags(credSets: DataFrame): DataFrame =
    credSets
      .withColumn("tag", explode_outer(col("locus")))
      .select(col("studyLocusId"),
        col("tag.variantId").as("tagVariantId"),
        col("tag.posteriorProbability").as("posteriorProbability"),
        (col("tag.variantId") === col("variantId")).as("isSentinel"))

  // ---------------------------------------------------------------- //
  // Distance family (8 features)                                     //
  // ---------------------------------------------------------------- //

  /** All local distance features in one pass. `distances` carries
    * (variantId, geneId, distanceFromTss[, distanceFromFootprint]).
    * Mean features weight the linear distance score by posterior
    * probability and sum; sentinel features take the lead variant's
    * unweighted score; both log-scale into [0, 1] over the window.
    * reference: src/gentropy/dataset/l2g_features/distance.py:21-80 */
  def distanceFeatures(credSets: DataFrame, distances: DataFrame,
                       genomicWindow: Int = GenomicWindow): DataFrame =
    distanceFeaturesFromTags(explodedTags(credSets), distances, genomicWindow)

  /** [[distanceFeatures]] over pre-exploded (ideally persisted) tags. */
  def distanceFeaturesFromTags(tags: DataFrame, distances: DataFrame,
                               genomicWindow: Int = GenomicWindow): DataFrame = {
    val withFootprint = distances.columns.contains("distanceFromFootprint")
    def score(c: String) = lit(genomicWindow) - col(c) + lit(1)
    val base = Seq(
      logScale(sum(score("distanceFromTss") * col("posteriorProbability")),
        genomicWindow).as("distanceTssMean"),
      logScale(max(when(col("isSentinel"), score("distanceFromTss"))),
        genomicWindow).as("distanceSentinelTss"))
    val fp = if (!withFootprint) Nil else Seq(
      logScale(sum(score("distanceFromFootprint") * col("posteriorProbability")),
        genomicWindow).as("distanceFootprintMean"),
      logScale(max(when(col("isSentinel"), score("distanceFromFootprint"))),
        genomicWindow).as("distanceSentinelFootprint"))
    val aggs = base ++ fp
    tags
      .join(distances.withColumnRenamed("variantId", "tagVariantId"),
        Seq("tagVariantId"))
      .groupBy("studyLocusId", "geneId")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Back-compat single-feature wrappers (kept for composability). */
  def distanceMeanFeature(credSets: DataFrame, distances: DataFrame,
                          distanceCol: String, featureName: String,
                          genomicWindow: Int = GenomicWindow): DataFrame =
    explodedTags(credSets)
      .join(distances.withColumnRenamed("variantId", "tagVariantId"),
        Seq("tagVariantId"))
      .groupBy("studyLocusId", "geneId")
      .agg(logScale(sum((lit(genomicWindow) - col(distanceCol) + 1) *
        col("posteriorProbability")), genomicWindow).as(featureName))

  def distanceSentinelFeature(credSets: DataFrame, distances: DataFrame,
                              distanceCol: String, featureName: String,
                              genomicWindow: Int = GenomicWindow): DataFrame =
    credSets.select("studyLocusId", "variantId")
      .join(distances, Seq("variantId"))
      .groupBy("studyLocusId", "geneId")
      .agg(logScale(first(lit(genomicWindow) - col(distanceCol) + 1),
        genomicWindow).as(featureName))

  // ---------------------------------------------------------------- //
  // Colocalisation family (12 features)                              //
  // ---------------------------------------------------------------- //

  private val qtlClasses: Seq[(String, Seq[String])] = Seq(
    "eQtl" -> Seq("eqtl", "sceqtl"),
    "pQtl" -> Seq("pqtl"),
    "sQtl" -> Seq("sqtl", "tuqtl", "scsqtl", "sctuqtl"))

  val colocFeatureNames: Seq[String] =
    for ((q, _) <- qtlClasses; m <- Seq("ColocClppMaximum", "ColocH4Maximum"))
      yield s"$q$m"

  /** All six local colocalisation features in one pass: the maximum
    * CLPP (eCAVIAR) / H4 (COLOC) per (studyLocusId, geneId) restricted
    * by QTL class, as conditional max aggregates over the annotated
    * colocalisation rows.
    * reference: src/gentropy/dataset/l2g_features/colocalisation.py:23-70 +
    * src/gentropy/dataset/colocalisation.py:39-123 */
  def colocFeatures(coloc: DataFrame, studyLoci: DataFrame,
                    studyIndex: DataFrame): DataFrame = {
    val rightGene = studyLoci
      .select(col("studyLocusId").as("rightStudyLocusId"),
        col("studyId").as("rightStudyId"))
      .join(studyIndex.select(col("studyId").as("rightStudyId"), col("geneId"),
        lower(col("studyType")).as("qtlType")), Seq("rightStudyId"))
      .filter(col("geneId").isNotNull)
    // no broadcast hint: the right-side locus→gene mapping scales with
    // the number of QTL study loci (millions at production scale) —
    // AQE can still decide to broadcast when it is genuinely small
    val annotated = coloc
      .join(rightGene, Seq("rightStudyLocusId"))
      .join(studyLoci.select(col("studyLocusId").as("leftStudyLocusId")),
        Seq("leftStudyLocusId"), "left_semi")
    val method = lower(col("colocalisationMethod"))
    val aggs = qtlClasses.flatMap { case (qName, types) =>
      val inClass = col("qtlType").isin(types: _*)
      Seq(
        max(when(method === "ecaviar" && inClass, col("clpp")))
          .as(s"${qName}ColocClppMaximum"),
        max(when(method === "coloc" && inClass, col("h4")))
          .as(s"${qName}ColocH4Maximum"))
    }
    annotated
      .groupBy(col("leftStudyLocusId").as("studyLocusId"), col("geneId"))
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Artificial zero rows for protein-coding genes functionally linked
    * to a locus' lead variant but absent from the colocalisation
    * results, so neighbourhood normalisation covers them.
    * reference: src/gentropy/dataset/l2g_features/colocalisation.py:72-119 */
  def extendMissingColocToNeighbourhoodGenes(
      localFeatures: DataFrame, variantIndex: DataFrame, genes: DataFrame,
      studyLoci: DataFrame): DataFrame =
    extendMissingColocFromConsequences(localFeatures,
      explodedConsequences(variantIndex), genes, studyLoci)

  /** [[extendMissingColocToNeighbourhoodGenes]] over pre-exploded
    * consequences. */
  def extendMissingColocFromConsequences(
      localFeatures: DataFrame, consequences: DataFrame, genes: DataFrame,
      studyLoci: DataFrame): DataFrame = {
    val codingLut = consequences
      .select(col("geneId"), col("variantId"))
      .join(genes.select(col("id").as("geneId"),
        col("biotype").as("_gBiotype")), Seq("geneId"), "left")
      .filter(col("_gBiotype") === "protein_coding")
      .drop("_gBiotype")
      .distinct()
    val withVariant = localFeatures
      .join(studyLoci.select("studyLocusId", "variantId"), Seq("studyLocusId"))
    val featureCols =
      localFeatures.columns.filterNot(Seq("studyLocusId", "geneId").contains)
    codingLut
      .join(withVariant, Seq("variantId", "geneId"), "left_anti")
      .join(withVariant.select("studyLocusId", "variantId").distinct(),
        Seq("variantId"))
      .drop("variantId")
      .select(col("studyLocusId") +: col("geneId") +:
        featureCols.map(c => lit(0.0).as(c)): _*)
  }

  // ---------------------------------------------------------------- //
  // VEP family (4 features)                                          //
  // ---------------------------------------------------------------- //

  /** Transcript consequences exploded once — the shared right side of
    * the VEP / isProteinCoding / coloc-extension / confidence families.
    * One row per (variantId, geneId, transcript annotation). */
  def explodedConsequences(variantIndex: DataFrame): DataFrame =
    variantIndex
      .select(col("variantId"), explode(col("transcriptConsequences")).as("tc"))
      .select(col("variantId"), col("tc.targetId").as("geneId"),
        col("tc.consequenceScore").as("severityScore"),
        col("tc.biotype").as("biotype"),
        col("tc.distanceFromFootprint").as("distanceFromFootprint"))

  /** Both local VEP severity features in one pass: credible-set max
    * consequence score and PP-weighted mean, per (studyLocusId, geneId).
    * `variantIndex` carries transcriptConsequences:
    * array<struct<targetId, consequenceScore, ...>>.
    * reference: src/gentropy/dataset/l2g_features/vep.py:21-75 */
  def vepFeatures(credSets: DataFrame, variantIndex: DataFrame): DataFrame =
    vepFeaturesFromTags(explodedTags(credSets),
      explodedConsequences(variantIndex))

  /** [[vepFeatures]] over pre-exploded tags and consequences. */
  def vepFeaturesFromTags(tags: DataFrame, consequences: DataFrame): DataFrame =
    tags
      .join(consequences.withColumnRenamed("variantId", "tagVariantId")
        .select("tagVariantId", "geneId", "severityScore"), Seq("tagVariantId"))
      .groupBy("studyLocusId", "geneId")
      .agg(
        max(col("severityScore")).as("vepMaximum"),
        mean(col("severityScore") * col("posteriorProbability")).as("vepMean"))

  // ---------------------------------------------------------------- //
  // Other features                                                   //
  // ---------------------------------------------------------------- //

  /** Gene counts in the locus window: every (studyLocusId, geneId)
    * pair in the ±window/2 TSS range, annotated with the distinct gene
    * count (and the protein-coding count) of that window. One banded
    * range join + ONE shuffle: the per-locus distinct gene set is a
    * map-side-combining collect_set (bounded — it holds at most the
    * genes a 500 kb window can contain), re-exploded with the counts
    * attached. Replaces the earlier pair-level distinct shuffle + window
    * shuffle pair (2.5× slower at sf0.1). The reference performs the
    * range join twice per variant and counts approximately; an exact
    * count is both cheaper and oracle-friendly (documented deviation).
    * reference: src/gentropy/dataset/l2g_features/other.py:20-83 */
  def geneCountFeatures(studyLoci: DataFrame, genes: DataFrame,
                        genomicWindow: Int = GenomicWindow): DataFrame = {
    val loci = studyLoci.select(col("studyLocusId"),
      col("chromosome").as("slChromosome"),
      (col("position") - genomicWindow / 2).as("windowStart"),
      (col("position") + genomicWindow / 2).as("windowEnd"))
    loci
      .join(broadcast(genes.select(col("id").as("geneId"), col("biotype"),
        col("chromosome").as("gChromosome"), col("tss"))),
        col("slChromosome") === col("gChromosome") &&
          col("tss") >= col("windowStart") && col("tss") <= col("windowEnd"))
      .select("studyLocusId", "geneId", "biotype")
      .groupBy("studyLocusId")
      .agg(collect_set(struct(col("geneId"), col("biotype"))).as("_gs"))
      .select(col("studyLocusId"),
        explode(col("_gs")).as("_g"),
        size(col("_gs")).cast("long").as("geneCount500kb"),
        size(filter(col("_gs"),
          g => g.getField("biotype") === "protein_coding"))
          .cast("long").as("proteinGeneCount500kb"))
      .select(col("studyLocusId"), col("_g.geneId").as("geneId"),
        col("geneCount500kb"), col("proteinGeneCount500kb"))
  }

  /** 1.0 when the (locus, gene) link is to a protein-coding transcript
    * within the window, 0.0 otherwise.
    * reference: src/gentropy/dataset/l2g_features/other.py:85-145 */
  def isProteinCodingFeature(credSets: DataFrame, variantIndex: DataFrame,
                             genomicWindow: Int = GenomicWindow): DataFrame =
    isProteinCodingFromTags(explodedTags(credSets),
      explodedConsequences(variantIndex), genomicWindow)

  /** [[isProteinCodingFeature]] over pre-exploded tags/consequences. */
  def isProteinCodingFromTags(tags: DataFrame, consequences: DataFrame,
                              genomicWindow: Int = GenomicWindow): DataFrame = {
    require(genomicWindow <= 500000, "Genomic window must be at most 500kb")
    val genesInWindow = consequences
      .filter(col("distanceFromFootprint") <= genomicWindow)
      .select(col("variantId").as("tagVariantId"), col("geneId"),
        col("biotype"))
    tags
      .filter(col("tagVariantId").isNotNull)
      .join(genesInWindow, Seq("tagVariantId"))
      // the reference emits DISTINCT rows, which can yield both a 0.0
      // and a 1.0 row for a gene with mixed-biotype transcripts; we
      // resolve the contradiction to the max flag (documented
      // deviation) so the pair keys stay unique
      .groupBy("studyLocusId", "geneId")
      .agg(max(when(col("biotype") === "protein_coding", lit(1.0))
        .otherwise(lit(0.0))).as("isProteinCoding"))
  }

  /** Credible-set confidence class → numeric score, fanned out to the
    * locus' functionally-linked genes.
    * reference: src/gentropy/dataset/l2g_features/other.py:268-362 */
  def credibleSetConfidenceFeature(credSets: DataFrame,
                                   variantIndex: DataFrame): DataFrame =
    credibleSetConfidenceFromConsequences(credSets,
      explodedConsequences(variantIndex))

  /** [[credibleSetConfidenceFeature]] over pre-exploded consequences. */
  def credibleSetConfidenceFromConsequences(
      credSets: DataFrame, consequences: DataFrame): DataFrame = {
    val score = when(col("confidence") === "SuSiE fine-mapped credible set with in-sample LD", 1.0)
      .when(col("confidence") === "SuSiE fine-mapped credible set with out-of-sample LD", 0.75)
      .when(col("confidence") === "PICS fine-mapped credible set extracted from summary statistics", 0.5)
      .when(col("confidence") === "PICS fine-mapped credible set based on reported top hit", 0.25)
      .when(col("confidence") === "Unknown confidence", 0.0)
    credSets
      .select(col("studyLocusId"), col("variantId"), score.as("credibleSetConfidence"))
      .join(consequences.select("variantId", "geneId"), Seq("variantId"))
      .select("studyLocusId", "geneId", "credibleSetConfidence")
      .distinct()
  }

  // ---------------------------------------------------------------- //
  // Neighbourhood normalisation (shared by every family)             //
  // ---------------------------------------------------------------- //

  /** For each feature column, append `<name>Neighbourhood` = local
    * value over the regional max across the locus' protein-coding
    * genes, in a single window pass over all columns.
    * reference: the common_neighbourhood_*_logic functions
    * (e.g. src/gentropy/dataset/l2g_features/vep.py:77-130) */
  def neighbourhoodFeatures(wide: DataFrame, genes: DataFrame,
                            featureCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy("studyLocusId")
    val coding = wide.join(
      broadcast(genes.filter(col("biotype") === "protein_coding")
        .select(col("id").as("geneId"))), Seq("geneId"))
    // all ratios in ONE select: every window expression shares the same
    // spec, so Catalyst plans a single Window operator — a per-column
    // withColumn fold interleaves Projects that defeat CollapseWindow
    // and stack one Window pass per feature (measured on the factory's
    // in-frame twin below)
    coding.select(col("studyLocusId") +: col("geneId") +:
      featureCols.map(c =>
        ratioToRegionalMax(col(c), max(col(c)).over(w))
          .as(s"${c}Neighbourhood")): _*)
  }

  /** Back-compat single-feature neighbourhood wrapper. */
  def neighbourhoodFeature(localFeature: DataFrame, genes: DataFrame,
                           localName: String, featureName: String): DataFrame =
    neighbourhoodFeatures(localFeature, genes, Seq(localName))
      .withColumnRenamed(s"${localName}Neighbourhood", featureName)

  /** [[neighbourhoodFeatures]] appended IN-FRAME instead of as a
    * separate (studyLocusId, geneId) frame: one broadcast biotype
    * lookup + one window pass adds every `<c>Neighbourhood` column to
    * `wide` itself. Non-protein-coding genes get 0.0 — exactly the
    * value the separate-frame shape gives them via the matrix
    * zero-fill (they are absent from that frame). Halves the union
    * volume of [[featureMatrix]] and drops a persist: the parent
    * frame no longer needs caching for a second consumer. */
  def appendNeighbourhoodCols(wide: DataFrame, genes: DataFrame,
                              featureCols: Seq[String]): DataFrame = {
    val w = Window.partitionBy("studyLocusId")
    val coded = wide.join(
      broadcast(genes.select(col("id").as("geneId"),
        (col("biotype") === "protein_coding").as("_coding"))),
      Seq("geneId"), "left")
    // ONE select carrying every ratio: the window expressions all share
    // the same spec, so they land in a single Window operator (one
    // buffered pass per partition). The previous per-column withColumn
    // fold inserted a Project between consecutive Window nodes,
    // defeating CollapseWindow — the plan carried SIX stacked Window
    // passes per family leg, each re-copying every row.
    val neigh = featureCols.map(c =>
      when(col("_coding"),
        ratioToRegionalMax(col(c), max(when(col("_coding"), col(c))).over(w)))
        .otherwise(lit(0.0)).as(s"${c}Neighbourhood"))
    coded.select(wide.columns.map(col).toIndexedSeq ++ neigh: _*)
  }

  // ---------------------------------------------------------------- //
  // Factory                                                          //
  // ---------------------------------------------------------------- //

  /** Assemble a wide feature matrix from wide feature frames keyed by
    * (studyLocusId, geneId), zero-filled.
    *
    * Shape (measured at sf0.1, in order tried): a melt+re-pivot was
    * ~40% slower than an outer-join reduce (explode overhead); a
    * null-padded union + one merging groupBy beats the join reduce by
    * another ~30% — ONE shuffle of the padded union with map-side
    * partial aggregation, instead of one sort-merge pass per family
    * over the accumulated (widening) frame. The merge aggregates are
    * scalar max() so the groupBy stays a codegen'd HashAggregate (see
    * the in-body note for the SortAggregate trap this replaces). */
  def featureMatrix(features: Seq[DataFrame]): DataFrame = {
    val keys = Seq("studyLocusId", "geneId")
    // FLAT null-padded scalar columns merged by max(): every feature
    // column is non-null in exactly one source frame and frames are
    // unique per key (families guarantee both), so max over the union
    // returns the single non-null value — identical to first(ignoreNulls).
    // Scalar max keeps every aggregation buffer slot a MUTABLE primitive,
    // so the merge runs as a codegen'd HashAggregate; the r12 shape
    // (one struct slot per family merged by first(ignoreNulls)) had
    // immutable buffer types and silently planned as Sort +
    // SortAggregate — a full sort of the multi-million-row union (its
    // stage: 25.2 of 48 steady CPU-s at sf0.1; the HashAggregate stage
    // measures 14.6).
    // Measured trade (sf0.1, fresh-JVM bench protocol): the struct
    // shape RECORDS 1-3 s faster — SortAggregate is pre-compiled
    // library code with zero per-query JIT warmup, while the wide
    // codegen'd projections + 30-slot hash aggregate pay compilation
    // on every fresh JVM, and at 7M rows warmup is a visible share of
    // the wall. The hash shape is kept anyway because the steady-state
    // CPU is ~1.7x lower on the merge stage and the 100 TB shape is
    // categorical: a billions-of-rows union must stream through a hash
    // aggregate, not an O(n log n) spill-prone sort; per-query codegen
    // warmup amortizes to nothing on a long-lived cluster session.
    val famCols: Seq[Seq[String]] =
      features.map(_.columns.toSeq.filterNot(keys.contains))
    val featCols = famCols.flatten.distinct
    require(featCols.nonEmpty,
      "featureMatrix needs at least one non-key feature column")
    // Multi-owner columns are REJECTED, not resolved: the factory never
    // produces them, and max-across-owners would silently pick one
    // family's value over another's.
    require(famCols.flatten.size == featCols.size,
      "feature columns must be owned by exactly one family; multi-owner: " +
        famCols.flatten.groupBy(identity).collect {
          case (c, owners) if owners.size > 1 => c
        }.mkString(", "))
    // types resolve to the (single) owner's
    val colType = featCols.map { c =>
      c -> features(famCols.indexWhere(_.contains(c))).schema(c).dataType
    }.toMap
    val padded = features.zip(famCols).map { case (f, fc) =>
      f.select(col("studyLocusId") +: col("geneId") +:
        featCols.map { c =>
          (if (fc.contains(c)) col(c).cast(colType(c))
           else lit(null).cast(colType(c))).as(c)
        }: _*)
    }
    padded
      .reduce(_.unionByName(_))
      .groupBy("studyLocusId", "geneId")
      .agg(max(col(featCols.head)).as(featCols.head),
        featCols.tail.map(c => max(col(c)).as(c)): _*)
      .na.fill(0.0)
  }

  /** Inputs of the full factory. `distances` and `coloc` are optional
    * families; omitted families are skipped, mirroring the reference's
    * feature-factory registry selecting by requested feature names
    * (reference: src/gentropy/method/l2g/feature_factory.py:102-197). */
  case class Inputs(
      credSets: DataFrame,
      variantIndex: Option[DataFrame] = None,
      genes: Option[DataFrame] = None,
      distances: Option[DataFrame] = None,
      coloc: Option[DataFrame] = None,
      studyIndex: Option[DataFrame] = None,
      /** All study loci (GWAS + QTL) for the coloc right-side study
        * mapping; defaults to `credSets`. */
      studyLoci: Option[DataFrame] = None,
      /** Pre-exploded tags `(studyLocusId, tagVariantId,
        * posteriorProbability, isSentinel)` — callers already holding
        * the engine's flat long format skip the locus-array
        * collect/explode round trip (the most expensive input
        * materialisation at sf0.1). Defaults to
        * `explodedTags(credSets)`. */
      tags: Option[DataFrame] = None,
      /** Pre-persisted FLAT credible-set projection (studyLocusId,
        * studyId, variantId, chromosome, position[, confidence]) —
        * callers that already cache this frame (e.g. because it also
        * feeds their studyLoci union) pass it here and the factory
        * consumes it directly instead of re-projecting and re-caching
        * its own copy from `credSets`. */
      flatCred: Option[DataFrame] = None)

  /** Compute every feature family the inputs allow, local +
    * neighbourhood, as one wide matrix.
    *
    * Sharing policy (measured at sf0.1): the ARRAY-heavy credible sets
    * are never persisted — their columnar cache conversion costs more
    * than re-running the codegen'd source aggregation. What IS
    * persisted (on `cache`) are the FLAT frames
    * each consumed by ≥2 subplans — the exploded transcript
    * consequences (fused tag block + coloc-extension + confidence),
    * the flat credible-set projection, and the local coloc aggregate
    * (union leg + extension anti-join probe). Neighbourhood features
    * are appended IN-FRAME by [[appendNeighbourhoodCols]], so the big
    * per-family local aggregates have a single consumer and are never
    * persisted. Callers release via `cache.release()` after the
    * terminal action on the matrix.
    *
    * The shared frames are persisted PLAN-TRUNCATED through
    * [[graft.core.CacheHandle.persistTruncated]] (local checkpoint), so
    * every one of their scan sites contributes a leaf node to the
    * consumer plan instead of re-embedding the frame's full subtree
    * (the InMemoryRelation shape carried 51 embedded cache subtrees
    * over 1,856 lines in the q_ml_l2g_features plan; planning + codegen
    * were ~3-4 s of its ~6 s recorded cost). */
  def computeFeatureMatrix(in: Inputs,
                           cache: graft.core.CacheHandle): DataFrame = {
    // tags feed exactly one join (the fused tag-family block) — no persist
    val tags = in.tags.getOrElse(explodedTags(in.credSets))
    val cons = in.variantIndex.map(vi =>
      cache.persistTruncated(explodedConsequences(vi)))
    // flat credible-set projection (no locus array): consumed by the
    // coloc right-side mapping, the coloc extension, the confidence
    // feature, and the gene-count window — persisting it once spares
    // each of those a recompute of the caller's source aggregation,
    // and unlike the array-bearing frame it columnar-caches cheaply.
    // A caller-persisted projection (Inputs.flatCred) is used as-is.
    val flatCred = in.flatCred.getOrElse(cache.persistTruncated(
      in.credSets.select(in.credSets.columns.filter(Seq("studyLocusId",
        "studyId", "variantId", "chromosome", "position", "confidence")
        .contains).map(col).toIndexedSeq: _*)))
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // ---- fused tag-keyed families (distance + VEP + isProteinCoding):
    // the three families share the SAME 600k-row tags join and the SAME
    // (studyLocusId, geneId) groupBy, so merge their per-variant right
    // sides once and compute all nine features with ONE join + ONE
    // groupBy + ONE neighbourhood window instead of three of each.
    // Values are unchanged: the aggregates ignore null columns from the
    // other family's rows, and keys one family adds to another resolve
    // to the same 0.0 the matrix zero-fill gives absent keys.
    val distT = in.distances.map(_.withColumnRenamed("variantId", "tagVariantId"))
    val consT = cons.map(_
      .withColumnRenamed("variantId", "tagVariantId")
      .withColumnRenamed("distanceFromFootprint", "_consFootprint"))
    val tagRight = (distT, consT) match {
      case (Some(d), Some(c)) => Some(d.join(c, Seq("tagVariantId", "geneId"), "outer"))
      case (d, c) => d.orElse(c)
    }
    tagRight.foreach { right =>
      val window = GenomicWindow
      def score(c: String) = lit(window) - col(c) + lit(1)
      val withFootprint =
        distT.exists(_.columns.contains("distanceFromFootprint"))
      val distAggs = if (distT.isEmpty) Nil else Seq(
        logScale(sum(score("distanceFromTss") * col("posteriorProbability")),
          window).as("distanceTssMean"),
        logScale(max(when(col("isSentinel"), score("distanceFromTss"))),
          window).as("distanceSentinelTss")) ++ (if (!withFootprint) Nil else Seq(
        logScale(sum(score("distanceFromFootprint") * col("posteriorProbability")),
          window).as("distanceFootprintMean"),
        logScale(max(when(col("isSentinel"), score("distanceFromFootprint"))),
          window).as("distanceSentinelFootprint")))
      val vepAggs = if (consT.isEmpty) Nil else Seq(
        max(col("severityScore")).as("vepMaximum"),
        mean(col("severityScore") * col("posteriorProbability")).as("vepMean"),
        max(when(col("_consFootprint") <= window,
          when(col("biotype") === "protein_coding", lit(1.0))
            .otherwise(lit(0.0)))).as("isProteinCoding"))
      val aggs = distAggs ++ vepAggs
      // r17: when the neighbourhood window follows, pre-partition the
      // joined tag block on studyLocusId — hash(studyLocusId) satisfies
      // the groupBy(studyLocusId, geneId) clustering (subset rule,
      // guide §2.4) AND the window's partitionBy(studyLocusId), so ONE
      // exchange serves both where the old shape paid two
      // (Exchange(sl,g) for the agg + Exchange(sl) for the window).
      // The trade — the shared exchange moves raw joined rows instead
      // of agg-reduced pairs — is cheap here: the (locus, gene) agg
      // reduces rows <2x, far less than a full exchange costs.
      val joined = tags.join(right, Seq("tagVariantId"))
      val preparted =
        if (in.genes.isDefined) joined.repartition(col("studyLocusId"))
        else joined
      val local = preparted
        .groupBy("studyLocusId", "geneId")
        .agg(aggs.head, aggs.tail: _*)
      frames += (in.genes match {
        case Some(g) =>
          val neighCols = local.columns
            .filterNot(Seq("studyLocusId", "geneId", "isProteinCoding").contains)
          // neighbourhood ratios appended in-frame: one union leg and
          // one persisted 1M-row frame fewer than the separate-frame
          // shape (measured ~2x on this stage at sf0.1)
          appendNeighbourhoodCols(local, g, neighCols.toSeq)
        case None => local
      })
    }
    for (c <- in.coloc; si <- in.studyIndex) {
      (in.genes, cons) match {
        case (Some(g), Some(tc)) =>
          // two consumers (the union + the extension's anti-join probe)
          val local = cache.persistTruncated(
            colocFeatures(c, in.studyLoci.getOrElse(flatCred), si))
          // the extension's zero rows carry local features = 0.0 —
          // exactly the matrix zero-fill for those keys — so the
          // extended frame subsumes the local one: merge local +
          // extension + neighbourhood ratios into ONE union leg
          val extended = local.unionByName(
            extendMissingColocFromConsequences(local, tc, g, flatCred))
          frames += appendNeighbourhoodCols(extended, g, colocFeatureNames)
        case _ =>
          frames += colocFeatures(c, in.studyLoci.getOrElse(flatCred), si)
      }
    }
    // VEP + isProteinCoding are folded into the fused tag-keyed block
    // above; only the (lead-variant-keyed) confidence feature remains
    cons.foreach { tc =>
      if (flatCred.columns.contains("confidence"))
        frames += credibleSetConfidenceFromConsequences(flatCred, tc)
    }
    for (g <- in.genes
         if flatCred.columns.contains("position") &&
           flatCred.columns.contains("chromosome")) {
      frames += geneCountFeatures(flatCred, g)
    }
    // materialise the shared caches NOW (triggers one cheap job per
    // persisted frame): the union-assembled matrix evaluates every
    // family subplan inside ONE shuffle stage, and concurrent branches
    // racing a still-uncached parent would recompute its partitions
    // redundantly (measured 2x end-to-end at sf0.1)
    cache.materialize()
    featureMatrix(frames.toSeq)
  }
}
