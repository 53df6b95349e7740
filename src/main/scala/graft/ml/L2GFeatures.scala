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
  * of the credible sets at worst); here the distance, VEP and
  * isProteinCoding families compute ALL their local features in ONE
  * join + ONE groupBy using conditional aggregates, each other family
  * in one of its own, and the neighbourhood variants in ONE
  * protein-coding join + ONE window pass per leg — a shuffle count
  * independent of feature count, the shape that survives a 100×
  * scale-up. [[computeFeatureMatrix]] is the one code path that
  * computes each feature.
  *
  * All feature frames are wide: (studyLocusId, geneId, feature...).
  * [[featureMatrix]] merges families and zero-fills, matching the
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
    * (through the exploded `consequences`) to a locus' lead variant but
    * absent from the colocalisation results, so neighbourhood
    * normalisation covers them.
    * reference: src/gentropy/dataset/l2g_features/colocalisation.py:72-119 */
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
  // Tag-keyed families: distance, VEP, isProteinCoding (7 local)     //
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

  /** Every local tag-keyed feature the inputs allow, in ONE join + ONE
    * (studyLocusId, geneId) groupBy: the per-variant right sides —
    * `distances` (variantId, geneId, distanceFromTss[,
    * distanceFromFootprint]) and the exploded `consequences` — merge
    * once on (variantId, geneId) and join the tags once. Values equal
    * separate per-family passes: each aggregate ignores the null
    * columns of the other family's rows, and a key one family adds to
    * another resolves to the same 0.0 the matrix zero-fill gives absent
    * keys. None when neither right side is given.
    *
    *  - distance (reference: src/gentropy/dataset/l2g_features/distance.py:21-80):
    *    mean features weight the linear score `window - d + 1` by
    *    posterior probability and sum; sentinel features take the lead
    *    variant's unweighted score; both log-scale into [0, 1].
    *  - VEP (reference: src/gentropy/dataset/l2g_features/vep.py:21-75):
    *    the maximum consequence score and the mean of score ×
    *    posterior probability.
    *  - isProteinCoding (reference: src/gentropy/dataset/l2g_features/other.py:85-145):
    *    1.0 when a transcript within the window is protein coding, 0.0
    *    when only others are.
    *
    * `clusterByLocus` pre-partitions the joined rows on studyLocusId for
    * a neighbourhood window that follows. */
  private def tagFamilies(tags: DataFrame, distances: Option[DataFrame],
                          consequences: Option[DataFrame],
                          clusterByLocus: Boolean): Option[DataFrame] = {
    val distT = distances.map(_.withColumnRenamed("variantId", "tagVariantId"))
    val consT = consequences.map(_
      .withColumnRenamed("variantId", "tagVariantId")
      .withColumnRenamed("distanceFromFootprint", "_consFootprint"))
    val tagRight = (distT, consT) match {
      case (Some(d), Some(c)) => Some(d.join(c, Seq("tagVariantId", "geneId"), "outer"))
      case (d, c) => d.orElse(c)
    }
    tagRight.map { right =>
      val window = GenomicWindow
      def score(c: String) = lit(window) - col(c) + lit(1)
      def distAggs(c: String, name: String) = Seq(
        logScale(sum(score(c) * col("posteriorProbability")), window)
          .as(s"distance${name}Mean"),
        logScale(max(when(col("isSentinel"), score(c))), window)
          .as(s"distanceSentinel$name"))
      val dist = distT.toSeq.flatMap { d =>
        distAggs("distanceFromTss", "Tss") ++
          (if (d.columns.contains("distanceFromFootprint"))
            distAggs("distanceFromFootprint", "Footprint") else Nil)
      }
      val vep = if (consT.isEmpty) Nil else Seq(
        max(col("severityScore")).as("vepMaximum"),
        mean(col("severityScore") * col("posteriorProbability")).as("vepMean"),
        // the reference emits DISTINCT rows, which can yield both a 0.0
        // and a 1.0 row for a gene with mixed-biotype transcripts; the
        // max flag resolves the contradiction (documented deviation) so
        // the pair keys stay unique
        max(when(col("_consFootprint") <= window,
          when(col("biotype") === "protein_coding", lit(1.0))
            .otherwise(lit(0.0)))).as("isProteinCoding"))
      val aggs = dist ++ vep
      // when the neighbourhood window follows, pre-partition the joined
      // tag block on studyLocusId — hash(studyLocusId) satisfies the
      // groupBy(studyLocusId, geneId) clustering (a subset of its keys)
      // AND the window's partitionBy(studyLocusId), so ONE
      // exchange serves both where the old shape paid two
      // (Exchange(sl,g) for the agg + Exchange(sl) for the window).
      // The trade — the shared exchange moves raw joined rows instead
      // of agg-reduced pairs — is cheap here: the (locus, gene) agg
      // reduces rows <2x, far less than a full exchange costs.
      val joined = tags.join(right, Seq("tagVariantId"))
      val preparted =
        if (clusterByLocus) joined.repartition(col("studyLocusId")) else joined
      preparted
        .groupBy("studyLocusId", "geneId")
        .agg(aggs.head, aggs.tail: _*)
    }
  }

  /** The local distance features alone, un-zero-filled: the factory's
    * tag block over `credSets`' exploded tags and `distances` only. */
  def distanceFeatures(credSets: DataFrame, distances: DataFrame): DataFrame =
    tagFamilies(explodedTags(credSets), Some(distances), None,
      clusterByLocus = false).get

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

  /** Credible-set confidence class → numeric score, fanned out to the
    * locus' functionally-linked genes (through the exploded
    * `consequences`).
    * reference: src/gentropy/dataset/l2g_features/other.py:268-362 */
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

  /** For each feature column, append `<c>Neighbourhood` = local value
    * over the regional max across the locus' protein-coding genes,
    * IN-FRAME: one broadcast biotype lookup + one window pass adds
    * every ratio to `wide` itself. Non-protein-coding genes get 0.0,
    * the value the matrix zero-fill gives a key absent from a family,
    * so the local frame stays one union leg of [[featureMatrix]] with
    * a single consumer and needs no persist.
    * reference: the common_neighbourhood_*_logic functions
    * (e.g. src/gentropy/dataset/l2g_features/vep.py:77-130) */
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
      /** A FLAT credible-set projection (studyLocusId, studyId,
        * variantId, chromosome, position[, confidence]) the caller
        * already holds — e.g. persisted because it also feeds their
        * studyLoci union. The factory reads it as given and never
        * persists it; without it, the factory projects `credSets`
        * itself and persists that projection only when the inputs
        * give it two or more readers. */
      flatCred: Option[DataFrame] = None)

  /** Compute every feature family the inputs allow, local +
    * neighbourhood, as one wide matrix. This is the only code that
    * computes the tag-keyed, colocalisation, confidence and gene-count
    * features; [[distanceFeatures]] reuses its tag block.
    *
    * Sharing policy: a shared frame is persisted (on `cache`) only
    * when the given inputs build two or more readers of it; a frame
    * with one reader is computed once anyway, so persisting it would
    * only add a job. The candidates are FLAT frames — the exploded
    * transcript consequences (fused tag block, coloc extension,
    * confidence), the flat credible-set projection (coloc right-side
    * mapping, coloc extension, confidence, gene-count window) and the
    * local coloc aggregate (union leg + extension anti-join probe),
    * which always has both of its readers. The ARRAY-heavy
    * credible sets are never persisted: their cache conversion costs
    * more than re-running the codegen'd source aggregation (measured at
    * sf0.1). Neighbourhood features are appended IN-FRAME by
    * [[appendNeighbourhoodCols]], so the big per-family local
    * aggregates have a single consumer. Building the matrix fills no
    * cache: every shared frame fills in the caller's first action on the
    * matrix. Inputs that share nothing (the lifecycle chain's credible
    * sets + distances) persist nothing, and building the matrix then
    * runs no Spark job. Callers release via `cache.release()` after the
    * terminal action on the matrix.
    *
    * The shared frames are plain [[graft.core.CacheHandle.persist]]s,
    * so a lost block is recomputed from lineage. Each scan site then
    * embeds the frame's cached subtree in the consumer plan; at sf0.1
    * that costs no measurable time against a local checkpoint's leaf
    * (`q_ml_l2g_features` on 4 CPUs, 7 interleaved pairs, medians 12.03 s vs
    * 12.11 s, inside the checkpoint side's quartiles). */
  def computeFeatureMatrix(in: Inputs,
                           cache: graft.core.CacheHandle): DataFrame = {
    // tags feed exactly one join (the fused tag-family block) — no persist
    val tags = in.tags.getOrElse(explodedTags(in.credSets))
    val flat = in.flatCred.getOrElse(
      in.credSets.select(in.credSets.columns.filter(Seq("studyLocusId",
        "studyId", "variantId", "chromosome", "position", "confidence")
        .contains).map(col).toIndexedSeq: _*))
    val coloc = for (c <- in.coloc; si <- in.studyIndex) yield (c, si)
    val extension = coloc.isDefined && in.genes.isDefined && in.variantIndex.isDefined
    val confidence = in.variantIndex.isDefined && flat.columns.contains("confidence")
    val geneCounts = in.genes.isDefined &&
      Seq("chromosome", "position").forall(flat.columns.contains)
    def shared(df: DataFrame, readers: Int) =
      if (readers >= 2) cache.persist(df) else df
    val cons = in.variantIndex.map(vi => shared(explodedConsequences(vi),
      1 + Seq(extension, confidence).count(identity)))
    // colocFeatures scans its study loci twice (right-side mapping +
    // left semi-join); a caller's own projection is used as-is
    val flatCred = if (in.flatCred.isDefined) flat else shared(flat,
      (if (coloc.isDefined && in.studyLoci.isEmpty) 2 else 0) +
        Seq(extension, confidence, geneCounts).count(identity))
    val frames = scala.collection.mutable.ArrayBuffer.empty[DataFrame]

    // the distance, VEP and isProteinCoding families share ONE tags
    // join + ONE groupBy + ONE neighbourhood window
    tagFamilies(tags, in.distances, cons,
      clusterByLocus = in.genes.isDefined).foreach { local =>
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
    for ((c, si) <- coloc) {
      val studyLoci = in.studyLoci.getOrElse(flatCred)
      (in.genes, cons) match {
        case (Some(g), Some(tc)) =>
          // two consumers (the union + the extension's anti-join probe)
          val local = cache.persist(colocFeatures(c, studyLoci, si))
          // the extension's zero rows carry local features = 0.0 —
          // exactly the matrix zero-fill for those keys — so the
          // extended frame subsumes the local one: merge local +
          // extension + neighbourhood ratios into ONE union leg
          val extended = local.unionByName(
            extendMissingColocFromConsequences(local, tc, g, flatCred))
          frames += appendNeighbourhoodCols(extended, g, colocFeatureNames)
        case _ =>
          frames += colocFeatures(c, studyLoci, si)
      }
    }
    for (tc <- cons if confidence)
      frames += credibleSetConfidenceFromConsequences(flatCred, tc)
    for (g <- in.genes if geneCounts)
      frames += geneCountFeatures(flatCred, g)
    featureMatrix(frames.toSeq)
  }
}
