package graft.steps

import graft.finemap.DistributedFineMapper
import graft.ml.{L2GFeatures, L2GModel}
import graft.operators._
import graft.sources._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Production step registry — the reference's Hydra step lifecycle
  * (reference: src/gentropy/cli.py:13-26, config.py:36-696) as a
  * zero-dependency name→step map.
  *
  * Each step reads parquet inputs, runs one engine operator chain and
  * writes parquet — the same contract as the reference's ~35 step
  * configs, without the 787-LoC config registry: parameters arrive as
  * `key=value` CLI arguments with typed accessors and defaults.
  *
  * Run via [[GraftCli]]: `graft <step> in=... out=... [param=value...]`.
  */
object Steps {

  /** Typed view over `key=value` CLI arguments. */
  case class StepArgs(values: Map[String, String]) {
    def apply(key: String): String = values.getOrElse(key,
      throw new IllegalArgumentException(s"Missing required argument '$key'"))
    def get(key: String): Option[String] = values.get(key)
    def int(key: String, default: Int): Int =
      values.get(key).map(_.toInt).getOrElse(default)
    def long(key: String, default: Long): Long =
      values.get(key).map(_.toLong).getOrElse(default)
    def double(key: String, default: Double): Double =
      values.get(key).map(_.toDouble).getOrElse(default)
    def bool(key: String, default: Boolean): Boolean =
      values.get(key).map(_.toBoolean).getOrElse(default)
  }

  case class Step(name: String, description: String,
                  run: (SparkSession, StepArgs) => Unit)

  /** Resolve `dedup_perfect_ld` for the SuSiE-chain steps, making the
    * choice EXPLICIT rather than a silent caller convention.
    *
    * Guidance: set **dedup_perfect_ld=true for real LD panels** —
    * perfectly-linked SNP groups (pairwise |r| ≈ 1) are common in
    * high-LD regions, and every CARMA configuration containing such a
    * pair is rank-deficient (non-finite likelihood → per-locus search
    * expansion; see
    * [[graft.finemap.DistributedFineMapper.perfectLdKeepIdx]]).
    * Set **dedup_perfect_ld=false only for reference-parity runs**:
    * the reference keeps |r|≈1 duplicates with split posterior mass
    * (susie_finemapper.py:461-691 has no dedup), and the long-pinned
    * golden digests lock that keep-both shape. The flag is verified
    * byte-identical OFF and digest-changing ON against the goldens.
    *
    * When the caller does not pass the flag, the step still defaults
    * to reference-parity OFF (so parity pipelines keep working
    * unchanged) but says so on stderr with the recommendation — a
    * real-panel user silently inheriting the degenerate class was the
    * failure mode this resolver exists to close. */
  private def resolveDedupPerfectLd(a: StepArgs, step: String): Boolean =
    a.get("dedup_perfect_ld") match {
      case Some(v) => v.toBoolean
      case None =>
        System.err.println(s"[$step] dedup_perfect_ld not set — " +
          "defaulting to false (reference-parity: keep |r|~1 duplicate " +
          "variants with split posterior mass). For REAL LD panels set " +
          "dedup_perfect_ld=true: perfectly-linked groups make every " +
          "containing CARMA configuration rank-deficient.")
        false
    }

  private def read(spark: SparkSession, path: String): DataFrame =
    spark.read.parquet(path)

  private def write(df: DataFrame, path: String): Unit =
    df.write.mode("overwrite").parquet(path)

  /** Run a cache-bearing operator, write its result, and release the
    * operator's persisted frames. Per-step spark-submit never needs
    * the release (JVM exit drops caches), but a long-lived session
    * chaining many steps would otherwise accumulate them. */
  private def writeReleasing(path: String)(
      body: graft.core.CacheHandle => DataFrame): Unit = {
    val handle = graft.core.CacheHandle()
    try write(body(handle), path) finally handle.release()
  }

  val registry: Map[String, Step] = Seq(
    Step("window_based_clumping",
      "Distance-window clumping of significant sumstats rows into leads",
      (s, a) => write(
        WindowBasedClumping.clump(read(s, a("in")),
          distance = a.int("distance", 500000)), a("out"))),

    Step("locus_breaker_clumping",
      "Gap-based locus splitting with top-variant selection",
      (s, a) => write(
        LocusBreakerClumping.clump(read(s, a("in")),
          baselinePValueCutoff = a.double("baseline_pvalue_cutoff", 1e-5),
          distanceCutoff = a.int("distance_cutoff", 250000),
          pValueCutoff = a.double("pvalue_cutoff", 5e-8),
          flankingDistance = a.int("flanking_distance", 100000)), a("out"))),

    Step("ld_based_clumping",
      "Flag leads explained by a stronger lead in high LD",
      (s, a) => writeReleasing(a("out"))(h =>
        LDClumping.clump(read(s, a("in")), cache = h))),

    Step("colocalisation",
      "COLOC + eCAVIAR over credible-set overlaps",
      // writeReleasing is load-bearing in a chained session: findOverlaps
      // persists the exploded tags AND the peak pairs (corpus-scale at
      // 10x), and leaking them starved every later stage of storage
      // memory (the ChainBench 10x run measured the NEXT stage at
      // 17x/decade before this release)
      (s, a) => writeReleasing(a("out")) { h =>
        // both methods take their fused O(tags)+O(intersection) scale
        // paths; method=coloc_classic / ecaviar_classic keep the
        // aligned-overlaps formulation for parity runs
        def tags = h.persist(Overlaps.explodeLoci(read(s, a("in"))))
        def overlaps = Overlaps.findOverlaps(read(s, a("in")), cache = h)
        a.get("method").map(_.toLowerCase) match {
          case Some("ecaviar") => Coloc.eCaviarFused(tags)
          case Some("coloc") | None => Coloc.colocaliseFused(tags)
          case Some("ecaviar_classic") => Coloc.eCaviar(overlaps)
          case Some("coloc_classic") => Coloc.colocalise(overlaps)
          case Some(other) =>
            throw new IllegalArgumentException(s"Unknown method '$other'")
        }
      }),

    Step("pics",
      "PICS credible sets from lead p-values and LD r2",
      (s, a) => write(PICS.finemap(read(s, a("in"))), a("out"))),

    Step("susie_finemapping",
      "Executor-parallel CARMA→RAISS→SuSiE-inf fine-mapping " +
        "(dedup_perfect_ld=true recommended on real LD panels; " +
        "false = reference parity — see resolveDedupPerfectLd)",
      (s, a) => write(
        DistributedFineMapper.finemapAll(s, read(s, a("in")),
          read(s, a("ld")),
          n = a.int("n", 100000), L = a.int("l", 10),
          runCarma = a.bool("run_carma", false),
          imputeMissing = a.bool("run_sumstat_imputation", false),
          imputedR2Threshold = a.double("imputed_r2_threshold", 0.9),
          ldScoreThreshold = a.double("ld_score_threshold", 5.0),
          dedupPerfectLd = resolveDedupPerfectLd(a, "susie_finemapping"))
          .toDF(),
        a("out"))),

    Step("susie_credible_sets",
      "Per-locus CARMA→RAISS→SuSiE-inf emitting one row per credible " +
        "set (dedup_perfect_ld=true recommended on real LD panels; " +
        "false = reference parity — see resolveDedupPerfectLd)",
      (s, a) => write(
        DistributedFineMapper.finemapCredibleSets(s, read(s, a("in")),
          read(s, a("ld")),
          n = a.int("n", 100000), L = a.int("l", 10),
          csLbfThr = a.double("cs_lbf_thr", 2.0),
          sumPips = a.double("sum_pips", 0.99),
          leadPvalThreshold = a.double("lead_pval_threshold", 1.0),
          purityMeanR2Threshold = a.double("purity_mean_r2_threshold", 0.0),
          purityMinR2Threshold = a.double("purity_min_r2_threshold", 0.0),
          ldMinR2 = a.double("ld_min_r2", 0.9),
          runCarma = a.bool("run_carma", false),
          imputeMissing = a.bool("run_sumstat_imputation", false),
          imputedR2Threshold = a.double("imputed_r2_threshold", 0.9),
          ldScoreThreshold = a.double("ld_score_threshold", 5.0),
          dedupPerfectLd = resolveDedupPerfectLd(a, "susie_credible_sets"))
          .toDF(),
        a("out"))),

    Step("variant_index",
      "Parse Ensembl VEP JSON output into the variant index",
      (s, a) => write(
        VepParser.processVepOutput(s, a("in"),
          a.int("hash_threshold", 100)), a("out"))),

    Step("gnomad_variant_index",
      "GnomAD sites export into the variant index shape",
      (s, a) => write(
        GnomadVariants.asVariantIndex(read(s, a("in")),
          a.int("hash_threshold", 100)), a("out"))),

    Step("ld_index",
      "GnomAD LD matrix export into the aggregated LD index",
      (s, a) => write(
        GnomadLd.asLdIndex(
          Seq((a.get("population").getOrElse("nfe"),
            read(s, a("entries")), read(s, a("index")))),
          minR2 = a.double("min_r2", 0.5)), a("out"))),

    Step("ld_annotation",
      "Annotate study loci with the major-population ldSet from the LD index",
      (s, a) => write(
        LDAnnotator.ldAnnotate(read(s, a("in")), read(s, a("studies")),
          read(s, a("ld_index")),
          r2Threshold = a.double("r2_threshold", 0.5)), a("out"))),

    Step("study_validation",
      "Study index validator battery (unique id, type, target, biosample)",
      (s, a) => {
        var df = Validators.validateStudyType(
          Validators.validateUniqueStudyId(read(s, a("in"))))
        a.get("target_index").foreach(p =>
          df = Validators.validateTarget(df, read(s, p)))
        a.get("biosample_index").foreach(p =>
          df = Validators.validateBiosample(df, read(s, p)))
        write(df, a("out"))
      }),

    Step("study_locus_validation",
      "Study locus validators (study, chromosome, variant identifiers)",
      (s, a) => {
        var df = Validators.validateChromosomeLabel(read(s, a("in")))
        a.get("study_index").foreach(p =>
          df = Validators.validateStudy(df, read(s, p)))
        a.get("variant_index").foreach(p =>
          df = Validators.validateVariantIdentifiers(df, read(s, p)))
        write(df, a("out"))
      }),

    Step("summary_statistics_qc",
      "Per-study sumstats QC battery (mean beta, PZ, GC lambda, counts)",
      (s, a) => write(
        SumstatQC.qualityControlMetrics(read(s, a("in")),
          a.double("pval_threshold", 1e-8)), a("out"))),

    Step("l2g_feature_matrix",
      "Locus-to-gene feature matrix (distance/coloc/VEP/other families)",
      (s, a) => write(
        L2GFeatures.computeFeatureMatrix(L2GFeatures.Inputs(
          credSets = read(s, a("credible_sets")),
          variantIndex = a.get("variant_index").map(read(s, _)),
          genes = a.get("gene_index").map(read(s, _)),
          distances = a.get("distances").map(read(s, _)),
          coloc = a.get("colocalisation").map(read(s, _)),
          studyIndex = a.get("study_index").map(read(s, _)),
          studyLoci = a.get("study_loci").map(read(s, _)))), a("out"))),

    Step("l2g_gold_standard",
      "Gold-standard labels: curation + negatives, overlap-dedup, interaction cleanup",
      (s, a) => write(
        graft.ml.L2GGoldStandard.fromOtgCuration(
          curation = read(s, a("curation")),
          distances = read(s, a("distances")),
          overlaps = read(s, a("overlaps")),
          interactions = read(s, a("interactions"))), a("out"))),

    Step("l2g_train",
      "Train the L2G GBT: grouped hold-out + grouped K-fold CV + final fit",
      (s, a) => {
        val res = graft.ml.L2GTrainer.train(read(s, a("in")),
          crossValidate = a.bool("cross_validate", true),
          nSplits = a.int("n_splits", 5),
          maxIter = a.int("max_iter", 50),
          maxDepth = a.int("max_depth", 5))
        res.cvMetrics.foreach(f => println(
          f"[l2g_train] fold ${f.fold}: auroc=${f.areaUnderROC}%.4f " +
            f"avgPrecision=${f.averagePrecision}%.4f n=${f.nVal}"))
        println(f"[l2g_train] holdout: auroc=${res.holdoutAreaUnderROC}%.4f " +
          f"avgPrecision=${res.holdoutAveragePrecision}%.4f")
        res.model.write.overwrite().save(a("out"))
      }),

    Step("l2g_score",
      "Score a feature matrix with a trained L2G model",
      (s, a) => write(
        L2GModel.score(
          org.apache.spark.ml.PipelineModel.load(a("model")),
          read(s, a("in"))), a("out"))),

    Step("l2g_predict",
      "Score GWAS credible sets with a trained L2G model",
      (s, a) => write(
        graft.ml.L2GPrediction.fromCredibleSet(
          org.apache.spark.ml.PipelineModel.load(a("model")),
          read(s, a("credible_sets")), read(s, a("feature_matrix"))),
        a("out"))),

    Step("l2g_evidence",
      "Export disease-target evidence from L2G predictions",
      (s, a) => write(
        graft.ml.L2GPrediction.toDiseaseTargetEvidence(
          read(s, a("predictions")), read(s, a("study_loci")),
          read(s, a("study_index")),
          a.double("l2g_threshold", 0.05)), a("out"))),

    Step("convert_to_vcf",
      "Merge variant sources into sorted VCF-shaped TSV shards",
      (s, a) => VcfExport.write(
        VcfExport.toVcf(a("in").split(";").toSeq.map(read(s, _)),
          a.int("partition_size", 2000)), a("out"))),

    Step("credible_set_qc",
      "Lead p-value + purity filters, best-BF dedup, optional LD clump",
      (s, a) => write(
        CredibleSetQC.credibleSetQc(read(s, a("in")),
          pValueThreshold = a.double("p_value_threshold", 1e-5),
          purityMinR2 = a.double("purity_min_r2", 0.01),
          clump = a.bool("clump", false),
          ldIndex = a.get("ld_index").map(read(s, _)),
          studyIndex = a.get("study_index").map(read(s, _)),
          ldMinR2 = a.double("ld_min_r2", 0.8)), a("out"))),

    Step("foldx_ingestion",
      "FoldX ddG dataset into amino-acid variant annotations",
      (s, a) => write(
        AminoAcidVariants.ingestFoldx(read(s, a("in")),
          a.double("plddt_threshold", 0.7)), a("out"))),

    Step("lof_curation",
      "Curated LoF verdicts into variant-index rows",
      (s, a) => write(
        AminoAcidVariants.lofCurationAsVariantIndex(read(s, a("in"))),
        a("out"))),

    Step("pan_ukbb_ld_index",
      "Align Pan-UKBB LD index alleles against the variant annotation",
      (s, a) => write(
        PanUkbbLd.alignLdIndexAlleles(read(s, a("index")),
          read(s, a("variant_annotation"))), a("out"))),

    Step("gwas_catalog_study_index",
      "GWAS Catalog study + ancestry tables into the study index",
      (s, a) => {
        var si = GwasCatalogStudyIndex.fromSource(read(s, a("studies")),
          read(s, a("ancestries")))
        a.get("curation").foreach(p => si = GwasCatalogStudyIndex
          .annotateFromStudyCuration(si,
            Some(GwasCatalogStudyIndex.parseOtCuration(read(s, p)))))
        a.get("inclusion_list").foreach(p =>
          si = GwasCatalogStudyIndex.applyInclusionList(si, read(s, p)))
        write(si, a("out"))
      }),

    Step("gwas_catalog_study_curation",
      "Export the curation worksheet for GWAS Catalog sumstats studies",
      (s, a) => write(
        GwasCatalogStudyIndex.extractStudiesForCuration(read(s, a("in")),
          a.get("curation").map(p =>
            GwasCatalogStudyIndex.parseOtCuration(read(s, p)))), a("out"))),

    Step("ukbiobank_study_index",
      "UK Biobank study manifest into the study index",
      (s, a) => write(
        StudyIndexSources.ukBiobankStudyIndex(read(s, a("in"))), a("out"))),

    Step("finngen_ukb_meta_study_index",
      "FinnGen-UKB meta-analysis manifest into the study index",
      (s, a) => write(
        StudyIndexSources.finngenUkbMetaStudyIndex(read(s, a("in")),
          a.get("efo_curation").map(read(s, _))), a("out"))),

    Step("biosample_index",
      "Biosample ontology JSON into the biosample index",
      (s, a) => write(BiosampleOntology.fromJson(s, a("in")), a("out"))),

    Step("eqtl_catalogue",
      "eQTL Catalogue SuSiE results into credible sets + study index",
      (s, a) => {
        val processed = EqtlCatalogueSusie.parseSusieResults(
          read(s, a("credible_sets")), read(s, a("lbf")),
          read(s, a("studies_metadata")))
        write(EqtlCatalogueSusie.fromSusieResults(processed), a("out"))
        a.get("study_index_out").foreach(p =>
          write(EqtlCatalogueSusie.studyIndexFromSusieResults(processed), p))
      }),

    Step("finngen_studies",
      "FinnGen phenotype table into the study index (+ optional EFO join)",
      (s, a) => {
        var si = StudyIndexSources.finngenStudyIndex(read(s, a("in")),
          releasePrefix = a.get("release_prefix").getOrElse("FINNGEN_R11"),
          sumstatsUrlPrefix = a.get("sumstats_url_prefix").getOrElse(""),
          sumstatsUrlSuffix = a.get("sumstats_url_suffix").getOrElse(""))
        a.get("efo_curation").foreach(p =>
          si = StudyIndexSources.joinEfoMapping(si, read(s, p),
            a.get("release").getOrElse("R11")))
        write(si, a("out"))
      }),

    Step("ukb_ppp_eur_study_index",
      "UKB PPP (EUR) pQTL manifest into the study index",
      (s, a) => write(
        StudyIndexSources.ukbPppEurStudyIndex(read(s, a("in")),
          read(s, a("summary_stats"))), a("out"))),

    Step("sumstats_harmonisation",
      "Harmonise raw sumstats (ukb_ppp_eur/finngen_ukb_meta flavours)",
      (s, a) => {
        val cols = a.get("flavour").map(_.toLowerCase) match {
          case Some("finngen_ukb_meta") =>
            PerChromosome.SumstatColumns.FinngenUkbMeta
          case Some("ukb_ppp_eur") | None =>
            PerChromosome.SumstatColumns.UkbPppEur
          case Some(other) =>
            throw new IllegalArgumentException(s"Unknown flavour '$other'")
        }
        write(PerChromosome.harmoniseSummaryStats(read(s, a("in")),
          PerChromosome.prepareVariantAnnotation(read(s, a("annotation"))),
          cols), a("out"))
      }),

    Step("intervals",
      "Parse an interval source (andersson/javierre/jung/thurman)",
      (s, a) => {
        val genes = read(s, a("gene_index"))
        val out = a("source") match {
          case "andersson" =>
            Intervals.resolveGenes(Intervals.andersson(s, a("in")), genes)
          case "javierre" => Intervals.javierre(read(s, a("in")), genes)
          case "jung" =>
            Intervals.jung(s.read.option("header", "true").csv(a("in")), genes)
          case "thurman" =>
            Intervals.thurman(Intervals.readThurman(s, a("in")), genes)
          case other =>
            throw new IllegalArgumentException(s"Unknown source '$other'")
        }
        write(out, a("out"))
      }),

    Step("gwas_catalog_top_hits",
      "Map curated GWAS Catalog top hits to GnomAD variants",
      (s, a) => write(
        GwasCatalogAssociations.mapVariantsToGnomadVariants(
          s.read.option("sep", "\t").option("header", "true").csv(a("in"))
            .withColumn("rowId", monotonically_increasing_id()),
          read(s, a("variant_index"))), a("out"))),

    Step("gwas_catalog_sumstats",
      "Harmonised GWAS Catalog summary statistics TSV ingestion",
      (s, a) => write(
        GwasCatalogSumstats.fromHarmonizedFile(s, a("in"), a("study_id"),
          a.int("partitions", 20)), a("out"))),

    Step("finngen_susie",
      "FinnGen SuSiE fine-mapping output ingestion (.snp files)",
      (s, a) => write(
        FinnGenSusie.parseSnpFiles(s, a("in"),
          a.get("release_prefix").getOrElse("FINNGEN_R11")), a("out"))),

    Step("pack_shards",
      "Pack documents into fixed token-budget shards (distributed prefix sum); tokens_col uses a precomputed count (e.g. bpe_encode's n_bpe) instead of whitespace words",
      (s, a) => {
        val (in, tokCol) = a.get("tokens_col") match {
          case Some(c) => (read(s, a("in")), c)
          case None => (read(s, a("in")).withColumn("n_tokens",
            TextAnalysis.tokenCount(org.apache.spark.sql.functions
              .col(a.get("text_col").getOrElse("text"))).cast("long")),
            "n_tokens")
        }
        write(Packing.packByBudget(in, a.get("id_col").getOrElse("doc_id"),
          tokCol, a.get("budget").map(_.toLong).getOrElse(1 << 20)), a("out"))
      }),

    Step("dedup_exact",
      "Exact text deduplication on a document table",
      (s, a) => write(
        Dedup.exactDedup(read(s, a("in")), a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id")), a("out"))),

    Step("cooccurrence",
      "Term co-occurrence + PMI with stop/fat-doc caps",
      (s, a) => writeReleasing(a("out")) { h =>
        TextAnalysis.termCooccurrence(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          minPairCount = a.int("min_pairs", 2),
          maxDocTerms = a.int("max_doc_terms", 1000),
          stopDfFrac = a.double("stop_df_frac", 0.5), cache = h) }),

    Step("quality_filter",
      "Gopher-style hard-rule filter; survivors to out, per-rule audit to out_audit",
      (s, a) => {
        val in = read(s, a("in"))
        val text = a.get("text_col").getOrElse("text")
        val id = a.get("id_col").getOrElse("doc_id")
        val minTok = a.int("min_tokens", 10)
        write(TextAnalysis.qualityRuleFilter(in, text, id,
          minTokens = minTok), a("out"))
        a.get("out_audit").foreach(p => write(TextAnalysis.qualityRuleAudit(
          TextAnalysis.qualityRuleFlags(in, text, id, minTokens = minTok)), p))
      }),

    Step("chunk",
      "Sliding-window context chunks (max_tokens window, overlap carry)",
      (s, a) => write(
        TextAnalysis.chunkDocuments(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          maxTokens = a.int("max_tokens", 512),
          overlapTokens = a.int("overlap", 0)), a("out"))),

    Step("pca_project",
      "Fit k-component PCA in one corpus pass and write (id, projection)",
      (s, a) => {
        val in = read(s, a("in"))
        val vec = a.get("vec_col").getOrElse("embedding")
        val m = Similarity.pcaFit(in, a.int("k", 16), vecCol = vec)
        write(Similarity.pcaTransform(in, m,
          a.get("id_col").getOrElse("id"), vec), a("out"))
      }),

    Step("kmeans_fit",
      "Full-corpus Lloyd k-means: writes (id, cell); centroids to out_centroids",
      (s, a) => {
        val h = graft.core.CacheHandle()
        try {
          val in = read(s, a("in"))
          val id = a.get("id_col").getOrElse("id")
          val vec = a.get("vec_col").getOrElse("embedding")
          val m = Similarity.kmeansFit(in, a.int("k", 16),
            maxIter = a.int("max_iter", 20), tol = a.double("tol", 1e-6),
            seed = a.int("seed", 42).toLong, idCol = id, vecCol = vec,
            cache = h)
          write(Similarity.kmeansAssign(in, m.centroids, id, vec)
            .select("id", "cell"), a("out"))
          a.get("out_centroids").foreach(p =>
            write(Similarity.kmeansCentroids(s, m), p))
        } finally h.release()
      }),

    Step("bm25_index_build",
      "Build + persist a BM25 postings index (term-range-sorted for pruning)",
      (s, a) => {
        val h = graft.core.CacheHandle()
        try Search.bm25IndexWrite(Search.bm25IndexBuild(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"), cache = h), a("out"))
        finally h.release()
      }),

    Step("bm25_index_append",
      "Fold an arrival batch into a persisted BM25 index (no corpus " +
        "re-scan); out must differ from index (lazy reads — in-place " +
        "overwrite corrupts); assert_new_ids=true rejects re-ingested ids",
      (s, a) => {
        // the standing frames are read lazily: writing over the same
        // path would delete the files the append is still reading
        require(java.nio.file.Paths.get(a("out")).toAbsolutePath.normalize !=
          java.nio.file.Paths.get(a("index")).toAbsolutePath.normalize,
          "bm25_index_append: out must not equal index (write to a new " +
            "generation dir, then swap)")
        val h = graft.core.CacheHandle()
        try Search.bm25IndexWrite(Search.bm25IndexAppend(
          Search.bm25IndexRead(s, a("index")), read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          assertNewIds = a.bool("assert_new_ids", true), cache = h), a("out"))
        finally h.release()
      }),

    Step("bm25_search",
      "Search a persisted BM25 index with a query batch",
      (s, a) => writeReleasing(a("out")) { h =>
        Search.bm25SearchIndex(Search.bm25IndexRead(s, a("index")),
          read(s, a("queries")),
          k = a.int("k", 10), k1 = a.double("k1", 1.2),
          b = a.double("b", 0.75), cache = h) }),

    Step("rrf_fuse",
      "Reciprocal-rank-fuse ranking parquets (in=a,b,... each query_id,rank,doc_id)",
      (s, a) => write(
        Search.rrfFuse(a("in").split(",").map(_.trim).toSeq.map(read(s, _)),
          k = a.int("k", 10), c = a.int("c", 60)), a("out"))),

    Step("bm25_topk",
      "BM25 top-k documents per query (queries=parquet with query_id,qtext)",
      (s, a) => writeReleasing(a("out")) { h =>
        Search.bm25TopK(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          read(s, a("queries")),
          k = a.int("k", 10), k1 = a.double("k1", 1.2),
          b = a.double("b", 0.75), cache = h) }),

    Step("dedup_spans",
      "Remove corpus-wide duplicated token blocks (fixed-window substring dedup)",
      (s, a) => writeReleasing(a("out")) { h =>
        Dedup.spanDedup(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          blockTokens = a.int("block_tokens", 10), cache = h) }),

    Step("dedup_containment",
      "Directed shingle-containment pairs (near-supersets Jaccard misses)",
      (s, a) => writeReleasing(a("out")) { h =>
        Dedup.containmentPairs(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          shingleSize = a.int("shingle_size", 3),
          threshold = a.double("threshold", 0.9),
          // explicit stop-shingle cap opt-out of the adaptive default
          // (pre-r9 fixed behaviour: max_shingle_df=100000)
          maxShingleDF = a.int("max_shingle_df", Dedup.AdaptiveShingleDF),
          cache = h) }),

    Step("dedup_minhash",
      "MinHash+LSH near-duplicate pairs on a document table",
      (s, a) => writeReleasing(a("out")) { h =>
        Dedup.minhashDupPairs(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          threshold = a.double("threshold", 0.7), cache = h) }),

    Step("dedup_index_build",
      "Build a persistable dedup index: kind=exact (digest,canonicalId) or kind=minhash (id,sig)",
      (s, a) => {
        val in = read(s, a("in"))
        val text = a.get("text_col").getOrElse("text")
        val id = a.get("id_col").getOrElse("doc_id")
        val idx = a.get("kind").getOrElse("exact") match {
          case "exact" => IncrementalDedup.exactIndex(in, text, id)
          case "minhash" => IncrementalDedup.minhashIndex(in, text, id,
            shingleSize = a.int("shingle_size", 3),
            numHashes = a.int("num_hashes", 64))
          case other =>
            throw new IllegalArgumentException(s"Unknown index kind '$other'")
        }
        write(idx, a("out"))
      }),

    Step("dedup_incremental_exact",
      "Exact-dedup an arrival batch against a digest index; writes survivors and the merged index",
      (s, a) => {
        val arrivals = read(s, a("in"))
        val index = read(s, a("index"))
        val text = a.get("text_col").getOrElse("text")
        val id = a.get("id_col").getOrElse("doc_id")
        write(IncrementalDedup.incrementalExactDedup(arrivals, index, text, id),
          a("out"))
        a.get("out_index").foreach(p =>
          write(IncrementalDedup.mergedExactIndex(index, arrivals, text, id), p))
      }),

    Step("dedup_incremental_minhash",
      "Near-dup pairs of an arrival batch vs a (id,sig) signature index; optional merged index",
      (s, a) => {
        val index = read(s, a("index"))
        val text = a.get("text_col").getOrElse("text")
        val id = a.get("id_col").getOrElse("doc_id")
        val handle = graft.core.CacheHandle()
        try {
          val arrSigs = IncrementalDedup.minhashIndex(read(s, a("in")), text, id,
            shingleSize = a.int("shingle_size", 3),
            numHashes = a.int("num_hashes", 64))
          write(IncrementalDedup.incrementalMinhashPairs(arrSigs, index,
            numHashes = a.int("num_hashes", 64),
            bands = a.int("bands", 16),
            threshold = a.double("threshold", 0.5),
            maxBandBucket = a.int("max_band_bucket", 100000),
            cache = handle), a("out"))
          a.get("out_index").foreach(p =>
            write(IncrementalDedup.mergedMinhashIndex(index, arrSigs), p))
        } finally handle.release()
      }),

    Step("dedup_merge_components",
      "Fold a batch of new near-dup pairs into standing component labels",
      (s, a) => {
        val handle = graft.core.CacheHandle()
        try write(IncrementalDedup.mergeComponents(
          read(s, a("labels")), read(s, a("pairs")),
          a.get("a_col").getOrElse("idA"), a.get("b_col").getOrElse("idB"),
          cache = handle), a("out"))
        finally handle.release()
      }),

    Step("profile",
      "One-pass column profile (col_name, metric, value); cols=a,b,c",
      (s, a) => write(
        Profiler.profile(read(s, a("in")), a("cols").split(",").map(_.trim).toSeq,
          approxDistinct = a.bool("approx_distinct", true),
          rsd = a.double("rsd", 0.05)), a("out"))),

    Step("zorder_write",
      "Z-order-cluster a table on dims=a,b and write (locality for data skipping)",
      (s, a) => write(
        graft.core.ZOrder.clusterByZ(read(s, a("in")),
          a("dims").split(",").map(_.trim).toSeq,
          bitsPer = a.int("bits_per", 21),
          numPartitions = a.int("num_partitions", 200)), a("out"))),

    Step("decontaminate",
      "Flag corpus documents whose n-grams cover a benchmark document",
      (s, a) => writeReleasing(a("out")) { h =>
        Decontamination.flagContaminated(
          read(s, a("in")), read(s, a("benchmark")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          minCoverage = a.double("min_coverage", 0.8),
          bloomPrefilter = a.bool("bloom", false), cache = h) }),

    Step("tfidf_top_terms",
      "Top-k TF-IDF terms per document (smoothed sklearn idf)",
      (s, a) => write(
        TextAnalysis.tfIdfTopTerms(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          k = a.get("k").map(_.toInt).getOrElse(3)), a("out"))),

    Step("dedup_semantic",
      "SemDeDup-style within-cluster embedding near-dup pairs",
      (s, a) => writeReleasing(a("out")) { h =>
        Similarity.semanticDupPairs(read(s, a("in")),
          read(s, a("centroids")),
          threshold = a.double("threshold", 0.9),
          // hot-cell cap (quadratic guard); raise — or Long.MaxValue to
          // disable — when a dominant cluster's pairs must be kept
          maxCellSize = a.long("max_cell_size", 100000L), cache = h) }),

    Step("dedup_cluster_canonical",
      "Transitive near-dup clusters from a pair table; keep one survivor per cluster",
      (s, a) => writeReleasing(a("out")) { h =>
        Dedup.keepClusterCanonical(read(s, a("in")),
          a.get("id_col").getOrElse("doc_id"), read(s, a("pairs")),
          a.get("a_col").getOrElse("idA"), a.get("b_col").getOrElse("idB"),
          cache = h) }),

    Step("mix_sample",
      "Downsample each source to a target token mix (weights: src=w,src=w)",
      (s, a) => write(
        graft.operators.Mixing.sampleToMix(read(s, a("in")),
          a.get("id_col").getOrElse("doc_id"),
          a.get("source_col").getOrElse("source"),
          a.get("token_col").getOrElse("tokens"),
          a("weights").split(",").map { kv =>
            val Array(k, v) = kv.split("="); k -> v.toDouble
          }.toMap,
          a.long("budget", 1000000L)), a("out"))),

    Step("curriculum_bins",
      "Assign quantile curriculum bins of score_col (optionally per domain)",
      (s, a) => write(
        graft.operators.Mixing.curriculumBins(read(s, a("in")),
          a("score_col"), a.get("id_col").getOrElse("doc_id"),
          a.int("bins", 4), a.get("by_col")), a("out"))),

    Step("mix_repeats",
      "Mix to a token budget with upsampling: scarce sources repeat whole epochs",
      (s, a) => write(
        graft.operators.Mixing.sampleToMixWithRepeats(read(s, a("in")),
          a.get("id_col").getOrElse("doc_id"),
          a.get("source_col").getOrElse("source"),
          a.get("token_col").getOrElse("tokens"),
          a("weights").split(",").map { kv =>
            val Array(k, v) = kv.split("=", 2); k -> v.toDouble
          }.toMap,
          a.long("budget", 1000000L),
          a.long("max_repeat", 10L).toInt), a("out"))),

    Step("mix_temperature",
      "Temperature-flatten the source mix (q_d ∝ p_d^alpha) to a token budget",
      (s, a) => write(
        graft.operators.Mixing.temperatureMix(read(s, a("in")),
          a.get("id_col").getOrElse("doc_id"),
          a.get("source_col").getOrElse("source"),
          a.get("token_col").getOrElse("tokens"),
          a.double("alpha", 0.5),
          a.long("budget", 1000000L)), a("out"))),

    Step("bigram_lp",
      "Corpus-relative add-alpha bigram LM fluency score per document",
      (s, a) => write(
        graft.operators.TextAnalysis.bigramLogProbScores(
          read(s, a("in")), a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          a.double("alpha", 0.1)), a("out"))),

    Step("script_ratios",
      "Unicode script-mix fractions (latin/cjk/cyrillic/digit) per document",
      (s, a) => {
        import org.apache.spark.sql.functions.col
        val id = a.get("id_col").getOrElse("doc_id")
        val t = a.get("text_col").getOrElse("text")
        write(read(s, a("in")).select(col(id),
          graft.operators.TextAnalysis.scriptRatios(col(t)).as("scripts")),
          a("out"))
      }),

    Step("snapshot_diff",
      "Keyed drift report between two snapshots: added/removed/changed/unchanged",
      (s, a) => write(
        graft.operators.Upsert.snapshotDiff(
          read(s, a("old")), read(s, a("new")),
          a("keys").split(",").toSeq,
          a("compare_cols").split(",").toSeq), a("out"))),

    Step("epoch_shuffle",
      "Deterministic per-epoch reshuffle into reader shards (shard, pos)",
      (s, a) => write(
        graft.operators.Packing.epochShuffle(
          read(s, a("in")), a.get("id_col").getOrElse("doc_id"),
          a.long("epoch", 0L).toInt,
          a.long("shards", 64L).toInt), a("out"))),

    Step("bpe_train",
      "Induce a BPE tokenizer from the corpus word histogram; write the ranked merge table",
      (s, a) => graft.operators.Bpe.modelWrite(s,
        graft.operators.Bpe.train(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          numMerges = a.int("num_merges", 8192),
          maxWords = a.int("max_words", 1 << 16),
          minPairCount = a.long("min_pair_count", 2L)), a("out"))),

    Step("bpe_encode",
      "Encode a text column to BPE subword tokens + model-token counts with a trained merge table",
      (s, a) => {
        val model = graft.operators.Bpe.modelRead(s, a("model"))
        val text = col(a.get("text_col").getOrElse("text"))
        // n_bpe derives from the materialised tokens column — never a
        // second run of the interpreted merge loop per row
        write(read(s, a("in"))
          .withColumn("bpe_tokens", graft.operators.Bpe.encode(model, text))
          .withColumn("n_bpe", size(col("bpe_tokens")).cast("long")),
          a("out"))
      }),

    Step("cluster_top_terms",
      "c-TF-IDF top-k terms per cluster (BERTopic-style cluster labelling)",
      (s, a) => write(
        graft.operators.TextAnalysis.clusterTopTerms(
          read(s, a("in")), a.get("cluster_col").getOrElse("cluster"),
          a.get("text_col").getOrElse("text"),
          a.int("k", 10), a.int("min_term_count", 1)), a("out"))),

    Step("pool_embeddings",
      "Pool chunk embeddings to one vector per group (method=mean|max)",
      (s, a) => write(
        graft.operators.Similarity.poolEmbeddings(
          read(s, a("in")), a.get("group_col").getOrElse("doc_id"),
          a.get("emb_col").getOrElse("embedding"),
          a.get("method").getOrElse("mean")), a("out"))),

    Step("hard_negatives",
      "Per-query top-k similar items excluding the query's near-dup cluster",
      (s, a) => write(
        graft.operators.Similarity.hardNegatives(
          read(s, a("in")), read(s, a("queries")), read(s, a("pairs")),
          a.long("k", 10L).toInt,
          a.long("retrieve_factor", 3L).toInt), a("out"))),

    Step("quantile_normalize",
      "Percent-rank a score column within its domain for cross-domain thresholds",
      (s, a) => write(
        graft.operators.Mixing.quantileNormalize(
          read(s, a("in")), a("score_col"),
          a.get("domain_col").getOrElse("source"),
          a.get("out_col").getOrElse("score_pctl")), a("out"))),

    Step("dedup_keep_best",
      "Keep the highest-score member of each near-dup cluster (pairs input)",
      (s, a) => write(
        graft.operators.Dedup.keepClusterBest(
          read(s, a("in")), a.get("id_col").getOrElse("doc_id"),
          a.get("score_col").getOrElse("quality"),
          read(s, a("pairs"))), a("out"))),

    Step("split_leakage_safe",
      "Train/val/test split hashed on the near-dup cluster representative",
      (s, a) => write(
        graft.operators.Mixing.assignSplitLeakageSafe(
          read(s, a("in")), a.get("id_col").getOrElse("doc_id"),
          read(s, a("pairs")),
          valFrac = a.double("val_frac", 0.05),
          testFrac = a.double("test_frac", 0.05)), a("out"))),

    Step("dsir_select",
      "DSIR importance resampling: keep the k corpus rows whose hashed " +
        "n-gram mix best matches the target sample (Gumbel-top-k)",
      (s, a) => write(
        graft.operators.ImportanceSampling.dsirSelect(
          read(s, a("in")), read(s, a("target")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          a.long("k", 1000L).toInt,
          a.long("buckets", 1L << 14).toInt,
          a.double("alpha", 1.0),
          a.long("seed", 42L)), a("out"))),

    Step("stratified_sample",
      "Keep exactly n rows per stratum under the deterministic md5 draw (mode=window|agg)",
      (s, a) => {
        val take =
          if (a.get("mode").contains("agg"))
            graft.operators.Mixing.stratifiedTakeAgg _
          else graft.operators.Mixing.stratifiedTake _
        write(take(read(s, a("in")),
          a.get("strata_col").getOrElse("source"),
          a.get("id_col").getOrElse("doc_id"),
          a.int("n", 1000)), a("out"))
      }),

    Step("assign_split",
      "Deterministic md5-salted train/val/test assignment",
      (s, a) => write(
        graft.operators.Mixing.assignSplit(read(s, a("in")),
          a.get("id_col").getOrElse("doc_id"),
          valFrac = a.double("val_frac", 0.05),
          testFrac = a.double("test_frac", 0.05)), a("out"))),

    Step("text_signals",
      "Per-document quality signals: tokens, quality, language, unigram log-prob",
      (s, a) => {
        val idCol = a.get("id_col").getOrElse("doc_id")
        val textCol = a.get("text_col").getOrElse("text")
        val docs = read(s, a("in"))
        val base = docs.select(col(idCol),
          TextAnalysis.tokenCount(col(textCol)).as("nTokens"),
          TextAnalysis.bpeishTokenCount(col(textCol)).as("nBpeishTokens"),
          TextAnalysis.qualityScore(col(textCol)).as("qualityScore"),
          TextAnalysis.languageId(col(textCol)).as("language"),
          TextAnalysis.fingerprint(col(textCol)).as("fingerprint"))
        write(base.join(
          TextAnalysis.unigramLogProbScores(docs, textCol, idCol)
            .select(col(idCol), col("unigramLogProb")), Seq(idCol)),
          a("out"))
      }),

    Step("text_repetition",
      "Gopher-style intra-document n-gram repetition signals",
      (s, a) => write(
        TextAnalysis.ngramRepetitionSignals(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id")), a("out"))),

    Step("text_oov",
      "Per-document OOV rate against the corpus top-K vocabulary",
      (s, a) => write(
        TextAnalysis.oovRates(read(s, a("in")),
          a.get("text_col").getOrElse("text"),
          a.get("id_col").getOrElse("doc_id"),
          vocabSize = a.int("vocab_size", 100)), a("out"))),

    Step("pii_redact",
      "Redact emails/IPv4/phones; emit redacted corpus + audit counts",
      (s, a) => {
        val idCol = a.get("id_col").getOrElse("doc_id")
        val textCol = a.get("text_col").getOrElse("text")
        val docs = read(s, a("in"))
        write(docs.withColumn(textCol,
          graft.operators.PiiRedaction.redact(col(textCol))), a("out"))
        a.get("report").foreach(p => write(
          graft.operators.PiiRedaction.report(docs, textCol, idCol), p))
      }),

    Step("sample_frames",
      "Sample frames off video blobs (stride/cap), one row per frame",
      (s, a) => write(
        graft.operators.Multimodal.sampleFrames(s, read(s, a("in")),
          stride = a.int("stride", 10),
          maxFrames = a.int("max_frames", 8)).toDF(), a("out"))),

    Step("sq_topk",
      "SQ8 scalar-quantised ANN: train ranges, encode, search top-k",
      (s, a) => {
        val idCol = a.get("id_col").getOrElse("id")
        def shaped(path: String) = read(s, path)
          .select(col(idCol).as("id"), col("embedding"))
        val corpus = shaped(a("in"))
        val model = graft.operators.Similarity.sqTrain(corpus)
        val codes = graft.operators.Similarity.sqEncode(model, corpus)
        write(graft.operators.Similarity.sqTopK(model, codes,
          shaped(a("queries")), a.int("k", 10)), a("out"))
      }),

    Step("pq_index_build",
      "Train + encode an IVF-PQ ANN index (model + cell-partitioned codes)",
      (s, a) => {
        val (idx, codes) = Similarity.pqIndexBuild(read(s, a("in")),
          m = a.int("m", 8), kCodes = a.int("k_codes", 16),
          nLists = a.int("n_lists", 16))
        Similarity.pqIndexWrite(idx, codes, a("out"))
      }),

    Step("pq_index_append",
      "Encode a corpus delta against an existing PQ index model",
      (s, a) => {
        val (idx, _) = Similarity.pqIndexRead(s, a("index"))
        write(Similarity.pqEncode(idx, read(s, a("in"))), a("out"))
      }),

    Step("pq_search",
      "Top-k ANN search against a persisted IVF-PQ index",
      (s, a) => {
        val (idx, codes) = Similarity.pqIndexRead(s, a("index"))
        write(Similarity.pqSearch(idx, codes, read(s, a("queries")),
          k = a.int("k", 10), nProbe = a.int("n_probe", 3),
          refineCorpus = a.get("refine_corpus").map(read(s, _)),
          refineFactor = a.int("refine_factor", 4)), a("out"))
      }),

    Step("upsert",
      "Apply a CDC delta (latest-wins upsert + delete) to a keyed snapshot",
      (s, a) => write(Upsert.applyDelta(read(s, a("in")), read(s, a("delta")),
        a("keys").split(",").map(_.trim).toSeq,
        a.get("seq").getOrElse("seq"), a.get("op")), a("out"))),

    Step("audited_write",
      "Rewrite a dataset collecting one-pass audit metrics to a JSON sidecar",
      (s, a) => {
        graft.core.WriteAudit.writeWithAuditSidecar(read(s, a("in")), a("out"),
          a.get("audit_cols").toSeq.flatMap(_.split(",").map(_.trim)))
        ()
      }),

    Step("compact",
      "Rewrite a parquet dataset into size-targeted (optionally sorted) files",
      (s, a) => {
        graft.core.Compaction.compact(s, a("in"), a("out"),
          targetBytes = a.long("target_bytes", 128L << 20),
          sortCols = a.get("sort_by").toSeq.flatMap(_.split(",").map(_.trim)))
        ()
      })
  ).map(s => s.name -> s).toMap

  /** Parse `step key=value...` and run. */
  def runFromArgs(spark: SparkSession, args: Seq[String]): Unit = {
    require(args.nonEmpty, usage)
    val step = registry.getOrElse(args.head,
      throw new IllegalArgumentException(
        s"Unknown step '${args.head}'.\n$usage"))
    val kv = args.tail.map { a =>
      a.split("=", 2) match {
        case Array(k, v) => k -> v
        case _ => throw new IllegalArgumentException(
          s"Argument '$a' is not key=value")
      }
    }.toMap
    step.run(spark, StepArgs(kv))
  }

  def usage: String =
    "usage: graft <step> key=value...\navailable steps:\n" +
      registry.values.toSeq.sortBy(_.name)
        .map(s => f"  ${s.name}%-28s ${s.description}").mkString("\n")
}

/** CLI entry point (the reference's `gentropy` console script). */
object GraftCli {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty || args.head == "--help") {
      println(Steps.usage)
      return
    }
    val spark = graft.GraftSession.getOrCreate()
    // SPARK_GRAFT_PROFILE=1: dump the step's costliest Spark stages
    // (executor-CPU-ranked) to stderr on exit — the shared profiler,
    // for attributing step-cost differences between CLI, chain, and
    // bench contexts.
    val profiler = graft.core.StageProfiler.ifEnabled(spark, "cliprofile")
    try Steps.runFromArgs(spark, args.toSeq)
    finally {
      profiler.foreach(_.dump(args.head))
      spark.stop()
    }
  }
}
