package graft

import graft.core.CacheHandle
import graft.queries.{Oracles, Q}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * `queries` covers the SURVEY §2 operator inventory over the driver's
  * TPC-H-ish tables; every SQL-expressible query has a DuckDB oracle in
  * [[graft.queries.Oracles]] (same key). Queries without an oracle
  * (iterative kernels, hash-dependent ops, Gaussian sf) get the
  * driver's weaker rows-only check.
  */
object SparkEntry {

  /** Flagship: overlaps → COLOC end-to-end on sf0.001 (namesake
    * capability of the reference engine). */
  def entry(spark: SparkSession): DataFrame =
    Q.overlapsColocE2E(spark, "/root/testdata/sf0.001")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // scans / filters / projections
    "q_s2_scan_prune" -> (Q.scanPrune _),
    "q_p1_pvalue_filter" -> (Q.pvalueFilter _),
    "q_p4_region_filter" -> (Q.regionFilter _),
    // joins
    "q_j1_self_join_pairs" -> (Q.selfJoinPairs _),
    "q_j2_outer_align" -> (Q.outerAlign _),
    "q_j3_range_join" -> (Q.rangeJoin _),
    "q_j4_interval_band_join" -> (Q.intervalBandJoin _),
    "q_j_skew_salted" -> (Q.skewJoin _),
    "q_a11_rollup" -> (Q.rollupStats _),
    "q_j5_semi_join" -> (Q.semiJoin _),
    "q_j6_ld_annotate" -> (Q.ldAnnotateQuery _),
    "q_j9_variant_merge" -> (Q.variantMergeQuery _),
    "q_s14_ontology_closure" -> (Q.ontologyClosureQuery _),
    "q_f23_liftover" -> (Q.liftoverQuery _),
    "q_f25_effect_norm" -> (Q.effectNormQuery _),
    "q_j7_star_join" -> (Q.starJoin _),
    "q_j8_validation_join" -> (Q.validationJoin _),
    // aggregations
    "q_a1_collect_sorted" -> (Q.collectSorted _),
    "q_a2_sum_products" -> (Q.sumProducts _),
    "q_a3_sign_avg" -> (Q.signAvg _),
    "q_a5_stats_battery" -> (Q.statsBattery _),
    "q_a9_pivot" -> (Q.pivotEvents _),
    "q_a10_melt" -> (Q.meltLineitem _),
    // windows
    "q_w1_top1_per_group" -> (Q.top1PerGroup _),
    "q_w3_sessionize" -> (Q.sessionize _),
    "q_w4_rank_scan" -> (Q.rankScan _),
    "q_w5_running_frame" -> (Q.runningFrame _),
    "q_w7_medians" -> (Q.medians _),
    "q_w_topk_window" -> (Q.topkWindow _),
    // set ops
    "q_set_union_distinct" -> (Q.setOps _),
    // scalar function library
    "q_f9_harmonic_sum" -> (Q.harmonicSum _),
    "q_f20_cumsum_flags" -> (Q.cumsumFlags _),
    "q_f3_pvalue_codec" -> (Q.pvalueCodec _),
    // genetics operators (oracle-checked)
    "q_gx_coloc" -> (Q.coloc _),
    "q_gx_ecaviar" -> (Q.ecaviar _),
    "q_gx_cluster_top1" -> (Q.clusterTop1 _),
    "q_gx_qc_metrics" -> (Q.qcMetrics _),
    "q_p2_sanity_filter" -> (Q.sanityFilterQ _),
    // training-data pipeline (oracle-checked)
    "q_dedup_exact" -> (Q.dedupExact _),
    "q_dedup_ngram_jaccard" -> (Q.ngramJaccard _),
    "q_dedup_containment" -> (Q.dedupContainment _),
    "q_dedup_spans" -> (Q.dedupSpans _),
    "q_search_bm25" -> (Q.searchBm25 _),
    "q_search_rrf" -> (Q.searchRrf _),
    "q_search_hybrid" -> (Q.searchHybrid _),
    "q_text_cooccurrence" -> (Q.textCooccurrence _),
    "q_dsir_select" -> (Q.dsirSelect _),
    "q_text_bigram_lp" -> (Q.textBigramLp _),
    "q_dedup_keep_best" -> (Q.dedupKeepBest _),
    "q_split_leakage_safe" -> (Q.splitLeakageSafe _),
    "q_mix_quantile_norm" -> (Q.mixQuantileNorm _),
    "q_sim_hard_negatives" -> (Q.simHardNegatives _),
    "q_sim_pooled" -> (Q.simPooled _),
    "q_text_cluster_terms" -> (Q.textClusterTerms _),
    "q_ann_sq8" -> (Q.annSq8 _),
    "q_pack_epoch_shuffle" -> (Q.packEpochShuffle _),
    "q_upsert_snapshot_diff" -> (Q.upsertSnapshotDiff _),
    "q_dedup_exact_normalized" -> (Q.dedupExactNormalized _),
    "q_mix_repeats" -> (Q.mixRepeats _),
    "q_dedup_cluster_histogram" -> (Q.dedupClusterHistogram _),
    "q_text_scripts" -> (Q.textScripts _),
    "q_kmeans_step" -> (Q.kmeansStep _),
    "q_pca_cov" -> (Q.pcaCov _),
    "q_mix_temperature" -> (Q.mixTemperature _),
    "q_mix_curriculum" -> (Q.mixCurriculum _),
    "q_text_chunks" -> (Q.textChunks _),
    "q_text_quality_rules" -> (Q.textQualityRules _),
    "q_text_stats" -> (Q.textStats _),
    "q_text_langid" -> (Q.textLangId _),
    "q_upsert_orders" -> (Q.upsertOrders _),
    "q_text_quality" -> (Q.textQuality _),
    "q_text_tokens" -> (Q.textTokens _),
    "q_text_unigram_lp" -> (Q.textUnigramLp _),
    "q_text_repetition" -> (Q.textRepetition _),
    "q_text_oov" -> (Q.textOov _),
    "q_text_pii" -> (Q.textPii _),
    "q_text_fingerprint_summary" -> (Q.fingerprintSummary _),
    "q_pack_shards" -> (Q.packShards _),
    "q_ann_topk" -> (Q.annTopK _),
    "q_ann_topk_agg" -> (Q.annTopKAgg _),
    "q_mm_blob_meta" -> (Q.blobMeta _),
    "q_f_variant_hash" -> (Q.variantHash _),
    "q_gx_rsid_gnomad_map" -> (Q.rsidGnomadMapping _),
    "q_gx_study_validation" -> (Q.studyValidation _),
    "q_gx_intra_overlaps" -> (Q.intraStudyOverlaps _),
    "q_gx_locus_extract" -> (Q.locusExtraction _),
    "q_ml_l2g_gold_standard" -> (Q.l2gGoldStandard _),
    "q_dedup_embedding" -> (Q.embeddingDup _),
    "q_dedup_minhash_md5" -> (Q.minhashPairsMd5 _),
    "q_dedup_incr_exact" -> (Q.dedupIncrementalExact _),
    "q_profile_documents" -> (Q.profileDocuments _),
    "q_zorder_cells" -> (Q.zorderCells _),
    "q_profile_hist" -> (Q.profileHistogram _),
    "q_dedup_incr_minhash_md5" -> (Q.dedupIncrementalMinhashMd5 _),
    "q_dedup_incr_minhash" -> (Q.dedupIncrementalMinhash _),
    "q_dedup_components" -> (Q.dedupComponents _),
    "q_mix_sample" -> (Q.mixSample _),
    "q_mix_stratified" -> (Q.mixStratified _),
    "q_mix_split" -> (Q.mixSplit _),
    "q_dedup_simhash_md5" -> (Q.simhashPairsMd5 _),
    "q_dedup_decontaminate" -> (Q.decontamination _),
    "q_dedup_decontaminate_bloom" -> (Q.decontaminationBloom _),
    "q_text_tfidf" -> (Q.tfidfTopTerms _),
    "q_dedup_semantic" -> (Q.semanticDedup _),
    "q_gx_study_parse" -> (Q.gwasCatalogStudyParse _),
    // rows-only (no SQL-expressible oracle)
    "q_gx_ancestry_agg" -> (Q.ancestryAggregation _),
    "q_gx_study_deconvolution" -> (Q.studyDeconvolution _),
    "q_gx_window_clump" -> (Q.windowClumpFull _),
    "q_gx_ld_clump" -> (Q.ldClump _),
    "q_gx_ld_clump_join" -> (Q.ldClumpJoin _),
    "q_ml_l2g_distance" -> (Q.l2gDistanceFeatures _),
    "q_ml_l2g_features" -> (Q.l2gFullFeatures _),
    "q_gx_overlaps_coloc_e2e" -> (Q.overlapsColocE2E _),
    "q_gx_ecaviar_fused_e2e" -> (Q.ecaviarFusedE2E _),
    "q_gx_pics" -> (Q.picsFinemap _),
    "q_gx_pics_relational" -> (Q.picsRelational _),
    "q_gx_finemap_e2e" -> (Q.finemapE2e _),
    "q_gx_credset_extraction" -> (Q.credsetExtraction _),
    "q_gx_locus_breaker" -> (Q.locusBreaker _),
    "q_gx_qc_battery_full" -> (Q.qcBatteryFull _),
    "q_dedup_minhash" -> (Q.minhashPairs _),
    "q_dedup_simhash" -> (Q.simhashPairs _),
    "q_ann_lsh" -> (Q.annLsh _),
    "q_ann_ivf" -> (Q.annIvf _),
    "q_ann_pq" -> (Q.annPq _),
    "q_text_bpe" -> (Q.textBpe _),
    // oracle-checked again: the fake decode is replayed in SQL
    "q_mm_decode" -> (Q.multimodalDecode _),
    "q_mm_resize" -> (Q.multimodalResize _),
    "q_mm_frames" -> (Q.multimodalFrames _))

  /** Rehearsal-only scaled-workload variants — NOT part of the driver
    * contract (no oracles). They run only when a harness filter names
    * them ([[selected]]), so the 10x/100x scale rehearsal
    * (BENCH_sf1.json) can time operators whose registered synthesis
    * pins the group space with moduli. */
  def rehearsalQueries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "r_gx_ld_clump" -> (Q.ldClumpScaled _),
    "r_gx_coloc_classic" -> (Q.colocClassicScaled _),
    "r_gx_ecaviar_classic" -> (Q.ecaviarClassicScaled _),
    "r_gx_rsid_gnomad_map" -> (Q.rsidGnomadMapScaled _),
    "r_gx_finemap" -> (Q.finemapScaled _),
    "r_gx_ancestry_agg" -> (Q.ancestryAggScaled _),
    "r_gx_study_deconvolution" -> (Q.studyDeconvolutionScaled _),
    "r_ml_l2g_gold_standard" -> (Q.l2gGoldStandardScaled _))

  def oracleSql: Map[String, String] = Oracles.all

  /** The names a harness runs under the comma-separated filter `only`:
    * every registered query, sorted, when it is unset, else the ones it
    * names. Rehearsal (`r_*`) workloads run only when named. */
  def selected(only: Option[String]): Seq[String] = {
    val named = only.map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    queries.keys.toSeq.sorted.filter(n => named.forall(_.contains(n))) ++
      named.toSeq.flatten.filter(rehearsalQueries.contains).sorted
  }

  /** The per-query loop of the harness mains (`Bench`, `Verify`): hands
    * each named query's builder to `run`, or the error to `failed` when
    * building or running it throws. The query's caches are released
    * after it either way, so no query's storage outlives it. */
  def runEach[T](spark: SparkSession, sfDir: String, names: Seq[String])(
      run: (String, () => DataFrame) => T)(
      failed: (String, Throwable) => T): Seq[(String, T)] =
    names.map { name =>
      val build = () =>
        queries.getOrElse(name, rehearsalQueries(name))(spark, sfDir)
      val out =
        try run(name, build)
        catch { case e: Throwable =>
          System.err.println(s"[$name] failed: ${e.getMessage}")
          failed(name, e)
        } finally {
          // handles first, so their bookkeeping never points at frames
          // the wholesale wipe already dropped
          CacheHandle.releaseQueryScoped()
          spark.sharedState.cacheManager.clearCache()
        }
      name -> out
    }
}
