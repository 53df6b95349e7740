package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import graft.ml.L2GFeatures
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Physical-plan audits: lock the SCALE-CRITICAL plan shapes so a
  * refactor cannot silently demote them (a hash aggregate decaying to
  * a sort aggregate, an equi join decaying to a cartesian product, a
  * parquet filter failing to push down). These are the properties the
  * operators' scaladocs promise; the specs make the promises
  * executable.
  */
class PlanAuditSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: DataFrame): String =
    df.queryExecution.executedPlan.toString

  private val docs = Seq(
    (1L, "alpha beta gamma delta"), (2L, "alpha beta gamma delta"),
    (3L, "epsilon zeta eta theta"), (4L, "iota kappa lambda mu"))
    .toDF("doc_id", "text")

  test("exactDedup plans as a hash aggregate, never a sort-window") {
    val p = plan(Dedup.exactDedup(docs, "text", "doc_id"))
    assert(p.contains("HashAggregate"), s"no HashAggregate in:\n$p")
    assert(!p.contains("Window"), s"window leaked into exactDedup plan:\n$p")
    assert(!p.contains("SortAggregate"), s"agg demoted to sort:\n$p")
  }

  test("window clumping streams leads: one session window, no per-cluster arrays") {
    val ss = Seq(("s1", "1", 100, "v1", 1.0f, -8), ("s1", "1", 150, "v2", 2.0f, -9))
      .toDF("studyId", "chromosome", "position", "variantId",
        "pValueMantissa", "pValueExponent")
    val p = plan(WindowBasedClumping.clump(ss, distance = 1000))
    // sessionisation = exactly two WindowExec nodes over ONE sort (lag
    // and the running last() carry different frames, so Spark splits
    // them), both on the slim lead branch; the wide output branch must
    // never re-evaluate the window (the pre-r11 shape tripled this)
    assert("Window \\[".r.findAllIn(p).size == 2,
      s"wide branch re-evaluates the session window:\n$p")
    // the mega-cluster ceiling: no collect_list / ObjectHashAggregate
    // array materialisation per cluster (the streamed kernel replaced it)
    assert(!p.contains("collect_list") && !p.contains("ObjectHashAggregate"),
      s"per-cluster array aggregate leaked back into the plan:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in clump plan:\n$p")
  }

  test("LSH banding joins are equi joins, never cartesian") {
    val p = plan(Dedup.minhashDupPairs(docs, "text", "doc_id",
      cache = graft.core.CacheHandle.disabled))
    assert(!p.contains("CartesianProduct"), s"cartesian in minhash plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"),
      s"nested-loop join in minhash plan:\n$p")
  }

  test("locus extraction is a bucketed equi join, never a range cartesian") {
    // the chain's fine-mapping hand-off: leads pull ±window variants
    // through 3 bucket probes — the plan must join on the bucket
    // equality, with the |Δpos| ≤ window predicate as a post-filter
    val p = plan(graft.queries.Q.locusExtraction(spark,
      "/root/testdata/sf0.001"))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"range join decayed to a cartesian:\n$p")
  }

  test("md5 LSH banding joins are equi joins, never cartesian") {
    val p = plan(Dedup.minhashDupPairsMd5(docs, "text", "doc_id",
      cache = graft.core.CacheHandle.disabled))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$p")
  }

  test("semantic dedup self-join is cell-equi and guarded by the hot-cell anti-join") {
    val emb = Seq((1L, Array(1.0, 0.0)), (2L, Array(0.9, 0.1)))
      .toDF("id", "embedding")
    val p = plan(Similarity.semanticDupPairs(emb, emb.limit(1),
      cache = graft.core.CacheHandle.disabled))
    assert(!p.contains("CartesianProduct"), s"cartesian in semantic plan:\n$p")
    assert(p.contains("LeftAnti"), s"hot-cell cap anti-join missing:\n$p")
  }

  test("overlap tag self-join stays an equi join on (chromosome, tag)") {
    val tags = Seq(
      ("L1", "s1", "gwas", "1", "r", "v1", 1.0, 0.5, 0.1, 1.0f, -8),
      ("L2", "s2", "eqtl", "1", "r", "v1", 2.0, 0.6, 0.2, 1.0f, -8))
      .toDF("studyLocusId", "studyId", "studyType", "chromosome", "region",
        "tagVariantId", "logBF", "posteriorProbability", "beta",
        "pValueMantissa", "pValueExponent")
    val p = plan(Overlaps.matchedTagPairs(tags))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"tag self-join decayed to non-equi:\n$p")
    // both sides are the same corpus-sized frame: the join must stay a
    // two-sided shuffle — a planner broadcast here is a corpus-scale
    // driver collect at 100 TB (the shuffle_hash hint pins this)
    assert(p.contains("ShuffledHashJoin"),
      s"tag self-join not a shuffled hash join:\n$p")
  }

  test("fused COLOC never materialises a cartesian pair space") {
    val tags = Seq(
      ("L1", "s1", "gwas", "1", "r", "v1", 1.0, 0.5, 0.1, 1.0f, -8),
      ("L2", "s2", "eqtl", "1", "r", "v1", 2.0, 0.6, 0.2, 1.0f, -8))
      .toDF("studyLocusId", "studyId", "studyType", "chromosome", "region",
        "tagVariantId", "logBF", "posteriorProbability", "beta",
        "pValueMantissa", "pValueExponent")
    val p = plan(Coloc.colocaliseFused(tags))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join in COLOC:\n$p")
  }

  test("gene-count window features broadcast the gene side and aggregate hash-side") {
    val loci = Seq(("L1", "1", 500000L), ("L2", "1", 700000L))
      .toDF("studyLocusId", "chromosome", "position")
    val genes = Seq(("g1", "protein_coding", "1", 510000L),
      ("g2", "lncRNA", "1", 520000L)).toDF("id", "biotype", "chromosome", "tss")
    val p = plan(L2GFeatures.geneCountFeatures(loci, genes))
    assert(p.contains("BroadcastHashJoin") || p.contains("BroadcastNestedLoopJoin"),
      s"gene side not broadcast:\n$p")
    assert(p.contains("HashAggregate"), s"no hash aggregate:\n$p")
  }

  test("parquet scan prunes columns and pushes filters down") {
    val dir = java.nio.file.Files.createTempDirectory("plan_audit").toString
    try {
      Seq((1L, "a", 10.0, "x"), (2L, "b", 20.0, "y"))
        .toDF("id", "name", "score", "tag")
        .write.mode("overwrite").parquet(dir)
      val df = spark.read.parquet(dir)
        .filter(col("score") > 15.0).select("id", "score")
      val p = plan(df)
      assert(p.contains("PushedFilters: [IsNotNull(score), GreaterThan(score,15.0)]"),
        s"filter not pushed to scan:\n$p")
      assert(p.contains("ReadSchema: struct<id:bigint,score:double>"),
        s"column pruning failed:\n$p")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("ngram jaccard index join is equi on the shingle") {
    val p = plan(Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      cache = graft.core.CacheHandle.disabled))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi index join:\n$p")
  }

  test("containment pairs reuse the equi shingle join — no cartesian") {
    val p = plan(Dedup.containmentPairs(docs, "text", "doc_id",
      cache = graft.core.CacheHandle.disabled))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi index join:\n$p")
  }

  test("bucketed tables join without a shuffle exchange") {
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val left = (0L until 200L).map(i => (i, s"l$i")).toDF("k", "lv")
      val right = (0L until 200L).map(i => (i, i * 2.0)).toDF("k", "rv")
      graft.core.Bucketing.writeBucketed(left, "bkt_left", Seq("k"), 4)
      graft.core.Bucketing.writeBucketed(right, "bkt_right", Seq("k"), 4)
      val joined = graft.core.Bucketing.readBucketed(spark, "bkt_left")
        .join(graft.core.Bucketing.readBucketed(spark, "bkt_right"), Seq("k"))
      val p = plan(joined)
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      assert(joined.count() == 200)
      // the same join on plain (unbucketed) parquet DOES exchange —
      // the audit is meaningful, not vacuously true
      val plainL = tmpParquet(left, "bkt_plain_l")
      val plainR = tmpParquet(right, "bkt_plain_r")
      assert(plan(plainL.join(plainR, Seq("k")))
        .contains("Exchange hashpartitioning"))
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
      spark.sql("DROP TABLE IF EXISTS bkt_left")
      spark.sql("DROP TABLE IF EXISTS bkt_right")
    }
  }

  private def tmpParquet(df: DataFrame, name: String): DataFrame = {
    val dir = java.nio.file.Files.createTempDirectory(name).toString
    df.write.mode("overwrite").parquet(dir)
    spark.read.parquet(dir)
  }

  test("IVF-PQ candidate join is equi on the cell, never cartesian") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val p = plan(Similarity.pqTopK(emb, emb.filter(col("id") < 2), 3,
      m = 8, nLists = 4, nProbe = 2))
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"),
      s"PQ candidate join decayed to non-equi:\n$p")
  }

  test("band join is a shuffled equi join, never a nested loop") {
    val pts = spark.range(1000).select((col("id") % 5).as("chrom"),
      (col("id") * 7 % 10000).as("pos"))
    val iv = spark.range(1000).select((col("id") % 5).as("ichrom"),
      (col("id") * 11 % 10000).as("lo"))
      .withColumn("hi", col("lo") + 50)
    // disable auto-broadcast so the plan must stand on the band keys,
    // as it would when the interval side is 100 TB-scale
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(graft.plans.BandJoin.bandJoin(pts, iv,
        "pos", "lo", "hi", width = 64,
        pointKeys = Seq("chrom"), intervalKeys = Seq("ichrom")))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"band join decayed to non-equi:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"band join is not a shuffled equi join:\n$p")
    }
  }

  test("incremental minhash stays equi-join with an unbroadcast corpus index") {
    // the signature index scales with the corpus: the candidate join must
    // stand on the (band, key) equi keys, not on broadcasting the index
    val sigs = IncrementalDedup.minhashIndex(docs, "text", "doc_id",
      md5Base = true)
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val p = plan(IncrementalDedup.incrementalMinhashPairs(
        sigs.filter(col("id") >= 3), sigs.filter(col("id") < 3),
        cache = graft.core.CacheHandle.disabled))
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"),
        s"incremental minhash decayed to non-equi:\n$p")
      assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
        s"candidate join not a shuffled equi join:\n$p")
    }
  }

  test("incremental exact dedup is hash-aggregate + anti-join, no window") {
    val idx = IncrementalDedup.exactIndex(docs.filter(col("doc_id") < 3),
      "text", "doc_id")
    val p = plan(IncrementalDedup.incrementalExactDedup(
      docs.filter(col("doc_id") >= 3), idx, "text", "doc_id"))
    assert(p.contains("HashAggregate") && !p.contains("Window") &&
      !p.contains("SortAggregate"), s"exact incremental plan decayed:\n$p")
    assert(p.contains("LeftAnti"), s"index probe is not an anti-join:\n$p")
  }

  test("spanDedup is hash-groupBy + equi-join on the digest, no window, " +
    "no cartesian") {
    val p = plan(Dedup.spanDedup(docs, "text", "doc_id",
      cache = graft.core.CacheHandle.disabled))
    assert(p.contains("HashAggregate"), s"no HashAggregate in:\n$p")
    assert(!p.contains("Window"), s"window leaked into spanDedup plan:\n$p")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoopJoin"), s"non-equi join:\n$p")
  }

  test("bm25 broadcasts the query-vocabulary side; the corpus is never " +
    "broadcast and no join decays to nested loop") {
    val qs = Seq((1L, "alpha epsilon")).toDF("query_id", "qtext")
    val p = plan(Search.bm25TopK(docs, "text", "doc_id", qs,
      cache = graft.core.CacheHandle.disabled))
    assert(p.contains("BroadcastHashJoin"), s"query terms not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), s"cartesian in bm25 plan:\n$p")
    // the single one-row stats (N, avgdl) attach is a broadcast cross
    // join by construction; anything beyond it is a decayed equi join
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"a bm25 equi join decayed to nested loop:\n$p")
    // ranking ships bounded heaps, not a window rank over candidates
    assert(p.contains("topk_ids"), s"heap aggregate missing:\n$p")
    assert(!p.contains("Window"), s"window rank leaked into bm25 plan:\n$p")
  }

  test("spread() is conditional on input partitioning: the single-row-group " +
    "rescue repartition disappears on a pre-partitioned corpus") {
    // the r16 keyed spread() exists to rescue single-row-group test
    // parquet (1 scan task regardless of cores); at 100 TB a corpus
    // arrives in thousands of input partitions and the same call must
    // be a NO-OP — not a full-corpus reshuffle into defaultParallelism
    // partitions. One file per scan partition is forced via
    // maxPartitionBytes so the small test files are not packed into a
    // single split (openCost packing would hide the layout).
    val dir = java.nio.file.Files.createTempDirectory("spread_guard").toString
    val parallelism = spark.sparkContext.defaultParallelism
    val docs = (1L to math.max(64L, 2L * parallelism))
      .map(i => (i, s"alpha beta corpus document number $i", "en", "web"))
      .toDF("doc_id", "text", "lang", "source")
    try {
      withSQLConf("spark.sql.files.maxPartitionBytes" -> "16k") {
        // single-partition layout: the rescue must fire
        // (q_dedup_decontaminate is a registered query that kept its
        // corpus spread after the r17 A/B)
        docs.coalesce(1).write.mode("overwrite")
          .parquet(s"$dir/documents.parquet")
        val p1 = plan(graft.queries.Q.decontamination(spark, dir))
        assert(p1.contains("REPARTITION_BY_NUM"),
          s"spread() missing on a single-partition input:\n$p1")
        // pre-partitioned layout (>= defaultParallelism files): no-op.
        // Round-robin from one partition puts rows in every file; a
        // hash layout can leave some empty, and an empty partition
        // writes no file.
        docs.coalesce(1).repartition(parallelism)
          .write.mode("overwrite").parquet(s"$dir/documents.parquet")
        val p2 = plan(graft.queries.Q.decontamination(spark, dir))
        assert(!p2.contains("REPARTITION_BY_NUM"),
          s"spread() fired on a pre-partitioned input:\n$p2")
      }
    } finally {
      graft.core.CacheHandle.releaseQueryScoped()
      spark.sharedState.cacheManager.clearCache()
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("chunkDocuments plans with zero exchanges — pure map-side work") {
    val p = plan(TextAnalysis.chunkDocuments(docs, "text", "doc_id",
      maxTokens = 3, overlapTokens = 1))
    assert(!p.contains("Exchange"), s"chunking should not shuffle:\n$p")
  }

  test("quality rule battery plans with zero exchanges") {
    val p = plan(TextAnalysis.qualityRuleFlags(docs, "text", "doc_id"))
    assert(!p.contains("Exchange"), s"rule flags should not shuffle:\n$p")
  }

  test("qualityRuleFilter is a pushed filter over one scan — no join") {
    val p = plan(TextAnalysis.qualityRuleFilter(docs, "text", "doc_id"))
    assert(!p.contains("Join"), s"filter decayed to a join:\n$p")
    assert(!p.contains("Exchange"), s"filter should not shuffle:\n$p")
  }

  test("DSIR selection broadcasts the bucket model and cuts top-k " +
    "with per-partition heaps, never a global sort or cartesian") {
    val p = plan(ImportanceSampling.dsirSelect(docs,
      docs.filter($"doc_id" <= 2L), "text", "doc_id", k = 2, buckets = 64,
      cache = CacheHandle()))
    assert(p.contains("TakeOrderedAndProject"),
      s"top-k cut is not TakeOrdered:\n$p")
    // the only nested-loop joins are the broadcast one-row totals
    assert(!p.contains("CartesianProduct"), s"cartesian leaked:\n$p")
  }

  test("registry sweep: no registered query plans a SortAggregate, a " +
    "cartesian, a nested-loop join, or stacked same-spec Windows") {
    // the generalisation of every audit above, over the WHOLE driver
    // contract: a refactor anywhere in the library cannot silently
    // demote a registered query's plan. Traps this catches:
    // - SortAggregate: an aggregate whose buffer type went immutable
    //   (struct/array first(), etc.) — a full sort of the aggregation
    //   input (exactly how the r12 L2G matrix merge regressed).
    // - CartesianProduct / BroadcastNestedLoopJoin: a join that lost
    //   its equi keys — EXCEPT a nested-loop whose build side is a
    //   global (no-grouping) aggregate: that is the one-row
    //   stats-attach pattern (bm25's N/avgdl, DSIR totals, mixing
    //   temperatures), a broadcast of exactly one row at any scale.
    // - Window chains: >2 consecutive Windows (Projects between them)
    //   means a withColumn fold defeated CollapseWindow. Chains of
    //   exactly 2 are idiomatic frame splits (lag + running aggregate
    //   carry different frames — see the clumping audit above).
    // - unpushedScan: a parquet scan that carries data-column filters
    //   (FileSourceStrategy placed a selective predicate AT the scan)
    //   but pushed NONE of them to the reader — at corpus scale that
    //   scan decodes every row group despite the predicate.
    // - shuffledDimJoin: a shuffled equi join (SMJ/SHJ) whose one side
    //   reads ONLY statically-bounded dimension tables (region: 5 rows,
    //   nation: 25 rows at EVERY scale factor) — that side should be a
    //   broadcast; a shuffle there is code-forced (Catalyst would have
    //   broadcast it on stats).
    //
    // SCOPE: this audits queryExecution.executedPlan BEFORE execution —
    // under AQE that is the INITIAL physical plan; runtime
    // re-optimization (join demotions at real runtime stats) is outside
    // what this pre-execution gate can see. The companion
    // "post-execution" test below re-audits the AQE-final plans of the
    // heaviest representative queries after running them.
    //
    // Whitelist (name -> allowed trap kinds + reason) for documented
    // exceptions — PER TRAP KIND: a whitelisted query is still swept
    // for every other trap, so e.g. a future SortAggregate regression
    // in q_ann_topk (whitelisted only for its brute-force nested loop)
    // still fails the gate.
    val dir = "/root/testdata/sf0.001"
    val bad = graft.SparkEntry.queries.keys.toSeq.sorted.flatMap { n =>
      val p = try graft.SparkEntry.queries(n)(spark, dir)
        .queryExecution.executedPlan
      finally {
        graft.core.CacheHandle.releaseQueryScoped()
        spark.sharedState.cacheManager.clearCache()
      }
      disallowed(n, planTraps(p)).map(t => s"$n: $t")
    }
    assert(bad.isEmpty, s"plan traps in registered queries:\n${bad.mkString("\n")}")
  }

  /** Per-trap-kind, COUNT-BOUNDED whitelist for the registry sweeps:
    * query name -> (allowed trap kind -> max allowed value, reason).
    * Kinds match the `kind=` prefixes emitted by [[planTraps]]; a
    * whitelisted query is still swept for every other kind, and a
    * regression that GROWS a whitelisted kind past its documented
    * count fails too. */
  private val sweepWhitelist = Map[String, (Map[String, Int], String)](
    // bound 2, not 1: ONE logical argmin aggregate plans as TWO
    // physical SortAggregateExec nodes (partial + final)
    "q_dedup_spans" -> (Map("sortAgg" -> 2) ->
      ("argmin-by-composite (min(struct(doc, idx)) canonical " +
        "occurrence): lexicographic argmin cannot decompose into " +
        "scalar aggregates; the SortAggregate keeps map-side partial " +
        "combine and ships one row per digest per partition")),
    "q_gx_ld_clump_join" -> (Map("sortAgg" -> 2) ->
      ("argmin-by-composite (min(struct(exp, mantissa)) strongest " +
        "lead appearance): same shape as above")),
    // the six below carry ONE BroadcastNestedLoopJoin each whose
    // broadcast side is a BOUNDED probe/query set scanning the
    // corpus linearly — the documented brute-force baselines the
    // ANN/search operators are measured against (recall ground
    // truth), not decayed equi joins. Boundedness is semantic (a
    // probe set, not a corpus), so it cannot be detected
    // structurally the way the one-row stats attach can.
    "q_ann_topk" -> (Map("nestedLoop" -> 1) ->
      "brute-force cosine top-k baseline (by definition)"),
    "q_ann_topk_agg" -> (Map("nestedLoop" -> 1) ->
      "brute-force baseline through the heap aggregate"),
    "q_ann_sq8" -> (Map("nestedLoop" -> 1) ->
      "SQ8 scan baseline: bounded query set x quantized corpus"),
    "q_dedup_embedding" -> (Map("nestedLoop" -> 1) ->
      "embedding near-dup: bounded probe broadcast"),
    "q_search_hybrid" -> (Map("nestedLoop" -> 1) ->
      "dense leg scores a bounded query set"),
    "q_sim_hard_negatives" -> (Map("nestedLoop" -> 1) ->
      "retrieval over-fetch vs bounded query set"),
    // unpushedScan entries: every flagged predicate is a FIXTURE
    // DERIVATION — the registered query synthesizes its domain
    // columns from the TPC-H-ish testdata (id-splits via modulo,
    // p-value mantissa/exponent from l_discount, z-scores from
    // price/tax, a liftover UDF null probe), and parquet has no
    // source-filter form for modulo / arithmetic / UDF predicates in
    // ANY formulation. The production shapes these queries model
    // carry the derived values as REAL columns (pValueMantissa,
    // pValueExponent, batch/split ids, harmonised coordinates) whose
    // thresholds translate and push; the triage dump per scan is in
    // the r14 session notes. Counts are pinned so a NEW unpushed scan
    // in any of these queries still fails the sweep.
    "q_dedup_decontaminate" -> (Map("unpushedScan" -> 2) ->
      "modulo id-split fabricates the contamination eval set"),
    "q_dedup_incr_exact" -> (Map("unpushedScan" -> 3) ->
      "modulo id-split fabricates the incremental batches"),
    "q_f23_liftover" -> (Map("unpushedScan" -> 1) ->
      "liftover UDF null probe: chain lookup cannot be a source filter"),
    "q_gx_locus_breaker" -> (Map("unpushedScan" -> 1) ->
      "p-value threshold over fixture-derived mantissa/exponent"),
    "q_gx_locus_extract" -> (Map("unpushedScan" -> 2) ->
      "modulo-derived chromosome/position fixture columns"),
    "q_gx_pics_relational" -> (Map("unpushedScan" -> 1) ->
      ("usable-neglogp/r2 filter over fixture-derived p-value codec " +
        "and l_discount arithmetic: modulo/log10 predicates have no " +
        "source-filter form")),
    "q_gx_qc_battery_full" -> (Map("unpushedScan" -> 1) ->
      "z-score sanity bound over fixture-derived beta/se arithmetic"),
    "q_j6_ld_annotate" -> (Map("unpushedScan" -> 1) ->
      "modulo-derived variant/ancestry fixture columns"),
    "q_j9_variant_merge" -> (Map("unpushedScan" -> 2) ->
      "modulo id-split fabricates the two variant sources"),
    "q_kmeans_step" -> (Map("unpushedScan" -> 1) ->
      "size(embedding) > 0 guard: array predicates have no source form"),
    "q_p1_pvalue_filter" -> (Map("unpushedScan" -> 1) ->
      "p-value threshold over fixture-derived mantissa/exponent"),
    "q_p2_sanity_filter" -> (Map("unpushedScan" -> 1) ->
      "sanity battery over fixture-derived sumstat columns"),
    "q_upsert_orders" -> (Map("unpushedScan" -> 8) ->
      "modulo id-splits fabricate the upsert batch sequence"),
    "q_upsert_snapshot_diff" -> (Map("unpushedScan" -> 2) ->
      "modulo id-splits fabricate the two snapshots"))

  /** Drop traps the whitelist allows for `name` (kind matches and the
    * trap's value stays within the pinned bound). */
  private def disallowed(name: String, traps: Seq[String]): Seq[String] = {
    val allowed = sweepWhitelist.get(name).map(_._1).getOrElse(Map.empty)
    traps.filterNot { t =>
      val kind = t.takeWhile(_ != '=')
      val value = t.dropWhile(_ != '=').drop(1).toIntOption.getOrElse(Int.MaxValue)
      allowed.get(kind).exists(value <= _)
    }
  }

  test("registry sweep (post-execution): AQE-final plans of the " +
    "heaviest representative queries stay trap-free") {
    // the main sweep audits the pre-execution (AQE-initial) plan; this
    // companion RUNS the representative heavy queries at sf0.001 and
    // re-audits the adaptively re-optimized final plan, so runtime
    // join-strategy changes are inside the gate for the shapes that
    // matter most
    val reps = Seq("q_gx_overlaps_coloc_e2e", "q_gx_ecaviar_fused_e2e",
      "q_ml_l2g_features", "q_gx_window_clump", "q_j4_interval_band_join",
      "q_gx_coloc")
    val dir = "/root/testdata/sf0.001"
    val bad = reps.flatMap { n =>
      val traps = try {
        val df = graft.SparkEntry.queries(n)(spark, dir)
        df.count() // materialize so AQE finalizes every stage
        planTraps(df.queryExecution.executedPlan)
      } finally {
        graft.core.CacheHandle.releaseQueryScoped()
        spark.sharedState.cacheManager.clearCache()
      }
      disallowed(n, traps).map(t => s"$n: $t")
    }
    assert(bad.isEmpty,
      s"post-execution plan traps:\n${bad.mkString("\n")}")
  }

  test("registry sweep negative control: the sweep sees through the AQE " +
    "wrapper and catches the r12 SortAggregate + stacked-Window shapes") {
    // executedPlan under AQE is an AdaptiveSparkPlanExec, which is a
    // LEAF node — a naive plan.collect never descends into the real
    // plan and the sweep would pass vacuously. Prove the detector
    // actually sees the inner plan by feeding it the r12 regression
    // shapes it exists to catch.
    // the r12 matrix merge: one nullable struct slot per family, merged
    // by first(ignoreNulls) — struct buffers are immutable, so it plans
    // as Sort + SortAggregate
    val famA = Seq(("sl1", "g1", 0.5)).toDF("studyLocusId", "geneId", "f1")
    val famB = Seq(("sl1", "g1", 0.7)).toDF("studyLocusId", "geneId", "f2")
    def slot(c: String) = struct(col(c)).cast(s"struct<$c:double>")
    def noSlot(c: String) = lit(null).cast(s"struct<$c:double>")
    val structPlan = famA
      .select(col("studyLocusId"), col("geneId"), slot("f1").as("_fam0"),
        noSlot("f2").as("_fam1"))
      .unionByName(famB.select(col("studyLocusId"), col("geneId"),
        noSlot("f1").as("_fam0"), slot("f2").as("_fam1")))
      .groupBy("studyLocusId", "geneId")
      .agg(first(col("_fam0"), ignoreNulls = true).as("_fam0"),
        first(col("_fam1"), ignoreNulls = true).as("_fam1"))
      .queryExecution.executedPlan
    assert(planTraps(structPlan).exists(_.contains("sortAgg=")),
      s"sweep failed to see the SortAggregate through AQE:\n$structPlan")
    // stacked same-spec windows via the defeat-CollapseWindow fold
    // (each withColumn interleaves a Project between Window nodes;
    // physical plans additionally wrap the Project in WholeStageCodegen)
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("studyLocusId")
    val stacked = Seq("f1", "f2", "f3").foldLeft(
      Seq(("sl1", 1.0)).toDF("studyLocusId", "v")) { (df, c) =>
        df.withColumn(c, max(col("v") + lit(c.length)).over(w))
          .withColumn(s"${c}_r", col(c) * 2) // Project between windows
      }
    val wcTrap = planTraps(stacked.queryExecution.executedPlan)
    assert(wcTrap.exists(_.contains("windowChain=3")),
      s"sweep failed to count stacked windows through codegen wrappers: $wcTrap")
  }

  test("registry sweep negative control: the scan-pruning trap fires on " +
    "a non-translatable predicate and passes its pushable twin") {
    val dir = "/root/testdata/sf0.001"
    // abs(x) > c is deterministic on a data column, so FileSourceStrategy
    // places it at the scan — but it cannot translate to a source
    // filter, so only the inferred IsNotNull is pushed: the
    // reads-everything-despite-a-predicate shape the trap exists for
    val unpushable = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(abs(col("l_quantity")) > lit(1e9))
    val t1 = planTraps(unpushable.queryExecution.executedPlan)
    assert(t1.exists(_.startsWith("unpushedScan=")),
      s"trap missed the unpushable predicate: $t1")
    // the pushable twin: same selectivity shape, translates fully
    val pushable = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_quantity") > lit(1e9))
    val t2 = planTraps(pushable.queryExecution.executedPlan)
    assert(!t2.exists(_.startsWith("unpushedScan=")),
      s"trap false-positive on a fully-pushed predicate: $t2")
  }

  test("registry sweep negative control: the tiny-dim-shuffle trap fires " +
    "on a forced shuffled join against nation and passes a fact-fact " +
    "shuffle") {
    val dir = "/root/testdata/sf0.001"
    withSQLConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val sup = spark.read.parquet(s"$dir/supplier.parquet")
      val nat = spark.read.parquet(s"$dir/nation.parquet")
      val dimJoin = sup.join(nat, sup("s_nationkey") === nat("n_nationkey"))
      val t1 = planTraps(dimJoin.queryExecution.executedPlan)
      assert(t1.exists(_.startsWith("shuffledDimJoin=")),
        s"trap missed the shuffled bounded-dim side: $t1")
      // fact-fact shuffle: both sides scale with SF — legitimately
      // shuffled at corpus scale, must NOT trap
      val ord = spark.read.parquet(s"$dir/orders.parquet")
      val li = spark.read.parquet(s"$dir/lineitem.parquet")
      val factJoin = ord.join(li, ord("o_orderkey") === li("l_orderkey"))
      val t2 = planTraps(factJoin.queryExecution.executedPlan)
      assert(!t2.exists(_.startsWith("shuffledDimJoin=")),
        s"trap false-positive on a fact-fact shuffle: $t2")
    }
  }

  /** Shared detector for the registry sweep + its negative control:
    * returns a description of every plan trap found, or Nil. Descends
    * through the AQE wrapper (AdaptiveSparkPlanExec is a LEAF — a
    * naive collect sees nothing), query stages, and codegen wrappers. */
  private def planTraps(root: org.apache.spark.sql.execution.SparkPlan)
      : Seq[String] = {
    import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.joins.{BroadcastNestedLoopJoinExec, CartesianProductExec}
    import org.apache.spark.sql.execution.aggregate.{HashAggregateExec, ObjectHashAggregateExec}
    def kids(p: SparkPlan): Seq[SparkPlan] = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case other => other.children
    }
    def all(p: SparkPlan): Seq[SparkPlan] = p +: kids(p).flatMap(all)
    // chain length through the wrappers CollapseCodegenStages inserts
    // between a Window and the next (Project / WholeStageCodegen /
    // InputAdapter)
    def through(p: SparkPlan): Int = p match {
      case pr: ProjectExec => through(pr.child)
      case cg: WholeStageCodegenExec => through(cg.child)
      case ia: InputAdapter => through(ia.child)
      case q: QueryStageExec => through(q.plan)
      case w: WindowExec => 1 + through(w.child)
      case _ => 0
    }
    // a nested-loop join is benign when its broadcast side is a GLOBAL
    // aggregate — exactly one row at any scale (the stats-attach
    // pattern); anything else is a decayed equi join
    def globalAgg(p: SparkPlan): Boolean = all(p).exists {
      case h: HashAggregateExec => h.groupingExpressions.isEmpty
      case o: ObjectHashAggregateExec => o.groupingExpressions.isEmpty
      case s: SortAggregateExec => s.groupingExpressions.isEmpty
      case _ => false
    }
    def bnljBad(b: BroadcastNestedLoopJoinExec): Boolean = {
      val build = b.buildSide match {
        case org.apache.spark.sql.catalyst.optimizer.BuildLeft => b.left
        case _ => b.right
      }
      !globalAgg(build)
    }
    val nodes = all(root)
    val sortAgg = nodes.count(_.isInstanceOf[SortAggregateExec])
    val cart = nodes.count(_.isInstanceOf[CartesianProductExec])
    val bnlj = nodes.collect {
      case b: BroadcastNestedLoopJoinExec if bnljBad(b) => b
    }.size
    val chains = nodes.collect { case w: WindowExec => 1 + through(w.child) }
    val wc = if (chains.isEmpty) 0 else chains.max
    // a scan that FileSourceStrategy handed NON-TRIVIAL data-column
    // filters (a selective predicate sits AT the scan node) but where
    // nothing beyond null checks translated to a source filter: at
    // corpus scale the reader decodes every row group despite the
    // predicate. IsNotNull is discounted on BOTH sides — Catalyst
    // infers one from almost any predicate and it always translates,
    // which would otherwise make this trap vacuous. Partial pushdown
    // (>= 1 real filter translated) passes. The pushed set is read
    // from the scan's public metadata string (pushedDownFilters itself
    // is protected); building it can throw pre-execution when a
    // dataFilter embeds an unevaluated scalar subquery — treated as
    // not-a-trap.
    import org.apache.spark.sql.execution.FileSourceScanExec
    val unpushed = nodes.count {
      case s: FileSourceScanExec =>
        val realPredicate = s.dataFilters.exists {
          case org.apache.spark.sql.catalyst.expressions.IsNotNull(_) => false
          case _ => true
        }
        val realPushed = try {
          s.metadata.getOrElse("PushedFilters", "[]")
            .replaceAll("IsNotNull\\([^)]*\\)", "")
            .exists(_.isLetter)
        } catch { case _: Throwable => true }
        realPredicate && !realPushed
      case _ => false
    }
    // a shuffled equi join whose side reads ONLY statically-bounded
    // dimension tables (constant cardinality at every scale factor:
    // region = 5 rows, nation = 25) — stats would broadcast it, so a
    // shuffle there is code-forced. Scale-invariant by table NAME, not
    // file size: at sf0.001 every table is broadcast-size, but only
    // these stay so at 100 TB.
    val boundedDims = Set("region.parquet", "nation.parquet")
    def scanPaths(p: SparkPlan): Seq[String] = all(p).collect {
      case s: FileSourceScanExec =>
        s.relation.location.rootPaths.map(_.getName).toSeq
    }.flatten
    def boundedDimSide(side: SparkPlan): Boolean = {
      val t = scanPaths(side)
      t.nonEmpty && t.forall(boundedDims.contains)
    }
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val shuffledDim = nodes.count {
      case j: SortMergeJoinExec =>
        boundedDimSide(j.left) || boundedDimSide(j.right)
      case j: ShuffledHashJoinExec =>
        boundedDimSide(j.left) || boundedDimSide(j.right)
      case _ => false
    }
    val traps = Seq(
      (sortAgg > 0) -> s"sortAgg=$sortAgg",
      (cart > 0) -> s"cartesian=$cart",
      (bnlj > 0) -> s"nestedLoop=$bnlj",
      (wc > 2) -> s"windowChain=$wc",
      (unpushed > 0) -> s"unpushedScan=$unpushed",
      (shuffledDim > 0) -> s"shuffledDimJoin=$shuffledDim")
    traps.collect { case (true, msg) => msg }
  }

  private def withSQLConf(pairs: (String, String)*)(body: => Unit): Unit = {
    val prev = pairs.map { case (k, _) => k -> spark.conf.getOption(k) }
    pairs.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally prev.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
