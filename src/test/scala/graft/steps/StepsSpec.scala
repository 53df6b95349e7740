package graft.steps

import graft.SparkSpec
import org.apache.spark.sql.functions._

import java.nio.file.Files

class StepsSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String =
    Files.createTempDirectory("steps").resolve(name).toString

  test("registry exposes the production steps with usage text") {
    assert(Steps.registry.size >= 18)
    assert(Steps.registry.contains("window_based_clumping"))
    assert(Steps.registry.contains("susie_finemapping"))
    assert(Steps.usage.contains("l2g_feature_matrix"))
  }

  test("argument parsing: typed accessors, defaults, and errors") {
    val a = Steps.StepArgs(Map("in" -> "/x", "distance" -> "1000",
      "flag" -> "true"))
    assert(a("in") == "/x")
    assert(a.int("distance", 5) == 1000)
    assert(a.int("missing", 5) == 5)
    assert(a.bool("flag", false))
    intercept[IllegalArgumentException](a("nope"))
    intercept[IllegalArgumentException](
      Steps.runFromArgs(spark, Seq("no_such_step")))
    intercept[IllegalArgumentException](
      Steps.runFromArgs(spark, Seq("pics", "malformed-arg")))
  }

  test("colocalisation runs only the fused methods: method=coloc_classic is unknown") {
    for (method <- Seq("coloc_classic", "ecaviar_classic")) {
      val e = intercept[IllegalArgumentException](
        Steps.runFromArgs(spark, Seq("colocalisation", s"in=${tmp("coloc_in")}",
          s"out=${tmp("coloc_out")}", s"method=$method")))
      assert(e.getMessage == s"Unknown method '$method'")
    }
  }

  test("window_based_clumping step runs end-to-end on parquet") {
    val in = tmp("sumstats_in")
    val out = tmp("clumped_out")
    (0 until 100).map { i =>
      ("s1", "1", i * 1000, s"v$i", 1.0f, -10 - (i % 5))
    }.toDF("studyId", "chromosome", "position", "variantId",
      "pValueMantissa", "pValueExponent")
      .write.parquet(in)
    Steps.runFromArgs(spark,
      Seq("window_based_clumping", s"in=$in", s"out=$out", "distance=10000"))
    val result = spark.read.parquet(out)
    assert(result.count() == 100)
    assert(result.columns.contains("qualityControls"))
    assert(result.columns.contains("studyLocusId"))
  }

  test("dedup_exact step runs end-to-end on parquet") {
    val in = tmp("docs_in")
    val out = tmp("docs_out")
    Seq((1L, "same"), (2L, "same"), (3L, "different"))
      .toDF("doc_id", "text").write.parquet(in)
    Steps.runFromArgs(spark, Seq("dedup_exact", s"in=$in", s"out=$out"))
    assert(spark.read.parquet(out).count() == 2)
  }

  test("incremental dedup lifecycle: build index -> dedup batch -> merged index") {
    val corpus = tmp("incr_corpus")
    val batch = tmp("incr_batch")
    val exIdx = tmp("incr_exidx")
    val mhIdx = tmp("incr_mhidx")
    val survivors = tmp("incr_survivors")
    val pairs = tmp("incr_pairs")
    val exIdx2 = tmp("incr_exidx2")
    val mhIdx2 = tmp("incr_mhidx2")
    Seq((1L, "alpha beta gamma delta epsilon zeta"), (2L, "totally distinct corpus text"))
      .toDF("doc_id", "text").write.parquet(corpus)
    Seq((11L, "alpha beta gamma delta epsilon zeta"), // dup of 1
        (12L, "a brand new arrival"), (13L, "a brand new arrival"))
      .toDF("doc_id", "text").write.parquet(batch)

    Steps.runFromArgs(spark, Seq("dedup_index_build", s"in=$corpus",
      "kind=exact", s"out=$exIdx"))
    Steps.runFromArgs(spark, Seq("dedup_incremental_exact", s"in=$batch",
      s"index=$exIdx", s"out=$survivors", s"out_index=$exIdx2"))
    assert(spark.read.parquet(survivors).select("doc_id")
      .as[Long].collect().toSet == Set(12L))
    assert(spark.read.parquet(exIdx2).count() == 3) // 3 distinct texts

    Steps.runFromArgs(spark, Seq("dedup_index_build", s"in=$corpus",
      "kind=minhash", s"out=$mhIdx"))
    Steps.runFromArgs(spark, Seq("dedup_incremental_minhash", s"in=$batch",
      s"index=$mhIdx", s"out=$pairs", s"out_index=$mhIdx2", "threshold=0.9"))
    val got = spark.read.parquet(pairs).select("idA", "idB")
      .as[(Long, Long)].collect().toSet
    assert(got.contains((1L, 11L)) && got.contains((12L, 13L)))
    assert(spark.read.parquet(mhIdx2).count() == 5) // 2 corpus + 3 batch sigs

    // close the daily cycle: fold the arrival pairs into standing labels
    val labels = tmp("incr_labels")
    Seq.empty[(Long, Long)].toDF("id", "comp").write.parquet(labels)
    val merged = tmp("incr_labels2")
    Steps.runFromArgs(spark, Seq("dedup_merge_components",
      s"labels=$labels", s"pairs=$pairs", s"out=$merged"))
    val lab = spark.read.parquet(merged).as[(Long, Long)].collect().toMap
    assert(lab(11L) == 1L && lab(13L) == 12L)
  }

  test("profile and zorder_write steps run end-to-end on parquet") {
    val in = tmp("prof_in")
    val prof = tmp("prof_out")
    val zed = tmp("z_out")
    Seq((1L, 10L, "aa"), (2L, 20L, "bb"), (3L, 30L, "cc"))
      .toDF("x", "y", "s").write.parquet(in)
    Steps.runFromArgs(spark, Seq("profile", s"in=$in", "cols=x,s", s"out=$prof"))
    val m = spark.read.parquet(prof)
      .as[(String, String, Double)].collect()
      .map { case (c, k, v) => (c, k) -> v }.toMap
    assert(m(("x", "n_nonnull")) == 3.0 && m(("s", "max")) == 2.0)
    Steps.runFromArgs(spark, Seq("zorder_write", s"in=$in", "dims=x,y",
      "bits_per=8", "num_partitions=2", s"out=$zed"))
    assert(spark.read.parquet(zed).count() == 3)
  }

  test("tokenizer chain: bpe_train -> bpe_encode -> pack_shards " +
    "budgeted in MODEL tokens, each step off the previous one's parquet") {
    val in = tmp("bpe_in")
    Seq((1L, "ab ab ab ab"), (2L, "ab ac ab"), (3L, "zz"))
      .toDF("doc_id", "text").write.parquet(in)
    val model = tmp("bpe_model")
    val enc = tmp("bpe_enc")
    val packed = tmp("bpe_packed")
    Steps.runFromArgs(spark, Seq("bpe_train", s"in=$in", s"out=$model",
      "num_merges=4"))
    assert(spark.read.parquet(model).count() > 0)
    Steps.runFromArgs(spark, Seq("bpe_encode", s"in=$in", s"model=$model",
      s"out=$enc"))
    val counts = spark.read.parquet(enc)
      .select("doc_id", "n_bpe").as[(Long, Long)].collect().toMap
    // "ab" fully merges to one token per word; "zz"/"ac" stay subword
    assert(counts(1L) == 4L)
    assert(counts(1L) < counts(2L) + 2) // model tokens, not characters
    Steps.runFromArgs(spark, Seq("pack_shards", s"in=$enc", s"out=$packed",
      "tokens_col=n_bpe", "budget=8"))
    // budget 8 MODEL tokens, exclusive-offset/budget shard ids: doc1
    // starts at 0 (n_bpe 4), doc2 at 4 (n_bpe 5), doc3 at 9 -> shard 1
    val shards = spark.read.parquet(packed)
      .select("doc_id", "shardId").as[(Long, Long)].collect().toMap
    assert(shards == Map(1L -> 0L, 2L -> 0L, 3L -> 1L))
  }

  test("training-data steps chain: signals -> split -> canonical dedup") {
    val in = tmp("corpus_in")
    Seq((1L, "src0", "the quick brown fox jumps"),
      (2L, "src0", "the quick brown fox jumps"),
      (3L, "src1", "entirely different text here"),
      (4L, "src1", "zz qq xx yy ww vv"))
      .toDF("doc_id", "source", "text").write.parquet(in)
    val signals = tmp("signals_out")
    Steps.runFromArgs(spark, Seq("text_signals", s"in=$in", s"out=$signals"))
    val sig = spark.read.parquet(signals)
    assert(sig.count() == 4 && sig.columns.contains("unigramLogProb") &&
      sig.columns.contains("qualityScore"))
    val split = tmp("split_out")
    Steps.runFromArgs(spark, Seq("assign_split", s"in=$in", s"out=$split",
      "val_frac=0.25", "test_frac=0.25"))
    assert(spark.read.parquet(split).select("split").distinct().count() >= 1)
    val pairs = tmp("pairs_in")
    Seq((1L, 2L)).toDF("idA", "idB").write.parquet(pairs)
    val deduped = tmp("dedup_out")
    Steps.runFromArgs(spark, Seq("dedup_cluster_canonical",
      s"in=$in", s"pairs=$pairs", s"out=$deduped"))
    assert(spark.read.parquet(deduped).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 3L, 4L))
  }

  test("corpus lifecycle chain: dedup -> decontaminate -> sample -> split -> pack -> compact -> audited write") {
    // mirror of the genetics lifecycle lock, for the training-data
    // pipeline: every hand-off is a parquet write by one step read by
    // the next, exactly as a scheduled deployment would run it
    val in = tmp("corpus")
    (1 to 40).map { i =>
      val text =
        if (i % 10 == 0) "repeated boilerplate body shared by many docs"
        else if (i == 7) "the exact benchmark question lives here today"
        else s"unique document number $i with its own words and more padding text"
      (i.toLong, s"src${i % 2}", text)
    }.toDF("doc_id", "source", "text").write.parquet(in)

    val pairs = tmp("pairs")
    Steps.runFromArgs(spark, Seq("dedup_minhash", s"in=$in", s"out=$pairs",
      "threshold=0.9"))
    val surv = tmp("survivors")
    Steps.runFromArgs(spark, Seq("dedup_cluster_canonical",
      s"in=$in", s"pairs=$pairs", s"out=$surv"))
    val nSurv = spark.read.parquet(surv).count()
    assert(nSurv < 40 && nSurv >= 34) // the 4 boilerplate dups collapse to 1

    val bench = tmp("bench")
    Seq((100L, "the exact benchmark question lives here today"))
      .toDF("doc_id", "text").write.parquet(bench)
    val flagged = tmp("flagged")
    Steps.runFromArgs(spark, Seq("decontaminate", s"in=$surv",
      s"benchmark=$bench", s"out=$flagged", "min_coverage=0.6"))
    val clean = tmp("clean")
    spark.read.parquet(flagged).filter(!col("isContaminated"))
      .select("doc_id", "source", "text").write.parquet(clean)
    assert(!spark.read.parquet(clean).select("doc_id").as[Long]
      .collect().contains(7L))

    val sampled = tmp("sampled")
    Steps.runFromArgs(spark, Seq("stratified_sample", s"in=$clean",
      s"out=$sampled", "n=12", "mode=agg"))
    assert(spark.read.parquet(sampled).groupBy("source").count()
      .select("count").as[Long].collect().forall(_ <= 12))

    val split = tmp("split")
    Steps.runFromArgs(spark, Seq("assign_split", s"in=$sampled",
      s"out=$split", "val_frac=0.2", "test_frac=0.2"))
    val shards = tmp("shards")
    Steps.runFromArgs(spark, Seq("pack_shards", s"in=$split",
      s"out=$shards", "budget=64"))
    assert(spark.read.parquet(shards).columns.contains("shardId"))

    val compacted = tmp("compacted")
    Steps.runFromArgs(spark, Seq("compact", s"in=$shards",
      s"out=$compacted", s"target_bytes=${1L << 30}"))
    val fin = tmp("final")
    Steps.runFromArgs(spark, Seq("audited_write", s"in=$compacted",
      s"out=$fin", "audit_cols=doc_id"))
    val audit = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(s"$fin._audit.json")), "UTF-8")
    val n = spark.read.parquet(fin).count()
    assert(audit.contains(s""""rows":$n"""))
    assert(n === spark.read.parquet(sampled).count())
  }

  test("selection chain: quantile_normalize -> dsir_select -> " +
    "mix_repeats -> split_leakage_safe -> epoch_shuffle on parquet " +
    "hand-offs") {
    val in = tmp("sel_corpus")
    ((1 to 30).map(i => (i.toLong, "web",
      s"the quick brown fox jumps over the lazy dog number $i")) ++
      (31 to 40).map(i => (i.toLong, "ads",
        "buy now click here free offer winner prize")))
      .toDF("doc_id", "source", "text")
      .withColumn("tokens", lit(10L)).write.parquet(in)

    val normed = tmp("sel_norm")
    Steps.runFromArgs(spark, Seq("quantile_normalize", s"in=$in",
      "score_col=tokens", s"out=$normed"))
    assert(spark.read.parquet(normed).columns.contains("score_pctl"))

    val target = tmp("sel_target")
    Seq((99L, "the quick brown fox jumps over the lazy dog today"))
      .toDF("doc_id", "text").write.parquet(target)
    val picked = tmp("sel_picked")
    // alpha scaled to the tiny target (alpha*B far under N_t),
    // per the dsirModel smoothing note
    Steps.runFromArgs(spark, Seq("dsir_select", s"in=$normed",
      s"target=$target", "k=20", "buckets=1024", "alpha=0.01",
      s"out=$picked"))
    val ids = spark.read.parquet(picked).select("doc_id").as[Long]
      .collect().toSet
    assert(ids.size == 20 && ids.forall(_ <= 30L)) // all fox-like docs

    val mixed = tmp("sel_mixed")
    Steps.runFromArgs(spark, Seq("mix_repeats", s"in=$picked",
      "weights=web=1.0", "budget=400", s"out=$mixed"))
    // 200 available web tokens vs 400 target → every doc twice
    assert(spark.read.parquet(mixed).count() == 40L)

    // mark two surviving docs as near-dups of each other
    val Seq(dupA, dupB) = ids.toSeq.sorted.take(2)
    val pairs = tmp("sel_pairs")
    Seq((dupA, dupB)).toDF("idA", "idB").write.parquet(pairs)
    val split = tmp("sel_split")
    Steps.runFromArgs(spark, Seq("split_leakage_safe", s"in=$mixed",
      s"pairs=$pairs", "val_frac=0.25", "test_frac=0.25", s"out=$split"))
    val sp = spark.read.parquet(split).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(sp(dupA) == sp(dupB))

    val shuffled = tmp("sel_shuffled")
    Steps.runFromArgs(spark, Seq("epoch_shuffle", s"in=$split",
      "epoch=1", "shards=4", s"out=$shuffled"))
    val out = spark.read.parquet(shuffled)
    assert(out.count() == 40L &&
      out.select("shard").distinct().count() == 4L)
  }

  test("context-prep chain: quality_filter -> dedup_spans -> chunk -> " +
    "bm25_topk on parquet hand-offs") {
    val corpus = tmp("prep_corpus")
    val clean = tmp("prep_clean")
    val audit = tmp("prep_audit")
    val despanned = tmp("prep_despanned")
    val chunks = tmp("prep_chunks")
    val queries = tmp("prep_queries")
    val hits = tmp("prep_hits")
    Seq(
      (1L, "the spark engine is fast and the quick brown fox jumps over it " +
        "while the lazy dog naps in the shade of the old oak tree"),
      (2L, "the spark engine is fast and the quick brown fox jumps over it " +
        "while a different tail diverges here with extra words to spare"),
      (3L, "a b"), // fails the min-token rule
      (4L, "!!! ### $$$ %%% ^^^ &&& *** ((( ))) ??? !!! ### $$$ %%%"))
      .toDF("doc_id", "text").write.parquet(corpus)

    Steps.runFromArgs(spark, Seq("quality_filter", s"in=$corpus",
      "min_tokens=10", s"out=$clean", s"out_audit=$audit"))
    assert(spark.read.parquet(clean).select("doc_id")
      .as[Long].collect().toSet == Set(1L, 2L))
    val auditMap = spark.read.parquet(audit)
      .select("rule", "n_failed").as[(String, Long)].collect().toMap
    assert(auditMap("tokens_ok") >= 1L && auditMap("punct_ok") >= 1L)

    Steps.runFromArgs(spark, Seq("dedup_spans", s"in=$clean",
      "block_tokens=12", s"out=$despanned"))
    val despan = spark.read.parquet(despanned)
      .select("doc_id", "n_removed").as[(Long, Long)].collect().toMap
    // docs 1 and 2 share their first 12-token block; doc 2 loses it
    assert(despan(1L) == 0L && despan(2L) == 1L)

    Steps.runFromArgs(spark, Seq("chunk", s"in=$despanned",
      "text_col=clean_text", "max_tokens=8", "overlap=2", s"out=$chunks"))
    val perDoc = spark.read.parquet(chunks).groupBy("doc_id").count()
      .as[(Long, Long)].collect().toMap
    assert(perDoc(1L) > 1L)

    Seq((1L, "quick brown fox")).toDF("query_id", "qtext")
      .write.parquet(queries)
    Steps.runFromArgs(spark, Seq("bm25_topk", s"in=$corpus",
      s"queries=$queries", "k=2", s"out=$hits"))
    val ranked = spark.read.parquet(hits)
      .orderBy("rank").select("doc_id").as[Long].collect()
    assert(ranked.length == 2 && ranked.toSet == Set(1L, 2L))
  }

  test("kmeans_fit step writes assignment and centroids") {
    val vecs = tmp("km_in")
    val assign = tmp("km_assign")
    val cents = tmp("km_cents")
    (0L until 30L).map(i =>
        (i, Seq((i % 2) * 10.0 + (i % 3) * 0.1, (i % 2) * 10.0)))
      .toDF("id", "embedding").write.parquet(vecs)
    Steps.runFromArgs(spark, Seq("kmeans_fit", s"in=$vecs", "k=2",
      s"out=$assign", s"out_centroids=$cents"))
    val cells = spark.read.parquet(assign).select("id", "cell")
      .as[(Long, Int)].collect().toMap
    // even ids cluster near origin, odd near (10, 10) — one cell each
    assert(cells.filter(_._1 % 2 == 0).values.toSet.size == 1)
    assert(cells.filter(_._1 % 2 == 1).values.toSet.size == 1)
    assert(spark.read.parquet(cents).count() == 2)
  }

  /** Parquet inputs of `l2g_feature_matrix` on which the factory shares
    * two frames. The confidence column and the variant index give the
    * consequences (tag block + confidence) and the credible-set
    * projection (confidence + gene counts) two readers each. Returns
    * the credible-set, variant-index, distance and gene-index paths. */
  private def l2gSharedInputs(): (String, String, String, String) = {
    val cs = tmp("l2g_cs")
    val vi = tmp("l2g_vi")
    val dist = tmp("l2g_dist")
    val genes = tmp("l2g_genes")
    Seq(("sl1", "v1", "s1", "1", 100000L), ("sl2", "v3", "s2", "1", 300000L))
      .toDF("studyLocusId", "variantId", "studyId", "chromosome", "position")
      .withColumn("locus", array(
        struct(col("variantId"), lit(0.8).as("posteriorProbability")),
        struct(lit("v2").as("variantId"), lit(0.2).as("posteriorProbability"))))
      .withColumn("confidence",
        lit("SuSiE fine-mapped credible set with in-sample LD"))
      .write.parquet(cs)
    Seq(("v1", "g1", 0.9, "protein_coding", 1000L),
      ("v3", "g2", 0.3, "lncRNA", 4000L))
      .toDF("variantId", "targetId", "consequenceScore", "biotype",
        "distanceFromFootprint")
      .select(col("variantId"), array(struct(col("targetId"),
        col("consequenceScore"), col("biotype"), col("distanceFromFootprint")))
        .as("transcriptConsequences"))
      .write.parquet(vi)
    Seq(("v1", "g1", 1000L, 2000L), ("v2", "g2", 5000L, 6000L),
      ("v3", "g1", 250000L, 260000L))
      .toDF("variantId", "geneId", "distanceFromTss", "distanceFromFootprint")
      .write.parquet(dist)
    Seq(("g1", "protein_coding", "1", 100000L), ("g2", "lncRNA", "1", 150000L))
      .toDF("id", "biotype", "chromosome", "tss").write.parquet(genes)
    (cs, vi, dist, genes)
  }

  /** The feature matrix the factory builds from [[l2gSharedInputs]]. */
  private def l2gSharedMatrix(cache: graft.core.CacheHandle) = {
    val (cs, vi, dist, genes) = l2gSharedInputs()
    graft.ml.L2GFeatures.computeFeatureMatrix(graft.ml.L2GFeatures.Inputs(
      credSets = spark.read.parquet(cs),
      variantIndex = Some(spark.read.parquet(vi)),
      genes = Some(spark.read.parquet(genes)),
      distances = Some(spark.read.parquet(dist))), cache)
  }

  test("l2g_feature_matrix releases its shared frames after the write") {
    // a long-lived session keeps the factory's shared frames until the
    // step's own handle releases them
    val (cs, vi, dist, genes) = l2gSharedInputs()
    val out = tmp("l2g_out")
    val sc = spark.sparkContext
    val persistedBefore = sc.getPersistentRDDs.keySet
    val storedBefore = sc.getRDDStorageInfo.map(_.id).toSet
    // the fixture's premise: the factory persists on these inputs, so
    // the matrix reads two cache-manager entries
    val probe = graft.core.CacheHandle()
    try {
      val shared = l2gSharedMatrix(probe).queryExecution.withCachedData.collect {
        case r: org.apache.spark.sql.execution.columnar.InMemoryRelation => r.cacheBuilder
      }.distinct
      assert(shared.size == 2, s"the factory persisted ${shared.size} frames on this fixture")
    } finally probe.release(blocking = true)
    Steps.runFromArgs(spark, Seq("l2g_feature_matrix", s"credible_sets=$cs",
      s"variant_index=$vi", s"distances=$dist", s"gene_index=$genes",
      s"out=$out"))
    assert(spark.read.parquet(out).count() > 0)
    val persisted = sc.getPersistentRDDs.keySet -- persistedBefore
    val stored = sc.getRDDStorageInfo.map(_.id).toSet -- storedBefore
    assert(persisted.isEmpty, s"step left persisted RDDs: $persisted")
    assert(stored.isEmpty, s"step left RDD storage: $stored")
  }

  test("shared frames recompute after every stored block is dropped") {
    // as if the executors holding the cached blocks were lost: each
    // shared frame must recompute from its lineage, not fail the read.
    // Each read plans afresh: a re-run of the same plan could reuse its
    // shuffle output and never touch the cached blocks.
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("*").collect().map(_.toString).sorted.toSeq
    val path = (0L until 19L).map(i => (i, i + 1)).toDF("idA", "idB")
    val cache = graft.core.CacheHandle()
    try {
      val matrix = l2gSharedMatrix(cache)
      // threshold 0 keeps every round distributed, so the path graph's
      // 5+ rounds include a cut round
      val (labels, rounds) = graft.operators.Dedup.connectedComponentsWithRounds(
        path, unionFindThreshold = 0L, cache = cache)
      assert(rounds >= 3, s"took $rounds rounds; the cut round never ran")
      for (df <- Seq(matrix, labels)) {
        val expected = rows(df)
        assert(expected.nonEmpty)
        val dropped = org.apache.spark.graft.BlockLoss.dropStoredRdds(spark.sparkContext)
        assert(dropped.nonEmpty, "nothing was stored to drop")
        assert(rows(df) == expected)
      }
    } finally cache.release(blocking = true)
  }

  test("mix_temperature step flattens the source mix") {
    val in = tmp("mt_in")
    val out = tmp("mt_out")
    ((0L until 180L).map(i => (i, "big", 10L)) ++
      (180L until 200L).map(i => (i, "small", 10L)))
      .toDF("doc_id", "source", "tokens").write.parquet(in)
    Steps.runFromArgs(spark, Seq("mix_temperature", s"in=$in",
      "alpha=0.5", "budget=1000", s"out=$out"))
    val got = spark.read.parquet(out).groupBy("source").count()
      .as[(String, Long)].collect().toMap
    // natural small share 10%; alpha=0.5 target is 25% of the budget
    assert(got("small").toDouble / (got("small") + got("big")) > 0.12)
  }

  test("dedup_keep_best and split_leakage_safe steps run off a pairs file") {
    val in = tmp("kb_in"); val pr = tmp("kb_pairs")
    val out1 = tmp("kb_out"); val out2 = tmp("kb_split")
    Seq((1L, 0.2), (2L, 0.9), (3L, 0.5)).toDF("doc_id", "quality")
      .write.parquet(in)
    Seq((1L, 2L)).toDF("idA", "idB").write.parquet(pr)
    Steps.runFromArgs(spark, Seq("dedup_keep_best", s"in=$in",
      s"pairs=$pr", s"out=$out1"))
    assert(spark.read.parquet(out1).select("doc_id").as[Long]
      .collect().toSet == Set(2L, 3L))
    Steps.runFromArgs(spark, Seq("split_leakage_safe", s"in=$in",
      s"pairs=$pr", "val_frac=0.3", "test_frac=0.3", s"out=$out2"))
    val sp = spark.read.parquet(out2).select("doc_id", "split")
      .as[(Long, String)].collect().toMap
    assert(sp(1L) == sp(2L) && sp.size == 3)
  }

  test("dsir_select step keeps the target-like rows") {
    val in = tmp("dsir_in")
    val tgt = tmp("dsir_tgt")
    val out = tmp("dsir_out")
    ((1L to 20L).map(i => (i, "alpha beta gamma delta measurements")) ++
      (21L to 40L).map(i => (i, "buy now click free offer winner")))
      .toDF("doc_id", "text").write.parquet(in)
    Seq((100L, "alpha beta gamma delta under measurements"))
      .toDF("doc_id", "text").write.parquet(tgt)
    Steps.runFromArgs(spark, Seq("dsir_select", s"in=$in", s"target=$tgt",
      "k=10", "buckets=1024", s"out=$out"))
    val picked = spark.read.parquet(out).select("doc_id").as[Long]
      .collect().toSet
    assert(picked.size == 10 && picked.forall(_ <= 20L), picked.toString)
  }

  test("l2g_score scores with a pipeline of other stages through Spark ML's reader") {
    val in = tmp("lr_matrix")
    val modelDir = tmp("lr_model")
    val out = tmp("lr_scores")
    (1 to 60).map(i => (s"sl$i", s"g${i % 9}", (i % 10) / 10.0, (i % 4).toDouble,
      if (i % 10 >= 5) 1.0 else 0.0))
      .toDF("studyLocusId", "geneId", "f1", "f2", graft.ml.L2GModel.LabelCol)
      .write.parquet(in)
    val matrix = spark.read.parquet(in)
    val lr = new org.apache.spark.ml.Pipeline().setStages(Array(
      new org.apache.spark.ml.feature.VectorAssembler()
        .setInputCols(Array("f1", "f2")).setOutputCol("features"),
      new org.apache.spark.ml.classification.LogisticRegression()
        .setLabelCol(graft.ml.L2GModel.LabelCol).setMaxIter(10))).fit(matrix)
    lr.write.overwrite().save(modelDir)
    Steps.runFromArgs(spark, Seq("l2g_score", s"model=$modelDir", s"in=$in", s"out=$out"))
    def byLocus(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("studyLocusId").select("studyLocusId", "score").as[(String, Double)]
        .collect().toSeq
    val scores = byLocus(spark.read.parquet(out))
    assert(scores.size == 60 && scores.forall { case (_, p) => p >= 0 && p <= 1 })
    // scored as the stock reader's model scores (the fitted one carries
    // a training summary that does not serialize into a UDF)
    assert(scores == byLocus(graft.ml.L2GModel.score(
      org.apache.spark.ml.PipelineModel.load(modelDir), matrix)))
  }

  test("pq index steps: build, append, search") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val base = tmp("pq_corpus"); val delta = tmp("pq_delta")
    emb.filter(col("id") < 400).write.parquet(base)
    emb.filter(col("id") >= 400).write.parquet(delta)
    val idx = tmp("pq_index")
    Steps.runFromArgs(spark, Seq("pq_index_build", s"in=$base", s"out=$idx",
      "m=16", "n_lists=8"))
    val appended = tmp("pq_appended")
    Steps.runFromArgs(spark, Seq("pq_index_append", s"in=$delta",
      s"index=$idx", s"out=$appended"))
    assert(spark.read.parquet(appended).count() == 100)
    val queries = tmp("pq_queries")
    emb.filter(col("id") < 3).write.parquet(queries)
    val hits = tmp("pq_hits")
    Steps.runFromArgs(spark, Seq("pq_search", s"index=$idx",
      s"queries=$queries", s"out=$hits", "k=5", "n_probe=4",
      s"refine_corpus=$base"))
    val got = spark.read.parquet(hits)
    assert(got.count() == 15 && got.columns.contains("score"))
  }

  test("study_validation step chains optional validators") {
    val in = tmp("studies_in")
    val targets = tmp("targets_in")
    val out = tmp("studies_out")
    Seq(("s1", "eqtl", "gKnown"), ("s2", "eqtl", "gUnknown"))
      .toDF("studyId", "studyType", "geneId").write.parquet(in)
    Seq("gKnown").toDF("id").write.parquet(targets)
    Steps.runFromArgs(spark, Seq("study_validation",
      s"in=$in", s"out=$out", s"target_index=$targets"))
    val flagged = spark.read.parquet(out)
      .filter(size(col("qualityControls")) > 0)
      .select("studyId").as[String].collect().toSeq
    assert(flagged == Seq("s2"))
  }

  test("susie_finemapping step drives the CARMA->RAISS->SuSiE chain " +
    "off parquet") {
    val varsIn = tmp("fm_vars")
    val ldIn = tmp("fm_ld")
    val out = tmp("fm_out")
    // one locus: causal v04/v06 pair, v05 null-z but well tagged
    // (imputable), and v09 carrying z=-9 while its 0.95-LD partners
    // v08/v10 sit at z≈0 — the LD discordance CARMA's ridge test
    // resolves by expelling the contradicting null partners (the
    // strong candidate itself survives, as in the operator spec)
    (0 until 12).map { i =>
      val z: Option[Double] =
        if (i == 5) None
        else if (i == 4) Some(7.2) else if (i == 6) Some(7.0)
        else if (i == 9) Some(-9.0) else Some(0.1)
      ("A", f"v$i%02d", z)
    }.toDF("locusId", "variantId", "z").write.parquet(varsIn)
    (Seq(("A", 4, 5, 0.97), ("A", 5, 6, 0.97), ("A", 4, 6, 0.95),
      ("A", 8, 9, 0.95), ("A", 9, 10, 0.95)) ++
      (for (i <- 0 until 12; j <- (i + 1) until 12
            if Set(i, j).intersect(Set(4, 5, 6, 8, 9, 10)).isEmpty)
        yield ("A", i, j, 0.3)))
      .toDF("locusId", "i", "j", "r").write.parquet(ldIn)
    Steps.runFromArgs(spark, Seq("susie_finemapping",
      s"in=$varsIn", s"ld=$ldIn", s"out=$out", "n=10000", "l=3",
      "run_carma=true", "run_sumstat_imputation=true",
      "ld_score_threshold=1.0"))
    val got = spark.read.parquet(out)
    val ids = got.select("variantId").collect().map(_.getString(0)).toSet
    assert(ids.contains("v05"), s"imputed variant missing: $ids") // RAISS
    assert(!ids.contains("v08") && !ids.contains("v10"),          // CARMA
      s"discordant partners not expelled: $ids")
    val pips = got.select("variantId", "pip").collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toMap
    assert(pips("v04") + pips("v05") + pips("v06") > 0.8, s"pips=$pips")
  }

  test("genetics lifecycle chain: sumstats -> clump -> LD -> PICS -> coloc -> L2G score") {
    import StepsSpecFixtures._
    // 40 independent GWAS loci (s1) + one eQTL locus (s2) overlapping
    // locus 1 through shared LD tags; every step reads the previous
    // step's parquet, exactly as the CLI would chain them
    val sumstatsIn = tmp("chain_sumstats")
    val s1Rows = (1 to 40).map(i =>
      ("s1", "1", i * 100000, s"1_${i * 100000}_A_T", 1.0f, -10 - (i % 5)))
    val satellite = ("s1", "1", 100140, "1_100140_A_T", 2.0f, -6)
    val s2Row = ("s2", "1", 100150, "1_100150_A_T", 3.0f, -11)
    (s1Rows :+ satellite :+ s2Row)
      .toDF("studyId", "chromosome", "position", "variantId",
        "pValueMantissa", "pValueExponent").write.parquet(sumstatsIn)

    val clumped = tmp("chain_clumped")
    Steps.runFromArgs(spark, Seq("window_based_clumping",
      s"in=$sumstatsIn", s"out=$clumped", "distance=1000"))
    val leads = tmp("chain_leads")
    spark.read.parquet(clumped)
      .filter(!array_contains(col("qualityControls"), "WINDOW_CLUMPED"))
      .write.parquet(leads)
    assert(spark.read.parquet(leads).count() == 41) // satellite clumped away

    // LD annotation: the overlap pair shares tags through the index;
    // every other lead is rescued to a self-tag ldSet
    val studiesIn = tmp("chain_studies")
    spark.createDataFrame(Seq(
      StudyRow("s1", Seq(Pop("nfe", 1.0))),
      StudyRow("s2", Seq(Pop("nfe", 1.0))))).write.parquet(studiesIn)
    val ldIndexIn = tmp("chain_ldindex")
    spark.createDataFrame(Seq(
      LdRow("1_100000_A_T", "1", Seq(
        LdTag("1_100000_A_T", Seq(RVal("nfe", 1.0))),
        LdTag("1_100150_A_T", Seq(RVal("nfe", 0.95))))),
      LdRow("1_100150_A_T", "1", Seq(
        LdTag("1_100150_A_T", Seq(RVal("nfe", 1.0))),
        LdTag("1_100000_A_T", Seq(RVal("nfe", 0.95)))))))
      .write.parquet(ldIndexIn)
    val annotated = tmp("chain_annotated")
    Steps.runFromArgs(spark, Seq("ld_annotation", s"in=$leads",
      s"studies=$studiesIn", s"ld_index=$ldIndexIn", s"out=$annotated"))
    assert(spark.read.parquet(annotated)
      .filter(col("ldSet").isNull).count() == 0)

    val picsOut = tmp("chain_pics")
    Steps.runFromArgs(spark, Seq("pics", s"in=$annotated", s"out=$picsOut"))
    val pics = spark.read.parquet(picsOut)
    assert(pics.filter(col("locus").isNull).count() == 0)

    // credible-set projection: the reference schema carries optional
    // per-tag stats the PICS fixtures lack — nulls are the honest value
    val credOut = tmp("chain_cred")
    pics.select(
      col("studyLocusId"), col("studyId"),
      when(col("studyId") === "s1", "gwas").otherwise("eqtl").as("studyType"),
      col("chromosome"), lit("r1").as("region"),
      col("variantId"), col("position"),
      transform(col("locus"), t => struct(
        t.getField("variantId").as("variantId"),
        lit(null).cast("double").as("logBF"),
        t.getField("posteriorProbability").as("posteriorProbability"),
        lit(null).cast("double").as("beta"),
        lit(null).cast("float").as("pValueMantissa"),
        lit(null).cast("int").as("pValueExponent"))).as("locus"))
      .write.parquet(credOut)

    val colocOut = tmp("chain_coloc")
    Steps.runFromArgs(spark, Seq("colocalisation", s"in=$credOut",
      s"out=$colocOut", "method=ecaviar"))
    val coloc = spark.read.parquet(colocOut)
    assert(coloc.count() >= 1 && coloc.columns.contains("clpp"))
    assert(coloc.filter(col("clpp") > 0).count() >= 1) // the shared-tag pair

    // per-locus gene pairs (not two global genes): the trainer's
    // grouped split buckets whole genes, so distinct gene ids per locus
    // keep both labels on both sides of the hold-out
    val distancesIn = tmp("chain_distances")
    (s1Rows :+ s2Row).zipWithIndex.flatMap { case (r, i) =>
      Seq((r._4, s"g${i}_near", 5000L), (r._4, s"g${i}_far", 250000L))
    }.toDF("variantId", "geneId", "distanceFromTss").write.parquet(distancesIn)
    val matrixOut = tmp("chain_matrix")
    Steps.runFromArgs(spark, Seq("l2g_feature_matrix",
      s"credible_sets=$credOut", s"distances=$distancesIn",
      s"out=$matrixOut"))
    val matrix = spark.read.parquet(matrixOut)
    // 41 loci x their own 2 genes + 2x2 cross rows: each overlapping
    // locus reaches the other lead's genes through the shared LD tag
    assert(matrix.count() == 86)
    assert(matrix.columns.contains("distanceTssMean"))

    // labelled training matrix -> train step -> score step
    val labelledIn = tmp("chain_labelled")
    matrix.withColumn("goldStandardSet",
      when(col("geneId").endsWith("_near"), "positive").otherwise("negative"))
      .write.parquet(labelledIn)
    val modelOut = tmp("chain_model")
    Steps.runFromArgs(spark, Seq("l2g_train", s"in=$labelledIn",
      s"out=$modelOut", "cross_validate=false", "max_iter=3", "max_depth=2"))
    val scoresOut = tmp("chain_scores")
    Steps.runFromArgs(spark, Seq("l2g_score", s"model=$modelOut",
      s"in=$matrixOut", s"out=$scoresOut"))
    val scores = spark.read.parquet(scoresOut)
    assert(scores.count() == 86)
    assert(scores.filter(col("score").isNull ||
      col("score") < 0 || col("score") > 1).count() == 0)
    // near genes must outscore far genes for the model to have learned
    // the distance signal at all
    val byKind = scores
      .groupBy(col("geneId").endsWith("_near").as("near"))
      .agg(avg("score").as("s"))
      .collect().map(r => r.getBoolean(0) -> r.getDouble(1)).toMap
    assert(byKind(true) > byKind(false), s"scores $byKind")
  }
}

/** Nested-schema fixtures for the lifecycle chain (top-level so the
  * case-class encoders carry no outer reference). */
object StepsSpecFixtures {
  case class RVal(population: String, r: Double)
  case class LdTag(tagVariantId: String, rValues: Seq[RVal])
  case class LdRow(variantId: String, chromosome: String, ldSet: Seq[LdTag])
  case class Pop(ldPopulation: String, relativeSampleSize: Double)
  case class StudyRow(studyId: String, ldPopulationStructure: Seq[Pop])
}
