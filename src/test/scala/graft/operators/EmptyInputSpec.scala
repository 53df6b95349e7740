package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.DataFrame

/** Empty-input sweep: a scheduled 100 TB pipeline will eventually feed
  * an operator an empty batch (a quiet ingest day, a filter that
  * drops everything). Every operator must return an empty,
  * schema-correct frame — not throw.
  */
class EmptyInputSpec extends SparkSpec {
  import spark.implicits._

  private def emptyDocs: DataFrame =
    Seq.empty[(Long, String)].toDF("doc_id", "text")
  private def emptyPairs: DataFrame =
    Seq.empty[(Long, Long)].toDF("idA", "idB")

  test("dedup family on an empty corpus") {
    assert(Dedup.exactDedup(emptyDocs, "text", "doc_id").count() === 0L)
    assert(Dedup.minhashDupPairs(emptyDocs, "text", "doc_id",
      cache = CacheHandle()).count() === 0L)
    assert(Dedup.ngramJaccardPairs(emptyDocs, "text", "doc_id",
      cache = CacheHandle()).count() === 0L)
    assert(Dedup.connectedComponents(emptyPairs,
      cache = CacheHandle()).count() === 0L)
  }

  test("span dedup, bm25, chunking, quality rules, temperature mix on " +
    "empty inputs; kmeans/pca fail loudly instead of mislabelling") {
    import org.apache.spark.sql.functions.lit
    assert(Dedup.spanDedup(emptyDocs, "text", "doc_id",
      cache = CacheHandle()).count() === 0L)
    val qs = Seq((1L, "some query")).toDF("query_id", "qtext")
    assert(Search.bm25TopK(emptyDocs, "text", "doc_id", qs,
      cache = CacheHandle()).count() === 0L)
    assert(Search.bm25TopK(Seq((1L, "a doc")).toDF("doc_id", "text"),
      "text", "doc_id",
      Seq.empty[(Long, String)].toDF("query_id", "qtext"),
      cache = CacheHandle()).count() === 0L)
    val emptyIdx = Search.bm25IndexBuild(emptyDocs, "text", "doc_id",
      cache = CacheHandle())
    assert(emptyIdx.nDocs === 0L && emptyIdx.avgdl === 0.0)
    assert(Search.bm25SearchIndex(emptyIdx, qs, cache = CacheHandle()).count() === 0L)
    assert(TextAnalysis.chunkDocuments(emptyDocs, "text", "doc_id", 8)
      .count() === 0L)
    val flags = TextAnalysis.qualityRuleFlags(emptyDocs, "text", "doc_id")
    assert(flags.count() === 0L)
    val audit = TextAnalysis.qualityRuleAudit(flags)
      .as[(String, Long, Long)].collect()
    assert(audit.length === TextAnalysis.QualityRuleNames.length)
    assert(audit.forall(a => a._2 === 0L && a._3 === 0L))
    assert(Mixing.temperatureMix(emptyDocs.withColumn("source", lit("s"))
      .withColumn("tokens", lit(1L)), "doc_id", "source", "tokens",
      0.5, 100L).count() === 0L)
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("id", "embedding")
    assertThrows[IllegalArgumentException] {
      Similarity.kmeansFit(emptyVecs, k = 2, cache = CacheHandle())
    }
    assertThrows[IllegalArgumentException] {
      Similarity.pcaFit(emptyVecs, k = 2)
    }
  }

  test("containment, embedding pooling, cluster labelling on empty inputs") {
    assert(Dedup.containmentPairs(emptyDocs, "text", "doc_id",
      cache = CacheHandle()).count() === 0L)
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("doc", "embedding")
    assert(Similarity.poolEmbeddings(emptyVecs, "doc").count() === 0L)
    assert(Similarity.poolEmbeddings(emptyVecs, "doc", method = "max")
      .count() === 0L)
    assert(TextAnalysis.clusterTopTerms(
      emptyDocs.withColumn("cluster",
        org.apache.spark.sql.functions.lit("c")),
      "cluster", "text").count() === 0L)
  }

  test("incremental dedup with empty index, empty batch, or both") {
    val idx = IncrementalDedup.exactIndex(emptyDocs, "text", "doc_id")
    assert(idx.count() === 0L)
    val docs = Seq((1L, "some text here")).toDF("doc_id", "text")
    assert(IncrementalDedup.incrementalExactDedup(docs, idx, "text", "doc_id")
      .count() === 1L)
    val fullIdx = IncrementalDedup.exactIndex(docs, "text", "doc_id")
    assert(IncrementalDedup.incrementalExactDedup(emptyDocs, fullIdx,
      "text", "doc_id").count() === 0L)
    assert(IncrementalDedup.mergeComponents(
      Seq.empty[(Long, Long)].toDF("id", "comp"), emptyPairs,
      cache = CacheHandle()).count() === 0L)
  }

  test("decontamination, mixing, upsert, profiler on empty inputs") {
    val bench = Seq((1L, "benchmark text body")).toDF("doc_id", "text")
    assert(Decontamination.contaminationPairs(emptyDocs, bench,
      "text", "doc_id").count() === 0L)
    assert(Mixing.sampleToMix(emptyDocs.withColumn("source",
      org.apache.spark.sql.functions.lit("s"))
      .withColumn("tokens", org.apache.spark.sql.functions.lit(1L)),
      "doc_id", "source", "tokens", Map("s" -> 1.0), 100L).count() === 0L)
    assert(Mixing.stratifiedTake(emptyDocs.withColumn("source",
      org.apache.spark.sql.functions.lit("s")), "source", "doc_id", 5)
      .count() === 0L)
    assert(Mixing.stratifiedTakeAgg(emptyDocs.withColumn("source",
      org.apache.spark.sql.functions.lit("s")), "source", "doc_id", 5)
      .count() === 0L)
    val snap = Seq((1L, 2.0)).toDF("k", "v")
    val emptyDelta = Seq.empty[(Long, Double, Long)].toDF("k", "v", "seq")
    assert(Upsert.applyDelta(snap, emptyDelta, Seq("k"), "seq").count() === 1L)
    assert(Profiler.profile(emptyDocs, Seq("doc_id", "text"))
      .count() > 0L) // metric rows exist; values reflect zero rows
  }

  test("similarity search with empty query side") {
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("id", "embedding")
    val corpus = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("id", "embedding")
    assert(Similarity.bruteForceTopK(corpus, emptyVecs, 3).count() === 0L)
    assert(Similarity.bruteForceTopKAgg(corpus, emptyVecs, 3).count() === 0L)
    assert(Similarity.lshTopK(corpus, emptyVecs, 3).count() === 0L)
  }

  test("ANN indexes with an EMPTY corpus answer empty instead of crashing") {
    // the sampled trainers would otherwise throw on pts(0)
    val emptyVecs = Seq.empty[(Long, Seq[Double])].toDF("id", "embedding")
    val queries = Seq((1L, Seq(1.0, 0.0)), (2L, Seq(0.0, 1.0)))
      .toDF("id", "embedding")
    val ivf = Similarity.ivfTopK(emptyVecs, queries, 3)
    assert(ivf.count() === 0L)
    assert(ivf.columns.toSet ===
      Set("queryId", "neighbourId", "similarity", "rank"))
    val pq = Similarity.pqTopK(emptyVecs, queries, 3, m = 1)
    assert(pq.count() === 0L)
    assert(pq.columns.toSet === Set("queryId", "neighbourId", "score", "rank"))
    assert(Similarity.lshTopK(emptyVecs, queries, 3).count() === 0L)
    // the explicit builders state the contract loudly instead
    assertThrows[IllegalArgumentException] {
      Similarity.pqIndexBuild(emptyVecs, m = 1)
    }
    assertThrows[IllegalArgumentException] {
      Similarity.pqTrain(emptyVecs, m = 1)
    }
  }

  test("DSIR and bigram LM on empty corpus / empty target") {
    val docs = Seq((1L, "a b c"), (2L, "x y z")).toDF("doc_id", "text")
    // empty corpus: nothing to select, no division by zero
    assert(ImportanceSampling.dsirSelect(emptyDocs, docs, "text",
      "doc_id", k = 3, cache = CacheHandle()).count() === 0L)
    // empty target: smoothing keeps log-ratios finite, all docs score
    val s = ImportanceSampling.dsirScores(docs, emptyDocs, "text", "doc_id",
      cache = CacheHandle())
    assert(s.count() === 2L)
    assert(s.filter($"logw_nano".isNull).count() === 0L)
    assert(TextAnalysis.bigramLogProbScores(emptyDocs, "text", "doc_id")
      .count() === 0L)
  }
}
