package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle

class SearchSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "spark runs fast spark scales"),
    (2L, "duck walks slow"),
    (3L, "spark and duck share a pond"),
    (4L, "pond life is calm")
  ).toDF("doc_id", "text")

  test("termFrequencies counts per (doc, term) on lowercased tokens") {
    val tf = Search.termFrequencies(corpus, "text", "doc_id")
      .as[(Long, String, Long)].collect().toSet
    assert(tf.contains((1L, "spark", 2L)))
    assert(tf.contains((3L, "duck", 1L)))
    assert(!tf.exists(_._2 == ""))
  }

  test("native termFrequencies is multiset-identical to the " +
    "explode->groupBy formulation and plans with no aggregate/exchange") {
    import org.apache.spark.sql.functions._
    // 11/12 pin the EXACT trim/lower mirror: Spark trim strips only
    // 0x20 (a \u0001 stays inside the token), and Spark lower's
    // behavior on İ must match whatever UTF8String.toLowerCase does
    val docs = corpus.unionByName(Seq(
      (9L, ""), (10L, "  SPARK  spark Spark "),
      (11L, "spark\u0001 \u0001tab"), (12L, "İstanbul I MIX"))
      .toDF("doc_id", "text"))
    val native = Search.termFrequencies(docs, "text", "doc_id")
      .as[(Long, String, Long)].collect().toSet
    val hof = docs
      .select(col("doc_id").as("id"),
        explode(TextAnalysis.tokens(col("text"))).as("term"))
      .groupBy("id", "term").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    assert(native == hof)
    assert(native.contains((10L, "spark", 3L)))
    val plan = Search.termFrequencies(docs, "text", "doc_id")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.toLowerCase.contains("aggregate"),
      plan)
  }

  test("bm25TopK ranks docs with more query-term mass first; ranks are " +
    "1-based and bounded by k") {
    val qs = Seq((7L, "spark")).toDF("query_id", "qtext")
    val hits = Search.bm25TopK(corpus, "text", "doc_id", qs, k = 10,
      cache = CacheHandle())
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    // docs 1 and 3 contain "spark"; doc 1 has tf=2 and is shorter-normalised
    assert(hits.map(_._3).toSeq == Seq(1L, 3L))
    assert(hits.map(_._2).toSeq == Seq(1L, 2L))
    assert(hits.forall(_._4 > 0.0))
    assert(hits(0)._4 > hits(1)._4)
  }

  test("bm25TopK scores a multi-term query additively and caps at k") {
    val qs = Seq((1L, "spark duck"), (2L, "pond")).toDF("query_id", "qtext")
    val out = Search.bm25TopK(corpus, "text", "doc_id", qs, k = 1,
      cache = CacheHandle())
    val byQuery = out.as[(Long, Long, Long, Double)].collect()
      .groupBy(_._1).map { case (qid, rows) => (qid, rows.toSeq) }
    // doc 3 matches both terms of query 1 — beats single-term docs
    assert(byQuery(1L).map(_._3) == Seq(3L))
    assert(byQuery.forall(_._2.size == 1))
  }

  test("persisted index round-trip: build -> write -> read -> search " +
    "equals the inline bm25TopK, and the term prune pushes down") {
    val dir = java.nio.file.Files.createTempDirectory("bm25idx").toString
    val qs = Seq((1L, "spark duck"), (2L, "pond")).toDF("query_id", "qtext")
    val built = Search.bm25IndexBuild(corpus, "text", "doc_id", cache = CacheHandle())
    assert(built.nDocs == 4L)
    Search.bm25IndexWrite(built, dir)
    val loaded = Search.bm25IndexRead(spark, dir)
    assert(loaded.nDocs == built.nDocs && loaded.avgdl == built.avgdl)
    val viaIndex = Search.bm25SearchIndex(loaded, qs, k = 3, cache = CacheHandle())
      .as[(Long, Long, Long, Double)].collect().toSet
    val inline = Search.bm25TopK(corpus, "text", "doc_id", qs, k = 3,
      cache = CacheHandle())
      .as[(Long, Long, Long, Double)].collect().toSet
    assert(viaIndex == inline)
    // the query-vocabulary IN predicate reaches the parquet scan
    val p = Search.bm25SearchIndex(loaded, qs, k = 3, cache = CacheHandle())
      .queryExecution.executedPlan.toString
    assert(p.contains("PushedFilters") && p.contains("In(term"),
      s"term prune not pushed to the postings scan:\n$p")
  }

  test("bm25IndexAppend folds an arrival batch without corpus re-scan " +
    "and matches a from-scratch rebuild") {
    val batch = Seq(
      (10L, "spark spark spark streaming joins the pond"),
      (11L, "entirely unrelated words only")).toDF("doc_id", "text")
    val appended = Search.bm25IndexAppend(
      Search.bm25IndexBuild(corpus, "text", "doc_id", cache = CacheHandle()),
      batch, "text", "doc_id", cache = CacheHandle())
    val rebuilt = Search.bm25IndexBuild(
      corpus.unionByName(batch), "text", "doc_id", cache = CacheHandle())
    assert(appended.nDocs == rebuilt.nDocs)
    assert(math.abs(appended.avgdl - rebuilt.avgdl) < 1e-9)
    assert(appended.postings.count() == rebuilt.postings.count())
    val qs = Seq((1L, "spark pond")).toDF("query_id", "qtext")
    val a = Search.bm25SearchIndex(appended, qs, k = 5, cache = CacheHandle())
      .select("rank", "doc_id").as[(Long, Long)].collect().toSeq
    val b = Search.bm25SearchIndex(rebuilt, qs, k = 5, cache = CacheHandle())
      .select("rank", "doc_id").as[(Long, Long)].collect().toSeq
    assert(a == b)
    assert(a.map(_._2).contains(10L))
  }

  test("rrfFuse: a doc ranked by both systems beats single-system docs; " +
    "scores are 1/(c+rank) sums; ties break toward the smaller id") {
    val sysA = Seq((1L, 1L, 10L), (1L, 2L, 20L))
      .toDF("query_id", "rank", "doc_id")
    val sysB = Seq((1L, 1L, 20L), (1L, 2L, 30L))
      .toDF("query_id", "rank", "doc_id")
    val fused = Search.rrfFuse(Seq(sysA, sysB), k = 10)
      .orderBy("rank").as[(Long, Long, Long, Double)].collect()
    // doc 20: rank 2 in A + rank 1 in B → 1/62 + 1/61; doc 10: 1/61; doc 30: 1/62
    assert(fused.map(_._3).toSeq == Seq(20L, 10L, 30L))
    assert(math.abs(fused(0)._4 - (1.0 / 62 + 1.0 / 61)) < 1e-12)
    assert(math.abs(fused(1)._4 - 1.0 / 61) < 1e-12)
    // 10 and 30 at equal score would tie to the lower id — here 10 wins
    // on score (rank 1 vs 2); construct an exact tie too:
    val tie = Search.rrfFuse(Seq(
      Seq((1L, 1L, 5L), (1L, 1L, 3L)).toDF("query_id", "rank", "doc_id")),
      k = 10).orderBy("rank").as[(Long, Long, Long, Double)].collect()
    assert(tie.map(_._3).toSeq == Seq(3L, 5L))
  }

  test("bm25TopK idf downweights common terms: a term present in every " +
    "doc scores below a rare term at equal tf") {
    val even = Seq(
      (1L, "common rare"),
      (2L, "common x"),
      (3L, "common y"),
      (4L, "common z")
    ).toDF("doc_id", "text")
    val qs = Seq((1L, "common"), (2L, "rare")).toDF("query_id", "qtext")
    val out = Search.bm25TopK(even, "text", "doc_id", qs, k = 1,
      cache = CacheHandle())
      .as[(Long, Long, Long, Double)].collect()
      .map(r => (r._1, r._4)).toMap
    assert(out(2L) > out(1L))
  }

  test("bm25TopK on a string-id corpus ranks through the window " +
    "fallback instead of silently dropping every hit") {
    import org.apache.spark.sql.functions._
    val sc = corpus.select(
      concat(lit("doc-"), $"doc_id").as("doc_id"), $"text")
    val qs = Seq((7L, "spark")).toDF("query_id", "qtext")
    val hits = Search.bm25TopK(sc, "text", "doc_id", qs, k = 10,
      cache = CacheHandle())
      .orderBy("rank").as[(Long, Long, String, Double)].collect()
    assert(hits.map(_._3).toSeq == Seq("doc-1", "doc-3"))
    assert(hits.map(_._2).toSeq == Seq(1L, 2L))
  }
}
