package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.functions._

/** Decontamination, TF-IDF, and SemDeDup-style semantic dedup. */
class PipelineOpsSpec extends SparkSpec {
  import spark.implicits._

  test("contaminationPairs counts distinct shingle overlap and coverage") {
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "completely different text with no shared phrases at all"),
      (3L, "quick brown fox jumps high")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (100L, "the quick brown fox jumps")
    ).toDF("doc_id", "text")
    val out = Decontamination
      .contaminationPairs(corpus, bench, "text", "doc_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r).toMap
    // bench doc has 3 distinct shingles: "the quick brown",
    // "quick brown fox", "brown fox jumps"; doc 1 shares all 3
    val full = out((1L, 100L))
    assert(full.getAs[Long]("overlap") == 3)
    assert(full.getAs[Long]("benchShingles") == 3)
    assert(full.getAs[Double]("coverage") == 1.0)
    // doc 3 shares "quick brown fox" and "brown fox jumps"
    assert(out((3L, 100L)).getAs[Double]("coverage") == 2.0 / 3.0)
    assert(!out.contains((2L, 100L)))
  }

  test("bloom-prefiltered decontamination is exact and prefilters in-plan") {
    val rnd = new scala.util.Random(5)
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon", "zeta",
      "eta", "theta", "iota", "kappa")
    val corpus = (1L to 200L).map(i =>
      (i, Seq.fill(12)(words(rnd.nextInt(words.length))).mkString(" ")))
      .toDF("doc_id", "text")
    val bench = corpus.filter(col("doc_id") % 29 === 0)
    def key(r: org.apache.spark.sql.Row) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
    val exact = Decontamination
      .contaminationPairs(corpus, bench, "text", "doc_id")
      .collect().map(key).toSet
    val bloomed = Decontamination
      .contaminationPairsBloom(corpus, bench, "text", "doc_id", cache = CacheHandle())
    assert(bloomed.collect().map(key).toSet == exact)
    // the prefilter must sit in the corpus scan stage, before the join
    val p = bloomed.queryExecution.executedPlan.toString
    assert(p.contains("might_contain"), s"no bloom prefilter in plan:\n$p")
  }

  test("flagContaminated keeps the worst benchmark coverage per doc") {
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "zeta eta theta")
    ).toDF("doc_id", "text")
    val bench = Seq(
      (10L, "alpha beta gamma"),           // covered 1/1 by doc 1
      (11L, "beta gamma delta zeta eta")   // covered 2/3 by doc 1
    ).toDF("doc_id", "text")
    val out = Decontamination
      .flagContaminated(corpus, bench, "text", "doc_id", minCoverage = 0.8,
        cache = CacheHandle())
      .collect().map(r => r.getAs[Long]("doc_id") -> r).toMap
    assert(out(1L).getAs[Boolean]("isContaminated"))
    assert(out(1L).getAs[Long]("worstBenchId") == 10L)
    assert(out(1L).getAs[Double]("worstCoverage") == 1.0)
    assert(!out(2L).getAs[Boolean]("isContaminated"))
    assert(out(2L).getAs[Double]("worstCoverage") == 0.0)
  }

  test("tfIdfTopTerms ranks rare terms above corpus-wide ones") {
    val docs = Seq(
      (1L, "common common rare1"),
      (2L, "common rare2 rare2"),
      (3L, "common filler")
    ).toDF("doc_id", "text")
    val out = TextAnalysis.tfIdfTopTerms(docs, "text", "doc_id", k = 2)
      .collect()
      .map(r => (r.getAs[Long]("docId"), r.getAs[Int]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("tf"), r.getAs[Long]("df")))
      .toMap
    // doc 1: rare1 (tf=1, df=1) outranks common (tf=2, df=3) because
    // idf(common) = ln(4/4)+1 = 1 -> tfidf 2 < 1*(ln(2)+1) = 1.69? No:
    // 2*1.0 = 2.0 > 1.69 -- common wins on tf. Verify the math instead.
    val idfRare = math.log(4.0 / 2.0) + 1.0
    val idfCommon = math.log(4.0 / 4.0) + 1.0
    assert((2 * idfCommon) > (1 * idfRare)) // common's tf carries doc 1
    assert(out((1L, 1))._1 == "common")
    assert(out((1L, 2))._1 == "rare1")
    // doc 2: rare2 tf=2 with high idf dominates
    assert(out((2L, 1))._1 == "rare2")
    assert(out((2L, 1))._2 == 2L && out((2L, 1))._3 == 1L)
    // doc 3: tie-break on term asc between common (tfidf 1.0) and
    // filler (tfidf 1.69): filler wins on score, not order
    assert(out((3L, 1))._1 == "filler")
  }

  test("clusterTopTerms surfaces cluster-distinctive terms and mutes " +
    "corpus-wide stopwords; minTermCount prunes the singleton tail") {
    val docs = Seq(
      (1L, "a", "the spark executor shuffles the spark stage"),
      (2L, "a", "the spark driver plans the spark job"),
      (3L, "b", "the gene variant maps the gene locus"),
      (4L, "b", "the gene study tags the gene region")
    ).toDF("doc_id", "domain", "text")
      .select(col("doc_id"), col("domain"), col("text"))
    val out = TextAnalysis.clusterTopTerms(docs, "domain", "text",
        k = 2, minTermCount = 2)
      .collect()
      .map(r => (r.getAs[String]("cluster"), r.getAs[Long]("rank")) ->
        (r.getAs[String]("term"), r.getAs[Long]("ctf"), r.getAs[Long]("f_t")))
      .toMap
    // "spark"/"gene" (ctf=4, f_t=4) dominate their clusters; "the"
    // (ctf=4, f_t=8) scores (4/14)·ln(1+14/8) ≈ 0.29 vs spark's
    // (4/14)·ln(1+14/4) ≈ 0.43 — equal in-cluster rate, but the
    // corpus-wide term's damped idf drags it below
    assert(out(("a", 1L)) == ("spark", 4L, 4L))
    assert(out(("b", 1L)) == ("gene", 4L, 4L))
    assert(out(("a", 2L))._1 == "the" && out(("b", 2L))._1 == "the")
    // singleton terms never rank with minTermCount=2
    val terms = out.values.map(_._1).toSet
    assert(!terms.contains("executor") && !terms.contains("variant"))
  }

  test("semanticDupPairs blocks by nearest centroid and finds in-cell dups") {
    def vec(x: Double, y: Double) = Array(x, y)
    val emb = Seq(
      (0L, vec(1.0, 0.0)),   // seed A
      (100L, vec(0.0, 1.0)), // seed B
      (1L, vec(0.9, 0.1)),   // near A
      (2L, vec(0.95, 0.05)), // near A, near-dup of 1
      (3L, vec(0.1, 0.9))    // near B, no in-cell partner above threshold
    ).toDF("id", "embedding")
    val seeds = emb.filter(col("id") % 100 === 0)
    val pairs = Similarity.semanticDupPairs(emb, seeds, threshold = 0.99,
      cache = CacheHandle())
      .collect().map(r => (r.getAs[Long]("idA"), r.getAs[Long]("idB")) -> r)
      .toMap
    // cell 0 = {0, 1, 2} (all pairwise cos > 0.99), cell 100 = {3, 100}
    // (cos 0.9939); cross-cell candidates are never even scored
    assert(pairs.keySet ==
      Set((0L, 1L), (0L, 2L), (1L, 2L), (3L, 100L)))
    assert(pairs((1L, 2L)).getAs[Long]("cell") == 0L)
    assert(pairs((3L, 100L)).getAs[Long]("cell") == 100L)
  }

  test("semanticDupPairs caps degenerate hot cells") {
    // one centroid: every embedding lands in the same cell, the
    // worst-case shape where the within-cell self-join goes quadratic
    val n = 12
    val emb = (0 until n).map(i => (i.toLong, Array(1.0, i * 1e-4)))
      .toDF("id", "embedding")
    val seed = emb.filter(col("id") === 0L)
    val unCapped = Similarity.semanticDupPairs(emb, seed, threshold = 0.0,
      cache = CacheHandle())
    assert(unCapped.count() == n.toLong * (n - 1) / 2)
    val capped = Similarity.semanticDupPairs(emb, seed, threshold = 0.0,
      maxCellSize = n - 1L, cache = CacheHandle())
    assert(capped.count() == 0L)
  }
}
