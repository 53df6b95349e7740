package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.functions._

class ImportanceSamplingSpec extends SparkSpec {
  import spark.implicits._

  // two sub-populations: "science" docs share the target's vocabulary,
  // "spam" docs use a disjoint one
  private def corpus = ((1 to 20).map(i =>
    (i.toLong, "the experiment measured the sample under the microscope")) ++
    (21 to 40).map(i =>
      (i.toLong, "click here buy now free offer winner prize")))
    .toDF("doc_id", "text")

  private def target = Seq(
    "the experiment ran controls and measured the sample",
    "under the microscope the sample showed structure")
    .toTF

  implicit class Tdf(rows: Seq[String]) {
    def toTF = rows.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("doc_id", "text")
  }

  test("ngrams emits unigrams plus space-joined bigrams; short docs degrade") {
    val got = Seq((1L, "a b c"), (2L, "solo"), (3L, ""))
      .toDF("id", "t")
      .select(col("id"), ImportanceSampling.ngrams(col("t")).as("g"))
      .as[(Long, Seq[String])].collect().toMap
    assert(got(1L) == Seq("a", "b", "c", "a b", "b c"))
    assert(got(2L) == Seq("solo"))
    assert(got(3L).isEmpty)
  }

  test("native dsirBuckets is byte-identical to the Column " +
    "formulation bucketOf(explode(ngrams))") {
    val docs = corpus.unionByName(Seq(
      (99L, ""), (100L, "  single "), (101L, "a b c d"))
      .toDF("doc_id", "text"))
    val native = docs.select(col("doc_id"),
        explode(graft.plans.SketchFunctions.dsirBuckets(col("text"), 4096))
          .as("bucket"))
      .groupBy("doc_id", "bucket").count()
      .as[(Long, Long, Long)].collect().toSet
    val hof = docs.select(col("doc_id"),
        explode(ImportanceSampling.ngrams(col("text"))).as("_g"))
      .select(col("doc_id"),
        ImportanceSampling.bucketOf(col("_g"), 4096).as("bucket"))
      .groupBy("doc_id", "bucket").count()
      .as[(Long, Long, Long)].collect().toSet
    assert(native == hof && native.nonEmpty)
  }

  test("target-like documents outscore alien ones and win the selection") {
    val scores = ImportanceSampling.dsirScores(corpus, target, "text",
      "doc_id", buckets = 1 << 10, cache = CacheHandle())
      .as[(Long, Long, Long)].collect().map(r => r._1 -> r._2).toMap
    val sci = (1 to 20).map(i => scores(i.toLong))
    val spam = (21 to 40).map(i => scores(i.toLong))
    assert(sci.min > spam.max,
      s"science min ${sci.min} vs spam max ${spam.max}")
    val picked = ImportanceSampling.dsirSelect(corpus, target, "text",
      "doc_id", k = 10, buckets = 1 << 10, cache = CacheHandle())
      .select("doc_id").as[Long].collect().toSet
    assert(picked.size == 10)
    // log-ratio gap dwarfs the Gumbel noise here, so all winners are science
    assert(picked.forall(_ <= 20L), picked.toString)
  }

  test("scores and selection are exactly invariant to partitioning") {
    val a = ImportanceSampling.dsirSelect(corpus, target, "text",
      "doc_id", k = 7, buckets = 1 << 10, cache = CacheHandle())
      .select("doc_id", "logw_nano", "gumbel_key")
      .orderBy("doc_id").collect().toSeq
    val b = ImportanceSampling.dsirSelect(corpus.repartition(13),
      target.repartition(3), "text", "doc_id", k = 7, buckets = 1 << 10,
      cache = CacheHandle())
      .select("doc_id", "logw_nano", "gumbel_key")
      .orderBy("doc_id").collect().toSeq
    assert(a == b) // integer-quantised sums: bit-exact, not approximate
  }

  test("empty documents score zero; the model stays bucket-bounded") {
    val withEmpty = corpus.unionByName(Seq((99L, "")).toDF("doc_id", "text"))
    val s = ImportanceSampling.dsirScores(withEmpty, target, "text",
      "doc_id", buckets = 64, cache = CacheHandle())
      .filter(col("doc_id") === 99L).as[(Long, Long, Long)].head()
    assert(s == ((99L, 0L, 0L)))
    assert(ImportanceSampling.dsirModel(withEmpty, target, "text",
      "doc_id", buckets = 64).count() <= 64L)
  }

  test("seed changes the draw but not the weights") {
    val k = 15
    val s1 = ImportanceSampling.dsirSelect(corpus, target, "text",
      "doc_id", k, buckets = 1 << 10, seed = 1L, cache = CacheHandle())
    val s2 = ImportanceSampling.dsirSelect(corpus, target, "text",
      "doc_id", k, buckets = 1 << 10, seed = 2L, cache = CacheHandle())
    val w1 = s1.select("doc_id", "logw_nano").as[(Long, Long)].collect().toMap
    val w2 = s2.select("doc_id", "logw_nano").as[(Long, Long)].collect().toMap
    w1.keySet.intersect(w2.keySet)
      .foreach(id => assert(w1(id) == w2(id)))
    val g1 = s1.select("doc_id", "gumbel_key").as[(Long, Double)].collect().toMap
    val g2 = s2.select("doc_id", "gumbel_key").as[(Long, Double)].collect().toMap
    assert(g1.keySet.intersect(g2.keySet)
      .exists(id => g1(id) != g2(id)) || g1.keySet != g2.keySet)
  }
}
