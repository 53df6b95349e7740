package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.functions._

class TextMultimodalSpec extends SparkSpec {
  import spark.implicits._

  test("token counts: whitespace and BPE-ish") {
    val df = Seq("Hello, world! 42", "  spaced   out  ", "").toDF("t")
      .select(TextAnalysis.tokenCount(col("t")).as("n"),
        TextAnalysis.bpeishTokenCount(col("t")).as("b"))
    val rows = df.collect().map(r => (r.getInt(0), r.getInt(1)))
    assert(rows(0) == ((3, 6))) // [hello, world, 42] / [Hello][,][world][!][4][2]
    assert(rows(1)._1 == 2)
    assert(rows(2)._1 == 0)
  }

  test("language id picks the stopword-dominant language") {
    val df = Seq(
      "the cat sat on the mat and it was happy",
      "el gato se sienta en la alfombra y es feliz",
      "le chat est sur le tapis et il est content",
      "die katze sitzt auf der matte und ist gluecklich",
      "zzz qqq xxx").toDF("t")
      .select(TextAnalysis.languageId(col("t")).as("lang"))
    assert(df.as[String].collect().toSeq == Seq("en", "es", "fr", "de", "und"))
  }

  test("quality score is bounded and orders garbage below prose") {
    val df = Seq(
      "The quick brown fox jumps over the lazy dog and keeps on running through the field for quite a while longer.",
      "!!!???@@@ ### $$$ %%% ^^^").toDF("t")
      .select(TextAnalysis.qualityScore(col("t")).as("q"))
    val Array(good, bad) = df.as[Double].collect()
    assert(good > bad && good <= 1.0 && bad >= 0.0)
  }

  test("fingerprint ignores whitespace/case differences only") {
    val df = Seq(
      ("a", "The quick  brown\tfox"),
      ("b", "the quick brown fox"),
      ("c", "the quick brown ox")).toDF("id", "t")
      .select(col("id"), TextAnalysis.fingerprint(col("t")).as("fp"))
    val fp = df.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(fp("a") == fp("b") && fp("a") != fp("c"))
  }

  test("multimodal blob plumbing: encode, decode stub, features") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val blobs = Multimodal.toBlobTable(docs, "doc_id", "text")
    assert(blobs.schema("payload").dataType.typeName == "binary")
    val decoded = Multimodal.decode(spark, blobs.repartition(3))
    val feats = Multimodal.features(decoded.toDF())
    val n = docs.count()
    assert(decoded.count() == n && feats.count() == n)
    // deterministic: same payload -> same dims regardless of partitioning
    val d1 = decoded.filter(col("id") === 1).select("width", "height").head
    val d2 = Multimodal.decode(spark, blobs.repartition(7))
      .filter(col("id") === 1).select("width", "height").head
    assert(d1 == d2)
    val r = feats.select(min("width"), max("width")).head
    assert(r.getInt(0) >= 64 && r.getInt(1) <= 1023)
  }

  test("frame sampling plan from metadata only") {
    val df = Seq(100, 5, 0).toDF("nFrames")
      .select(Multimodal.frameSamplePlan(col("nFrames"), 10, 8).as("frames"))
    val rows = df.as[Seq[Long]].collect()
    assert(rows(0) == Seq(0L, 10L, 20L, 30L, 40L, 50L, 60L, 70L))
    assert(rows(1) == Seq(0L))
    assert(rows(2) == Seq(0L))
  }

  test("frame sampler: stride/cap bounds, determinism across partitioning") {
    val docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    val blobs = Multimodal.toBlobTable(docs, "doc_id", "text", kind = "video")
    val frames = Multimodal.sampleFrames(spark, blobs.repartition(3))
    // every blob yields >= 1 frame (frame 0 always sampled), <= maxFrames
    val per = frames.groupBy("id").count()
    val mm = per.agg(min("count"), max("count")).head
    assert(mm.getLong(0) >= 1 && mm.getLong(1) <= 4)
    assert(per.count() == docs.count())
    // only even indices under stride 2, below stride*maxFrames
    val idx = frames.select("frameIdx").distinct().as[Int].collect()
    assert(idx.forall(i => i % 2 == 0 && i < 8))
    // deterministic regardless of input partitioning
    val a = frames.filter(col("id") === 1).orderBy("frameIdx")
      .select("checksum").as[Long].collect().toSeq
    val b = Multimodal.sampleFrames(spark, blobs.repartition(7))
      .filter(col("id") === 1).orderBy("frameIdx")
      .select("checksum").as[Long].collect().toSeq
    assert(a == b && a.nonEmpty)
  }

  test("qualityRuleFlags: each rule fires on its own violation; filter " +
    "keeps only full passes; audit counts failures per rule") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat with the dog in the sun and all was well"),
      (2L, "a b"),                                       // too few tokens
      (3L, ("the supercalifragilistic " * 8) +
        "antidisestablishmentarianism extraordinarily"), // mean word len ~14
      (4L, "!!! ??? ### $$$ %%% ^^^ &&& *** ((( ))) !!! ??? ### $$$ %%%"),
      (5L, "12 34 56 78 90 11 22 33 44 55 66 77 88 99 00 12 34 56")
    ).toDF("doc_id", "text")
    val flags = TextAnalysis.qualityRuleFlags(docs, "text", "doc_id",
      minTokens = 10)
    val byId = flags.collect().map(r =>
      r.getLong(0) -> r.getValuesMap[Boolean](
        TextAnalysis.QualityRuleNames :+ "passes")).toMap
    assert(byId(1L)("passes"))
    assert(!byId(2L)("tokens_ok") && !byId(2L)("passes"))
    assert(!byId(3L)("word_len_ok") && !byId(3L)("passes"))
    assert(!byId(4L)("punct_ok") && !byId(4L)("alpha_ok"))
    assert(!byId(5L)("alpha_ok") && !byId(5L)("stopword_ok"))
    val kept = TextAnalysis.qualityRuleFilter(docs, "text", "doc_id",
      minTokens = 10).select("doc_id").as[Long].collect().toSet
    assert(kept == flags.filter(col("passes"))
      .select("doc_id").as[Long].collect().toSet)
    val audit = TextAnalysis.qualityRuleAudit(flags)
      .as[(String, Long, Long)].collect()
    assert(audit.length == TextAnalysis.QualityRuleNames.length)
    assert(audit.forall(_._3 == 5L))
    val failed = audit.map(a => a._1 -> a._2).toMap
    assert(failed("punct_ok") >= 1L && failed("tokens_ok") >= 1L)
  }

  test("chunkDocuments: windows advance by stride, overlap carries " +
    "tokens, every token is covered, short/empty docs behave") {
    import spark.implicits._
    val docs = Seq(
      (1L, "t0 t1 t2 t3 t4 t5 t6 t7 t8 t9"), // 10 tokens
      (2L, "a b"),                            // shorter than a window
      (3L, "")                                // no tokens
    ).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "text", "doc_id",
      maxTokens = 4, overlapTokens = 1)
      .orderBy("doc_id", "chunk_idx")
      .as[(Long, Long, String, Long)].collect()
    val d1 = out.filter(_._1 == 1L)
    // stride 3, n=10: ceil((10-1)/3) = 3 chunks
    assert(d1.map(_._3).toSeq == Seq(
      "t0 t1 t2 t3", "t3 t4 t5 t6", "t6 t7 t8 t9"))
    assert(d1.map(_._4).toSeq == Seq(4L, 4L, 4L))
    assert(out.filter(_._1 == 2L).map(_._3).toSeq == Seq("a b"))
    assert(!out.exists(_._1 == 3L))
  }

  test("chunkDocuments with zero overlap partitions the token stream") {
    import spark.implicits._
    val docs = Seq((1L, "a b c d e")).toDF("doc_id", "text")
    val out = TextAnalysis.chunkDocuments(docs, "text", "doc_id",
      maxTokens = 2, overlapTokens = 0)
      .orderBy("chunk_idx").as[(Long, Long, String, Long)].collect()
    assert(out.map(_._3).toSeq == Seq("a b", "c d", "e"))
    assert(out.map(_._4).toSeq == Seq(2L, 2L, 1L))
  }

  test("termCooccurrence: PMI separates collocated from independent " +
    "pairs; stop and fat-doc caps bound the pair space") {
    import spark.implicits._
    // "left right" always co-occur; "noise" rides every doc (stop term);
    // "solo" appears alone
    val docs = Seq(
      (1L, "left right noise"), (2L, "left right noise"),
      (3L, "left right noise"), (4L, "solo noise"),
      (5L, "left other noise")).toDF("doc_id", "text")
    val out = TextAnalysis.termCooccurrence(docs, "text", "doc_id",
      minPairCount = 2, stopDfFrac = 0.9, cache = CacheHandle())
      .as[(String, String, Long, Long, Long, Double)].collect()
    // noise (df 5 = N) is capped out of the pair space
    assert(!out.exists(r => r._1 == "noise" || r._2 == "noise"))
    val lr = out.find(r => r._1 == "left" && r._2 == "right").get
    assert(lr._3 == 3L) // 3 shared docs
    // pmi = ln(3 * 5 / (4 * 3)) > 0 — collocated above chance
    assert(math.abs(lr._6 - math.log(15.0 / 12.0)) < 1e-9)
    // a fat-doc cap of 1 distinct term empties the pair space
    assert(TextAnalysis.termCooccurrence(docs, "text", "doc_id",
      minPairCount = 1, maxDocTerms = 1, stopDfFrac = 0.9,
      cache = CacheHandle()).count() == 0L)
  }

  test("chunkDocuments reconstruction: zero-overlap chunks concatenate " +
    "back to the normalised token stream (seeded random docs)") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val words = Vector("w1", "w2", "w3", "w4", "w5")
    val docs = (0L until 25L).map { i =>
      (i, Seq.fill(1 + rnd.nextInt(30))(words(rnd.nextInt(words.size)))
        .mkString("  ")) // double spaces: normalisation must absorb them
    }.toDF("doc_id", "text")
    val rebuilt = TextAnalysis.chunkDocuments(docs, "text", "doc_id",
        maxTokens = 7, overlapTokens = 0)
      .groupBy("doc_id")
      .agg(concat_ws(" ", transform(
        array_sort(collect_list(struct(col("chunk_idx"), col("chunk_text")))),
        s => s.getField("chunk_text"))).as("joined"))
    val diff = docs
      .select(col("doc_id"),
        concat_ws(" ", TextAnalysis.tokens(col("text"))).as("norm"))
      .join(rebuilt, "doc_id")
      .filter(lower(col("norm")) =!= lower(col("joined")))
    assert(diff.count() === 0L)
  }

  test("unigram log-prob scores match the hand-computed corpus LM") {
    val docs = Seq((1L, "a a b"), (2L, "b c")).toDF("doc_id", "text")
    val got = TextAnalysis.unigramLogProbScores(docs, "text", "doc_id")
      .as[(Long, Double, Long)].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    // counts: a=2 b=2 c=1, N=5
    val d1 = (math.log(2 / 5.0) * 3) / 3
    val d2 = (math.log(2 / 5.0) + math.log(1 / 5.0)) / 2
    assert(math.abs(got(1L)._1 - d1) < 1e-12 && got(1L)._2 == 3L)
    assert(math.abs(got(2L)._1 - d2) < 1e-12 && got(2L)._2 == 2L)
    // gibberish (all-rare tokens) scores below repeated common prose
    assert(got(2L)._1 < got(1L)._1)
  }

  test("scriptRatios: hand-computed unicode range fractions") {
    import spark.implicits._
    val got = Seq(
      (1L, "abc 123"),        // 6 non-space: 3 latin, 3 digit
      (2L, "日本語 test"),     // 7 non-space: 3 cjk, 4 latin
      (3L, "привет"),          // 6 cyrillic
      (4L, "   "))             // all space → zeros
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.scriptRatios($"text").as("r"))
      .select($"doc_id", $"r.latin", $"r.cjk", $"r.cyrillic", $"r.digit")
      .as[(Long, Double, Double, Double, Double)].collect()
      .map(t => t._1 -> ((t._2, t._3, t._4, t._5))).toMap
    assert(got(1L) == ((0.5, 0.0, 0.0, 0.5)))
    assert(got(2L) == ((4.0 / 7, 3.0 / 7, 0.0, 0.0)))
    assert(got(3L) == ((0.0, 0.0, 1.0, 0.0)))
    assert(got(4L) == ((0.0, 0.0, 0.0, 0.0)))
  }

  test("normalizeForDedup collapses casing/punctuation/whitespace " +
    "churn to one canonical form; distinct content stays distinct") {
    import spark.implicits._
    val docs = Seq(
      (1L, "Hello, World!"), (2L, "hello   world"), (3L, "HELLO WORLD."),
      (4L, "héllo wörld"), (5L, "goodbye world"))
      .toDF("doc_id", "text")
      .select($"doc_id", TextAnalysis.normalizeForDedup($"text").as("n"))
      .as[(Long, String)].collect().toMap
    assert(docs(1L) == "hello world")
    assert(docs(1L) == docs(2L) && docs(2L) == docs(3L))
    assert(docs(4L) == "héllo wörld") // unicode letters survive
    assert(docs(5L) != docs(1L))
    val kept = Dedup.exactDedup(
      Seq((1L, "Hello, World!"), (2L, "hello   world"), (3L, "bye"))
        .toDF("doc_id", "text")
        .withColumn("norm", TextAnalysis.normalizeForDedup(col("text"))),
      "norm", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L))
  }

  test("native bigramCounts is multiset-identical to the HOF " +
    "bigrams(tokens) formulation") {
    import org.apache.spark.sql.functions._
    val docs = Seq((1L, "a b a b a"), (2L, "one"), (3L, ""),
      (4L, "  X  y x Y ")).toDF("doc_id", "text")
    val native = docs.select(col("doc_id"),
        explode(graft.plans.SketchFunctions.bigramCounts(col("text")))
          .as("_bc"))
      .select(col("doc_id"), col("_bc.term"), col("_bc.tf"))
      .as[(Long, String, Long)].collect().toSet
    val hof = docs.select(col("doc_id"),
        explode(TextAnalysis.bigrams(TextAnalysis.tokens(col("text"))))
          .as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
      .as[(Long, String, Long)].collect().toSet
    assert(native == hof)
    assert(native.contains((1L, "a b", 2L)) && native.contains((4L, "x y", 2L)))
  }

  test("bigramLogProbScores: hand-computed add-alpha bigram LM; " +
    "scrambled word salad scores below the prose it permutes") {
    import spark.implicits._
    // corpus: "a b" ×3 and "b a" ×1 → c(a b)=3, c(b a)=1,
    // c1(a·)=3, c1(b·)=1, V=2
    val docs = Seq((1L, "a b"), (2L, "a b"), (3L, "a b"), (4L, "b a"))
      .toDF("doc_id", "text")
    val a = 0.1
    val got = TextAnalysis.bigramLogProbScores(docs, "text", "doc_id", a)
      .as[(Long, Long, Long)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    val lpAB = math.round((math.log(3 + a) - math.log(3 + a * 2)) * 1e9)
    val lpBA = math.round((math.log(1 + a) - math.log(1 + a * 2)) * 1e9)
    assert(got(1L) == ((lpAB, 1L)) && got(4L) == ((lpBA, 1L)))
    // prose vs its own scramble: same unigrams, different bigrams
    val mix = ((1 to 10).map(i =>
      (i.toLong, "the cat sat on the mat")) ++
      Seq((99L, "mat the on sat cat the"))).toDF("doc_id", "text")
    val s = TextAnalysis.bigramLogProbScores(mix, "text", "doc_id")
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> r._2.toDouble / r._3).toMap
    assert(s(1L) > s(99L), s.toString)
    // sub-2-token docs score (0, 0)
    val short = TextAnalysis.bigramLogProbScores(
      Seq((7L, "solo"), (8L, "")).toDF("doc_id", "text"), "text", "doc_id")
      .as[(Long, Long, Long)].collect().toSet
    assert(short == Set((7L, 0L, 0L), (8L, 0L, 0L)))
  }

  test("qualityRuleFilter judges each row on its OWN text — a failing " +
    "row never rides on a passing duplicate-id sibling; plan is join-free") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the cat sat on the mat with the dog in the sun and all was well"),
      (1L, "a b") // same id, fails tokens_ok
    ).toDF("doc_id", "text")
    val kept = TextAnalysis.qualityRuleFilter(docs, "text", "doc_id",
      minTokens = 10)
    assert(kept.count() == 1L)
    assert(kept.select("text").as[String].head().startsWith("the cat"))
    val plan = kept.queryExecution.optimizedPlan.toString.toLowerCase
    assert(!plan.contains("join"), plan)
  }
}
