package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.functions._

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private def docs = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (2L, "the quick brown fox jumps over the lazy dog"), // exact dup of 1
    (3L, "the quick brown fox jumps over the lazy cat"), // near dup
    (4L, "completely different text about spark engines and scala code"),
    (5L, "THE  QUICK brown fox jumps over the lazy dog") // dup modulo case/space
  ).toDF("doc_id", "text")

  test("exactDedup keeps smallest id per identical text") {
    val kept = Dedup.exactDedup(docs, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 3L, 4L, 5L))
  }

  test("shingles produce word n-grams; short docs fall back to full text") {
    val sh = Seq(("a b c d", 1)).toDF("t", "i")
      .select(Dedup.shingles(col("t"), 3).as("s")).as[Seq[String]].head
    assert(sh == Seq("a b c", "b c d"))
    val short = Seq(("a b", 1)).toDF("t", "i")
      .select(Dedup.shingles(col("t"), 3).as("s")).as[Seq[String]].head
    assert(short == Seq("a b"))
  }

  test("minhash LSH finds near and exact dups, not unrelated docs") {
    val pairs = Dedup.minhashDupPairs(docs, "text", "doc_id",
      shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
      cache = CacheHandle())
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(pairs.contains((1L, 2L))) // identical -> sig identical
    assert(pairs.contains((1L, 5L))) // identical after normalisation
    assert(!pairs.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated
    // near-dup 1-3 share 6 of 7 shingles (jaccard ~0.5): may or may not
    // clear banding; exact-dup coverage above is the hard guarantee
  }

  test("signatureSimilarity is 1 for identical docs, low for unrelated") {
    val sigs = docs.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 64).as("sig"))
    val bySelf = sigs.alias("a").join(sigs.alias("b"),
      col("a.doc_id") === 1 && col("b.doc_id") === 2)
      .select(Dedup.signatureSimilarity(col("a.sig"), col("b.sig"))).head.getDouble(0)
    assert(bySelf == 1.0)
    val unrelated = sigs.alias("a").join(sigs.alias("b"),
      col("a.doc_id") === 1 && col("b.doc_id") === 4)
      .select(Dedup.signatureSimilarity(col("a.sig"), col("b.sig"))).head.getDouble(0)
    assert(unrelated < 0.3)
  }

  test("simhash: identical texts collide, near dups within small hamming") {
    val pairs = Dedup.simhashDupPairs(docs, "text", "doc_id", maxHamming = 10)
      .select("idA", "idB", "hamming").as[(Long, Long, Int)].collect()
    val byPair = pairs.map(p => (p._1, p._2) -> p._3).toMap
    assert(byPair((1L, 2L)) == 0)
    assert(byPair((1L, 5L)) == 0)
    assert(byPair.get((1L, 3L)).forall(_ <= 10)) // one word changed
    assert(!byPair.contains((1L, 4L)))
  }

  test("ngram jaccard computes exact overlap coefficient") {
    val pairs = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      shingleSize = 3, threshold = 0.4, cache = CacheHandle())
      .as[(Long, Long, Double)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(math.abs(pairs((1L, 2L)) - 1.0) < 1e-12)
    // docs 1,3: shingles 7 each, 6 shared -> 6/8 = 0.75
    assert(math.abs(pairs((1L, 3L)) - 0.75) < 1e-12)
    assert(!pairs.contains((1L, 4L)))
  }

  test("containmentPairs catches a short doc embedded in a long one " +
    "that Jaccard misses, and scores both directions from one pass") {
    // doc 11's 4 shingles all appear in doc 10 (16 shingles):
    // containment(11→10) = 1.0 but jaccard = 4/16 = 0.25
    val embedded = Seq(
      (10L, "alpha beta gamma delta epsilon zeta " +
        "one two three four five six " +
        "red green blue yellow purple white"),
      (11L, "one two three four five six"),
      (12L, "totally unrelated words about database engines here")
    ).toDF("doc_id", "text")
    val got = Dedup.containmentPairs(embedded, "text", "doc_id",
      shingleSize = 3, threshold = 0.9, cache = CacheHandle())
      .as[(Long, Long, Double)].collect().toSeq
    assert(got == Seq((11L, 10L, 1.0)))
    // a Jaccard threshold at the same strictness never sees the pair
    assert(Dedup.ngramJaccardPairs(embedded, "text", "doc_id",
      shingleSize = 3, threshold = 0.9, cache = CacheHandle()).count() == 0L)
    // near-equal-size docs can emit both directions
    val both = Dedup.containmentPairs(docs, "text", "doc_id",
      shingleSize = 3, threshold = 0.8, cache = CacheHandle())
      .select("idSub", "idSuper").as[(Long, Long)].collect().toSet
    assert(both.contains((1L, 2L)) && both.contains((2L, 1L)))
    // containment(1→3) = 6/7 ≥ 0.8 both ways (7 shingles each, 6 shared)
    assert(both.contains((1L, 3L)) && both.contains((3L, 1L)))
  }

  test("shingle document-frequency cap defuses the stop-phrase hot bucket") {
    // 60 documents that share one boilerplate phrase but are otherwise
    // unique: every pair shares exactly one shingle, so the inverted
    // index explodes into 60*59/2 candidate rows without the cap
    val docs = (0 until 60)
      .map(i => (i.toLong, s"lorem ipsum dolor unique$i token$i word$i"))
      .toDF("doc_id", "text")
    // DF=60 sits under the 1000 floor of the cap: every pair survives
    val unCapped = Dedup.ngramJaccardPairs(docs, "text", "doc_id",
      threshold = 0.0, cache = CacheHandle())
    assert(unCapped.count() == 60L * 59 / 2)
    // 1,001 short docs sharing that phrase cross the floor: the
    // boilerplate shingle is dropped from the index, no candidate pairs
    // remain, nothing quadratic reaches the join
    val crowd = (0 until 1001)
      .map(i => (i.toLong, s"lorem ipsum dolor unique$i token$i word$i"))
      .toDF("doc_id", "text")
    val capped = Dedup.ngramJaccardPairs(crowd, "text", "doc_id",
      threshold = 0.0, cache = CacheHandle())
    assert(capped.count() == 0)
    // the cap leaves ordinary corpora untouched: exactly the pair that
    // shares shingles survives
    val normal = Seq((1L, "a b c d e"), (2L, "a b c d x"), (3L, "zz yy xx ww vv"))
      .toDF("doc_id", "text")
    val withCap = Dedup.ngramJaccardPairs(normal, "text", "doc_id",
      threshold = 0.1,
      cache = CacheHandle()).collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(withCap == Set((1L, 2L)))
  }

  test("adaptive shingle cap: formula pins, and the default drops a " +
    "planted stop-phrase at >1000 DF") {
    // cap = max(1000, nDocs/1e4), saturating at Int.MaxValue
    def cap(nDocs: Long): Long = spark.range(1)
      .select(Dedup.adaptiveShingleCap(lit(nDocs))).head.getLong(0)
    assert(cap(0L) == 1000)
    assert(cap(10_000_000L) == 1000)
    assert(cap(100_000_000L) == 10000)
    assert(cap(1_000_000_000L) == 100000)
    assert(cap(Long.MaxValue) == Int.MaxValue)
    // 1100 docs share one boilerplate shingle and are otherwise unique:
    // under the cap (1000 at this corpus size) the boilerplate is a
    // stop-phrase — zero candidate pairs reach the join, vs the
    // 1100·1099/2 hot-bucket rows a fixed 1e5 cap would admit
    val big = (0 until 1100)
      .map(i => (i.toLong, s"lorem ipsum dolor unique$i token$i word$i"))
      .toDF("doc_id", "text")
    assert(Dedup.ngramJaccardPairs(big, "text", "doc_id",
      threshold = 0.0, cache = CacheHandle()).count() == 0)
    // 1000 of them sit at the cap, not above it: the shingle stays and
    // every pair is a candidate
    assert(Dedup.ngramJaccardPairs(big.filter(col("doc_id") < 1000), "text",
      "doc_id", threshold = 0.0,
      cache = CacheHandle()).count() == 1000L * 999 / 2)
  }

  test("native sketch expressions match the HOF formulations exactly") {
    val hof = docs.select(col("doc_id"),
      Dedup.minhashSignature(Dedup.shingles(col("text"), 3), 64).as("sig"),
      Dedup.simhash(col("text")).as("sh"))
      .as[(Long, Seq[Long], Long)].collect().sortBy(_._1)
    val native = docs.select(col("doc_id"),
      graft.plans.SketchFunctions.minhashSignature(col("text"), 3, 64).as("sig"),
      graft.plans.SketchFunctions.simhash64(col("text")).as("sh"))
      .as[(Long, Seq[Long], Long)].collect().sortBy(_._1)
    assert(hof.toSeq == native.toSeq)
  }

  test("minhash components decorrelate: a shared non-min shingle moves some " +
    "components but not all (the mod-2^32 rehash is a real permutation)") {
    val sigs = docs.select(col("doc_id"),
      graft.plans.SketchFunctions.minhashSignature(col("text"), 3, 64).as("sig"))
      .as[(Long, Seq[Long])].collect().toMap
    val sim13 = sigs(1L).zip(sigs(3L)).count { case (a, b) => a == b } / 64.0
    // docs 1 and 3 share 6 of 8 distinct shingles (jaccard 0.6): a
    // degenerate (orderless) family gives similarity exactly 0 or 1;
    // a real permutation family estimates ~0.6
    assert(sim13 > 0.0 && sim13 < 1.0, s"degenerate signature: $sim13")
    assert(math.abs(sim13 - 0.6) < 0.3)
  }

  test("md5 anchor variants behave like the xxhash64 family") {
    val m = Dedup.minhashDupPairsMd5(docs, "text", "doc_id", threshold = 0.5,
      cache = CacheHandle())
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(m.contains((1L, 2L))) // identical
    assert(m.contains((1L, 5L))) // identical after normalisation
    assert(!m.exists(p => p._1 == 4L || p._2 == 4L)) // unrelated never pairs
    val s = Dedup.simhashDupPairsMd5(docs, "text", "doc_id", maxHamming = 10,
      cache = CacheHandle())
      .select("idA", "idB", "hamming").as[(Long, Long, Long)].collect()
      .map(p => (p._1, p._2) -> p._3).toMap
    assert(s((1L, 2L)) == 0L)
    assert(s((1L, 5L)) == 0L)
    assert(!s.contains((1L, 4L)) || s((1L, 4L)) > 3L)
  }

  test("minhash band-bucket cap drops degenerate identical-signature buckets") {
    // 40 identical documents collapse to one signature: every band
    // bucket holds all 40 docs
    val docs = (0 until 40).map(i => (i.toLong, "same text for every doc here"))
      .toDF("doc_id", "text")
    val unCapped = Dedup.minhashDupPairs(docs, "text", "doc_id",
      cache = CacheHandle())
    assert(unCapped.count() == 40L * 39 / 2)
    val capped = Dedup.minhashDupPairs(docs, "text", "doc_id",
      maxBandBucket = 10, cache = CacheHandle())
    assert(capped.count() == 0)
  }

  test("connected components match brute-force closure on random graphs") {
    val rnd = new scala.util.Random(7)
    for (trial <- 0 until 3) {
      val n = 30
      val edges = Seq.fill(25)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2)
      // brute force: BFS per node over the undirected adjacency
      val adj = edges.flatMap(e => Seq(e, e.swap)).groupMap(_._1)(_._2)
      val nodes = edges.flatMap(e => Seq(e._1, e._2)).distinct
      def reach(s: Long): Set[Long] = {
        var seen = Set(s); var frontier = List(s)
        while (frontier.nonEmpty) {
          val next = frontier.flatMap(v => adj.getOrElse(v, Nil))
            .filterNot(seen)
          seen ++= next; frontier = next
        }
        seen
      }
      val expected = nodes.map(v => v -> reach(v).min).toMap
      val got = Dedup.connectedComponents(
        edges.toDF("idA", "idB"), maxIter = n, cache = CacheHandle())
        .as[(Long, Long)].collect().toMap
      assert(got == expected, s"trial $trial: $got vs $expected")
    }
  }

  test("component labelling converges on a worst-case path graph in O(log n) rounds") {
    // path 0-1-2-...-19: diameter 19, the shape where min-label
    // propagation needs O(d) rounds; star contraction must stay
    // logarithmic (+1 round to confirm the fixpoint)
    val n = 20
    val edges = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("idA", "idB")
    // threshold 0 forces pure star contraction (no union-find handoff)
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(
      edges, unionFindThreshold = 0L, cache = CacheHandle())
    val comps = labels.as[(Long, Long)].collect().toMap
    assert(comps.size == n && comps.values.forall(_ == 0L))
    val bound = (math.log(n) / math.log(2)).ceil.toInt + 2
    assert(rounds <= bound, s"took $rounds rounds, bound $bound")
  }

  test("union-find handoff labels exactly like pure star contraction") {
    val rnd = new scala.util.Random(13)
    val edges = Seq.fill(60)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
      .filter(e => e._1 != e._2).toDF("idA", "idB")
    val viaStars = Dedup.connectedComponentsWithRounds(
      edges, unionFindThreshold = 0L,
      cache = CacheHandle())._1.as[(Long, Long)].collect().toMap
    val viaFinish = Dedup.connectedComponentsWithRounds(
      edges, cache = CacheHandle())._1.as[(Long, Long)].collect().toMap
    assert(viaFinish == viaStars)
    // larger sparse graph (long chains + isolated pairs + duplicate and
    // reversed edges): the two independent implementations must agree
    // on every label
    val big = (0L until 1500L).flatMap { i =>
      val a = rnd.nextInt(2000).toLong; val b = rnd.nextInt(2000).toLong
      if (a == b) Nil else Seq((a, b), (b, a)) // reversed duplicates
    }.toDF("idA", "idB")
    val bigStars = Dedup.connectedComponentsWithRounds(
      big, unionFindThreshold = 0L,
      cache = CacheHandle())._1.as[(Long, Long)].collect().toMap
    val bigFinish = Dedup.connectedComponentsWithRounds(
      big, cache = CacheHandle())._1.as[(Long, Long)].collect().toMap
    assert(bigStars == bigFinish)
    assert(bigStars.forall { case (id, comp) => comp <= id })
  }

  test("non-convergence raises instead of returning partial labels") {
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("idA", "idB")
    assertThrows[IllegalStateException] {
      Dedup.connectedComponentsWithRounds(
        edges, maxIter = 1, unionFindThreshold = 0L, cache = CacheHandle())._1.count()
    }
  }

  test("contraction rounds leave no persisted RDD once the handle is released") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet
    // path 0-1-...-19 takes 5+ star rounds, so round 3's cut to an
    // RDD leaf runs; threshold 0 keeps every round distributed
    val edges = (0L until 19L).map(i => (i, i + 1)).toDF("idA", "idB")
    val cache = CacheHandle()
    val (labels, rounds) = Dedup.connectedComponentsWithRounds(
      edges, unionFindThreshold = 0L, cache = cache)
    assert(labels.count() == 20L)
    assert(rounds >= 3, s"took $rounds rounds; the cut round never ran")
    cache.release()
    // the ContextCleaner may drop older RDDs meanwhile; none may be added
    val left = sc.getPersistentRDDs.keySet -- before
    assert(left.isEmpty, s"RDDs still persisted after release: $left")
  }

  test("spanDedup removes later occurrences of duplicated token blocks " +
    "corpus-wide and within a document") {
    val corpus = Seq(
      (1L, "a b c d e f"),       // blocks (b=3): "a b c", "d e f"
      (2L, "a b c x y z"),       // "a b c" is doc 1's — removed
      (3L, "g h i g h i j"),     // blocks "g h i" | "g h i" | "j": within-doc repeat
      (4L, "")                   // empty doc: 0 blocks
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, "text", "doc_id", blockTokens = 3,
      cache = CacheHandle())
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((1L, "a b c d e f", 2L, 0L)))
    assert(out(1) == ((2L, "x y z", 2L, 1L)))
    assert(out(2) == ((3L, "g h i j", 3L, 1L)))
    assert(out(3) == ((4L, "", 0L, 0L)))
  }

  test("spanDedup keeps one occurrence of a block shared by every doc " +
    "(fully-duplicated docs keep empty text, not vanish)") {
    val corpus = Seq(
      (10L, "w1 w2 w3 w4"),
      (11L, "w1 w2 w3 w4"),
      (12L, "w1 w2 w3 w4")
    ).toDF("doc_id", "text")
    val out = Dedup.spanDedup(corpus, "text", "doc_id", blockTokens = 4,
      cache = CacheHandle())
      .orderBy("doc_id")
      .as[(Long, String, Long, Long)].collect()
    assert(out(0) == ((10L, "w1 w2 w3 w4", 1L, 0L)))
    assert(out(1) == ((11L, "", 1L, 1L)))
    assert(out(2) == ((12L, "", 1L, 1L)))
  }

  test("spanDedup is idempotent: a second pass over its own output " +
    "removes nothing (seeded random corpus)") {
    val rnd = new scala.util.Random(7)
    val words = Vector("alpha", "beta", "gamma", "delta", "epsilon", "zeta")
    val corpus = (0L until 30L).map { i =>
      (i, Seq.fill(6 + rnd.nextInt(20))(words(rnd.nextInt(words.size)))
        .mkString(" "))
    }.toDF("doc_id", "text")
    val once = Dedup.spanDedup(corpus, "text", "doc_id", blockTokens = 4,
      cache = CacheHandle())
    assert(once.filter(col("n_removed") > 0).count() > 0) // dups existed
    val twice = Dedup.spanDedup(
      once.select(col("doc_id"), col("clean_text").as("text")),
      "text", "doc_id", blockTokens = 4, cache = CacheHandle())
    assert(twice.filter(col("n_removed") > 0).count() === 0L)
  }

  test("keepClusterCanonical deletes transitive duplicates, keeps minima") {
    // clusters {1,2,3} (via 1-2, 2-3) and {5,6}; 4 unpaired
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L)).toDF("idA", "idB")
    val kept = Dedup.keepClusterCanonical(docs, "doc_id", pairs,
      cache = CacheHandle())
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(1L, 4L, 5L))
  }

  test("clusterSizeHistogram counts clusters by size, singletons absent") {
    // clusters: {1,2,3}, {5,6}, {7,8} → one size-3, two size-2
    val pairs = Seq((1L, 2L), (2L, 3L), (5L, 6L), (7L, 8L))
      .toDF("idA", "idB")
    val got = Dedup.clusterSizeHistogram(pairs, cache = CacheHandle())
      .as[(Long, Long)].collect().toMap
    assert(got == Map(3L -> 1L, 2L -> 2L))
  }

  test("keepClusterBest keeps the highest-score member per cluster, " +
    "ties to the smaller id, unpaired rows untouched") {
    val docs = Seq((1L, 0.5), (2L, 0.9), (3L, 0.9), (4L, 0.1), (9L, 0.0))
      .toDF("doc_id", "q")
    // cluster {1,2,3}: best q = 0.9 held by 2 and 3 → 2 survives;
    // 4 and 9 are unpaired and survive regardless of score
    val pairs = Seq((1L, 2L), (2L, 3L)).toDF("idA", "idB")
    val kept = Dedup.keepClusterBest(docs, "doc_id", "q", pairs,
      cache = CacheHandle())
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 4L, 9L))
    // min-id canonical would have kept 1 — the quality override is real
    val canon = Dedup.keepClusterCanonical(docs, "doc_id", pairs,
      cache = CacheHandle())
      .select("doc_id").as[Long].collect().toSet
    assert(canon == Set(1L, 4L, 9L))
    // an all-null-score cluster still dedups (to the min id) instead
    // of electing no winner and keeping every member
    val nullDocs = Seq((1L, Option.empty[Double]), (2L, Option.empty[Double]),
      (9L, Option(1.0))).toDF("doc_id", "q")
    val keptNull = Dedup.keepClusterBest(nullDocs, "doc_id", "q", pairs,
      cache = CacheHandle())
      .select("doc_id").as[Long].collect().toSet
    assert(keptNull == Set(1L, 9L))
  }
}
