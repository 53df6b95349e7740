package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.functions._

class IncrementalDedupSpec extends SparkSpec {
  import spark.implicits._

  private def corpus = Seq(
    (1L, "the quick brown fox jumps over the lazy dog"),
    (3L, "a completely unrelated corpus document about scala"),
    (5L, "shared text that also arrives in the new batch today"),
    (7L, "another standing corpus document with its own words")
  ).toDF("doc_id", "text")

  // production invariant: arrival ids are minted after the corpus ids
  private def arrivals = Seq(
    (102L, "the quick brown fox jumps over the lazy dog"), // dup of corpus 1
    (104L, "shared text that also arrives in the new batch today"), // dup of 5
    (106L, "a genuinely new document no one has seen before"),
    (108L, "a genuinely new document no one has seen before"), // in-batch dup of 106
    (110L, "one more fresh arrival with original content here")
  ).toDF("doc_id", "text")

  test("incrementalExactDedup drops corpus dups and in-batch dups") {
    val idx = IncrementalDedup.exactIndex(corpus, "text", "doc_id")
    val kept = IncrementalDedup
      .incrementalExactDedup(arrivals, idx, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(106L, 110L)) // 102,104 hit corpus; 108 loses to 106
  }

  test("incremental exact equals full-corpus exactDedup restricted to arrivals") {
    val idx = IncrementalDedup.exactIndex(corpus, "text", "doc_id")
    val incr = IncrementalDedup
      .incrementalExactDedup(arrivals, idx, "text", "doc_id")
      .select("doc_id").as[Long].collect().toSet
    val full = Dedup.exactDedup(corpus.unionByName(arrivals), "text", "doc_id")
      .filter(col("doc_id") >= 100)
      .select("doc_id").as[Long].collect().toSet
    assert(incr == full)
  }

  test("mergedExactIndex keeps older canonical ids and adds new digests") {
    val idx = IncrementalDedup.exactIndex(corpus, "text", "doc_id")
    val merged = IncrementalDedup
      .mergedExactIndex(idx, arrivals, "text", "doc_id")
      .as[(String, Long)].collect().toMap
    // 6 distinct texts total: 4 corpus (one shared with batch) + 2 new
    assert(merged.size == 6)
    assert(merged.values.toSet == Set(1L, 3L, 5L, 7L, 106L, 110L))
    // merging the same batch again is a no-op (idempotent forward merge)
    val again = IncrementalDedup
      .mergedExactIndex(merged.toSeq.toDF("digest", "canonicalId"),
        arrivals, "text", "doc_id")
      .as[(String, Long)].collect().toMap
    assert(again == merged)
  }

  test("incrementalMinhashPairs equals full run restricted to arrival pairs") {
    val all = corpus.unionByName(arrivals)
    val full = Dedup.minhashDupPairsMd5(all, "text", "doc_id",
        shingleSize = 3, numHashes = 64, bands = 16, threshold = 0.5,
        cache = CacheHandle())
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    val expected = full.filter(p => p._1 >= 100 || p._2 >= 100)

    val idx = IncrementalDedup.minhashIndex(corpus, "text", "doc_id",
      md5Base = true)
    val arrSigs = IncrementalDedup.minhashIndex(arrivals, "text", "doc_id",
      md5Base = true)
    val incr = IncrementalDedup.incrementalMinhashPairs(arrSigs, idx,
        numHashes = 64, bands = 16, threshold = 0.5, cache = CacheHandle())
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(incr == expected)
    assert(expected.nonEmpty) // exact dups guarantee the three pairs below
    assert(incr.contains((1L, 102L)) && incr.contains((5L, 104L)) &&
      incr.contains((106L, 108L)))
  }

  test("re-arrived ids (present in index AND arrivals) emit no duplicate pairs") {
    // doc 5's text re-arrives under ITS OWN id: the pre-fix union carried
    // id 5 twice, fanning every candidate pair against it out ×2
    val rearrivals = arrivals.unionByName(
      Seq((5L, "shared text that also arrives in the new batch today"))
        .toDF("doc_id", "text"))
    val idx = IncrementalDedup.minhashIndex(corpus, "text", "doc_id",
      md5Base = true)
    val arrSigs = IncrementalDedup.minhashIndex(rearrivals, "text", "doc_id",
      md5Base = true)
    val out = IncrementalDedup.incrementalMinhashPairs(arrSigs, idx,
        numHashes = 64, bands = 16, threshold = 0.5, cache = CacheHandle())
      .select("idA", "idB").as[(Long, Long)].collect().toList
    assert(out.distinct == out) // no fan-out duplicates
    assert(out.contains((5L, 104L))) // the re-arrived id still pairs
  }

  test("hot-bucket cap bounds candidate pairs on a degenerate batch") {
    // 40 identical arrivals against an empty index: uncapped would give
    // 40*39/2 = 780 pairs; a cap of 10 drops the bucket entirely.
    val boiler = (2L to 80L by 2L).map(i => (i, "same boilerplate text everywhere"))
      .toDF("doc_id", "text")
    val sigs = IncrementalDedup.minhashIndex(boiler, "text", "doc_id",
      md5Base = true)
    val empty = sigs.limit(0)
    val capped = IncrementalDedup.incrementalMinhashPairs(sigs, empty,
      maxBandBucket = 10, cache = CacheHandle()).count()
    assert(capped == 0L)
    val uncapped = IncrementalDedup.incrementalMinhashPairs(sigs, empty,
      maxBandBucket = Int.MaxValue, cache = CacheHandle()).count()
    assert(uncapped == 780L)
  }

  test("mergeComponents equals full recompute on a random two-batch graph") {
    val rnd = new scala.util.Random(42)
    val all = (0 until 300).map { _ =>
      (rnd.nextInt(80).toLong, rnd.nextInt(80).toLong)
    }.filter { case (a, b) => a != b }
    val (batch1, batch2) = all.splitAt(all.size / 2)
    val p1 = batch1.toDF("idA", "idB")
    val p2 = batch2.toDF("idA", "idB")
    val standing = Dedup.connectedComponents(p1, cache = CacheHandle())
    val incremental = IncrementalDedup.mergeComponents(standing, p2,
      cache = CacheHandle())
      .as[(Long, Long)].collect().toSet
    val full = Dedup.connectedComponents(all.toDF("idA", "idB"),
      cache = CacheHandle())
      .as[(Long, Long)].collect().toSet
    assert(incremental === full)
  }

  test("mergeComponents fuses two standing components through one arrival") {
    val standing = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "comp")
    val batch = Seq((100L, 2L), (100L, 11L)).toDF("idA", "idB")
    val out = IncrementalDedup.mergeComponents(standing, batch, cache = CacheHandle())
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 10L -> 1L, 11L -> 1L, 100L -> 1L))
  }

  test("mergeComponents leaves untouched components alone") {
    val standing = Seq((1L, 1L), (2L, 1L), (10L, 10L), (11L, 10L))
      .toDF("id", "comp")
    val batch = Seq((200L, 201L)).toDF("idA", "idB")
    val out = IncrementalDedup.mergeComponents(standing, batch, cache = CacheHandle())
      .as[(Long, Long)].collect().toMap
    assert(out === Map(1L -> 1L, 2L -> 1L, 10L -> 10L, 11L -> 10L,
      200L -> 200L, 201L -> 200L))
  }

  test("incremental minhash never re-sketches the corpus") {
    // The index is (id, sig) — joining from it must not reference a text
    // column. Guard: the plan over a text-free index analyzes and runs.
    val idx = IncrementalDedup.minhashIndex(corpus, "text", "doc_id",
      md5Base = true).select("id", "sig") // simulate parquet round-trip shape
    val arrSigs = IncrementalDedup.minhashIndex(arrivals, "text", "doc_id",
      md5Base = true)
    val n = IncrementalDedup.incrementalMinhashPairs(arrSigs, idx,
      cache = CacheHandle()).count()
    assert(n >= 3L)
  }
}
