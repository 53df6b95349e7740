package graft.streaming

import graft.SparkSpec
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

class StreamingDedupSpec extends SparkSpec {
  import spark.implicits._
  import StreamingDedup._

  test("exact dedup keeps the first arrival of each digest") {
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = exactDedup(docs, "text")
      .writeStream.format("memory").queryName("exactdedup")
      .outputMode("append").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData(
        ("d1", "the quick brown fox", ts(0)),
        ("d2", "a different document", ts(1)),
        ("d3", "the quick brown fox", ts(2))) // duplicate of d1
      q.processAllAvailable()
      val kept = spark.table("exactdedup").select("doc_id").as[String]
        .collect().toSet
      assert(kept.contains("d2"))
      assert((kept - "d2").size == 1) // exactly one of d1/d3 survives
    } finally q.stop()
  }

  test("incremental exact dedup drops arrivals already in the static index") {
    implicit val sqlCtx = spark.sqlContext
    val index = graft.operators.IncrementalDedup.exactIndex(
      Seq((1L, "standing corpus document")).toDF("doc_id", "text"),
      "text", "doc_id")
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = incrementalExactDedup(docs, index, "text")
      .writeStream.format("memory").queryName("incrdedup")
      .outputMode("append").start()
    try {
      def ts(min: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData(
        ("d1", "standing corpus document", ts(0)), // already in corpus
        ("d2", "a fresh arrival", ts(1)),
        ("d3", "a fresh arrival", ts(2))) // in-stream dup of d2
      q.processAllAvailable()
      val kept = spark.table("incrdedup").select("doc_id").as[String]
        .collect().toSet
      assert(!kept.contains("d1"))
      assert(kept.size == 1 && (kept == Set("d2") || kept == Set("d3")))
    } finally q.stop()
  }

  private val providerConf = "spark.sql.streaming.stateStore.providerClass"

  /** Run `body` with the state store provider set (or unset, for the
    * default provider), restoring the session's prior value after. */
  private def withProvider[T](provider: Option[String])(body: => T): T = {
    val prior = spark.conf.getOption(providerConf)
    def put(v: Option[String]): Unit =
      v.fold(spark.conf.unset(providerConf))(spark.conf.set(providerConf, _))
    put(provider)
    try body finally put(prior)
  }

  test("transformWithState evicting near-dup: watermark expiry forgets idle buckets") {
    // event-time timers make eviction deterministic under
    // processAllAvailable: d2 (1 min after d1) flags against d1's
    // stored signature; d3 — the same text arriving 40 min later,
    // long past d1/d2's bucket horizon (10 min watermark + 10 min
    // evict) — must NOT flag: the bucket state was removed, not
    // merely idle. An unrelated doc keeps the watermark honest.
    implicit val sqlCtx = spark.sqlContext
    withProvider(Some(RocksDbProviderClass)) {
      val base = "the quick brown fox jumps over the lazy dog " * 5
      def ts(min: Int) = java.sql.Timestamp.valueOf(
        f"2024-01-01 ${10 + min / 60}%02d:${min % 60}%02d:00")
      val input = MemoryStream[(java.sql.Timestamp, String, String)]
      val q = nearDupFlagsEvictingTws(
        input.toDF().toDF("ts", "doc_id", "text"), "text", "doc_id")
        .writeStream.format("memory").queryName("neardupevicttws")
        .outputMode("append").start()
      try {
        input.addData((ts(0), "d1", base))
        q.processAllAvailable()
        input.addData((ts(1), "d2", base + "extra tail token"))
        q.processAllAvailable()
        // advance the watermark far past d1/d2's horizon (unrelated doc)
        input.addData((ts(35), "w1", "completely unrelated words here"))
        q.processAllAvailable()
        input.addData((ts(40), "d3", base))
        q.processAllAvailable()
        val flags = spark.table("neardupevicttws")
          .select("docId", "matchedDocId").as[(String, String)]
          .collect().toSet
        assert(flags.exists { case (a, b) => Set(a, b) == Set("d1", "d2") },
          s"d2 must flag against d1: $flags")
        assert(!flags.exists { case (a, b) => a == "d3" || b == "d3" },
          s"d3 arrived past the evict horizon and must not flag: $flags")
      } finally q.stop()
    }
  }

  test("transformWithState evicting near-dup requires the RocksDB provider at construction") {
    // on the default provider the operator fails AT CONSTRUCTION with a
    // message naming the conf to set (the engine would otherwise fail
    // at query start with an error that doesn't name the fix)
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[(String, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    withProvider(None) {
      val e = intercept[IllegalArgumentException](
        nearDupFlagsEvictingTws(docs, "text", "doc_id"))
      assert(e.getMessage.contains(providerConf))
      assert(e.getMessage.contains("RocksDB"))
    }
    withProvider(Some(RocksDbProviderClass)) {
      assert(nearDupFlagsEvictingTws(docs, "text", "doc_id")
        .queryExecution.logical.toString().contains("TransformWithState"))
    }
  }

  private def doc(id: String, tsMs: Long, sig: Seq[Long]) =
    BandedDocT(new java.sql.Timestamp(tsMs), 0, 42L, id, sig)

  test("evicting kernel drops lapsed signatures when data and timeout collide") {
    // Rows for a lapsed bucket can arrive in the same micro-batch its
    // timer fires (in real streaming, data racing the
    // watermark-advancing batch), and are handled with the stale state
    // intact. The kernel's data-branch watermark check must drop the
    // lapsed signatures BEFORE comparing — past-horizon flagging must
    // not depend on micro-batch boundaries. processAllAvailable cannot
    // reproduce this (the watermark-advancing batch always fires the
    // timer first), so the kernel is driven directly.
    val sig = Seq.tabulate(8)(_.toLong)
    val evictAfterMs = 10 * 60 * 1000L
    val storedExpire = 1000000L + evictAfterMs // d1's horizon
    val stored = Some(EvictBucketState(Array("d1"), sig.toArray, storedExpire))
    // watermark has passed the stored expiry: the bucket is lapsed
    val wm = storedExpire + 1
    val step = evictStep(stored, wm, 0, Iterator(doc("d3", wm + 1000L, sig)),
      threshold = 0.7, maxBucket = 64, evictAfterMs = evictAfterMs)
    assert(step.flags.isEmpty,
      s"past-horizon arrival flagged against lapsed signatures: ${step.flags}")
    assert(step.write, "lapsed signatures must be replaced in state")
    assert(step.next.docIds.toList == List("d3"),
      s"lapsed signatures must be replaced, got ${step.next.docIds.toList}")
    assert(step.next.expireAtMs > wm, "new expiry must sit beyond the watermark")
    // control: same arrival while the bucket is still within horizon
    val live = evictStep(stored, storedExpire - 1, 0,
      Iterator(doc("d3", storedExpire, sig)),
      threshold = 0.7, maxBucket = 64, evictAfterMs = evictAfterMs)
    assert(live.flags.exists(f => f.docId == "d3" && f.matchedDocId == "d1"),
      s"in-horizon arrival must flag: ${live.flags}")
  }

  test("evicting kernel skips state writes when nothing advances") {
    // a capped hot bucket receiving an arrival at the SAME event time
    // as its stored horizon base must not rewrite state: no new
    // signature stored (cap), no horizon advance (same last-arrival)
    // — the write-skip fires exactly when neither component moved
    val sig = Seq.tabulate(8)(_.toLong)
    val otherSig = Seq.tabulate(8)(i => 100L + i) // below threshold
    val evictAfterMs = 10 * 60 * 1000L
    val baseTs = 1000000L
    // stored expiry = what the kernel computes for an arrival at
    // baseTs + 1 (last-arrival + horizon); re-delivering at the same
    // event time must then change nothing
    val storedExpire = baseTs + 1 + evictAfterMs
    // bucket at cap 1, holding d1; d2 arrives at the same horizon
    // with a non-matching signature → no flag, no store (cap), no
    // horizon advance → state must stay untouched
    val step = evictStep(
      Some(EvictBucketState(Array("d1"), sig.toArray, storedExpire)),
      baseTs - 1, 0, Iterator(doc("d2", baseTs + 1, otherSig)),
      threshold = 0.7, maxBucket = 1, evictAfterMs = evictAfterMs)
    assert(step.flags.isEmpty)
    assert(!step.write,
      "state rewritten although neither signatures nor horizon advanced")
  }

  test("evicting kernel never shrinks a live bucket's stored horizon") {
    // an out-of-order straggler (old event time) must not re-register
    // an EARLIER expiry: the bucket's bound is last arrival + horizon,
    // and regressing it would evict signatures before their documented
    // lifetime (and could drop flags the capped variant emits)
    val sig = Seq.tabulate(8)(_.toLong)
    val otherSig = Seq.tabulate(8)(i => 100L + i)
    val evictAfterMs = 10 * 60 * 1000L
    val freshTs = 10000000L
    val storedExpire = freshTs + evictAfterMs
    // straggler: event time far BEHIND the fresh arrival that set the
    // stored horizon (its own base + evict would be much earlier)
    val step = evictStep(
      Some(EvictBucketState(Array("d1"), sig.toArray, storedExpire)),
      freshTs - 1, 0, Iterator(doc("d2", freshTs - 5 * 60 * 1000L, otherSig)),
      threshold = 0.7, maxBucket = 64, evictAfterMs = evictAfterMs)
    assert(step.next.expireAtMs >= storedExpire,
      s"straggler shrank the horizon: ${step.next.expireAtMs} < $storedExpire")
  }

  test("the bucket kernel matches a brute-force pairwise reference on random feeds") {
    // both near-dup operators run BucketKernel. The reference, pairwise
    // over the feed: arrival j is stored iff it is the first arrival of
    // its id and that id is among the first maxBucket distinct ids;
    // arrival i flags every earlier stored arrival j of another id
    // whose minima agree on ≥ threshold of the positions. Random feeds
    // (duplicate ids, varying bucket pressure, thresholds) must give
    // the same flag multiset and the same stored membership.
    val rnd = new scala.util.Random(11)
    for (trial <- 1 to 50) {
      val sigLen = 4 + rnd.nextInt(5)
      val maxBucket = 1 + rnd.nextInt(4)
      val threshold = 0.4 + rnd.nextDouble() * 0.5
      val nDocs = 1 + rnd.nextInt(10)
      val docs = (0 until nDocs).map { _ =>
        val id = "d" + rnd.nextInt(6) // collisions on purpose
        val sig = Seq.tabulate(sigLen)(j =>
          (rnd.nextInt(3) + j * 10).toLong) // overlapping minima
        (id, sig)
      }
      val firstIds = docs.map(_._1).distinct
      val stored = docs.indices.map(j =>
        docs.indexWhere(_._1 == docs(j)._1) == j &&
          firstIds.indexOf(docs(j)._1) < maxBucket)
      val want = for {
        i <- docs.indices
        j <- 0 until i
        if stored(j) && docs(j)._1 != docs(i)._1
        sim = docs(i)._2.zip(docs(j)._2).count { case (a, b) => a == b }
          .toDouble / sigLen
        if sim >= threshold
      } yield (docs(i)._1, docs(j)._1, sim)

      val k = new BucketKernel(0, threshold, maxBucket, None)
      docs.foreach { case (id, sig) => k.offer(id, sig) }
      def canon(fs: Iterable[(String, String, Double)]) =
        fs.map { case (a, b, sim) => (a, b, math.round(sim * 1e9)) }.toSeq.sorted
      assert(canon(k.flags.map(f => (f.docId, f.matchedDocId, f.similarity))) ==
        canon(want), s"trial $trial: flags diverged\nkernel=${k.flags}\nwant=$want")
      assert(k.ids.toSet == docs.indices.filter(stored).map(docs(_)._1).toSet,
        s"trial $trial: stored membership diverged")
      assert(k.flat.length == k.ids.length * sigLen)
    }
  }

  test("near-dup flags fire for bucket-mates above the signature threshold") {
    implicit val sqlCtx = spark.sqlContext
    val base = "the quick brown fox jumps over the lazy dog " * 5
    val input = MemoryStream[(String, String)]
    val q = nearDupFlags(input.toDF().toDF("doc_id", "text"), "text", "doc_id",
      threshold = 0.7)
      .writeStream.format("memory").queryName("neardup")
      .outputMode("append").start()
    try {
      input.addData(("d1", base), ("dX", "completely unrelated words here"))
      q.processAllAvailable()
      // near-identical doc arrives later
      input.addData(("d2", base + "extra tail token"))
      q.processAllAvailable()
      val flags = spark.table("neardup")
        .select("docId", "matchedDocId").as[(String, String)]
        .collect().toSet
      assert(flags.exists { case (a, b) =>
        Set(a, b) == Set("d1", "d2") })
      assert(!flags.exists { case (a, b) => a == "dX" || b == "dX" })
    } finally q.stop()
  }
}
