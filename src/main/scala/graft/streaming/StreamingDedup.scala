package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, KeyValueGroupedDataset,
  SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Streaming deduplication for a document stream — the incremental
  * counterpart of [[graft.operators.Dedup]] (beyond the batch-only
  * reference, SURVEY §2.11).
  *
  * Exact dedup composes the built-in
  * `dropDuplicatesWithinWatermark` over a content digest, so state is
  * watermark-bounded and Spark manages it (no custom operator where a
  * built-in expresses the semantics). Near-dup detection keys the
  * stream by MinHash LSH band buckets — the same banding as the batch
  * operator, via the native one-pass signature expression — and keeps
  * a bounded per-bucket signature set in `flatMapGroupsWithState`;
  * an arriving document is flagged when any stored bucket-mate's
  * signature agrees on ≥ `threshold` of the minima. Per-bucket caps
  * bound both state size and comparison cost, mirroring the batch
  * hot-bucket cap. [[nearDupFlagsEvictingTws]] additionally bounds the
  * bucket count by the watermark, expiring idle buckets on
  * `transformWithState` event-time timers.
  */
object StreamingDedup {

  /** Exact near-real-time dedup: first arrival of each digest within
    * the watermark survives. Input needs an event-time column `ts`. */
  def exactDedup(docs: DataFrame, textCol: String,
                 watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("_digest", md5(col(textCol)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("_digest")
      .drop("_digest")

  /** Streaming incremental exact dedup against a static digest index
    * ([[graft.operators.IncrementalDedup.exactIndex]] output): a
    * micro-batch arrival whose digest already stands in the corpus is
    * dropped by a stream-static anti-join (the static side is planned
    * per micro-batch, never held as stream state), and in-stream
    * duplicates by watermark-bounded digest state — the streaming
    * face of the batch `incrementalExactDedup`. */
  def incrementalExactDedup(docs: DataFrame, index: DataFrame,
                            textCol: String,
                            watermark: String = "10 minutes"): DataFrame =
    docs
      .withColumn("_digest", md5(col(textCol)))
      .withWatermark("ts", watermark)
      .dropDuplicatesWithinWatermark("_digest")
      .join(index.select(col("digest").as("_digest")), Seq("_digest"),
        "left_anti")
      .drop("_digest")

  case class BandedDocT(ts: java.sql.Timestamp, band: Int, bandHash: Long,
                        docId: String, sig: Seq[Long])
  /** The per-bucket state of both near-dup operators. FLAT: `sigsFlat`
    * holds the stored signatures row-major with a fixed stride
    * (`sigsFlat.length / docIds.length` minima per signature) instead
    * of a nested list, so a state read or write is a bulk
    * primitive-array copy rather than thousands of small objects per
    * bucket. `expireAtMs` is [[nearDupFlagsEvictingTws]]'s bucket
    * horizon and the timestamp of its one registered timer, so the data
    * branch can detect a lapsed bucket before the timer fires;
    * [[nearDupFlags]] never expires a bucket and stores `Long.MaxValue`. */
  case class EvictBucketState(docIds: Array[String], sigsFlat: Array[Long],
                              expireAtMs: Long)
  case class NearDupFlag(docId: String, band: Int, matchedDocId: String,
                         similarity: Double)

  /** Expand `docs` into LSH band-bucket rows carrying the full MinHash
    * signature, grouped by (band, bandHash) — the one banding of both
    * near-dup operators. With `eventTime` = (column, watermark delay)
    * the rows carry that column as a watermarked `ts`; without it `ts`
    * is null. */
  private def bandedBuckets(docs: DataFrame, textCol: String, idCol: String,
                            shingleSize: Int, numHashes: Int, bands: Int,
                            eventTime: Option[(String, String)])
    : KeyValueGroupedDataset[(Int, Long), BandedDocT] = {
    val spark = docs.sparkSession
    import spark.implicits._
    // project/cast FIRST, watermark AFTER: an alias or cast applied on
    // top of a watermarked column mints a new attribute without the
    // watermark tag, and the event-time check then fails
    val ts = eventTime.fold(lit(null))(e => col(e._1)).cast("timestamp")
    val projected = docs
      .select(ts.as("ts"), col(idCol).cast("string").as("docId"),
        graft.plans.SketchFunctions
          .minhashSignature(col(textCol), shingleSize, numHashes).as("sig"))
    eventTime.fold(projected)(e => projected.withWatermark("ts", e._2))
      .select(col("ts"), col("docId"), col("sig"),
        explode(graft.operators.Dedup.lshBandKeys(col("sig"), bands,
          numHashes / bands)).as("bk"))
      .select(col("ts"), col("bk.band").as("band"),
        col("bk.bandHash").as("bandHash"), col("docId"), col("sig"))
      .as[BandedDocT]
      .groupByKey(d => (d.band, d.bandHash))
  }

  /** The near-dup bucket kernel of both operators, over one bucket's
    * stored signatures (`prior`, or none). [[offer]]
    * compares an arrival with every stored bucket-mate of another id,
    * flags estimated Jaccard (the fraction of matching minima) ≥
    * `threshold`, then stores the arrival while the bucket holds fewer
    * than `maxBucket` signatures and not its id. Contract: one
    * signature length per feed, non-empty — the first stored signature
    * fixes the stride, a later one of another length is zero-padded or
    * trimmed to it, and an empty one is never stored. */
  private[streaming] final class BucketKernel(band: Int, threshold: Double,
      maxBucket: Int, prior: Option[EvictBucketState]) {
    var ids: Array[String] = prior.fold(Array.empty[String])(_.docIds)
    var flat: Array[Long] = prior.fold(Array.empty[Long])(_.sigsFlat)
    val flags = scala.collection.mutable.ArrayBuffer.empty[NearDupFlag]
    /** Whether any arrival was stored. */
    var stored = false

    def offer(docId: String, sig: Seq[Long]): Unit = {
      val n = ids.length
      val stride = if (n > 0) flat.length / n else sig.length
      val m = math.min(sig.length, stride)
      var i = 0
      while (i < n) {
        if (ids(i) != docId) {
          var matches = 0
          var j = 0
          while (j < m) {
            if (sig(j) == flat(i * stride + j)) matches += 1
            j += 1
          }
          val est = if (m == 0) 0.0 else matches.toDouble / m
          if (est >= threshold)
            flags += NearDupFlag(docId, band, ids(i), est)
        }
        i += 1
      }
      if (n < maxBucket && !ids.contains(docId) && stride > 0) {
        ids = ids :+ docId
        flat = flat ++ java.util.Arrays.copyOf(sig.toArray, stride)
        stored = true
      }
    }
  }

  /** Stateful near-dup flagging: one `flatMapGroupsWithState` entry per
    * live band bucket, holding at most `maxBucket` signatures; each
    * arriving doc is compared against its bucket-mates
    * ([[BucketKernel]]) and flagged when estimated Jaccard ≥
    * `threshold`. Buckets never expire, so state grows with the
    * distinct buckets of the corpus, each under the cap;
    * [[nearDupFlagsEvictingTws]] also bounds the bucket count. */
  def nearDupFlags(docs: DataFrame, textCol: String, idCol: String,
                   threshold: Double = 0.7, maxBucket: Int = 64,
                   shingleSize: Int = 3, numHashes: Int = 64,
                   bands: Int = 16): Dataset[NearDupFlag] = {
    val spark = docs.sparkSession
    import spark.implicits._
    bandedBuckets(docs, textCol, idCol, shingleSize, numHashes, bands, None)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.NoTimeout)(
        (key: (Int, Long), batch: Iterator[BandedDocT],
         state: GroupState[EvictBucketState]) => {
          val k = new BucketKernel(key._1, threshold, maxBucket, state.getOption)
          batch.foreach(d => k.offer(d.docId, d.sig))
          if (k.stored)
            state.update(EvictBucketState(k.ids, k.flat, Long.MaxValue))
          k.flags.iterator
        })
  }

  /** One bucket-batch of [[nearDupFlagsEvictingTws]]: lapse check
    * against the current watermark, the [[BucketKernel]] over the live
    * signatures, horizon that never regresses. `write` is false when
    * neither the signature rows nor the horizon changed. */
  private[streaming] case class EvictStep(next: EvictBucketState,
                                          write: Boolean,
                                          flags: Seq[NearDupFlag])
  private[streaming] def evictStep(
      prior: Option[EvictBucketState], wm: Long, band: Int,
      batch: Iterator[BandedDocT],
      threshold: Double, maxBucket: Int, evictAfterMs: Long): EvictStep = {
    // honour the horizon in the data branch: a lapsed bucket (stored
    // expiry behind the watermark) receiving data in the very
    // micro-batch its timer fires sees the rows before the timer, with
    // the stale state intact — drop the lapsed signatures BEFORE
    // comparing
    val lapsed = prior.exists(_.expireAtMs <= wm)
    val k = new BucketKernel(band, threshold, maxBucket,
      prior.filterNot(_ => lapsed))
    var maxTs = Long.MinValue
    batch.foreach { d =>
      if (d.ts != null && d.ts.getTime > maxTs) maxTs = d.ts.getTime
      k.offer(d.docId, d.sig)
    }
    val changed = k.stored || (lapsed && prior.exists(_.docIds.nonEmpty))
    // expire once the WATERMARK passes last-arrival + horizon; fall
    // back to watermark + horizon for all-null-ts batches, and never
    // REGRESS a live bucket's stored horizon (an out-of-order
    // straggler's ts would otherwise re-register an EARLIER expiry,
    // shrinking the documented last-arrival + horizon bound). The
    // horizon sits strictly beyond the current watermark (a late
    // straggler's ts can sit behind it), so no bucket is born lapsed.
    val base = if (maxTs != Long.MinValue) maxTs else wm
    val floor0 = if (lapsed) Long.MinValue
      else prior.map(_.expireAtMs).getOrElse(Long.MinValue)
    val expireAt =
      math.max(floor0, math.max(base + evictAfterMs, wm + 1))
    val write = prior.isEmpty || changed || expireAt != prior.get.expireAtMs
    EvictStep(EvictBucketState(k.ids, k.flat, expireAt), write, k.flags.toSeq)
  }

  /** The state store provider [[nearDupFlagsEvictingTws]] requires. */
  val RocksDbProviderClass: String =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  private def sessionOnRocksDb(spark: SparkSession): Boolean =
    spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      .exists(_.contains("RocksDB"))

  /** [[nearDupFlags]] with WATERMARK-BOUNDED bucket state, on the
    * arbitrary-state API (`transformWithState`): the same banding and
    * per-bucket signature cap, but each live bucket carries one
    * event-time timer at its horizon (last arrival + `evictAfterMs`),
    * and the bucket is removed once the watermark passes it. This
    * bounds the bucket COUNT by (arrival rate × watermark horizon)
    * instead of by distinct corpus content — the same state contract
    * as [[exactDedup]]'s digest state — at the documented semantic
    * trade: near-duplicates are not flagged against each other once
    * the watermark has passed the bucket's horizon. The horizon is
    * honoured in the DATA branch too: rows for a lapsed bucket that
    * land in the micro-batch its timer fires are compared only after
    * the lapsed signatures are dropped ([[evictStep]]), so
    * past-horizon flagging cannot depend on micro-batch boundaries.
    * (Arrivals between the horizon and horizon + watermark delay may
    * still compare — watermark granularity, the same slack every
    * watermark-bounded operator carries.)
    *
    * Timers are indexed by expiry in the state store, so expiry work
    * is O(expired buckets) per micro-batch, not O(live buckets).
    * Unlike a processing-time timeout, event-time expiry is driven by
    * the data's own watermark, so `processAllAvailable` settles and
    * eviction is deterministic and testable. State ([[EvictBucketState]])
    * and timer are re-written only when the signature rows or the
    * horizon change.
    *
    * Requires the RocksDB state store provider: construction fails
    * with an `IllegalArgumentException` naming
    * `spark.sql.streaming.stateStore.providerClass` unless the session
    * sets it to [[RocksDbProviderClass]]. Checkpoint continuity across
    * library upgrades is NOT a supported contract for this library's
    * stateful operators: a restart over a checkpoint written by an
    * older state schema is expected to FAIL Spark's state-schema
    * compatibility check (see CHANGELOG.md). */
  def nearDupFlagsEvictingTws(docs: DataFrame, textCol: String, idCol: String,
                              tsCol: String = "ts",
                              threshold: Double = 0.7, maxBucket: Int = 64,
                              shingleSize: Int = 3, numHashes: Int = 64,
                              bands: Int = 16,
                              watermark: String = "10 minutes",
                              evictAfterMs: Long = 10 * 60 * 1000L)
    : Dataset[NearDupFlag] = {
    val spark = docs.sparkSession
    require(sessionOnRocksDb(spark),
      "nearDupFlagsEvictingTws requires the RocksDB state store " +
        "provider — set spark.sql.streaming.stateStore.providerClass " +
        s"to $RocksDbProviderClass before starting the query (the " +
        "engine would otherwise fail at query start with a provider " +
        "error that doesn't name the fix).")
    import spark.implicits._
    bandedBuckets(docs, textCol, idCol, shingleSize, numHashes, bands,
        Some((tsCol, watermark)))
      .transformWithState(
        new NearDupEvictProcessor(threshold, maxBucket, evictAfterMs),
        org.apache.spark.sql.streaming.TimeMode.EventTime(),
        OutputMode.Append)
  }

  /** The [[nearDupFlagsEvictingTws]] stateful processor: one
    * ValueState per live band bucket plus one registered timer at the
    * bucket's horizon; a moved horizon deletes the old timer and
    * registers the new one, so exactly one timer per bucket is live
    * and expiry handling touches only expired buckets. */
  private class NearDupEvictProcessor(threshold: Double, maxBucket: Int,
                                      evictAfterMs: Long)
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      (Int, Long), BandedDocT, NearDupFlag] {
    @transient private var bucket:
      org.apache.spark.sql.streaming.ValueState[EvictBucketState] = _

    override def init(outputMode: OutputMode,
                      timeMode: org.apache.spark.sql.streaming.TimeMode): Unit =
      bucket = getHandle.getValueState[EvictBucketState]("bucket",
        org.apache.spark.sql.Encoders.product[EvictBucketState],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override def handleInputRows(key: (Int, Long),
        rows: Iterator[BandedDocT],
        timerValues: org.apache.spark.sql.streaming.TimerValues)
      : Iterator[NearDupFlag] = {
      val prior = if (bucket.exists) Some(bucket.get) else None
      val step = evictStep(prior, timerValues.getCurrentWatermarkInMs(),
        key._1, rows, threshold, maxBucket, evictAfterMs)
      if (step.write) {
        bucket.update(step.next)
        if (prior.forall(_.expireAtMs != step.next.expireAtMs)) {
          prior.foreach(p => getHandle.deleteTimer(p.expireAtMs))
          getHandle.registerTimer(step.next.expireAtMs)
        }
      }
      step.flags.iterator
    }

    override def handleExpiredTimer(key: (Int, Long),
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo)
      : Iterator[NearDupFlag] = {
      // defensive: only clear if the stored horizon really lapsed (a
      // stale timer could fire if a delete/register pair raced)
      if (bucket.exists &&
          bucket.get.expireAtMs <= expiredTimerInfo.getExpiryTimeInMs)
        bucket.clear()
      Iterator.empty
    }
  }
}
