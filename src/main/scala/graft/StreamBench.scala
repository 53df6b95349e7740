package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.streaming.Trigger

/** Streaming throughput benchmark: sustained rows/sec and state-store
  * growth for the stateful streaming surfaces, on a MemoryStream fed
  * with the ScaleUp-cloned document corpus (10× sf0.1 by default).
  * The streaming specs pin SEMANTICS on toy batches; this main
  * records the evidence they can't: how fast the micro-batch loop
  * drains at corpus scale and how large the state gets under a
  * bounded watermark / per-bucket cap.
  *
  * Workloads:
  *  1. `ingest_chain` — [[graft.streaming.StreamingIngest.ingest]]:
  *     annotate → quality gate → watermark dedup → benchmark
  *     decontamination (two stateful operators).
  *  2. `incremental_exact_dedup` —
  *     [[graft.streaming.StreamingDedup.incrementalExactDedup]]:
  *     watermark digest state + stream-static anti-join against a
  *     corpus digest index.
  *  3. `minhash_near_dup` —
  *     [[graft.streaming.StreamingDedup.nearDupFlags]]: LSH
  *     band-bucket keyed flatMapGroupsWithState over the native
  *     MinHash signatures; state = one entry per live bucket, each
  *     holding ≤ maxBucket stride-packed signatures. Buckets never
  *     expire.
  *  3b. `minhash_near_dup_evict_tws` —
  *     [[graft.streaming.StreamingDedup.nearDupFlagsEvictingTws]]:
  *     workload 3's banding, bucket kernel and state layout on
  *     transformWithState (RocksDB provider), with per-bucket
  *     event-time timers that evict buckets idle past the watermark
  *     horizon.
  *  4. `minhash_near_dup_hot` — workload 3 plus a degenerate hot
  *     bucket (2,000 near-identical arrivals that all land in the
  *     same 16 band buckets — the batch operator's hot-bucket spec
  *     scenario, streamed). The per-bucket cap must hold: state
  *     grows by ~16 bucket entries of ≤ maxBucket signatures, NOT by
  *     2,000 × 16 — compare state_mb_max against workload 3.
  *  5. `streaming_upsert` —
  *     [[graft.streaming.StreamingUpsert.maintain]]: CDC deltas
  *     (latest-wins updates + deletes on colliding keys) folded into
  *     a published generation per micro-batch; the run verifies the
  *     final published snapshot row-matches a one-shot batch
  *     [[graft.operators.Upsert.applyDelta]] replay of the same
  *     deltas ("snapshot_ok").
  *
  * Each run feeds `batches` equal chunks, draining the query after
  * every chunk (processAllAvailable ⇒ each chunk is ≥1 real
  * micro-batch through the full stateful pipeline). Event time
  * advances ~1 minute per chunk, so a 10-minute watermark keeps ~10
  * chunks of digest state live — the steady-state shape, neither
  * unbounded nor trivially empty. State metrics come from the
  * engine's own progress events (stateOperators.numRowsTotal /
  * memoryUsedBytes), maxed over the run.
  *
  * Prints one JSON line:
  * {"stream_bench":{workload:{rows_in,rows_out,sec,rows_per_sec,
  * state_rows_max,state_mb_max,batches,...}},"scale":N,"docs":M}
  * The line carries no machine-state `canary` field (earlier
  * STREAMBENCH_rNN artifacts do): a start-of-run probe could not tell
  * host noise from code cost, so comparisons need interleaved runs.
  */
object StreamBench {

  // (ts, doc_id, text) — a tuple, not a nested case class: the
  // ExpressionEncoder's codegen cannot call a private member class'
  // field accessors
  private type Arrival = (java.sql.Timestamp, Long, String)

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = args.lift(1).map(_.toInt).getOrElse(10)
    val batches = args.lift(2).map(_.toInt).getOrElse(25)
    val spark = GraftSession.getOrCreate()
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs0 = Tables.load(spark, sfDir, "documents")
      .select("doc_id", "text")
    // copy-isomorphic 10x clone: real dedup structure scales exactly
    // Nx (see ScaleUp.scaleDocuments), so the digest state sees
    // genuine duplicates, not N identical copies
    val corpus = ScaleUp.scaleDocuments(docs0, factor)
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val total = corpus.length
    val chunk = math.max(1, total / batches)
    System.err.println(s"[stream] corpus=$total docs, $batches chunks of ~$chunk")

    // event time advances one minute per chunk: with the 10-minute
    // watermark the engine provably EVICTS old digest state mid-run
    def arrivalsOf(rows: Array[(Long, String)], chunkIdx: Int): Seq[Arrival] =
      rows.toSeq.map { case (id, text) =>
        (new java.sql.Timestamp(1700000000000L + chunkIdx * 60000L),
          id, text)
      }

    // SPARK_GRAFT_STREAM_ONLY=name1,name2 runs a subset
    val onlyW = sys.env.get("SPARK_GRAFT_STREAM_ONLY")
      .map(_.split(",").map(_.trim).toSet)

    def run(name: String, feed: Array[(Long, String)],
            build: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
      : (String, Long, Long, Double, Long, Double) = {
      if (onlyW.exists(!_.contains(name)))
        return (name, 0L, 0L, -1.0, 0L, 0.0)
      val source = MemoryStream[Arrival]
      val out = build(source.toDF().toDF("ts", "doc_id", "text"))
      var rowsOut = 0L
      val query = out.writeStream
        .outputMode("append")
        .trigger(Trigger.ProcessingTime(0))
        .foreachBatch { (df: org.apache.spark.sql.DataFrame, _: Long) =>
          // exclude the end-of-stream flush sentinel from the tally
          rowsOut += df.filter(org.apache.spark.sql.functions
            .col("doc_id") >= 0).count()
        }
        .queryName(name)
        .start()
      var stateRowsMax = 0L
      var stateBytesMax = 0L
      val t0 = System.nanoTime()
      def drainAndSample(): Unit = {
        query.processAllAvailable()
        query.lastProgress match {
          case null => ()
          case p =>
            p.stateOperators.foreach { so =>
              stateRowsMax = math.max(stateRowsMax, so.numRowsTotal)
              stateBytesMax = math.max(stateBytesMax, so.memoryUsedBytes)
            }
        }
      }
      feed.grouped(chunk).zipWithIndex.foreach { case (rows, i) =>
        source.addData(arrivalsOf(rows, i))
        drainAndSample()
      }
      // end-of-stream flush: one sentinel arrival far past the
      // watermark closes every pending aggregation group, so rows_out
      // reflects the whole corpus (append-mode aggregations emit a
      // group only when the watermark passes it)
      source.addData(Seq((new java.sql.Timestamp(
        1700000000000L + (batches + 60) * 60000L), -1L, "flush sentinel")))
      drainAndSample()
      val sec = (System.nanoTime() - t0) / 1e9
      query.stop()
      System.err.println(f"[stream] $name%-24s in=${feed.length} out=$rowsOut " +
        f"${feed.length / sec}%.0f rows/s stateRows=$stateRowsMax " +
        f"stateMB=${stateBytesMax / 1e6}%.1f")
      (name, feed.length.toLong, rowsOut, sec, stateRowsMax, stateBytesMax / 1e6)
    }

    def entry(r: (String, Long, Long, Double, Long, Double),
              extra: String = ""): String = {
      val (n, ri, ro, s, sr, mb) = r
      // actual chunks fed — the hot-bucket feed is longer than the
      // corpus, so its micro-batch count exceeds the configured one
      val nb = (ri + chunk - 1) / chunk
      "\"" + n + "\":{\"rows_in\":" + ri + ",\"rows_out\":" + ro +
        f""","sec":$s%.2f,"rows_per_sec":${ri / s}%.0f""" +
        f""","state_rows_max":$sr,"state_mb_max":$mb%.1f,"batches":$nb""" +
        extra + "}"
    }

    // workload 1: full ingest chain (quality + dedup + decontamination)
    val benchmark = docs0.limit(50)
    val ingestCache = graft.core.CacheHandle()
    val r1 = try run("ingest_chain", corpus, in =>
      graft.streaming.StreamingIngest.ingest(in, benchmark,
        "text", "doc_id", minQuality = 0.0, maxBenchCoverage = 0.6,
        cache = ingestCache))
    finally ingestCache.release()

    // workload 2: incremental exact dedup against a static corpus index
    // (the original 1x corpus stands in the index; its clones arrive)
    val index = graft.operators.IncrementalDedup
      .exactIndex(docs0, "text", "doc_id")
    val r2 = run("incremental_exact_dedup", corpus, in =>
      graft.streaming.StreamingDedup.incrementalExactDedup(in, index, "text"))

    // workload 3: stateful MinHash band-bucket near-dup flagging; the
    // bounded-state claim under test is the per-bucket signature cap.
    // Output flags are renamed so the shared sentinel filter sees a
    // numeric doc_id.
    def nearDupBuild(in: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
      graft.streaming.StreamingDedup
        .nearDupFlags(in, "text", "doc_id", threshold = 0.7, maxBucket = 64)
        .toDF()
        .select(col("docId").cast("long").as("doc_id"),
          col("band"), col("matchedDocId"), col("similarity"))
    val r3 = run("minhash_near_dup", corpus, nearDupBuild)

    // workload 3b: the WATERMARK-BOUNDED variant on transformWithState
    // (RocksDB provider) — per-bucket event-time timers evict buckets
    // idle past the horizon, so the bucket COUNT is bounded by arrival
    // rate × watermark like the exact-dedup digest state (semantic
    // trade: near-dups arriving further apart than the horizon are not
    // flagged). state_rows_max must come in UNDER the non-evicting
    // run's live-bucket total.
    val r3b = {
      val prev = spark.conf
        .getOption("spark.sql.streaming.stateStore.providerClass")
      val prevChangelog = spark.conf.getOption(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
      spark.conf.set("spark.sql.streaming.stateStore.providerClass",
        graft.streaming.StreamingDedup.RocksDbProviderClass)
      // changelog checkpointing: commit the per-batch DELTA instead of
      // re-snapshotting the full RocksDB instance every micro-batch —
      // the per-batch fixed cost that dominates at bench-sized batches
      spark.conf.set(
        "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled",
        "true")
      try run("minhash_near_dup_evict_tws", corpus, in =>
        graft.streaming.StreamingDedup
          .nearDupFlagsEvictingTws(in, "text", "doc_id")
          .toDF()
          .select(col("docId").cast("long").as("doc_id"),
            col("band"), col("matchedDocId"), col("similarity")))
      finally {
        prev match {
          case Some(p) => spark.conf
            .set("spark.sql.streaming.stateStore.providerClass", p)
          case None => spark.conf
            .unset("spark.sql.streaming.stateStore.providerClass")
        }
        // restore the changelog knob to its PRIOR value (not a blind
        // unset — a session launched with the knob pinned must leave
        // r3b under the same config it entered with)
        prevChangelog match {
          case Some(p) => spark.conf.set(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled", p)
          case None => spark.conf.unset(
            "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled")
        }
      }
    }

    // workload 4: the degenerate hot bucket, streamed — 2,000 copies
    // of one document appended to the corpus, all landing in the same
    // 16 band buckets. The cap bounds BOTH state (≤ maxBucket stored
    // signatures per bucket) and per-arrival comparison cost; without
    // it the bucket state would hold 2,000 signatures and each
    // arrival would compare against all of them.
    val hotDoc = corpus.head._2
    val hot = corpus ++ Array.tabulate(2000)(i =>
      (1000000000L + i, hotDoc))
    val r4 = run("minhash_near_dup_hot", hot, nearDupBuild)

    // workload 5: CDC generation publish. Keys collide (doc_id mod
    // half the corpus) so latest-wins updates are real, and every
    // 23rd key arrives as a delete; the published snapshot must
    // row-match a one-shot batch applyDelta of the same deltas.
    val upsertRoot = s"target/streambench_upsert_${System.nanoTime()}"
    val keySpace = math.max(1L, total / 2L)
    def asDelta(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
      df.select((col("doc_id") % keySpace).as("k"), col("text"),
        (col("doc_id")).as("seq"),
        // Upsert.applyDelta's op contract is uppercase "D"/"U"
        org.apache.spark.sql.functions
          .when(col("doc_id") % keySpace % 23 === 0, "D").otherwise("U")
          .as("op"))
    val r5 = if (onlyW.exists(!_.contains("streaming_upsert")))
      (("streaming_upsert", 0L, 0L, -1.0, 0L, 0.0), "")
    else {
      val source = MemoryStream[Arrival]
      val delta = asDelta(source.toDF().toDF("ts", "doc_id", "text"))
      val query = graft.streaming.StreamingUpsert.maintain(
        delta, upsertRoot, keys = Seq("k"), seqCol = "seq",
        opCol = Some("op"),
        checkpoint = s"$upsertRoot/_checkpoint")
      val t0 = System.nanoTime()
      corpus.grouped(chunk).zipWithIndex.foreach { case (rows, i) =>
        source.addData(arrivalsOf(rows, i))
        query.processAllAvailable()
      }
      val sec = (System.nanoTime() - t0) / 1e9
      query.stop()
      val snapshot = graft.streaming.StreamingUpsert
        .readSnapshot(spark, upsertRoot)
      val snapRows = snapshot.count()
      val gen = graft.streaming.StreamingUpsert
        .currentGeneration(spark, upsertRoot).getOrElse(-1L)
      // one-shot batch replay of the same deltas = the oracle snapshot
      val batchDelta = asDelta(
        corpus.toSeq.toDF("doc_id", "text").select(
          lit(new java.sql.Timestamp(1700000000000L)).as("ts"),
          col("doc_id"), col("text")))
      val expected = graft.operators.Upsert.applyDelta(
        batchDelta.select("k", "text").filter(lit(false)),
        batchDelta, Seq("k"), "seq", Some("op"))
      val expRows = expected.count()
      // full-ROW equality both ways (keys AND payload): a wrong-winner
      // latest-wins regression must not slip through a key-only check
      val ok = snapRows == expRows &&
        snapshot.select("k", "text")
          .exceptAll(expected.select("k", "text")).isEmpty &&
        expected.select("k", "text")
          .exceptAll(snapshot.select("k", "text")).isEmpty
      val fs = new org.apache.hadoop.fs.Path(upsertRoot)
        .getFileSystem(spark.sessionState.newHadoopConf())
      val snapBytes = fs.getContentSummary(new org.apache.hadoop.fs.Path(
        s"$upsertRoot/${graft.streaming.StreamingUpsert
          .currentSnapshotDir(spark, upsertRoot).get}")).getLength
      System.err.println(f"[stream] streaming_upsert         in=$total " +
        f"snap=$snapRows (expected $expRows, ok=$ok) gen=$gen " +
        f"${total / sec}%.0f rows/s snapMB=${snapBytes / 1e6}%.1f")
      require(ok, "streaming_upsert: published snapshot != batch replay")
      (("streaming_upsert", total.toLong, snapRows, sec, snapRows,
        snapBytes / 1e6), s""","generation":$gen,"snapshot_ok":$ok""")
    }

    // skipped workloads (SPARK_GRAFT_STREAM_ONLY filter) report sec<0
    // and are left out of the artifact line
    val js = (Seq(r1, r2, r3, r3b, r4).filter(_._4 >= 0).map(entry(_)) ++
      (if (r5._1._4 >= 0) Seq(entry(r5._1, r5._2)) else Nil))
      .mkString("{", ",", "}")
    println(s"""{"stream_bench":$js,"scale":$factor,"docs":$total}""")
    spark.stop()
  }
}
