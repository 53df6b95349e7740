package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Incremental deduplication against a persisted corpus index — the
  * production shape at the 100 TB tier. A daily ingest job must not
  * re-scan (or re-sketch) the standing corpus to dedup a batch of new
  * arrivals; it joins the arrivals against a compact index built once
  * and merged forward after each batch.
  *
  * Two index families:
  *
  *  - '''exact''': `(digest, canonicalId)` — one 16-byte md5 plus a
  *    long per *distinct* document text. Arrivals are digested and
  *    anti-joined; the index grows by the surviving digests only.
  *  - '''minhash''': `(id, sig)` — the k-component MinHash signature
  *    per document. Band keys are NOT stored: they are slices of the
  *    signature (`Dedup.lshBandKeys` semantics), so the banded frame
  *    is re-derived from the index by array slicing at join time —
  *    array ops on 64 ints, no text retokenisation, no second pass
  *    over corpus bytes. The index is ~(8 + 4k) bytes/doc, ~0.03% of
  *    a 100 KB document — small enough to sit bucketed on `id` and be
  *    rewritten cheaply each batch.
  *
  * Scale posture: every join here keys on the digest / band bucket, so
  * candidate generation is the same banded equi-join as the full-corpus
  * operators ([[Dedup.minhashDupPairs]]) restricted to buckets an
  * arrival actually touches — corpus×corpus pairs are never formed.
  * Both incremental pair operators are semantics-pinned to their
  * full-corpus counterparts: the result equals the full run filtered
  * to pairs with at least one arrival side (assuming arrival ids are
  * disjoint from corpus ids), which is what the DuckDB oracles check.
  */
object IncrementalDedup {

  // ---------------------------------------------------------------- exact

  /** Build (or rebuild) the exact-dup index: one row per distinct
    * text, `canonicalId` = min id holding that digest. Hash-groupBy
    * with map-side combine; write it partitioned/bucketed by `digest`
    * so the batch anti-join below is a co-located shuffle join. */
  def exactIndex(corpus: DataFrame, textCol: String, idCol: String): DataFrame =
    corpus
      .select(md5(col(textCol)).as("digest"), col(idCol).cast("long").as("canonicalId"))
      .groupBy("digest")
      .agg(min("canonicalId").as("canonicalId"))

  /** Rows of `arrivals` that survive exact dedup against the index:
    * their digest is absent from the index AND they are the min-id
    * holder of that digest within the batch. One digest groupBy over
    * the (small) batch + one anti-join against the (large) index —
    * the corpus itself is never read. No broadcast hint on the index:
    * it scales with corpus cardinality; AQE may still broadcast it
    * when it is genuinely small.
    *
    * Equals `Dedup.exactDedup(corpus ∪ arrivals)` restricted to the
    * batch when arrival ids are minted after every corpus id (the
    * production invariant) — otherwise an arrival with a smaller id
    * than its corpus duplicate would win the full run but lose here,
    * since the corpus row is already canonical. */
  def incrementalExactDedup(arrivals: DataFrame, index: DataFrame,
                            textCol: String, idCol: String): DataFrame = {
    val keyed = arrivals.withColumn("__digest", md5(col(textCol)))
    val batchWinners = keyed
      .groupBy("__digest")
      .agg(min(col(idCol)).as(idCol))
    keyed
      .join(batchWinners, Seq("__digest", idCol), "left_semi")
      .join(index.select(col("digest").as("__digest")), Seq("__digest"), "left_anti")
      .drop("__digest")
  }

  /** Merge a processed batch into the exact index. Digests already
    * present keep their (older, smaller) canonicalId; new digests
    * enter with the batch's min id. Re-groupBy over index ∪ batch —
    * with both sides bucketed on digest this is a zero-exchange
    * aggregate at scale. */
  def mergedExactIndex(index: DataFrame, arrivals: DataFrame,
                       textCol: String, idCol: String): DataFrame =
    index
      .unionByName(exactIndex(arrivals, textCol, idCol))
      .groupBy("digest")
      .agg(min("canonicalId").as("canonicalId"))

  // -------------------------------------------------------------- minhash

  /** MinHash signature index over the corpus: `(id, sig)`, the only
    * state incremental near-dup needs. `md5Base = true` selects the
    * oracle-parity md5 base hash ([[Dedup.minhashDupPairsMd5]]);
    * production uses the xxhash64 sketch. */
  def minhashIndex(corpus: DataFrame, textCol: String, idCol: String,
                   shingleSize: Int = 3, numHashes: Int = 64,
                   md5Base: Boolean = false): DataFrame = {
    val sig =
      if (md5Base)
        graft.plans.SketchFunctions.md5MinhashSignature(col(textCol), shingleSize, numHashes)
      else
        graft.plans.SketchFunctions.minhashSignature(col(textCol), shingleSize, numHashes)
    corpus
      .repartition(col(idCol))
      .select(col(idCol).cast("long").as("id"), sig.as("sig"))
  }

  /** Merge a batch of new near-dup pairs into standing component
    * labels WITHOUT revisiting the historical pair graph — the
    * label-maintenance face of the daily-ingest shape: arrivals link
    * to each other and to corpus documents, and those links may fuse
    * existing clusters.
    *
    * The insight making this cheap: standing labels are already the
    * component-contraction of the old graph, so the merge only needs
    * connected components over the REPRESENTATIVE graph induced by
    * the batch (one node per touched component or fresh arrival —
    * batch-sized, not corpus-sized). The corpus-scale `labels` frame
    * is touched by exactly one broadcast-remap join; batch pairs whose
    * endpoints already share a component vanish before the tiny CC
    * runs. Labels stay canonical (comp = min reachable id) because
    * reps are their components' minima and the rep-graph CC takes
    * minima of minima.
    *
    * @param labels   standing `(id, comp)` frame
    *                 ([[graft.operators.Dedup.connectedComponents]]
    *                 output, comp = min id of the component)
    * @param newPairs batch edges `(aCol, bCol)`: arrival↔arrival or
    *                 arrival↔corpus
    * @return updated `(id, comp)` covering every standing id plus
    *         every batch endpoint — identical to a full recompute
    *         over (old ∪ new) pairs
    */
  def mergeComponents(labels: DataFrame, newPairs: DataFrame,
                      aCol: String = "idA", bCol: String = "idB",
                      cache: graft.core.CacheHandle): DataFrame = {
    val l = labels.select(col("id"), col("comp"))
    val ends = newPairs.select(col(aCol).as("id"))
      .unionByName(newPairs.select(col(bCol).as("id")))
      .distinct()
    // endpoint → current representative: its standing component, or
    // itself when the id is new to the graph
    val endReps = cache.persist(
      ends.join(l, Seq("id"), "left")
        .select(col("id"), coalesce(col("comp"), col("id")).as("rep")))
    val repEdges = newPairs
      .join(endReps.select(col("id").as(aCol), col("rep").as("repA")), aCol)
      .join(endReps.select(col("id").as(bCol), col("rep").as("repB")), bCol)
      .select(col("repA").as("idA"), col("repB").as("idB"))
    // tiny CC over touched reps only; persist — it feeds two joins and
    // its lineage contains the iterative contraction
    val remap = cache.persist(
      Dedup.connectedComponents(repEdges, cache = cache)
        .select(col("id").as("rep"), col("comp").as("newComp")))
    val updated = l
      .join(broadcast(remap), col("comp") === col("rep"), "left")
      .select(col("id"), coalesce(col("newComp"), col("comp")).as("comp"))
    val fresh = endReps
      .join(l.select("id"), Seq("id"), "left_anti")
      .join(broadcast(remap), Seq("rep"), "left")
      .select(col("id"), coalesce(col("newComp"), col("rep")).as("comp"))
    updated.unionByName(fresh)
  }

  /** Merge a batch's signatures into the index (arrival ids must be
    * new — enforced by the caller's id scheme). */
  def mergedMinhashIndex(index: DataFrame, arrivalSigs: DataFrame): DataFrame =
    index.unionByName(arrivalSigs)

  /** Near-dup pairs `(idA, idB, similarity)` between the arrival batch
    * and (corpus ∪ batch), computed from the signature index alone.
    * Result = the full-corpus pair set of the matching
    * `Dedup.minhashDupPairs*` operator restricted to pairs with at
    * least one arrival side; `idA < idB` canonicalisation as there.
    *
    * Physical shape: sketch ONLY the arrivals (the per-byte expensive
    * step), band-explode both sides by slicing, equi-join arrival
    * bands against all bands — the all-side explode is array slicing
    * over the index, and only buckets containing an arrival produce
    * join output. Corpus-corpus pairs are structurally impossible.
    *
    * Hot-bucket cap: as in [[Dedup.minhashDupPairs]], buckets (of the
    * combined frame) above `maxBandBucket` are dropped via a
    * groupBy-derived stop-set + broadcast anti-join, so a degenerate
    * boilerplate bucket cannot go quadratic. Default mirrors the full
    * operator; the md5 oracle query disables it (`Int.MaxValue`) to
    * keep oracle parity unconditional.
    */
  def incrementalMinhashPairs(arrivalSigs: DataFrame, index: DataFrame,
                              numHashes: Int = 64, bands: Int = 16,
                              threshold: Double = 0.5,
                              maxBandBucket: Int = 100000,
                              cache: graft.core.CacheHandle): DataFrame = {
    val rowsPerBand = numHashes / bands
    val arrivals = cache.persist(arrivalSigs)
    // `all` feeds explodeBands AND both candidate-pair signature
    // rejoins — without its own persist the index side's sketch
    // subtree recomputes three times. One row per id is load-bearing:
    // a re-arrival (id present in BOTH index and arrivals) would ride
    // the union twice and fan every candidate pair back out to
    // duplicate output rows in the signature rejoin, so index rows
    // whose id re-arrives are anti-joined away — the arrival's (newer)
    // signature wins.
    val all = cache.persist(
      index.join(arrivals.select("id"), Seq("id"), "left_anti")
        .unionByName(arrivals))

    // slim banded frames: (id, band, key) only — signatures rejoin for
    // just the candidate pairs (the same shuffle-byte cut as
    // [[Dedup.minhashDupPairs]]; the full-signature explode shipped
    // ~18x the key bytes through both join sides)
    def explodeBands(signed: DataFrame): DataFrame =
      signed
        .select(col("id"),
          explode(transform(sequence(lit(0), lit(bands - 1)), b =>
            struct(b.as("band"),
              slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
                .as("key")))).as("bk"))
        .select(col("id"), col("bk.band"), col("bk.key"))

    val allBanded0 = explodeBands(all)
    val allBanded =
      if (maxBandBucket == Int.MaxValue) allBanded0
      else {
        val hot = allBanded0
          .groupBy("band", "key").agg(count(lit(1)).as("_n"))
          .filter(col("_n") > maxBandBucket)
          .select("band", "key")
        allBanded0.join(broadcast(hot), Seq("band", "key"), "left_anti")
      }
    val arrivalBanded = explodeBands(arrivals)

    arrivalBanded.alias("a")
      .join(allBanded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") =!= col("b.id"))
      .select(
        least(col("a.id"), col("b.id")).as("idA"),
        greatest(col("a.id"), col("b.id")).as("idB"))
      .dropDuplicates("idA", "idB")
      .join(all.select(col("id").as("idA"), col("sig").as("sigA")), Seq("idA"))
      .join(all.select(col("id").as("idB"), col("sig").as("sigB")), Seq("idB"))
      .withColumn("similarity",
        Dedup.signatureSimilarity(col("sigA"), col("sigB")))
      .filter(col("similarity") >= threshold)
      .select("idA", "idB", "similarity")
  }
}
