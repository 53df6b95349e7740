package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** DSIR-style data selection (Xie et al. 2023, "Data Selection for
  * Language Models via Importance Resampling"): pick the raw-corpus
  * documents whose hashed-n-gram distribution looks most like a
  * target domain — the published selection verb that sits between
  * quality filtering and domain mixing in a training-data pipeline
  * (e.g. "select web text that reads like Wikipedia/books").
  *
  * Mechanics: unigram+bigram features hash into `buckets` slots; the
  * target sample and the raw corpus each induce a Laplace-smoothed
  * bucket distribution; a document's importance weight is
  * log w(d) = Σ_grams [ln p_target(b) − ln p_corpus(b)], and
  * selection is Gumbel-top-k over log w (the paper's sampling trick),
  * with the Gumbel noise derived DETERMINISTICALLY from md5 of
  * (seed, id) so the same inputs always select the same subset and a
  * SQL engine can replay the draw.
  *
  * Scale design: both bucket tables are ≤ `buckets` rows (bounded by
  * construction — collisions fold the tail, which is the point of
  * hashed DSIR), so the log-ratio model broadcasts; scoring is one
  * n-gram explode + broadcast join + per-doc hash groupBy whose
  * per-gram addends are 1e-9-integer-quantised nats, making the
  * per-doc SUM exact integer arithmetic — bit-identical across
  * partitionings and engines (float summation order can otherwise
  * flip near-tied ranks). The top-k cut is orderBy+limit —
  * TakeOrderedAndProject, per-partition heaps, never a global sort.
  */
object ImportanceSampling {

  /** Feature bucket of an n-gram: first 32 md5 bits mod `buckets`.
    * Engine-neutral (DuckDB: ('0x' || substring(md5(g),1,8))::BIGINT). */
  def bucketOf(ngram: Column, buckets: Int): Column =
    conv(substring(md5(ngram), 1, 8), 16, 10).cast("long") % buckets

  /** Lowercased whitespace unigrams + space-joined bigrams of a text
    * column, as one array (the hashed-DSIR feature set). */
  def ngrams(text: Column): Column = {
    val tk = TextAnalysis.tokens(text)
    concat(tk, TextAnalysis.bigrams(tk))
  }

  /** (id, bucket) exploded feature rows — the native one-pass bucket
    * expression ([[graft.plans.DsirBuckets]]): byte-identical to
    * `bucketOf(explode(ngrams(text)))` (spec-pinned), but the md5
    * runs on gram bytes without the hex → substring → conv string
    * round-trip and no bigram string array is materialised. */
  private def featureRows(docs: DataFrame, textCol: String, idCol: String,
                          buckets: Int): DataFrame =
    docs.select(col(idCol),
      explode(graft.plans.SketchFunctions.dsirBuckets(col(textCol), buckets))
        .as("bucket"))

  /** The per-bucket importance model: (bucket, logratio_nano) with
    * logratio_nano = round(1e9 · [ln p̂_target(b) − ln p̂_corpus(b)])
    * under add-`alpha` smoothing over `buckets` slots. At most
    * `buckets` rows (only buckets seen on either side appear; unseen
    * buckets would contribute the constant smoothed floor to both
    * sides and never meet a scoring gram anyway). */
  def dsirModel(corpus: DataFrame, target: DataFrame, textCol: String,
                idCol: String, buckets: Int = 1 << 14,
                alpha: Double = 1.0): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(alpha > 0.0, "alpha must be positive (unsmoothed zero " +
      "buckets would make log-ratios infinite)")
    // α·buckets must stay well under the TARGET's gram count: the
    // smoothing mass is spread over every bucket, so a small target
    // sample with alpha·B ≳ N_t flattens p̂_target toward uniform and
    // the ranking inverts (corpus-frequent junk scores above
    // target-matching text). Rule of thumb: alpha ≤ N_t / (10·B).
    def bucketCounts(df: DataFrame, as: String): DataFrame =
      featureRows(df, textCol, idCol, buckets)
        .groupBy("bucket").agg(count(lit(1)).as(as))
    modelFromCounts(bucketCounts(target, "_ct"),
      bucketCounts(corpus, "_cc"), buckets, alpha)
  }

  /** Model tail shared by [[dsirModel]] and [[dsirScores]]: smoothed
    * log-ratio per bucket from the two (bucket, count) frames; the
    * two scalar totals ride along as broadcast one-row frames. */
  private def modelFromCounts(t: DataFrame, c: DataFrame, buckets: Int,
                              alpha: Double): DataFrame = {
    val tot = t.agg(coalesce(sum("_ct"), lit(0L)).as("_nt"))
      .crossJoin(c.agg(coalesce(sum("_cc"), lit(0L)).as("_nc")))
    t.join(c, Seq("bucket"), "full_outer")
      .crossJoin(broadcast(tot))
      .select(col("bucket"),
        round((log((coalesce(col("_ct"), lit(0L)) + alpha) /
                   (col("_nt") + alpha * buckets)) -
               log((coalesce(col("_cc"), lit(0L)) + alpha) /
                   (col("_nc") + alpha * buckets))) * 1e9)
          .cast("long").as("logratio_nano"))
  }

  /** Per-document importance weights: (idCol, logw_nano, n_grams).
    * logw_nano is the exact integer sum of the model's quantised
    * per-gram log-ratios (logw in nats = logw_nano / 1e9); documents
    * with no grams (empty text) score 0.
    *
    * The corpus feature frame (one explode + one md5 per gram — the
    * dominant cost) is computed ONCE and registered on `cache`,
    * feeding both the model's corpus-side counts and the scoring
    * join; without the shared frame the corpus pays that pass twice.
    * AQE reaches the cache through several table-cache stages that
    * run at once (three in q_dsir_select); a partition is still
    * computed once, by the first task to take the block's write lock,
    * and the tasks that waited for it read it. Spark then logs `Block …
    * already exists on this machine; not re-adding it`, which is
    * harmless. Callers at extreme scale can pass a disabled handle to
    * trade the persist for recomputation. */
  def dsirScores(corpus: DataFrame, target: DataFrame, textCol: String,
                 idCol: String, buckets: Int = 1 << 14,
                 alpha: Double = 1.0,
                 cache: graft.core.CacheHandle): DataFrame = {
    require(buckets > 0, "buckets must be positive")
    require(alpha > 0.0, "alpha must be positive")
    val fc = cache.persist(featureRows(corpus, textCol, idCol, buckets))
    val model = modelFromCounts(
      featureRows(target, textCol, idCol, buckets)
        .groupBy("bucket").agg(count(lit(1)).as("_ct")),
      fc.groupBy("bucket").agg(count(lit(1)).as("_cc")),
      buckets, alpha)
    val summed = fc
      .join(broadcast(model), Seq("bucket"))
      .groupBy(idCol)
      .agg(sum("logratio_nano").as("logw_nano"),
        count(lit(1)).as("n_grams"))
    corpus.select(col(idCol))
      .join(summed, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("logw_nano"), lit(0L)).as("logw_nano"),
        coalesce(col("n_grams"), lit(0L)).as("n_grams"))
  }

  /** Select `k` corpus rows by Gumbel-top-k over the DSIR weight:
    * key = logw + Gumbel(seed, id), Gumbel = −ln(−ln u) with u the
    * deterministic md5-uniform of "seed:id" (shifted by 2⁻³³ off
    * exact 0 so the double log never sees it). Returns the full
    * corpus rows of the winners plus (logw_nano, gumbel_key). */
  def dsirSelect(corpus: DataFrame, target: DataFrame, textCol: String,
                 idCol: String, k: Int, buckets: Int = 1 << 14,
                 alpha: Double = 1.0, seed: Long = 42L,
                 cache: graft.core.CacheHandle): DataFrame = {
    require(k > 0, "k must be positive")
    val scores = dsirScores(corpus, target, textCol, idCol, buckets,
      alpha, cache)
    val u = (conv(substring(md5(concat_ws(":", lit(seed),
        col(idCol).cast("string"))), 1, 8), 16, 10)
      .cast("double") + 0.5) / 4294967296.0
    val keyed = scores.withColumn("gumbel_key",
      col("logw_nano") / 1e9 - log(-log(u)))
    val winners = keyed
      .orderBy(col("gumbel_key").desc, col(idCol))
      .limit(k)
      .select(col(idCol), col("logw_nano"), col("gumbel_key"))
    corpus.join(winners, Seq(idCol))
  }
}
