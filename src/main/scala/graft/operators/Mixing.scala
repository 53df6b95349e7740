package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Domain mixing for training corpora: downsample each source to hit
  * a target token mix (the "data recipe" step of large-model training
  * — N% web, M% code, K% books — applied as per-source acceptance
  * sampling against a total token budget).
  *
  * Scale design: ONE aggregation computes per-source token
  * availability (map-side combined, output rows = #sources, i.e.
  * tiny); acceptance fractions derive from it and broadcast-join back
  * onto the corpus, which is filtered in place — the corpus itself is
  * never shuffled. Acceptance is a DETERMINISTIC per-document uniform
  * (md5 of the id), so the same inputs always select the same subset
  * (resumable across reruns, replayable by a SQL engine) and the
  * sample needs no global sort or per-partition state.
  */
object Mixing {

  /** Deterministic uniform in [0, 1): the first 32 md5 bits of the
    * id rendered as a fraction. Engine-neutral (md5 of the decimal
    * string), unlike xxhash64. */
  def uniform01(id: Column): Column =
    conv(substring(md5(id.cast("string")), 1, 8), 16, 10)
      .cast("double") / 4294967296.0

  /** Sample `docs` so each source contributes ≈ `weights(source) ×
    * totalTokenBudget` tokens. A source with fewer tokens than its
    * target keeps everything (fraction capped at 1 — the budget is
    * best-effort, as in production mixes where a scarce domain is
    * simply exhausted); a source absent from `weights` is dropped.
    * Output = the surviving corpus rows plus the acceptance metadata
    * (`_frac` removed; survivors keep their full row). */
  def sampleToMix(docs: DataFrame, idCol: String, sourceCol: String,
                  tokenCol: String, weights: Map[String, Double],
                  totalTokenBudget: Long): DataFrame = {
    val target = element_at(typedlit(weights), col(sourceCol))
    val fractions = docs
      .groupBy(sourceCol)
      .agg(sum(col(tokenCol)).as("_avail"))
      .withColumn("_frac",
        least(lit(1.0),
          coalesce(target, lit(0.0)) * totalTokenBudget / col("_avail")))
      .select(col(sourceCol), col("_frac"))
    docs
      .join(broadcast(fractions), Seq(sourceCol))
      .filter(uniform01(col(idCol)) < col("_frac"))
      .drop("_frac")
  }

  /** [[sampleToMix]] with UPSAMPLING: a source whose availability
    * falls short of its target is repeated — `floor(target/avail)`
    * full epochs plus a deterministically-thinned partial epoch —
    * instead of merely exhausted (the "books ×3 epochs" recipe used
    * when a high-value domain is scarce). Output rows carry `copy`
    * (1-based epoch index of the repeat); repeats are capped at
    * `maxRepeat` full epochs to stop a mis-set weight from exploding
    * a tiny source.
    *
    * Determinism: the partial-epoch draw is the md5-uniform of
    * "id:rep" (a salt distinct from every other sampler), so the same
    * inputs always emit the same copies. Scale: the per-source
    * availability aggregate is tiny and broadcasts back; the corpus
    * explodes by its own repeat factor (bounded by maxRepeat) with no
    * extra shuffle. */
  def sampleToMixWithRepeats(docs: DataFrame, idCol: String,
                             sourceCol: String, tokenCol: String,
                             weights: Map[String, Double],
                             totalTokenBudget: Long,
                             maxRepeat: Int = 10): DataFrame = {
    require(maxRepeat >= 1, "maxRepeat must be at least 1")
    val target = element_at(typedlit(weights), col(sourceCol))
    val plan = docs
      .groupBy(sourceCol)
      .agg(sum(col(tokenCol)).as("_avail"))
      // zero/null availability divides to null, and least() IGNORES
      // nulls — an unguarded ratio would silently become maxRepeat
      // full epochs for a tokenless (or weight-absent) source
      .withColumn("_ratio",
        when(col("_avail") > 0,
          coalesce(target, lit(0.0)) * totalTokenBudget / col("_avail"))
          .otherwise(lit(0.0)))
      .withColumn("_full",
        least(floor(col("_ratio")), lit(maxRepeat.toDouble)).cast("int"))
      .withColumn("_frac",
        when(col("_full") >= maxRepeat, lit(0.0))
          .otherwise(col("_ratio") - col("_full")))
      .select(col(sourceCol), col("_full"), col("_frac"))
    docs
      .join(broadcast(plan), Seq(sourceCol))
      .withColumn("_copies",
        col("_full") +
          when(uniform01(concat(col(idCol).cast("string"), lit(":rep")))
            < col("_frac"), 1).otherwise(0))
      .filter(col("_copies") > 0)
      .select(docs.columns.map(col) :+
        posexplode(sequence(lit(1), col("_copies"))).as(Seq("_p", "copy")): _*)
      .drop("_p")
  }

  /** Temperature-flattened domain mix — the multilingual-sampling
    * q_d ∝ p_d^α rule (mT5 / XLM-R): each source's token share p_d is
    * raised to `alpha` ∈ (0, 1] and renormalised (α = 1 keeps the
    * natural mix, α → 0 approaches uniform across sources), then the
    * corpus is thinned deterministically toward q_d × totalTokenBudget
    * tokens per source, capped at availability like [[sampleToMix]].
    *
    * The flattened shares are quantised to 1e-12 integers before the
    * partition function Z is summed, so Z is an EXACT integer sum —
    * bit-identical regardless of aggregation order, engine, or
    * partitioning. A float Z would make every acceptance fraction
    * carry the summation-order ulp noise of the run that computed it.
    *
    * Scale: token totals are one map-side-combined groupBy on the
    * source key; everything after is arithmetic on the per-source
    * frame (broadcast back), so the corpus pays one filter pass. */
  def temperatureMix(docs: DataFrame, idCol: String, sourceCol: String,
                     tokenCol: String, alpha: Double,
                     totalTokenBudget: Long): DataFrame = {
    require(alpha > 0.0 && alpha <= 1.0, "alpha must be in (0, 1]")
    require(totalTokenBudget > 0, "totalTokenBudget must be positive")
    val avail = docs.groupBy(sourceCol).agg(sum(col(tokenCol)).as("_avail"))
    val tot = avail.agg(sum("_avail").as("_tot"))
    val shared = avail.crossJoin(broadcast(tot))
      .withColumn("_shareq",
        floor(pow(col("_avail") / col("_tot"), alpha) * 1e12 + 0.500000001)
          .cast("long"))
    val z = shared.agg(sum("_shareq").as("_z"))
    val fractions = shared.crossJoin(broadcast(z))
      .withColumn("_frac",
        least(lit(1.0),
          col("_shareq") / col("_z") * totalTokenBudget / col("_avail")))
      .select(col(sourceCol), col("_frac"))
    docs
      .join(broadcast(fractions), Seq(sourceCol))
      .filter(uniform01(col(idCol)) < col("_frac"))
      .drop("_frac")
  }

  /** Curriculum bins: assign each row a quantile bin 1..nBins of
    * `scoreCol` (ntile over a total order — ties broken by id so the
    * cut is deterministic), optionally within each `byCol` partition.
    * The curriculum-training shape: bin 1 = lowest-scoring nBins-th,
    * schedulable from easy/clean to hard/noisy.
    *
    * One shuffle (the ntile sort); at 100 TB prefer per-domain bins
    * (`byCol`) so each sort partition is a domain, not the corpus. */
  def curriculumBins(docs: DataFrame, scoreCol: String, idCol: String,
                     nBins: Int, byCol: Option[String] = None): DataFrame = {
    require(nBins > 0, "nBins must be positive")
    val w = byCol match {
      case Some(c) => org.apache.spark.sql.expressions.Window
        .partitionBy(col(c)).orderBy(col(scoreCol), col(idCol))
      case None => org.apache.spark.sql.expressions.Window
        .orderBy(col(scoreCol), col(idCol))
    }
    docs.withColumn("bin", ntile(nBins).over(w))
  }

  /** Exact-count stratified sample: keep exactly `min(n, |stratum|)`
    * rows per stratum, chosen by the deterministic md5 draw (so the
    * selection is stable across reruns and replayable in SQL — the
    * eval-set-construction shape, where "5k docs per domain" must
    * mean exactly 5k). One shuffle: a per-stratum rank over the md5
    * order; ties on the draw break by id so the cut is total. */
  def stratifiedTake(docs: DataFrame, strataCol: String, idCol: String,
                     n: Int): DataFrame = {
    require(n > 0, "stratifiedTake needs n > 0")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col(strataCol))
      .orderBy(uniform01(col(idCol)), col(idCol))
    docs.withColumn("__rk", row_number().over(w))
      .filter(col("__rk") <= n)
      .drop("__rk")
  }

  /** [[stratifiedTake]]'s 100 TB shape: the same deterministic cut
    * computed with the bounded top-k aggregate instead of a window —
    * the corpus is NEVER shuffled. The groupBy ships at most n heap
    * entries per (partition, stratum) (map-side combined), the picked
    * (stratum, id) set — strata × n rows — broadcasts back, and the
    * corpus is left-semi filtered in place. Requires a numeric id;
    * results are row-for-row identical to [[stratifiedTake]]. */
  def stratifiedTakeAgg(docs: DataFrame, strataCol: String, idCol: String,
                        n: Int): DataFrame = {
    require(n > 0, "stratifiedTakeAgg needs n > 0")
    val picked = docs
      .groupBy(col(strataCol))
      .agg(graft.plans.TopK.topkIds(
        uniform01(col(idCol)), col(idCol), n).as("__ids"))
      .select(col(strataCol).as("__strata"), explode(col("__ids")).as("__pick"))
    docs.join(broadcast(picked),
      col(idCol) === col("__pick") && col(strataCol) === col("__strata"),
      "left_semi")
  }

  /** Deterministic train/val/test assignment: each row's split is a
    * pure function of its id (salted md5-uniform, so the assignment is
    * independent of [[sampleToMix]]'s acceptance draw on the same
    * ids), replayable by any SQL engine and stable across reruns,
    * repartitioning, and corpus growth — a doc keeps its split when
    * new docs arrive, which leakage audits rely on. No shuffle: one
    * projected column. */
  def assignSplit(docs: DataFrame, idCol: String,
                  valFrac: Double = 0.05, testFrac: Double = 0.05,
                  salt: String = "split"): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac <= 1)
    val u = uniform01(concat(col(idCol).cast("string"), lit(":" + salt)))
    docs.withColumn("split",
      when(u < valFrac, "val")
        .when(u < valFrac + testFrac, "test")
        .otherwise("train"))
  }

  /** [[assignSplit]] made LEAKAGE-SAFE against near-duplicates: the
    * uniform draw hashes the document's dedup-cluster representative
    * (its connected-component minimum over `pairs`) instead of its own
    * id, so every member of a near-dup cluster lands in the SAME
    * split — an id-hashed split would scatter a cluster across
    * train/test and leak test content into training (the classic
    * contamination-by-duplication failure). Unpaired docs hash their
    * own id, so on a dup-free corpus this IS [[assignSplit]].
    *
    * Scale: component labels are duplication-rate-sized; the corpus
    * pays one left join (AQE broadcasts small label sets) and the
    * split itself stays a map-side expression. */
  def assignSplitLeakageSafe(docs: DataFrame, idCol: String,
                             pairs: DataFrame, aCol: String = "idA",
                             bCol: String = "idB",
                             valFrac: Double = 0.05,
                             testFrac: Double = 0.05,
                             salt: String = "split",
                             cache: graft.core.CacheHandle): DataFrame = {
    require(valFrac >= 0 && testFrac >= 0 && valFrac + testFrac <= 1)
    val labels = graft.operators.Dedup
      .connectedComponents(pairs, aCol, bCol, cache = cache)
      .select(col("id").as(idCol), col("comp"))
    val u = uniform01(concat(
      coalesce(col("comp"), col(idCol)).cast("string"), lit(":" + salt)))
    docs.join(labels, Seq(idCol), "left")
      .withColumn("split",
        when(u < valFrac, "val")
          .when(u < valFrac + testFrac, "test")
          .otherwise("train"))
      .drop("comp")
  }

  /** Per-domain quantile normalisation of a score column: each row
    * gains `outCol` = its score's percent-rank WITHIN its domain
    * (0 = domain worst, 1 = domain best; ties share a rank; a
    * single-row domain scores 0). Quality scores are only comparable
    * inside one domain — "keep the top 30%" needs the 30% cut drawn
    * per domain or the cleanest domain eats the whole budget; this
    * makes one global threshold mean the same thing everywhere.
    *
    * Scale: the window runs over the (domain, score)-DISTINCT
    * aggregate, not the corpus — a corpus with quantised scores
    * (token counts, rule totals) reduces to thousands of rows per
    * domain before any sort; the corpus itself pays one equi-join
    * back. Exactly SQL `percent_rank()` semantics (strictly-below
    * count over n−1), so an engine can replay it verbatim. */
  def quantileNormalize(docs: DataFrame, scoreCol: String,
                        domainCol: String,
                        outCol: String = "score_pctl"): DataFrame = {
    // null score/domain rows cannot rank (and an equi-join back would
    // silently DROP them, shrinking the corpus) — they pass through
    // with a null percentile instead
    val rankable = docs.filter(
      col(scoreCol).isNotNull && col(domainCol).isNotNull)
    val unrankable = docs
      .filter(col(scoreCol).isNull || col(domainCol).isNull)
      .withColumn(outCol, lit(null).cast("double"))
    val sc = rankable.groupBy(domainCol, scoreCol)
      .agg(count(lit(1)).as("_c"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(domainCol).orderBy(scoreCol)
    val ranked = sc
      .withColumn("_below", sum("_c").over(w) - col("_c"))
    // per-domain totals come from the distinct frame, not a second
    // corpus-wide aggregation
    val tot = sc.groupBy(domainCol).agg(sum("_c").as("_n"))
    rankable.join(ranked, Seq(domainCol, scoreCol))
      .join(broadcast(tot), Seq(domainCol))
      .withColumn(outCol,
        when(col("_n") > 1,
          col("_below").cast("double") / (col("_n") - 1))
          .otherwise(lit(0.0)))
      .drop("_c", "_below", "_n")
      .unionByName(unrankable)
  }

  /** Achieved-vs-target report for a sampled mix: per source, the
    * token share realised by `sampled` against `weights`. */
  def mixReport(sampled: DataFrame, sourceCol: String, tokenCol: String,
                weights: Map[String, Double]): DataFrame = {
    val perSource = sampled.groupBy(sourceCol)
      .agg(sum(col(tokenCol)).as("tokens"))
    val total = sampled.agg(sum(col(tokenCol)).as("_total"))
    perSource
      .crossJoin(broadcast(total))
      .withColumn("achievedShare", col("tokens") / col("_total"))
      .withColumn("targetShare",
        coalesce(element_at(typedlit(weights), col(sourceCol)), lit(0.0)))
      .drop("_total")
  }
}
