package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Benchmark decontamination for training corpora: find corpus
  * documents whose word n-grams cover a large fraction of some
  * benchmark (eval-set) document — the standard leakage check run
  * before training on web-scale text (n-gram overlap against the
  * eval suites, as popularised by the GPT-3 / FLAN / Llama reports).
  *
  * Shape, designed for the 100 TB corpus × small benchmark regime:
  *  - each side is reduced to DISTINCT word shingles in ONE pass per
  *    document ([[graft.plans.DistinctShingles]], no interpreted HOF);
  *  - the benchmark shingle index is orders of magnitude smaller than
  *    the corpus (eval suites are MBs), so the equi-join on the
  *    shingle hits it broadcast — the corpus is never shuffled;
  *  - only MATCHED (corpus, benchmark) pairs reach the aggregation,
  *    whose output is bounded by true contamination, not corpus size.
  */
object Decontamination {

  private def shingled(df: DataFrame, textCol: String, idCol: String,
                       idAs: String, shingleSize: Int) =
    df.select(col(idCol).as(idAs),
      explode(graft.plans.SketchFunctions
        .distinctShingles(col(textCol), shingleSize)).as("shingle"))

  /** Fold `bench`'s `shingle` column into a Bloom filter — ONE eager
    * job over the (MB-scale) benchmark side — and return a
    * `might_contain` predicate over any frame's `shingle` column. The
    * single implementation shared by the batch and streaming
    * decontamination paths, so the exact-equivalence argument (no
    * false negatives; the downstream exact join removes false
    * positives) cannot silently diverge between them. */
  private[graft] def bloomShinglePredicate(
      bench: DataFrame, expectedShingles: Long,
      numBits: Long): org.apache.spark.sql.Column = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal, XxHash64}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
    import org.apache.spark.sql.graft.Bridge
    import org.apache.spark.sql.types.BinaryType
    def xxh = new XxHash64(Seq(Bridge.expression(col("shingle"))))
    val bloomBytes = bench
      .select(Bridge.column(new BloomFilterAggregate(xxh,
        Literal(expectedShingles), Literal(numBits)).toAggregateExpression())
        .as("_bloom"))
      .head.getAs[Array[Byte]](0)
    Bridge.column(BloomFilterMightContain(
      Literal.create(bloomBytes, BinaryType), xxh))
  }

  /** (corpusId, benchId, overlap, benchShingles, coverage) for every
    * corpus document sharing ≥ `minOverlap` distinct `shingleSize`-gram
    * shingles with a benchmark document. `coverage` = overlap /
    * benchmark-doc shingle count — the fraction of the benchmark
    * document reproduced by the corpus document. */
  def contaminationPairs(corpus: DataFrame, benchmark: DataFrame,
                         textCol: String, idCol: String,
                         shingleSize: Int = 3,
                         minOverlap: Int = 1): DataFrame = {
    val bench = shingled(benchmark, textCol, idCol, "benchId", shingleSize)
    val benchSizes = bench.groupBy("benchId").agg(count(lit(1)).as("benchShingles"))
    shingled(corpus, textCol, idCol, "corpusId", shingleSize)
      .join(broadcast(bench), Seq("shingle"))
      .groupBy("corpusId", "benchId")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
      .join(broadcast(benchSizes), Seq("benchId"))
      .withColumn("coverage",
        col("overlap").cast("double") / col("benchShingles"))
      .select("corpusId", "benchId", "overlap", "benchShingles", "coverage")
  }

  /** [[contaminationPairs]] with a Bloom prefilter on the corpus
    * shingle stream: the benchmark's shingles are folded into a Bloom
    * filter (built once, eagerly — the benchmark side is MBs), inlined
    * as a BINARY literal, and every corpus shingle that cannot be in
    * the benchmark is dropped BEFORE the equi-join. Results are
    * IDENTICAL to [[contaminationPairs]] — a Bloom filter has no false
    * negatives, and false positives are removed by the exact join that
    * follows — but the join now sees only the (tiny) plausibly-matching
    * slice of the corpus. This is the 100 TB shape when even the
    * broadcast row index is a stretch: the filter ships `numBits/8`
    * bytes of sketch (1 MB default) to every task instead of the
    * benchmark's shingle ROWS, and the prefilter runs inside the
    * corpus-side scan stage at a few ns per shingle.
    *
    * `expectedShingles`/`numBits` size the filter (defaults: 1M items
    * in 8M bits ≈ 1 MB ≈ 0.3% false-positive rate); stay under
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems/maxNumBits`. */
  def contaminationPairsBloom(corpus: DataFrame, benchmark: DataFrame,
                              textCol: String, idCol: String,
                              shingleSize: Int = 3,
                              minOverlap: Int = 1,
                              expectedShingles: Long = 1000000L,
                              numBits: Long = 8388608L,
                              cache: graft.core.CacheHandle): DataFrame = {
    // persisted: the bloom build (eager), the size aggregate, and the
    // broadcast join all read the benchmark shingles — without the
    // persist the MB-scale benchmark is shingled three times
    val bench = cache.persist(
      shingled(benchmark, textCol, idCol, "benchId", shingleSize))
    val benchSizes = bench.groupBy("benchId").agg(count(lit(1)).as("benchShingles"))
    shingled(corpus, textCol, idCol, "corpusId", shingleSize)
      .filter(bloomShinglePredicate(bench, expectedShingles, numBits))
      .join(broadcast(bench), Seq("shingle"))
      .groupBy("corpusId", "benchId")
      .agg(count(lit(1)).as("overlap"))
      .filter(col("overlap") >= minOverlap)
      .join(broadcast(benchSizes), Seq("benchId"))
      .withColumn("coverage",
        col("overlap").cast("double") / col("benchShingles"))
      .select("corpusId", "benchId", "overlap", "benchShingles", "coverage")
  }

  /** Per-corpus-document contamination verdict: the worst (highest)
    * benchmark coverage and its benchmark id, flagged at `minCoverage`.
    * Ties resolve to the smallest benchId (deterministic).
    * `bloomPrefilter` routes through [[contaminationPairsBloom]]
    * (identical results, corpus-side prefilter). */
  def flagContaminated(corpus: DataFrame, benchmark: DataFrame,
                       textCol: String, idCol: String,
                       shingleSize: Int = 3,
                       minCoverage: Double = 0.8,
                       bloomPrefilter: Boolean = false,
                       cache: graft.core.CacheHandle): DataFrame = {
    val pairs =
      if (bloomPrefilter)
        contaminationPairsBloom(corpus, benchmark, textCol, idCol, shingleSize,
          cache = cache)
      else contaminationPairs(corpus, benchmark, textCol, idCol, shingleSize)
    val worst = pairs
      .groupBy("corpusId")
      // min over (−coverage, benchId): highest coverage, ties to the
      // smallest benchId — deterministic without a sort-window
      .agg(min_by(struct(col("coverage"), col("benchId")),
        struct(negate(col("coverage")), col("benchId"))).as("_w"))
      .select(col("corpusId"), col("_w.coverage").as("worstCoverage"),
        col("_w.benchId").as("worstBenchId"))
    corpus.join(worst, corpus(idCol) === worst("corpusId"), "left")
      .drop("corpusId")
      .withColumn("worstCoverage", coalesce(col("worstCoverage"), lit(0.0)))
      .withColumn("isContaminated", col("worstCoverage") >= minCoverage)
  }
}
