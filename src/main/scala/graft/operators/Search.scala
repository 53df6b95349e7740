package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.plans.TopK

/** Keyword retrieval over a document corpus: Okapi BM25 scoring with
  * bounded top-k per query — the sparse (lexical) counterpart of the
  * dense ANN family in [[Similarity]], and the retrieval verb a
  * training-data pipeline needs for benchmark mining, hard-negative
  * sourcing, and corpus QA ("which documents answer this probe?").
  *
  * Scale shape: the corpus is reduced once to (doc, term, tf) with a
  * single explode + hash-groupBy (map-side combine); everything
  * query-dependent is then pruned to the QUERY VOCABULARY before it
  * touches corpus-scale frames — the query-term table broadcasts (a
  * query batch is KBs), so the only corpus-sized work after the tf
  * pass is one equi-join fetching the pruned postings and one join
  * against the per-doc length table. Per-query ranking ships k-bounded
  * heaps ([[graft.plans.TopKIdsAgg]]), never candidate sets, so the
  * final shuffle is kilobytes regardless of corpus size.
  */
object Search {

  /** (id, term, tf) term frequencies — delegates to the one shared
    * in-row counting definition,
    * [[TextAnalysis.termFrequencyRows]]: no aggregate, no shuffle,
    * and the documented one-row-per-id contract (dedup upstream; a
    * duplicated id would split its postings and inflate df). */
  def termFrequencies(docs: DataFrame, textCol: String,
                      idCol: String): DataFrame =
    TextAnalysis.termFrequencyRows(docs, textCol, idCol, "id")

  /** Persisted lexical index: postings (term, id, tf), per-doc
    * lengths (id, dl), and the two corpus constants BM25 needs.
    * Postings/docLengths stay DataFrames (lazy, corpus-sized); the
    * constants are driver scalars like any broadcast model. */
  case class Bm25Index(postings: DataFrame, docLengths: DataFrame,
                       nDocs: Long, avgdl: Double)

  /** Build the BM25 index frames from a corpus — the tokenise+count
    * pass runs ONCE here; every later query batch searches the
    * persisted postings without touching corpus text (the same
    * never-re-scan posture as [[IncrementalDedup]]). The one action
    * is the two-scalar stats aggregate. */
  def bm25IndexBuild(docs: DataFrame, textCol: String, idCol: String,
                     cache: graft.core.CacheHandle): Bm25Index = {
    val tf = cache.persist(termFrequencies(docs, textCol, idCol))
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    val st = dl.agg(count(lit(1)).as("n"), avg("dl").as("a")).head()
    // an empty corpus has no average length; 0 keeps search a no-op
    Bm25Index(tf, dl, st.getLong(0),
      if (st.isNullAt(1)) 0.0 else st.getDouble(1))
  }

  /** Persist an index: postings range-partitioned and sorted by term
    * so each parquet file covers a compact term range — a query
    * batch's `term IN (...)` prune then skips every file outside its
    * vocabulary on min/max stats alone. */
  def bm25IndexWrite(index: Bm25Index, path: String): Unit = {
    val s = index.postings.sparkSession
    import s.implicits._
    index.postings.repartitionByRange(col("term"))
      .sortWithinPartitions("term")
      .write.mode("overwrite").parquet(s"$path/postings")
    index.docLengths.write.mode("overwrite").parquet(s"$path/doclens")
    Seq((index.nDocs, index.avgdl)).toDF("n_docs", "avgdl")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/stats")
  }

  /** Fold an arrival batch into a standing index WITHOUT re-reading
    * the corpus — the daily-ingest shape ([[IncrementalDedup]]'s
    * posture for the lexical index): the batch is tokenised once, its
    * postings/lengths union the standing frames, and the corpus
    * constants merge in closed form (n' = n + n_b, avgdl' =
    * (n·avgdl + Σ_b dl) / n'). Batch ids must be new; re-ingesting an
    * id would double its postings (dedup arrivals first), with no
    * runtime symptom until scores drift — set `assertNewIds` to pay
    * one narrow semi-join (batch doc ids vs standing doc lengths,
    * batch-sized) and fail loudly instead. Persisting the result:
    * the output path must NOT be the standing index path — the
    * standing frames are read lazily, so overwrite-in-place corrupts
    * the index mid-write (the Steps wrapper enforces this). */
  def bm25IndexAppend(index: Bm25Index, batch: DataFrame, textCol: String,
                      idCol: String,
                      assertNewIds: Boolean = false,
                      cache: graft.core.CacheHandle): Bm25Index = {
    val tfB = cache.persist(termFrequencies(batch, textCol, idCol))
    if (assertNewIds) {
      val clash = tfB.select("id").distinct()
        .join(index.docLengths.select("id"), Seq("id"), "left_semi")
        .limit(1).collect()
      require(clash.isEmpty,
        s"bm25IndexAppend: batch re-ingests already-indexed id " +
          s"'${clash.headOption.map(_.get(0)).orNull}' — dedup arrivals first")
    }
    val dlB = tfB.groupBy("id").agg(sum("tf").as("dl"))
    val st = dlB.agg(count(lit(1)).as("n"), sum("dl").as("s")).head()
    val nB = st.getLong(0)
    val sumB = if (st.isNullAt(1)) 0.0 else st.getLong(1).toDouble
    val n = index.nDocs + nB
    val avgdl =
      if (n == 0) 0.0 else (index.nDocs * index.avgdl + sumB) / n
    Bm25Index(index.postings.unionByName(tfB),
      index.docLengths.unionByName(dlB), n, avgdl)
  }

  /** Load an index persisted by [[bm25IndexWrite]]. */
  def bm25IndexRead(s: org.apache.spark.sql.SparkSession,
                    path: String): Bm25Index = {
    val st = graft.Tables.read(s, s"$path/stats").head()
    Bm25Index(graft.Tables.read(s, s"$path/postings"),
      graft.Tables.read(s, s"$path/doclens"),
      st.getAs[Long]("n_docs"), st.getAs[Double]("avgdl"))
  }

  /** Query batch → exploded (query_id, term) rows, distinct per
    * query. */
  private def queryTerms(queries: DataFrame, queryIdCol: String,
                         queryTextCol: String): DataFrame =
    queries.select(col(queryIdCol).as("query_id"),
      explode(array_distinct(TextAnalysis.tokens(col(queryTextCol))))
        .as("term"))

  /** The one BM25 scoring + ranking tail shared by [[bm25TopK]] and
    * [[bm25SearchIndex]] (their spec-pinned equivalence is this
    * sharing): vocabulary-pruned postings `tfq` fan out to query
    * terms, join df counts and doc lengths, score with the Lucene
    * non-negative idf, sum per (query, doc), and rank through
    * [[graft.plans.TopK.rankBy]]. `withStats` lets the corpus-pass
    * caller attach its lazily-aggregated (n_docs, avgdl) stats row
    * (broadcast cross join) while the index path passes literals. */
  private def scoreAndRank(tfq: DataFrame, qterms: DataFrame,
                           dl: DataFrame,
                           withStats: DataFrame => DataFrame,
                           nDocs: Column, avgdl: Column,
                           k: Int, k1: Double, b: Double): DataFrame = {
    val dfreq = tfq.groupBy("term").agg(count(lit(1)).as("df"))
    val perTerm = withStats(tfq
      .join(broadcast(qterms), Seq("term"))
      .join(broadcast(dfreq), Seq("term"))
      .join(dl, Seq("id")))
      .withColumn("idf",
        log(lit(1.0) + (nDocs - col("df") + 0.5) / (col("df") + 0.5)))
      .withColumn("score_t",
        col("idf") * (col("tf") * (k1 + 1.0)) /
          (col("tf") + (col("dl") / avgdl * b + (1.0 - b)) * k1))
    val scored = perTerm
      .groupBy("query_id", "id")
      .agg(sum("score_t").as("score"))
    TopK.rankBy(scored, Seq("query_id"), "score", "id", k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("id").as("doc_id"), col("score"))
  }

  /** Search a built/loaded index: scoring and ranking identical to
    * [[bm25TopK]] (shared [[scoreAndRank]] tail), but the corpus
    * pass is replaced by a postings filter on the collected query
    * vocabulary — a literal `IN` predicate that pushes down to the
    * parquet scan and skips non-matching files/row-groups. The
    * vocabulary collect is query-batch-sized (the same bounded-model
    * class as ANN centroids). */
  def bm25SearchIndex(index: Bm25Index, queries: DataFrame,
                      queryIdCol: String = "query_id",
                      queryTextCol: String = "qtext",
                      k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
                      cache: graft.core.CacheHandle): DataFrame = {
    require(k > 0, "k must be positive")
    val qterms = queryTerms(queries, queryIdCol, queryTextCol)
    val vocab = qterms.select("term").distinct()
      .collect().map(_.getString(0)).toSeq
    val tfq = cache.persist(
      index.postings.filter(col("term").isin(vocab: _*)))
    scoreAndRank(tfq, qterms, index.docLengths, identity,
      lit(index.nDocs.toDouble), lit(index.avgdl), k, k1, b)
  }

  /** Reciprocal-rank fusion of per-query rankings — the standard
    * hybrid-search combiner (lexical BM25 + dense ANN, or any scorer
    * family): each system contributes 1/(c + rank) per (query, doc),
    * summed across systems, re-ranked top-k. Rank-based, so scorers
    * with incomparable score scales fuse without calibration.
    *
    * Inputs are (query_id, rank, doc_id) frames — exactly what
    * [[bm25TopK]]/[[bm25SearchIndex]] and the ANN top-k family emit.
    * Scale: the inputs are already k-bounded per query, so the union
    * and the fused groupBy run on |queries|·k·systems rows —
    * query-batch-sized, nowhere near corpus scale; the final ranking
    * ships k-bounded heaps. */
  def rrfFuse(rankings: Seq[DataFrame], k: Int = 10,
              c: Int = 60): DataFrame = {
    require(rankings.nonEmpty, "rrfFuse needs at least one ranking")
    require(k > 0 && c >= 0, "k must be positive and c non-negative")
    val tagged = rankings
      .map(_.select(col("query_id"), col("doc_id"), col("rank")))
      .reduce(_ unionByName _)
    val scored = tagged
      .withColumn("rrf", lit(1.0) / (col("rank") + c))
      .groupBy("query_id", "doc_id")
      .agg(sum("rrf").as("score"))
    TopK.rankBy(scored, Seq("query_id"), "score", "doc_id", k)
      .select(col("query_id"), col("rank").cast("long").as("rank"),
        col("doc_id"), col("score"))
  }

  /** BM25 top-k documents per query: (query_id, rank, doc_id,
    * score), rank 1 = best, ties broken toward the smaller doc_id.
    *
    * `queries` is (queryIdCol, queryTextCol) — a query BATCH, scored
    * against the corpus in one dataflow. idf is the Lucene
    * non-negative variant ln(1 + (N − df + 0.5)/(df + 0.5)); df
    * counts documents containing the term corpus-wide (computed on
    * the postings already pruned to query terms, which is the same
    * number).
    *
    * The per-(query, doc) score sums at most |query terms| values, so
    * the scoring groupBy state is bounded by the query length; the
    * top-k groupBy state is the k-entry heap. */
  def bm25TopK(docs: DataFrame, textCol: String, idCol: String,
               queries: DataFrame,
               queryIdCol: String = "query_id",
               queryTextCol: String = "qtext",
               k: Int = 10, k1: Double = 1.2, b: Double = 0.75,
               cache: graft.core.CacheHandle): DataFrame = {
    require(k > 0, "k must be positive")
    val tf = cache.persist(termFrequencies(docs, textCol, idCol))
    val dl = tf.groupBy("id").agg(sum("tf").as("dl"))
    val stats = dl.agg(count(lit(1)).cast("double").as("n_docs"),
      avg("dl").as("avgdl"))
    val qterms = queryTerms(queries, queryIdCol, queryTextCol)
    // prune the postings to the query vocabulary FIRST: every later
    // stage (df counts, query fan-out, scoring) runs on this frame,
    // which is |query vocab| postings lists, not the corpus
    val tfq = cache.persist(
      tf.join(broadcast(qterms.select("term").distinct()), Seq("term")))
    scoreAndRank(tfq, qterms, dl, _.crossJoin(broadcast(stats)),
      col("n_docs"), col("avgdl"), k, k1, b)
  }
}
