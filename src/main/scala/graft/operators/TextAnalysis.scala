package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for large-scale training-data pipelines:
  * token counting, quality scoring, language ID, fingerprinting.
  *
  * All pure `functions._` column compositions — codegen'd, no UDFs, so
  * they run at scan speed over a 100 TB `documents` table and push no
  * data to the driver.
  */
object TextAnalysis {

  /** Whitespace-delimited word tokens of the lowercased text. */
  def tokens(text: Column): Column =
    filter(split(lower(trim(text)), "\\s+"), t => t =!= "")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** (idAlias, term, tf) term-frequency rows via the native in-row
    * [[graft.plans.TermCounts]] expression — counting happens inside
    * the row, so the frame plans with NO aggregate and NO shuffle
    * (the entry explode is narrow). The one shared definition behind
    * BM25, TF-IDF, and co-occurrence.
    *
    * CONTRACT: one row per document id. Counting is per ROW — a
    * duplicated id yields duplicate (id, term) rows and inflates
    * every downstream document frequency (the old explode→groupBy
    * formulations silently merged such rows; this one does not).
    * Dedup upstream ([[graft.operators.Dedup.exactDedup]] or a
    * keyed upsert) before counting. */
  def termFrequencyRows(docs: DataFrame, textCol: String, idCol: String,
                        idAlias: String = "id"): DataFrame =
    docs
      .select(col(idCol).as(idAlias),
        explode(graft.plans.SketchFunctions.termCounts(col(textCol)))
          .as("_tc"))
      .select(col(idAlias), col("_tc.term").as("term"),
        col("_tc.tf").as("tf"))

  /** BPE-ish token count: letter runs, digits, and punctuation each
    * count as one token — a cheap, deterministic proxy for subword
    * tokenizer counts. */
  def bpeishTokenCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]|[^A-Za-z0-9\\s]"), lit(0)))

  /** Unicode script mix of the text: fractions of non-space
    * characters in the Latin, CJK, Cyrillic, and decimal-digit
    * ranges — the triage signal for routing mixed-script corpora
    * before language-specific processing (complements the stopword-
    * vote language ID, which only sees space-delimited scripts).
    * Explicit code-point ranges rather than named script classes, so
    * the same patterns run under Java regex and RE2-class SQL
    * engines. */
  def scriptRatios(text: Column): Column = {
    val total = length(regexp_replace(text, "\\s", ""))
    def frac(pattern: String): Column =
      when(total === 0, lit(0.0))
        .otherwise(regexp_count(text, lit(pattern)).cast("double") / total)
    struct(
      frac("[A-Za-z\\x{00C0}-\\x{024F}]").as("latin"),
      frac("[\\x{4E00}-\\x{9FFF}\\x{3040}-\\x{30FF}]").as("cjk"),
      frac("[\\x{0400}-\\x{04FF}]").as("cyrillic"),
      frac("[0-9]").as("digit"))
  }

  /** Canonical form for fuzzy-exact dedup (the CCNet-style
    * normalisation): lowercase, every non-letter/digit/space character
    * replaced by a space, whitespace collapsed, trimmed. Digesting
    * THIS instead of the raw text lets exact dedup catch trivially
    * perturbed copies (punctuation, casing, spacing churn) at exact-
    * dedup cost — the cheap middle ground before minhash. Pure
    * codegen expressions, replayable by any RE2-class SQL engine. */
  def normalizeForDedup(text: Column): Column =
    trim(regexp_replace(
      regexp_replace(lower(text), "[^\\p{L}\\p{N}\\s]", " "),
      "\\s+", " "))

  /** Ratio of non-alphanumeric, non-space characters. */
  def punctRatio(text: Column): Column =
    (length(text) - length(regexp_replace(text, "[^A-Za-z0-9\\s]", ""))).cast("double") /
      greatest(length(text), lit(1)).cast("double")

  private val stopwords: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "of", "and", "to", "in", "is", "that", "it", "was", "for",
      "with", "as", "his", "on", "be", "at", "by", "this"),
    "es" -> Seq("el", "la", "de", "que", "y", "en", "un", "los", "se", "del",
      "las", "por", "con", "una", "para", "es", "al", "como"),
    "fr" -> Seq("le", "la", "de", "et", "les", "des", "est", "un", "une", "du",
      "dans", "qui", "que", "pour", "sur", "au", "pas", "plus"),
    "de" -> Seq("der", "die", "und", "das", "von", "zu", "den", "mit", "ist",
      "des", "im", "nicht", "ein", "eine", "auf", "als", "auch", "es"))

  /** Fraction of tokens that are stopwords of `lang`. */
  def stopwordRatio(text: Column, lang: String): Column = {
    val sw = array(stopwords(lang).map(lit): _*)
    val toks = tokens(text)
    size(filter(toks, t => array_contains(sw, t))).cast("double") /
      greatest(size(toks), lit(1)).cast("double")
  }

  /** Heuristic language ID over {en,es,fr,de}: highest stopword ratio
    * wins; "und" (undetermined) when no stopwords hit at all. */
  def languageId(text: Column): Column = {
    val scored = stopwords.keys.toSeq.sorted.map(l =>
      struct(stopwordRatio(text, l).as("score"), lit(l).as("lang")))
    val best = sort_array(array(scored: _*), asc = false).getItem(0)
    when(best.getField("score") > 0, best.getField("lang")).otherwise(lit("und"))
  }

  /** Composite quality score in [0,1]: long-enough text, moderate
    * punctuation, some stopwords, sane mean word length. Weights are
    * heuristic; the point is the shape (cheap, columnar, monotone in
    * each signal). */
  def qualityScore(text: Column): Column = {
    val nTok = tokenCount(text).cast("double")
    val lengthScore = least(nTok / 100.0, lit(1.0))
    val punctScore = lit(1.0) - least(punctRatio(text) * 5.0, lit(1.0))
    val swScore = least(stopwordRatio(text, "en") * 5.0, lit(1.0))
    val meanWordLen = length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(nTok, lit(1.0))
    val wordLenScore = when(meanWordLen.between(3.0, 12.0), 1.0).otherwise(0.3)
    round(lengthScore * 0.3 + punctScore * 0.3 + swScore * 0.2 + wordLenScore * 0.2, 6)
  }

  /** Document fingerprint: 64-bit hash of the whitespace-normalised
    * lowercased text. Identical up to whitespace ⇒ identical prints. */
  def fingerprint(text: Column): Column =
    xxhash64(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Names of the hard-filter rule battery, in audit order. */
  val QualityRuleNames: Seq[String] =
    Seq("tokens_ok", "word_len_ok", "punct_ok", "stopword_ok", "alpha_ok")

  /** Gopher/C4-style hard-filter rule battery: one boolean column per
    * rule plus the conjunction (`passes`). Unlike [[qualityScore]]'s
    * soft composite, these are the reject rules a production corpus
    * filter applies — each failure is individually attributable, which
    * is what corpus QA needs ("how many docs died to which rule").
    * All per-row columnar expressions — zero shuffles.
    *
    * Rules (Rae et al. 2021 "Gopher" §A1.1 shapes, thresholds as
    * parameters): token count within [minTokens, maxTokens]; mean word
    * length within [meanWordLenMin, meanWordLenMax]; punctuation-char
    * ratio ≤ maxPunctRatio; stopword ratio ≥ minStopwordRatio;
    * fraction of tokens containing a letter ≥ minAlphaFrac. */
  def qualityRuleFlags(docs: DataFrame, textCol: String, idCol: String,
                       minTokens: Int = 10, maxTokens: Int = 100000,
                       meanWordLenMin: Double = 3.0,
                       meanWordLenMax: Double = 10.0,
                       maxPunctRatio: Double = 0.2,
                       minStopwordRatio: Double = 0.02,
                       minAlphaFrac: Double = 0.8,
                       lang: String = "en"): DataFrame = {
    val preds = rulePredicates(textCol, minTokens, maxTokens,
      meanWordLenMin, meanWordLenMax, maxPunctRatio, minStopwordRatio,
      minAlphaFrac, lang)
    docs.select(col(idCol) +: preds.map { case (n, p) => p.as(n) }: _*)
      .withColumn("passes",
        QualityRuleNames.map(col).reduce(_ && _))
  }

  /** (rule name, predicate) pairs shared by [[qualityRuleFlags]] and
    * [[qualityRuleFilter]] — names match [[QualityRuleNames]]. */
  private def rulePredicates(textCol: String, minTokens: Int,
                             maxTokens: Int, meanWordLenMin: Double,
                             meanWordLenMax: Double, maxPunctRatio: Double,
                             minStopwordRatio: Double, minAlphaFrac: Double,
                             lang: String): Seq[(String, Column)] = {
    val text = col(textCol)
    val nTok = tokenCount(text).cast("double")
    val meanWl = length(regexp_replace(text, "\\s+", "")).cast("double") /
      greatest(nTok, lit(1.0))
    val alphaFrac = size(filter(tokens(text), t => t.rlike("[a-z]")))
      .cast("double") / greatest(nTok, lit(1.0))
    Seq(
      "tokens_ok" -> nTok.between(minTokens.toDouble, maxTokens.toDouble),
      "word_len_ok" -> meanWl.between(meanWordLenMin, meanWordLenMax),
      "punct_ok" -> (punctRatio(text) <= maxPunctRatio),
      "stopword_ok" -> (stopwordRatio(text, lang) >= minStopwordRatio),
      "alpha_ok" -> (alphaFrac >= minAlphaFrac))
  }

  /** Corpus rows passing every rule of [[qualityRuleFlags]] — the
    * filter itself, as a plain predicate pushed into the scan: one
    * pass, no join, no shuffle, and each row judged on its OWN text
    * (a semi-join on the id would let a failing row ride on a
    * passing duplicate-id sibling). */
  def qualityRuleFilter(docs: DataFrame, textCol: String, idCol: String,
                        minTokens: Int = 10, maxTokens: Int = 100000,
                        meanWordLenMin: Double = 3.0,
                        meanWordLenMax: Double = 10.0,
                        maxPunctRatio: Double = 0.2,
                        minStopwordRatio: Double = 0.02,
                        minAlphaFrac: Double = 0.8,
                        lang: String = "en"): DataFrame =
    docs.filter(rulePredicates(textCol, minTokens, maxTokens,
      meanWordLenMin, meanWordLenMax, maxPunctRatio, minStopwordRatio,
      minAlphaFrac, lang).map(_._2).reduce(_ && _))

  /** Per-rule failure audit of a [[qualityRuleFlags]] frame: one row
    * per rule — (rule, n_failed, n_docs) — from a single aggregate
    * (map-side partial counts; the unpivot runs on one row). */
  def qualityRuleAudit(flags: DataFrame): DataFrame = {
    val agg = flags.agg(count(lit(1)).as("n_docs"),
      QualityRuleNames.map(r =>
        coalesce(sum(when(col(r), 0L).otherwise(1L)), lit(0L)).as(r)): _*)
    agg.select(explode(array(QualityRuleNames.map(r =>
        struct(lit(r).as("rule"), col(r).as("n_failed"),
          col("n_docs").as("n_docs"))): _*)).as("e"))
      .select(col("e.rule"), col("e.n_failed"), col("e.n_docs"))
  }

  /** Term co-occurrence with PMI — collocation mining over document-
    * level presence: for term pairs sharing a document, nPairs = how
    * many documents contain both, pmi = ln(nPairs·N / (dfA·dfB)).
    * The corpus-statistics verb behind phrase detection and tokenizer
    * curriculum design.
    *
    * The pair space is quadratic in per-document vocabulary, so two
    * caps bound it (same contract as the dedup hot-bucket caps):
    * stop terms — df > stopDfFrac·N — are excluded before the self-
    * join (they pair with everything and carry no signal), and
    * documents with more than `maxDocTerms` distinct surviving terms
    * are excluded entirely (a pathological doc contributes
    * maxDocTerms² pairs otherwise). The join itself is doc-id equi —
    * never cross. */
  def termCooccurrence(docs: DataFrame, textCol: String, idCol: String,
                       minPairCount: Int = 2, maxDocTerms: Int = 1000,
                       stopDfFrac: Double = 0.5,
                       cache: graft.core.CacheHandle): DataFrame = {
    require(stopDfFrac > 0.0 && stopDfFrac <= 1.0,
      "stopDfFrac must be in (0, 1]")
    // TermCounts entries are distinct per doc by construction — the
    // explode+distinct() corpus shuffle this frame used to pay is
    // gone (unique-id contract: see termFrequencyRows)
    val dt = cache.persist(
      termFrequencyRows(docs, textCol, idCol, "doc").select("doc", "term"))
    val nDocs = dt.agg(count_distinct(col("doc")).cast("double").as("n"))
    val dfreq = dt.groupBy("term").agg(count(lit(1)).as("df"))
    val stop = dfreq.crossJoin(broadcast(nDocs))
      .filter(col("df") > col("n") * stopDfFrac).select("term")
    val kept = dt.join(broadcast(stop), Seq("term"), "left_anti")
    // fatDocs is per-DOCUMENT, so unlike the stop-term set it has no
    // natural size bound (a corpus where most docs exceed maxDocTerms
    // makes it corpus-scale) — no broadcast hint; AQE picks the
    // strategy from its measured size
    val fatDocs = kept.groupBy("doc").agg(count(lit(1)).as("_m"))
      .filter(col("_m") > maxDocTerms).select("doc")
    val lean = cache.persist(
      kept.join(fatDocs, Seq("doc"), "left_anti"))
    lean.alias("a")
      .join(lean.alias("b"),
        col("a.doc") === col("b.doc") && col("a.term") < col("b.term"))
      .groupBy(col("a.term").as("term_a"), col("b.term").as("term_b"))
      .agg(count(lit(1)).as("n_pairs"))
      .filter(col("n_pairs") >= minPairCount)
      .join(dfreq.withColumnsRenamed(Map("term" -> "term_a", "df" -> "df_a")),
        Seq("term_a"))
      .join(dfreq.withColumnsRenamed(Map("term" -> "term_b", "df" -> "df_b")),
        Seq("term_b"))
      .crossJoin(broadcast(nDocs))
      .withColumn("pmi",
        log(col("n_pairs") * col("n") / (col("df_a") * col("df_b"))))
      .select("term_a", "term_b", "n_pairs", "df_a", "df_b", "pmi")
  }

  /** Sliding-window context chunks: each document's token stream is
    * cut into windows of `maxTokens` tokens advancing by `maxTokens −
    * overlapTokens` (so consecutive chunks share `overlapTokens`
    * tokens — the standard long-document preparation for bounded
    * context windows and RAG passage indexes). Returns (idCol,
    * chunk_idx, chunk_text, n_tokens); a document with no tokens
    * yields no chunks; chunk_text re-joins tokens with single spaces
    * (whitespace is normalised, original token case kept).
    *
    * Chunk count is ceil(max(n − overlap, 1) / stride) — every token
    * appears in ≥1 chunk and the final window is the only short one.
    *
    * Scale: pure map-side expression work (split + per-row slice
    * transforms + posexplode) — zero shuffles; output row count is
    * input tokens × (1 + overlap/stride) amortised. */
  def chunkDocuments(docs: DataFrame, textCol: String, idCol: String,
                     maxTokens: Int, overlapTokens: Int = 0): DataFrame = {
    require(maxTokens > 0, "maxTokens must be positive")
    require(overlapTokens >= 0 && overlapTokens < maxTokens,
      "overlapTokens must be in [0, maxTokens)")
    val stride = maxTokens - overlapTokens
    val tk = filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")
    val nChunks = ceil(greatest(size(tk) - overlapTokens, lit(1))
      .cast("double") / stride).cast("int")
    val chunks = when(size(tk) === 0,
        array().cast("array<string>"))
      .otherwise(transform(sequence(lit(0), nChunks - 1),
        i => array_join(slice(tk, i * stride + 1, lit(maxTokens)), " ")))
    docs
      .select(col(idCol), posexplode(chunks).as(Seq("chunk_idx", "chunk_text")))
      .select(col(idCol), col("chunk_idx").cast("long").as("chunk_idx"),
        col("chunk_text"),
        size(filter(split(col("chunk_text"), " "), t => t =!= ""))
          .cast("long").as("n_tokens"))
  }

  /** Top-`k` TF-IDF terms per document: tf = term count in the doc,
    * idf = ln((N+1)/(df+1)) + 1 (the smoothed sklearn formulation —
    * never zero, so rare terms always outrank stopwords), ranked by
    * (tfidf desc, term asc) for determinism.
    *
    * Shape at 100 TB: the inverted-index pattern — one shuffle to the
    * (doc, term) counts, one map-side-combining shuffle to the term
    * document frequencies, one broadcast-or-shuffle join back (the
    * vocabulary is orders of magnitude smaller than the corpus), one
    * window top-k per document. No driver-side vocabulary state,
    * unlike MLlib's fitted `IDFModel` which collects the idf vector.
    */
  def tfIdfTopTerms(docs: DataFrame, textCol: String, idCol: String,
                    k: Int = 3): DataFrame = {
    // in-row term counting — no (doc, term) aggregate shuffle; see
    // termFrequencyRows for the unique-id contract
    val termCounts = termFrequencyRows(docs, textCol, idCol, "docId")
    val docFreq = termCounts.groupBy("term")
      .agg(count(lit(1)).as("df")) // termCounts is distinct per (doc, term)
    // corpus size as a lazy broadcast single-row join, not an eager
    // driver-side count(): keeps the whole op one deferred plan
    val nDocs = docs.agg(
      count_distinct(col(idCol)).cast("double").as("_nDocs"))
    val w = Window.partitionBy("docId")
      .orderBy(col("tfidf").desc, col("term"))
    termCounts
      .join(docFreq, Seq("term"))
      .crossJoin(broadcast(nDocs))
      .withColumn("idf", log((col("_nDocs") + 1.0) / (col("df") + 1.0)) + 1.0)
      .withColumn("tfidf", col("tf") * col("idf"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("docId", "rank", "term", "tf", "df", "tfidf")
  }

  /** Top-`k` class-based TF-IDF terms per cluster — the BERTopic
    * labelling step run after any clustering (k-means cells, SemDeDup
    * cells, a domain column): score(t, c) = (ctf/csize) ·
    * ln(1 + A/f_t), where ctf = t's count in cluster c, csize = c's
    * token count, f_t = t's corpus-wide count, and A = mean tokens
    * per cluster. The normalised in-cluster rate rewards terms the
    * cluster uses heavily; the damped inverse corpus frequency mutes
    * terms every cluster uses (stopwords score ln(1+A/f_t) → ~A/f_t
    * → ~0). Ranked (score desc, term asc); `minTermCount` prunes the
    * singleton-term tail before ranking.
    *
    * Shape at 100 TB: one explode + (cluster, term) hash-groupBy
    * (map-side combine) collapses the corpus to cluster×vocab rows;
    * everything after — per-cluster totals, corpus term totals, the
    * two broadcast-or-shuffle joins back, the per-cluster window cut
    * — runs on that collapsed frame, never the corpus. */
  def clusterTopTerms(docs: DataFrame, clusterCol: String, textCol: String,
                      k: Int = 10, minTermCount: Int = 1): DataFrame = {
    // per-doc in-row counts first ([[graft.plans.TermCounts]]): the
    // (cluster, term) aggregate still shuffles, but over pre-combined
    // per-doc entries instead of raw token rows
    val ctf = docs
      .select(col(clusterCol).as("cluster"),
        explode(graft.plans.SketchFunctions.termCounts(col(textCol)))
          .as("_tc"))
      .groupBy(col("cluster"), col("_tc.term").as("term"))
      .agg(sum(col("_tc.tf")).as("ctf"))
    val csize = ctf.groupBy("cluster").agg(sum("ctf").as("_csize"))
    val termTotals = ctf.groupBy("term").agg(sum("ctf").as("f_t"))
    // mean cluster size as a lazy one-row broadcast, not a driver count
    val avgSize = csize.agg(avg(col("_csize")).as("_avg"))
    val w = Window.partitionBy("cluster")
      .orderBy(col("score").desc, col("term"))
    ctf
      .filter(col("ctf") >= minTermCount)
      .join(termTotals, Seq("term"))
      .join(csize, Seq("cluster"))
      .crossJoin(broadcast(avgSize))
      .withColumn("score",
        col("ctf") / col("_csize") * log(lit(1.0) + col("_avg") / col("f_t")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("cluster"), col("rank").cast("long").as("rank"),
        col("term"), col("ctf"), col("f_t"), col("score"))
  }

  /** Word n-grams (space-joined) of the tokenised text; empty array
    * when the document has fewer than `n` tokens. */
  def wordNgrams(text: Column, n: Int): Column = {
    val t = tokens(text)
    when(size(t) >= n,
      transform(sequence(lit(1), size(t) - (n - 1)),
        i => concat_ws(" ", (0 until n).map(k => element_at(t, i + lit(k))): _*)))
      .otherwise(array().cast("array<string>"))
  }

  /** Gopher/MassiveText-style intra-document repetition signals:
    *  - `topBigramFrac`: occurrences of the most frequent word 2-gram
    *    over all 2-gram occurrences (boilerplate/chant detector);
    *  - `dupTrigramFrac`: fraction of 3-gram occurrences whose 3-gram
    *    appears more than once in the document.
    * Both null when the document is too short to form the n-gram.
    * Documents with fewer than two tokens are absent from the output.
    *
    * Shape at 100 TB: the signals are strictly per-document, so the
    * whole computation runs inside the scan through the native
    * one-pass [[graft.plans.RepetitionStats]] expression — ZERO
    * shuffles (the earlier explode → per-(doc, gram) aggregate →
    * per-doc aggregate pipeline cost two), exact integer counts, and
    * no per-gram rows ever materialise. */
  def ngramRepetitionSignals(docs: DataFrame, textCol: String,
                             idCol: String): DataFrame =
    docs.select(col(idCol),
        graft.plans.SketchFunctions.repetitionStats(col(textCol)).as("_r"))
      .filter(col("_r").isNotNull)
      .select(col(idCol), col("_r.nBigrams").as("nBigrams"),
        (col("_r.topBigram").cast("double") / col("_r.nBigrams"))
          .as("topBigramFrac"),
        when(col("_r.nTrigrams") > 0,
          col("_r.dupTri").cast("double") / col("_r.nTrigrams"))
          .as("dupTrigramFrac"))

  /** Out-of-vocabulary rate per document against the corpus' own
    * top-`vocabSize` token vocabulary (tokenizer-coverage analysis).
    * Vocabulary ties break deterministically by (count desc, token).
    *
    * Shape at 100 TB: token counts are ONE combiner-friendly shuffle
    * over the exploded corpus; the top-K is a TakeOrdered over the
    * (much smaller) distinct-token frame, not a global sort of the
    * corpus; the tiny vocabulary broadcasts back onto the token stream
    * for a per-doc conditional count. */
  def oovRates(docs: DataFrame, textCol: String, idCol: String,
               vocabSize: Int = 100): DataFrame = {
    // per-doc (term, tf) entries replace the per-instance token rows:
    // the vocab counts sum pre-combined tf (fewer shuffle rows) and
    // the coverage join fans out per distinct term, not per token —
    // all-integer weighting, so values are bit-identical
    val entries = termFrequencyRows(docs, textCol, idCol, idCol)
      .withColumnRenamed("term", "token")
    val vocab = entries.groupBy("token").agg(sum(col("tf")).as("_tf"))
      .orderBy(col("_tf").desc, col("token")).limit(vocabSize)
      .select(col("token"), lit(true).as("_inVocab"))
    entries
      .join(broadcast(vocab), Seq("token"), "left")
      .groupBy(col(idCol))
      .agg(sum(col("tf")).as("nTokens"),
        sum(when(col("_inVocab"), col("tf")).otherwise(0L)).as("_inV"))
      .select(col(idCol), col("nTokens"),
        (lit(1.0) - col("_inV").cast("double") / col("nTokens")).as("oovFrac"))
  }

  /** Corpus-relative unigram log-probability per document (the mean
    * ln p(token) under the corpus' own unigram LM) — the classic
    * cheap fluency/quality signal: gibberish and boilerplate-heavy
    * docs sit far from the corpus mode; complements [[tfIdfTopTerms]]
    * with a corpus-global scalar. One token-keyed shuffle for the
    * term counts, one token-keyed join back (right side is
    * vocabulary-sized — AQE broadcasts it when small), one group by
    * doc. The exploded token frame is recomputed rather than cached:
    * at corpus scale it is larger than the corpus itself, so
    * re-tokenising (scan-speed codegen) beats materialising it. */
  def unigramLogProbScores(docs: DataFrame, textCol: String,
                           idCol: String): DataFrame = {
    val toks = docs.select(col(idCol), explode(tokens(col(textCol))).as("token"))
    // the count table sums pre-combined per-doc entries (fewer shuffle
    // rows, same integers); the SCORING side stays per-instance so the
    // per-doc avg keeps its float summation order (oracle-matched)
    val counts = termFrequencyRows(docs, textCol, idCol, idCol)
      .groupBy(col("term").as("token"))
      .agg(sum(col("tf")).as("_tf"))
    val total = counts.agg(sum("_tf").as("_n"))
    toks
      .join(counts, Seq("token"))
      .crossJoin(broadcast(total))
      .groupBy(idCol)
      .agg(avg(log(col("_tf").cast("double") / col("_n")))
          .as("unigramLogProb"),
        count(lit(1)).as("nTokens"))
  }

  /** Corpus-relative add-α bigram log-probability per document —
    * the next-order fluency signal after [[unigramLogProbScores]]
    * (a KenLM-style score without the external model): for each
    * in-document bigram (w₁, w₂),
    * ln p̂(w₂|w₁) = ln (c(w₁w₂) + α) − ln (c(w₁·) + αV), with
    * c(w₁·) the corpus count of w₁ as a left context and V the
    * unigram vocabulary size. Word-salad rearrangements keep their
    * unigram score but crater here — the signal that separates
    * scrambled boilerplate from prose.
    *
    * Returns (idCol, lp_nano, n_bigrams): each bigram's log-prob is
    * quantised to integer nano-nats (round(1e9·lnp̂)) BEFORE the
    * per-doc sum, so the sum is exact integer arithmetic —
    * bit-identical across partitionings and engines (mean in nats =
    * lp_nano / 1e9 / n_bigrams). Docs with < 2 tokens score (0, 0).
    *
    * Scale: the bigram frame is corpus-tokens-sized and recomputed,
    * not cached (same posture as the unigram pass); the count tables
    * are bigram-vocabulary-sized and join back on their keys (AQE
    * broadcasts when small); V is one broadcast scalar. */
  def bigramLogProbScores(docs: DataFrame, textCol: String,
                          idCol: String, alpha: Double = 0.1): DataFrame = {
    require(alpha > 0.0, "alpha must be positive")
    // per-doc pre-combined (bigram, n) entries from the native
    // one-pass [[graft.plans.BigramCounts]]: the old shape re-ran the
    // tokenise+explode THREE times (c12, c1, scoring) plus a fourth
    // token pass for V. Each bigram's quantised log-prob is weighted
    // by its in-doc count — integer multiplication of integer
    // nano-nats, so per-doc sums are bit-identical to the
    // per-instance formulation
    def bg = docs.select(col(idCol),
        explode(graft.plans.SketchFunctions.bigramCounts(col(textCol)))
          .as("_bc"))
      .select(col(idCol), col("_bc.term").as("_bg"), col("_bc.tf").as("_n"))
    val c12 = bg.groupBy("_bg").agg(sum("_n").as("_c12"))
    val c1 = bg
      .select(substring_index(col("_bg"), " ", 1).as("_w1"), col("_n"))
      .groupBy("_w1").agg(sum("_n").as("_c1"))
    val vocab = termFrequencyRows(docs, textCol, idCol, idCol)
      .agg(count_distinct(col("term")).as("_v"))
    val summed = bg
      .withColumn("_w1", substring_index(col("_bg"), " ", 1))
      .join(c12, Seq("_bg"))
      .join(c1, Seq("_w1"))
      .crossJoin(broadcast(vocab))
      .select(col(idCol), col("_n"),
        (round((log(col("_c12") + alpha) -
                log(col("_c1") + col("_v") * alpha)) * 1e9)
          .cast("long") * col("_n")).as("_lp"))
      .groupBy(idCol)
      .agg(sum("_lp").as("lp_nano"), sum("_n").as("n_bigrams"))
    docs.select(col(idCol))
      .join(summed, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("lp_nano"), lit(0L)).as("lp_nano"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"))
  }

  /** Space-joined bigrams of a token array (empty below 2 tokens). */
  def bigrams(tk: Column): Column =
    when(size(tk) >= 2,
      transform(sequence(lit(1), size(tk) - 1),
        i => concat(element_at(tk, i), lit(" "), element_at(tk, i + 1))))
      .otherwise(array().cast("array<string>"))
}
