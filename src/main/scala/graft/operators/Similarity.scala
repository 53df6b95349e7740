package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Two tiers:
  *  - brute-force cosine top-k: one scan, codegen'd zip_with dot
  *    product, per-query window top-k — the correctness baseline;
  *  - LSH-bucketed (random hyperplane) variant: candidates restricted
  *    to signature buckets, turning the all-pairs O(n·q) scan into an
  *    equi-join — the 100 TB path. Hyperplanes are derived
  *    deterministically from a seed via hash mixing, so no state needs
  *    distributing.
  */
object Similarity {

  /** Dot product of two equal-length numeric arrays — the native
    * one-pass expression ([[graft.plans.DotProduct]]); the HOF
    * formulation interprets two lambdas per element and measured ~50×
    * slower across a 12.5M-pair join. */
  def dot(a: Column, b: Column): Column =
    graft.plans.SketchFunctions.dotProduct(a, b)

  /** L2 norm. */
  def norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity, null-safe on zero vectors. */
  def cosine(a: Column, b: Column): Column = {
    val d = norm(a) * norm(b)
    when(d =!= 0.0, dot(a, b) / d)
  }

  /** Cosine from a precomputed per-side norm: inside a pairwise join
    * ALWAYS precompute the norms on each side before joining — the
    * naive `cosine(a, b)` re-derives both self-dots once per PAIR,
    * tripling the per-pair work. */
  private def cosineWithNorms(dotAb: Column, normA: Column,
                              normB: Column): Column = {
    val d = normA * normB
    when(d =!= 0.0, dotAb / d)
  }

  /** Brute-force cosine top-k neighbours for every query row.
    * `queries` and `corpus` both carry (id, embedding); the result has
    * one row per (queryId, neighbourId, rank<=k). The corpus scan is
    * a broadcast-join-free cross join — use only when one side is
    * small or as an oracle; the LSH variant is the scale path. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = queries.select(col("id").as("queryId"), col("embedding").as("q"),
      norm(col("embedding")).as("_nq"))
      .crossJoin(corpus.select(col("id").as("neighbourId"),
        col("embedding").as("c"), norm(col("embedding")).as("_nc")))
      .filter(col("queryId") =!= col("neighbourId"))
      .withColumn("similarity",
        cosineWithNorms(dot(col("q"), col("c")), col("_nq"), col("_nc")))
    val w = Window.partitionBy("queryId")
      .orderBy(col("similarity").desc, col("neighbourId"))
    scored
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("queryId", "neighbourId", "similarity", "rank")
  }

  /** [[bruteForceTopK]] with the window-rank replaced by the bounded
    * top-k aggregate: per query only k heap entries per partition are
    * shuffled instead of the full |queries|×|corpus| scored cross
    * product — the exact-scoring shape that survives a large corpus.
    * `0.0 - similarity` is the heap key (the subtraction normalises
    * -0.0 so ties break exactly like the window's
    * (similarity DESC, neighbourId ASC)); similarity is recovered from
    * the key, so nothing re-joins. Zero-norm (null-similarity)
    * candidates are excluded — the window variant would admit them
    * only when a query has fewer than k scorable neighbours. */
  def bruteForceTopKAgg(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val scored = queries.select(col("id").as("queryId"), col("embedding").as("q"),
      norm(col("embedding")).as("_nq"))
      .crossJoin(corpus.select(col("id").as("neighbourId"),
        col("embedding").as("c"), norm(col("embedding")).as("_nc")))
      .filter(col("queryId") =!= col("neighbourId"))
      .withColumn("similarity",
        cosineWithNorms(dot(col("q"), col("c")), col("_nq"), col("_nc")))
    rankTopKAgg(scored, k)
  }

  /** Empty top-k result with the contract columns — the graceful
    * answer for an EMPTY corpus (an index cannot train on zero
    * vectors; without this the sampled trainers would throw on
    * `pts(0)`). */
  private def emptyTopK(corpus: DataFrame,
                        scoreCol: String = "similarity"): DataFrame =
    corpus.sparkSession.emptyDataFrame
      .withColumn("queryId", lit(null).cast("long"))
      .withColumn("neighbourId", lit(null).cast("long"))
      .withColumn(scoreCol, lit(null).cast("double"))
      .withColumn("rank", lit(null).cast("int"))

  /** Per-query (similarity DESC, neighbourId ASC) top-k via the
    * bounded heap aggregate: candidates partially aggregate map-side,
    * so only k heap entries per (partition, query) shuffle — never the
    * candidate set itself. Input needs (queryId, neighbourId,
    * similarity); distinct candidates are the caller's contract. */
  private def rankTopKAgg(scored: DataFrame, k: Int,
                          scoreCol: String = "similarity"): DataFrame =
    graft.plans.TopK.rankBy(scored, Seq("queryId"), scoreCol,
        "neighbourId", k)
      .select("queryId", "neighbourId", scoreCol, "rank")

  /** Hard-negative mining for contrastive/retrieval training: per
    * query, the `k` most-similar corpus items EXCLUDING the query's
    * own near-dup cluster — a near-duplicate is a positive in
    * disguise, and training against it as a negative poisons the
    * loss. Exclusion uses the connected-component labels of
    * `dupPairs`; retrieval over-fetches `k · retrieveFactor`
    * candidates BEFORE the exclusion, so a query whose cluster mates
    * crowd the similarity head still returns k true negatives (a
    * query with more than k·(retrieveFactor−1) cluster mates in the
    * head may return fewer — raise the factor for pathological
    * clusters).
    *
    * Scale: candidate generation is the bounded-heap top-k (swap in
    * the LSH/IVF variants upstream for a large corpus); the label
    * joins run on the k·factor-bounded candidate frame, not the
    * corpus; the re-rank is another k-bounded heap. */
  def hardNegatives(corpus: DataFrame, queries: DataFrame,
                    dupPairs: DataFrame, k: Int,
                    retrieveFactor: Int = 3,
                    aCol: String = "idA", bCol: String = "idB",
                    cache: graft.core.CacheHandle): DataFrame = {
    require(k > 0 && retrieveFactor >= 1,
      "k and retrieveFactor must be positive")
    val labels = Dedup.connectedComponents(dupPairs, aCol, bCol,
      cache = cache)
    val cand = bruteForceTopKAgg(corpus, queries, k * retrieveFactor)
    val filtered = cand
      .join(labels.select(col("id").as("queryId"), col("comp").as("_cq")),
        Seq("queryId"), "left")
      .join(labels.select(col("id").as("neighbourId"),
        col("comp").as("_cn")), Seq("neighbourId"), "left")
      .filter(col("_cq").isNull || col("_cn").isNull ||
        col("_cq") =!= col("_cn"))
      .select("queryId", "neighbourId", "similarity")
    rankTopKAgg(filtered, k)
  }

  /** Deterministic pseudo-random hyperplane component for (plane p,
    * dimension i): a hash-mixed value in [-1, 1). */
  private def planeComponent(p: Column, i: Column, seed: Long): Column = {
    // cast the plane index to LONG before hashing: sequence() yields
    // INTs, and Spark's xxhash64 hashes an IntegerType through its
    // 4-byte branch — a different hash than the native kernel's
    // hashLong. The SimilaritySpec parity test caught the divergence.
    val h = xxhash64((p * 131071 + i).cast("long"), lit(seed))
    (h.cast("double") / lit(Long.MaxValue.toDouble))
  }

  /** Random-hyperplane signature: `planes` sign bits packed to long.
    *
    * The projection folds integer nano-quantised addends (longs), not
    * raw doubles — the sign bit is summation-order-exact across
    * engines/partitionings (see [[graft.plans.RhpTableKeys]], the
    * native mirror of this formulation). */
  def rhpSignature(embedding: Column, planes: Int, seed: Long = 42L): Column =
    aggregate(
      transform(sequence(lit(0), lit(planes - 1)), p => {
        val proj = aggregate(
          zip_with(embedding, sequence(lit(0), size(embedding) - 1),
            (x, i) => floor(x * planeComponent(p, i, seed) * 1e9 + 0.5)
              .cast("long")),
          lit(0L), (acc, v) => acc + v)
        when(proj > 0, lit(1L)).otherwise(lit(0L))
      }),
      lit(0L), (acc, b) => acc * 2 + b)

  /** Per-table band keys over one long signature: table t uses plane
    * bits [t·perTable, (t+1)·perTable). A candidate matches if it
    * shares ANY table's sub-signature with the query (OR-amplified
    * LSH) — the knob trading recall vs candidates is
    * (tables, planesPerTable). */
  def lshTableKeys(embedding: Column, tables: Int, planesPerTable: Int,
                   seed: Long): Column = {
    val sigBits = transform(sequence(lit(0), lit(tables * planesPerTable - 1)), p => {
      val proj = aggregate(
        zip_with(embedding, sequence(lit(0), size(embedding) - 1),
          (x, i) => floor(x * planeComponent(p, i, seed) * 1e9 + 0.5)
            .cast("long")),
        lit(0L), (acc, v) => acc + v)
      when(proj > 0, lit(1L)).otherwise(lit(0L))
    })
    transform(sequence(lit(0), lit(tables - 1)), t =>
      struct(t.as("table"),
        aggregate(slice(sigBits, t * planesPerTable + 1, lit(planesPerTable)),
          lit(0L), (acc, b) => acc * 2 + b).as("key")))
  }

  /** LSH-bucketed approximate top-k: only corpus rows sharing at least
    * one of the query's table buckets are scored. At 100 TB this turns
    * the all-pairs scan into `tables` equi-joins' worth of shuffle. */
  def lshTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              tables: Int = 8, planesPerTable: Int = 4,
              seed: Long = 42L): DataFrame = {
    def banded(df: DataFrame, idAs: String, vecAs: String,
               normAs: String): DataFrame =
      df.select(col("id").as(idAs), col("embedding").as(vecAs),
        norm(col("embedding")).as(normAs),
        posexplode(graft.plans.SketchFunctions
          .rhpTableKeys(col("embedding"), tables, planesPerTable, seed)))
        .withColumnsRenamed(Map("pos" -> "table", "col" -> "key"))
        .select(col(idAs), col(vecAs), col(normAs), col("table"), col("key"))
    val sigC = banded(corpus, "neighbourId", "c", "_nc")
    val sigQ = banded(queries, "queryId", "q", "_nq")
    // heap-aggregate ranking: after the OR-amplified candidate dedup,
    // only k entries per (partition, query) shuffle — not the
    // candidate set a window rank would re-shuffle.
    // Score BEFORE the candidate dedup, then dedup with a scalar
    // max(similarity): dropDuplicates on a frame carrying the vectors
    // plans as first() over array columns — an immutable-buffer
    // SortAggregate that sorts the whole candidate set WITH both
    // embeddings riding the shuffle. Scoring first re-computes the
    // score once per colliding table (bounded by `tables`) — one
    // precomputed-norm dot each, not the 3-dot naive cosine — and the
    // dedup becomes a codegen'd HashAggregate over three scalars: the
    // vectors never leave the map side. Values are unchanged: every
    // collision of a pair scores identically.
    rankTopKAgg(
      sigQ.join(sigC, Seq("table", "key"))
        .filter(col("queryId") =!= col("neighbourId"))
        .withColumn("similarity",
          cosineWithNorms(dot(col("q"), col("c")), col("_nq"), col("_nc")))
        .groupBy("queryId", "neighbourId")
        .agg(max(col("similarity")).as("similarity")), k)
  }

  /** IVF (inverted-file) ANN: corpus vectors are partitioned into
    * `nLists` k-means cells; a query probes only its `nProbe` nearest
    * cells, turning the all-pairs scan into a centroid-bucketed
    * equi-join — the classic coarse-quantiser scale path alongside
    * the random-hyperplane LSH variant. The centroid model is tiny
    * (nLists × dim) and broadcasts; cell assignment is one distributed
    * transform per side, so nothing about the index lives on the
    * driver. Recall is governed by nProbe exactly as in FAISS-style
    * IVF-flat. */
  def ivfTopK(corpus: DataFrame, queries: DataFrame, k: Int,
              nLists: Int = 16, nProbe: Int = 3,
              seed: Long = 42L, trainIters: Int = 5): DataFrame = {
    // a coarse quantiser needs rough cells, not converged clusters —
    // seeded Lloyd on a bounded deterministic sample (the FAISS
    // training protocol; see sampleVectors) replaces the iterative
    // whole-corpus Spark-ML fit and its per-iteration job latency
    val sample = sampleVectors(corpus, 4096, seed)
    if (sample.isEmpty) return emptyTopK(corpus)
    val centroids = lloydLocal(sample, nLists, trainIters, seed)
    // native one-pass cell assignment: the (nLists × dim) centroid
    // matrix rides inside the expression — no broadcast variable, no
    // per-row UDF serialisation boundary
    def cellsOf(emb: Column, probes: Int): Column =
      graft.plans.SketchFunctions.nearestCells(emb, centroids, probes)
    val corpusCells = corpus.select(col("id").as("neighbourId"),
      col("embedding").cast("array<double>").as("c"),
      norm(col("embedding")).as("_nc"),
      explode(cellsOf(col("embedding"), 1)).as("cell"))
    val queryCells = queries.select(col("id").as("queryId"),
      col("embedding").cast("array<double>").as("q"),
      norm(col("embedding")).as("_nq"),
      explode(cellsOf(col("embedding"), nProbe)).as("cell"))
    // same shape as lshTopK: score, then dedup multi-probe collisions
    // with a scalar max — never a first()-over-arrays SortAggregate
    rankTopKAgg(
      queryCells
        .join(corpusCells, Seq("cell"))
        .filter(col("queryId") =!= col("neighbourId"))
        .withColumn("similarity",
          cosineWithNorms(dot(col("q"), col("c")), col("_nq"), col("_nc")))
        .groupBy("queryId", "neighbourId")
        .agg(max(col("similarity")).as("similarity")), k)
  }

  // ------------------------------------------------ distributed k-means

  /** Converged (or iteration-capped) k-means model: `centroids(i)` is
    * cell i; `maxShift` is the largest centroid movement of the last
    * Lloyd round (≤ tol ⟺ converged). */
  case class KMeansModel(centroids: Array[Array[Double]], iterations: Int,
                         maxShift: Double)

  /** Full-corpus Lloyd k-means — the complement of the sampled
    * [[lloydLocal]] training the ANN indexes use. Sampling is the
    * right protocol when centroids are only a coarse QUANTISER (IVF
    * cells: quality saturates at ~100 points/centroid); this operator
    * is for when the cluster structure itself is the product — SemDeDup
    * cells, topic balancing, curriculum binning — and must reflect
    * every corpus row, not a 4096-row sample.
    *
    * Scale shape per iteration: one scan of the persisted input with
    * the (k × dim) centroid matrix riding inside the native
    * [[graft.plans.NearestCells]] expression (no join, no broadcast
    * variable), then a (cell, dim) hash-groupBy whose map-side partial
    * state is ≤ k·dim entries per partition — the shuffle carries
    * partitions × k·dim partial sums, never corpus rows. Driver state
    * is the model itself (k·dim doubles) — the same order as any
    * broadcast centroid model. Iterations stop at `tol` max centroid
    * shift or `maxIter`. Initial centroids are k deterministic
    * seeded-hash-ordered rows (TakeOrdered, no full sort); empty cells
    * keep their previous centroid (count 0 never divides). */
  def kmeansFit(embeddings: DataFrame, k: Int, maxIter: Int = 20,
                tol: Double = 1e-6, seed: Long = 42L,
                idCol: String = "id", vecCol: String = "embedding",
                cache: graft.core.CacheHandle): KMeansModel = {
    require(k > 0, "k must be positive")
    require(maxIter > 0, "maxIter must be positive")
    val e = cache.persist(
      embeddings.select(col(vecCol).cast("array<double>").as("e")))
    var cents: Array[Array[Double]] = embeddings
      .select(col(vecCol).cast("array<double>").as("e"),
        xxhash64(col(idCol), lit(seed)).as("_h"))
      .orderBy(col("_h")).limit(k)
      .collect().map(_.getSeq[Double](0).toArray)
    require(cents.nonEmpty, "kmeansFit needs a non-empty corpus")
    var iter = 0
    var shift = Double.MaxValue
    while (iter < maxIter && shift > tol) {
      val upd = e.select(
          graft.plans.SketchFunctions.nearestCells(col("e"), cents, 1)
            .getItem(0).as("cell"),
          posexplode(col("e")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        // nano-unit integer addends (the repo's integer-quantised-sums
        // pattern): long sums are order-independent, so the fitted
        // centroids are BIT-DETERMINISTIC across partitionings — a
        // float sum here could flip near-tie cell assignments between
        // otherwise-identical runs
        .agg(sum(round(col("v") * 1e9).cast("long")).as("s"),
          count(lit(1)).as("n"))
        .collect()
      val next = cents.map(_.clone)
      upd.foreach { r =>
        next(r.getInt(0))(r.getInt(1)) =
          r.getLong(2).toDouble / 1e9 / r.getLong(3)
      }
      shift = cents.indices.map { i =>
        var s = 0.0
        var j = 0
        while (j < cents(i).length) {
          val d = cents(i)(j) - next(i)(j); s += d * d; j += 1
        }
        math.sqrt(s)
      }.max
      cents = next
      iter += 1
    }
    KMeansModel(cents, iter, shift)
  }

  /** Cell assignment under a trained model: (id, embedding, cell),
    * squared-L2 argmin with ties to the lower cell index — one native
    * expression per row, no join. */
  def kmeansAssign(embeddings: DataFrame, centroids: Array[Array[Double]],
                   idCol: String = "id",
                   vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol).as("id"),
        col(vecCol).cast("array<double>").as("embedding"))
      .withColumn("cell",
        graft.plans.SketchFunctions.nearestCells(col("embedding"), centroids, 1)
          .getItem(0))

  /** Model centroids as a (id, embedding) frame — the shape
    * [[semanticDupPairs]] takes, so a full-corpus k-means can seed the
    * SemDeDup cells instead of a modular-arithmetic centroid pick. */
  def kmeansCentroids(s: SparkSession, model: KMeansModel): DataFrame = {
    import s.implicits._
    model.centroids.zipWithIndex
      .map { case (c, i) => (i.toLong, c.toSeq) }.toSeq
      .toDF("id", "embedding")
  }

  // ---------------------------------------------------------------- PCA

  /** PCA model: `components(r)` is the r-th principal axis (rows
    * orthonormal, eigenvalue-descending, sign-canonicalised so the
    * largest-|component| entry is positive). */
  case class PcaModel(mean: Array[Double], components: Array[Array[Double]],
                      eigenvalues: Array[Double], nRows: Long)

  /** One-pass distributed PCA — the dim-reduction preprocessing the
    * embedding pipeline wants before IVF-PQ (FAISS's PCAR transform).
    * The corpus contributes exactly one scan: the native
    * [[graft.plans.VectorOuterSumAgg]] reduces n×d vectors to a
    * (1 + d + d(d+1)/2)-double sufficient statistic with map-side
    * partial merges, and the d×d eigenproblem is solved on the driver
    * with cyclic Jacobi — model-sized work, like every other
    * broadcast-model fit here. No n×d² explode, no MLlib RowMatrix
    * detour through RDDs. */
  def pcaFit(embeddings: DataFrame, k: Int,
             vecCol: String = "embedding"): PcaModel = {
    require(k > 0, "k must be positive")
    val e = embeddings.select(col(vecCol).cast("array<double>").as("v"))
    val first = e.take(1)
    require(first.nonEmpty, "pcaFit needs a non-empty corpus")
    val d = first(0).getSeq[Double](0).length
    require(k <= d, s"cannot keep $k components of $d dimensions")
    val flat = e.agg(graft.plans.VectorStats.outerSums(col("v"), d).as("f"))
      .head().getSeq[Double](0).toArray
    val n = flat(0)
    require(n > 0, "pcaFit needs at least one row")
    val mean = Array.tabulate(d)(i => flat(1 + i) / n)
    val cov = Array.ofDim[Double](d, d)
    var off = 1 + d
    var i = 0
    while (i < d) {
      var j = i
      while (j < d) {
        val c = flat(off + (j - i)) / n - mean(i) * mean(j)
        cov(i)(j) = c
        cov(j)(i) = c
        j += 1
      }
      off += d - i
      i += 1
    }
    val (evals, evecs) = jacobiEigen(cov)
    val order = evals.indices.sortBy(r => (-evals(r), r)).take(k)
    val comps = order.map { r =>
      val v = Array.tabulate(d)(row => evecs(row)(r))
      // canonical sign: largest-|entry| positive (ties to the first)
      val pivot = v.indices.maxBy(x => (math.abs(v(x)), -x))
      if (v(pivot) < 0) v.map(-_) else v
    }.toArray
    PcaModel(mean, comps, order.map(evals).toArray, n.toLong)
  }

  /** Project rows into a fitted model's components: (id, projection)
    * with projection = W(x − mean), one native expression per row. */
  def pcaTransform(embeddings: DataFrame, model: PcaModel,
                   idCol: String = "id",
                   vecCol: String = "embedding"): DataFrame =
    embeddings.select(col(idCol).as("id"),
      graft.plans.VectorStats.project(
        col(vecCol).cast("array<double>"), model.components, model.mean)
        .as("projection"))

  /** Cyclic Jacobi eigendecomposition of a symmetric matrix:
    * (eigenvalues, eigenvector MATRIX with eigenvectors as columns).
    * O(d³) per sweep, converges quadratically; d here is an embedding
    * width (≤ a few thousand), driver-side by design. */
  private def jacobiEigen(
      a: Array[Array[Double]]): (Array[Double], Array[Array[Double]]) = {
    val d = a.length
    val m = a.map(_.clone())
    val v = Array.tabulate(d, d)((i, j) => if (i == j) 1.0 else 0.0)
    val scale = math.max(m.map(_.map(math.abs).max).max, 1e-300)
    var sweep = 0
    var offNorm = Double.MaxValue
    while (sweep < 100 && offNorm > 1e-24 * scale * scale) {
      offNorm = 0.0
      var p = 0
      while (p < d - 1) {
        var q = p + 1
        while (q < d) {
          val apq = m(p)(q)
          offNorm += 2 * apq * apq
          if (math.abs(apq) > 1e-300) {
            val theta = (m(q)(q) - m(p)(p)) / (2 * apq)
            val at = math.abs(theta)
            val t =
              if (theta == 0.0) 1.0 // 45° rotation
              else {
                // past ~1e150, theta² overflows to Inf and the exact
                // form underflows to ±0.0 (a no-op rotation that
                // stalls the sweep); the asymptote 1/(2θ) is exact to
                // machine precision there
                val tt = if (at > 1e150) 1.0 / (2.0 * at)
                         else 1.0 / (at + math.sqrt(theta * theta + 1.0))
                if (theta < 0) -tt else tt
              }
            val c = 1 / math.sqrt(t * t + 1)
            val s = t * c
            var r = 0
            while (r < d) {
              val mrp = m(r)(p); val mrq = m(r)(q)
              m(r)(p) = c * mrp - s * mrq
              m(r)(q) = s * mrp + c * mrq
              r += 1
            }
            r = 0
            while (r < d) {
              val mpr = m(p)(r); val mqr = m(q)(r)
              m(p)(r) = c * mpr - s * mqr
              m(q)(r) = s * mpr + c * mqr
              val vrp = v(r)(p); val vrq = v(r)(q)
              v(r)(p) = c * vrp - s * vrq
              v(r)(q) = s * vrp + c * vrq
              r += 1
            }
          }
          q += 1
        }
        p += 1
      }
      sweep += 1
    }
    // offNorm is measured at the START of the last sweep, so this only
    // trips when 100 full sweeps still left off-diagonal mass — wrong
    // eigenvectors must fail loudly, never flow into a PCA model
    if (offNorm > 1e-12 * scale * scale)
      throw new IllegalStateException(
        s"jacobiEigen failed to converge in $sweep sweeps " +
          s"(off-diagonal norm $offNorm, scale $scale)")
    (Array.tabulate(d)(i => m(i)(i)), v)
  }

  /** Deterministic bounded training sample: xxhash64-ordered top
    * maxTrain rows (TakeOrderedAndProject — no full sort at scale).
    * Codebook training on a bounded sample is the FAISS protocol;
    * training quality saturates around 100–256 points per centroid,
    * so pulling the WHOLE corpus through an iterative fit (the first
    * cut here: 17 Spark-ML KMeans fits) only buys scheduling
    * overhead — measured 17.2 s/query at sf0.1 vs sub-second for a
    * 4k-sample driver-side Lloyd. */
  private def sampleVectors(df: DataFrame, maxTrain: Int,
                            seed: Long): Array[Array[Double]] =
    df.select(col("embedding").cast("array<double>").as("e"),
        xxhash64(col("id"), lit(seed)).as("_h"))
      .orderBy(col("_h")).limit(maxTrain)
      .collect().map(_.getSeq[Double](0).toArray)

  /** Deterministic uniform in [0, 1] for draw index `j`: the signed
    * two-round xxhash64 ratio mapped affinely — the same pure
    * function on every engine (the DuckDB oracle replays it with the
    * HUGEINT xxhash64 kernel), unlike a java.util.Random stream whose
    * threaded state and rejection loops resist a SQL replay. */
  private def hashUniform(j: Long, seed: Long): Double =
    (graft.plans.Sketches.hashTwoLongs(j, seed).toDouble /
      Long.MaxValue.toDouble + 1.0) / 2.0

  /** Seeded Lloyd iterations on a driver-side sample, k-means++
    * initialisation (next centre drawn ∝ D² — random init costs
    * measurable recall through unbalanced cells); empty clusters
    * reseed to a pseudo-random sample point so k centres always come
    * back.
    *
    * Every stochastic draw is a [[hashUniform]] of a disjoint call
    * index (0 = init pick, 1..k−1 = the D² targets, 1e6 + it·k + c =
    * empty-cell reseeds), and the D² selection WEIGHTS and centroid
    * UPDATE sums fold integer nano-quantised addends — so the whole
    * trainer is a pure function of (sample, k, iters, seed),
    * bit-identical across engines and replayable by the DuckDB
    * oracle as unrolled SQL blocks. Assignment argmin distances stay
    * raw doubles (exact ascending-dim folds on both sides); the 1e-9
    * grid on the weights only perturbs which near-tied point a D²
    * draw lands on — statistically immaterial. */
  private def lloydLocal(pts: Array[Array[Double]], k: Int, iters: Int,
                         seed: Long): Array[Array[Double]] = {
    val n = pts.length
    val d = pts(0).length
    val kk = math.min(k, n)
    // The 1e9-grid integer folds (D² weights, centroid sums) assume
    // unit-scale components: a squared distance above ~9.2e9 saturates
    // its Long addend and the `total` accumulator (n ≤ 4096 addends)
    // can wrap negative, degenerating the k-means++ picks. Bound it up
    // front — max pairwise dist² ≤ 4·d·maxAbs², and the n-fold total
    // must stay under Long.MaxValue — instead of silently training a
    // broken codebook. Embeddings at this scale should be normalised
    // (or the caller rescales) before training; the guard never fires
    // on unit-ish data (d=64, n=4096 admits maxAbs ≈ 94).
    var maxAbs = 0.0
    var mp = 0
    while (mp < n) {
      var mi = 0
      while (mi < d) {
        val a = math.abs(pts(mp)(mi)); if (a > maxAbs) maxAbs = a; mi += 1
      }
      mp += 1
    }
    require(4.0 * d * maxAbs * maxAbs * 1e9 * n < Long.MaxValue.toDouble,
      s"lloydLocal: component magnitude $maxAbs too large for the " +
        s"integer-quantised trainer (d=$d, n=$n) — normalise or rescale " +
        "embeddings before ANN index training")
    def pickIdx(j: Long): Int =
      math.min((hashUniform(j, seed) * n).toInt, n - 1)
    val cents = new Array[Array[Double]](kk)
    cents(0) = pts(pickIdx(0L)).clone
    val d2N = Array.fill(n)(Long.MaxValue)
    var picked = 1
    while (picked < kk) {
      val last = cents(picked - 1)
      var total = 0L
      var p = 0
      while (p < n) {
        var dist = 0.0
        var i = 0
        while (i < d) { val df = pts(p)(i) - last(i); dist += df * df; i += 1 }
        val dn = math.floor(dist * 1e9 + 0.5).toLong
        if (dn < d2N(p)) d2N(p) = dn
        total += d2N(p)
        p += 1
      }
      val target = hashUniform(picked.toLong, seed) * total.toDouble
      var pick = 0
      p = 0
      var acc = 0L
      while (p < n && (acc + d2N(p)).toDouble < target) {
        acc += d2N(p); pick = p + 1; p += 1
      }
      cents(picked) = pts(math.min(pick, n - 1)).clone
      picked += 1
    }
    var it = 0
    while (it < iters) {
      val sums = Array.fill(kk, d)(0L)
      val cnts = new Array[Int](kk)
      var p = 0
      while (p < n) {
        val pt = pts(p)
        var best = 0
        var bd = Double.MaxValue
        var c = 0
        while (c < kk) {
          var dist = 0.0
          var i = 0
          while (i < d) { val df = pt(i) - cents(c)(i); dist += df * df; i += 1 }
          if (dist < bd) { bd = dist; best = c }
          c += 1
        }
        cnts(best) += 1
        var i = 0
        while (i < d) {
          sums(best)(i) += math.floor(pt(i) * 1e9 + 0.5).toLong; i += 1
        }
        p += 1
      }
      var c = 0
      while (c < kk) {
        if (cnts(c) > 0) {
          var i = 0
          while (i < d) {
            cents(c)(i) = (sums(c)(i).toDouble / 1e9) / cnts(c); i += 1
          }
        } else cents(c) = pts(pickIdx(1000000L + it.toLong * kk + c)).clone
        c += 1
      }
      it += 1
    }
    cents
  }

  /** Train product-quantisation codebooks: dims split into `m`
    * contiguous subspaces, k-means with `kCodes` centres per subspace
    * over a bounded deterministic sample (see [[sampleVectors]]; the
    * result is m·kCodes·(d/m) doubles — a few KB that rides in the
    * plan). Requires d divisible by m. */
  def pqTrain(corpus: DataFrame, m: Int, kCodes: Int = 16,
              seed: Long = 42L, trainIters: Int = 5,
              maxTrain: Int = 4096): Array[Array[Array[Double]]] = {
    val pts = sampleVectors(corpus, maxTrain, seed)
    require(pts.nonEmpty, "pqTrain: cannot train on an empty corpus")
    val d = pts(0).length
    require(d % m == 0, s"dim $d not divisible by $m subspaces")
    val subDim = d / m
    Array.tabulate(m) { s =>
      lloydLocal(pts.map(p =>
        java.util.Arrays.copyOfRange(p, s * subDim, (s + 1) * subDim)),
        kCodes, trainIters, seed + s)
    }
  }

  /** IVF-PQ approximate top-k: coarse k-means cells bound the
    * candidate set (as in [[ivfTopK]]) and candidates are scored by
    * ASYMMETRIC DISTANCE — the corpus side carries only its PQ codes
    * (m bytes per vector instead of d floats: the memory path that
    * lets a 100 TB embedding corpus live in cluster RAM), the query
    * side precomputes a per-query lookup table once, and each pair
    * costs m table lookups instead of a d-dim dot product
    * (Jégou et al., "Product quantization for nearest neighbor
    * search", TPAMI 2011). Two fidelity measures make the quantised
    * ranking track the cosine baseline (both verified necessary on
    * the test table — without them recall was 1/25):
    *  - vectors are L2-NORMALISED first, so inner product = cosine;
    *  - codes encode the RESIDUAL x − centroid(cell) (the FAISS IVFPQ
    *    formulation): score = q·centroid + adc(q, residual codes),
    *    where q·centroid is exact per (query, probed cell) and only
    *    the much-smaller residual bears quantisation error;
    *  - the ADC shortlist (top k·refineFactor per query) is RE-RANKED
    *    by the exact cosine (FAISS's refine stage): full vectors are
    *    fetched for only k·refineFactor rows per query, so at 100 TB
    *    the scan cost stays m bytes/vector and the exact math touches
    *    a per-query constant. `refineFactor = 0` disables refinement
    *    and returns raw ADC scores.
    * Rank quality is then governed by (m, kCodes, refineFactor); m
    * must divide d.
    *
    * Build/search split: [[pqIndexBuild]] trains the model and encodes
    * the corpus ONCE; [[pqIndexWrite]]/[[pqIndexRead]] persist both as
    * parquet (build once over the 100 TB corpus, search many times
    * against m-byte codes); [[pqSearch]] runs queries against an
    * index. This method is the one-shot composition. */
  def pqTopK(corpus: DataFrame, queries: DataFrame, k: Int,
             m: Int = 8, kCodes: Int = 16, nLists: Int = 16,
             nProbe: Int = 3, seed: Long = 42L,
             trainIters: Int = 5, refineFactor: Int = 4): DataFrame = {
    pqIndexBuildOpt(corpus, m, kCodes, nLists, seed, trainIters) match {
      case None => emptyTopK(corpus, "score") // empty corpus: no index
      case Some((index, codes)) =>
        pqSearch(index, codes, queries, k, nProbe,
          if (refineFactor > 0) Some(corpus) else None, refineFactor)
    }
  }

  /** Trained IVF-PQ model: coarse centroids + per-subspace residual
    * codebooks. A few KB of doubles — rides in plans as literals. */
  final case class PqIndex(coarse: Array[Array[Double]],
                           books: Array[Array[Array[Double]]])

  private def unitVectors(df: DataFrame): DataFrame = df.select(col("id"),
    transform(col("embedding").cast("array<double>"),
      x => x / norm(col("embedding"))).as("embedding"))

  /** Train the coarse quantiser + residual codebooks (driver-side
    * sampled Lloyd — see [[sampleVectors]]) and encode the corpus to
    * its (neighbourId, cell, m-byte codes) index frame. */
  def pqIndexBuild(corpus: DataFrame, m: Int = 8, kCodes: Int = 16,
                   nLists: Int = 16, seed: Long = 42L,
                   trainIters: Int = 5): (PqIndex, DataFrame) = {
    val built = pqIndexBuildOpt(corpus, m, kCodes, nLists, seed, trainIters)
    require(built.nonEmpty, "pqIndexBuild: cannot train on an empty corpus")
    built.get
  }

  /** [[pqIndexBuild]] that answers None on an empty corpus — the
    * sample collect doubles as the emptiness probe, so graceful
    * callers (pqTopK) pay no extra job on the hot path. */
  private def pqIndexBuildOpt(corpus: DataFrame, m: Int, kCodes: Int,
                              nLists: Int, seed: Long,
                              trainIters: Int): Option[(PqIndex, DataFrame)] = {
    val corpusN = unitVectors(corpus)
    val sample = sampleVectors(corpusN, 4096, seed)
    if (sample.isEmpty) return None
    val coarse = lloydLocal(sample, nLists, trainIters, seed)
    // residual books train on the SAME driver-side sample (residuals
    // derived locally against `coarse`) — zero extra cluster jobs
    val d = sample(0).length
    require(d % m == 0, s"dim $d not divisible by $m subspaces")
    val subDim = d / m
    val resSample = sample.map { p =>
      var best = 0
      var bd = Double.MaxValue
      var c = 0
      while (c < coarse.length) {
        var dist = 0.0
        var i = 0
        while (i < d) { val df = p(i) - coarse(c)(i); dist += df * df; i += 1 }
        if (dist < bd) { bd = dist; best = c }
        c += 1
      }
      val r = new Array[Double](d)
      var i = 0
      while (i < d) { r(i) = p(i) - coarse(best)(i); i += 1 }
      r
    }
    val books = Array.tabulate(m) { s =>
      lloydLocal(resSample.map(p =>
        java.util.Arrays.copyOfRange(p, s * subDim, (s + 1) * subDim)),
        kCodes, trainIters, seed + s)
    }
    // corpus rows reduce to (cell, codes) via the shared encode path:
    // the full embedding never crosses the candidate join
    val idx = PqIndex(coarse, books)
    Some((idx, pqEncode(idx, corpus)))
  }

  /** Encode rows against an EXISTING model — the incremental-append
    * path: a corpus delta joins a built index without retraining
    * (write the result under the same cell-partitioned layout and the
    * index grows in place; FAISS's add-without-train). Centroids
    * drift as the corpus does, so periodic rebuilds still apply —
    * but per-delta cost drops from train+encode to encode-only. */
  def pqEncode(index: PqIndex, rows: DataFrame): DataFrame = {
    val centLit = array(index.coarse.map(c => array(c.map(lit): _*)): _*)
    unitVectors(rows)
      .withColumn("cell", explode(graft.plans.SketchFunctions
        .nearestCells(col("embedding"), index.coarse, 1)))
      .withColumn("residual", zip_with(col("embedding"),
        element_at(centLit, col("cell") + 1), (a, b) => a - b))
      .select(col("id").as("neighbourId"), col("cell"),
        graft.plans.SketchFunctions.pqCodes(col("residual"), index.books)
          .as("codes"))
  }

  /** Persist an IVF-PQ index: the model as a tiny (subspace, centre,
    * vec) parquet (subspace −1 = coarse centroids), the codes frame
    * partitioned BY CELL so a search probing nProbe cells prunes its
    * scan to nProbe/nLists of the index files. */
  def pqIndexWrite(index: PqIndex, codes: DataFrame, path: String): Unit = {
    val s = codes.sparkSession
    import s.implicits._
    val coarseRows = index.coarse.zipWithIndex.map { case (v, c) =>
      (-1, c, v.toSeq) }.toSeq
    val bookRows = for {(book, sub) <- index.books.zipWithIndex.toSeq
                        (v, c) <- book.zipWithIndex} yield (sub, c, v.toSeq)
    (coarseRows ++ bookRows).toDF("subspace", "centre", "vec")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/model")
    codes.write.mode("overwrite").partitionBy("cell").parquet(s"$path/codes")
  }

  /** Load an index persisted by [[pqIndexWrite]]. */
  def pqIndexRead(s: SparkSession, path: String): (PqIndex, DataFrame) = {
    val rows = graft.Tables.read(s, s"$path/model")
      .select("subspace", "centre", "vec").collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Double](2).toArray))
    val coarse = rows.filter(_._1 == -1).sortBy(_._2).map(_._3)
    val books = rows.filter(_._1 >= 0).groupBy(_._1).toArray.sortBy(_._1)
      .map(_._2.sortBy(_._2).map(_._3))
    (PqIndex(coarse, books), graft.Tables.read(s, s"$path/codes"))
  }

  /** Search an IVF-PQ index (see [[pqTopK]] for the scoring model).
    * `refineCorpus` supplies full vectors for the exact re-rank of the
    * ADC shortlist; None returns raw ADC scores. */
  def pqSearch(index: PqIndex, codes: DataFrame, queries: DataFrame,
               k: Int, nProbe: Int = 3,
               refineCorpus: Option[DataFrame] = None,
               refineFactor: Int = 4): DataFrame = {
    val coarse = index.coarse
    val books = index.books
    val centLit = array(coarse.map(c => array(c.map(lit): _*)): _*)
    val queriesN = unitVectors(queries)
    val queryLuts = queriesN.select(col("id").as("queryId"), col("embedding"),
        graft.plans.SketchFunctions.pqLut(col("embedding"), books).as("lut"))
      .select(col("queryId"), col("lut"), col("embedding"),
        explode(graft.plans.SketchFunctions
          .nearestCells(col("embedding"), coarse, nProbe)).as("cell"))
      .withColumn("cellDot",
        dot(col("embedding"), element_at(centLit, col("cell") + 1)))
      .drop("embedding")
    // a corpus row lives in exactly one cell, so each (query, corpus)
    // pair appears at most once — no dedup needed; the heap-aggregate
    // rank ships k (or k·refineFactor) entries per partition instead
    // of shuffling the probed candidate rows
    val scored = queryLuts
      .join(codes, Seq("cell"))
      .filter(col("queryId") =!= col("neighbourId"))
      .withColumn("score", col("cellDot") +
        graft.plans.SketchFunctions.pqAdc(col("codes"), col("lut")))
    refineCorpus match {
      case None => rankTopKAgg(scored, k, "score")
      case Some(corpus) =>
        rankTopKAgg(
          rankTopKAgg(scored, k * refineFactor, "score")
            .select("queryId", "neighbourId")
            .join(unitVectors(corpus).select(col("id").as("neighbourId"),
              col("embedding").as("_c")), Seq("neighbourId"))
            .join(queriesN.select(col("id").as("queryId"),
              col("embedding").as("_q")), Seq("queryId"))
            .withColumn("score", dot(col("_q"), col("_c"))), k, "score")
    }
  }

  /** Per-dimension scalar-quantisation model: unit-vector min/max per
    * dim (the FAISS SQ8 formulation). ~2·d doubles of driver state. */
  final case class SqModel(mins: Array[Double], maxs: Array[Double]) {
    require(mins.length == maxs.length, "min/max dimension mismatch")
    /** (max−min)/255 per dim; 0 for constant dims. */
    def scales: Array[Double] =
      mins.zip(maxs).map { case (mn, mx) => (mx - mn) / 255.0 }
  }

  /** Train the SQ8 range model: one aggregate over the unit-sphere
    * corpus (per-dim min/max through [[graft.plans.VectorPoolAgg]] —
    * map-side combine, a 2·(d+1)-long shuffle row per partition),
    * collected as 2 tiny arrays. Unlike PQ's sampled codebooks this
    * trains on the FULL corpus in one pass — exact ranges, no
    * sampling seed. */
  def sqTrain(corpus: DataFrame): SqModel = {
    val u = unitVectors(corpus)
    val row = u.agg(
      graft.plans.VectorStats.minPool(col("embedding")).as("_mn"),
      graft.plans.VectorStats.maxPool(col("embedding")).as("_mx"))
      .head()
    require(!row.isNullAt(0), "sqTrain: empty corpus")
    SqModel(row.getSeq[Double](0).toArray, row.getSeq[Double](1).toArray)
  }

  /** Encode unit vectors to per-dim uint8 codes (array<int> holding
    * 0..255): code = round((x−min)/(max−min)·255) clamped — a 4×
    * memory cut over float32 that keeps the scan brute-force exact in
    * code space. Constant dims encode 0. */
  def sqEncode(model: SqModel, rows: DataFrame): DataFrame = {
    val mnLit = array(model.mins.map(lit): _*)
    val spanLit = array(model.mins.zip(model.maxs)
      .map { case (mn, mx) => lit(mx - mn) }: _*)
    unitVectors(rows).select(col("id").as("neighbourId"),
      transform(col("embedding"), (x, i) => {
        val mn = element_at(mnLit, i + 1)
        val span = element_at(spanLit, i + 1)
        when(span === 0.0, 0).otherwise(
          greatest(lit(0), least(lit(255),
            floor((x - mn) / span * 255.0 + 0.5).cast("int"))))
      }).as("codes"))
  }

  /** Search SQ8 codes: per query build the d-double LUT w = q·scale
    * once, so each (query, code row) pair costs a single dot —
    * score = Σ qᵢ·minᵢ + Σ wᵢ·cᵢ ≈ cos(q, x). Approximation error is
    * the quantisation step (≲ 0.4% of each dim's range), so recall@k
    * is near-1 while the scanned bytes drop 4×; at 100 TB partition
    * the codes by IVF cell ([[pqIndexWrite]] layout) and this scan
    * prunes to the probed cells. Fully deterministic — no sampled
    * codebooks, no hash seeds — hence DuckDB-replayable end to end. */
  def sqTopK(model: SqModel, codes: DataFrame, queries: DataFrame,
             k: Int): DataFrame = {
    require(k > 0, "k must be positive")
    val mnLit = array(model.mins.map(lit): _*)
    val scaleLit = array(model.scales.map(lit): _*)
    val qs = unitVectors(queries).select(col("id").as("queryId"),
      dot(col("embedding"), mnLit).as("_const"),
      zip_with(col("embedding"), scaleLit, (q, s) => q * s).as("_w"))
    val scored = codes.crossJoin(broadcast(qs))
      .filter(col("queryId") =!= col("neighbourId"))
      .withColumn("score",
        col("_const") + dot(col("_w"), col("codes").cast("array<double>")))
    rankTopKAgg(scored, k, "score")
  }

  /** Recall@k of an approximate top-k result against the exact one:
    * per query, |approx ∩ exact| / |exact|, plus a corpus-level mean
    * row (queryId NULL) — the evaluation loop for tuning (tables,
    * planesPerTable) / (m, kCodes, nLists, nProbe). Run it on a
    * SAMPLED query set: the exact side is the brute-force scan, so
    * the evaluation cost is nQueries × corpus, not corpus². */
  def recallReport(approx: DataFrame, exact: DataFrame): DataFrame = {
    val perQuery = exact.select(col("queryId"), col("neighbourId"))
      .join(approx.select(col("queryId"), col("neighbourId"))
        .withColumn("_hit", lit(1)), Seq("queryId", "neighbourId"), "left")
      .groupBy("queryId")
      .agg((sum(coalesce(col("_hit"), lit(0))) /
        count(lit(1))).as("recall"))
    perQuery.unionByName(perQuery.agg(
      lit(null).cast(perQuery.schema("queryId").dataType).as("queryId"),
      avg(col("recall")).as("recall")))
  }

  /** Pool chunk embeddings to one vector per group — the standard
    * chunk-embeddings → document-embedding reduction (long documents
    * are embedded per chunk; retrieval and dedup then want one doc
    * vector). `method` = "mean" (bit-deterministic across
    * partitionings via nano-unit fixed-point accumulation — see
    * [[graft.plans.VectorPoolAgg]]) or "max" (element-wise maximum).
    * One hash aggregate with map-side combine: the shuffle carries
    * (d+1) longs per (partition, group), never the chunk rows. Rows
    * with a null embedding are ignored; a group of only-null rows is
    * dropped. */
  def poolEmbeddings(chunks: DataFrame, groupCol: String,
                     embCol: String = "embedding",
                     method: String = "mean"): DataFrame = {
    val agg = method match {
      case "mean" => graft.plans.VectorStats.meanPool(col(embCol))
      case "max" => graft.plans.VectorStats.maxPool(col(embCol))
      case other =>
        throw new IllegalArgumentException(s"unknown pool method '$other'")
    }
    chunks.groupBy(col(groupCol))
      .agg(agg.as("embedding"))
      .filter(col("embedding").isNotNull)
  }

  /** Exact all-pairs cosine near-duplicates (id-ordered, one row per
    * pair) — the O(n²) correctness baseline and the DuckDB-mirrorable
    * oracle for [[embeddingDupPairs]]; use the LSH variant at scale. */
  def bruteForceDupPairs(df: DataFrame, threshold: Double): DataFrame =
    df.select(col("id").as("idA"), col("embedding").as("a"),
      norm(col("embedding")).as("_na"))
      .join(df.select(col("id").as("idB"), col("embedding").as("b"),
        norm(col("embedding")).as("_nb")),
        col("idA") < col("idB"))
      .withColumn("similarity",
        cosineWithNorms(dot(col("a"), col("b")), col("_na"), col("_nb")))
      .filter(col("similarity") >= threshold)
      .select("idA", "idB", "similarity")

  /** All near-duplicate pairs by embedding cosine ≥ threshold, LSH
    * bucketed (candidates must share the full signature). */
  def embeddingDupPairs(df: DataFrame, threshold: Double = 0.95,
                        planes: Int = 8, seed: Long = 42L): DataFrame = {
    val sig = df.select(col("id"), col("embedding"),
      rhpSignature(col("embedding"), planes, seed).as("sig"))
    sig.alias("a")
      .join(sig.alias("b"),
        col("a.sig") === col("b.sig") && col("a.id") < col("b.id"))
      .withColumn("similarity", cosine(col("a.embedding"), col("b.embedding")))
      .filter(col("similarity") >= threshold)
      .select(col("a.id").as("idA"), col("b.id").as("idB"), col("similarity"))
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023): every
    * embedding is assigned to its most-cosine-similar seed centroid,
    * then near-duplicate pairs are searched WITHIN clusters only —
    * the pigeonhole that turns the all-pairs scan into per-cluster
    * blocks. `centroids` is a small deterministic seed frame (id,
    * embedding) — e.g. a fixed modulus of the corpus ids or k-means
    * centres from [[ivfTopK]]'s trainer; it broadcasts, so assignment
    * is one map-side pass + one per-id top-1 (no driver model state,
    * and the pipeline stays SQL-mirrorable for the oracle, unlike the
    * k-means path). Ties (equal similarity) resolve to the smallest
    * centroid id. Returns (cell, idA, idB, similarity) with idA<idB
    * and cosine ≥ threshold. Dropping every idB leaves exactly the
    * SemDeDup survivor set (keep-lowest-id policy).
    *
    * Hot-cell cap: a cell of size m yields m²/2 candidate pairs, and
    * real embedding corpora routinely have one dominant cluster (or a
    * degenerate centroid set), which turns the within-cell self-join
    * quadratic at corpus scale. Cells above `maxCellSize` rows are
    * excluded from the pair search (a coverage knob, same contract as
    * [[Dedup.minhashDupPairs]]'s band-bucket cap: re-centroid or raise
    * the cap to recover them). The hot-cell set is derived with a
    * groupBy (map-side partial counts) and removed with a broadcast
    * anti-join — tiny by construction, so the cap adds no shuffle to
    * the candidate join itself. The assignment frame is persisted via
    * `cache` (it feeds the cell counts and both self-join sides); call
    * `cache.release()` after consuming.
    *
    * Assignment is one tight in-row argmax over the collected
    * (KB-scale, id-ordered) centroid matrix via
    * [[graft.plans.NearestCells]] on UNIT-NORMALISED centroids:
    * argmin ‖x−ĉ‖² ≡ argmax x·ĉ ≡ argmax cos(x, c), with equal-cosine
    * ties resolving to the lower centroid id on both formulations.
    * The r9 sf10 scale rehearsal killed the previous formulation
    * (corpus × centroids crossJoin + per-id window top-1): with seed
    * counts proportional to the corpus it materialised N²/100
    * embedding-carrying rows through a spilling sort — 15+ min at
    * 200k×2000 where this path takes seconds. */
  def semanticDupPairs(embeddings: DataFrame, centroids: DataFrame,
                       threshold: Double = 0.9,
                       maxCellSize: Long = 100000L,
                       cache: graft.core.CacheHandle): DataFrame = {
    // bounded by contract: the seed frame is small (it previously
    // broadcast); id-ascending order makes NearestCells' ties-by-index
    // equal ties-by-smaller-centId. Zero-norm centroids are dropped:
    // under argmin-L2 a zero vector would compete (d² = ‖x‖²) and
    // capture low-norm embeddings, whereas the cosine formulation this
    // kernel mirrors ranked a null-cosine centroid last (never wins).
    val centRows = centroids
      .select(col("id").cast("long").as("centId"),
        col("embedding").cast("array<double>").as("cv"))
      .orderBy("centId").collect()
      .filter(_.getSeq[Double](1).exists(_ != 0.0))
    require(centRows.nonEmpty,
      "semanticDupPairs needs >= 1 non-zero-norm centroid")
    val centIds = centRows.map(_.getLong(0))
    val centVecs = centRows.map { r =>
      val v = r.getSeq[Double](1).toArray
      val n = math.sqrt(v.map(x => x * x).sum)
      v.map(_ / n)
    }
    val assigned = cache.persist(embeddings
      .select(col("id"), col("embedding"), norm(col("embedding")).as("_n"))
      .withColumn("cell",
        element_at(
          typedLit(centIds.toSeq),
          graft.plans.SketchFunctions
            .nearestCells(col("embedding").cast("array<double>"), centVecs, 1)
            .getItem(0) + 1)))
    val hotCells = assigned
      .groupBy("cell").agg(count(lit(1)).as("_m"))
      .filter(col("_m") > maxCellSize)
      .select("cell")
    val capped = assigned.join(broadcast(hotCells), Seq("cell"), "left_anti")
    capped.alias("a")
      .join(capped.alias("b"),
        col("a.cell") === col("b.cell") && col("a.id") < col("b.id"))
      .withColumn("similarity",
        cosineWithNorms(dot(col("a.embedding"), col("b.embedding")),
          col("a._n"), col("b._n")))
      .filter(col("similarity") >= threshold)
      .select(col("a.cell").as("cell"), col("a.id").as("idA"),
        col("b.id").as("idB"), col("similarity"))
  }
}
