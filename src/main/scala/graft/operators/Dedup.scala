package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for training-data pipelines: exact,
  * MinHash+LSH, SimHash, and n-gram Jaccard.
  *
  * Scale design: every variant is a pure shuffle-bounded dataflow —
  * no driver collects, no unbounded per-group state. The LSH paths
  * exist precisely so the O(n²) candidate space never materialises:
  * candidates come from equi-joins on (band, bandHash) buckets, which
  * shuffle-partition evenly unless a bucket is pathologically hot
  * (AQE skew-join handles that).
  */
object Dedup {

  // ---------------------------------------------------------------- exact

  /** Keep one row per exact text duplicate group (smallest id wins).
    * A hash-groupBy: winners = HashAggregate(min(id)) keyed on the
    * 128-bit digest with map-side partial combine, then a left-semi
    * join fetches the winning rows — duplicate groups are folded, not
    * sorted. (A min_by(struct) formulation would carry the whole row
    * in the aggregation buffer, which has no mutable form and demotes
    * the plan to SortAggregate; min over a numeric id keeps it hash.) */
  def exactDedup(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val keyed = df.withColumn("__digest", md5(col(textCol)))
    val winners = keyed
      .groupBy("__digest")
      .agg(min(col(idCol)).as(idCol))
    keyed
      .join(winners, Seq("__digest", idCol), "left_semi")
      .drop("__digest")
  }

  /** Spread rows across the session's shuffle parallelism before a
    * CPU-bound per-row sketch. Source layout rarely matches compute
    * cost — a corpus that arrives as few fat files (one file = one
    * partition) serialises the whole tokenise+hash pass onto as many
    * cores; one cheap shuffle of the raw (id, text) rows buys
    * full-width signature compute, and the sketch output is what gets
    * persisted, so the shuffle runs once. */
  private def spread(df: DataFrame, idCol: String): DataFrame =
    df.repartition(col(idCol))

  // ------------------------------------------------------------- shingles

  /** Word n-gram shingles of the normalised text. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextAnalysis.tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - (n - 1)),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(concat_ws(" ", toks)))
  }

  // -------------------------------------------------------------- minhash

  /** k-component MinHash signature over the shingle set. Each
    * component h applies an affine rehash of the shingle hash *mod
    * 2³²* and takes the min — the (a·x+b) mod m family with odd
    * multipliers, each a bijection of the 32-bit hash domain (the mod
    * is essential: without it the map is order-preserving, every
    * component's argmin is the same shingle, and the sketch
    * degenerates to k=1). 32-bit domain keeps the pre-mask products
    * far from ANSI long overflow. Deterministic across runs. */
  def minhashSignature(shingleArr: Column, k: Int): Column =
    transform(sequence(lit(0), lit(k - 1)), h => {
      val a = h * 2 + 1 // odd multiplier per component (<= 2k+1)
      val b = h * lit(0x9E3779B9L)
      // upper 32 bits of xxhash64 -> value in [0, 2^32)
      array_min(transform(shingleArr,
        s => (a * shiftrightunsigned(xxhash64(s), 32) + b)
          .bitwiseAND(lit(0xFFFFFFFFL))))
    })

  /** LSH band keys: hash each band of `rowsPerBand` signature
    * components; docs sharing any band key are candidates. */
  def lshBandKeys(signature: Column, bands: Int, rowsPerBand: Int): Column =
    transform(sequence(lit(0), lit(bands - 1)), b =>
      struct(b.as("band"),
        xxhash64(concat_ws(",",
          transform(slice(signature, b * rowsPerBand + 1, lit(rowsPerBand)),
            c => c.cast("string")))).as("bandHash")))

  /** Estimated Jaccard = fraction of matching signature components. */
  def signatureSimilarity(sigA: Column, sigB: Column): Column =
    aggregate(zip_with(sigA, sigB, (a, b) => when(a === b, 1).otherwise(0)),
      lit(0), (acc, x) => acc + x).cast("double") / size(sigA)

  /** Near-duplicate pairs via MinHash + LSH banding.
    *
    * Pipeline: shingle → signature → band-explode → equi-self-join on
    * (band, bandHash) → distinct candidate pairs → signature-similarity
    * filter. Only bucket-mates are ever compared.
    *
    * Hot-bucket cap: a degenerate band bucket (e.g. near-empty or
    * boilerplate documents collapsing to one signature) of size m
    * yields m²/2 candidate pairs — quadratic at corpus scale. Buckets
    * above `maxBandBucket` are dropped (coverage knob: pairs only
    * reachable through a hot bucket are sacrificed; testdata has
    * none). The hot-bucket set is derived with a groupBy (map-side
    * partial counts, one shuffle of (band,bandHash,count) — NOT a
    * window over the exploded table) and removed with a broadcast
    * anti-join: the set is tiny by construction, so the cap adds no
    * shuffle to the candidate join itself.
    *
    * Caller contract: ONE ROW PER `idCol` value (the repo-wide
    * one-row-per-id contract, cf. TextAnalysis.termFrequencyRows).
    * With duplicate ids the candidate-pair dedup happens BEFORE the
    * signature rejoin, so a duplicated id fans its pairs back out to
    * one row per signature combination.
    *
    * The signature frame is persisted via `cache` — it is the
    * expensive subtree (tokenise + k rehashes per document) and feeds
    * both self-join sides. Call `cache.release()` after consuming.
    */
  def minhashDupPairs(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, maxBandBucket: Int = 100000,
      cache: graft.core.CacheHandle): DataFrame = {
    val rowsPerBand = numHashes / bands
    // native one-pass signature (the HOF formulation re-tokenises per
    // hash component through the interpreter — ~100x slower)
    val signed = cache.persist(spread(df, idCol).select(
      col(idCol).as("id"),
      graft.plans.SketchFunctions
        .minhashSignature(col(textCol), shingleSize, numHashes).as("sig")))
    // SLIM banded frame: (id, band, bandHash) only. Carrying the
    // 64-long signature through the 16x explode and both self-join
    // sides shipped ~18x more shuffle bytes than the keys themselves
    // (measured one-third of the 100x-probe wall); signatures rejoin
    // from the persisted signed frame for just the candidate pairs,
    // which the banding keeps ~linear.
    val banded0 = signed
      .select(col("id"),
        explode(lshBandKeys(col("sig"), bands, rowsPerBand)).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.bandHash"))
    val hotBuckets = banded0
      .groupBy("band", "bandHash").agg(count(lit(1)).as("_n"))
      .filter(col("_n") > maxBandBucket)
      .select("band", "bandHash")
    val banded = banded0
      .join(broadcast(hotBuckets), Seq("band", "bandHash"), "left_anti")
    val pairs = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") &&
          col("a.bandHash") === col("b.bandHash") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("idA"), col("b.id").as("idB"))
      .dropDuplicates("idA", "idB")
    pairs
      .join(signed.select(col("id").as("idA"), col("sig").as("sigA")), Seq("idA"))
      .join(signed.select(col("id").as("idB"), col("sig").as("sigB")), Seq("idB"))
      .withColumn("similarity", signatureSimilarity(col("sigA"), col("sigB")))
      .filter(col("similarity") >= threshold)
      .select("idA", "idB", "similarity")
  }

  // -------------------------------------------------------------- simhash

  /** 64-bit SimHash of the token multiset: per bit position, sum ±1
    * over token hashes and keep the sign. */
  def simhash(text: Column): Column = {
    val toks = TextAnalysis.tokens(text)
    val bits = transform(sequence(lit(0), lit(63)), i =>
      when(
        aggregate(toks, lit(0L), (acc, t) =>
          acc + when(bit_get(xxhash64(t), i) === 1, 1L).otherwise(-1L)) > 0,
        lit(1L)).otherwise(lit(0L)))
    // pack the 64 sign bits with bitwiseOR against literal powers of
    // two (1L << 63 wraps to Long.MinValue, a valid bit pattern) —
    // never overflows, unlike multiply-folds under ANSI mode
    val powers = array((0 until 64).map(i => lit(1L << i)): _*)
    aggregate(
      zip_with(bits, powers, (b, p) => when(b === 1L, p).otherwise(lit(0L))),
      lit(0L), (acc, x) => acc bitwiseOR x)
  }

  /** Hamming distance between two 64-bit SimHashes. */
  def hammingDistance(a: Column, b: Column): Column =
    bit_count(a.bitwiseXOR(b))

  /** SimHash near-dup pairs: block on the 4 16-bit quarters (a pair
    * within Hamming distance 3 of 64 bits must agree on at least one
    * quarter), then filter by exact Hamming distance. */
  def simhashDupPairs(df: DataFrame, textCol: String, idCol: String,
                      maxHamming: Int = 3): DataFrame = {
    val hashed = spread(df, idCol).select(col(idCol).as("id"),
      graft.plans.SketchFunctions.simhash64(col(textCol)).as("sh"))
    val quartered = hashed
      .select(col("id"), col("sh"), posexplode(array(
        col("sh").bitwiseAND(lit(0xFFFFL)),
        shiftright(col("sh"), 16).bitwiseAND(lit(0xFFFFL)),
        shiftright(col("sh"), 32).bitwiseAND(lit(0xFFFFL)),
        shiftright(col("sh"), 48).bitwiseAND(lit(0xFFFFL)))))
      .withColumnsRenamed(Map("pos" -> "q", "col" -> "qh"))
    quartered.alias("a")
      .join(quartered.alias("b"),
        col("a.q") === col("b.q") && col("a.qh") === col("b.qh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("idA"), col("b.id").as("idB"),
        hammingDistance(col("a.sh"), col("b.sh")).as("hamming"))
      .dropDuplicates("idA", "idB")
      .filter(col("hamming") <= maxHamming)
  }

  // ------------------------------------------------------- n-gram jaccard

  /** Exact n-gram Jaccard near-dup pairs via shingle-inverted-index
    * join: explode distinct shingles, equi-join on shingle, count
    * common per pair, Jaccard = |∩| / (|A|+|B|−|∩|). Candidates are
    * only pairs sharing ≥1 shingle.
    *
    * The document frequency of index shingles is capped: a
    * stop-phrase shingle shared by m documents contributes m²/2 join
    * rows — the hot-bucket quadratic that kills this plan at corpus
    * scale. Shingles above the cap are treated as stopwords (removed
    * from both the index and the per-document sizes, so Jaccard is
    * computed over the informative shingle space). The cap derives
    * from the corpus size via [[adaptiveShingleCap]], inside the plan
    * — a FIXED cap is a 100 TB foot-gun (one df=99k shingle under a
    * 100k cap still yields ~4.9e9 candidate pairs). The sf0.1
    * testdata's max shingle df is 25 — far under the cap's 1000
    * floor, so output there is identical with or without it.
    *
    * The stop-shingle set is derived with a groupBy (map-side partial
    * counts — never a window sort-shuffle over the full inverted
    * index) and removed with a broadcast anti-join; the set is tiny by
    * construction. The capped index is persisted via `cache` because
    * it feeds three consumers (per-doc sizes + both self-join sides);
    * call `cache.release()` after consuming, or pass
    * `CacheHandle.disabled` to recompute the explode from the scan
    * instead (preferable when the index exceeds cluster storage
    * memory). */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
                        shingleSize: Int = 3, threshold: Double = 0.8,
                        cache: graft.core.CacheHandle): DataFrame =
    shinglePairStats(df, textCol, idCol, shingleSize, cache)
      .withColumn("jaccard",
        col("common").cast("double") / (col("nA") + col("nB") - col("common")))
      .filter(col("jaccard") >= threshold)
      .select("idA", "idB", "jaccard")

  /** Directed shingle-containment near-dup pairs: for candidate docs
    * sharing ≥1 shingle, emit (idSub, idSuper, containment) where
    * containment = |S(sub) ∩ S(super)| / |S(sub)| ≥ `threshold` —
    * i.e. most of sub's shingle set lives inside super. This is the
    * asymmetric complement of [[ngramJaccardPairs]]: a short document
    * embedded verbatim in a much longer one (a quoted article, a
    * boilerplate-wrapped copy) has containment ≈ 1 but Jaccard ≈
    * |sub|/|super| ≈ 0, so a Jaccard threshold never sees it. Both
    * directions of each undirected candidate pair are scored from ONE
    * intersection count (no second join); a pair of similar sizes can
    * emit both directions.
    *
    * Scale: identical to [[ngramJaccardPairs]] — inverted-index
    * equi-join candidates with the stop-shingle DF cap bounding the
    * hot-bucket quadratic; containment is measured over the
    * informative (capped) shingle space. */
  def containmentPairs(df: DataFrame, textCol: String, idCol: String,
                       shingleSize: Int = 3, threshold: Double = 0.9,
                       cache: graft.core.CacheHandle): DataFrame =
    shinglePairStats(df, textCol, idCol, shingleSize, cache)
      .select(explode(array(
        struct(col("idA").as("idSub"), col("idB").as("idSuper"),
          (col("common").cast("double") / col("nA")).as("containment")),
        struct(col("idB").as("idSub"), col("idA").as("idSuper"),
          (col("common").cast("double") / col("nB")).as("containment"))))
        .as("_d"))
      .select(col("_d.idSub").as("idSub"), col("_d.idSuper").as("idSuper"),
        col("_d.containment").as("containment"))
      .filter(col("containment") >= threshold)

  /** Corpus-size-derived stop-shingle DF cap over the document count
    * `nDocs`: max(1000, nDocs/10⁴), saturating at Int.MaxValue.
    * Bounds the hot-bucket quadratic RELATIVE to scale — at 1e9 docs
    * the cap is 1e5 (a df-at-cap shingle is 0.01% of the corpus: a
    * genuine stop-phrase), while a fixed 1e5 cap at a 1e6-doc corpus
    * would admit a shingle shared by 10% of all documents
    * (~5e9 candidate pairs from one bucket). The 1000 floor keeps
    * small/test corpora exact: at sf0.1 the max observed df is 25. */
  def adaptiveShingleCap(nDocs: Column): Column =
    least(greatest(lit(1000L), (nDocs / 10000).cast("long")),
      lit(Int.MaxValue.toLong))

  /** Per undirected candidate pair (docs sharing ≥1 surviving
    * shingle): (idA, idB, common, nA, nB) with idA < idB — the shared
    * inverted-index core of [[ngramJaccardPairs]] and
    * [[containmentPairs]]. Shingles above [[adaptiveShingleCap]] of
    * the corpus size are stop-phrases: dropped from the index AND the
    * per-doc sizes, so every downstream measure is over the
    * informative shingle space and the m²/2 hot-bucket join blow-up is
    * structurally bounded. The cap is resolved in the plan from a
    * document-count subquery, so building the frame runs no job. */
  private def shinglePairStats(df: DataFrame, textCol: String,
                               idCol: String, shingleSize: Int,
                               cache: graft.core.CacheHandle): DataFrame = {
    // native one-pass shingle set (the HOF formulation re-slices the
    // token array per position through the interpreter — it was more
    // than half the query's cost at sf0.1)
    val sh0 = spread(df, idCol).select(col(idCol).as("id"),
      explode(graft.plans.SketchFunctions
        .distinctShingles(col(textCol), shingleSize)).as("shingle"))
    // the document count enters as a scalar subquery: a one-row cross
    // join would plan as a nested-loop join
    val nDocs = df.agg(count(lit(1))).scalar()
    val stopShingles = sh0
      .groupBy("shingle").agg(count(lit(1)).as("_df"))
      .filter(col("_df") > adaptiveShingleCap(nDocs))
      .select("shingle")
    val sh = cache.persist(
      sh0.join(broadcast(stopShingles), Seq("shingle"), "left_anti"))
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
    val common = sh.alias("a")
      .join(sh.alias("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("idA"), col("b.id").as("idB"))
      .agg(count(lit(1)).as("common"))
    common
      .join(sizes.withColumnsRenamed(Map("id" -> "idA", "n" -> "nA")), Seq("idA"))
      .join(sizes.withColumnsRenamed(Map("id" -> "idB", "n" -> "nB")), Seq("idB"))
  }

  // ------------------------------------------- components / survivors

  /** Connected components over a near-dup pair list: (id, componentId)
    * for every id appearing in `pairs` (self-pairs excluded — a pair
    * (x, x) conveys no grouping), componentId = the minimum id
    * reachable through the pair graph.
    *
    * Algorithm: alternating large-star / small-star contraction
    * (Kiveris et al., "Connected Components in MapReduce and Beyond").
    * The state is a directed forest of (node → smaller node) edges;
    * large-star hangs every larger neighbour of a node under the
    * minimum of its closed neighbourhood, small-star does the same for
    * the smaller neighbours. Each operation preserves connectivity,
    * and the alternation converges to per-component stars centred on
    * the component minimum in O(log d) rounds (d = diameter) — vs the
    * O(d) rounds of min-label propagation, whose wall-clock on an
    * iterative Spark job is dominated by rounds × scheduling latency,
    * not data volume. Throws IllegalStateException if `maxIter` rounds
    * pass without a fixpoint: partially contracted labels are WRONG
    * answers, never returned silently.
    *
    * Scale notes: each round's edge state lives on its own handle,
    * released once the next round has replaced it, and every few rounds
    * the state is persisted as a plan leaf over its RDD so the plan
    * does not deepen with the iteration count; the final state moves
    * to the caller's handle.
    * Per round: 2 hash groupBys + 2 equi-joins + a set-equality probe
    * (count + left-anti limit 1) on the persisted state. Hot vertices
    * (a doc paired with millions) skew the neighbourhood groupBy; AQE
    * skew-join splits those partitions.
    * Once the live edge set drops under [[UnionFindThreshold]] the
    * loop hands off to a single-task path-compressed union-find finish
    * (an executor task, not a driver collect): distributed rounds pay
    * rounds × scheduling latency, which dominates exactly when the
    * data no longer needs the cluster. */
  def connectedComponents(pairs: DataFrame, aCol: String = "idA",
                          bCol: String = "idB",
                          maxIter: Int = 30,
                          cache: graft.core.CacheHandle): DataFrame =
    connectedComponentsWithRounds(pairs, aCol, bCol, maxIter,
      cache = cache)._1

  /** Live-edge threshold below which the contraction loop hands off to
    * a single-task union-find finish: 4M (u, v) longs ≈ 64 MB in one
    * task — far under executor memory, far over any per-round
    * scheduling cost it replaces. */
  val UnionFindThreshold: Long = 4L << 20

  /** [[connectedComponents]] plus the number of contraction rounds it
    * took to reach the star fixpoint (exposed so tests can pin the
    * O(log d) convergence bound). `unionFindThreshold` (in live edges)
    * gates the single-task finish; 0 forces pure star contraction.
    * The returned labels are lazy over the final (persisted) edge
    * state, which is registered on `cache` — call `cache.release()`
    * after the terminal action to drop it. */
  def connectedComponentsWithRounds(
      pairs: DataFrame, aCol: String = "idA", bCol: String = "idB",
      maxIter: Int = 30,
      unionFindThreshold: Long = UnionFindThreshold,
      cache: graft.core.CacheHandle): (DataFrame, Int) = {
    // the live round's edge state; released when the next round
    // replaces it, handed to `cache` once the loop ends
    var state = graft.core.CacheHandle()
    // canonical orientation: every edge points large → small
    var edges = state.persist(pairs
      .select(greatest(col(aCol), col(bCol)).as("u"),
        least(col(aCol), col(bCol)).as("v"))
      .filter(col("u") =!= col("v"))
      .distinct())
    var cnt = edges.count()
    var iter = 0
    var converged = cnt == 0L
    // the single-task finish sorts component minima out of integral ids;
    // exotic id types (strings...) stay on the pure contraction path
    val integralIds = {
      import org.apache.spark.sql.types._
      pairs.schema(aCol).dataType match {
        case LongType | IntegerType | ShortType | ByteType => true
        case _ => false
      }
    }
    def handoff: Boolean = integralIds && cnt <= unionFindThreshold
    while (!converged && !handoff && iter < maxIter) {
      // large-star over the symmetric neighbourhood: for each node u
      // with m = min(Γ(u) ∪ {u}), re-hang every neighbour v > u as
      // (v, m); m ≤ u < v keeps the large→small orientation
      val nbrs = edges
        .unionByName(edges.select(col("v").as("u"), col("u").as("v")))
      val minsL = nbrs.groupBy("u").agg(min("v").as("mv"))
        .select(col("u"), least(col("mv"), col("u")).as("m"))
      val large = nbrs.join(minsL, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the oriented edges: m = min(Γ⁻(u)); re-hang the
      // other smaller neighbours and u itself under m
      val minsS = large.groupBy("u").agg(min("v").as("m"))
      val small = large.join(minsS, "u")
        .filter(col("v") =!= col("m"))
        .select(col("v").as("u"), col("m").as("v"))
        .unionByName(minsS.select(col("u"), col("m").as("v")))
        .distinct()
      // every third round the persisted frame is a plan leaf over
      // small's RDD. A round's plan reads the last round's about 12
      // times (nbrs reads edges twice, large nbrs twice, small large
      // three times), so an uncut plan's rendering grows geometrically
      // with rounds: without the cut, explaining a 20-node path graph's
      // plan ran out of memory. The RDD keeps its lineage, so a lost
      // block is still recomputed.
      val nextState = graft.core.CacheHandle()
      val next = nextState.persist(if (iter % 3 == 2)
        small.sparkSession.createDataFrame(small.rdd, small.schema) else small)
      val nextCnt = next.count()
      // fixpoint ⟺ identical distinct edge sets: equal cardinality and
      // no edge in next missing from the previous round
      converged = nextCnt == cnt &&
        next.join(edges, Seq("u", "v"), "left_anti").limit(1).count() == 0L
      state.release()
      state = nextState
      edges = next
      cnt = nextCnt
      iter += 1
    }
    // the surviving edge state backs the (lazy) labels — hand it to
    // the caller's handle, whose release() drops it after the terminal
    // action
    cache.adopt(state)
    if (!converged && handoff && cnt > 0L) {
      // single-task finish: the live edge set fits one task's memory
      // budget, where path-compressed union-find closes the remaining
      // components in one pass — an executor task, not a driver
      // collect, so the contraction loop never pays O(rounds) job
      // scheduling for a graph that no longer needs the cluster
      val spark = pairs.sparkSession
      import spark.implicits._
      val idType = pairs.schema(aCol).dataType
      val found = edges
        .select(col("u").cast("long"), col("v").cast("long"))
        .as[(Long, Long)]
        .coalesce(1)
        .mapPartitions { it =>
          val parent = new java.util.HashMap[Long, Long]()
          def find(x: Long): Long = {
            var r = x
            while (parent.getOrDefault(r, r) != r) r = parent.get(r)
            var c = x // compress the walked path
            while (parent.getOrDefault(c, c) != c) {
              val n = parent.get(c); parent.put(c, r); c = n
            }
            r
          }
          val buf = it.toArray
          buf.foreach { case (u, v) =>
            val ru = find(u); val rv = find(v)
            // union-by-min keeps the invariant parent(x) < x, so every
            // root is its component's minimum id
            if (ru < rv) parent.put(rv, ru)
            else if (rv < ru) parent.put(ru, rv)
          }
          val seen = new java.util.HashSet[Long]()
          buf.iterator
            .flatMap { case (u, v) => Iterator(u, v) }
            .filter(seen.add)
            .map(id => (id, find(id)))
        }
      val labels = found.toDF("id", "comp")
        .select(col("id").cast(idType).as("id"),
          col("comp").cast(idType).as("comp"))
      return (labels, iter)
    }
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIter rounds " +
          s"($cnt live edges) — raise maxIter; returning partial labels " +
          "would silently mislabel components")
    // fixpoint edges are (member → component-min) stars: members label
    // by their centre, centres (the only dsts) label by themselves
    val labels = edges.select(col("u").as("id"), col("v").as("comp"))
      .unionByName(
        edges.select(col("v").as("id"), col("v").as("comp")).distinct())
    (labels, iter)
  }

  /** Drop every non-canonical member of each near-dup cluster: rows
    * whose id maps to a component led by a smaller id are removed, the
    * component minimum (and every unpaired row) survives. This is the
    * keep-one-per-cluster step a pair list alone cannot express —
    * pair-level filtering under-deletes transitive duplicates (A~B,
    * B~C keeps A and C without the closure). */
  def keepClusterCanonical(df: DataFrame, idCol: String,
                           pairs: DataFrame, aCol: String = "idA",
                           bCol: String = "idB",
                           cache: graft.core.CacheHandle): DataFrame = {
    val losers = connectedComponents(pairs, aCol, bCol, cache = cache)
      .filter(col("id") =!= col("comp"))
      .select(col("id").as(idCol))
    // no broadcast hint: the loser set scales with the corpus' true
    // duplication rate; AQE broadcasts it when it is actually small
    df.join(losers, Seq(idCol), "left_anti")
  }

  /** Cluster-size histogram of the near-dup graph: (cluster_size,
    * n_clusters) for clusters of ≥ 2 members — the tuning report
    * behind threshold/band choices (a fat tail of giant clusters
    * means the threshold is too loose or boilerplate needs
    * stripping). Unpaired docs are not clusters and do not appear.
    * Two hash groupBys over the duplication-rate-sized label frame. */
  def clusterSizeHistogram(pairs: DataFrame, aCol: String = "idA",
                           bCol: String = "idB",
                           cache: graft.core.CacheHandle): DataFrame =
    connectedComponents(pairs, aCol, bCol, cache = cache)
      .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size").agg(count(lit(1)).as("n_clusters"))

  /** [[keepClusterCanonical]] with a QUALITY-aware survivor: per
    * near-dup cluster keep the row with the highest `scoreCol`
    * (ties → smallest id) instead of the smallest id — the form
    * production dedup actually wants, where the cluster's best-quality
    * page beats its first-crawled copy. Unpaired rows survive
    * untouched.
    *
    * Scale: the labels and both reductions run on the PAIRED rows
    * only (duplication-rate-sized, not corpus-sized); the corpus pays
    * one anti-join against the loser ids. Both aggregates are plain
    * max/min (hash aggregate, map-side combine) — the max-by struct
    * formulation would demote to SortAggregate. */
  def keepClusterBest(df: DataFrame, idCol: String, scoreCol: String,
                      pairs: DataFrame, aCol: String = "idA",
                      bCol: String = "idB",
                      cache: graft.core.CacheHandle): DataFrame = {
    val labels = connectedComponents(pairs, aCol, bCol, cache = cache)
    val members = df.select(col(idCol).as("id"), col(scoreCol).as("_s"))
      .join(labels, Seq("id"))
    val best = members.groupBy("comp").agg(max("_s").as("_best"))
    // null-SAFE equality: a cluster whose every score is null has a
    // null max, and a plain === would elect no winner — the cluster
    // would skip dedup entirely; <=> degrades it to min-id canonical
    val winners = members.join(best, Seq("comp"))
      .filter(col("_s") <=> col("_best"))
      .groupBy("comp").agg(min("id").as("_winner"))
    val losers = labels.join(winners, Seq("comp"))
      .filter(col("id") =!= col("_winner"))
      .select(col("id").as(idCol))
    df.join(losers, Seq(idCol), "left_anti")
  }

  // --------------------------------------------------------- span dedup

  /** Corpus-wide duplicated-span removal (the fixed-window form of
    * exact substring deduplication — Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): each document's
    * token stream is cut into consecutive non-overlapping blocks of
    * `blockTokens` tokens (the last block may be short); every
    * occurrence of a block after its first — ordered by (docId,
    * blockIdx) across the whole corpus, so repeats within one
    * document count too — is removed, and the surviving blocks are
    * re-joined in order. Returns one row per input document:
    * (idCol, clean_text, n_blocks, n_removed). A document whose every
    * block is claimed elsewhere keeps an empty clean_text rather than
    * vanishing.
    *
    * Scale shape (one pass + 3 shuffles, no quadratic stage):
    * tokenise/block/posexplode is pipelined map-side; the canonical
    * occurrence per block value is a hash-groupBy on the block's md5
    * (min(struct(doc, idx)) + count — map-side partial combine, so a
    * span duplicated a million times still contributes one row per
    * map partition); survivors are an equi-join of the occurrence
    * frame against that per-digest frame (AQE splits a skewed digest);
    * reconstruction is a groupBy(doc) whose per-group state is one
    * document's own blocks — bounded by max document size, not corpus
    * size. Block text rides the shuffles once; nothing collects.
    *
    * The digest is md5 so a SQL oracle can replay the exact dataflow
    * (same role as [[minhashDupPairsMd5]]); collisions would need 2⁶⁴
    * distinct spans. */
  def spanDedup(df: DataFrame, textCol: String, idCol: String,
                blockTokens: Int = 10,
                cache: graft.core.CacheHandle): DataFrame = {
    require(blockTokens > 0, "blockTokens must be positive")
    val b = blockTokens
    val tk = filter(split(trim(col(textCol)), "\\s+"), t => t =!= "")
    val blocks = when(size(tk) === 0, array().cast("array<string>"))
      .otherwise(transform(
        sequence(lit(0), ceil(size(tk) / lit(b.toDouble)).cast("int") - 1),
        i => array_join(slice(tk, i * b + 1, lit(b)), " ")))
    val occ = cache.persist(spread(df, idCol)
      .select(col(idCol).as("__doc"), posexplode(blocks).as(Seq("idx", "block")))
      .withColumn("__h", md5(col("block"))))
    val canon = occ
      .groupBy("__h")
      .agg(min(struct(col("__doc"), col("idx"))).as("__c"))
    val rebuilt = occ
      .join(canon, Seq("__h"))
      .filter(struct(col("__doc"), col("idx")) === col("__c"))
      .groupBy("__doc")
      .agg(
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("idx"), col("block")))),
          s => s.getField("block"))).as("clean_text"),
        count(lit(1)).as("__kept"))
    val totals = occ.groupBy("__doc").agg(count(lit(1)).as("n_blocks"))
    df.select(col(idCol))
      .join(totals.withColumnRenamed("__doc", idCol), Seq(idCol), "left")
      .join(rebuilt.withColumnRenamed("__doc", idCol), Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_blocks"), lit(0L)).as("n_blocks"),
        (coalesce(col("n_blocks"), lit(0L)) -
          coalesce(col("__kept"), lit(0L))).as("n_removed"))
  }

  // ------------------------------------------------ oracle anchors (md5)

  /** Oracle-parity MinHash anchor: identical shingling / affine-rehash
    * / banding / similarity semantics to [[minhashDupPairs]], but the
    * base shingle hash is the first 32 bits of md5 (a function SQL
    * engines share — DuckDB has no xxhash64) and band keys are the
    * plain component strings. Exists so the whole LSH dataflow can be
    * hash-pinned end-to-end by a SQL oracle, the same role
    * `Similarity.bruteForceTopK` plays for the ANN family; the
    * production path keeps the native one-pass xxhash64 signature.
    *
    * Physically the same one-pass-per-document native signature shape
    * as [[minhashDupPairs]] ([[graft.plans.Md5MinHashSignature]]):
    * tokenise once, md5 each shingle once, keep k running minima. The
    * earlier explode → (id, component) hash-groupBy formulation pushed
    * k×|shingle occurrences| rows (95M at sf0.1) through two
    * aggregations — 4× slower than the sketch expression, and a shape
    * that shuffles where this one never does. */
  def minhashDupPairsMd5(
      df: DataFrame, textCol: String, idCol: String,
      shingleSize: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.5,
      cache: graft.core.CacheHandle): DataFrame = {
    val rowsPerBand = numHashes / bands
    val signed = cache.persist(spread(df, idCol).select(col(idCol).as("id"),
      graft.plans.SketchFunctions
        .md5MinhashSignature(col(textCol), shingleSize, numHashes).as("sig")))
    // band key = the raw component slice (array equality in the join);
    // equal slices ⟺ equal joined strings, so the candidate set — and
    // the oracle output — is unchanged, without the per-row interpreted
    // concat_ws(transform(...)) string build
    // slim banded frame + candidate-only signature rejoin — the same
    // shuffle-byte cut as [[minhashDupPairs]]
    val banded = signed
      .select(col("id"),
        explode(transform(sequence(lit(0), lit(bands - 1)), b =>
          struct(b.as("band"),
            slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand))
              .as("key")))).as("bk"))
      .select(col("id"), col("bk.band"), col("bk.key"))
    val pairs = banded.alias("a")
      .join(banded.alias("b"),
        col("a.band") === col("b.band") && col("a.key") === col("b.key") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("idA"), col("b.id").as("idB"))
      .dropDuplicates("idA", "idB")
    pairs
      .join(signed.select(col("id").as("idA"), col("sig").as("sigA")), Seq("idA"))
      .join(signed.select(col("id").as("idB"), col("sig").as("sigB")), Seq("idB"))
      .withColumn("similarity", signatureSimilarity(col("sigA"), col("sigB")))
      .filter(col("similarity") >= threshold)
      .select("idA", "idB", "similarity")
  }

  /** Oracle-parity SimHash anchor: same sign-sum sketch and quarter
    * blocking as [[simhashDupPairs]] over a 60-bit md5-derived token
    * hash (60 = 15 hex chars, so the value stays positive in a signed
    * long on both engines; 4 blocks of 15 bits preserve the pigeonhole
    * guarantee for Hamming ≤ 3). Explode → hash-groupBy shape for the
    * same codegen reason as [[minhashDupPairsMd5]]. */
  def simhashDupPairsMd5(df: DataFrame, textCol: String, idCol: String,
                         maxHamming: Int = 3,
                         cache: graft.core.CacheHandle): DataFrame = {
    val bits = 60
    val qBits = bits / 4 // 15-bit quarters
    // one pass per document (tokenise once, md5 each token once, ±1
    // votes per bit, sign-pack) — same native-sketch shape as
    // [[simhashDupPairs]]; the earlier explode-per-(token, bit) → two
    // groupBys pushed 60×|tokens| rows through the shuffle instead
    val sketched = cache.persist(spread(df, idCol).select(col(idCol).as("id"),
      graft.plans.SketchFunctions.md5Simhash(col(textCol), bits).as("sh")))
    val quartered = sketched
      .select(col("id"), col("sh"), posexplode(array(
        (0 until 4).map(i =>
          shiftright(col("sh"), i * qBits).bitwiseAND(lit((1L << qBits) - 1))): _*)))
      .withColumnsRenamed(Map("pos" -> "q", "col" -> "qh"))
    quartered.alias("a")
      .join(quartered.alias("b"),
        col("a.q") === col("b.q") && col("a.qh") === col("b.qh") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("idA"), col("b.id").as("idB"),
        hammingDistance(col("a.sh"), col("b.sh")).cast("long").as("hamming"))
      .dropDuplicates("idA", "idB")
      .filter(col("hamming") <= maxHamming)
  }
}
