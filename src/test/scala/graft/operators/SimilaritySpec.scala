package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.functions._

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private def vecs = Seq(
    (0L, Seq(1.0f, 0.0f, 0.0f)),
    (1L, Seq(0.9f, 0.1f, 0.0f)),
    (2L, Seq(0.0f, 1.0f, 0.0f)),
    (3L, Seq(0.0f, 0.0f, 1.0f)),
    (4L, Seq(-1.0f, 0.0f, 0.0f))
  ).toDF("id", "embedding")

  test("cosine similarity basics") {
    val df = vecs.alias("a").crossJoin(vecs.alias("b"))
      .filter(col("a.id") === 0 && col("b.id").isin(1, 2, 4))
      .select(col("b.id"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("sim"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(df(1L) - 0.9 / math.sqrt(0.82)) < 1e-6)
    assert(math.abs(df(2L)) < 1e-12)
    assert(math.abs(df(4L) + 1.0) < 1e-12)
  }

  test("brute-force top-k returns nearest first, excludes self") {
    val top = Similarity.bruteForceTopK(vecs, vecs.filter(col("id") === 0), 2)
      .select("neighbourId", "rank").as[(Long, Int)].collect().toSeq
    assert(top == Seq((1L, 1), (2L, 2)) || top.head == (1L, 1))
    assert(top.head._1 == 1L) // closest is the 0.9/0.1 vector
  }

  test("LSH top-k finds the true nearest neighbour for clustered vectors") {
    // vectors 0 and 1 point the same way -> same halfspace sub-signature
    // in at least one of the OR-amplified tables w.h.p.
    val top = Similarity.lshTopK(vecs, vecs.filter(col("id") === 0), 1,
      tables = 8, planesPerTable = 2)
      .select("neighbourId").as[Long].collect()
    assert(top.nonEmpty && top.head == 1L)
    val brute = Similarity.bruteForceTopK(vecs, vecs.filter(col("id") === 0), 1)
      .select("neighbourId").as[Long].head()
    assert(brute == 1L)
  }

  test("IVF training rejects magnitudes that would overflow the integer folds") {
    // coords ~1e6 → dist² ~1e13·d: the 1e9-grid Long addends would
    // saturate and the D² total could wrap negative — guard must fire
    val huge = Seq(
      (0L, Array(1.0e6, -1.0e6)), (1L, Array(9.9e5, 1.0e6)),
      (2L, Array(-1.0e6, 5.0e5))).toDF("id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Similarity.ivfTopK(huge, huge.limit(1), 1, nLists = 2)
    }
    assert(e.getMessage.contains("normalise or rescale"))
  }

  test("IVF top-k recovers the true neighbour via probed cells") {
    val top = Similarity.ivfTopK(vecs, vecs.filter(col("id") === 0), 1,
      nLists = 3, nProbe = 3)
      .select("neighbourId").as[Long].collect()
    assert(top.nonEmpty && top.head == 1L)
    // recall vs brute force on the real embeddings table (25 q×k pairs)
    val emb = spark.read
      .parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    val q = emb.filter(col("id") < 5)
    val ivf = Similarity.ivfTopK(emb, q, 5, nLists = 8, nProbe = 4)
      .select("queryId", "neighbourId").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, q, 5)
      .select("queryId", "neighbourId").as[(Long, Long)].collect().toSet
    assert(ivf.intersect(brute).size >= 20, // ≥80% recall at nProbe=4/8
      s"recall ${ivf.intersect(brute).size}/25")
  }

  test("native RhpTableKeys mirrors the Column lshTableKeys formulation") {
    // both fold integer nano-quantised addends, so the sign bits are
    // identical between the native kernel and the HOF mirror even on
    // components whose raw double projection sits near zero
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
      .limit(50)
    val rows = emb.select(
        graft.plans.SketchFunctions
          .rhpTableKeys(col("embedding"), 4, 3, 42L).as("native"),
        Similarity.lshTableKeys(col("embedding"), 4, 3, 42L).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val native = r.getSeq[Long](0)
      val hof = r.getSeq[org.apache.spark.sql.Row](1)
        .map(s => s.getInt(0) -> s.getLong(1)).toMap
      native.indices.foreach(t => assert(native(t) == hof(t), s"table $t"))
    }
  }

  test("IVF results are invariant to corpus row order and partitioning") {
    // the trainer samples by hash rank, draws hash-uniforms and sums
    // integer-quantised addends, so nothing depends on how the input
    // arrived — the determinism contract the DuckDB oracle relies on
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    val q = emb.filter(col("id") < 5)
    def run(c: org.apache.spark.sql.DataFrame) =
      Similarity.ivfTopK(c, q, 5, nLists = 16, nProbe = 4)
        .select("queryId", "neighbourId", "rank")
        .as[(Long, Long, Int)].collect().sorted.toSeq
    val base = run(emb)
    assert(base === run(emb.repartition(7)))
    assert(base === run(emb.orderBy(col("id").desc)))
  }

  test("embeddingDupPairs finds only true near-duplicates") {
    val dups = Similarity.embeddingDupPairs(vecs, threshold = 0.95, planes = 4)
      .select("idA", "idB").as[(Long, Long)].collect().toSet
    assert(dups.subsetOf(Set((0L, 1L)))) // only 0-1 are ~parallel
  }

  test("real embeddings table: brute force top-k self-consistency") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = emb.filter(col("id") === 0)
    val top3 = Similarity.bruteForceTopK(emb, q, 3).collect()
    assert(top3.length == 3)
    val sims = top3.map(_.getAs[Double]("similarity"))
    assert(sims.sorted.reverse.sameElements(sims)) // descending
  }

  test("aggregate top-k equals the window top-k on real embeddings, sans Window") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = emb.filter(col("id") < 20)
    val win = Similarity.bruteForceTopK(emb, q, 5)
      .select("queryId", "neighbourId", "rank")
      .as[(Long, Long, Int)].collect().sorted.toSeq
    val agg = Similarity.bruteForceTopKAgg(emb, q, 5)
      .select("queryId", "neighbourId", "rank")
      .as[(Long, Long, Int)].collect().sorted.toSeq
    assert(agg === win)
    // similarities are recovered from the heap key, not re-joined
    val simsW = Similarity.bruteForceTopK(emb, q, 5)
      .select("queryId", "neighbourId", "similarity")
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, c) => (a, b) -> c }.toMap
    Similarity.bruteForceTopKAgg(emb, q, 5)
      .select("queryId", "neighbourId", "similarity")
      .as[(Long, Long, Double)].collect()
      .foreach { case (a, b, s) => assert(math.abs(simsW((a, b)) - s) < 1e-12) }
    val plan = Similarity.bruteForceTopKAgg(emb, q, 5)
      .queryExecution.optimizedPlan
    assert(plan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }.isEmpty, plan.toString)
  }

  test("PQ ADC score equals the exact dot with the reconstructed vector") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val m = 4
    val books = Similarity.pqTrain(emb, m, kCodes = 8)
    val subDim = books(0)(0).length
    val rows = emb.limit(10).select(col("id"),
        col("embedding").cast("array<double>").as("e"),
        graft.plans.SketchFunctions.pqCodes(col("embedding"), books).as("codes"),
        graft.plans.SketchFunctions.pqLut(col("embedding"), books).as("lut"),
        graft.plans.SketchFunctions.pqAdc(
          graft.plans.SketchFunctions.pqCodes(col("embedding"), books),
          graft.plans.SketchFunctions.pqLut(col("embedding"), books)).as("selfAdc"))
      .as[(Long, Seq[Double], Array[Byte], Seq[Seq[Double]], Double)].collect()
    for ((_, e, codes, lut, selfAdc) <- rows) {
      // reconstruct from packed byte codes; dot vs query = own lut sum
      val recon = codes.toSeq.zipWithIndex
        .flatMap { case (c, s) => books(s)(c & 0xff) }
      val exact = e.zip(recon).map { case (a, b) => a * b }.sum
      assert(math.abs(exact - selfAdc) < 1e-9, s"$exact vs $selfAdc")
      // lut agrees with the naive per-subspace inner product
      for (s <- 0 until m; c <- books(s).indices) {
        val ip = e.slice(s * subDim, (s + 1) * subDim).zip(books(s)(c))
          .map { case (a, b) => a * b }.sum
        assert(math.abs(ip - lut(s)(c)) < 1e-9)
      }
    }
  }

  test("persisted PQ index round-trips and searches identically") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = emb.filter(col("id") < 5)
    val direct = Similarity.pqTopK(emb, q, 5, m = 16, kCodes = 16,
      nLists = 8, nProbe = 6, refineFactor = 8)
      .collect().map(_.toSeq).toSet
    val dir = java.nio.file.Files.createTempDirectory("pqidx").toString
    try {
      val (index, codes) = Similarity.pqIndexBuild(emb, m = 16,
        kCodes = 16, nLists = 8)
      Similarity.pqIndexWrite(index, codes, dir)
      val (loaded, loadedCodes) = Similarity.pqIndexRead(spark, dir)
      val viaIndex = Similarity.pqSearch(loaded, loadedCodes, q, 5,
        nProbe = 6, refineCorpus = Some(emb), refineFactor = 8)
      assert(viaIndex.collect().map(_.toSeq).toSet == direct)
      // the codes frame is laid out partitioned BY CELL on disk, so a
      // cell-filtered probe is a partition-pruned scan
      val cellDirs = new java.io.File(s"$dir/codes").listFiles()
        .filter(f => f.isDirectory && f.getName.startsWith("cell="))
      assert(cellDirs.length > 1, s"no cell= partitions under $dir/codes")
      val pruned = loadedCodes.filter(col("cell") === lit(
        cellDirs.head.getName.stripPrefix("cell=").toInt))
      val plan = pruned.queryExecution.executedPlan.toString
      assert(plan.contains("PartitionFilters: [isnotnull(cell"),
        s"cell filter not pruned at scan:\n$plan")
    } finally {
      org.apache.commons.io.FileUtils.deleteDirectory(new java.io.File(dir))
    }
  }

  test("recallReport scores approx vs exact per query and overall") {
    val exact = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 21L))
      .toDF("queryId", "neighbourId")
    val approx = Seq((1L, 10L), (1L, 11L), (2L, 20L), (2L, 99L))
      .toDF("queryId", "neighbourId")
    val rep = Similarity.recallReport(approx, exact).collect()
      .map(r => (Option(r.get(0)), r.getDouble(1))).toMap
    assert(rep(Some(1L)) == 1.0)
    assert(rep(Some(2L)) == 0.5)
    assert(math.abs(rep(None) - 0.75) < 1e-12)
  }

  test("pqEncode appends a delta that searches like a full rebuild") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val base = emb.filter(col("id") < 400)
    val delta = emb.filter(col("id") >= 400)
    val (index, baseCodes) = Similarity.pqIndexBuild(base, m = 16,
      kCodes = 16, nLists = 8)
    // encoding the delta with the EXISTING model = same rows the full
    // encode of the union produces under that model
    val appended = baseCodes.unionByName(Similarity.pqEncode(index, delta))
    val fullEncode = Similarity.pqEncode(index, emb)
    def key(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getAs[Array[Byte]]("codes").toSeq)).toSet
    assert(key(appended) == key(fullEncode))
    // and the appended index actually finds delta members
    val q = emb.filter(col("id") < 3)
    val hits = Similarity.pqSearch(index, appended, q, 10, nProbe = 8,
        refineCorpus = Some(emb))
      .select("neighbourId").as[Long].collect()
    assert(hits.exists(_ >= 400L))
  }

  test("IVF-PQ top-k recalls most true neighbours on the real table") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"), col("embedding"))
    val q = emb.filter(col("id") < 5)
    val pq = Similarity.pqTopK(emb, q, 5, m = 16, kCodes = 16,
      nLists = 8, nProbe = 6, refineFactor = 8)
      .select("queryId", "neighbourId").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, q, 5)
      .select("queryId", "neighbourId").as[(Long, Long)].collect().toSet
    assert(pq.size == 25)
    // quantised scores reorder the tail; require >=60% of true top-5
    assert(pq.intersect(brute).size >= 15,
      s"recall ${pq.intersect(brute).size}/25")
  }

  test("SQ8: encode hits exact code points; top-k recall is near-exact " +
    "on the real table (quantisation step ~0.4% of range)") {
    import spark.implicits._
    // a 2-d corpus already on the unit circle: ranges are [-1, 1] per
    // dim, so code = round((x+1)/2*255) exactly
    val s2 = math.sqrt(2.0) / 2
    val unit = Seq((0L, Seq(1.0, 0.0)), (1L, Seq(-1.0, 0.0)),
      (2L, Seq(0.0, 1.0)), (3L, Seq(0.0, -1.0)), (4L, Seq(s2, s2)))
      .toDF("id", "embedding")
    val m = Similarity.sqTrain(unit)
    assert(m.mins.toSeq == Seq(-1.0, -1.0) && m.maxs.toSeq == Seq(1.0, 1.0))
    val codes = Similarity.sqEncode(m, unit)
      .as[(Long, Seq[Int])].collect().toMap
    assert(codes(0L) == Seq(255, 128)) // round((0+1)/2*255) = 128
    assert(codes(1L) == Seq(0, 128))
    assert(codes(4L) == Seq(math.round((s2 + 1) / 2 * 255).toInt,
      math.round((s2 + 1) / 2 * 255).toInt))
    // recall on the real embeddings: SQ8 should match brute force
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .select(col("vec_id").as("id"),
        col("embedding").cast("array<double>").as("embedding"))
    val q = emb.filter(col("id") < 5)
    val model = Similarity.sqTrain(emb)
    val sq = Similarity.sqTopK(model, Similarity.sqEncode(model, emb), q, 5)
      .select("queryId", "neighbourId").as[(Long, Long)].collect().toSet
    val brute = Similarity.bruteForceTopK(emb, q, 5)
      .select("queryId", "neighbourId").as[(Long, Long)].collect().toSet
    assert(sq.size == 25)
    assert(sq.intersect(brute).size >= 24,
      s"recall ${sq.intersect(brute).size}/25")
    // empty corpus fails loudly, never returns a degenerate model
    assertThrows[IllegalArgumentException] {
      Similarity.sqTrain(Seq.empty[(Long, Seq[Double])].toDF("id", "embedding"))
    }
  }

  test("hardNegatives drops the query's near-dup cluster and refills " +
    "to k from the similarity tail") {
    import spark.implicits._
    val emb = Seq(
      (1L, Seq(1.0, 0.0)), (2L, Seq(0.999, 0.01)), // 2 ~ dup of 1
      (3L, Seq(0.9, 0.1)), (4L, Seq(0.5, 0.5)), (5L, Seq(0.0, 1.0)))
      .toDF("id", "embedding")
    val pairs = Similarity.bruteForceDupPairs(emb, threshold = 0.999)
    assert(pairs.select("idA", "idB").as[(Long, Long)].collect().toSet ==
      Set((1L, 2L)))
    val negs = Similarity.hardNegatives(emb,
        emb.filter($"id" === 1L), pairs, k = 2, retrieveFactor = 3,
        cache = CacheHandle())
      .orderBy("rank")
      .select("neighbourId").as[Long].collect().toSeq
    // cosine order from (1,0): 2 (excluded dup), 3, 4, 5 → top-2 = 3, 4
    assert(negs == Seq(3L, 4L))
    // the same call WITHOUT exclusion ranks the dup first
    val plain = Similarity.bruteForceTopKAgg(emb,
        emb.filter($"id" === 1L), 2)
      .orderBy("rank").select("neighbourId").as[Long].collect().toSeq
    assert(plain == Seq(2L, 3L))
  }

  test("poolEmbeddings: exact mean and max per group; null embeddings " +
    "ignored; all-null groups dropped") {
    import spark.implicits._
    val chunks = Seq(
      (1L, Some(Seq(1.0, -2.0))), (1L, Some(Seq(3.0, 4.0))),
      (1L, None),
      (2L, Some(Seq(0.5, 0.25))),
      (3L, None)
    ).toDF("doc", "embedding")
    val mean = Similarity.poolEmbeddings(chunks, "doc", method = "mean")
      .as[(Long, Seq[Double])].collect().toMap
    assert(mean(1L) == Seq(2.0, 1.0) && mean(2L) == Seq(0.5, 0.25))
    assert(!mean.contains(3L))
    val mx = Similarity.poolEmbeddings(chunks, "doc", method = "max")
      .as[(Long, Seq[Double])].collect().toMap
    assert(mx(1L) == Seq(3.0, 4.0) && mx(2L) == Seq(0.5, 0.25))
  }

  test("poolEmbeddings: empty vectors are non-rows (no mean deflation, " +
    "no d=0 buffer lock in any partition); null ELEMENTS skip extrema") {
    import spark.implicits._
    val rows = Seq(
      (1L, Seq(2.0, 4.0)), (1L, Seq(2.0, 4.0)), (1L, Seq.empty[Double]))
    // the empty vector must not bump the divisor (mean stays [2,4])
    // wherever it lands — including FIRST in its partition, where it
    // once locked the buffer at d=0 and dropped every later vector
    for (df <- Seq(rows.toDF("doc", "embedding").repartition(1),
                   rows.reverse.toDF("doc", "embedding").repartition(1),
                   rows.toDF("doc", "embedding").repartition(3))) {
      val m = Similarity.poolEmbeddings(df, "doc")
        .as[(Long, Seq[Double])].head()._2
      assert(m == Seq(2.0, 4.0))
    }
    val withNulls = Seq(
      (1L, Seq[java.lang.Double](null, 3.0)),
      (1L, Seq[java.lang.Double](-2.0, 1.0))
    ).toDF("doc", "embedding")
    val mx = Similarity.poolEmbeddings(withNulls, "doc", method = "max")
      .as[(Long, Seq[Double])].head()._2
    assert(mx == Seq(-2.0, 3.0)) // a null slot never reads as 0.0
  }

  test("poolEmbeddings mean is bit-identical across partitionings " +
    "(fixed-point accumulation) and plans as one aggregate, no join") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val chunks = (0 until 400).map { i =>
      (i.toLong % 3, Seq.fill(8)(rnd.nextFloat().toDouble * 2 - 1))
    }.toDF("doc", "embedding")
    def run(parts: Int): Map[Long, Seq[Double]] =
      Similarity.poolEmbeddings(chunks.repartition(parts), "doc")
        .as[(Long, Seq[Double])].collect().toMap
    val p1 = run(1)
    for (p <- Seq(3, 8)) {
      val pp = run(p)
      for ((k, v) <- p1)
        assert(v.map(java.lang.Double.doubleToRawLongBits) ==
          pp(k).map(java.lang.Double.doubleToRawLongBits))
    }
    val plan = Similarity.poolEmbeddings(chunks, "doc")
      .queryExecution.executedPlan.toString
    assert(!plan.toLowerCase.contains("join") &&
      !plan.toLowerCase.contains("explode"), plan)
    assert(plan.contains("vector_pool_mean"), plan)
  }
}
