package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Synthetic scale-up generator for the scale rehearsal: clones the
  * `documents` and `embeddings` tables N× so the iterative /
  * quadratic-risk operators (connected components, minhash /
  * containment pairs, k-means, IVF-PQ build, DSIR) can be benched for
  * near-linear scaling beyond the largest driver-provided testdata.
  *
  * The clone transforms are chosen so the near-duplicate/cluster
  * STRUCTURE scales linearly — the property the rehearsal must hold
  * fixed. A naive N× copy makes every clone a (near-)duplicate of its
  * original: cluster sizes grow N×, candidate pairs grow N², and the
  * benchmark would measure a different workload shape at every scale.
  * Instead each copy preserves intra-copy geometry exactly and shares
  * nothing with other copies:
  *
  *  - documents: every token gets a copy-specific suffix (`tok~i`).
  *    Within a copy, shingle/minhash/simhash structure is isomorphic
  *    to the original (a shingle (a b c) maps 1:1 to (a~i b~i c~i));
  *    across copies, no shingle is shared — so pair counts and
  *    component sizes scale exactly N×.
  *  - embeddings: dimensions are rotated by a copy-specific offset
  *    composed with a copy-specific diagonal ±1 sign mask (together a
  *    distinct orthogonal transform per copy — the rotation alone has
  *    period d): norms, inner products, and hence the entire
  *    within-copy cosine structure are preserved exactly, while
  *    cross-copy cosine decorrelates to noise.
  *
  * ids are offset by copy × (max id + 1); copy 0 is byte-identical to
  * the source. Usage:
  * {{{ sbt "runMain graft.ScaleUp /root/testdata/sf0.1 target/sf1 10" }}}
  */
object ScaleUp {

  def scaleDocuments(docs: DataFrame, factor: Int): DataFrame = {
    val stride = docs.agg(max("doc_id")).head().getLong(0) + 1L
    // the copy suffix separator must not occur in the source text:
    // a source token that already ends in "~3" would alias copy 3's
    // suffixed tokens, sharing shingles across copies and breaking the
    // exact-Nx pair-count invariant data-dependently
    require(docs.filter(col("text").contains("~")).limit(1).count() == 0,
      "ScaleUp.scaleDocuments: source text contains '~' (the copy " +
        "suffix separator) — cross-copy token aliasing would break " +
        "the Nx-isomorphism invariant")
    (0 until factor).map { i =>
      if (i == 0) docs
      else docs
        .withColumn("doc_id", col("doc_id") + lit(i * stride))
        .withColumn("text",
          array_join(
            transform(
              filter(split(col("text"), "\\s+"), t => t =!= ""),
              t => concat(t, lit(s"~$i"))),
            " "))
    }.reduce(_ unionByName _)
  }

  def scaleEmbeddings(emb: DataFrame, factor: Int): DataFrame = {
    val stride = emb.agg(max("vec_id")).head().getLong(0) + 1L
    val d = emb.select(size(col("embedding"))).head().getInt(0)
    // every copy must be a DISTINCT orthogonal transform. The rotation
    // alone has period d (copy d is byte-identical to copy 0 — at
    // d=64, factor=100 the r9 sf10 dedup bench ran on a contaminated
    // workload with cross-copy exact dups). Composing each rotation
    // with a copy-specific diagonal ±1 sign mask (flip dim j iff bit
    // (j mod 31) of i is set) keeps intra-copy geometry exact (both
    // vectors of any within-copy pair get the same mask: norms and
    // inner products unchanged) while making the (rotation, mask) pair
    // injective in i for factor ≤ 2^min(d,30).
    require(factor <= (1 << math.min(d, 30)),
      s"ScaleUp.scaleEmbeddings: factor $factor exceeds the $d-dim " +
        "distinct-transform budget")
    // a 0.0 component defeats the sign mask pointwise (±0 coincide, and
    // Spark normalises -0.0 to 0.0), so two same-rotation copies whose
    // masks differ only on zero dims would emit byte-identical vectors
    require(emb.filter(exists(col("embedding"), x => x === 0.0f))
      .limit(1).count() == 0,
      "ScaleUp.scaleEmbeddings: source embeddings contain a 0.0 " +
        "component — the sign-mask distinctness guarantee needs " +
        "zero-free vectors")
    (0 until factor).map { i =>
      val shifted = emb.withColumn("vec_id", col("vec_id") + lit(i * stride))
      if (i == 0) shifted
      else {
        val k = (i * 7) % d
        val rotated =
          if (k == 0) col("embedding")
          else concat(slice(col("embedding"), k + 1, d - k),
            slice(col("embedding"), 1, k))
        val signs = Seq.tabulate(d)(j =>
          if (((i >> (j % 31)) & 1) == 1) -1.0f else 1.0f)
        shifted.withColumn("embedding",
          zip_with(rotated, typedlit(signs), (x, s) => x * s))
      }
    }.reduce(_ unionByName _)
  }

  /** Key-shifted N× clone of a table: listed key columns are offset by
    * copy × stride so every copy occupies a disjoint key range. Used
    * for the genetics-family rehearsal, whose queries derive their
    * group keys (study-locus ids, tag-variant ids) from RAW
    * lineitem/orders/part keys — so a shifted clone scales the number
    * of loci / tags / variants exactly N× while per-group density
    * (tags per locus, loci per tag bucket) stays O(1), the 100 TB
    * shape. Moduli-derived metadata dimensions (studyId = key % 5,
    * the 50-gene universe, the 500-QTL-locus space) stay fixed by
    * construction — deliberately: genomes don't grow with data volume.
    * Strides are passed in (not per-table maxima) so foreign keys stay
    * consistent across tables (lineitem.l_partkey ↔ part.p_partkey). */
  def shiftClone(df: DataFrame, factor: Int, shifts: Map[String, Long]): DataFrame =
    (0 until factor).map { i =>
      if (i == 0) df
      else shifts.foldLeft(df) { case (d, (c, stride)) =>
        d.withColumn(c, col(c) + lit(i * stride))
      }
    }.reduce(_ unionByName _)

  /** Clone the three TPC-H tables the genetics queries read. */
  def scaleTpch(spark: SparkSession, srcDir: String, destDir: String,
                factor: Int, cpus: Int): Unit = {
    val lineitem = spark.read.parquet(s"$srcDir/lineitem.parquet")
    val orders = spark.read.parquet(s"$srcDir/orders.parquet")
    val part = spark.read.parquet(s"$srcDir/part.parquet")
    val strideO = orders.agg(max("o_orderkey")).head().getLong(0) + 1L
    val strideP = part.agg(max("p_partkey")).head().getLong(0) + 1L
    val strideC = orders.agg(max("o_custkey")).head().getLong(0) + 1L
    shiftClone(lineitem, factor,
      Map("l_orderkey" -> strideO, "l_partkey" -> strideP))
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$destDir/lineitem.parquet")
    shiftClone(orders, factor,
      Map("o_orderkey" -> strideO, "o_custkey" -> strideC))
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$destDir/orders.parquet")
    shiftClone(part, factor, Map("p_partkey" -> strideP))
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$destDir/part.parquet")
    println(s"SCALEUP done: $destDir at $factor x " +
      s"lineitem=${spark.read.parquet(s"$destDir/lineitem.parquet").count()} " +
      s"orders=${spark.read.parquet(s"$destDir/orders.parquet").count()} " +
      s"part=${spark.read.parquet(s"$destDir/part.parquet").count()}")
  }

  def main(args: Array[String]): Unit = {
    val (srcDir, destDir, factorS) = (args(0), args(1), args(2))
    val tpch = args.length > 3 && args(3) == "tpch"
    val factor = factorS.toInt
    val spark = GraftSession.getOrCreate()
    val cpus = spark.sparkContext.defaultParallelism
    if (tpch) {
      scaleTpch(spark, srcDir, destDir, factor, cpus)
      spark.stop()
      return
    }
    scaleDocuments(spark.read.parquet(s"$srcDir/documents.parquet"), factor)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$destDir/documents.parquet")
    scaleEmbeddings(spark.read.parquet(s"$srcDir/embeddings.parquet"), factor)
      .repartition(cpus)
      .write.mode("overwrite").parquet(s"$destDir/embeddings.parquet")
    println(s"SCALEUP done: $destDir at $factor x " +
      s"docs=${spark.read.parquet(s"$destDir/documents.parquet").count()} " +
      s"vecs=${spark.read.parquet(s"$destDir/embeddings.parquet").count()}")
    spark.stop()
  }
}
