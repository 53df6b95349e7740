package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle

class KMeansSpec extends SparkSpec {
  import spark.implicits._

  // two well-separated 2-d blobs around (0,0) and (10,10)
  private def blobs = (0L until 20L).map { i =>
    val base = if (i < 10) 0.0 else 10.0
    (i, Seq(base + (i % 10) * 0.1, base - (i % 10) * 0.1))
  }.toDF("id", "embedding")

  test("kmeansFit separates two blobs and converges under maxIter") {
    val m = Similarity.kmeansFit(blobs, k = 2, maxIter = 20, tol = 1e-9,
      cache = CacheHandle())
    assert(m.iterations < 20)
    assert(m.maxShift <= 1e-9)
    val cellsByBlob = Similarity.kmeansAssign(blobs, m.centroids)
      .select("id", "cell").as[(Long, Int)].collect()
      .groupBy(_._1 < 10).map { case (k, v) => (k, v.map(_._2).toSet) }
    // each blob lands whole in one distinct cell
    assert(cellsByBlob(true).size == 1 && cellsByBlob(false).size == 1)
    assert(cellsByBlob(true) != cellsByBlob(false))
    // centroids sit at the blob means (0.45, -0.45) and (10.45, 9.55)
    val sorted = m.centroids.sortBy(_.head)
    assert(math.abs(sorted(0)(0) - 0.45) < 1e-9)
    assert(math.abs(sorted(1)(0) - 10.45) < 1e-9)
  }

  test("kmeansFit is deterministic for a fixed seed") {
    val a = Similarity.kmeansFit(blobs, k = 3, maxIter = 5, seed = 7L,
      cache = CacheHandle())
    val b = Similarity.kmeansFit(blobs, k = 3, maxIter = 5, seed = 7L,
      cache = CacheHandle())
    assert(a.centroids.map(_.toSeq).toSeq == b.centroids.map(_.toSeq).toSeq)
    assert(a.iterations == b.iterations)
  }

  test("empty cells keep their previous centroid instead of dividing by zero") {
    // k = 4 over 3 distinct points: at least one cell must stay empty
    val tiny = Seq(
      (1L, Seq(0.0, 0.0)), (2L, Seq(1.0, 1.0)), (3L, Seq(2.0, 2.0)),
      (4L, Seq(0.0, 0.0))).toDF("id", "embedding")
    val m = Similarity.kmeansFit(tiny, k = 4, maxIter = 10, cache = CacheHandle())
    assert(m.centroids.length == 4)
    assert(m.centroids.forall(_.forall(v => !v.isNaN && !v.isInfinite)))
  }

  test("kmeansAssign breaks distance ties toward the lower cell index") {
    val pts = Seq((1L, Seq(5.0, 5.0))).toDF("id", "embedding")
    val cents = Array(Array(0.0, 0.0), Array(10.0, 10.0)) // equidistant
    val cell = Similarity.kmeansAssign(pts, cents)
      .select("cell").as[Int].head()
    assert(cell == 0)
  }

  test("kmeansCentroids feeds semanticDupPairs' centroid contract") {
    val m = Similarity.kmeansFit(blobs, k = 2, maxIter = 10, cache = CacheHandle())
    val cdf = Similarity.kmeansCentroids(spark, m)
    assert(cdf.columns.toSeq == Seq("id", "embedding"))
    assert(cdf.count() == 2)
    val pairs = Similarity.semanticDupPairs(
      blobs.select($"id", $"embedding".cast("array<double>").as("embedding")),
      cdf, threshold = 0.999, cache = CacheHandle())
    // within-blob near-parallel vectors pair up; none across blobs
    assert(pairs.count() > 0)
  }
}
