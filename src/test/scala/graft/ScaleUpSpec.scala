package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Invariants of the scale-up clone generators: every copy must
  * preserve intra-copy geometry/structure exactly and share nothing
  * with other copies, or a 10×/100× scaling run measures a different
  * workload shape at every scale (the r9 rotation-period bug). */
class ScaleUpSpec extends SparkSpec {
  import spark.implicits._

  test("scaleEmbeddings: distinct orthogonal transform per copy, " +
    "exact intra-copy geometry, beyond the rotation period") {
    // d = 4 so factor 9 exceeds the rotation period (copies 4.. reuse
    // rotations of 0.. and only the sign mask separates them)
    val emb = Seq(
      (0L, Seq(1.0f, 2.0f, 3.0f, 4.0f)),
      (1L, Seq(-1.0f, 0.5f, 2.0f, 7.0f)),
      (2L, Seq(0.25f, -4.0f, 1.0f, 2.0f))
    ).toDF("vec_id", "embedding")
    val out = ScaleUp.scaleEmbeddings(emb, 9).collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toVector).toMap
    assert(out.size == 27)
    // copy 0 byte-identical to the source
    assert(out(0L) == Vector(1.0f, 2.0f, 3.0f, 4.0f))
    def dot(a: Vector[Float], b: Vector[Float]): Double =
      a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val srcDot = dot(out(0L), out(1L))
    for (i <- 0 until 9) {
      val (a, b) = (out(i * 3L), out(i * 3L + 1))
      // intra-copy inner products preserved EXACTLY (orthogonal map,
      // sign flips and permutations are lossless on floats)
      assert(dot(a, b) == srcDot, s"copy $i broke intra-copy geometry")
    }
    // no two copies share an embedding byte-for-byte (the r9 bug:
    // rotation period d made copy d identical to copy 0)
    val all = out.values.toSeq
    assert(all.distinct.size == all.size, "cross-copy exact duplicate")
    // a 0.0 component would defeat the sign mask (±0 coincide) — the
    // generator must reject such sources instead of silently emitting
    // cross-copy duplicates
    val zeroed = Seq((0L, Seq(1.0f, 0.0f, 3.0f, 4.0f)))
      .toDF("vec_id", "embedding")
    intercept[IllegalArgumentException](ScaleUp.scaleEmbeddings(zeroed, 9))
  }

  test("scaleDocuments: exact-Nx dup structure; rejects '~' sources") {
    val docs = Seq((0L, "a b c"), (1L, "a b c"), (2L, "x y z"))
      .toDF("doc_id", "text")
    val out = ScaleUp.scaleDocuments(docs, 4)
    assert(out.count() == 12)
    // dup-text groups scale exactly Nx: one group of 2 per copy
    val dupGroups = out.groupBy("text").count().filter(col("count") > 1)
    assert(dupGroups.count() == 4)
    // no token is shared across copies
    val perCopyVocab = out
      .select((col("doc_id") / 3).cast("int").as("copy"),
        explode(split(col("text"), " ")).as("tok"))
      .distinct()
    assert(perCopyVocab.groupBy("tok").count().filter(col("count") > 1)
      .count() == 0)
    val dirty = Seq((0L, "a b~1 c")).toDF("doc_id", "text")
    intercept[IllegalArgumentException](ScaleUp.scaleDocuments(dirty, 2))
  }
}
