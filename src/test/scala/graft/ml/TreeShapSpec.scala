package graft.ml

import graft.SparkSpec
import graft.ml.TreeShap.ShapTree
import org.apache.spark.sql.functions._

class TreeShapSpec extends SparkSpec {
  import spark.implicits._

  /** Brute-force conditional expectation: features in S fixed to x,
    * the rest marginalised by training covers (EXPVALUE of the paper). */
  private def expvalue(t: ShapTree, x: Array[Double], s: Set[Int]): Double = {
    def go(i: Int): Double =
      if (t.feature(i) < 0) t.value(i)
      else if (s.contains(t.feature(i)))
        go(if (x(t.feature(i)) <= t.threshold(i)) t.left(i) else t.right(i))
      else
        (t.cover(t.left(i)) * go(t.left(i)) +
          t.cover(t.right(i)) * go(t.right(i))) / t.cover(i)
    go(0)
  }

  /** Brute-force Shapley values by subset enumeration. */
  private def bruteShap(trees: Array[ShapTree], x: Array[Double],
                        m: Int): Array[Double] = {
    def v(s: Set[Int]): Double =
      trees.map(t => t.weight * expvalue(t, x, s)).sum
    def fact(n: Int): Double = (1 to n).product.toDouble
    Array.tabulate(m) { i =>
      val others = (0 until m).filterNot(_ == i)
      others.toSet.subsets().map { s =>
        fact(s.size) * fact(m - s.size - 1) / fact(m) *
          (v(s + i) - v(s))
      }.sum
    }
  }

  // depth-3 tree over 3 features with uneven covers
  private val t1 = ShapTree(
    left = Array(1, 3, 5, -1, -1, -1, -1),
    right = Array(2, 4, 6, -1, -1, -1, -1),
    feature = Array(0, 1, 2, -1, -1, -1, -1),
    threshold = Array(0.5, 0.3, 0.7, 0, 0, 0, 0),
    value = Array(0, 0, 0, 1.0, 2.0, -1.0, 3.0),
    cover = Array(100, 60, 40, 45, 15, 10, 30),
    weight = 0.7)

  // second tree reusing feature 0 at two depths (tests UNWIND on the
  // repeated-feature path)
  private val t2 = ShapTree(
    left = Array(1, 3, -1, -1, -1),
    right = Array(2, 4, -1, -1, -1),
    feature = Array(1, 0, -1, -1, -1),
    threshold = Array(0.4, 0.8, 0, 0, 0),
    value = Array(0, 0, 0.5, -2.0, 4.0),
    cover = Array(100, 70, 30, 50, 20),
    weight = 1.3)

  private val trees = Array(t1, t2)

  test("TreeSHAP matches brute-force Shapley enumeration") {
    val xs = Seq(
      Array(0.2, 0.1, 0.9), Array(0.6, 0.35, 0.5), Array(0.9, 0.9, 0.9),
      Array(0.0, 0.0, 0.0), Array(0.51, 0.31, 0.71))
    for (x <- xs) {
      val fast = TreeShap.shapValues(trees, x, 3)
      val brute = bruteShap(trees, x, 3)
      for (i <- 0 until 3)
        assert(math.abs(fast(i) - brute(i)) < 1e-10,
          s"feature $i on ${x.toSeq}: ${fast(i)} vs ${brute(i)}")
    }
  }

  test("efficiency: base + sum(shap) equals the ensemble margin") {
    val rnd = new scala.util.Random(7)
    val base = TreeShap.expectedMargin(trees)
    for (_ <- 1 to 50) {
      val x = Array.fill(3)(rnd.nextDouble())
      val phi = TreeShap.shapValues(trees, x, 3)
      val margin = trees.map(t => t.weight * t.predict(x)).sum
      assert(math.abs(base + phi.sum - margin) < 1e-10)
    }
  }

  test("property: random trees (with repeated features) match brute force") {
    val rnd = new scala.util.Random(42)
    // random full binary tree of the given depth over `m` features;
    // features repeat freely across depths — the UNWIND-heavy path
    def randomTree(depth: Int, m: Int): ShapTree = {
      val left = scala.collection.mutable.ArrayBuffer.empty[Int]
      val right = scala.collection.mutable.ArrayBuffer.empty[Int]
      val feature = scala.collection.mutable.ArrayBuffer.empty[Int]
      val threshold = scala.collection.mutable.ArrayBuffer.empty[Double]
      val value = scala.collection.mutable.ArrayBuffer.empty[Double]
      val cover = scala.collection.mutable.ArrayBuffer.empty[Double]
      def build(d: Int, cov: Double): Int = {
        val id = left.length
        left += -1; right += -1; feature += -1; threshold += 0.0
        value += (rnd.nextDouble() * 4 - 2); cover += cov
        if (d > 0 && cov >= 2) {
          feature(id) = rnd.nextInt(m)
          threshold(id) = rnd.nextDouble()
          val lc = math.max(1.0, math.rint(cov * (0.2 + 0.6 * rnd.nextDouble())))
          left(id) = build(d - 1, lc)
          right(id) = build(d - 1, cov - lc)
        }
        id
      }
      build(depth, 64 + rnd.nextInt(200))
      ShapTree(left.toArray, right.toArray, feature.toArray,
        threshold.toArray, value.toArray, cover.toArray,
        0.1 + rnd.nextDouble())
    }
    for (trial <- 1 to 30) {
      val m = 2 + rnd.nextInt(3) // 2-4 features -> subsets enumerable
      val ensemble = Array.fill(1 + rnd.nextInt(3))(randomTree(2 + rnd.nextInt(3), m))
      val x = Array.fill(m)(rnd.nextDouble())
      val fast = TreeShap.shapValues(ensemble, x, m)
      val brute = bruteShap(ensemble, x, m)
      for (i <- 0 until m)
        assert(math.abs(fast(i) - brute(i)) < 1e-9,
          s"trial $trial feature $i: ${fast(i)} vs ${brute(i)}")
    }
  }

  test("explainByShap on a trained GBT: score matches the model exactly") {
    val rnd = new scala.util.Random(11)
    val rows = (1 to 300).map { i =>
      val a = rnd.nextDouble(); val b = rnd.nextDouble(); val c = rnd.nextDouble()
      val label = if (a + 0.5 * b + 0.1 * rnd.nextDouble() > 0.8) 1.0 else 0.0
      (s"sl$i", s"g${i % 7}", a, b, c, label)
    }
    val df = rows.toDF("studyLocusId", "geneId", "fa", "fb", "fc",
      L2GModel.LabelCol)
    val model = L2GModel.train(df, Seq("fa", "fb", "fc"), maxIter = 10,
      maxDepth = 3)
    val explained = L2GPrediction.explainByShap(model, df.drop(L2GModel.LabelCol),
      Seq("fa", "fb", "fc"))
    val scored = L2GModel.score(model, df.drop(L2GModel.LabelCol))
      .select(col("studyLocusId"), col("geneId"),
        col(L2GModel.ScoreCol).as("modelScore"))
    val joined = explained.join(scored, Seq("studyLocusId", "geneId"))
      .select(abs(col(L2GModel.ScoreCol) - col("modelScore")).as("diff"))
      .agg(max("diff")).as[Double].head()
    assert(joined < 1e-9, s"max |shap score - model score| = $joined")
    // shape of the attribution column
    val row = explained.select("shapValues").head()
    val names = row.getSeq[org.apache.spark.sql.Row](0).map(_.getString(0))
    assert(names == Seq("fa", "fb", "fc"))
  }

  test("a model loaded by the engine explains as one loaded by PipelineModel.load") {
    val rnd = new scala.util.Random(5)
    val df = (1 to 200).map { i =>
      val a = rnd.nextDouble(); val b = rnd.nextDouble()
      (s"sl$i", s"g${i % 7}", a, b, if (a + 0.3 * b + 0.2 * rnd.nextDouble() > 0.7) 1.0 else 0.0)
    }.toDF("studyLocusId", "geneId", "fa", "fb", L2GModel.LabelCol)
    val dir = java.nio.file.Files.createTempDirectory("shap_io").toFile
    try {
      L2GModel.train(df, Seq("fa", "fb"), maxIter = 8, maxDepth = 3)
        .write.overwrite().save(dir.getAbsolutePath)
      def explain(m: org.apache.spark.ml.PipelineModel) =
        L2GPrediction.explainByShap(m, df.drop(L2GModel.LabelCol), Seq("fa", "fb"))
          .orderBy("studyLocusId", "geneId").collect().toSeq
      val engine = explain(
        org.apache.spark.ml.tree.graft.TreeBridge.loadModel(spark, dir.getAbsolutePath))
      assert(engine.size == 200)
      assert(engine == explain(org.apache.spark.ml.PipelineModel.load(dir.getAbsolutePath)))
    } finally org.apache.commons.io.FileUtils.deleteDirectory(dir)
  }
}
