package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.tree.graft.TreeBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The driver-side L2G fit against its oracle, Spark ML's distributed
  * `GBTClassifier` and `BinaryClassificationEvaluator` (which `src/main`
  * no longer uses). On rows in one partition the two must build the
  * same model bit for bit; a fixture that differs is a fault of the fit.
  */
class L2GLocalFitSpec extends L2GFixtures {
  import spark.implicits._

  private def gbt(maxIter: Int, maxDepth: Int) = new GBTClassifier()
    .setLabelCol(L2GModel.LabelCol)
    .setFeaturesCol(L2GModel.FeaturesCol)
    .setMaxIter(maxIter)
    .setMaxDepth(maxDepth)
    .setSeed(42L)

  private def oracle(df: DataFrame, maxIter: Int, maxDepth: Int): PipelineModel =
    new Pipeline().setStages(Array(L2GModel.assembler(df, features),
      gbt(maxIter, maxDepth))).fit(df)

  private def evaluator(metric: String) = new BinaryClassificationEvaluator()
    .setLabelCol(L2GModel.LabelCol)
    .setRawPredictionCol("rawPrediction")
    .setMetricName(metric)

  /** toDebugString without its first line, which names the uid. */
  private def trees(m: PipelineModel): String =
    L2GModel.gbt(m).toDebugString.linesIterator.drop(1).mkString("\n")

  /** Per tree: child links, split features and thresholds, leaf
    * predictions and node training counts. */
  private def nodes(m: PipelineModel): Seq[Seq[Seq[Any]]] =
    L2GModel.gbt(m).trees.toSeq.map { t =>
      TreeBridge.flatten(t.rootNode).productIterator
        .map(_.asInstanceOf[Array[_]].toSeq).toSeq
    }

  private def assertSameModel(local: PipelineModel, ref: PipelineModel): Unit = {
    assert(trees(local) == trees(ref))
    assert(L2GModel.gbt(local).treeWeights.toSeq == L2GModel.gbt(ref).treeWeights.toSeq)
    assert(nodes(local) == nodes(ref))
    assert(savedParams(local) == savedParams(ref))
  }

  /** The messages of `e` and its causes. */
  private def messages(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")

  test("one partition: the model equals GBTClassifier's, depth 1/3/5, maxIter 1/10") {
    for {
      (name, df) <- Seq("coarse" -> coarse(1), "fine" -> fine(1))
      maxDepth <- Seq(1, 3, 5)
      maxIter <- Seq(1, 10)
    } withClue(s"$name depth=$maxDepth maxIter=$maxIter: ") {
      assertSameModel(L2GModel.train(df, features, maxIter, maxDepth),
        oracle(df, maxIter, maxDepth))
    }
  }

  test("four partitions: the same trees, predictions within 1e-12") {
    for ((name, df) <- Seq("coarse" -> coarse(4), "fine" -> fine(4))) withClue(s"$name: ") {
      val local = L2GModel.train(df, features, 10, 5)
      val ref = oracle(df, 10, 5)
      def shape(m: PipelineModel) = nodes(m).map(_.take(4)) // links, features, thresholds
      assert(shape(local) == shape(ref))
      nodes(local).zip(nodes(ref)).foreach { case (a, b) =>
        a(4).zip(b(4)).foreach { case (x: Double, y: Double) =>
          assert(math.abs(x - y) <= 1e-12, s"leaf $x vs $y")
        }
      }
      def probability(m: PipelineModel) = L2GModel.score(m, df)
        .orderBy("studyLocusId").select(L2GModel.ScoreCol).as[Double].collect()
      probability(local).zip(probability(ref)).foreach { case (x, y) =>
        assert(math.abs(x - y) <= 1e-12, s"score $x vs $y")
      }
    }
  }

  test("above 10,000 rows split candidates are quantiles of every row") {
    // 12,000 distinct values: 31 thresholds a stride of 375 rows apart,
    // 5999.5 among them, which separates the labels exactly
    val df = spark.range(12000).select(col("id").cast("string").as("studyLocusId"),
      col("id").cast("double").as("f1"),
      (col("id") >= 6000).cast("double").as(L2GModel.LabelCol))
    val root = L2GModel.gbt(L2GModel.train(df, Seq("f1"), 1, 1)).trees.head.rootNode
    val (_, _, feature, threshold, _, cover) = TreeBridge.flatten(root)
    assert(feature(0) == 0 && threshold(0) == 5999.5)
    assert(cover.toSeq == Seq(12000.0, 6000.0, 6000.0))
  }

  test("a null feature fails both fits with GBTClassifier's message") {
    val df = coarse(1).withColumn("f1",
      when(col("studyLocusId") === "sl5", lit(null).cast("double")).otherwise(col("f1")))
    val msg = "Vector values MUST NOT be NaN or Infinity"
    assert(messages(intercept[Exception](oracle(df, 1, 1))).contains(msg))
    assert(messages(intercept[Exception](L2GModel.train(df, features, 1, 1))).contains(msg))
  }

  test("AUROC and AUPR equal BinaryClassificationEvaluator's within 1e-12, ties included") {
    val rng = new scala.util.Random(3)
    val cases = Seq(
      "ties" -> (0 until 300).map(_ => (rng.nextInt(9) / 8.0, rng.nextInt(3).min(1).toDouble)),
      "distinct" -> (0 until 300).map(_ => (rng.nextGaussian(), rng.nextInt(2).toDouble)),
      "one class" -> (0 until 20).map(i => (i / 20.0, 1.0)))
    for ((name, rows) <- cases) withClue(s"$name: ") {
      val scored = rows.map { case (s, l) => (Vectors.dense(-s, s), l) }
        .toDF("rawPrediction", L2GModel.LabelCol).coalesce(1)
      val (auroc, aupr) = L2GModel.areaUnderCurves(rows.map(_._1).toArray,
        rows.map(_._2).toArray)
      assert(math.abs(auroc - evaluator("areaUnderROC").evaluate(scored)) <= 1e-12)
      assert(math.abs(aupr - evaluator("areaUnderPR").evaluate(scored)) <= 1e-12)
    }
  }

  test("trainer: CV and hold-out metrics and the model equal the distributed protocol's") {
    val rows = (1 to 300).map { i =>
      val pos = i % 3 == 0
      val f1 = (if (pos) 0.7 else 0.3) + (i % 10) / 50.0
      (s"sl$i", s"g${i % 25}", s"t${i % 6}", f1, (i % 5) / 5.0,
        if (pos) "positive" else "negative")
    }
    val base = spark.sparkContext.parallelize(rows, 1).toDF("studyLocusId", "geneId",
      "traitFromSourceMappedId", "f1", "f2", "goldStandardSet")
    // a null feature on a hold-out row: scored by both, never fitted on
    val heldOut = L2GTrainer.trainTestSplit(L2GTrainer.encodeLabel(base))._2
      .select("studyLocusId").as[String].first()
    val m = base.withColumn("f2",
      when(col("studyLocusId") === heldOut, lit(null).cast("double")).otherwise(col("f2")))
    val cols = Seq("f1", "f2")
    val res = L2GTrainer.train(m, cols, nSplits = 3, maxIter = 10, maxDepth = 3)

    // the protocol as it ran on Spark ML: filter, fit, transform, evaluate
    def fitRef(df: DataFrame) = new Pipeline().setStages(Array(
      L2GModel.assembler(df, cols), gbt(10, 3))).fit(df)
    def metrics(model: PipelineModel, df: DataFrame) = {
      val scored = model.transform(df)
      (evaluator("areaUnderROC").evaluate(scored), evaluator("areaUnderPR").evaluate(scored))
    }
    val (tr, te) = L2GTrainer.trainTestSplit(L2GTrainer.encodeLabel(m))
    val withFold = tr.withColumn("_fold", pmod(xxhash64(
      concat_ws("_", col("traitFromSourceMappedId"), col("geneId")), lit(43L)), lit(3L)))
    assert(res.cvMetrics.size == 3)
    res.cvMetrics.foreach { f =>
      val va = withFold.filter(col("_fold") === f.fold).drop("_fold")
      val (auroc, aupr) = metrics(
        fitRef(withFold.filter(col("_fold") =!= f.fold).drop("_fold")), va)
      assert(f.nVal == va.count())
      assert(math.abs(f.areaUnderROC - auroc) <= 1e-12, s"fold ${f.fold}")
      assert(math.abs(f.averagePrecision - aupr) <= 1e-12, s"fold ${f.fold}")
    }
    val ref = fitRef(tr)
    assertSameModel(res.model, ref)
    val (auroc, aupr) = metrics(ref, te)
    assert(math.abs(res.holdoutAreaUnderROC - auroc) <= 1e-12)
    assert(math.abs(res.holdoutAveragePrecision - aupr) <= 1e-12)
  }
}
