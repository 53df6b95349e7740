package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.tree.graft.TreeBridge
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** Locus-to-gene scoring model: gradient-boosted trees over the L2G
  * feature matrix.
  *
  * The reference trains a scikit-learn GradientBoostingClassifier on a
  * pandas copy of the feature matrix and broadcasts the pickled model
  * back for inference (reference: src/gentropy/method/l2g/model.py:1-342,
  * trainer.py:1-473). Training here likewise runs on the driver: the
  * labelled rows are assembled and checked in one Spark job, collected
  * under `MaxTrainingRows`, and boosted by Spark's own tree code
  * (`TreeBridge.fitGbtClassifier`): the model Spark ML's distributed
  * GBT fit returns, without the Spark job per tree level it runs. The
  * result is a Spark ML `PipelineModel`, and scoring stays a
  * distributed transform over the full feature matrix — the part that
  * grows to billions of (locus, gene) rows.
  */
object L2GModel {

  val LabelCol = "goldStandardSet"
  val ScoreCol = "score"
  private[ml] val FeaturesCol = "features"

  /** Most labelled rows a fit collects to the driver. The gold standard
    * is thousands of (locus, gene) pairs; a matrix past this bound is
    * not a labelled training set, and the fit fails naming the bound
    * after collecting one row more. */
  val MaxTrainingRows = 1000000

  /** Train a GBT on (studyLocusId, geneId, features..., goldStandardSet).
    * `featureCols` defaults to every non-key numeric column. */
  def train(trainingData: DataFrame,
            featureCols: Seq[String] = Nil,
            maxIter: Int = 50,
            maxDepth: Int = 5): PipelineModel =
    train(trainingData, featureCols, maxIter, maxDepth, MaxTrainingRows)

  private[ml] def train(trainingData: DataFrame, featureCols: Seq[String],
      maxIter: Int, maxDepth: Int, maxRows: Int): PipelineModel = {
    val asm = assembler(trainingData, featureCols)
    val rows = collectBounded(asm.transform(trainingData).select(
      TreeBridge.checkedFeatures(FeaturesCol), TreeBridge.checkedLabel(LabelCol)),
      maxRows)
    fit(asm, rows, maxIter, maxDepth)
  }

  /** The assembler every L2G pipeline starts with: the feature columns
    * into one vector, nulls kept as NaN. */
  private[ml] def assembler(df: DataFrame, featureCols: Seq[String]): VectorAssembler = {
    val cols =
      if (featureCols.nonEmpty) featureCols
      else df.columns.toSeq.filterNot(Seq("studyLocusId", "geneId", LabelCol).contains)
    new VectorAssembler()
      .setInputCols(cols.toArray)
      .setOutputCol(FeaturesCol)
      .setHandleInvalid("keep")
  }

  /** `df`'s rows in partition order, read through one partition so a
    * plan without a shuffle collects in one Spark job; more than
    * `maxRows` rows fail naming the bound. */
  private[ml] def collectBounded(df: DataFrame, maxRows: Int): Array[Row] = {
    val rows = df.coalesce(1).limit(maxRows + 1).collect()
    require(rows.length <= maxRows, s"L2G training collects at most $maxRows " +
      "labelled rows to the driver; the input has more")
    rows
  }

  /** The (assembler, GBT) pipeline Spark ML's `Pipeline.fit` returns,
    * fitted on (features, label) rows in the order given. */
  private[ml] def fit(asm: VectorAssembler, rows: Seq[Row], maxIter: Int,
      maxDepth: Int): PipelineModel =
    TreeBridge.pipelineModel(Array(asm, TreeBridge.fitGbtClassifier(
      rows.map(_.getAs[Vector](0)).toArray, rows.map(_.getDouble(1)).toArray,
      LabelCol, FeaturesCol, maxIter, maxDepth, 42L)))

  private[ml] def gbt(model: PipelineModel): GBTClassificationModel =
    model.stages.last.asInstanceOf[GBTClassificationModel]

  /** Score a feature matrix; appends `score` = P(gold standard). */
  def score(model: PipelineModel, featureMatrix: DataFrame): DataFrame = {
    val secondElement = udf((v: org.apache.spark.ml.linalg.Vector) => v(1))
    model.transform(featureMatrix)
      .withColumn(ScoreCol, secondElement(col("probability")))
      .drop("features", "rawPrediction", "probability", "prediction")
  }

  /** Area under ROC of the trained model on a labelled hold-out. */
  def evaluate(model: PipelineModel, testData: DataFrame): Double = {
    val rows = collectBounded(model.transform(testData).select(
      col("rawPrediction"), col(LabelCol).cast("double")), MaxTrainingRows)
    areaUnderCurves(rows.map(_.getAs[Vector](0)(1)), rows.map(_.getDouble(1)))._1
  }

  /** (AUROC, AUPR) of `model` on (features, label) rows, scored as
    * `model.transform` scores them (`rawPrediction(1)`). */
  private[ml] def evaluate(model: PipelineModel, rows: Seq[Row]): (Double, Double) = {
    val m = gbt(model)
    areaUnderCurves(rows.map(r => m.predictRaw(r.getAs[Vector](0))(1)).toArray,
      rows.map(_.getDouble(1)).toArray)
  }

  /** Areas under the ROC and precision-recall curves with the arithmetic
    * of Spark's `BinaryClassificationMetrics` at `numBins = 0` (no
    * down-sampling): one curve point per distinct score, scores in
    * descending `java.lang.Double` order, unit weights, a label > 0.5
    * counted positive, trapezoids summed along the curve. */
  private[ml] def areaUnderCurves(scores: Array[Double],
      labels: Array[Double]): (Double, Double) = {
    require(scores.nonEmpty, "no rows to evaluate the L2G model on")
    val counts = new java.util.TreeMap[java.lang.Double, Array[Double]](
      java.util.Collections.reverseOrder[java.lang.Double]())
    scores.indices.foreach { i =>
      val c = counts.computeIfAbsent(scores(i), _ => Array(0.0, 0.0))
      if (labels(i) > 0.5) c(0) += 1.0 else c(1) += 1.0
    }
    val positives = labels.count(_ > 0.5).toDouble
    val negatives = labels.length - positives
    var tp = 0.0
    var fp = 0.0
    val roc = Array.newBuilder[(Double, Double)]
    val pr = Array.newBuilder[(Double, Double)]
    counts.values.forEach { c =>
      tp += c(0)
      fp += c(1)
      val recall = if (positives == 0.0) 0.0 else tp / positives
      roc += ((if (negatives == 0.0) 0.0 else fp / negatives, recall))
      pr += ((recall, if (tp + fp == 0.0) 1.0 else tp / (tp + fp)))
    }
    val prCurve = pr.result()
    (area((0.0, 0.0) +: roc.result() :+ (1.0, 1.0)),
      area((0.0, prCurve.head._2) +: prCurve))
  }

  private def area(curve: Array[(Double, Double)]): Double =
    curve.iterator.sliding(2).withPartial(false).map { case Seq(a, b) =>
      (b._1 - a._1) * (b._2 + a._2) / 2.0
    }.sum
}
