package graft.ml

import org.apache.spark.ml.PipelineModel
import org.apache.spark.ml.tree.graft.TreeBridge
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Locus-to-gene trainer: group-aware hold-out + grouped K-fold
  * cross-validation + final fit.
  *
  * The reference collects the feature matrix to pandas and uses
  * sklearn's GroupShuffleSplit / GroupKFold keyed on the
  * (trait, gene) pair so folds never leak a gene-trait association
  * across the split (reference: src/gentropy/method/l2g/trainer.py:
  * 286-349, 349-473). Here groups are assigned to splits/folds by a
  * seeded hash of the group key, computed in the one Spark job that
  * assembles and collects the labelled rows (at most
  * `L2GModel.MaxTrainingRows`); the hold-out split, every fold fit and
  * all metrics then run on the driver. Labels encode negative→0,
  * positive→1 (reference: src/gentropy/method/l2g/model.py:44-49).
  */
object L2GTrainer {

  val LabelCol = "goldStandardSet"
  val GroupCol = "_cvGroup"

  case class FoldMetrics(fold: Int, areaUnderROC: Double,
                         averagePrecision: Double, nVal: Long)

  case class TrainResult(model: PipelineModel, holdoutAreaUnderROC: Double,
                         holdoutAveragePrecision: Double,
                         cvMetrics: Seq[FoldMetrics])

  /** Numeric label column (negative→0.0, positive→1.0); idempotent —
    * an already-numeric label passes through untouched. */
  def encodeLabel(df: DataFrame): DataFrame =
    df.schema(LabelCol).dataType match {
      case org.apache.spark.sql.types.StringType =>
        df.withColumn(LabelCol,
          when(col(LabelCol) === L2GGoldStandard.PositiveLabel, 1.0)
            .when(col(LabelCol) === L2GGoldStandard.NegativeLabel, 0.0))
      case _ => df
    }

  /** Deterministic group id from the grouping columns (trait + gene
    * unless the matrix lacks a trait column). */
  private def groupExpr(df: DataFrame) = {
    val cols = Seq("traitFromSourceMappedId", "geneId")
      .filter(df.columns.contains)
    concat_ws("_", cols.map(c => coalesce(col(c).cast("string"), lit(""))): _*)
  }

  /** Rows with `bucket >= cut` train; the rest are the hold-out. */
  private def holdoutBucket(df: DataFrame, seed: Long): Column =
    pmod(xxhash64(groupExpr(df), lit(seed)), lit(1000L))

  private def cut(testFraction: Double): Long = (testFraction * 1000).toLong

  /** Group-aware train/test split: every group lands entirely in one
    * side. `testFraction` is honoured in expectation over groups.
    * reference: src/gentropy/method/l2g/trainer.py:319-326 */
  def trainTestSplit(matrix: DataFrame, testFraction: Double = 0.2,
                     seed: Long = 42L): (DataFrame, DataFrame) = {
    val withB = matrix.withColumn("_b", holdoutBucket(matrix, seed))
    (withB.filter(col("_b") >= cut(testFraction)).drop("_b"),
      withB.filter(col("_b") < cut(testFraction)).drop("_b"))
  }

  /** Full protocol: hold-out split → optional grouped K-fold CV on the
    * training split (fold = seeded hash of the group; fit on k−1 folds,
    * AUROC / AUPR on the held-out fold) → final fit on the training
    * split → one evaluation on the hold-out.
    * reference: src/gentropy/method/l2g/trainer.py:286-473 */
  def train(matrix: DataFrame, featureCols: Seq[String] = Nil,
            crossValidate: Boolean = true, nSplits: Int = 5,
            seed: Long = 42L, maxIter: Int = 50,
            maxDepth: Int = 5): TrainResult =
    train(matrix, featureCols, crossValidate, nSplits, seed, maxIter, maxDepth,
      L2GModel.MaxTrainingRows)

  private[ml] def train(matrix: DataFrame, featureCols: Seq[String],
      crossValidate: Boolean, nSplits: Int, seed: Long, maxIter: Int,
      maxDepth: Int, maxRows: Int): TrainResult = {
    val encoded = encodeLabel(matrix)
    val asm = L2GModel.assembler(encoded, featureCols)
    val isTrain = holdoutBucket(encoded, seed) >= cut(0.2)
    // Spark's GBT fit checks the features of the rows it fits on; hold-out
    // rows are only scored, where a NaN feature is a valid input.
    val rows = L2GModel.collectBounded(asm.transform(encoded).select(
      when(isTrain, TreeBridge.checkedFeatures(L2GModel.FeaturesCol))
        .otherwise(col(L2GModel.FeaturesCol)),
      TreeBridge.checkedLabel(LabelCol),
      isTrain,
      pmod(xxhash64(groupExpr(encoded), lit(seed + 1)), lit(nSplits.toLong))),
      maxRows)
    val (trainRows, testRows) = rows.toSeq.partition(_.getBoolean(2))
    val cv =
      if (crossValidate) (0 until nSplits).map { k =>
        val (va, tr) = trainRows.partition(_.getLong(3) == k)
        val (auroc, aupr) = L2GModel.evaluate(
          L2GModel.fit(asm, tr, maxIter, maxDepth), va)
        FoldMetrics(k, auroc, aupr, va.size.toLong)
      }
      else Nil
    val model = L2GModel.fit(asm, trainRows, maxIter, maxDepth)
    val (auroc, aupr) = L2GModel.evaluate(model, testRows)
    TrainResult(model, auroc, aupr, cv)
  }
}
