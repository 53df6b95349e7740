package org.apache.spark.ml.tree.graft

import org.apache.spark.ml.{PipelineModel, Transformer}
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.impl.Utils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{Param, Params}
import org.apache.spark.ml.regression.DecisionTreeRegressionModel
import org.apache.spark.ml.tree.{ContinuousSplit, InternalNode, LeafNode, LearningNode, Node, Split}
import org.apache.spark.ml.tree.impl.{DTStatsAggregator, DecisionTreeMetadata, GradientBoostedTrees, RandomForest, TreePoint}
import org.apache.spark.ml.util.{DatasetUtils, Identifiable}
import org.apache.spark.mllib.tree.configuration.{Strategy, Algo => OldAlgo}
import org.apache.spark.mllib.tree.impurity.Variance
import org.apache.spark.mllib.tree.model.ImpurityStats
import org.apache.spark.sql.Column

/** The one home of the Spark-private tree API the engine uses, mirroring
  * the sql-side `Bridge` shim. It lives under `org.apache.spark.ml.tree`
  * because the pieces it reuses are `private[tree]`, `private[ml]` or
  * `private[spark]`:
  *
  *  - `flatten` reads per-node training covers (`Node.impurityStats`)
  *    for the TreeSHAP explainer;
  *  - `fitGbtClassifier` is `GBTClassifier.fit` run on rows the driver
  *    holds: the same metadata, split candidates, binning, per-node
  *    statistics (`DTStatsAggregator`), split choice
  *    (`RandomForest.binsToBestSplit`), pruning (`LearningNode.toNode`)
  *    and boosting update (`GradientBoostedTrees.updatePrediction`,
  *    `LogLoss.gradient`), with no Spark job per tree level;
  *  - `checkedLabel` / `checkedFeatures` are the row checks
  *    `GBTClassifier` applies to its training rows.
  */
object TreeBridge {

  /** Flattened tree arrays: (left, right, feature, threshold, value,
    * cover); `feature(i) == -1` marks a leaf. Cover is the training
    * instance count that reached the node (the conditioning weight
    * TreeSHAP marginalises with).
    */
  def flatten(root: Node): (Array[Int], Array[Int], Array[Int],
      Array[Double], Array[Double], Array[Double]) = {
    val left = scala.collection.mutable.ArrayBuffer.empty[Int]
    val right = scala.collection.mutable.ArrayBuffer.empty[Int]
    val feature = scala.collection.mutable.ArrayBuffer.empty[Int]
    val threshold = scala.collection.mutable.ArrayBuffer.empty[Double]
    val value = scala.collection.mutable.ArrayBuffer.empty[Double]
    val cover = scala.collection.mutable.ArrayBuffer.empty[Double]

    def visit(n: Node): Int = {
      val id = left.length
      left += -1; right += -1; feature += -1; threshold += 0.0
      value += n.prediction
      val stats = n.impurityStats
      require(stats != null,
        "tree node carries no impurity stats (model loaded without them?) — " +
          "TreeSHAP needs per-node training covers")
      cover += stats.count
      n match {
        case i: InternalNode =>
          i.split match {
            case cs: ContinuousSplit =>
              feature(id) = cs.featureIndex
              threshold(id) = cs.threshold
            case s =>
              throw new UnsupportedOperationException(
                s"TreeSHAP supports continuous splits only, got ${s.getClass}")
          }
          left(id) = visit(i.leftChild)
          right(id) = visit(i.rightChild)
        case _: LeafNode => ()
      }
      id
    }
    visit(root)
    (left.toArray, right.toArray, feature.toArray, threshold.toArray,
      value.toArray, cover.toArray)
  }

  /** The label as `GBTClassifier` reads it: cast to double, failing the
    * query on a null, NaN or a value outside {0, 1}. */
  def checkedLabel(labelCol: String): Column =
    DatasetUtils.checkClassificationLabels(labelCol, Some(2))

  /** The feature vector, failing the query on a null vector or a NaN or
    * infinite value, as `GBTClassifier` checks its training rows. */
  def checkedFeatures(featuresCol: String): Column =
    DatasetUtils.checkNonNanVectors(featuresCol)

  /** A fitted pipeline of the given stages, as `Pipeline.fit` returns. */
  def pipelineModel(stages: Array[Transformer]): PipelineModel =
    new PipelineModel(Identifiable.randomUID("pipeline"), stages)

  /** `GBTClassifier.fit` with the given `maxIter`, `maxDepth` and `seed`
    * (every other param at its default) on rows held by the driver.
    *
    * `labels` are 0/1 and `features` free of NaN (see `checkedLabel`,
    * `checkedFeatures`). On rows in one partition's order the trees,
    * tree weights, node statistics and param maps equal Spark's; rows
    * from several partitions give the same trees up to the summation
    * order of the per-node statistics. One departure: split candidates
    * always come from every row, where Spark's `findSplits` samples
    * max(maxBins², 10000) of them when the input is larger.
    */
  def fitGbtClassifier(features: Array[Vector], labels: Array[Double],
      labelCol: String, featuresCol: String, maxIter: Int, maxDepth: Int,
      seed: Long): GBTClassificationModel = {
    require(features.length == labels.length,
      s"${features.length} feature vectors for ${labels.length} labels")
    val estimator = estimatorParams(labelCol, featuresCol, maxIter, maxDepth, seed)
    val boosting = estimator.getOldBoostingStrategy(Map.empty, OldAlgo.Classification)
    boosting.assertValid()
    val treeStrategy = boosting.treeStrategy.copy
    treeStrategy.algo = OldAlgo.Regression
    treeStrategy.impurity = Variance
    treeStrategy.assertValid()
    require(treeStrategy.subsamplingRate == 1.0 && !treeStrategy.bootstrap,
      "the driver-side fit does not subsample rows")

    val metadata = buildMetadata(features, treeStrategy)
    val splits = findSplits(features, metadata)
    val thresholds = splits.map(_.map(_.asInstanceOf[ContinuousSplit].threshold))
    // GradientBoostedTrees.run maps the labels to -1 / +1 and boosts a
    // regression; every instance has weight 1 and is drawn once.
    val points = Array.tabulate(features.length) { i =>
      val bins = Array.tabulate(metadata.numFeatures) { f =>
        val idx = java.util.Arrays.binarySearch(thresholds(f), features(i)(f))
        if (idx >= 0) idx else -idx - 1
      }
      new TreePoint(labels(i) * 2 - 1, bins, 1.0)
    }

    val loss = boosting.loss
    val numIterations = boosting.numIterations
    val trees = new Array[DecisionTreeRegressionModel](numIterations)
    val treeWeights = new Array[Double](numIterations)
    trees(0) = growTree(points, metadata, splits)
    treeWeights(0) = 1.0
    val prediction = points.map(p =>
      GradientBoostedTrees.updatePrediction(p, 0.0, trees(0), treeWeights(0), splits))
    for (m <- 1 until numIterations) {
      val residuals = Array.tabulate(points.length) { i =>
        val p = points(i)
        new TreePoint(-loss.gradient(prediction(i), p.label), p.binnedFeatures, p.weight)
      }
      trees(m) = growTree(residuals, metadata, splits)
      treeWeights(m) = boosting.learningRate
      points.indices.foreach { i =>
        prediction(i) = GradientBoostedTrees.updatePrediction(
          points(i), prediction(i), trees(m), treeWeights(m), splits)
      }
    }
    trees.foreach(copyParams(estimator, _))
    val model = new GBTClassificationModel(Identifiable.randomUID("gbtc"), trees,
      treeWeights, metadata.numFeatures)
    copyParams(estimator, model)
    model
  }

  /** What `GBTClassifier.fit` copies onto its model and every tree
    * (`Params.copyValues`): the estimator's defaults and the params it
    * was given. A `GBTClassificationModel` mixes in the estimator's param
    * traits, so it stands in for the estimator, save for `HasSeed`'s
    * default, which is the hash of the estimator's class name. */
  private def estimatorParams(labelCol: String, featuresCol: String,
      maxIter: Int, maxDepth: Int, seed: Long): GBTClassificationModel = {
    val p = new GBTClassificationModel()
    p.defaultParamMap.put(p.seed,
      "org.apache.spark.ml.classification.GBTClassifier".hashCode.toLong)
    p.paramMap.put(p.labelCol, labelCol)
    p.paramMap.put(p.featuresCol, featuresCol)
    p.paramMap.put(p.maxIter, maxIter)
    p.paramMap.put(p.maxDepth, maxDepth)
    p.paramMap.put(p.seed, seed)
    p
  }

  private def copyParams(from: Params, to: Params): Unit =
    from.params.foreach { p =>
      if (to.hasParam(p.name)) {
        val key = to.getParam(p.name)
        val param = p.asInstanceOf[Param[Any]]
        from.defaultParamMap.get(param).foreach(to.defaultParamMap.put(key, _))
        from.paramMap.get(param).foreach(to.paramMap.put(key, _))
      }
    }

  /** `DecisionTreeMetadata.buildMetadata` for unit-weight continuous
    * features and one tree, without its two counting jobs. */
  private def buildMetadata(features: Array[Vector],
      strategy: Strategy): DecisionTreeMetadata = {
    require(features.nonEmpty,
      "DecisionTree requires size of input RDD > 0, but was given by empty one.")
    val numFeatures = features(0).size
    require(numFeatures > 0, "DecisionTree requires number of features > 0, " +
      "but was given an empty features vector")
    require(strategy.categoricalFeaturesInfo.isEmpty,
      "the driver-side fit handles continuous features only")
    val numExamples = features.length.toLong
    val maxPossibleBins = math.min(strategy.maxBins.toLong, numExamples).toInt
    val numBins = Array.fill(numFeatures)(maxPossibleBins)
    // featureSubsetStrategy "auto" with one tree is "all"
    new DecisionTreeMetadata(numFeatures, numExamples, numExamples.toDouble, 0,
      maxPossibleBins, strategy.categoricalFeaturesInfo, Set.empty, numBins,
      strategy.impurity, strategy.quantileCalculationStrategy, strategy.maxDepth,
      strategy.minInstancesPerNode, strategy.minWeightFractionPerNode,
      strategy.minInfoGain, 1, numFeatures)
  }

  /** `RandomForest.findSplits` over every row: the non-zero values of each
    * feature, in row order, through Spark's own quantile choice. Above
    * max(maxBins², 10000) rows Spark would sample; the metadata handed to
    * the quantile choice is capped there so it weighs all rows as the
    * whole input instead. */
  private def findSplits(features: Array[Vector],
      metadata: DecisionTreeMetadata): Array[Array[Split]] = {
    val fullSample = math.max(metadata.maxBins.toLong * metadata.maxBins, 10000L)
    val splitMetadata =
      if (metadata.numExamples <= fullSample) metadata
      else new DecisionTreeMetadata(metadata.numFeatures, fullSample,
        metadata.weightedNumExamples, metadata.numClasses, metadata.maxBins,
        metadata.featureArity, metadata.unorderedFeatures, metadata.numBins,
        metadata.impurity, metadata.quantileStrategy, metadata.maxDepth,
        metadata.minInstancesPerNode, metadata.minWeightFractionPerNode,
        metadata.minInfoGain, metadata.numTrees, metadata.numFeaturesPerNode)
    Array.tabulate(metadata.numFeatures) { f =>
      // (weight, value) pairs, the order this overload takes them in
      val weightValues = features.iterator.map(_(f)).filter(_ != 0.0)
        .map(v => (1.0, v)).toSeq
      val split: Array[Split] = RandomForest
        .findSplitsForContinuousFeature(weightValues, splitMetadata, f)
        .map(t => new ContinuousSplit(f, t))
      metadata.setNumSplits(f, split.length)
      split
    }
  }

  /** One regression tree as `RandomForest.runBagged` grows it: level by
    * level, each pending node's statistics aggregated over the rows that
    * reach it, its split chosen by `binsToBestSplit`, then pruned. */
  private def growTree(points: Array[TreePoint], metadata: DecisionTreeMetadata,
      splits: Array[Array[Split]]): DecisionTreeRegressionModel = {
    val root = LearningNode.emptyNode(1)
    var pending = Array(root)
    while (pending.nonEmpty) {
      val slot = pending.iterator.map(_.id).zipWithIndex.toMap
      val aggs = pending.map(_ => new DTStatsAggregator(metadata, None))
      points.foreach { p =>
        slot.get(root.predictImpl(p.binnedFeatures, splits)).foreach { i =>
          var f = 0
          while (f < metadata.numFeatures) {
            aggs(i).update(f, p.binnedFeatures(f), p.label, 1, p.weight)
            f += 1
          }
          aggs(i).updateParent(p.label, 1, p.weight)
        }
      }
      pending = pending.indices.toArray.flatMap { i =>
        settle(pending(i), aggs(i), splits, metadata)
      }
    }
    new DecisionTreeRegressionModel(root.toNode(prune = true), metadata.numFeatures)
  }

  /** The node bookkeeping of `RandomForest.findBestSplits`: the children
    * of `node` still to split (none when it became a leaf). */
  private def settle(node: LearningNode, agg: DTStatsAggregator,
      splits: Array[Array[Split]], metadata: DecisionTreeMetadata): Seq[LearningNode] = {
    val (split, stats) = RandomForest.binsToBestSplit(agg, splits, None, node)
    val level = LearningNode.indexToLevel(node.id)
    node.isLeaf = stats.gain <= 0 || level == metadata.maxDepth
    node.stats = stats
    if (node.isLeaf) Nil
    else {
      node.split = Some(split)
      val childIsLeaf = level + 1 == metadata.maxDepth
      val leftIsLeaf = childIsLeaf || math.abs(stats.leftImpurity) < Utils.EPSILON
      val rightIsLeaf = childIsLeaf || math.abs(stats.rightImpurity) < Utils.EPSILON
      val left = LearningNode(LearningNode.leftChildIndex(node.id), leftIsLeaf,
        ImpurityStats.getEmptyImpurityStats(stats.leftImpurityCalculator))
      val right = LearningNode(LearningNode.rightChildIndex(node.id), rightIsLeaf,
        ImpurityStats.getEmptyImpurityStats(stats.rightImpurityCalculator))
      node.leftChild = Some(left)
      node.rightChild = Some(right)
      // LearningNode.apply drops its isLeaf argument; only the flags decide
      Seq(left -> leftIsLeaf, right -> rightIsLeaf).collect { case (n, false) => n }
    }
  }
}
