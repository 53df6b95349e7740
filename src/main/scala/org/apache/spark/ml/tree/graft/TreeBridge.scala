package org.apache.spark.ml.tree.graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.hadoop.mapreduce.{Job, TaskAttemptID}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.classification.GBTClassificationModel
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.impl.Utils
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.param.{Param, Params}
import org.apache.spark.ml.regression.DecisionTreeRegressionModel
import org.apache.spark.ml.tree.{ContinuousSplit, DecisionTreeModelReadWrite, InternalNode, LeafNode, LearningNode, Node, Split}
import org.apache.spark.ml.tree.EnsembleModelReadWrite.EnsembleNodeData
import org.apache.spark.ml.tree.impl.{DTStatsAggregator, DecisionTreeMetadata, GradientBoostedTrees, RandomForest, TreePoint}
import org.apache.spark.ml.util.{DatasetUtils, DefaultParamsReader, DefaultParamsWriter, FileSystemOverwrite, Identifiable}
import org.apache.spark.ml.util.DefaultParamsReader.Metadata
import org.apache.spark.mllib.tree.configuration.{Strategy, Algo => OldAlgo}
import org.apache.spark.mllib.tree.impurity.Variance
import org.apache.spark.mllib.tree.model.ImpurityStats
import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{FileFormat, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.VersionUtils
import org.json4s.{DefaultFormats, Formats, JArray, JInt, JObject, JString}
import org.json4s.jackson.JsonMethods.{compact, render}

import java.io.{BufferedReader, InputStreamReader}
import java.nio.charset.StandardCharsets.UTF_8
import java.util.UUID
import scala.reflect.runtime.universe.TypeTag
import scala.util.control.NonFatal

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
  *    `GBTClassifier` applies to its training rows;
  *  - `saveModel` / `loadModel` write and read the fitted pipeline in
  *    Spark ML's directory layout with Spark's own metadata, node-table
  *    and tree-building code: the metadata on the driver, the node table
  *    in one Spark write, and the whole model read back on the driver,
  *    without the Spark job per file that `MLWriter` and `MLReader` run.
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

  /** `model.write.overwrite().save(path)` for a (`VectorAssembler`,
    * `GBTClassificationModel`) pipeline, in one Spark job. The driver
    * writes the `metadata` JSON of the pipeline and its stages and the
    * `treesMetadata` table, each JSON from
    * `DefaultParamsWriter.getMetadataToSave`. The node table `data`
    * (`EnsembleNodeData.build` rows) is one Spark write, partitioned as
    * Spark partitions it, with no shuffle while it fits one file: it is
    * the part that grows with the model, and the rows a run's task
    * metrics count as the step's output. The files are those Spark
    * writes, down to their names; only the metadata timestamps differ.
    * Any other pipeline takes the stock writer. */
  def saveModel(spark: SparkSession, model: PipelineModel, path: String): Unit =
    model.stages match {
      case Array(asm: VectorAssembler, gbt: GBTClassificationModel) =>
        new FileSystemOverwrite().handleOverwrite(path, true, spark)
        val root = new Path(path)
        val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
        val stages = new Path(root, "stages").toString
        val asmDir = new Path(Pipeline.SharedReadWrite.getStagePath(asm.uid, 0, 2, stages))
        val gbtDir = new Path(Pipeline.SharedReadWrite.getStagePath(gbt.uid, 1, 2, stages))
        val stageUids = JArray(model.stages.map(s => JString(s.uid)).toList)
        writeText(fs, new Path(root, "metadata"), DefaultParamsWriter.getMetadataToSave(
          model, spark, None, Some(JObject("stageUids" -> stageUids))))
        writeText(fs, new Path(asmDir, "metadata"),
          DefaultParamsWriter.getMetadataToSave(asm, spark))
        val counts = JObject("numFeatures" -> JInt(gbt.numFeatures),
          "numTrees" -> JInt(gbt.getNumTrees))
        writeText(fs, new Path(gbtDir, "metadata"),
          DefaultParamsWriter.getMetadataToSave(gbt, spark, Some(counts)))
        writeParquet(spark, fs, new Path(gbtDir, "treesMetadata"),
          gbt.trees.toSeq.zipWithIndex.map { case (tree, id) =>
            (id, DefaultParamsWriter.getMetadataToSave(tree, spark), gbt.treeWeights(id))
          })
        val nodes = spark.createDataFrame(gbt.trees.toSeq.zipWithIndex.flatMap {
          case (tree, id) => EnsembleNodeData.build(tree, id)
        })
        val parts = DecisionTreeModelReadWrite.NodeData.inferNumPartitions(
          gbt.trees.map(_.numNodes.toLong).sum)
        (if (parts == 1) nodes.coalesce(1) else nodes.repartition(parts))
          .write.parquet(new Path(gbtDir, "data").toString)
      case _ => model.write.overwrite().save(path)
    }

  /** `PipelineModel.load(path)` read on the driver, with no Spark job,
    * for a (`VectorAssembler`, `GBTClassificationModel`) pipeline saved
    * by Spark 3 or later: `DefaultParamsReader.parseMetadata`, parquet
    * rows through `ParquetFileFormat`'s reader, trees rebuilt by
    * `DecisionTreeModelReadWrite.buildTreeFromNodes` and params set by
    * `Metadata.getAndSetParams`, as the GBT reader does. Any other
    * directory, or one whose metadata does not parse, takes the stock
    * reader, with its semantics and errors. */
  def loadModel(spark: SparkSession, path: String): PipelineModel = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sessionState.newHadoopConf())
    l2gStages(fs, root) match {
      case Some((pipeline, asmMeta, gbtMeta, gbtDir)) =>
        val asm = new VectorAssembler(asmMeta.uid)
        asmMeta.getAndSetParams(asm)
        val gbt = loadGbt(spark, fs, gbtMeta, gbtDir)
        new PipelineModel(pipeline.uid, Array[Transformer](asm, gbt))
      case None => PipelineModel.load(path)
    }
  }

  /** The metadata of the pipeline and of its two stages, and the GBT
    * stage's directory, when `root` holds an assembler-then-GBT pipeline
    * written by Spark 3 or later (older node tables lack `rawCount`). */
  private def l2gStages(fs: FileSystem,
      root: Path): Option[(Metadata, Metadata, Metadata, Path)] =
    try {
      implicit val formats: Formats = DefaultFormats
      val pipeline = DefaultParamsReader.parseMetadata(
        readText(fs, new Path(root, "metadata")), classOf[PipelineModel].getName)
      val uids = (pipeline.params \ "stageUids").extract[Seq[String]]
      val stages = new Path(root, "stages").toString
      val dirs = uids.zipWithIndex.map { case (uid, i) =>
        new Path(Pipeline.SharedReadWrite.getStagePath(uid, i, uids.length, stages))
      }
      val stageMetas = dirs.map(d =>
        DefaultParamsReader.parseMetadata(readText(fs, new Path(d, "metadata"))))
      stageMetas match {
        case Seq(asm, gbt) if asm.className == classOf[VectorAssembler].getName &&
            gbt.className == classOf[GBTClassificationModel].getName &&
            VersionUtils.majorVersion(gbt.sparkVersion) >= 3 =>
          Some((pipeline, asm, gbt, dirs(1)))
        case _ => None
      }
    } catch { case NonFatal(_) => None }

  /** `GBTClassificationModel.load` of the stage in `dir`, given its
    * parsed metadata. */
  private def loadGbt(spark: SparkSession, fs: FileSystem, meta: Metadata,
      dir: Path): GBTClassificationModel = {
    implicit val formats: Formats = DefaultFormats
    val numFeatures = (meta.metadata \ "numFeatures").extract[Int]
    val numTrees = (meta.metadata \ "numTrees").extract[Int]
    val impurity = Param.jsonDecode[String](compact(render(meta.getParamValue("impurity"))))
    // (treeID, metadata, weight) by position, as Spark's tuple encoder reads them
    val treesMeta = readParquet(spark, fs, new Path(dir, "treesMetadata")) { _ => r =>
      (r.getInt(0), DefaultParamsReader.parseMetadata(r.getUTF8String(1).toString,
        classOf[DecisionTreeRegressionModel].getName),
        r.getDouble(2))
    }.sortBy(_._1)
    val nodes = readParquet(spark, fs, new Path(dir, "data")) { schema =>
      ExpressionEncoder[EnsembleNodeData]()
        .resolveAndBind(DataTypeUtils.toAttributes(schema)).createDeserializer()
    }
    val roots = nodes.groupBy(_.treeID).toSeq.sortBy(_._1).map { case (_, ns) =>
      DecisionTreeModelReadWrite.buildTreeFromNodes(ns.map(_.nodeData).toArray, impurity)
    }
    val trees = treesMeta.zip(roots).map { case ((_, treeMeta, _), root) =>
      val tree = new DecisionTreeRegressionModel(treeMeta.uid, root, numFeatures)
      treeMeta.getAndSetParams(tree)
      tree
    }
    require(numTrees == trees.length, s"GBTClassificationModel.load expected $numTrees" +
      s" trees based on metadata but found ${trees.length} trees.")
    val model = new GBTClassificationModel(meta.uid, trees.toArray,
      treesMeta.map(_._3).toArray, numFeatures)
    // Spark's reader skips impurity too: old models saved it wrongly (SPARK-25959)
    meta.getAndSetParams(model, Some(List("impurity")))
    model
  }

  /** A one-file directory as a Spark write leaves it:
    * `part-00000-<uuid>-c000<extension>` and an empty `_SUCCESS`. */
  private def writeDir(fs: FileSystem, dir: Path, extension: String)(write: Path => Unit): Unit = {
    write(new Path(dir, s"part-00000-${UUID.randomUUID()}-c000$extension"))
    fs.create(new Path(dir, "_SUCCESS"), false).close()
  }

  /** One line of text, as `Seq(Tuple1(line)).toDF.write.text(dir)` writes it. */
  private def writeText(fs: FileSystem, dir: Path, line: String): Unit =
    writeDir(fs, dir, ".txt") { file =>
      val out = fs.create(file, false)
      try out.write((line + "\n").getBytes(UTF_8)) finally out.close()
    }

  /** `spark.createDataFrame(rows).repartition(1).write.parquet(dir)`,
    * written by the driver through the parquet source's own writer. */
  private def writeParquet[T <: Product : TypeTag](spark: SparkSession, fs: FileSystem,
      dir: Path, rows: Seq[T]): Unit = {
    val encoder = ExpressionEncoder[T]()
    val toRow = encoder.createSerializer()
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat().prepareWrite(spark, job, Map.empty, encoder.schema)
    val context = new TaskAttemptContextImpl(job.getConfiguration, new TaskAttemptID())
    writeDir(fs, dir, factory.getFileExtension(context)) { file =>
      val writer = factory.newInstance(file.toString, encoder.schema, context)
      try rows.foreach(r => writer.write(toRow(r))) finally writer.close()
    }
  }

  /** The files a scan of `dir` reads, in path order. */
  private def dataFiles(fs: FileSystem, dir: Path): Seq[FileStatus] =
    fs.listStatus(dir).toSeq
      .filter(f => f.isFile && !f.getPath.getName.startsWith("_") &&
        !f.getPath.getName.startsWith("."))
      .sortBy(_.getPath.toString)

  /** The first line of the first file in `dir`: `spark.read.text(dir).first()`. */
  private def readText(fs: FileSystem, dir: Path): String = {
    val in = new BufferedReader(
      new InputStreamReader(fs.open(dataFiles(fs, dir).head.getPath), UTF_8))
    try in.readLine() finally in.close()
  }

  /** Every row of the parquet files in `dir`, read by the driver through
    * `ParquetFileFormat`'s reader with the schema in each file's footer
    * and handed to `convert(schema)` before the next row is read (the
    * reader reuses its row). */
  private def readParquet[T](spark: SparkSession, fs: FileSystem, dir: Path)(
      convert: StructType => InternalRow => T): Seq[T] = {
    val hadoopConf = spark.sessionState.newHadoopConf()
    val format = new ParquetFileFormat()
    dataFiles(fs, dir).flatMap { f =>
      val footer = ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(f, hadoopConf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      val schema = ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
        new ParquetToSparkSchemaConverter(spark.sessionState.conf))
      val read = format.buildReaderWithPartitionValues(spark, schema, new StructType(), schema,
        Nil, Map(FileFormat.OPTION_RETURNING_BATCH -> "false"), hadoopConf)
      val toT = convert(schema)
      read(PartitionedFile(InternalRow.empty, SparkPath.fromPath(f.getPath), 0, f.getLen,
        Array.empty, f.getModificationTime, f.getLen, Map.empty)).map(toT).toList
    }
  }
}
