package graft.ml

import org.apache.commons.io.FileUtils
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.graft.JobCount
import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.LogisticRegressionModel
import org.apache.spark.ml.param.{Param, Params}
import org.apache.spark.ml.tree.graft.TreeBridge
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.Files
import scala.jdk.CollectionConverters._

/** The engine's L2G model files against Spark ML's: `TreeBridge.saveModel`
  * writes what `model.write.save` writes, and `TreeBridge.loadModel`
  * reads back what `PipelineModel.load` reads, each from the other's
  * output; loading starts no Spark job and saving one. */
class L2GModelIOSpec extends L2GFixtures {
  import spark.implicits._

  private val root = Files.createTempDirectory("l2g_io").toFile

  override def afterAll(): Unit = {
    FileUtils.deleteDirectory(root)
    super.afterAll()
  }

  private def dir(name: String): String = new File(root, name).getAbsolutePath

  private def stockSave(m: PipelineModel, path: String): String = {
    m.write.overwrite().save(path); path
  }

  private def engineSave(m: PipelineModel, path: String): String = {
    TreeBridge.saveModel(spark, m, path); path
  }

  /** Each param a stage or tree holds: name, whether it was set (not
    * defaulted), and its JSON value. */
  private def params(p: Params): Seq[(String, Boolean, String)] =
    p.extractParamMap().toSeq.map { pp =>
      (pp.param.name, p.isSet(pp.param), pp.param.asInstanceOf[Param[Any]].jsonEncode(pp.value))
    }.sortBy(_._1)

  private def scores(m: PipelineModel, df: DataFrame): Seq[Double] =
    L2GModel.score(m, df).orderBy("studyLocusId").select(L2GModel.ScoreCol).as[Double]
      .collect().toSeq

  /** Uids, param maps, trees (splits, leaf values, training covers),
    * tree weights and scores of `loaded` equal those of `ref`. */
  private def assertSameModel(loaded: PipelineModel, ref: PipelineModel, df: DataFrame): Unit = {
    assert(loaded.uid == ref.uid)
    assert(loaded.stages.map(_.uid).toSeq == ref.stages.map(_.uid).toSeq)
    loaded.stages.zip(ref.stages).foreach { case (a, b) =>
      assert(a.getClass == b.getClass)
      assert(params(a) == params(b), s"params of ${a.uid}")
    }
    val (a, b) = (L2GModel.gbt(loaded), L2GModel.gbt(ref))
    assert(a.numFeatures == b.numFeatures)
    assert(a.treeWeights.toSeq == b.treeWeights.toSeq)
    assert(a.trees.length == b.trees.length)
    a.trees.zip(b.trees).foreach { case (x, y) =>
      assert(x.uid == y.uid)
      assert(params(x) == params(y), s"params of tree ${x.uid}")
      assert(x.toDebugString == y.toDebugString)
      val (fx, fy) = (TreeBridge.flatten(x.rootNode), TreeBridge.flatten(y.rootNode))
      assert(fx.productIterator.map(_.asInstanceOf[Array[_]].toSeq).toSeq ==
        fy.productIterator.map(_.asInstanceOf[Array[_]].toSeq).toSeq)
    }
    assert(scores(loaded, df) == scores(ref, df))
  }

  /** Model fixtures: (name, training rows, model). */
  private lazy val models: Seq[(String, DataFrame, PipelineModel)] = Seq(
    ("coarse depth 3", coarse(1), 10, 3),
    ("fine depth 5", fine(1), 10, 5),
    ("fine one stump", fine(4), 1, 1)).map { case (name, df, maxIter, maxDepth) =>
    (name, df, L2GModel.train(df, features, maxIter, maxDepth))
  }

  test("each side loads the other's files into the same model") {
    for (((name, df, model), i) <- models.zipWithIndex) withClue(s"$name: ") {
      val stock = stockSave(model, dir(s"cross_stock_$i"))
      val engine = engineSave(model, dir(s"cross_engine_$i"))
      assertSameModel(TreeBridge.loadModel(spark, stock), PipelineModel.load(stock), df)
      assertSameModel(PipelineModel.load(engine), model, df)
      assertSameModel(TreeBridge.loadModel(spark, engine), model, df)
      assertSameModel(TreeBridge.loadModel(spark, stock), model, df)
    }
  }

  /** The files under `path`, relative, with each write's uuid masked. */
  private def layout(path: String): Seq[String] = {
    val base = new File(path).toPath
    val walk = Files.walk(base)
    try walk.iterator.asScala.filter(Files.isRegularFile(_))
      .map(p => base.relativize(p).toString
        .replaceAll("[0-9a-f]{8}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{4}-[0-9a-f]{12}", "<uuid>"))
      .toSeq.sorted
    finally walk.close()
  }

  /** Schema, Spark key-value metadata and writer of the parquet file in `d`. */
  private def footer(d: String): (String, Map[String, String], String) = {
    val Array(file) = new File(d).listFiles().filter(_.getName.endsWith(".parquet"))
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file.getAbsolutePath), new Configuration()))
    try {
      val meta = reader.getFooter.getFileMetaData
      (meta.getSchema.toString, meta.getKeyValueMetaData.asScala.toMap, meta.getCreatedBy)
    } finally reader.close()
  }

  test("the engine writes Spark ML's files: names, metadata, tree and node tables") {
    for (((name, _, model), i) <- models.zipWithIndex) withClue(s"$name: ") {
      val stock = stockSave(model, dir(s"files_stock_$i"))
      val engine = engineSave(model, dir(s"files_engine_$i"))
      assert(layout(engine) == layout(stock))
      val stage = new File(stock, "stages").list().filter(_.startsWith("1_")).head
      val asmStage = new File(stock, "stages").list().filter(_.startsWith("0_")).head
      for (m <- Seq("metadata", s"stages/$asmStage/metadata", s"stages/$stage/metadata")) {
        def text(d: String) = json(spark.read.text(s"$d/$m").as[String].collect().mkString,
          Set("timestamp"))
        assert(text(engine) == text(stock), m)
      }
      for (t <- Seq("treesMetadata", "data"))
        assert(footer(s"$engine/stages/$stage/$t") == footer(s"$stock/stages/$stage/$t"), t)
      def trees(d: String) = spark.read.parquet(s"$d/stages/$stage/treesMetadata").collect()
        .map(r => (r.getInt(0), json(r.getString(1), Set("timestamp")), r.getDouble(2)))
        .sortBy(_._1).toSeq
      assert(trees(engine) == trees(stock))
      def nodes(d: String) = spark.read.parquet(s"$d/stages/$stage/data")
        .orderBy(col("treeID"), col("nodeData.id")).collect().toSeq
      assert(nodes(engine) == nodes(stock))
      assert(savedParams(engine) == savedParams(stock))
    }
  }

  test("loading a model starts no Spark job, saving one starts exactly one") {
    val (_, _, model) = models(1)
    val path = dir("jobs")
    assert(JobCount(spark)(TreeBridge.saveModel(spark, model, path))._2 == 1)
    // over an existing model, as the CLI step rewrites its output
    assert(JobCount(spark)(TreeBridge.saveModel(spark, model, path))._2 == 1)
    val (loaded, jobs) = JobCount(spark)(TreeBridge.loadModel(spark, path))
    assert(jobs == 0)
    assert(L2GModel.gbt(loaded).getNumTrees == 10)
  }

  test("a pipeline of other stages loads and saves through Spark ML's reader and writer") {
    val df = fine(1)
    val lr = new Pipeline().setStages(Array(L2GModel.assembler(df, features),
      new org.apache.spark.ml.classification.LogisticRegression()
        .setLabelCol(L2GModel.LabelCol).setMaxIter(5))).fit(df)
    for (path <- Seq(stockSave(lr, dir("lr_stock")), engineSave(lr, dir("lr_engine")))) {
      val loaded = TreeBridge.loadModel(spark, path)
      assert(loaded.uid == lr.uid)
      val Array(_, m: LogisticRegressionModel) = loaded.stages
      assert(m.coefficients == lr.stages(1).asInstanceOf[LogisticRegressionModel].coefficients)
      assert(params(m) == params(lr.stages(1)))
    }
  }
}
