package graft.ml

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.DataFrame
import org.json4s.jackson.JsonMethods

import java.nio.file.Files

/** Labelled L2G matrices, and the saved form of a model's params, shared
  * by the specs that check the driver-side fit and model files against
  * Spark ML. */
trait L2GFixtures extends SparkSpec {
  import spark.implicits._

  protected val features: Seq[String] = Seq("f1", "f2", "f3", "f4")

  /** Coarse features: few distinct values, `f2` a copy of `f1` (every
    * split of one ties with the other), `f3` constant, `f4` all zero. */
  protected def coarse(partitions: Int): DataFrame = {
    val rows = (0 until 120).map { i =>
      val f1 = (i % 4).toDouble
      val label = if ((i % 4 >= 2) ^ (i % 7 == 0)) 1.0 else 0.0
      (s"sl$i", s"g${i % 15}", f1, f1, 1.0, 0.0, label)
    }
    spark.sparkContext.parallelize(rows, partitions).toDF(
      "studyLocusId", "geneId", "f1", "f2", "f3", "f4", L2GModel.LabelCol)
  }

  /** Fine features: `f1` has 200 distinct values (quantile thresholds
    * apply past maxBins = 32), `f2` 21 values with zeros among them. */
  protected def fine(partitions: Int): DataFrame = {
    val rng = new scala.util.Random(11)
    val rows = (0 until 200).map { i =>
      val f1 = rng.nextGaussian()
      val f2 = (i % 21 - 10) / 10.0
      val label = if (f1 + 0.5 * f2 + 0.4 * rng.nextGaussian() > 0.2) 1.0 else 0.0
      (s"sl$i", s"g${i % 25}", f1, f2, rng.nextDouble(), (i % 3).toDouble, label)
    }
    spark.sparkContext.parallelize(rows, partitions).toDF(
      "studyLocusId", "geneId", "f1", "f2", "f3", "f4", L2GModel.LabelCol)
  }

  /** A metadata JSON line as a JSON value without the given keys. */
  protected def json(s: String, drop: Set[String]): Any =
    JsonMethods.parse(s).removeField { case (k, _) => drop.contains(k) }.values

  /** The saved metadata of the GBT stage and of every tree in the model
    * saved at `dir`, as JSON values with uid and timestamp removed. */
  protected def savedParams(dir: String): (Any, Seq[(Int, Any, Double)]) = {
    val drop = Set("uid", "timestamp")
    val stage = s"$dir/stages/1_*"
    val meta = json(spark.read.text(s"$stage/metadata").as[String].collect().mkString, drop)
    val treesMeta = spark.read.parquet(s"$stage/treesMetadata").collect()
      .map(r => (r.getInt(0), json(r.getString(1), drop), r.getDouble(2)))
      .sortBy(_._1).toSeq
    (meta, treesMeta)
  }

  /** [[savedParams]] of `m` as Spark ML's writer saves it. */
  protected def savedParams(m: PipelineModel): (Any, Seq[(Int, Any, Double)]) = {
    val dir = Files.createTempDirectory("l2g_fit").toFile
    try {
      m.write.overwrite().save(dir.getAbsolutePath)
      savedParams(dir.getAbsolutePath)
    } finally FileUtils.deleteDirectory(dir)
  }
}
