package graft.ml

import graft.{SparkSpec, Tables}
import graft.core.CacheHandle
import org.apache.commons.io.FileUtils
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** Building the L2G feature matrix persists a shared frame only when
  * the inputs give it two or more readers, so inputs that share
  * nothing build with no Spark job. Inputs are parquet read through
  * `Tables.read`, as the `l2g_feature_matrix` step reads them. The
  * `StepsSpec` release test covers inputs whose frames are shared. */
class L2GFeatureBuildSpec extends SparkSpec {
  import spark.implicits._

  private lazy val dir = Files.createTempDirectory("l2g_build").toFile

  override def afterAll(): Unit = {
    FileUtils.deleteDirectory(dir)
    super.afterAll()
  }

  private def saved(df: DataFrame, name: String): DataFrame = {
    val path = s"$dir/$name"
    df.write.parquet(path)
    Tables.read(spark, path)
  }

  /** The lifecycle chain's credible-set projection: flat locus columns
    * plus the locus array of (variantId, posteriorProbability). */
  private lazy val credSets = saved(
    Seq(("sl1", "s1", "1", "1_100000_A_C", 100000L),
      ("sl2", "s2", "1", "1_300000_A_C", 300000L))
      .toDF("studyLocusId", "studyId", "chromosome", "variantId", "position")
      .withColumn("locus", array(
        struct(col("variantId"), lit(0.7).as("posteriorProbability")),
        struct(lit("1_200000_A_C").as("variantId"),
          lit(0.3).as("posteriorProbability")))), "credible_sets")

  /** The chain's distance index: a near and a far gene per lead. */
  private lazy val distances = saved(
    Seq(("1_100000_A_C", "gn_1", 5000L), ("1_100000_A_C", "gf_1", 250000L),
      ("1_300000_A_C", "gn_2", 5000L), ("1_300000_A_C", "gf_2", 250000L))
      .toDF("variantId", "geneId", "distanceFromTss"), "distances")

  private def persisted: Set[Int] = spark.sparkContext.getPersistentRDDs.keySet.toSet

  test("building the factory on the chain's inputs runs no job and persists nothing") {
    val in = L2GFeatures.Inputs(credSets, distances = Some(distances))
    val before = persisted
    val h = CacheHandle()
    try {
      val (matrix, jobs) = JobCount(spark)(L2GFeatures.computeFeatureMatrix(in, h))
      assert(jobs == 0)
      assert(persisted == before, s"build persisted ${persisted -- before}")
      assert(matrix.count() == 4)
    } finally h.release()
  }
}
