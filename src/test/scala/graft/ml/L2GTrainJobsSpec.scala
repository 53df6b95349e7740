package graft.ml

import graft.SparkSpec
import org.apache.commons.io.FileUtils
import org.apache.spark.graft.JobCount
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.Files

/** L2G training is one Spark job (assemble, check and collect the
  * labelled rows) whatever the number of folds, trees and levels; a
  * matrix over the row bound fails naming it before more rows reach the
  * driver; labels are checked as Spark's GBT fit checks them. */
class L2GTrainJobsSpec extends SparkSpec {
  import spark.implicits._

  /** A 300-row labelled matrix in two parquet files, read back as the
    * CLI step reads its input. */
  private lazy val dir: String = {
    val d = Files.createTempDirectory("l2g_jobs").toFile
    val rows = (1 to 300).map { i =>
      val pos = i % 3 == 0
      (s"sl$i", s"g${i % 25}", s"t${i % 6}", (if (pos) 0.7 else 0.3) + (i % 10) / 50.0,
        (i % 5) / 5.0, if (pos) "positive" else "negative")
    }
    rows.toDF("studyLocusId", "geneId", "traitFromSourceMappedId", "f1", "f2",
      "goldStandardSet").repartition(2).write.parquet(s"$d/matrix")
    d.getAbsolutePath
  }

  private def matrix: DataFrame = spark.read.parquet(s"$dir/matrix")

  override def afterAll(): Unit = {
    FileUtils.deleteDirectory(new java.io.File(dir))
    super.afterAll()
  }

  test("train with 5-fold CV, 20 trees of depth 4 starts exactly one Spark job") {
    val m = matrix
    val (res, jobs) = JobCount(spark)(L2GTrainer.train(m, Seq("f1", "f2"),
      maxIter = 20, maxDepth = 4))
    assert(jobs == 1)
    assert(res.cvMetrics.size == 5)
    assert(L2GModel.gbt(res.model).getNumTrees == 20)
    val (_, fitJobs) = JobCount(spark)(L2GModel.train(
      L2GTrainer.encodeLabel(m), Seq("f1", "f2"), maxIter = 5, maxDepth = 3))
    assert(fitJobs == 1)
  }

  test("a matrix over the row bound fails naming it, after at most bound + 1 rows") {
    val pulled = spark.sparkContext.longAccumulator("rows pulled")
    val count = udf { (x: Double) => pulled.add(1); x }
    val m = matrix.withColumn("f1", count(col("f1")))
    val e = intercept[IllegalArgumentException](L2GTrainer.train(m, Seq("f1", "f2"),
      crossValidate = true, nSplits = 5, seed = 42L, maxIter = 2, maxDepth = 2,
      maxRows = 40))
    assert(e.getMessage.contains("at most 40 labelled rows"))
    assert(pulled.value <= 41, s"${pulled.value} rows evaluated for a bound of 40")
    val e2 = intercept[IllegalArgumentException](L2GModel.train(
      L2GTrainer.encodeLabel(matrix), Seq("f1", "f2"), 2, 2, maxRows = 299))
    assert(e2.getMessage.contains("at most 299 labelled rows"))
    assert(L2GTrainer.train(matrix, Seq("f1", "f2"), crossValidate = false,
      nSplits = 5, seed = 42L, maxIter = 2, maxDepth = 2, maxRows = 300).cvMetrics.isEmpty)
  }

  test("labels must be non-null and in {0, 1}, with GBTClassifier's message") {
    val base = L2GTrainer.encodeLabel(matrix)
    val oracle = new Pipeline().setStages(Array(L2GModel.assembler(base, Seq("f1", "f2")),
      new GBTClassifier().setLabelCol(L2GModel.LabelCol).setMaxIter(2)))
    def messages(e: Throwable) =
      Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString(" | ")
    for ((bad, msg) <- Seq(
        lit(null).cast("double") -> "Labels MUST NOT be Null or NaN",
        lit(2.0) -> "Labels MUST be in {0, 1}, but got 2.0")) withClue(s"$msg: ") {
      val m = base.withColumn(L2GModel.LabelCol,
        when(col("studyLocusId") === "sl7", bad).otherwise(col(L2GModel.LabelCol)))
      assert(messages(intercept[Exception](oracle.fit(m))).contains(msg))
      assert(messages(intercept[Exception](
        L2GModel.train(m, Seq("f1", "f2"), 2, 2))).contains(msg))
      assert(messages(intercept[Exception](
        L2GTrainer.train(m, Seq("f1", "f2"), maxIter = 2, maxDepth = 2))).contains(msg))
    }
  }
}
