package graft

import org.apache.commons.io.FileUtils
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.io.File
import java.nio.file.Files

/** [[Tables.read]] gives the stock reader's frame without its
  * schema-inference job, and is the stock reader wherever Spark would
  * do more than read one footer. Every fixture is written here. */
class TablesSpec extends SparkSpec {

  private def withDir(body: String => Unit): Unit = {
    val dir = Files.createTempDirectory("tables").toFile
    try body(dir.getAbsolutePath)
    finally FileUtils.deleteDirectory(dir)
  }

  /** Nested struct/array/map, timestamp, decimal and null-bearing
    * columns over `n` rows. */
  private def nested(n: Int): DataFrame =
    spark.range(n).select(
      col("id"),
      (col("id") % 3).cast("int").as("k"),
      struct(col("id").cast("string").as("s"),
        array(struct((col("id") * 0.5).as("x"),
          when(col("id") % 2 === 0, lit(null)).otherwise(col("id")).as("y")))
          .as("arr")).as("st"),
      map(col("id").cast("string"), array(col("id").cast("double"))).as("m"),
      timestamp_seconds(col("id") * 86400).as("ts"),
      (col("id") / 7).cast("decimal(12,3)").as("dec"))

  /** Same schema and rows (compared as text: maps admit no set ops). */
  private def sameFrame(a: DataFrame, b: DataFrame): Unit = {
    assert(a.schema == b.schema)
    def rows(d: DataFrame) = d.collect().map(_.toString).sorted.toSeq
    assert(rows(a) == rows(b))
  }

  test("a multi-file directory: the stock schema and rows, and no job to build") {
    withDir { dir =>
      val p = s"$dir/t.parquet"
      nested(40).repartition(4).write.parquet(p)
      assert(new File(p).listFiles.count(_.getName.endsWith(".parquet")) == 4)
      val (df, jobs) = JobCount(spark)(Tables.read(spark, p))
      assert(jobs == 0)
      val (stock, stockJobs) = JobCount(spark)(spark.read.parquet(p))
      assert(stockJobs >= 1) // what the reader saves
      sameFrame(df, stock)
    }
  }

  test("a single file: the stock schema and rows, and no job to build") {
    withDir { dir =>
      nested(10).coalesce(1).write.parquet(s"$dir/t")
      val file = new File(s"$dir/t").listFiles
        .filter(_.getName.endsWith(".parquet")).head.getAbsolutePath
      val (df, jobs) = JobCount(spark)(Tables.read(spark, file))
      assert(jobs == 0)
      sameFrame(df, spark.read.parquet(file))
    }
  }

  test("files of different schemas: the schema of the first file in path order") {
    withDir { dir =>
      // one file per schema, renamed so the narrow one sorts first in
      // one directory and last in the other
      def single(df: DataFrame, to: String): Unit = {
        val tmp = s"$dir/tmp"
        df.coalesce(1).write.parquet(tmp)
        val f = new File(tmp).listFiles.filter(_.getName.endsWith(".parquet")).head
        FileUtils.moveFile(f, new File(to))
        FileUtils.deleteDirectory(new File(tmp))
      }
      val narrow = spark.range(5).toDF("a")
      val wide = spark.range(5).select(col("id").as("a"), lit("x").as("b"))
      for ((first, second, cols) <- Seq((narrow, wide, Seq("a")),
                                        (wide, narrow, Seq("a", "b")))) {
        val p = s"$dir/t${cols.size}"
        single(first, s"$p/a.parquet")
        single(second, s"$p/b.parquet")
        val (df, jobs) = JobCount(spark)(Tables.read(spark, p))
        assert(jobs == 0)
        assert(df.columns.toSeq == cols)
        assert(df.schema == spark.read.parquet(p).schema)
        spark.conf.set("spark.sql.parquet.mergeSchema", "true")
        try {
          val merged = Tables.read(spark, p)
          assert(merged.schema == spark.read.parquet(p).schema)
          assert(merged.columns.toSeq == Seq("a", "b"))
        } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
      }
    }
  }

  test("a partitioned directory and a glob read as the stock reader does") {
    withDir { dir =>
      val p = s"$dir/t"
      nested(30).write.partitionBy("k").parquet(p)
      val partitioned = Tables.read(spark, p)
      assert(partitioned.columns.last == "k") // partition column discovered
      sameFrame(partitioned, spark.read.parquet(p))
      val glob = s"$p/k=1/*.parquet"
      sameFrame(Tables.read(spark, glob), spark.read.parquet(glob))
    }
  }

  test("an empty or missing path fails with the stock reader's error") {
    withDir { dir =>
      val empty = new File(s"$dir/empty")
      assert(empty.mkdir())
      for (p <- Seq(empty.getAbsolutePath, s"$dir/missing")) {
        val ours = intercept[Exception](Tables.read(spark, p))
        val stock = intercept[Exception](spark.read.parquet(p))
        assert(ours.getClass == stock.getClass)
        assert(ours.getMessage == stock.getMessage)
      }
    }
  }
}
