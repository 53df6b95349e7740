package graft

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.types.StructType

import scala.util.control.NonFatal

/** The one by-path parquet reader, and the loaders of the
  * driver-generated TPC-H-ish test tables (TESTDATA.md).
  *
  * `spark.read.parquet(path)` infers the schema with a Spark job (one
  * per read, even for a single file): on the small inputs of the query
  * catalogue and the CLI steps that job's fixed cost rivals the query
  * itself, and it runs while the plan is being built. [[read]] reads
  * the same footer on the driver instead and hands Spark the schema,
  * as the reference's `Dataset.from_parquet` reads with a declared
  * schema (reference: src/gentropy/dataset/dataset.py:144-172).
  *
  * Catalyst pushes filters and prunes columns into these scans, so
  * callers should NOT cache or materialise here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def load(spark: SparkSession, dir: String, name: String): DataFrame =
    read(spark, s"$dir/$name.parquet")

  /** `spark.read.parquet(path)` without the schema-inference job.
    *
    * For a single file, or a flat directory of data files, the schema
    * is the one Spark would infer: with schema merging off, Spark reads
    * the footer of the first data file in path order and converts it
    * with `ParquetFileFormat.readSchemaFromFooter` (which prefers the
    * Spark schema stored in the footer's key-value metadata); this
    * does the same on the driver. Every other shape takes the stock
    * reader, with its semantics and errors: a glob, a directory with
    * subdirectories (partition discovery), `_metadata` /
    * `_common_metadata` summary files (Spark reads those first),
    * `spark.sql.parquet.mergeSchema`, an empty or missing path, and
    * any error reading the footer. */
  def read(spark: SparkSession, path: String): DataFrame =
    footerSchema(spark, path)
      .fold(spark.read.parquet(path))(spark.read.schema(_).parquet(path))

  /** The names a parquet scan skips (`HadoopFSUtils.shouldFilterOutPathName`
    * without its summary-file exception: a summary file makes
    * [[firstDataFile]] give up instead). */
  private def hidden(name: String): Boolean =
    (name.startsWith("_") && !name.contains("=")) ||
      name.startsWith(".") || name.endsWith("._COPYING_")

  private def summary(name: String): Boolean =
    name == ParquetFileWriter.PARQUET_METADATA_FILE ||
      name == ParquetFileWriter.PARQUET_COMMON_METADATA_FILE

  private def footerSchema(spark: SparkSession, path: String): Option[StructType] = {
    val conf = spark.sessionState.conf
    if (conf.isParquetSchemaMergingEnabled || path.exists("*?[]{}\\".contains(_))) None
    else try {
      val hadoopConf = spark.sessionState.newHadoopConf()
      val p = new Path(path)
      firstDataFile(p.getFileSystem(hadoopConf), p).map { f =>
        val footer = ParquetFooterReader.readFooter(
          HadoopInputFile.fromStatus(f, hadoopConf),
          ParquetMetadataConverter.SKIP_ROW_GROUPS)
        ParquetFileFormat.readSchemaFromFooter(new Footer(f.getPath, footer),
          new ParquetToSparkSchemaConverter(conf))
      }
    } catch { case NonFatal(_) => None }
  }

  /** The file whose footer Spark's inference reads, or None where the
    * stock reader takes another route. */
  private def firstDataFile(fs: FileSystem, p: Path): Option[FileStatus] = {
    val status = fs.getFileStatus(p)
    val skipped = (f: FileStatus) => hidden(f.getPath.getName)
    if (!status.isDirectory) Some(status).filterNot(skipped)
    else {
      val children = fs.listStatus(p).toSeq
      val visible = children.filterNot(skipped)
      if (children.exists(c => summary(c.getPath.getName)) ||
          visible.exists(_.isDirectory)) None
      else visible.sortBy(_.getPath.toString).headOption
    }
  }
}
