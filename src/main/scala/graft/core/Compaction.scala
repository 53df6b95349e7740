package graft.core

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col

/** Small-file compaction: rewrite a parquet dataset into
  * size-targeted files. At 100 TB the failure mode this fixes is
  * operational, not logical — a streaming or per-batch writer leaves
  * thousands of KB-scale files per partition, and every downstream
  * scan pays a task per file. One scheduled rewrite restores
  * ~targetBytes files (and optionally range-clusters them so min/max
  * pruning keeps working).
  */
object Compaction {

  /** Rewrite `inPath` into ceil(inputBytes / targetBytes) files at
    * `outPath`. With `sortCols`, data is range-partitioned and sorted
    * within files on those columns (pruning-friendly layout);
    * otherwise a plain round-robin repartition balances file sizes.
    * Returns the chosen file count.
    */
  def compact(spark: SparkSession, inPath: String, outPath: String,
              targetBytes: Long = 128L << 20,
              sortCols: Seq[String] = Nil): Int = {
    require(targetBytes > 0, "targetBytes must be positive")
    val p = new Path(inPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = fs.getContentSummary(p).getLength
    val n = math.max(1L, (bytes + targetBytes - 1) / targetBytes).toInt
    val df = graft.Tables.read(spark, inPath)
    val arranged =
      if (sortCols.nonEmpty)
        df.repartitionByRange(n, sortCols.map(col): _*)
          .sortWithinPartitions(sortCols.map(col): _*)
      else df.repartition(n)
    arranged.write.mode("overwrite").parquet(outPath)
    n
  }
}
