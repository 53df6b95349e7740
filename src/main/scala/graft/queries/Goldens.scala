package graft.queries

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, FloatType}

/** Engine-side golden digests for the registered queries that have no
  * DuckDB oracle (xxhash64 / k-means / erf / approx-percentile /
  * iterative merges — each inexpressible in the driver's SQL replay).
  * Without these, the driver's check for those queries is rows-only; a
  * silent value regression would pass. The committed digests close
  * that window: [[graft.Verify]] recomputes each digest from the
  * parquet it just wrote and, on mismatch, replaces the query output
  * with a loud `__verify_error` marker (so the driver's row count
  * changes visibly) and records the delta in `goldens.json`.
  *
  * Digest = `rows:xorHex:decimalSum` over canonical row hashes:
  * columns sorted by name, doubles rounded to 6 dp (ulp-level
  * partition jitter tolerated, real regressions caught; `+ 0.0`
  * normalises -0.0), everything cast to string with a NUL-prefixed
  * null sentinel, SOH-separated concat_ws → xxhash64 per row, combined
  * with the order-independent pair (bit_xor, decimal sum) plus the row
  * count — invariant to row order, partitioning, and column order;
  * any one-row perturbation flips it (see GoldensSpec's tamper test).
  *
  * Recompute-and-commit protocol (after an INTENTIONAL semantic
  * change): `sbt "runMain graft.queries.Goldens /root/testdata/sf0.01"`
  * prints the fresh `"name" -> ...` lines — paste them into
  * [[expected]], stating the semantic reason in the commit message.
  * Never recommit a digest that changed unexpectedly: that is the
  * regression this file exists to catch. */
object Goldens {

  // control-char sentinel/separator built programmatically (no raw
  // bytes and no unicode escapes in source): NUL+"NULL" marks a null
  // cell — no printable string can contain NUL, so null never aliases
  // a value; SOH separates columns so ("ab","c") never aliases
  // ("a","bc")
  private val NullSentinel = 0.toChar.toString + "NULL"
  private val ColSep = 1.toChar.toString

  /** Order-, partition- and column-order-independent content digest. */
  def canonicalDigest(df: DataFrame): String = {
    val canonCols = df.columns.sorted.map { c =>
      val base = df.schema(c).dataType match {
        case DoubleType | FloatType =>
          (round(col(c).cast("double"), 6) + lit(0.0)).cast("string")
        case _ => col(c).cast("string")
      }
      coalesce(base, lit(NullSentinel))
    }
    val r = df
      .select(xxhash64(concat_ws(ColSep, canonCols: _*)).as("__h"))
      .agg(expr("count(1)").as("n"), expr("bit_xor(__h)").as("x"),
        expr("sum(cast(__h as decimal(38,0)))").as("s"))
      .head()
    val n = r.getLong(0)
    if (n == 0L) "0:0:0"
    else f"$n%d:${r.getLong(1)}%016x:${r.getDecimal(2).toBigInteger}%s"
  }

  /** Committed digests, keyed by query name → scale-factor tag (the
    * basename of the data dir Verify was pointed at). sf0.01 is what
    * the driver runs; sf0.001 documents cross-scale stability and
    * feeds the fast spec.
    *
    * Every digest is partition-count invariant (probed identical at
    * 4/8/16 shuffle partitions), so Verify enforces unconditionally.
    * q_gx_qc_battery_full achieves this by computing gc_lambda with
    * the exact `percentile` (the library default stays the reference's
    * `percentile_approx`, whose sketch merges shift with partition
    * count — see SumstatQC.gcLambdaCheck for the trade). */
  val expected: Map[String, Map[String, String]] = Map(
    "q_gx_finemap_e2e" -> Map(
      "sf0.01" -> "275:21abc0acc6757df0:77834240016629439932",
      "sf0.001" -> "36:d609648cb770530c:3841804710836459826"),
    "q_gx_pics" -> Map(
      "sf0.01" -> "32905:d27602edce554bd6:-761620942296608021500",
      "sf0.001" -> "3367:288b44feae1f95af:101712457955559769567"),
    // recomputed 2026-08-14: gc_lambda moved to exact percentile for
    // partition invariance (intentional semantic change; probed
    // identical at 4/8/16 partitions at both SFs)
    "q_gx_qc_battery_full" -> Map(
      "sf0.01" -> "5:8a6115cf6f912b74:4928578267978518548",
      "sf0.001" -> "5:5f0e33cb55a5dc1b:-9294244444966264803"),
    "q_text_bpe" -> Map(
      "sf0.01" -> "500:539a93538473be52:-17779145021201719100",
      "sf0.001" -> "500:03a350d772bedabc:13038663880689326822")
  )

  /** Regeneration main: runs every [[expected]] query against the
    * given data dir through the same coalesce(1) parquet round-trip
    * Verify uses, and prints paste-ready digest lines. */
  def main(args: Array[String]): Unit = {
    val sfDir = args(0)
    val tag = new java.io.File(sfDir).getName
    val spark = graft.GraftSession.getOrCreate()
    val out = java.nio.file.Files.createTempDirectory("goldens").toString
    expected.keys.toSeq.sorted.foreach { name =>
      graft.SparkEntry.queries(name)(spark, sfDir)
        .coalesce(1).write.mode("overwrite").parquet(s"$out/$name")
      val d = canonicalDigest(spark.read.parquet(s"$out/$name"))
      println(s"""GOLDEN "$name" "$tag" -> "$d",""")
    }
    spark.stop()
  }
}
