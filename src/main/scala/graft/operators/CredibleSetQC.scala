package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Credible-set quality control for fine-mapping output: lead p-value
  * and purity filters, best-BF dedup, optional LD-based clumping.
  *
  * Mirrors the reference's credible-set QC
  * (reference: src/gentropy/method/susie_inf.py:471-534,
  * src/gentropy/credible_set_qc.py:12-80): p ≤ threshold,
  * purityMinR2 ≥ threshold, one row per studyLocusId keeping the
  * highest credibleSetLog10BF, then (optionally) LD annotation +
  * clumping with clumped loci removed.
  */
object CredibleSetQC {

  def credibleSetQc(
      credSets: DataFrame,
      pValueThreshold: Double = 1e-5,
      purityMinR2: Double = 0.01,
      clump: Boolean = false,
      ldIndex: Option[DataFrame] = None,
      studyIndex: Option[DataFrame] = None,
      ldMinR2: Double = 0.8,
      cache: graft.core.CacheHandle): DataFrame = {
    val filtered = credSets
      .withColumn("_p",
        col("pValueMantissa") * pow(lit(10.0), col("pValueExponent")))
      .filter(col("_p") <= pValueThreshold)
      .filter(col("purityMinR2") >= purityMinR2)
      .drop("_p")
      .withColumn("_rn", row_number().over(
        Window.partitionBy("studyLocusId")
          .orderBy(col("credibleSetLog10BF").desc)))
      .filter(col("_rn") === 1)
      .drop("_rn")
    if (!clump) filtered
    else {
      require(ldIndex.nonEmpty && studyIndex.nonEmpty,
        "clump mode requires ldIndex and studyIndex")
      LDClumping.clump(
        LDAnnotator.ldAnnotate(filtered, studyIndex.get, ldIndex.get, ldMinR2),
        cache = cache)
        .filter(!array_contains(coalesce(col("qualityControls"),
          array().cast("array<string>")), LDClumping.LdClumpedFlag))
    }
  }
}
