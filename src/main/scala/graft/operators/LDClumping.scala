package graft.operators

import graft.functions.ArrayFns
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** LD clumping: flag study-loci whose lead variant is linked (through
  * the ldSet) to a more significant lead in the same study/chromosome.
  *
  * Semantics match the reference (reference:
  * src/gentropy/method/clump.py:19-64): a lead is linked when more
  * than one of {lead} ∪ ldSet tags appears among the leads at equal or
  * stronger p-value. Since the lead itself always counts once, this is
  * equivalent to: ∃ tag t ≠ variantId in the row's ldSet such that t
  * is some row's lead variant with strictly-stronger
  * (pValueExponent, pValueMantissa) in the same (studyId, chromosome).
  *
  * Scale design — the reference shape (running `collect_set` window,
  * kept verbatim in [[isLeadLinked]] for parity testing) materialises
  * an O(rank)-sized array into EVERY output row: O(partition²) element
  * copies on a mega partition, the exact WindowExec shape the 100×
  * rehearsal proved unbenchable for window clumping. [[clump]] instead
  * uses the equivalent aggregate/explode/equi-join plan:
  *
  *  1. `leadBest`: groupBy (studyId, chromosome, variantId) → min
  *     (exponent, mantissa) struct — the strongest appearance of each
  *     lead (map-side combinable, O(1) state per key).
  *  2. explode each row's tag set (tags ≠ own lead), equi-join on
  *     (studyId, chromosome, tag = lead) — ≤ 1 match per exploded tag,
  *     so output is bounded by Σ|ldSet|, never by partition².
  *  3. keep pairs where the matched lead is strictly stronger; distinct
  *     row keys; left-join the flag back.
  *
  * Every stage is a linear shuffle on real keys; no per-row growing
  * state, so no degenerate-partition cap is needed (the previous
  * `maxLeadsPerPartition` guard existed only to bound the window
  * state and is gone with the window).
  *
  * Tie handling: the reference's ROWS-frame window makes ties in
  * (exponent, mantissa) order-dependent (whichever tied row is
  * physically later sees the other). Here ties break deterministically
  * by lead variantId ascending — identical to the reference whenever
  * p-values are injective within a partition. Null p-value components
  * are not compared (rows with null exponent/mantissa neither link nor
  * get linked through the comparison), matching the non-null p-value
  * contract of the reference StudyLocus schema.
  */
object LDClumping {

  val LdClumpedFlag = "LD_CLUMPED"

  /** Reference-shape kernel (running collect_set window) from
    * reference clump.py:41-64, with ONE deliberate delta: the window
    * ordering appends `variantId` ascending, making it total. The
    * reference orders by (exponent, mantissa) only, so on tied
    * p-values its flag depends on physical row order; the total order
    * here resolves those ties by lead id ascending — exactly the
    * join plan's tie-break — so both paths agree unconditionally and
    * the window path is partition-layout-independent. O(partition²)
    * on degenerate partitions — kept as the parity baseline for
    * LDClumpingL2GSpec and [[clump]]'s guarded small-input path
    * (package-private so library callers cannot reach the
    * scale-killer shape directly). */
  private[operators] def isLeadLinked(studyId: Column, chromosome: Column, variantId: Column,
                   pValueExponent: Column, pValueMantissa: Column,
                   ldSet: Column): Column = {
    val w = Window.partitionBy(studyId, chromosome)
      .orderBy(pValueExponent.asc, pValueMantissa.asc, variantId.asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val strongerLeads = collect_set(variantId).over(w)
    val tagsInLocus = array_distinct(array_union(
      array(variantId),
      transform(coalesce(ldSet, array().cast("array<struct<tagVariantId:string,r2Overall:double>>")),
        t => t.getField("tagVariantId"))))
    when(variantId.isNull, lit(false))
      .otherwise(size(array_intersect(strongerLeads, tagsInLocus)) > 1)
  }

  /** Single-pass small-input path: the reference window kernel plus
    * the same flag/locus rewrite as [[clump]]. One scan + one window —
    * no slim-frame persist, no back-join — so on inputs whose
    * (study, chromosome) partitions are small it beats the join plan
    * by the cost of the second upstream pass.
    *
    * The kernel is O(partition²), so a row count per (studyId,
    * chromosome) partition runs first, in the same plan, and a
    * partition of more than `maxPartitionRows` rows fails the query
    * (`raise_error`, naming the bound) before the collect_set window
    * starts: a caller cannot reach the quadratic window on a partition
    * larger than the bound it states, and stating it runs no job. The
    * count window buffers one partition at a time, linear in its
    * size. */
  private def clumpViaWindow(associations: DataFrame,
                             maxPartitionRows: Long): DataFrame = {
    val n = count(lit(1)).over(
      Window.partitionBy(col("studyId"), col("chromosome")))
    associations
      .withColumn("_n", n)
      .filter(when(col("_n") > maxPartitionRows, raise_error(format_string(
        "LDClumping.clump: partition (studyId=%s, chromosome=%s) has %d " +
          "rows, over the window plan's bound windowMaxPartitionRows = " +
          s"$maxPartitionRows; pass 0 for the join plan",
        col("studyId"), col("chromosome"), col("_n")))).otherwise(lit(true)))
      .drop("_n")
      .withColumn("_linked",
        isLeadLinked(col("studyId"), col("chromosome"), col("variantId"),
          col("pValueExponent"), col("pValueMantissa"), col("ldSet")))
      .withColumn("qualityControls",
        ArrayFns.updateQualityFlag(col("qualityControls"), col("_linked"),
          LdClumpedFlag))
      .withColumn("locus",
        when(col("_linked"), lit(null)).otherwise(col("locus")))
      .drop("_linked")
  }

  /** Flag LD-clumped rows and null out their locus.
    *
    * `cache`: the slim (5 key columns + exploded tag) frame feeds two
    * consumers (lead dedup + the candidate join); persisting it keeps
    * the pass count over `associations` at two — one to build the tag
    * frame, one for the output back-join. Without the persist each
    * consumer re-evaluates the upstream (column pruning makes the
    * branches' exchanges non-identical, so ReuseExchange cannot
    * dedupe them — measured 3 full upstream scans). Pass
    * `CacheHandle.disabled` to trade recompute for storage memory.
    *
    * `windowMaxPartitionRows`: opt-in single-pass plan for inputs
    * whose (studyId, chromosome) partitions are small. When > 0 the
    * operator runs the reference window kernel instead of the join
    * plan: one scan, no slim-frame persist, no back-join, and `cache`
    * unused. The bound is a HARD guard inside the plan: a partition of
    * more rows fails the query, naming the bound, instead of running
    * the O(partition²) window (see [[clumpViaWindow]]). Ties: both
    * plans break (exponent, mantissa) ties by lead variantId ascending
    * — the window ordering is total (see [[isLeadLinked]]) — so the
    * choice never changes results, tied p-values included; the
    * randomized parity spec pins this on non-injective inputs. Leave
    * at 0 (default) for the join production plan. */
  def clump(associations: DataFrame,
            cache: graft.core.CacheHandle,
            windowMaxPartitionRows: Long = 0L): DataFrame = {
    if (windowMaxPartitionRows > 0L)
      return clumpViaWindow(associations, windowMaxPartitionRows)
    val rowKey = Seq("studyId", "chromosome", "variantId",
      "pValueExponent", "pValueMantissa")
    // one slim pass: row keys + exploded tags (explode_outer keeps
    // tag-less rows so leadBest sees every lead)
    val tagged = cache.persist(associations
      .filter(col("variantId").isNotNull)
      .select(col("studyId"), col("chromosome"), col("variantId"),
        col("pValueExponent"), col("pValueMantissa"),
        explode_outer(array_distinct(transform(
          coalesce(col("ldSet"),
            array().cast("array<struct<tagVariantId:string,r2Overall:double>>")),
          t => t.getField("tagVariantId")))).as("_tag")))
    // strongest appearance of each lead variant per (study, chromosome)
    // — derived from the tagged frame (groupBy dedups the per-tag
    // repetition of each row's key)
    val leadBest = tagged
      .groupBy(col("studyId").as("_lb_study"),
        col("chromosome").as("_lb_chrom"),
        col("variantId").as("_lb_lead"))
      .agg(min(struct(col("pValueExponent").as("e"),
        col("pValueMantissa").as("m"))).as("_lb_best"))
    // (row, tag) pairs for tags other than the row's own lead
    val tagPairs = tagged
      .filter(col("_tag").isNotNull && col("_tag") =!= col("variantId"))
    // linked ⇔ the tag is a lead with strictly-stronger p-value
    // (ties broken by lead id ascending — see scaladoc)
    val own = struct(col("pValueExponent").as("e"),
      col("pValueMantissa").as("m"))
    val linkedKeys = tagPairs
      .join(leadBest,
        col("studyId") <=> col("_lb_study") &&
          col("chromosome") <=> col("_lb_chrom") &&
          col("_tag") === col("_lb_lead"))
      .filter(col("_lb_best") < own ||
        (col("_lb_best") === own && col("_lb_lead") < col("variantId")))
      .select(rowKey.zip(rowKey.map("_lk_" + _)).map {
        case (c, a) => col(c).as(a) }: _*)
      .distinct()
      .withColumn("_linked", lit(true))
    // null-safe back-join so null studyId/chromosome partitions (a
    // partition of their own in the reference window) keep their flag
    associations
      .join(linkedKeys,
        rowKey.map(c => col(c) <=> col("_lk_" + c)).reduce(_ && _), "left")
      .withColumn("_linked", coalesce(col("_linked"), lit(false)))
      .drop(rowKey.map("_lk_" + _): _*)
      .withColumn("qualityControls",
        ArrayFns.updateQualityFlag(col("qualityControls"), col("_linked"),
          LdClumpedFlag))
      .withColumn("locus",
        when(col("_linked"), lit(null)).otherwise(col("locus")))
      .drop("_linked")
  }
}
