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
    * LDClumpingL2GSpec and [[clump]]'s gated small-input path
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
    * by the cost of the second upstream pass. O(partition²) on
    * mega-partitions: reach it only through [[clump]]'s
    * `windowPathMaxRows` gate, which counts the input before choosing
    * (the count is free when the caller hands in a persisted or
    * parquet-backed frame — exactly the callers this path serves). */
  private def clumpViaWindow(associations: DataFrame): DataFrame =
    associations
      .withColumn("_linked",
        isLeadLinked(col("studyId"), col("chromosome"), col("variantId"),
          col("pValueExponent"), col("pValueMantissa"), col("ldSet")))
      .withColumn("qualityControls",
        ArrayFns.updateQualityFlag(col("qualityControls"), col("_linked"),
          LdClumpedFlag))
      .withColumn("locus",
        when(col("_linked"), lit(null)).otherwise(col("locus")))
      .drop("_linked")

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
    * `windowPathMaxRows`: opt-in single-pass fallback for small
    * inputs. When > 0 the operator counts `associations` (one extra
    * job — free on a persisted or freshly-written frame, a full pass
    * otherwise) and, if the count is within the bound, runs the
    * reference window kernel instead of the join plan: one scan, no
    * slim-frame persist, no back-join. The count is a HARD gate — a
    * caller cannot reach the O(partition²) window on an input larger
    * than the bound it states. Ties: both paths break (exponent,
    * mantissa) ties by lead variantId ascending — the window ordering
    * is total (see [[isLeadLinked]]) — so flipping the gate never
    * changes results, tied p-values included; the randomized parity
    * spec pins this on non-injective inputs. Leave at 0 (default)
    * for the join production plan. */
  def clump(associations: DataFrame,
            cache: graft.core.CacheHandle,
            windowPathMaxRows: Long = 0L): DataFrame = {
    if (windowPathMaxRows > 0L &&
        associations.count() <= windowPathMaxRows)
      return clumpViaWindow(associations)
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
