package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import graft.ml.L2GFeatures
import org.apache.spark.graft.JobCount
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

case class Ld2(tagVariantId: String, r2Overall: Option[Double])
case class Tag2(variantId: String, posteriorProbability: Option[Double])

class LDClumpingL2GSpec extends SparkSpec {
  import spark.implicits._

  test("LD clumping flags leads linked to stronger leads via ldSet") {
    val df = Seq(
      // strongest lead v1; v2 is in LD with v1 -> clumped; v3 indep
      ("s1", "1", "v1", 1.0f, -12, Some(Seq(Ld2("v2", Some(0.9)))), Some(Seq(Tag2("v1", Some(1.0))))),
      ("s1", "1", "v2", 1.0f, -8, Some(Seq(Ld2("v1", Some(0.9)))), Some(Seq(Tag2("v2", Some(1.0))))),
      ("s1", "1", "v3", 1.0f, -6, Some(Seq(Ld2("v9", Some(0.7)))), Some(Seq(Tag2("v3", Some(1.0))))),
      // other chromosome: no interference
      ("s1", "2", "v1", 1.0f, -4, Some(Seq(Ld2("v2", Some(0.9)))), Some(Seq(Tag2("v1", Some(1.0)))))
    ).toDF("studyId", "chromosome", "variantId", "pValueMantissa",
      "pValueExponent", "ldSet", "locus")
      .withColumn("qualityControls", lit(null).cast("array<string>"))
    val out = LDClumping.clump(df, cache = CacheHandle())
    val flags = out.select(col("chromosome"), col("variantId"),
      array_contains(coalesce(col("qualityControls"), array()),
        LDClumping.LdClumpedFlag).as("clumped"),
      col("locus").isNull.as("locusNulled"))
      .as[(String, String, Boolean, Boolean)].collect().toSet
    assert(flags == Set(
      ("1", "v1", false, false),
      ("1", "v2", true, true), // linked to stronger v1
      ("1", "v3", false, false),
      ("2", "v1", false, false)))
  }

  /** 400 rows over 6 (study, chromosome) partitions with dense tag
    * overlap, some empty/absent-tag ldSets and null variantIds.
    * injective=true perturbs mantissa by a unique epsilon; false keeps
    * the raw 9-value-coarse mantissas (hundreds of exact ties). */
  private def randomAssociations(injective: Boolean): DataFrame = {
    val rnd = new scala.util.Random(20260814)
    val rows = (0 until 400).map { i =>
      val vid = if (i % 97 == 0) null else s"v${rnd.nextInt(60)}_${i % 3}"
      val tags = Seq.fill(rnd.nextInt(4))(Ld2(s"v${rnd.nextInt(60)}_${i % 3}",
        Some(rnd.nextDouble())))
      (s"s${i % 2}", s"${i % 3}", vid,
        (1.0f + rnd.nextInt(899) / 100.0f), -4 - rnd.nextInt(12),
        Some(tags), Some(Seq(Tag2(s"t$i", Some(1.0)))))
    }
    rows.zipWithIndex.map { case ((s, c, v, m, e, ld, lo), i) =>
      (s, c, v, if (injective) m + i * 1e-4f else m, e, ld, lo)
    }.toDF("studyId", "chromosome", "variantId", "pValueMantissa",
      "pValueExponent", "ldSet", "locus")
      .withColumn("qualityControls", lit(null).cast("array<string>"))
  }

  private def clumpedFlags(d: DataFrame): DataFrame =
    d.select(col("studyId"), col("chromosome"), col("variantId"),
      col("pValueMantissa"),
      array_contains(coalesce(col("qualityControls"), array()),
        LDClumping.LdClumpedFlag).as("clumped"))

  test("LD clumping join shape matches the reference window shape") {
    // randomized parity on BOTH injective and tied p-values: the window
    // ordering is total (lead-id tie-break appended, matching the join
    // plan), so parity must hold even when (exponent, mantissa) collide
    // heavily
    for (injective <- Seq(true, false)) {
      val df = randomAssociations(injective)
      val joined = clumpedFlags(LDClumping.clump(df, cache = CacheHandle()))
      val windowed = df.select(col("studyId"), col("chromosome"),
        col("variantId"), col("pValueMantissa"),
        LDClumping.isLeadLinked(col("studyId"), col("chromosome"),
          col("variantId"), col("pValueExponent"), col("pValueMantissa"),
          col("ldSet")).as("clumped"))
      assert(joined.exceptAll(windowed).isEmpty &&
        windowed.exceptAll(joined).isEmpty, s"injective=$injective")
      assert(joined.filter(col("clumped")).count() > 10) // non-trivial
    }
  }

  // the gate is now the per-partition windowMaxPartitionRows bound: under
  // it the window plan flags what the join plan flags; over it the query
  // fails (next test) instead of falling back to the join plan
  test("windowPathMaxRows gate: window path taken only under the bound") {
    val small = Seq(
      ("s1", "1", "v1", 1.0f, -12, Some(Seq(Ld2("v2", Some(0.9)))),
        Some(Seq(Tag2("v1", Some(1.0))))),
      ("s1", "1", "v2", 1.0f, -8, Some(Seq(Ld2("v1", Some(0.9)))),
        Some(Seq(Tag2("v2", Some(1.0))))),
      ("s1", "1", "v3", 1.0f, -6, None, Some(Seq(Tag2("v3", Some(1.0))))))
      .toDF("studyId", "chromosome", "variantId", "pValueMantissa",
        "pValueExponent", "ldSet", "locus")
      .withColumn("qualityControls", lit(null).cast("array<string>"))
    val expect = Set(("v1", false), ("v2", true), ("v3", false))
    // a bound equal to the partition's size passes
    assert(clumpedFlags(LDClumping.clump(small, windowMaxPartitionRows = 3,
        cache = CacheHandle()))
      .select("variantId", "clumped").as[(String, Boolean)]
      .collect().toSet == expect)
    // randomized parity, tied p-values included: the partitions hold
    // ~70 rows each, 400 in all, so a bound of 100 also shows the
    // bound is per partition, not per input
    for (injective <- Seq(true, false)) {
      val df = randomAssociations(injective)
      val joined = clumpedFlags(LDClumping.clump(df, cache = CacheHandle()))
      val windowed = clumpedFlags(LDClumping.clump(df,
        windowMaxPartitionRows = 100, cache = CacheHandle()))
      assert(joined.exceptAll(windowed).isEmpty &&
        windowed.exceptAll(joined).isEmpty, s"injective=$injective")
    }
  }

  test("window plan over its partition bound fails, naming the bound") {
    val df = randomAssociations(injective = true)
    val out = LDClumping.clump(df, windowMaxPartitionRows = 50,
      cache = CacheHandle())
    val e = intercept[Exception](out.collect())
    val messages = Iterator.iterate[Throwable](e)(_.getCause)
      .takeWhile(_ != null).map(m => String.valueOf(m.getMessage)).toSeq
    assert(messages.exists(_.contains("windowMaxPartitionRows = 50")),
      messages.mkString("\n"))
  }

  test("building the window plan runs no Spark job") {
    val df = randomAssociations(injective = true)
    val (_, jobs) = JobCount(spark)(
      LDClumping.clump(df, windowMaxPartitionRows = 100,
        cache = CacheHandle()).queryExecution.executedPlan)
    assert(jobs == 0)
  }

  test("LD clumping breaks p-value ties deterministically (lead id asc)") {
    // two mutually-tagged leads tied on (exponent, mantissa): the
    // reference's ROWS-frame window flags whichever row is physically
    // later (partitioning-dependent); both our plans pin lead-id
    // ascending — vB links to vA, never the reverse, at any layout and
    // on the window plan as on the join plan
    def run(parts: Int, windowMaxPartitionRows: Long = 0L) = {
      val df = Seq(
        ("s1", "1", "vA", 1.0f, -8, Some(Seq(Ld2("vB", Some(0.9)))),
          Some(Seq(Tag2("vA", Some(1.0))))),
        ("s1", "1", "vB", 1.0f, -8, Some(Seq(Ld2("vA", Some(0.9)))),
          Some(Seq(Tag2("vB", Some(1.0))))))
        .toDF("studyId", "chromosome", "variantId", "pValueMantissa",
          "pValueExponent", "ldSet", "locus")
        .withColumn("qualityControls", lit(null).cast("array<string>"))
        .repartition(parts)
      LDClumping.clump(df, windowMaxPartitionRows = windowMaxPartitionRows,
        cache = CacheHandle())
        .select(col("variantId"),
          array_contains(coalesce(col("qualityControls"), array()),
            LDClumping.LdClumpedFlag).as("clumped"))
        .as[(String, Boolean)].collect().toSet
    }
    val expected = Set(("vA", false), ("vB", true))
    assert(run(1) == expected && run(7) == expected)
    // window plan: same verdict at any physical layout
    assert(run(1, windowMaxPartitionRows = 10) == expected &&
      run(7, windowMaxPartitionRows = 10) == expected)
  }

  test("LD clumping with caching disabled matches the cached path") {
    val df = Seq(
      ("s1", "1", "v1", 1.0f, -12, Some(Seq(Ld2("v2", Some(0.9)))),
        Some(Seq(Tag2("v1", Some(1.0))))),
      ("s1", "1", "v2", 1.0f, -8, Some(Seq(Ld2("v1", Some(0.9)))),
        Some(Seq(Tag2("v2", Some(1.0))))))
      .toDF("studyId", "chromosome", "variantId", "pValueMantissa",
        "pValueExponent", "ldSet", "locus")
      .withColumn("qualityControls", lit(null).cast("array<string>"))
    val cached = LDClumping.clump(df,
      cache = CacheHandle()).select("variantId", "qualityControls")
    val plain = LDClumping.clump(df, cache = graft.core.CacheHandle.disabled)
      .select("variantId", "qualityControls")
    assert(cached.exceptAll(plain).isEmpty && plain.exceptAll(cached).isEmpty)
  }

  test("LD clumping is linear on a degenerate mega-partition") {
    // 50k leads in ONE (study, chromosome) — the shape that made the
    // old running-collect_set window O(partition²). The join shape's
    // work is bounded by Σ|ldSet|; every even rank links to the
    // adjacent stronger odd rank, odd ranks stay independent.
    val df = (1 to 50000).map { i =>
      val partner = if (i % 2 == 0) s"v${i - 1}" else s"x$i"
      (s"s1", "1", s"v$i", 1.0f, -200000 + i,
        Some(Seq(Ld2(partner, Some(0.9)))),
        Some(Seq(Tag2(s"v$i", Some(1.0)))))
    }.toDF("studyId", "chromosome", "variantId", "pValueMantissa",
      "pValueExponent", "ldSet", "locus")
      .withColumn("qualityControls", lit(null).cast("array<string>"))
    val flagged = LDClumping.clump(df, cache = CacheHandle())
      .filter(array_contains(coalesce(col("qualityControls"), array()),
        LDClumping.LdClumpedFlag))
      .select("variantId").as[String].collect()
    assert(flagged.length == 25000 &&
      flagged.forall(_.stripPrefix("v").toInt % 2 == 0))
  }

  test("L2G distance features: mean weighted, sentinel, neighbourhood") {
    val credSets = Seq(
      ("sl1", "v1", Seq(Tag2("v1", Some(0.8)), Tag2("v2", Some(0.2))))
    ).toDF("studyLocusId", "variantId", "locus")
    val distances = Seq(
      ("v1", "g1", 1000L), ("v1", "g2", 100000L),
      ("v2", "g1", 5000L), ("v2", "g2", 90000L)
    ).toDF("variantId", "geneId", "distanceFromTss")

    val genes = Seq(("g1", "protein_coding"), ("g2", "protein_coding"),
      ("g3", "lncRNA")).toDF("id", "biotype")
    val h = CacheHandle()
    val matrix = L2GFeatures.computeFeatureMatrix(L2GFeatures.Inputs(credSets,
      genes = Some(genes), distances = Some(distances)), h)
    val rows = try matrix.collect().map(r => r.getAs[String]("geneId") -> r).toMap
    finally h.release()
    val m = rows.map { case (g, r) => g -> r.getAs[Double]("distanceTssMean") }
    val w = 500000.0
    val expectedG1 = math.log10((w - 1000 + 1) * 0.8 + (w - 5000 + 1) * 0.2) /
      math.log10(w + 1)
    assert(math.abs(m("g1") - expectedG1) < 1e-12)
    assert(m("g1") > m("g2")) // nearer gene scores higher

    val s = rows.map { case (g, r) => g -> r.getAs[Double]("distanceSentinelTss") }
    assert(math.abs(s("g1") - math.log10(w - 1000 + 1) / math.log10(w + 1)) < 1e-12)

    val n = rows.map { case (g, r) =>
      g -> r.getAs[Double]("distanceTssMeanNeighbourhood") }
    assert(n("g1") == 1.0) // regional max normalises to itself
    assert(n("g2") < 1.0 && n("g2") > 0.0)

    assert(matrix.columns.toSet == Set("studyLocusId", "geneId",
      "distanceTssMean", "distanceSentinelTss", "distanceTssMeanNeighbourhood",
      "distanceSentinelTssNeighbourhood"))
    assert(rows.size == 2)
  }
}
