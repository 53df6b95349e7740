package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Golden numbers from the reference's COLOC/eCAVIAR tests
  * (reference: tests/gentropy/method/test_colocalisation_method.py:28-260),
  * themselves validated against the R COLOC package.
  */
class ColocSpec extends SparkSpec {
  import spark.implicits._

  private def overlapDf(
      rows: Seq[(String, Option[Double], Option[Double], Option[Double],
        Option[Double], Option[Double], Option[Double])]): DataFrame =
    rows
      .toDF("tagVariantId", "left_logBF", "right_logBF", "left_beta",
        "right_beta", "left_pp", "right_pp")
      .select(
        lit("1").as("leftStudyLocusId"),
        lit("2").as("rightStudyLocusId"),
        lit("eqtl").as("rightStudyType"),
        lit("1").as("chromosome"),
        col("tagVariantId"),
        struct(
          col("left_logBF"), col("right_logBF"),
          col("left_pp").as("left_posteriorProbability"),
          col("right_pp").as("right_posteriorProbability"),
          col("left_beta"), col("right_beta")).as("statistics"))

  private def assertH(df: DataFrame, want: Seq[Double]): Unit = {
    val got = df.select("h0", "h1", "h2", "h3", "h4").head
    want.zipWithIndex.foreach { case (w, i) =>
      // 1e-9 abs: the streaming logsumexp aggregate accumulates in a
      // different order than the reference's batch NumPy logsumexp
      // (reference tests themselves compare at pandas rtol=1e-5)
      assert(math.abs(got.getDouble(i) - w) < 1e-9, s"h$i: ${got.getDouble(i)} vs $w")
    }
  }

  test("single overlapping SNP matches R COLOC") {
    val df = overlapDf(Seq(
      ("snp", Some(10.3), Some(10.5), Some(0.1), Some(0.2), Some(0.91), Some(0.92))))
    assertH(Coloc.colocalise(df), Seq(
      9.254841951638903e-5, 2.7517068829182966e-4, 3.3609423764447284e-4,
      9.254841952564387e-13, 0.9992961866536217))
  }

  test("mismatched posterior probabilities are filtered out") {
    val df = overlapDf(Seq(
      ("snp1", Some(1.2), Some(10.5), Some(0.001), Some(0.2), Some(0.001), Some(0.92)),
      ("snp2", Some(10.3), Some(3.8), Some(0.3), Some(0.005), Some(0.91), Some(0.01))))
    assert(Coloc.colocalise(df).count() == 0)
  }

  test("significant PP overlap matches R COLOC") {
    val df = overlapDf(Seq(
      ("snp1", Some(10.2), Some(10.5), Some(0.5), Some(0.2), Some(0.91), Some(0.92)),
      ("snp2", Some(1.2), Some(3.8), Some(0.003), Some(0.005), Some(0.001), Some(0.01))))
    assertH(Coloc.colocalise(df), Seq(
      1.02277006860577e-4, 2.7519169183135977e-4, 3.718812819512325e-4,
      1.3533048074295033e-6, 0.9992492967145488))
  }

  test("one-sided tag (left-only) fills zeros and matches R COLOC") {
    val df = overlapDf(Seq(
      ("snp1", Some(1.2), None, Some(0.003), None, Some(0.001), Some(0.01)),
      ("snp2", Some(1.2), Some(3.8), Some(0.003), Some(0.005), Some(0.001), Some(0.01)),
      ("snp3", Some(10.2), Some(10.5), Some(0.5), Some(0.2), Some(0.91), Some(0.92))))
    assertH(Coloc.colocalise(df), Seq(
      1.02277006860577e-4, 2.752255943423052e-4, 3.718914358059273e-4,
      1.5042926116520848e-6, 0.9992491016906891))
  }

  test("high left PP but low right PP filtered out") {
    val df = overlapDf(Seq(
      ("snp1", Some(1.2), None, Some(0.003), None, Some(0.001), Some(0.01)),
      ("snp2", Some(1.2), Some(3.8), Some(0.003), Some(0.005), Some(0.001), Some(0.01)),
      ("snp3", Some(10.2), Some(10.5), Some(0.5), Some(0.2), Some(0.36), Some(0.92))))
    assert(Coloc.colocalise(df).count() == 0)
  }

  test("irrelevant logBF yields high h0, low h4") {
    val df = overlapDf(Seq(
      ("snp", None, None, Some(0.1), Some(0.2), Some(0.91), Some(0.92))))
    val r = Coloc.colocalise(df).select("h0", "h4").head
    assert(r.getDouble(0) > 0.99 && r.getDouble(1) < 1e-5)
  }

  test("eCAVIAR CLPP is sum of PP products with both-source count") {
    val df = overlapDf(Seq(
      ("snp1", Some(1.0), Some(1.0), Some(0.1), Some(0.2), Some(0.5), Some(0.5)),
      ("snp2", Some(1.0), Some(1.0), Some(0.1), Some(0.2), Some(0.25), Some(0.75)),
      ("snp3", Some(1.0), None, Some(0.1), None, Some(0.2), None)))
    val r = Coloc.eCaviar(df)
      .select("clpp", "numberColocalisingVariants", "betaRatioSignAverage").head
    assert(math.abs(r.getDouble(0) - (0.25 + 0.1875)) < 1e-12)
    assert(r.getLong(1) == 2)
    assert(math.abs(r.getDouble(2) - 1.0) < 1e-12)
  }

  test("fused COLOC equals the aligned-overlap pipeline on unique-tag loci") {
    // three loci with partial overlaps (incl. one-sided tags), variant
    // unique within each locus — the credible-set invariant the fused
    // decomposition relies on
    val cred = Seq(
      ("A", "s1", "gwas", "1", "rA", Seq(("v1", 10.2, 0.91, 0.5), ("v2", 1.2, 0.6, 0.3), ("v3", 2.0, 0.2, -0.1))),
      ("B", "s2", "eqtl", "1", "rB", Seq(("v1", 10.5, 0.92, 0.2), ("v2", 3.8, 0.7, 0.1), ("v9", 0.5, 0.1, 0.4))),
      ("C", "s3", "eqtl", "1", "rC", Seq(("v2", 6.0, 0.8, -0.2), ("v4", 1.0, 0.3, 0.2))))
      .toDF("studyLocusId", "studyId", "studyType", "chromosome", "region", "raw")
      .select(col("studyLocusId"), col("studyId"), col("studyType"),
        col("chromosome"), col("region"),
        expr("transform(raw, t -> named_struct(" +
          "'variantId', t._1, 'logBF', t._2, 'posteriorProbability', t._3," +
          "'beta', t._4, 'pValueMantissa', CAST(1.0 AS FLOAT)," +
          "'pValueExponent', -8))").as("locus"))
    val classic = Coloc.colocalise(Overlaps.findOverlaps(cred, cache = CacheHandle()))
    val fused = Coloc.colocaliseFused(Overlaps.explodeLoci(cred))
    val cols = Seq("leftStudyLocusId", "rightStudyLocusId",
      "numberColocalisingVariants", "h0", "h1", "h2", "h3", "h4",
      "betaRatioSignAverage")
    val c = classic.select(cols.head, cols.tail: _*)
      .collect().map(r => r.getString(0) -> r).toMap
    val f = fused.select(cols.head, cols.tail: _*)
      .collect().map(r => r.getString(0) -> r).toMap
    assert(c.keySet == f.keySet && c.nonEmpty)
    c.keys.foreach { k =>
      assert(c(k).getLong(2) == f(k).getLong(2), s"$k count")
      (3 to 8).foreach { i =>
        assert(math.abs(c(k).getDouble(i) - f(k).getDouble(i)) < 1e-9,
          s"$k col$i: ${c(k).getDouble(i)} vs ${f(k).getDouble(i)}")
      }
    }
    spark.sqlContext.clearCache()
  }

  test("fused eCAVIAR equals the aligned-overlap pipeline on randomized credsets") {
    // randomized partial overlaps incl. one-sided tags, null betas and
    // zero betas — every exclusion branch of the classic aggregates
    val rnd = new scala.util.Random(20260815)
    val cred = (0 until 60).map { i =>
      val tags = (0 until 2 + rnd.nextInt(5)).map { _ =>
        val beta = rnd.nextInt(4) match {
          case 0 => null.asInstanceOf[java.lang.Double]
          case 1 => java.lang.Double.valueOf(0.0)
          case _ => java.lang.Double.valueOf(rnd.nextGaussian())
        }
        (s"v${rnd.nextInt(30)}", rnd.nextDouble() * 10,
          rnd.nextDouble(), beta)
      }.distinctBy(_._1)
      (s"L$i", s"s${i % 7}", if (i % 3 == 0) "gwas" else "eqtl",
        s"${i % 2}", s"r$i", tags)
    }.toDF("studyLocusId", "studyId", "studyType", "chromosome", "region", "raw")
      .select(col("studyLocusId"), col("studyId"), col("studyType"),
        col("chromosome"), col("region"),
        expr("transform(raw, t -> named_struct(" +
          "'variantId', t._1, 'logBF', t._2, 'posteriorProbability', t._3," +
          "'beta', t._4, 'pValueMantissa', CAST(1.0 AS FLOAT)," +
          "'pValueExponent', -8))").as("locus"))
    val classic = Coloc.eCaviar(Overlaps.findOverlaps(cred, cache = CacheHandle()))
    val fused = Coloc.eCaviarFused(Overlaps.explodeLoci(cred))
    val cols = Seq("leftStudyLocusId", "rightStudyLocusId",
      "numberColocalisingVariants", "clpp", "betaRatioSignAverage")
    def keyed(df: org.apache.spark.sql.DataFrame) =
      df.select(cols.head, cols.tail: _*).collect()
        .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val c = keyed(classic)
    val f = keyed(fused)
    assert(c.keySet == f.keySet && c.size > 20)
    c.keys.foreach { k =>
      assert(c(k).getLong(2) == f(k).getLong(2), s"$k count")
      assert(math.abs(c(k).getDouble(3) - f(k).getDouble(3)) < 1e-9, s"$k clpp")
      assert(c(k).isNullAt(4) == f(k).isNullAt(4), s"$k sign-null")
      if (!c(k).isNullAt(4))
        assert(math.abs(c(k).getDouble(4) - f(k).getDouble(4)) < 1e-9,
          s"$k sign")
    }
    spark.sqlContext.clearCache()
  }

  test("fused COLOC intra-study mode equals the aligned pipeline") {
    val cred = Seq(
      ("A", "s1", "gwas", "1", "r1", Seq(("v1", 10.2, 0.91, 0.5), ("v2", 1.2, 0.6, 0.3))),
      ("B", "s1", "gwas", "1", "r2", Seq(("v1", 10.5, 0.92, 0.2), ("v3", 3.8, 0.7, 0.1))),
      ("C", "s2", "gwas", "1", "r3", Seq(("v1", 6.0, 0.8, -0.2)))) // other study: no intra pair
      .toDF("studyLocusId", "studyId", "studyType", "chromosome", "region", "raw")
      .select(col("studyLocusId"), col("studyId"), col("studyType"),
        col("chromosome"), col("region"),
        expr("transform(raw, t -> named_struct(" +
          "'variantId', t._1, 'logBF', t._2, 'posteriorProbability', t._3," +
          "'beta', t._4, 'pValueMantissa', CAST(1.0 AS FLOAT)," +
          "'pValueExponent', -8))").as("locus"))
    val classic = Coloc.colocalise(
      Overlaps.findOverlaps(cred, intraStudy = true, cache = CacheHandle())).collect()
    val fused = Coloc.colocaliseFused(Overlaps.explodeLoci(cred),
      intraStudy = true).collect()
    assert(classic.length == fused.length && classic.nonEmpty)
    val cMap = classic.map(r => r.getAs[String]("leftStudyLocusId") -> r).toMap
    fused.foreach { f =>
      val c = cMap(f.getAs[String]("leftStudyLocusId"))
      assert(c.getAs[String]("rightStudyLocusId") ==
        f.getAs[String]("rightStudyLocusId"))
      Seq("h0", "h1", "h2", "h3", "h4").foreach { h =>
        assert(math.abs(c.getAs[Double](h) - f.getAs[Double](h)) < 1e-9, h)
      }
    }
    // the cross-study locus C never pairs in intra mode
    assert(!fused.exists(r =>
      r.getAs[String]("leftStudyLocusId") == "C" ||
        r.getAs[String]("rightStudyLocusId") == "C"))
    spark.sqlContext.clearCache()
  }

  test("betaRatio averages the sign, ignoring null/zero betas") {
    val df = overlapDf(Seq(
      ("snp1", Some(1.0), Some(1.0), Some(0.1), Some(0.2), Some(0.5), Some(0.5)),
      ("snp2", Some(1.0), Some(1.0), Some(-0.1), Some(0.2), Some(0.25), Some(0.75)),
      ("snp3", Some(1.0), Some(1.0), Some(0.0), Some(0.2), Some(0.2), Some(0.2)),
      ("snp4", Some(1.0), Some(1.0), None, Some(0.2), Some(0.2), Some(0.2))))
    // eCAVIAR keeps every pair (COLOC's evidence filter drops this one),
    // and its aggregate carries the shared beta-ratio expression
    val r = Coloc.eCaviar(df).select("betaRatioSignAverage").head
    assert(math.abs(r.getDouble(0) - 0.0) < 1e-12) // (+1 - 1) / 2
  }
}
