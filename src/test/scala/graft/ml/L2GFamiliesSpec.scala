package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._

case class TagF(variantId: String, posteriorProbability: Option[Double])
case class Tc(targetId: String, consequenceScore: Double, biotype: String,
              distanceFromFootprint: Long)

class L2GFamiliesSpec extends SparkSpec {
  import spark.implicits._

  private val W = 500000

  private def credSets = Seq(
    ("sl1", "v1", "gwas_s1", "1", 100000L,
      Seq(TagF("v1", Some(0.8)), TagF("v2", Some(0.2))))
  ).toDF("studyLocusId", "variantId", "studyId", "chromosome", "position", "locus")

  /** The factory's matrix over `in`, keyed by (studyLocusId, geneId). */
  private def matrix(in: L2GFeatures.Inputs)
      : Map[(String, String), org.apache.spark.sql.Row] = {
    val h = graft.core.CacheHandle()
    try L2GFeatures.computeFeatureMatrix(in, h).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    finally h.release()
  }

  test("one-pass distance family computes mean and sentinel together") {
    val distances = Seq(
      ("v1", "g1", 1000L, 2000L), ("v2", "g1", 5000L, 6000L),
      ("v1", "g2", 250000L, 260000L)
    ).toDF("variantId", "geneId", "distanceFromTss", "distanceFromFootprint")
    val out = matrix(L2GFeatures.Inputs(credSets, distances = Some(distances)))
    val g1 = out(("sl1", "g1"))
    // mean: log10(0.8*(W-1000+1) + 0.2*(W-5000+1)) / log10(W+1)
    val expMean = math.log10(0.8 * (W - 1000 + 1) + 0.2 * (W - 5000 + 1)) /
      math.log10(W + 1.0)
    assert(math.abs(g1.getAs[Double]("distanceTssMean") - expMean) < 1e-12)
    // sentinel: lead v1 only, unweighted
    val expSent = math.log10((W - 1000 + 1).toDouble) / math.log10(W + 1.0)
    assert(math.abs(g1.getAs[Double]("distanceSentinelTss") - expSent) < 1e-12)
    // footprint columns computed in the same pass
    val expFpMean = math.log10(0.8 * (W - 2000 + 1) + 0.2 * (W - 6000 + 1)) /
      math.log10(W + 1.0)
    assert(math.abs(g1.getAs[Double]("distanceFootprintMean") - expFpMean) < 1e-12)
    val expFpSent = math.log10((W - 2000 + 1).toDouble) / math.log10(W + 1.0)
    assert(math.abs(g1.getAs[Double]("distanceSentinelFootprint") - expFpSent) < 1e-12)
    // q_ml_l2g_distance's entry point runs the same aggregate block
    val direct = L2GFeatures.distanceFeatures(credSets, distances).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.toSeq).toMap
    assert(direct == out.map { case (k, r) => k -> r.toSeq })
  }

  test("coloc family: six conditional maxima in one groupBy") {
    val studyLoci = Seq(
      ("sl1", "gwas_s1"), ("r_e", "eq_s"), ("r_p", "pq_s"), ("r_s", "sq_s")
    ).toDF("studyLocusId", "studyId")
    val studyIndex = Seq(
      ("gwas_s1", "gwas", null.asInstanceOf[String]),
      ("eq_s", "eqtl", "g1"), ("pq_s", "pqtl", "g1"), ("sq_s", "sqtl", "g2")
    ).toDF("studyId", "studyType", "geneId")
    val coloc = Seq(
      ("sl1", "r_e", "eCAVIAR", 0.7, 0.1),
      ("sl1", "r_e", "eCAVIAR", 0.4, 0.2), // lower clpp, same class
      ("sl1", "r_e", "COLOC", 0.0, 0.9),
      ("sl1", "r_p", "eCAVIAR", 0.3, 0.0),
      ("sl1", "r_s", "COLOC", 0.0, 0.6),
      ("slX", "r_e", "eCAVIAR", 0.99, 0.99) // unknown left locus: dropped
    ).toDF("leftStudyLocusId", "rightStudyLocusId", "colocalisationMethod",
      "clpp", "h4")
    val out = L2GFeatures.colocFeatures(coloc, studyLoci, studyIndex)
      .collect().map(r => (r.getString(0), r.getString(1)) -> r).toMap
    val g1 = out(("sl1", "g1"))
    assert(g1.getAs[Double]("eQtlColocClppMaximum") == 0.7)
    assert(g1.getAs[Double]("eQtlColocH4Maximum") == 0.9)
    assert(g1.getAs[Double]("pQtlColocClppMaximum") == 0.3)
    assert(g1.isNullAt(g1.fieldIndex("sQtlColocH4Maximum")))
    val g2 = out(("sl1", "g2"))
    assert(g2.getAs[Double]("sQtlColocH4Maximum") == 0.6)
    assert(!out.contains(("slX", "g1")))
  }

  test("vep family + isProteinCoding + neighbourhood normalisation") {
    val variantIndex = Seq(
      ("v1", Seq(Tc("g1", 0.9, "protein_coding", 1000L),
        Tc("g2", 0.3, "lncRNA", 400000L))),
      ("v2", Seq(Tc("g1", 0.5, "protein_coding", 2000L)))
    ).toDF("variantId", "transcriptConsequences")
    // both genes are protein coding, so both enter the regional max
    val genes = Seq(("g1", "protein_coding", "1", 100000L),
      ("g2", "protein_coding", "1", 150000L))
      .toDF("id", "biotype", "chromosome", "tss")
    val out = matrix(L2GFeatures.Inputs(credSets,
      variantIndex = Some(variantIndex), genes = Some(genes)))
    val g1 = out(("sl1", "g1"))
    assert(g1.getAs[Double]("vepMaximum") == 0.9)
    // mean of (0.9*0.8, 0.5*0.2)
    assert(math.abs(g1.getAs[Double]("vepMean") - (0.72 + 0.1) / 2) < 1e-12)

    assert(g1.getAs[Double]("isProteinCoding") == 1.0)
    assert(out(("sl1", "g2")).getAs[Double]("isProteinCoding") == 0.0)

    assert(g1.getAs[Double]("vepMaximumNeighbourhood") == 1.0)
    assert(math.abs(out(("sl1", "g2"))
      .getAs[Double]("vepMaximumNeighbourhood") - 0.3 / 0.9) < 1e-12)
  }

  test("gene count features from one range join + window") {
    val genes = Seq(
      ("g1", "protein_coding", "1", 100000L), ("g2", "lncRNA", "1", 150000L),
      ("g3", "protein_coding", "1", 900000L), // outside ±250k
      ("g4", "protein_coding", "2", 100000L) // other chromosome
    ).toDF("id", "biotype", "chromosome", "tss")
    val out = L2GFeatures.geneCountFeatures(credSets, genes).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r).toMap
    assert(out.keySet == Set(("sl1", "g1"), ("sl1", "g2")))
    assert(out(("sl1", "g1")).getAs[Long]("geneCount500kb") == 2)
    assert(out(("sl1", "g1")).getAs[Long]("proteinGeneCount500kb") == 1)
  }

  test("flat-max matrix merge keeps each column's single owner value, " +
    "zero-fills, and plans as a HashAggregate (no sort of the union)") {
    // three families with overlapping and disjoint keys, nulls inside a
    // family frame, and a long count column — the shapes the factory
    // actually produces
    val famA = Seq(("sl1", "g1", 0.5, 0.25), ("sl1", "g2", 0.9, 0.1),
      ("sl2", "g1", 0.3, 0.0))
      .toDF("studyLocusId", "geneId", "distanceTssMean", "vepMean")
    val famB = Seq(("sl1", "g1", Some(0.7)), ("sl3", "g4", None))
      .toDF("studyLocusId", "geneId", "eQtlColocH4Maximum")
    val famC = Seq(("sl1", "g2", 3L), ("sl2", "g1", 1L))
      .toDF("studyLocusId", "geneId", "geneCount500kb")
    val fams = Seq(famA, famB, famC)
    val flat = L2GFeatures.featureMatrix(fams)
    assert(flat.columns.toSeq == Seq("studyLocusId", "geneId",
      "distanceTssMean", "vepMean", "eQtlColocH4Maximum", "geneCount500kb"))
    val key = (r: org.apache.spark.sql.Row) => (r.getString(0), r.getString(1))
    val fm = flat.collect().map(r => key(r) -> r.toSeq).toMap
    // every key of any family, each column carrying its owner's value;
    // the struct-slot first(ignoreNulls) merge this shape replaced
    // produced the same map
    val expected = Map(
      ("sl1", "g1") -> Seq("sl1", "g1", 0.5, 0.25, 0.7, 0L),
      ("sl1", "g2") -> Seq("sl1", "g2", 0.9, 0.1, 0.0, 3L),
      ("sl2", "g1") -> Seq("sl2", "g1", 0.3, 0.0, 0.0, 1L),
      // zero-fill covers keys absent from a family, and nulls INSIDE a
      // family frame fill too
      ("sl3", "g4") -> Seq("sl3", "g4", 0.0, 0.0, 0.0, 0L))
    assert(fm == expected, s"flat=$fm")
    // the plan promise: mutable primitive buffers keep the merge a
    // hash aggregate — no Sort + SortAggregate over the padded union
    val p = flat.queryExecution.executedPlan.toString
    assert(p.contains("HashAggregate"), s"no HashAggregate in:\n$p")
    assert(!p.contains("SortAggregate"),
      s"matrix merge demoted to a sort aggregate:\n$p")
  }

  test("the matrix merge rejects a column owned by two families") {
    // max-across-owners would silently pick one family's value over
    // another's; the factory never produces multi-owner columns, so
    // the contract rejects them
    val famA = Seq(("sl1", "g1", 0.5)).toDF("studyLocusId", "geneId", "f1")
    val famB = Seq(("sl1", "g1", 0.7)).toDF("studyLocusId", "geneId", "f1")
    val e = intercept[IllegalArgumentException] {
      L2GFeatures.featureMatrix(Seq(famA, famB))
    }
    assert(e.getMessage.contains("f1"))
  }

  test("GBT model trains on the feature matrix and separates classes") {
    val n = 200
    val rng = new scala.util.Random(7)
    val rows = (0 until n).map { i =>
      val label = i % 2
      // informative feature + noise feature
      val f1 = label * 0.6 + rng.nextDouble() * 0.4
      val f2 = rng.nextDouble()
      (s"sl$i", s"g${i % 10}", f1, f2, label)
    }
    val df = rows.toDF("studyLocusId", "geneId", "distanceTssMean",
      "vepMaximum", "goldStandardSet")
    val model = L2GModel.train(df, maxIter = 10, maxDepth = 3)
    val auc = L2GModel.evaluate(model, df)
    assert(auc > 0.9, s"auc=$auc")
    val scored = L2GModel.score(model, df)
    assert(scored.columns.contains("score"))
    assert(scored.count() == n)
  }
}
