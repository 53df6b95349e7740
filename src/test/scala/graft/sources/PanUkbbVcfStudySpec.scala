package graft.sources

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.functions._

/** Pan-UKBB LD alignment, VCF export and study-index flows. */
class PanUkbbVcfStudySpec extends SparkSpec {
  import spark.implicits._

  test("Pan-UKBB allele alignment flips discordant pairs and ranks per idx") {
    val idx = Seq(
      ("chr1", 100L, Seq("A", "T"), 0L),  // matches annotation order
      ("chr1", 200L, Seq("G", "C"), 1L),  // flipped vs annotation
      ("chr2", 300L, Seq("T", "A"), 2L))  // absent from annotation
      .toDF("contig", "position", "alleles", "idx")
    val va = Seq(("1", 100L, "A", "T"), ("1", 200L, "C", "G"))
      .toDF("chromosome", "position", "referenceAllele", "alternateAllele")
    val out = PanUkbbLd.alignLdIndexAlleles(idx, va).collect()
      .map(r => r.getAs[Long]("idx") ->
        (r.getAs[String]("variantId"), r.getAs[Int]("alleleOrder"))).toMap
    assert(out(0L) == (("1_100_A_T", 1)))
    assert(out(1L) == (("1_200_C_G", -1))) // flipped to annotation order
    assert(out(2L)._2 == 1)               // unknown passes through
    assert(out.size == 3)
  }

  test("symmetric entries apply allele-order sign and unit diagonal") {
    val idx = Seq(("1_100_A_T", 1, 0L, "1"), ("1_200_C_G", -1, 1L, "1"))
      .toDF("variantId", "alleleOrder", "idx", "chromosome")
    val entries = Seq((0L, 0L, 0.98), (0L, 1L, 0.6), (1L, 1L, 1.0))
      .toDF("i", "j", "r")
    val out = PanUkbbLd.symmetricEntries(entries, idx).collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getDouble(2)).toMap
    assert(out(("1_100_A_T", "1_100_A_T")) == 1.0) // diagonal forced
    assert(out(("1_100_A_T", "1_200_C_G")) == -0.6) // sign flip
    assert(out(("1_200_C_G", "1_100_A_T")) == -0.6) // mirrored
    assert(out.size == 4)
  }

  test("VCF export splits ids, dedups and fills placeholders") {
    val variants = Seq(
      ("1_100_A_T", Some("rs1")),
      ("1_100_A_T", Some("rs1")),  // duplicate row collapses
      ("2_50_G_C", None))
      .toDF("variantId", "variantRsId")
    val vcf = VcfExport.toVcf(Seq(variants), partitionSize = 10)
    val rows = vcf.collect().map(r => (r.getString(0), r.getInt(1),
      r.getString(2), r.getString(3), r.getString(4), r.getString(7)))
    assert(rows.toSet == Set(
      ("1", 100, "rs1", "A", "T", "."),
      ("2", 50, ".", "G", "C", ".")))
  }

  test("VCF export unions locus variant ids via safe array union") {
    val df = Seq(("1_100_A_T", Seq("1_101_C_G")))
      .toDF("variantId", "locusIds")
      .select(col("variantId"),
        expr("transform(locusIds, v -> named_struct('variantId', v))")
          .as("locus"))
    val out = VcfExport.asVcfDf(df).select("CHROM", "POS").collect()
      .map(r => (r.getString(0), r.getInt(1))).toSet
    assert(out == Set(("1", 100), ("1", 101)))
  }

  test("rsID mapping fills only null variant ids") {
    val variants = Seq(
      (Some("1_100_A_T"), Some("rs1")), (None, Some("rs2")), (None, Some("rs9")))
      .toDF("variantId", "variantRsId")
    val mapping = Seq(("rs2", Seq("2_5_A_G")))
      .toDF("variantRsId", "mappedVariantIds")
    val out = VcfExport.mapRsidsToVariantIds(variants, mapping)
      .select("variantRsId", "variantId").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(out("rs1") == "1_100_A_T")
    assert(out("rs2") == "2_5_A_G")
    assert(out("rs9") == null)
  }

  test("UK Biobank study index: SAIGE metadata and trait recoding") {
    val manifest = Seq(
      ("SAIGE_001", "X: some trait", 1000L, 200L, "/p/1"),
      ("NEALE2_002", "plain trait", 2000L, 300L, "/p/2"))
      .toDF("code", "trait", "n_total", "n_cases", "in_path")
    val out = StudyIndexSources.ukBiobankStudyIndex(manifest).collect()
      .map(r => r.getAs[String]("studyId") -> r).toMap
    assert(out("SAIGE_001").getAs[String]("pubmedId") == "30104761")
    assert(out("SAIGE_001").getAs[String]("traitFromSource") == "Some Trait | x")
    assert(out("NEALE2_002").getAs[String]("publicationDate") == "2018-08-01")
    val r = out("SAIGE_001")
    assert(r.getSeq[org.apache.spark.sql.Row](
      r.fieldIndex("ldPopulationStructure")).nonEmpty)
  }

  test("FinnGen-UKB meta study index sums cohort sizes; EFO join aggregates") {
    val manifest = Seq(("S1", "trait one", "http://x", 10L, 20L, 30L, 40L))
      .toDF("_gentropy_study_id", "name", "_gentropy_summary_stats_link",
        "fg_n_cases", "ukbb_n_cases", "fg_n_controls", "ukbb_n_controls")
    val efo = Seq(
      ("FINNGEN_R11_X", "http://purl/EFO_1", "trait one"),
      ("FINNGEN_R11_X", "http://purl/EFO_2", "trait one"),
      ("OTHER_STUDY", "http://purl/EFO_9", "trait one"))
      .toDF("STUDY", "SEMANTIC_TAG", "PROPERTY_VALUE")
    val out = StudyIndexSources.finngenUkbMetaStudyIndex(manifest, Some(efo))
      .head
    assert(out.getAs[Int]("nSamples") == 100)
    assert(out.getAs[Seq[String]]("traitFromSourceMappedIds").toSet ==
      Set("EFO_1", "EFO_2"))
  }

  test("credible-set QC filters by p-value and purity, keeps best BF") {
    import graft.operators.CredibleSetQC
    val cs = Seq(
      ("sl1", 1.0f, -8, 0.5, 10.0),  // passes, best BF
      ("sl1", 1.0f, -8, 0.5, 5.0),   // same locus, lower BF -> dropped
      ("sl2", 5.0f, -3, 0.5, 1.0),   // p too high -> dropped
      ("sl3", 1.0f, -8, 0.001, 1.0)) // purity too low -> dropped
      .toDF("studyLocusId", "pValueMantissa", "pValueExponent",
        "purityMinR2", "credibleSetLog10BF")
    val out = CredibleSetQC.credibleSetQc(cs, cache = CacheHandle()).collect()
    assert(out.length == 1)
    assert(out.head.getString(0) == "sl1" && out.head.getDouble(4) == 10.0)
  }
}
