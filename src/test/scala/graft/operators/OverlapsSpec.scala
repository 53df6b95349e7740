package graft.operators

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.functions._

case class Tag(variantId: String, logBF: Option[Double],
  posteriorProbability: Option[Double], beta: Option[Double],
  pValueMantissa: Option[Float], pValueExponent: Option[Int])

class OverlapsSpec extends SparkSpec {
  import spark.implicits._

  private def credSet = Seq(
    // gwas locus A: tags v1, v2
    ("A", "s1", "gwas", "1", "r1",
      Seq(Tag("v1", Some(1.0), Some(0.6), Some(0.1), Some(1f), Some(-8)),
        Tag("v2", Some(2.0), Some(0.4), Some(0.2), Some(2f), Some(-7)))),
    // gwas locus B: tags v2, v3 (overlaps A on v2)
    ("B", "s2", "gwas", "1", "r2",
      Seq(Tag("v2", Some(3.0), Some(0.7), Some(0.3), Some(1f), Some(-9)),
        Tag("v3", Some(4.0), Some(0.3), Some(0.4), Some(3f), Some(-6)))),
    // eqtl locus C: tags v1 (overlaps A on v1)
    ("C", "s3", "eqtl", "1", "r3",
      Seq(Tag("v1", Some(5.0), Some(0.9), Some(0.5), Some(1f), Some(-10)))),
    // gwas locus D on another chromosome: no overlaps
    ("D", "s4", "gwas", "2", "r4",
      Seq(Tag("v1", Some(1.0), Some(0.5), Some(0.1), Some(1f), Some(-8))))
  ).toDF("studyLocusId", "studyId", "studyType", "chromosome", "region", "locus")

  test("overlapping peaks: gwas-gwas counted once, molecular trait on the right") {
    val peaks = Overlaps.overlappingPeaks(Overlaps.explodeLoci(credSet))
      .select("leftStudyLocusId", "rightStudyLocusId", "rightStudyType")
      .as[(String, String, String)].collect().toSet
    // B>A share v2 (gwas-gwas once); A-C and nothing else (C eqtl on right)
    assert(peaks == Set(("B", "A", "gwas"), ("A", "C", "eqtl")))
  }

  test("hot-tag guard drops ubiquitous tags but keeps normal pairs") {
    // 40 gwas loci all sharing ubiquitous tag "hot" (780 pairs), plus
    // the normal credSet overlaps
    val hotLoci = (1 to 40).map { i =>
      (s"H$i", s"hs$i", "gwas", "1", s"hr$i",
        Seq(Tag("hot", Some(1.0), Some(0.5), Some(0.1), Some(1f), Some(-8))))
    }.toDF("studyLocusId", "studyId", "studyType", "chromosome", "region", "locus")
    val tags = Overlaps.explodeLoci(credSet.unionByName(hotLoci))
    val unguarded = Overlaps.matchedTagPairs(tags)
    assert(unguarded.count() == 40 * 39 / 2 + 2)
    val guarded = Overlaps.matchedTagPairs(tags, maxTagLoci = Some(10))
      .select("leftStudyLocusId", "rightStudyLocusId")
      .as[(String, String)].collect().toSet
    // the quadratic hot-tag block is gone; the real overlaps survive
    assert(guarded == Set(("B", "A"), ("A", "C")))
    // a cap above every tag's locus count changes nothing
    val loose = Overlaps.matchedTagPairs(tags, maxTagLoci = Some(1000))
    assert(loose.count() == unguarded.count())
  }

  test("aligned tags keep the union of both credible sets") {
    val overlaps = Overlaps.findOverlaps(credSet, cache = CacheHandle())
    val ac = overlaps.filter(col("leftStudyLocusId") === "A" &&
      col("rightStudyLocusId") === "C")
    val tags = ac.select("tagVariantId").as[String].collect().toSet
    assert(tags == Set("v1", "v2")) // union: v1 shared, v2 left-only
    val v2 = ac.filter(col("tagVariantId") === "v2")
      .select("statistics.left_logBF", "statistics.right_logBF").head
    assert(v2.getDouble(0) == 2.0 && v2.isNullAt(1))
  }

  test("intra-study mode requires same study and different region") {
    val sameStudy = Seq(
      ("A", "s1", "gwas", "1", "r1",
        Seq(Tag("v1", Some(1.0), Some(0.6), Some(0.1), Some(1f), Some(-8)))),
      ("B", "s1", "gwas", "1", "r2",
        Seq(Tag("v1", Some(2.0), Some(0.5), Some(0.2), Some(1f), Some(-8)))),
      ("C", "s9", "gwas", "1", "r3",
        Seq(Tag("v1", Some(3.0), Some(0.4), Some(0.3), Some(1f), Some(-8))))
    ).toDF("studyLocusId", "studyId", "studyType", "chromosome", "region", "locus")
    val peaks = Overlaps.overlappingPeaks(Overlaps.explodeLoci(sameStudy),
      intraStudy = true)
      .select("leftStudyLocusId", "rightStudyLocusId")
      .as[(String, String)].collect().toSet
    assert(peaks == Set(("B", "A")))
  }
}
