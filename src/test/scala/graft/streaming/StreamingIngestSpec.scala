package graft.streaming

import graft.SparkSpec
import graft.core.CacheHandle
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

class StreamingIngestSpec extends SparkSpec {
  import spark.implicits._

  private def ts(min: Int) =
    java.sql.Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")

  test("ingest gates quality, dedups, and drops contaminated arrivals") {
    implicit val sqlCtx = spark.sqlContext
    val goodText = "the quick brown fox jumps over the lazy dog and " +
      "then it runs to the old barn where the farmer keeps his grain"
    val benchText = "every benchmark question lives here with its " +
      "answer key and the exact phrasing models might memorise today"
    val benchmark = Seq((100L, benchText)).toDF("doc_id", "text")

    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingIngest.ingest(docs, benchmark, "text", "doc_id",
      minQuality = 0.5, maxBenchCoverage = 0.6, cache = CacheHandle())
      .writeStream.format("memory").queryName("ingest")
      .outputMode("append").start()
    try {
      input.addData(
        (1L, goodText, ts(0)), // survives
        (2L, goodText, ts(1)), // exact duplicate of 1 — dropped
        (3L, "x", ts(2)), // too low quality (scores ≈0.36) — dropped
        (4L, benchText + " padded a little", ts(3))) // contaminated — dropped
      input.addData((5L, goodText + " but newly phrased here", ts(4)))
      q.processAllAvailable()
      // append-mode aggregation emits only after the watermark passes —
      // push the event-time forward so the earlier groups finalise
      input.addData((9L, "advancing the watermark far far beyond", ts(59)))
      q.processAllAvailable()

      val out = spark.table("ingest")
      val ids = out.select("doc_id").as[Long].collect().toSet
      assert(ids.contains(5L))
      assert((ids & Set(3L, 4L)).isEmpty, s"quality/contamination leak: $ids")
      assert((ids & Set(1L, 2L)).size <= 1, s"dedup leak: $ids")
      // annotations survive the ride-along aggregation
      val row5 = out.filter($"doc_id" === 5L)
        .select("language", "qualityScore", "nTokens", "maxBenchCoverage")
        .head
      assert(row5.getString(0) === "en")
      assert(row5.getDouble(1) >= 0.5)
      assert(row5.getInt(2) > 10)
      assert(row5.getDouble(3) < 0.6)
    } finally q.stop()
  }

  test("clean arrivals report zero benchmark coverage") {
    implicit val sqlCtx = spark.sqlContext
    val benchmark = Seq((100L, "zzz qqq vvv www yyy xxx uuu ttt sss rrr"))
      .toDF("doc_id", "text")
    val input = MemoryStream[(Long, String, java.sql.Timestamp)]
    val docs = input.toDF().toDF("doc_id", "text", "ts")
    val q = StreamingIngest.ingest(docs, benchmark, "text", "doc_id",
      minQuality = 0.0, maxBenchCoverage = 0.5, cache = CacheHandle())
      .writeStream.format("memory").queryName("ingest2")
      .outputMode("append").start()
    try {
      input.addData((1L, "the cat sat on the mat by the warm stove " +
        "and the dog slept near it all afternoon long", ts(0)))
      q.processAllAvailable()
      input.addData((2L, "watermark pusher text here", ts(59)))
      q.processAllAvailable()
      val cov = spark.table("ingest2").filter($"doc_id" === 1L)
        .select("maxBenchCoverage").as[Double].collect()
      assert(cov.length === 1 && cov.head === 0.0)
    } finally q.stop()
  }
}
