package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Upsert

/** Streaming CDC snapshot maintenance: fold a change stream into a
  * standing keyed snapshot with [[Upsert.applyDelta]] semantics
  * (latest-wins upsert + delete), one generation per micro-batch.
  *
  * Publish protocol — append-only, never rewrite published data:
  * each batch ATTEMPT writes a fresh uniquely-named generation
  * directory `gen-<batchId>-<attempt-uuid>` and then points the
  * `_CURRENT` marker at it (temp file + delete + rename, and readers
  * fall back to the newest committed directory if they catch the
  * marker mid-swap). A replayed batch (foreachBatch's at-least-once
  * contract) therefore writes a NEW directory from the same source —
  * the previously published one is never deleted or overwritten
  * underneath a concurrent reader. The snapshot SOURCE for batch N is
  * the newest committed generation with id < N, never the marker: a
  * replay whose own output is already published must not read it
  * while rebuilding. Superseded attempt directories are garbage, to
  * be expired by retention (e.g. the `compact` step).
  *
  * Scale: per batch, the standing snapshot is read once and pays one
  * anti-join against the batch's keys (the [[Upsert.applyDelta]]
  * shape); the window runs on the batch only. */
object StreamingUpsert {

  private val Marker = "_CURRENT"

  private def fsOf(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sessionState.newHadoopConf())

  /** Committed generation directories — (batchId, dirName) with a
    * parquet _SUCCESS; directory existence alone is not commitment. */
  private def committedGenerations(
      spark: SparkSession, root: String): Seq[(Long, String)] = {
    val rp = new Path(root)
    val fs = fsOf(spark, root)
    if (!fs.exists(rp)) Seq.empty
    else fs.listStatus(rp).toSeq
      .map(_.getPath)
      .filter(p => p.getName.startsWith("gen-") &&
        fs.exists(new Path(p, "_SUCCESS")))
      .flatMap { p =>
        p.getName.split("-", 3) match {
          case Array(_, id, _) if id.forall(_.isDigit) =>
            Some(id.toLong -> p.getName)
          case _ => None
        }
      }
  }

  /** The marker's target directory, if readable and still committed. */
  private def markerTarget(spark: SparkSession,
                           root: String): Option[String] = {
    val p = new Path(root, Marker)
    val fs = fsOf(spark, root)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val name =
        try {
          val buf = new java.io.ByteArrayOutputStream()
          val chunk = new Array[Byte](256)
          var n = in.read(chunk)
          while (n > 0) { buf.write(chunk, 0, n); n = in.read(chunk) }
          new String(buf.toByteArray, "UTF-8").trim
        } finally in.close()
      Some(name).filter(d =>
        d.nonEmpty && fs.exists(new Path(new Path(root, d), "_SUCCESS")))
    }
  }

  /** The published generation: the marker's target, or — if a reader
    * catches the marker mid-swap (missing/empty/stale) — the newest
    * committed directory. */
  def currentSnapshotDir(spark: SparkSession,
                         root: String): Option[String] =
    markerTarget(spark, root).orElse(
      committedGenerations(spark, root).maxOption.map(_._2))

  /** The published batch id, if any batch has committed. */
  def currentGeneration(spark: SparkSession, root: String): Option[Long] =
    currentSnapshotDir(spark, root)
      .map(_.split("-", 3)(1).toLong)

  /** The published snapshot (error if nothing committed). */
  def readSnapshot(spark: SparkSession, root: String): DataFrame = {
    val dir = currentSnapshotDir(spark, root).getOrElse(
      throw new IllegalStateException(s"no published snapshot under $root"))
    graft.Tables.read(spark, s"$root/$dir")
  }

  /** Apply one delta batch and publish its generation — also the
    * foreachBatch body, exposed for direct batch use and tests. */
  def applyBatch(batch: DataFrame, batchId: Long, root: String,
                 keys: Seq[String], seqCol: String,
                 opCol: Option[String]): Unit = {
    val spark = batch.sparkSession
    val outCols = batch.columns.filterNot(c =>
      c == seqCol || opCol.contains(c)).toSeq
    val snapshot =
      committedGenerations(spark, root).filter(_._1 < batchId) match {
        case gens if gens.nonEmpty =>
          graft.Tables.read(spark, s"$root/${gens.max._2}")
        case _ =>
          import org.apache.spark.sql.functions.{col, lit}
          batch.select(outCols.map(col): _*).filter(lit(false))
      }
    val next = Upsert.applyDelta(snapshot, batch, keys, seqCol, opCol)
    val attempt =
      s"gen-$batchId-${java.util.UUID.randomUUID().toString.take(8)}"
    next.write.parquet(s"$root/$attempt")
    // publish unless a LATER batch already holds the marker (a replay
    // of an old batch must not unpublish newer data)
    if (currentGeneration(spark, root).forall(_ <= batchId)) {
      val fs = fsOf(spark, root)
      val tmp = new Path(root, s"$Marker.tmp")
      val out = fs.create(tmp, true)
      try out.write(attempt.getBytes("UTF-8")) finally out.close()
      val dst = new Path(root, Marker)
      fs.delete(dst, false)
      fs.rename(tmp, dst)
    }
  }

  /** Start the maintenance stream over a streaming delta frame. */
  def maintain(delta: DataFrame, root: String, keys: Seq[String],
               seqCol: String, opCol: Option[String],
               checkpoint: String): StreamingQuery =
    delta.writeStream
      .option("checkpointLocation", checkpoint)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        applyBatch(batch, batchId, root, keys, seqCol, opCol)
      }
      .start()
}
