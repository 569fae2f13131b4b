package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EpochLog
import Multimodal.MediaRow

/** Persisted video frame-fingerprint index — the standing-corpus state of
  * incremental VIDEO near-dup detection ([[Multimodal.videoNearDupPairs]]
  * made durable; the [[graft.operators.WinnowIndex]] of the multimodal
  * surface). Video bytes are demuxed and fingerprinted ONCE at append
  * time; every later match touches only (id, fp) longs and per-video set
  * sizes.
  *
  * All lifecycle and match machinery lives in [[MediaSetIndex]] (fps +
  * sizes layouts, epoch commits, dedupBatch / ingestBatch, compaction);
  * this family contributes only its GEOMETRY: frames sampled every
  * `everyMs`, hashed exactly (xxhash64 of the frame payload) or
  * perceptually (dHash), per [[Multimodal.videoFrameFingerprints]].
  * `{path}/meta` persists (every_ms, perceptual, min_jaccard) — geometry
  * is index state, never a load option: a batch fingerprinted under a
  * different cadence or kind would silently match nothing.
  */
case class VideoIndex(
    spark: SparkSession,
    path: String,
    everyMs: Long,
    perceptual: Boolean,
    minJaccard: Double) extends MediaSetIndex {

  override protected def fingerprints(media: Dataset[MediaRow]): DataFrame =
    Multimodal.videoFrameFingerprints(media, everyMs, perceptual)
      .select(col("media_id").as("id"), col("fp").as("h"))
}

object VideoIndex {

  /** Build at `path` from an initial corpus slice; sampling cadence,
    * fingerprint kind, and threshold persist in meta (index state, never
    * load options).
    */
  def build(
      media: Dataset[MediaRow],
      path: String,
      everyMs: Long = 1000L,
      perceptual: Boolean = false,
      minJaccard: Double = 0.5): VideoIndex = {
    require(everyMs >= 1, s"everyMs must be >= 1, got $everyMs")
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0, 1], got $minJaccard")
    val spark = media.sparkSession
    import spark.implicits._
    Seq((everyMs, perceptual, minJaccard))
      .toDF("every_ms", "perceptual", "min_jaccard")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val idx = VideoIndex(spark, path, everyMs, perceptual, minJaccard)
    val n = idx.writeSlice(media, epoch = 0L)
    EpochLog(spark, path).reset(n)
    idx
  }

  /** Load a previously built index; geometry comes from the persisted meta. */
  def load(spark: SparkSession, path: String): VideoIndex = {
    val row = spark.read.parquet(s"$path/meta")
      .select(col("every_ms"), col("perceptual"), col("min_jaccard"))
      .collect().head
    VideoIndex(spark, path, row.getLong(0), row.getBoolean(1), row.getDouble(2))
  }
}
