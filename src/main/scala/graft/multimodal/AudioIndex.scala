package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EpochLog
import Multimodal.MediaRow

/** Persisted AUDIO window-fingerprint index — the ninth index family, and
  * the audio twin of [[VideoIndex]]: the standing-corpus state of
  * incremental audio near-dup detection
  * ([[Multimodal.audioWindowFingerprints]] through the shared set-overlap
  * machinery, made durable). Audio bytes are RIFF-parsed, PCM-decoded,
  * windowed, and content-hashed ONCE at append time; every later match
  * touches only (id, fp) longs and per-clip set sizes — never the WAV
  * containers (the [[VideoIndex]] economics, audio edition: a clip's
  * persisted footprint is ~8 bytes per window vs its full PCM payload).
  *
  * All lifecycle and match machinery lives in [[MediaSetIndex]] (fps +
  * sizes layouts, epoch commits, dedupBatch / ingestBatch, compaction,
  * deleteIds); this family contributes only its GEOMETRY: `windowMs`
  * start-aligned windows of the decoded mono signal, requantized to PCM16
  * and xxhash64-hashed (content identity, not acoustic similarity — the
  * perceptual leg stays the envelope-feature kNN path). `{path}/meta`
  * persists (window_ms, min_jaccard) — geometry is index state, never a
  * load option: a batch fingerprinted under a different window would
  * silently match nothing.
  */
case class AudioIndex(
    spark: SparkSession,
    path: String,
    windowMs: Long,
    minJaccard: Double,
    trimSilenceRel: Double = 0.0) extends MediaSetIndex {

  override protected def fingerprints(media: Dataset[MediaRow]): DataFrame =
    Multimodal.audioWindowFingerprints(media, windowMs, trimSilenceRel)
      .select(col("media_id").as("id"), col("fp").as("h"))
}

object AudioIndex {

  /** Build at `path` from an initial corpus slice; window geometry and
    * threshold persist in meta (index state, never load options).
    */
  def build(
      media: Dataset[MediaRow],
      path: String,
      windowMs: Long = 1000L,
      minJaccard: Double = 0.5,
      trimSilenceRel: Double = 0.0): AudioIndex = {
    require(windowMs >= 1, s"windowMs must be >= 1, got $windowMs")
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0, 1], got $minJaccard")
    require(trimSilenceRel >= 0.0 && trimSilenceRel < 1.0,
      s"trimSilenceRel must be in [0, 1), got $trimSilenceRel")
    val spark = media.sparkSession
    import spark.implicits._
    Seq((windowMs, minJaccard, trimSilenceRel))
      .toDF("window_ms", "min_jaccard", "trim_silence_rel")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val idx = AudioIndex(spark, path, windowMs, minJaccard, trimSilenceRel)
    val n = idx.writeSlice(media, epoch = 0L)
    EpochLog(spark, path).reset(n)
    idx
  }

  /** Load a previously built index; geometry comes from the persisted
    * meta. Pre-trim indexes carry no `trim_silence_rel` column and load
    * with the gate off — their layouts WERE fingerprinted untrimmed
    * (the absent-column convention).
    */
  def load(spark: SparkSession, path: String): AudioIndex = {
    val meta = spark.read.parquet(s"$path/meta")
    val hasTrim = meta.columns.contains("trim_silence_rel")
    val row = meta
      .select(col("window_ms"), col("min_jaccard"),
        (if (hasTrim) col("trim_silence_rel") else lit(0.0)).as("trim_silence_rel"))
      .collect().head
    AudioIndex(spark, path, row.getLong(0), row.getDouble(1), row.getDouble(2))
  }
}
