package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EpochLog
import Multimodal.MediaRow

/** Persisted PERCEPTUAL audio fingerprint index — the acoustic-similarity
  * half the exact [[AudioIndex]] family deliberately lacks (its scaladoc
  * says so: "content identity, not acoustic similarity"). Geometry:
  * [[Multimodal.audioSpectralFingerprints]] — spectral-peak band words
  * (simplified Wang 2003 constellations: gain-invariant by construction,
  * peak energy towers over requantization / re-encode noise, absolute-Hz
  * bands survive resampling), shingled into 64-bit set elements.
  * A gain-shifted or resampled duplicate — the COMMON duplicate in a
  * scraped audio corpus — matches through this index where the exact
  * window hash measures ~0 overlap (both measured side by side by
  * `AudioProbe` at commit 19fff4c).
  *
  * All lifecycle and match machinery lives in [[MediaSetIndex]] (fps +
  * sizes layouts, epoch commits, dedupBatch / ingestBatch, compaction,
  * deleteIds); this family contributes only its geometry. `{path}/meta`
  * persists (frame_ms, bands, shingle, min_jaccard) — geometry is index
  * state, never a load option: a batch fingerprinted under a different
  * framing would silently match nothing.
  */
case class AudioPerceptualIndex(
    spark: SparkSession,
    path: String,
    frameMs: Long,
    bands: Int,
    shingle: Int,
    minJaccard: Double,
    hopMs: Long = 0L,
    trimSilenceRel: Double = 0.0) extends MediaSetIndex {

  override protected def fingerprints(media: Dataset[MediaRow]): DataFrame =
    Multimodal.audioSpectralFingerprints(media, frameMs, bands, shingle,
        hopMs, trimSilenceRel)
      .select(col("media_id").as("id"), col("fp").as("h"))
}

object AudioPerceptualIndex {

  /** Build at `path` from an initial corpus slice; framing geometry and
    * threshold persist in meta (index state, never load options).
    */
  def build(
      media: Dataset[MediaRow],
      path: String,
      frameMs: Long = 125L,
      bands: Int = 32,
      shingle: Int = 4,
      minJaccard: Double = 0.3,
      hopMs: Long = 0L,
      trimSilenceRel: Double = 0.0): AudioPerceptualIndex = {
    require(frameMs >= 1, s"frameMs must be >= 1, got $frameMs")
    require(hopMs <= frameMs, s"hopMs must be <= frameMs, got $hopMs")
    require(trimSilenceRel >= 0.0 && trimSilenceRel < 1.0,
      s"trimSilenceRel must be in [0, 1), got $trimSilenceRel")
    require(bands >= 2 && bands <= 256, s"bands must be in [2, 256], got $bands")
    require(shingle >= 1, s"shingle must be >= 1, got $shingle")
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0, 1], got $minJaccard")
    val spark = media.sparkSession
    import spark.implicits._
    Seq((frameMs, bands, shingle, minJaccard, hopMs, trimSilenceRel))
      .toDF("frame_ms", "bands", "shingle", "min_jaccard", "hop_ms",
        "trim_silence_rel")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val idx = AudioPerceptualIndex(spark, path, frameMs, bands, shingle,
      minJaccard, hopMs, trimSilenceRel)
    val n = idx.writeSlice(media, epoch = 0L)
    EpochLog(spark, path).reset(n)
    idx
  }

  /** Load a previously built index; geometry comes from the persisted
    * meta. Pre-hop indexes carry no `hop_ms` column and load as
    * non-overlapping (0 = hop == frame) — their layouts WERE written
    * non-overlapping, so the read contract and the stored fingerprints
    * stay consistent by construction (the FingerprintIndex
    * gather_buckets convention).
    */
  def load(spark: SparkSession, path: String): AudioPerceptualIndex = {
    val meta = spark.read.parquet(s"$path/meta")
    val hasHop = meta.columns.contains("hop_ms")
    val hasTrim = meta.columns.contains("trim_silence_rel")
    val row = meta
      .select(col("frame_ms"), col("bands"), col("shingle"), col("min_jaccard"),
        (if (hasHop) col("hop_ms") else lit(0L)).as("hop_ms"),
        (if (hasTrim) col("trim_silence_rel") else lit(0.0))
          .as("trim_silence_rel"))
      .collect().head
    AudioPerceptualIndex(spark, path,
      row.getLong(0), row.getInt(1), row.getInt(2), row.getDouble(3),
      row.getLong(4), row.getDouble(5))
  }
}
