package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.EpochLog
import Multimodal.MediaRow

/** Persisted TIME-DELTA LANDMARK audio index — the tempo-robust third
  * geometry of the audio family, next to [[AudioIndex]] (exact window
  * hash: content identity) and [[AudioPerceptualIndex]] (frame-word
  * shingles: gain / requantization / resampling robustness). Geometry:
  * [[Multimodal.audioLandmarkFingerprints]] — simplified Wang 2003
  * landmark hashes ((peak, peak, Δt) pairs generalized to peak-event
  * triples with log2-binned inter-event gaps, public knowledge). Where
  * the frame-word shingles are START-ALIGNED and a small tempo edit
  * desynchronizes them cumulatively (by mid-clip every window straddles
  * a tone boundary), the event sequence is tempo-INVARIANT and the
  * binned gaps absorb the ±few-% stretch class (the q166 contrast row
  * holds both numbers side by side).
  *
  * All lifecycle and match machinery lives in [[MediaSetIndex]] (fps +
  * sizes layouts, epoch commits, dedupBatch / ingestBatch, compaction,
  * deleteIds, asOf pins); this family contributes only its geometry.
  * `{path}/meta` persists (frame_ms, bands, min_jaccard, hop_ms,
  * trim_silence_rel) — geometry is index state, never a load option.
  */
case class AudioLandmarkIndex(
    spark: SparkSession,
    path: String,
    frameMs: Long,
    bands: Int,
    minJaccard: Double,
    hopMs: Long = 0L,
    trimSilenceRel: Double = 0.0,
    override val minShared: Int = 0) extends MediaSetIndex {

  override protected def fingerprints(media: Dataset[MediaRow]): DataFrame =
    Multimodal.audioLandmarkFingerprints(media, frameMs, bands, hopMs,
        trimSilenceRel)
      .select(col("media_id").as("id"), col("fp").as("h"))
}

object AudioLandmarkIndex {

  /** Build at `path` from an initial corpus slice; framing geometry and
    * threshold persist in meta (index state, never load options).
    */
  def build(
      media: Dataset[MediaRow],
      path: String,
      frameMs: Long = 125L,
      bands: Int = 32,
      minJaccard: Double = 0.3,
      hopMs: Long = 0L,
      trimSilenceRel: Double = 0.0,
      minShared: Int = 0): AudioLandmarkIndex = {
    require(frameMs >= 1, s"frameMs must be >= 1, got $frameMs")
    require(hopMs <= frameMs, s"hopMs must be <= frameMs, got $hopMs")
    require(trimSilenceRel >= 0.0 && trimSilenceRel < 1.0,
      s"trimSilenceRel must be in [0, 1), got $trimSilenceRel")
    require(bands >= 2 && bands <= 256, s"bands must be in [2, 256], got $bands")
    require(minJaccard >= 0.0 && minJaccard <= 1.0,
      s"minJaccard must be in [0, 1], got $minJaccard")
    require(minShared >= 0, s"minShared must be >= 0, got $minShared")
    // the MEASURED small-set trap, loud at build time: short clips carry
    // landmark sets of a handful of events, and a handful crosses a low
    // Jaccard ratio on one or two chance-shared hashes (measured by
    // IndexSweepProbe at commit 19fff4c: 675 false hits per 5000 probes on
    // 8-frame two-tone clips at the 0.3 default). Either raise minJaccard or
    // set the absolute minShared
    // floor (a true near-dup shares most of its set; chance pairs share
    // one or two) — the probe's guarded leg shows false hits collapse
    // while tempo-twin recall holds.
    if (minJaccard < 0.5 && minShared == 0)
      log.warn(s"AudioLandmarkIndex(minJaccard=$minJaccard, minShared=0): " +
        "small landmark sets cross low Jaccard ratios by chance (measured " +
        "675/5000 false hits on 8-frame clips at 0.3); set minShared " +
        "(e.g. 4) or raise minJaccard for short-clip corpora")
    val spark = media.sparkSession
    import spark.implicits._
    Seq((frameMs, bands, minJaccard, hopMs, trimSilenceRel, minShared))
      .toDF("frame_ms", "bands", "min_jaccard", "hop_ms", "trim_silence_rel",
        "min_shared")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val idx = AudioLandmarkIndex(spark, path, frameMs, bands, minJaccard,
      hopMs, trimSilenceRel, minShared)
    val n = idx.writeSlice(media, epoch = 0L)
    EpochLog(spark, path).reset(n)
    idx
  }

  private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.AudioLandmarkIndex")

  /** Load a previously built index; geometry comes from the persisted
    * meta.
    */
  def load(spark: SparkSession, path: String): AudioLandmarkIndex = {
    val meta = spark.read.parquet(s"$path/meta")
    // pre-guard metas have no min_shared column: those indexes keep the
    // pure-ratio semantics they were built (and spec'd) under
    val withShared =
      if (meta.columns.contains("min_shared")) meta
      else meta.withColumn("min_shared", lit(0))
    val row = withShared
      .select(col("frame_ms"), col("bands"), col("min_jaccard"),
        col("hop_ms"), col("trim_silence_rel"), col("min_shared"))
      .collect().head
    AudioLandmarkIndex(spark, path,
      row.getLong(0), row.getInt(1), row.getDouble(2),
      row.getLong(3), row.getDouble(4), row.getInt(5))
  }
}
