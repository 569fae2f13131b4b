package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted 64-bit-fingerprint index — [[FingerprintIndex]]'s sibling for
  * the HAMMING near-dup families: SimHash text fingerprints
  * ([[Dedup.nearDupPairsSimHash]]) and image perceptual hashes
  * ([[graft.multimodal.Multimodal.imageDHash]]). Those operators recompute
  * fingerprints from raw text / decoded pixels on every run — for images
  * that recompute includes a full image decode, exactly the corpus-side
  * waste [[FingerprintIndex]] eliminated for MinHash. Here the corpus is
  * fingerprinted once at ingest (the reference's index-persistence
  * discipline, performance/hnsw_index.py:105-129) and batches dedup against
  * the stored layouts; raw corpus media is never touched again.
  *
  * Layout (epoch-sliced + atomically committed — the [[EpochIndex]]
  * lifecycle):
  *
  *  - `{path}/fps/epoch=N`   — (id, fp): the id expansion side;
  *  - `{path}/bands/epoch=N` — (fp, band, bucket) over the slice's DISTINCT
  *    fps: banding is a function of the fp alone, so candidates are
  *    generated per distinct fingerprint and duplicate-heavy corpora
  *    (boilerplate, re-encoded images) cost candidate work once per
  *    distinct fp, not per row — the [[Dedup.nearDupPairsHamming64]]
  *    collapse, persisted. Appends may re-add a fp's band rows (dedup
  *    against the standing corpus would cost an O(corpus) anti-join per
  *    append); the candidate stage drops duplicates, and [[compact]]
  *    re-distincts the layout.
  *  - `{path}/meta` — (n_bands, kind, seed): banding geometry is INDEX
  *    STATE (a batch banded under a different split would silently match
  *    nothing); `kind` records the fingerprint family ("simhash", "dhash",
  *    ...) so a loaded index can refuse fps produced by a different
  *    extractor; `seed` is the text-side SimHash seed (informational for
  *    external fingerprints).
  *
  * Unlike MinHash there is NO separate verify payload: the fingerprint IS
  * the verify (hamming is computed directly on the candidate join's fp
  * pair), so the only per-row state is 16 bytes.
  */
case class HammingIndex(
    spark: SparkSession,
    path: String,
    nBands: Int,
    kind: String,
    seed: Long) extends EpochIndex {

  def fpsPath: String = layoutDir("fps")
  def bandsPath: String = layoutDir("bands")
  override protected def layoutNames: Seq[String] = Seq("fps", "bands")

  def storedFps(): DataFrame = storedLayout("fps")
  def storedBands(): DataFrame = storedLayout("bands")

  /** Append a pre-fingerprinted slice — O(batch), atomic (both layouts
    * become visible together or not at all). Returns rows appended.
    */
  def append(fps: DataFrame, idCol: String, fpCol: String): Long =
    appendEpoch(writeSlice(fps, idCol, fpCol, _))

  /** Append a text slice, fingerprinting with the index's SimHash params. */
  def appendText(docs: DataFrame, idCol: String, textCol: String): Long = {
    require(kind == "simhash",
      s"appendText fingerprints with SimHash; this index stores kind=$kind")
    append(HammingIndex.simhashFps(docs, idCol, textCol, seed), "id", "fp")
  }

  private[operators] def writeSlice(
      fps: DataFrame, idCol: String, fpCol: String, epoch: Long): Long = {
    val slim = fps.select(col(idCol).cast("long").as("id"),
      col(fpCol).cast("long").as("fp")).localCheckpoint(true)
    // concurrent layout writes over the same pinned blocks (see
    // FingerprintIndex.writeFp)
    store.writeSlice(Seq(slim,
      HammingIndex.banded(slim.select(col("fp")).distinct(), nBands)), epoch)
  }

  /** Which batch rows near-duplicate an INDEXED row:
    * (batch_id, corpus_id, hamming) with hamming <= maxHamming. Recall is
    * the banding pigeonhole: GUARANTEED total for maxHamming < nBands
    * (fewer than nBands differing bits leave some band identical), so with
    * the default geometry the result is exact, not approximate. Precision
    * is exact always (hamming is computed on the fp pair itself).
    *
    * Scale shape: candidates join DISTINCT fps — batch bands x stored
    * bands on (band, bucket), both sides slim longs; the stored side is
    * pruned to probed buckets BEFORE the dedup/cap machinery (a nightly
    * batch probes a vanishing fraction of the corpus's buckets). Ids enter
    * only in the final expansion joins. Raw text/pixels never appear.
    */
  def dedupBatch(
      batchFps: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      asOf: Option[Long] = None): DataFrame = {
    // TIME-TRAVEL pin ([[FingerprintIndex.dedupBatch]]'s asOf contract)
    asOf.foreach(requirePin)
    def bandsSrc() = asOf.fold(storedBands())(e => storedLayoutAt("bands", e))
    def fpsSrc() = asOf.fold(storedFps())(e => storedLayoutAt("fps", e))
    val batch = batchFps.select(col(idCol).cast("long").as("id"),
      col(fpCol).cast("long").as("fp")).localCheckpoint(true)
    val batchDistinct = batch.select(col("fp")).distinct()
    val batchBands = HammingIndex.banded(batchDistinct, nBands)
    // prune stored bands to probed buckets first (cheap semi-join; unprobed
    // buckets cannot produce candidates), then bound pathological buckets:
    // at most maxBucketSize DISTINCT corpus fps per (band, bucket), lowest
    // fps kept — deterministic, and a bucket that full is boilerplate.
    val preCap = EpochIndex.probePruned(bandsSrc(), batchBands, prune = true)
      // appends may have re-recorded a fp's band rows; candidates must not
      // count a (fp, band, bucket) twice against the cap
      .dropDuplicates("fp", "band", "bucket")
    val wBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("band"), col("bucket")).orderBy(col("fp"))
    val corpusBands = preCap
      .withColumn("_rn", row_number().over(wBucket))
      .filter(col("_rn") <= maxBucketSize)
      .drop("_rn")
    val candFps = batchBands.as("b").join(corpusBands.as("c"),
        col("b.band") === col("c.band") && col("b.bucket") === col("c.bucket"))
      .select(col("b.fp").as("fp_b"), col("c.fp").as("fp_c"))
      .dropDuplicates("fp_b", "fp_c")
      .withColumn("hamming",
        Dedup.hamming64(col("fp_b"), col("fp_c")).cast("long"))
      .filter(col("hamming") <= maxHamming)
    candFps
      .join(batch.select(col("id").as("batch_id"), col("fp").as("fp_b")),
        Seq("fp_b"))
      .join(fpsSrc().select(col("id").as("corpus_id"), col("fp").as("fp_c")),
        Seq("fp_c"))
      .select(col("batch_id"), col("corpus_id"), col("hamming"))
  }

  /** Text-batch convenience: SimHash the batch with the index's params and
    * dedup against the store — corpus text is never re-read or re-hashed.
    */
  def dedupBatchText(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000): DataFrame = {
    require(kind == "simhash",
      s"dedupBatchText fingerprints with SimHash; this index stores kind=$kind")
    dedupBatch(HammingIndex.simhashFps(batch, idCol, textCol, seed),
      "id", "fp", maxHamming, maxBucketSize)
  }

  /** ONLINE ingest dedup for the Hamming families — the image-crawl /
    * SimHash twin of [[FingerprintIndex.ingestBatch]]: drop batch rows
    * that near-duplicate the indexed corpus or a KEPT lower-id batch row
    * (the keep-vs-ACCEPTED sweep, [[EpochIndex.sweepDropped]]), append
    * exactly the survivors' fingerprints, return the surviving rows.
    * Candidate RECALL is pigeonhole-total (maxHamming < nBands is
    * enforced), but both the corpus match and the within-batch pair scan
    * cap buckets at `maxBucketSize` (deterministic truncation, the
    * [[Dedup.nearDupPairsHamming64]] trade) — a boilerplate-dense bucket
    * past the cap can therefore KEEP a true near-dup; the decision is
    * exact only up to that cap. For images, compose with
    * [[graft.multimodal.Multimodal.imageDHash]]: pixels are decoded once
    * for the batch and never again.
    *
    * `onKept` runs with the final kept frame BEFORE the index append — the
    * at-least-once replay seam; see [[FingerprintIndex.ingestBatch]] for
    * the full contract (a sink written after return loses the batch's
    * survivors when a crash lands between the append and the caller's
    * checkpoint commit; a sink inside `onKept` sees at-worst duplicates).
    */
  def ingestBatch(
      batchFps: DataFrame,
      idCol: String,
      fpCol: String,
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      maxSweepEdges: Int = Dedup.SmallGraphEdgeThreshold.toInt,
      onKept: DataFrame => Unit = _ => ()): DataFrame = {
    require(maxHamming < nBands,
      s"ingestBatch: maxHamming=$maxHamming must be < nBands=$nBands for " +
        "pigeonhole candidate recall — raise nBands or lower maxHamming")
    val dropped = EpochIndex.sweepDropped(
      dedupBatch(batchFps, idCol, fpCol, maxHamming, maxBucketSize),
      Dedup.nearDupPairsHamming64(batchFps, idCol, fpCol,
        maxHamming, nBands, maxBucketSize), maxSweepEdges)
    val keptDf = EpochIndex.withoutIds(batchFps, col(idCol).cast("long"), dropped)
    // sink first, append second — the at-least-once replay contract
    onKept(keptDf)
    append(keptDf, idCol, fpCol)
    keptDf
  }

  override protected def bucketStats(): (Long, Double) =
    bandBucketStats(storedBands().dropDuplicates("fp", "band", "bucket"))

  /** Compaction re-distincts the band layout (appends may have duplicated
    * a fp's band rows); dedupBatch output is unchanged by construction.
    */
  override protected def compactionFrames(): Seq[DataFrame] =
    Seq(storedFps(), storedBands().dropDuplicates("fp", "band", "bucket"))

  // bands are (fp, band, bucket) — fp-keyed, shared across docs — so a
  // delete rebuilds them from the filtered fps (deterministic banding):
  // an fp whose LAST doc is deleted loses its band rows; a shared fp
  // keeps them
  override protected def deleteFrames(
      ids: Set[Long]): Seq[DataFrame] = {
    val fps = EpochIndex.withoutIds(storedFps(), col("id"), ids)
    Seq(fps, HammingIndex.banded(fps.select(col("fp")).distinct(), nBands))
  }
}

object HammingIndex {

  /** Build from a pre-fingerprinted frame (image dHash, an external
    * perceptual hash, or any 64-bit family). `kind` is recorded as index
    * state so later appends can assert they use the same extractor.
    */
  def build(
      fps: DataFrame,
      idCol: String,
      fpCol: String,
      path: String,
      nBands: Int = 4,
      kind: String = "custom",
      seed: Long = 42L): HammingIndex = {
    require(64 % nBands == 0, s"nBands must divide 64, got $nBands")
    val spark = fps.sparkSession
    import spark.implicits._
    Seq((nBands, kind, seed)).toDF("n_bands", "kind", "seed")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val idx = HammingIndex(spark, path, nBands, kind, seed)
    val n = idx.writeSlice(fps, idCol, fpCol, epoch = 0L)
    EpochLog(spark, path).reset(n)
    idx
  }

  /** Build from raw text via SimHash (the [[Dedup.nearDupPairsSimHash]]
    * fingerprint function, persisted).
    */
  def buildFromText(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      nBands: Int = 4,
      seed: Long = 42L): HammingIndex =
    build(simhashFps(docs, idCol, textCol, seed), "id", "fp", path,
      nBands, kind = "simhash", seed = seed)

  /** Load a previously built index; banding geometry and fingerprint kind
    * come from the persisted meta.
    */
  def load(spark: SparkSession, path: String): HammingIndex = {
    val row = spark.read.parquet(s"$path/meta")
      .select(col("n_bands"), col("kind"), col("seed"))
      .collect().head
    HammingIndex(spark, path, row.getInt(0), row.getString(1), row.getLong(2))
  }

  private[operators] def simhashFps(
      docs: DataFrame, idCol: String, textCol: String, seed: Long): DataFrame =
    Dedup.widen(docs).select(
      col(idCol).cast("long").as("id"),
      Dedup.simhash(split(col(textCol), " "), seed).as("fp"))

  /** (fp, band, bucket) band keys for a distinct-fp frame — the
    * [[Dedup.nearDupPairsHamming64]] pigeonhole geometry via the shared
    * bit-chunk banding.
    */
  private def banded(fps: DataFrame, nBands: Int): DataFrame =
    EpochIndex.bitChunkBands(fps, "fp", Seq("fp"), 64, nBands)
}
