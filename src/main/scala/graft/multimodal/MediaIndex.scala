package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, EpochIndex}
import Multimodal.MediaRow

/** Shared core of the persisted MEDIA set-overlap index families
  * ([[VideoIndex]], [[AudioIndex]]): an [[EpochIndex]] over the (id, fp)
  * set tables the media fingerprint kernels emit, with near-dup matching
  * by set Jaccard. Media bytes are decoded and fingerprinted ONCE at
  * append time; every later match touches only (id, fp) longs and
  * per-media set sizes — the reason the family exists (re-decoding a
  * 100 TB media corpus per match is the naive alternative; measured by
  * `VideoProbe` at commit 19fff4c, the gap is 307× per match for the video
  * instance).
  *
  * Layout, shared by every instance:
  *  - `{path}/fps/epoch=N`   — (id, h BIGINT): the media row's DISTINCT
  *    fingerprints under the index's persisted geometry;
  *  - `{path}/sizes/epoch=N` — (id, n BIGINT): the TRUE fingerprint-set
  *    size, persisted so index-backed Jaccard uses full sizes without
  *    rescanning the fps layout (the conservative semantics: the
  *    query-time df-cap bounds candidate generation only and can never
  *    invent a pair);
  *  - `{path}/commits`       — the [[EpochLog]]: atomic epoch commits,
  *    orphan slices invisible, compaction/maintenance/deleteIds
  *    inherited. Commit rows count MEDIA DOCUMENTS (the sizes layout's
  *    row count), the WinnowIndex discipline.
  * Each concrete family persists its own `{path}/meta` — fingerprint
  * GEOMETRY is index state, never a load option: a batch fingerprinted
  * under a different cadence/window/kind would silently match nothing.
  *
  * What a subclass provides: [[fingerprints]] (media rows → (id, h)
  * distinct set table under the family's geometry) and [[minJaccard]].
  */
abstract class MediaSetIndex extends EpochIndex {

  /** Match threshold: batch/corpus pairs with set Jaccard >= this. */
  def minJaccard: Double

  /** SET-SIZE-AWARE intersection floor on matches — the guard a ratio
    * threshold cannot provide: two SMALL fingerprint sets cross a Jaccard
    * bar on two or three chance-shared hashes (measured by IndexSweepProbe
    * at commit 19fff4c on 8-frame clips at the landmark family's 0.3 default:
    * the false pairs share 2-3 of sets sized 5-6), while a TRUE near-dup
    * shares most of its set whatever its size. A pair matches iff
    * jaccard >= [[minJaccard]] AND shared >= min(minShared, |A|, |B|):
    * a large set must clear the absolute floor, a tiny set must be shared
    * (nearly) in full — which is why exact re-uploads of degenerate
    * 3-landmark clips still match under the guard where a flat floor
    * would orphan them (the probe's guarded leg pins both properties).
    * 0 (the default everywhere except where a family persists its own)
    * keeps the pure-ratio semantics.
    */
  def minShared: Int = 0

  /** One media slice's DISTINCT (id, h BIGINT) fingerprint set table
    * under the family's persisted geometry.
    */
  protected def fingerprints(media: Dataset[MediaRow]): DataFrame

  def fpsPath: String = layoutDir("fps")
  // sizes first: its rows are the documents, the commit-log unit
  override protected def layoutNames: Seq[String] = Seq("sizes", "fps")

  def storedFps(): DataFrame = storedLayout("fps")
  def storedSizes(): DataFrame = storedLayout("sizes")

  /** Fingerprint a new corpus slice and append it — O(batch), the standing
    * index is never rescanned; atomic via the epoch commit. Returns MEDIA
    * DOCUMENTS appended.
    */
  def append(media: Dataset[MediaRow]): Long = appendEpoch(writeSlice(media, _))

  private[multimodal] def writeSlice(media: Dataset[MediaRow], epoch: Long): Long =
    writeFps(fingerprints(media).localCheckpoint(true), epoch)

  // sizes derive from the already-checkpointed fp in one aggregation, and
  // the document count rides the sizes write (concurrent with the fps
  // write over the same pinned blocks)
  private def writeFps(fp: DataFrame, epoch: Long): Long =
    store.writeSlice(Seq(fp.groupBy(col("id")).agg(count(lit(1)).as("n")), fp),
      epoch)

  /** Which batch media are near-dups of an INDEXED one: (batch_id,
    * corpus_id, shared, size_b, size_c, jaccard) with jaccard >=
    * [[minJaccard]]. Corpus bytes are never re-decoded; corpus
    * fingerprints never recomputed.
    *
    * Scale shape — the [[graft.operators.WinnowIndex.dedupBatch]]
    * discipline: when the batch is smaller than the corpus (the ingest
    * norm) the stored layout is pruned to fingerprints the batch PROBES
    * (broadcast semi-join, bounded at [[MediaSetIndex.MaxBroadcastFps]]),
    * then `maxDocsPerFp` drops stop-fingerprint posting lists (black
    * frames / silence windows; df computed on the pruned postings is the
    * TRUE df — the semi-join keeps every corpus row of a probed
    * fingerprint). Jaccard uses the PERSISTED full sizes.
    */
  def dedupBatch(
      media: Dataset[MediaRow],
      maxDocsPerFp: Int = 1000,
      asOf: Option[Long] = None): DataFrame = {
    val (fps, docs, distinctFps) = pinnedFps(media)
    dedupBatchFps(fps, docs, distinctFps, maxDocsPerFp, asOf)
  }

  /** Decoded+fingerprinted batch, pinned, with its document and
    * distinct-fingerprint cardinalities observed DURING the checkpoint
    * job — a separate two-countDistinct aggregation was one extra
    * scheduled job per serving call, for numbers that only pick the plan
    * (prune on/off, broadcast hint). Observed metrics cannot be
    * distinct aggregates, so approx_count_distinct stands in: both
    * consumers are threshold heuristics (batch-vs-corpus size, the 2^20
    * broadcast bound), and either branch returns identical results —
    * probePruned's semi-join only drops rows that could never match.
    */
  private def pinnedFps(
      media: Dataset[MediaRow]): (DataFrame, Long, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val fps = fingerprints(media)
      .observe(obs, approx_count_distinct(col("id")).as("docs"),
        approx_count_distinct(col("h")).as("fps"))
      .localCheckpoint(true)
    val m = scala.util.Try((obs.get("docs").asInstanceOf[Long],
      obs.get("fps").asInstanceOf[Long])).getOrElse((0L, 0L))
    (fps, m._1, m._2)
  }

  private def dedupBatchFps(
      batchFps: DataFrame, batchDocs: Long, batchDistinctFps: Long,
      maxDocsPerFp: Int,
      asOf: Option[Long] = None): DataFrame = {
    require(maxDocsPerFp >= 1,
      s"maxDocsPerFp must be >= 1, got $maxDocsPerFp")
    // TIME-TRAVEL pin ([[graft.operators.FingerprintIndex.dedupBatch]]'s
    // asOf contract, shared by all three media families): expired pins
    // fail loudly, pinned counts stay commit-log arithmetic
    asOf.foreach(requirePin)
    def fpsSrc() = asOf.fold(storedFps())(e => storedLayoutAt("fps", e))
    def sizesSrc() = asOf.fold(storedSizes())(e => storedLayoutAt("sizes", e))
    val corpusRows = asOf.fold(log.sizeStats()._2)(e =>
      log.rowsOf(log.epochsAt(e).toSet))
    val pre =
      if (batchDocs >= corpusRows) fpsSrc()
      else {
        val probes = batchFps.select(col("h")).distinct()
        fpsSrc().join(
          if (batchDistinctFps <= MediaSetIndex.MaxBroadcastFps) broadcast(probes)
          else probes,
          Seq("h"), "left_semi")
      }
    val shared = batchFps.as("b")
      .join(Multimodal.dfCapped(pre, maxDocsPerFp).as("c"),
        col("b.h") === col("c.h"))
      .groupBy(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .agg(count(lit(1)).as("shared"))
    // batch sizes full from this pass; corpus sizes full from the
    // PERSISTED layout — the cap bounds candidates only
    Multimodal.jaccardFiltered(shared, "batch_id", "corpus_id",
        Multimodal.setSizes(batchFps), sizesSrc(),
        "size_b", "size_c", minJaccard)
      .filter(col("shared") >=
        least(lit(minShared), col("size_b"), col("size_c")))
  }

  /** ONLINE ingest — [[graft.operators.FingerprintIndex.ingestBatch]]'s
    * accepted-walk contract for the media families: batch rows in
    * ascending id order, dropped iff near-dup (jaccard >= [[minJaccard]])
    * of an indexed document or of a KEPT lower-id batch document;
    * survivors appended (sink-before-append via `onKept`, same
    * at-least-once replay argument).
    */
  def ingestBatch(
      media: Dataset[MediaRow],
      maxDocsPerFp: Int = 1000,
      maxSweepEdges: Int = Dedup.SmallGraphEdgeThreshold.toInt,
      onKept: Dataset[MediaRow] => Unit = _ => ()): Dataset[MediaRow] = {
    val sp = media.sparkSession
    import sp.implicits._
    // >= 2 here, unlike dedupBatch's >= 1: at 1 the within-batch sweep
    // would silently drop EVERY shared fingerprint (any batch pair has
    // _nv = 2) and exact in-batch duplicates would all be kept
    require(maxDocsPerFp >= 2,
      s"ingestBatch needs maxDocsPerFp >= 2 (within-batch pairs need " +
        s"two documents), got $maxDocsPerFp")
    // one decode+fingerprint pass feeds the corpus match AND the batch scan
    val (batchFps, batchDocs, batchDistinctFps) = pinnedFps(media)
    val dropped = EpochIndex.sweepDropped(
      dedupBatchFps(batchFps, batchDocs, batchDistinctFps, maxDocsPerFp),
      withinBatchPairs(batchFps, maxDocsPerFp), maxSweepEdges)
    val keptDs = EpochIndex.withoutIds(media.toDF(), col("media_id"), dropped)
      .as[MediaRow]
    onKept(keptDs)
    appendEpoch(writeFps(
      EpochIndex.withoutIds(batchFps, col("id"), dropped), _))
    keptDs
  }

  /** (id_a, id_b) batch pairs with jaccard >= [[minJaccard]], id_a < id_b —
    * the within-batch half of the ingest sweep, over the already pinned
    * fingerprint frame. Same conservative cap semantics as the corpus
    * match: the df-drop bounds candidates, sizes are full.
    */
  private def withinBatchPairs(
      batchFps: DataFrame, maxDocsPerFp: Int): DataFrame = {
    val kept = Multimodal.dfCapped(batchFps, maxDocsPerFp)
    val sizes = Multimodal.setSizes(batchFps)
    val shared = kept.as("a")
      .join(kept.as("b"), col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
    Multimodal.jaccardFiltered(shared, "id_a", "id_b", sizes, sizes,
        "size_a", "size_b", minJaccard)
      .filter(col("shared") >=
        least(lit(minShared), col("size_a"), col("size_b")))
      .select(col("id_a"), col("id_b"))
  }

  override protected def compactionFrames(): Seq[DataFrame] =
    Seq(storedSizes(), storedFps())

  // the commit log counts MEDIA DOCUMENTS (writeFps' invariant); the
  // primary layout holds several fp rows per document
  override protected def compactionCommitCount(): Option[Long] =
    Some(storedSizes().count())
}

object MediaSetIndex {

  /** Largest distinct-fingerprint probe set shipped via an EXPLICIT
    * broadcast hint in the dedup prune — the
    * [[graft.operators.WinnowIndex]] bound (2^20 longs, ~8 MB payload).
    * Above it the semi-join prune still runs, un-hinted.
    */
  private[multimodal] val MaxBroadcastFps: Long = 1L << 20
}
