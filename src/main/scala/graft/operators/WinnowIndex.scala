package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted winnowing fingerprint index — the standing-corpus state of
  * incremental SHARED-PASSAGE detection ([[Dedup.winnowingPairs]] made
  * durable, the sixth index family on the [[EpochIndex]] lifecycle). MOSS
  * winnowing guarantees any shared token run of at least `window +
  * shingleLen - 1` shares a selected fingerprint, at ~2/(window+1) storage
  * density — the middle ground between the segment index (exact paragraph
  * identity) and the MinHash index (whole-document resemblance, no
  * locality guarantee). Layout:
  *
  *  - `{path}/fps/epoch=N` — (id, fph BIGINT): the doc's DISTINCT selected
  *    fingerprints, stored as xxhash64 of the md5-hex selection key (the
  *    selection itself is lexicographic on md5 strings — engine-portable —
  *    and the 64-bit re-hash only matters for equality, the
  *    q63-vs-q61-style collision trade: a collision can only ADD a shared
  *    count, odds ~2^-25 at 2^20 fingerprints);
  *  - `{path}/meta` — (shingle_len, window, min_shared): selection geometry
  *    and the match threshold are INDEX STATE ([[FingerprintIndex]]'s
  *    discipline) — a batch winnowed under different geometry would
  *    silently match nothing;
  *  - `{path}/commits` — the [[EpochLog]]: atomic epoch commits, orphan
  *    slices invisible, compaction/maintenance inherited.
  */
case class WinnowIndex(
    spark: SparkSession,
    path: String,
    shingleLen: Int,
    window: Int,
    minShared: Long) extends EpochIndex {

  def fpsPath: String = layoutDir("fps")
  override protected def layoutNames: Seq[String] = Seq("fps")

  def storedFps(): DataFrame = storedLayout("fps")

  /** Winnow a new corpus slice and append it — O(batch), the standing
    * index is never rescanned; atomic via the epoch commit. Returns DOCS
    * appended (the commit-log row count [[EpochLog.sizeStats]] feeds the
    * probe-prune decision, so it must count documents, not fingerprints).
    */
  def append(docs: DataFrame, idCol: String, textCol: String): Long =
    appendEpoch(writeSlice(docs, idCol, textCol, _))

  private[operators] def writeSlice(
      docs: DataFrame, idCol: String, textCol: String, epoch: Long): Long =
    writeFps(fps(docs, idCol, textCol), epoch)

  private def writeFps(fp0: DataFrame, epoch: Long): Long = {
    val fp = fp0.localCheckpoint(true)
    val n = fp.select(col("id")).distinct().count()
    store.writeSlice(Seq(fp), epoch)
    n
  }

  private def fps(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    Dedup.winnowingFingerprints(docs, idCol, textCol, shingleLen, window)
      .select(col("id"), xxhash64(col("fp")).as("fph"))

  /** Which batch documents share at least `minShared` selected
    * fingerprints with an INDEXED document: (batch_id, corpus_id, shared).
    * Corpus text is never touched; corpus fingerprints never recomputed.
    *
    * Scale shape: when the batch is smaller than the corpus (the ingest
    * norm) the stored layout is pruned to fingerprints the batch PROBES
    * before anything else (broadcast semi-join), then `maxDocsPerFp` caps
    * each fingerprint's corpus posting list deterministically (lowest ids
    * kept — corpus side only, the batch never loses a match chance), so a
    * boilerplate fingerprint present in half the crawl costs its cap, not
    * its df².
    */
  def dedupBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxDocsPerFp: Int = 1000,
      asOf: Option[Long] = None): DataFrame =
    dedupBatchFps(fps(batch, idCol, textCol).localCheckpoint(true),
      maxDocsPerFp, asOf)

  private def dedupBatchFps(
      batchFps: DataFrame, maxDocsPerFp: Int,
      asOf: Option[Long] = None): DataFrame = {
    // TIME-TRAVEL pin ([[FingerprintIndex.dedupBatch]]'s asOf contract):
    // expired pins fail loudly, pinned counts stay commit-log arithmetic
    asOf.foreach(requirePin)
    def fpsSrc() = asOf.fold(storedFps())(e => storedLayoutAt("fps", e))
    // commit-log nRows count DOCS, so the prune decision must compare
    // batch DOCS (distinct ids over the pinned frame), not fingerprint
    // rows — ~2/(w+1) x grams of them per doc. Both counts in one pass
    // over the pinned frame.
    val corpusRows = asOf.fold(log.sizeStats()._2)(e =>
      log.rowsOf(log.epochsAt(e).toSet))
    val cnt = batchFps.agg(
      countDistinct(col("id")).as("docs"),
      countDistinct(col("fph")).as("fps")).head()
    val (batchDocs, batchDistinctFps) = (cnt.getLong(0), cnt.getLong(1))
    // the explicit broadcast() hint bypasses autoBroadcastJoinThreshold,
    // so it must be bounded HERE (the gatherPruned maxIds discipline): a
    // multi-million-doc batch — still smaller than the corpus — carries
    // tens of millions of distinct fph longs, and broadcasting that set
    // is a driver OOM. Above the bound the prune still runs, just as a
    // shuffled semi-join (AQE picks the strategy) — strictly cheaper than
    // capPostings over the unpruned layout either way.
    val pre =
      if (batchDocs >= corpusRows) fpsSrc()
      else {
        val probes = batchFps.select(col("fph")).distinct()
        fpsSrc().join(
          if (batchDistinctFps <= WinnowIndex.MaxBroadcastFps)
            broadcast(probes)
          else probes,
          Seq("fph"), "left_semi")
      }
    val capped = WinnowIndex.capPostings(pre, maxDocsPerFp)
    batchFps.as("b").join(capped.as("c"), col("b.fph") === col("c.fph"))
      .groupBy(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
  }

  /** ONLINE ingest — [[FingerprintIndex.ingestBatch]]'s accepted-walk
    * contract for the winnowing family: batch docs in ascending id order,
    * dropped iff sharing >= minShared fingerprints with an indexed doc or
    * a KEPT lower-id batch doc; survivors appended (sink-before-append via
    * `onKept`, same at-least-once replay argument).
    */
  def ingestBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      maxDocsPerFp: Int = 1000,
      maxSweepEdges: Int = Dedup.SmallGraphEdgeThreshold.toInt,
      onKept: DataFrame => Unit = _ => ()): DataFrame = {
    // one winnowing pass feeds the corpus match AND the within-batch scan
    val batchFps = fps(batch, idCol, textCol).localCheckpoint(true)
    val dropped = EpochIndex.sweepDropped(
      dedupBatchFps(batchFps, maxDocsPerFp),
      withinBatchPairs(batchFps, maxDocsPerFp), maxSweepEdges)
    val keptDf = EpochIndex.withoutIds(batch, col(idCol).cast("long"), dropped)
    onKept(keptDf)
    appendEpoch(writeFps(
      EpochIndex.withoutIds(batchFps, col("id"), dropped), _))
    keptDf
  }

  /** (id_a, id_b) batch pairs sharing >= minShared fingerprints, id_a <
    * id_b — the within-batch half of the ingest sweep, over the already
    * pinned fingerprint frame.
    */
  private def withinBatchPairs(
      batchFps: DataFrame, maxDocsPerFp: Int): DataFrame = {
    val capped = WinnowIndex.capPostings(batchFps, maxDocsPerFp)
    capped.as("a")
      .join(capped.as("b"),
        col("a.fph") === col("b.fph") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= minShared)
      .select(col("id_a"), col("id_b"))
  }

  override protected def compactionFrames(): Seq[DataFrame] =
    Seq(storedFps())

  // the commit log counts DOCS (writeFps' invariant); a raw fp-row replace
  // commit would inflate sizeStats ~2/(w+1) x grams per doc
  override protected def compactionCommitCount(): Option[Long] =
    Some(storedFps().select(col("id")).distinct().count())
}

object WinnowIndex {

  /** Largest distinct-fingerprint probe set shipped via an EXPLICIT
    * broadcast hint in the dedup prune: 2^20 longs is a ~8 MB payload
    * (tens of MB as an executor hash set) — comfortably inside driver and
    * executor budgets, an order of magnitude past
    * [[EpochIndex.MaxGatherIds]] because a broadcast relation streams
    * where a driver collect materializes rows. Above it the semi-join
    * prune still runs, un-hinted.
    */
  private[operators] val MaxBroadcastFps: Long = 1L << 20

  /** Deterministic posting-list cap: keep each fingerprint's
    * `maxDocsPerFp` lowest-id docs ([[Dedup.capBuckets]]' rule keyed on
    * the fingerprint). Applied AFTER the probe prune, so the window runs
    * over batch-probed postings only.
    */
  private[operators] def capPostings(
      fps: DataFrame, maxDocsPerFp: Int): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("fph")).orderBy(col("id"))
    fps.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") <= maxDocsPerFp)
      .drop("_rn")
  }

  /** Build at `path` from an initial corpus slice; geometry + threshold
    * persist in meta (index state, never load options).
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleLen: Int = 3,
      window: Int = 4,
      minShared: Long = 2L): WinnowIndex = {
    require(window >= 1, s"window must be >= 1, got $window")
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((shingleLen, window, minShared))
      .toDF("shingle_len", "window", "min_shared")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val idx = WinnowIndex(spark, path, shingleLen, window, minShared)
    val n = idx.writeSlice(docs, idCol, textCol, epoch = 0L)
    EpochLog(spark, path).reset(n)
    idx
  }

  /** Load a previously built index; geometry comes from the persisted meta. */
  def load(spark: SparkSession, path: String): WinnowIndex = {
    val row = spark.read.parquet(s"$path/meta")
      .select(col("shingle_len"), col("window"), col("min_shared"))
      .collect().head
    WinnowIndex(spark, path, row.getInt(0), row.getInt(1), row.getLong(2))
  }
}
