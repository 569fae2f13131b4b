package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted segment-hash index — the standing-corpus state of incremental
  * paragraph dedup ([[Dedup.dedupParagraphsAgainst]]) made durable: the
  * exact-set twin of Dolma's paragraph bloom filter, which
  * [[Dedup.dedupParagraphs]]'s recipe cites. The corpus is segmented and
  * hashed ONCE at ingest; each nightly batch probes the stored hash set
  * and appends its own surviving-segment hashes, so corpus text is never
  * re-read and the per-batch corpus cost is one in-place scan of 8-byte
  * hashes.
  *
  * Layout (epoch-sliced + atomically committed — the [[EpochIndex]]
  * lifecycle):
  *
  *  - `{path}/segs/epoch=N` — (h): the slice's DISTINCT segment hashes.
  *    Appends may re-record a hash already present in an older epoch
  *    (deduping against the standing set would cost a corpus-wide
  *    anti-join per append); membership probes are set-semantics anyway
  *    and [[compact]] re-distincts.
  *  - `{path}/meta` — (delimiter, min_segment_len): segmentation geometry
  *    is INDEX STATE — a batch split on a different delimiter would
  *    silently match nothing.
  *
  * Committed row counts (for maintenance) are distinct-hash counts per
  * slice, not document counts; bucket-skew fields are 0 (a hash SET has no
  * buckets).
  */
case class SegmentIndex(
    spark: SparkSession,
    path: String,
    delimiter: String,
    minSegmentLen: Int) extends EpochIndex {

  override protected def layoutNames: Seq[String] = Seq("segs")

  def storedSegs(): DataFrame = storedLayout("segs")

  /** Segment-hash a corpus slice and append it — O(batch), atomic. Returns
    * distinct hashes appended (including any already present in older
    * epochs).
    */
  def append(docs: DataFrame, idCol: String, textCol: String): Long =
    appendEpoch(writeSlice(docs, textCol, _))

  private[operators] def writeSlice(
      docs: DataFrame, textCol: String, epoch: Long): Long = {
    store.writeSlice(
      Seq(Dedup.segmentHashes(docs, textCol, delimiter, minSegmentLen)), epoch)
  }

  /** Clean a batch against the stored segment set:
    * (idCol, cleaned_text, n_removed) with [[Dedup.dedupParagraphsAgainst]]
    * semantics — a batch segment is dropped iff it occurs in the indexed
    * corpus or earlier in the batch. The stored hash table is scanned in
    * place (probe hashes broadcast out, hits broadcast back), never
    * shuffled.
    */
  def dedupBatch(batch: DataFrame, idCol: String, textCol: String,
      asOf: Option[Long] = None): DataFrame = {
    // TIME-TRAVEL pin ([[FingerprintIndex.dedupBatch]]'s asOf contract)
    asOf.foreach(requirePin)
    Dedup.dedupParagraphsAgainst(batch, idCol, textCol,
      asOf.fold(storedSegs())(e => storedLayoutAt("segs", e)),
      delimiter, minSegmentLen)
  }

  /** Ingest shape: clean the batch, then append the SURVIVING segments'
    * hashes so later batches dedup against them too. Returns the cleaned
    * batch (materialized — the append must see its final state).
    *
    * `onCleaned` runs with the cleaned frame BEFORE the segment append —
    * the at-least-once replay seam ([[FingerprintIndex.ingestBatch]]
    * contract): a replay after the append re-cleans the batch against its
    * own appended segments and comes back fully deduplicated (empty
    * cleaned_text), so a sink written after return would lose the batch's
    * cleaned rows; a sink inside `onCleaned` sees at-worst a duplicate
    * delivery it can dedupe by `idCol`.
    */
  def ingestBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      onCleaned: DataFrame => Unit = _ => ()): DataFrame = {
    val cleaned = dedupBatch(batch, idCol, textCol).localCheckpoint(true)
    onCleaned(cleaned)
    append(cleaned.filter(length(col("cleaned_text")) > 0), idCol, "cleaned_text")
    cleaned
  }

  /** Compaction re-distincts the hash set; dedupBatch output is unchanged
    * (set semantics).
    */
  override protected def compactionFrames(): Seq[DataFrame] =
    Seq(storedSegs().distinct())

  // the segs layout is (h) only — segment hashes carry NO document
  // attribution, and a hash may be shared by retained documents, so an
  // id-keyed delete is not expressible; refuse loudly instead of
  // silently deleting nothing
  override def deleteIds(ids: Set[Long]): Long =
    throw new UnsupportedOperationException(
      "SegmentIndex stores an unattributed segment-hash set; delete by " +
        "rebuilding the index from the retained corpus")
}

object SegmentIndex {

  /** Build a fresh index from the current corpus. */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      delimiter: String = "\n",
      minSegmentLen: Int = 1): SegmentIndex = {
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    require(minSegmentLen >= 1, s"minSegmentLen must be >= 1, got $minSegmentLen")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((delimiter, minSegmentLen)).toDF("delimiter", "min_segment_len")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val idx = SegmentIndex(spark, path, delimiter, minSegmentLen)
    val n = idx.writeSlice(docs, textCol, epoch = 0L)
    EpochLog(spark, path).reset(n)
    idx
  }

  /** Load a previously built index; segmentation geometry comes from the
    * persisted meta.
    */
  def load(spark: SparkSession, path: String): SegmentIndex = {
    val row = spark.read.parquet(s"$path/meta")
      .select(col("delimiter"), col("min_segment_len"))
      .collect().head
    SegmentIndex(spark, path, row.getString(0), row.getInt(1))
  }
}
