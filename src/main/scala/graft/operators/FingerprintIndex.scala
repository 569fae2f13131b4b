package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted MinHash fingerprint index — the standing-corpus half of
  * incremental near-dup dedup made DURABLE. [[Dedup.nearDupAgainstMinHash]]
  * recomputes corpus shingles and banding on every call; at 100 TB the
  * corpus side dwarfs any nightly batch, so production pipelines compute
  * fingerprints ONCE at ingest and keep them next to the store (the same
  * build/append/search lifecycle as [[graft.ml.IvfIndex]] on the vector
  * side, Dolma's bloom-filter file on the text side). Layout (epoch-sliced
  * + atomically committed — the [[EpochIndex]] lifecycle):
  *
  *  - `{path}/docs/epoch=N`  — (id, shingle_hashes array<bigint>): the
  *    exact-Jaccard verify payload, 8 bytes per distinct shingle instead of
  *    the document text;
  *  - `{path}/bands/epoch=N` — (id, band, bucket): the LSH candidate keys;
  *  - `{path}/meta`  — (shingle_len, num_hashes, bands, seed): the hash
  *    parameters are INDEX STATE ([[graft.ml.IvfIndex]]'s metric
  *    discipline) — a batch banded under different parameters would
  *    silently match nothing, so load() restores them and callers never
  *    pass them again;
  *  - `{path}/commits` — the [[EpochLog]]: docs and bands land under a new
  *    epoch directory FIRST and become visible only when the epoch's
  *    one-row commit is appended, so the two layouts can never go out of
  *    sync (a failure mid-append leaves an invisible orphan epoch that the
  *    next append overwrites; a retried append cannot double-apply).
  *
  * Dedup identity is hashed twice (shingle strings -> xxhash64 for the
  * verify sets; signature bands for candidates), so verify Jaccard equals
  * the string-shingle Jaccard barring a 64-bit collision — the
  * [[Dedup.dedupParagraphs]] trade, zero at test scale.
  */
case class FingerprintIndex(
    spark: SparkSession,
    path: String,
    shingleLen: Int,
    numHashes: Int,
    bands: Int,
    seed: Long,
    gatherBuckets: Int = 0) extends EpochIndex {

  def docsPath: String = layoutDir("docs")
  def bandsPath: String = layoutDir("bands")
  override protected def layoutNames: Seq[String] = Seq("docs", "bands")

  def storedDocs(): DataFrame = storedLayout("docs")
  def storedBands(): DataFrame = storedLayout("bands")

  /** Fingerprint + band a new slice of corpus and append it — O(batch)
    * like [[graft.ml.IvfIndex.append]]; the standing index is never
    * rescanned. Returns rows appended (observed inside the write pass —
    * a trailing count() would re-run arbitrary user lineage). The append
    * is atomic: both layouts land under a fresh epoch directory, then one
    * commit row makes them visible together.
    */
  def append(docs: DataFrame, idCol: String, textCol: String): Long =
    appendEpoch(writeSlice(docs, idCol, textCol, _))

  private[operators] def writeSlice(
      docs: DataFrame, idCol: String, textCol: String, epoch: Long): Long =
    writeFp(FingerprintIndex.fingerprints(
      docs, idCol, textCol, shingleLen, numHashes, seed), epoch)

  /** One fingerprint pass feeds both layouts: pin it (localCheckpoint, not
    * persist — blocks release with the reference, no CacheManager entry
    * leaks per call).
    */
  private def writeFp(fp0: DataFrame, epoch: Long): Long = {
    val fp = fp0.localCheckpoint(true)
    // both layout writes read the same pinned blocks and land
    // concurrently; the row count is observed inside the docs write
    store.writeSlice(Seq(fp.select(col("id"), col("shingle_hashes")),
      FingerprintIndex.banded(fp, bands, numHashes / bands)), epoch)
  }

  /** Which batch documents near-duplicate an INDEXED document:
    * (batch_id, corpus_id, jaccard) with jaccard >= threshold — the
    * [[Dedup.nearDupAgainstMinHash]] output, but the corpus side comes
    * from the stored layouts: the candidate join reads (id, band, bucket)
    * triples and the verify gathers stored shingle-hash arrays for
    * CANDIDATE corpus docs only. Corpus text is never touched, corpus
    * fingerprints are never recomputed.
    */
  def dedupBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxBucketSize: Int = 1000,
      gatherPruneMinCorpus: Long = EpochIndex.GatherPruneMinCorpus,
      asOf: Option[Long] = None): DataFrame = {
    val (batchFp, batchRows) = FingerprintIndex.pinnedFp(
      batch, idCol, textCol, shingleLen, numHashes, seed)
    dedupBatchFp(batchFp, batchRows, threshold, maxBucketSize,
      gatherPruneMinCorpus, asOf)
  }

  /** [[dedupBatch]] over an already-fingerprinted (pinned) batch frame —
    * the seam that lets [[ingestBatch]] fingerprint the batch exactly once
    * for BOTH the corpus match and the within-batch pair scan.
    */
  private def dedupBatchFp(
      batchFp: DataFrame,
      batchRows: Long,
      threshold: Double,
      maxBucketSize: Int,
      gatherPruneMinCorpus: Long = EpochIndex.GatherPruneMinCorpus,
      asOf: Option[Long] = None): DataFrame = {
    // TIME-TRAVEL pin (the loadAt discipline on the index): match against
    // the corpus AS OF a committed epoch — reproducibility audits ("which
    // duplicates would we have flagged as of snapshot N"). Expired pins
    // fail loudly; pinned row counts stay commit-log arithmetic.
    asOf.foreach(requirePin)
    def bandsSrc() = asOf.fold(storedBands())(e => storedLayoutAt("bands", e))
    def docsSrcAll() = asOf.fold(storedDocs())(e => storedLayoutAt("docs", e))
    val corpusRows = asOf.fold(log.sizeStats()._2)(e =>
      log.rowsOf(log.epochsAt(e).toSet))
    val batchBands = FingerprintIndex.banded(batchFp, bands, numHashes / bands)
    // when the batch is smaller than the index (the normal ingest shape),
    // prune the stored bands to buckets the batch PROBES before anything
    // else: the cap window below sorts per bucket, and running it over the
    // whole standing corpus would shuffle N x bands rows per batch query.
    // The size test is free: the batch count was observed during the
    // fingerprint checkpoint, and the corpus size is commit-log arithmetic
    // (no data files touched). The flag only picks a plan — probePruned's
    // semi-join drops unprobed buckets whose rows could never match.
    val preCap = EpochIndex.probePruned(bandsSrc(), batchBands,
      prune = batchRows < corpusRows)
    // cap only the corpus side — a degenerate bucket is a corpus property,
    // and the batch side must never lose a doc's chance to match
    val corpusBands = Dedup.capBuckets(preCap, maxBucketSize)
    val candidates0 = batchBands
      .as("b").join(corpusBands.as("c"),
        col("b.band") === col("c.band") && col("b.bucket") === col("c.bucket"))
      .select(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    // pin the candidate set when the gather prune will collect from it
    // (the shingle-hash layout is the index's FAT side — ~1.6 KB/doc vs
    // 12-byte band rows — so the verify join must not scan it corpus-wide)
    val candidates =
      if (corpusRows >= gatherPruneMinCorpus) candidates0.localCheckpoint(true)
      else candidates0
    val docsSrc = EpochIndex.gatherPruned(docsSrcAll(), candidates,
      "corpus_id", corpusRows, gatherPruneMinCorpus,
      gatherBuckets = gatherBuckets)
    candidates
      .join(batchFp.select(col("id").as("batch_id"),
        col("shingle_hashes").as("sh_b")), Seq("batch_id"))
      .join(docsSrc.select(col("id").as("corpus_id"),
        col("shingle_hashes").as("sh_c")), Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        Dedup.jaccard(col("sh_b"), col("sh_c")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** ONLINE ingest dedup — the operator a nightly/streaming crawl actually
    * runs, composing [[dedupBatch]] (batch vs standing corpus) with a
    * within-batch sweep and the index append: returns the batch rows that
    * survive, having appended exactly those to the index so later batches
    * dedup against them too.
    *
    * Semantics (the online "keep what isn't a near-dup of anything
    * ACCEPTED" contract): batch docs are considered in ascending id order;
    * a doc is dropped iff it near-duplicates an indexed corpus doc, or a
    * KEPT lower-id batch doc. Matching only DROPPED docs does not drop you
    * (a~b~c with a!~c keeps a and c) — which is what makes the outcome
    * independent of micro-batch grouping: streaming the same docs in one
    * batch or many (in id order) lands on the identical kept set and
    * identical final index (StreamsSpec replays both).
    *
    * Scale shape: the distributed work is [[dedupBatch]] plus one
    * [[Dedup.nearDupPairsMinHash]] pass over the BATCH under the index's
    * own hash parameters — both banded, neither touches corpus text; the
    * driver sees only match ids and pairs under the
    * [[EpochIndex.sweepDropped]] fail-fast caps.
    *
    * Recall caveat: candidate generation caps corpus-side buckets at
    * `maxBucketSize` (deterministic truncation, the
    * [[Dedup.nearDupPairsMinHash]] trade), so a boilerplate-dense corpus
    * bucket can hide a true near-dup from the corpus match; the decision
    * is exact only up to that cap (and to LSH banding recall).
    *
    * `onKept` is the DURABLE-SINK seam: it runs with the final kept frame
    * BEFORE the index append. Under an at-least-once driver (Structured
    * Streaming foreachBatch) a crash after the append but before the
    * caller's checkpoint commit re-runs the batch against an index that
    * already contains its survivors — every doc then matches its own
    * appended fingerprints and the re-run keeps NOTHING. A sink written
    * after ingestBatch returns would lose those rows unrecoverably; a sink
    * written inside `onKept` already has them, and the only replay artifact
    * is a duplicate delivery (crash after the sink write, before the
    * append) that an id-keyed sink deduplicates. Throwing from `onKept`
    * aborts the append, so a failed sink write leaves the index unchanged
    * and the retry recomputes the identical kept set.
    */
  def ingestBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      threshold: Double,
      maxBucketSize: Int = 1000,
      maxSweepEdges: Int = Dedup.SmallGraphEdgeThreshold.toInt,
      onKept: DataFrame => Unit = _ => ()): DataFrame = {
    // ONE fingerprint pass: the pinned (id, shingle_hashes, sig) frame
    // feeds the corpus match AND the within-batch pair scan — tokenizing
    // the batch is the dominant per-row cost, and a naive composition of
    // the two public operators would pay it twice
    val (batchFp, batchRows) = FingerprintIndex.pinnedFp(
      batch, idCol, textCol, shingleLen, numHashes, seed)
    val dropped = EpochIndex.sweepDropped(
      dedupBatchFp(batchFp, batchRows, threshold, maxBucketSize),
      withinBatchPairs(batchFp, threshold, maxBucketSize), maxSweepEdges)
    val keptDf = EpochIndex.withoutIds(batch, col(idCol).cast("long"), dropped)
    // sink first, append second — see the replay contract in the docstring
    onKept(keptDf)
    // the write half must not re-tokenize the survivors it just fingerprinted
    appendEpoch(writeFp(EpochIndex.withoutIds(batchFp, col("id"), dropped), _))
    keptDf
  }

  /** [[Dedup.nearDupPairsMinHash]] restricted to a pinned fingerprint
    * frame: band the signatures, cap buckets, self-join, verify with exact
    * Jaccard over the hashed shingle sets (count-based, so the doubles are
    * value-identical to the string-shingle operator barring a 64-bit
    * collision — the q63-vs-q61 guarantee). Returns (id_a, id_b) pairs,
    * id_a < id_b.
    */
  private def withinBatchPairs(
      batchFp: DataFrame, threshold: Double, maxBucketSize: Int): DataFrame = {
    val capped = Dedup.capBuckets(
      FingerprintIndex.banded(batchFp, bands, numHashes / bands), maxBucketSize)
    val candidates = capped.as("x").join(capped.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(batchFp.select(col("id").as("id_a"),
        col("shingle_hashes").as("sh_a")), Seq("id_a"))
      .join(batchFp.select(col("id").as("id_b"),
        col("shingle_hashes").as("sh_b")), Seq("id_b"))
      .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  override protected def bucketStats(): (Long, Double) =
    bandBucketStats(storedBands())

  override protected def compactionFrames(): Seq[DataFrame] =
    Seq(storedDocs(), storedBands())

  override protected def gatherBucketsFor(name: String): Int =
    if (name == "docs") gatherBuckets else 0
}

object FingerprintIndex {

  /** Build a fresh index from the current corpus. `gatherBuckets > 0`
    * writes the fat docs layout under `gb = pmod(id, B)` directories so
    * candidate gathers can directory-prune ([[EpochIndex.gatherPruned]]) —
    * size B so each directory holds ~1 GB of layout; 0 keeps the flat
    * layout. Like the hash parameters, the value is INDEX STATE: it is
    * persisted in meta and restored by [[load]].
    */
  def build(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      path: String,
      shingleLen: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      seed: Long = 42L,
      gatherBuckets: Int = 0): FingerprintIndex = {
    require(numHashes % bands == 0,
      s"numHashes=$numHashes not divisible by bands=$bands")
    require(gatherBuckets >= 0, s"gatherBuckets must be >= 0, got $gatherBuckets")
    val spark = docs.sparkSession
    import spark.implicits._
    Seq((shingleLen, numHashes, bands, seed, gatherBuckets))
      .toDF("shingle_len", "num_hashes", "bands", "seed", "gather_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val idx = FingerprintIndex(spark, path, shingleLen, numHashes, bands, seed,
      gatherBuckets)
    val n = idx.writeSlice(docs, idCol, textCol, epoch = 0L)
    EpochLog(spark, path).reset(n) // replaces any stale commit history
    idx
  }

  /** Load a previously built index; hash parameters come from the
    * persisted meta (index state, never a load option). Indexes written
    * before the gather-bucket option carry no `gather_buckets` column and
    * load as flat (0) — their layouts ARE flat, so the read contract and
    * the stored bytes stay consistent by construction.
    */
  def load(spark: SparkSession, path: String): FingerprintIndex = {
    val meta = spark.read.parquet(s"$path/meta")
    val hasGb = meta.columns.contains("gather_buckets")
    val row = meta.select(col("shingle_len"), col("num_hashes"), col("bands"),
        col("seed"),
        (if (hasGb) col("gather_buckets") else lit(0)).as("gather_buckets"))
      .collect().head
    FingerprintIndex(spark, path, row.getInt(0), row.getInt(1), row.getInt(2),
      row.getLong(3), row.getInt(4))
  }

  /** (id, shingle_hashes, sig) — the one pass everything derives from. */
  private def fingerprints(
      docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, numHashes: Int, seed: Long): DataFrame =
    Dedup.widen(docs).select(
        col(idCol).cast("long").as("id"),
        Dedup.tokenShingles(col(textCol), shingleLen).as("_sh"))
      .select(col("id"),
        transform(col("_sh"), s => xxhash64(s)).as("shingle_hashes"),
        Dedup.minhashSignature(col("_sh"), numHashes, seed).as("sig"))

  /** [[fingerprints]] pinned, with its row count observed DURING the
    * checkpoint job — a separate count() was one extra scheduled job per
    * dedup/ingest call, for a number that only feeds the probe-prune plan
    * decision (one fp row per document).
    */
  private def pinnedFp(
      docs: DataFrame, idCol: String, textCol: String,
      shingleLen: Int, numHashes: Int, seed: Long): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val fp = fingerprints(docs, idCol, textCol, shingleLen, numHashes, seed)
      .observe(obs, count(lit(1)).as("rows"))
      .localCheckpoint(true)
    (fp, scala.util.Try(obs.get("rows").asInstanceOf[Long]).getOrElse(0L))
  }

  /** (id, band, bucket) candidate keys from a fingerprint frame — bands of
    * the MinHash signature hashed to a bucket (NOT bit chunks of one word:
    * the signature is an array, so this family keeps its own banding).
    */
  private def banded(fp: DataFrame, bands: Int, rows: Int): DataFrame = {
    val bandStructs = array((0 until bands).map { j =>
      struct(lit(j).as("band"),
        hash(slice(col("sig"), j * rows + 1, rows)).as("bucket"))
    }: _*)
    fp.select(col("id"), explode(bandStructs).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }
}
