package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{vector, AnnUtil, HyperplaneSignature}
import org.apache.spark.sql.graftx.Bridge

/** Persisted random-hyperplane LSH index — the EMBEDDING-side sibling of
  * [[FingerprintIndex]] (MinHash text) and [[HammingIndex]] (SimHash/dHash):
  * [[Dedup.embeddingNearDupLsh]] recomputes hyperplane signatures from raw
  * vectors on every run, and at 100 TB the standing corpus dwarfs any
  * nightly batch — so the corpus is signed ONCE at ingest (the reference's
  * index-persistence discipline, performance/hnsw_index.py:105-129) and
  * batches dedup against the stored layouts.
  *
  * Layout (epoch-sliced + atomically committed — the [[EpochIndex]]
  * lifecycle):
  *
  *  - `{path}/vecs/epoch=N`  — (id, vec): the exact-cosine VERIFY payload —
  *    the embedding analog of [[FingerprintIndex]]'s shingle_hashes. This
  *    duplicates the embedding column next to the index, which is the
  *    price of never touching the source store at query time; only
  *    CANDIDATE ids' vectors are ever gathered (the join below), so the
  *    read cost is bounded by candidate count, not corpus size.
  *  - `{path}/bands/epoch=N` — (id, band, bucket): the LSH candidate keys
  *    (nBands equal bit-chunks of the signature; signatures wider than 64
  *    bits span multiple words — the selectivity lever, see `nWords`).
  *  - `{path}/meta` — (dim, n_bits, n_bands, seed): the hyperplane
  *    geometry is INDEX STATE ([[FingerprintIndex]]'s discipline) — a
  *    batch signed under different planes would silently match nothing, so
  *    `load()` restores it and callers never pass it again.
  *  - `{path}/commits` — the [[EpochLog]]: both layouts become visible
  *    all-or-nothing; a failure mid-append leaves an invisible orphan.
  *
  * Candidate recall is the LSH banding probability (pairs within angle θ
  * collide on some band w.h.p. — raise nBands to trade work for recall);
  * precision is EXACT (candidates verify with true cosine on the stored
  * vectors). Scale-invariant inputs that share signs bit-identically
  * (e.g. positively scaled copies) collide deterministically.
  */
case class HyperplaneIndex(
    spark: SparkSession,
    path: String,
    dim: Int,
    nBits: Int,
    nBands: Int,
    seed: Long,
    gatherBuckets: Int = 0) extends EpochIndex {

  require(nBits % nBands == 0, s"nBits=$nBits not divisible by nBands=$nBands")
  require(nBits / nBands <= 64,
    s"band width ${nBits / nBands} exceeds one signature word")
  require(nBits <= 64 || 64 % (nBits / nBands) == 0,
    s"multi-word signatures need band width dividing 64, got ${nBits / nBands}")

  def bandsPath: String = layoutDir("bands")
  override protected def layoutNames: Seq[String] = Seq("vecs", "bands")

  /** Signatures wider than 64 bits span ceil(nBits/64) longs (`sig0..`) —
    * the bucket-selectivity lever at corpus scale: bucket count per band is
    * 2^(nBits/nBands), so the default 64/8 geometry (256 buckets) is
    * candidate-bound once the corpus passes ~100k rows (measured by
    * IndexSweepProbe at commit 19fff4c), while 128/8 (65k buckets) or
    * 256/8 (16M) keep the candidate verify output-bound. Recall per band
    * falls as width grows (p^width for per-bit agreement p) — raise nBands
    * alongside nBits to buy selectivity without recall loss, at linear
    * banding-row cost.
    */
  private val nWords = (nBits + 63) / 64
  private val sigNames: Seq[String] = (0 until nWords).map(w => s"sig$w")

  @transient private lazy val planes: Array[Array[Double]] =
    AnnUtil.randomPlanesWide(nBits, dim, seed)

  def storedVecs(): DataFrame = storedLayout("vecs")
  def storedBands(): DataFrame = storedLayout("bands")

  /** Append per-word hyperplane signature columns `sig0..` (each word signs
    * against its own 64-plane slice).
    */
  private def withSigs(df: DataFrame,
      vec: org.apache.spark.sql.Column): DataFrame =
    (0 until nWords).foldLeft(df) { (d, w) =>
      d.withColumn(s"sig$w", Bridge.column(HyperplaneSignature(
        Bridge.expression(vec),
        planes.slice(w * 64, math.min((w + 1) * 64, nBits)))))
    }

  /** (id, band, bucket) from an (id, sig0..) frame — nBands equal bit
    * chunks, each chunk read from its word (chunks never span words; the
    * one-word case reduces to [[EpochIndex.bitChunkBands]]'s layout
    * bit-for-bit).
    *
    * `probeFlips > 0` adds bit-flip MULTI-PROBE buckets (query side only —
    * the stored layout never changes): for each band, also emit the bucket
    * with one of the first `probeFlips` bit positions flipped, so a pair
    * whose signatures differ by <= 1 of those bits per band still meets.
    * `probeFlips = width` probes every 1-bit neighbor, turning per-band
    * candidate recall from hamming-0 into hamming-<=1 at (width+1)x the
    * BATCH banding rows — batch-bounded, corpus side untouched, the
    * standard trade for wide (selective) buckets.
    */
  private def banded(sigs: DataFrame, probeFlips: Int = 0): DataFrame = {
    val width = nBits / nBands
    require(probeFlips >= 0 && probeFlips <= width,
      s"probeFlips must be in [0, $width], got $probeFlips")
    val mask = if (width == 64) -1L else (1L << width) - 1
    val chunks = array((0 until nBands).flatMap { j =>
      val w = (j * width) / 64
      val off = (j * width) % 64
      val base = shiftright(col(s"sig$w"), off).bitwiseAND(lit(mask))
      struct(lit(j).as("band"), base.as("bucket")) +:
        (0 until probeFlips).map { b =>
          struct(lit(j).as("band"),
            base.bitwiseXOR(lit(1L << b)).as("bucket"))
        }
    }: _*)
    // no dedup needed: within a band the base and each single-flip bucket
    // are pairwise distinct by construction, so this stays exchange-free
    sigs.select(col("id"), explode(chunks).as("bb"))
      .select(col("id"), col("bb.band").as("band"), col("bb.bucket").as("bucket"))
  }

  /** Sign + band a new corpus slice and append it — O(batch), atomic.
    * Returns rows appended.
    */
  def append(vecs: DataFrame, idCol: String, vecCol: String): Long =
    appendEpoch(writeSlice(vecs, idCol, vecCol, _))

  private[operators] def writeSlice(
      vecs: DataFrame, idCol: String, vecCol: String, epoch: Long): Long =
    writeSigned(withSigs(vecs.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec")), col("vec")), epoch)

  /** One signature pass feeds both layouts (the writeSlice discipline). */
  private def writeSigned(signed0: DataFrame, epoch: Long): Long = {
    val signed = signed0.localCheckpoint(true)
    // concurrent layout writes over the same pinned blocks (see
    // FingerprintIndex.writeFp)
    store.writeSlice(Seq(signed.select(col("id"), col("vec")),
      banded(signed.select((col("id") +: sigNames.map(col)): _*))), epoch)
  }

  /** Which batch vectors near-duplicate an INDEXED vector:
    * (batch_id, corpus_id, cosine) with cosine >= threshold — the
    * batch-vs-corpus form of [[Dedup.embeddingNearDupLsh]], corpus side
    * served from the stored layouts: batch vectors are signed once here;
    * corpus signatures are never recomputed, and corpus vectors are read
    * only for CANDIDATE ids (columnar gather, bounded by candidate count).
    *
    * Scale shape: the stored bands are pruned to buckets the batch PROBES
    * before the cap window (a nightly batch probes a vanishing fraction of
    * corpus buckets — the [[EpochIndex.probePruned]] prune, skipped when
    * the batch dominates the index); the banding join carries slim
    * (id, band, bucket) longs only; vectors enter only in the final verify
    * joins.
    */
  def dedupBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucketSize: Int = 1000,
      probeFlips: Int = 0,
      gatherPruneMinCorpus: Long = EpochIndex.GatherPruneMinCorpus,
      asOf: Option[Long] = None): DataFrame =
    { val (signed, rows) = signBatch(batch, idCol, vecCol)
      dedupBatchSigned(signed, rows, threshold, maxBucketSize,
        probeFlips, gatherPruneMinCorpus, asOf) }

  /** Pin one (id, vec, sig) frame per batch — feeds the corpus match AND
    * (in [[ingestBatch]]) the within-batch pair scan. The row count is
    * observed during the checkpoint job (the FingerprintIndex.pinnedFp
    * discipline): it only feeds the probe-prune plan decision, and a
    * separate count() was one extra scheduled job per call.
    */
  private def signBatch(
      batch: DataFrame, idCol: String, vecCol: String): (DataFrame, Long) = {
    val obs = org.apache.spark.sql.Observation()
    val signed = withSigs(batch.select(col(idCol).cast("long").as("id"),
      col(vecCol).as("vec")), col("vec"))
      .observe(obs, count(lit(1)).as("rows"))
      .localCheckpoint(true)
    (signed, scala.util.Try(obs.get("rows").asInstanceOf[Long]).getOrElse(0L))
  }

  private def dedupBatchSigned(
      signed: DataFrame, batchRows: Long, threshold: Double,
      maxBucketSize: Int,
      probeFlips: Int = 0,
      gatherPruneMinCorpus: Long = EpochIndex.GatherPruneMinCorpus,
      asOf: Option[Long] = None): DataFrame = {
    // TIME-TRAVEL pin ([[FingerprintIndex.dedupBatch]]'s asOf contract)
    asOf.foreach(requirePin)
    def bandsSrc() = asOf.fold(storedBands())(e => storedLayoutAt("bands", e))
    def vecsSrcAll() = asOf.fold(storedVecs())(e => storedLayoutAt("vecs", e))
    val corpusRows = asOf.fold(log.sizeStats()._2)(e =>
      log.rowsOf(log.epochsAt(e).toSet))
    val batchBands =
      banded(signed.select((col("id") +: sigNames.map(col)): _*), probeFlips)
    val preCap = EpochIndex.probePruned(bandsSrc(), batchBands,
      prune = batchRows < corpusRows)
    // cap only the corpus side — a degenerate bucket is a corpus property,
    // and the batch side must never lose a vector's chance to match
    val corpusBands = Dedup.capBuckets(preCap, maxBucketSize)
    val candidates0 = batchBands.as("b").join(corpusBands.as("c"),
        col("b.band") === col("c.band") && col("b.bucket") === col("c.bucket"))
      .select(col("b.id").as("batch_id"), col("c.id").as("corpus_id"))
      .dropDuplicates("batch_id", "corpus_id")
    // pin the candidate set when the gather prune will collect from it —
    // otherwise the banding join would run once for the collect and again
    // for the verify
    val candidates =
      if (corpusRows >= gatherPruneMinCorpus) candidates0.localCheckpoint(true)
      else candidates0
    val vecsSrc = EpochIndex.gatherPruned(vecsSrcAll(), candidates,
      "corpus_id", corpusRows, gatherPruneMinCorpus,
      gatherBuckets = gatherBuckets)
    candidates
      .join(signed.select(col("id").as("batch_id"), col("vec").as("v_b")),
        Seq("batch_id"))
      .join(vecsSrc.select(col("id").as("corpus_id"), col("vec").as("v_c")),
        Seq("corpus_id"))
      .select(col("batch_id"), col("corpus_id"),
        vector.cosine_sim(col("v_b"), col("v_c")).as("cosine"))
      .filter(col("cosine") >= threshold)
  }

  /** ONLINE ingest dedup for the embedding family — the
    * [[FingerprintIndex.ingestBatch]] contract one modality over: drop
    * batch vectors that near-duplicate the indexed corpus or a KEPT
    * lower-id batch vector ([[EpochIndex.sweepDropped]]), append exactly
    * the survivors, return the surviving rows. Recall is LSH banding
    * recall (plus the corpus-side `maxBucketSize` truncation); precision
    * is exact-cosine. `probeFlips` widens BOTH legs symmetrically — the
    * batch-vs-corpus match and the within-batch pair scan — so a jittered
    * intra-batch duplicate is never kept where the identical pair against
    * the corpus would have been dropped.
    *
    * `onKept` runs with the final kept frame BEFORE the index append — the
    * at-least-once replay seam; see [[FingerprintIndex.ingestBatch]] for
    * the full contract (a sink written after return loses the batch's
    * survivors when a crash lands between the append and the caller's
    * checkpoint commit; a sink inside `onKept` sees at-worst duplicates).
    */
  def ingestBatch(
      batch: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBucketSize: Int = 1000,
      maxSweepEdges: Int = Dedup.SmallGraphEdgeThreshold.toInt,
      onKept: DataFrame => Unit = _ => (),
      probeFlips: Int = 0): DataFrame = {
    // ONE signature pass feeds the corpus match AND the within-batch scan
    val (signed, batchRows) = signBatch(batch, idCol, vecCol)
    val dropped = EpochIndex.sweepDropped(
      dedupBatchSigned(signed, batchRows, threshold, maxBucketSize,
        probeFlips),
      withinBatchPairs(signed, threshold, maxBucketSize, probeFlips),
      maxSweepEdges)
    val keptDf = EpochIndex.withoutIds(batch, col(idCol).cast("long"), dropped)
    // sink first, append second — the at-least-once replay contract;
    // the write half must not re-sign the survivors it just signed
    onKept(keptDf)
    appendEpoch(writeSigned(
      EpochIndex.withoutIds(signed, col("id"), dropped), _))
    keptDf
  }

  /** [[Dedup.embeddingNearDupLsh]] restricted to a pinned signed frame:
    * (id_a, id_b) pairs with id_a < id_b and cosine >= threshold.
    *
    * `probeFlips` reaches hamming-<=1 pairs here exactly as in the corpus
    * match: flipping ONE side of the self-join is enough, because XOR is
    * symmetric — if two signatures differ in probed bit k, each side's
    * flipped bucket IS the other's base bucket, so the pair meets
    * whichever of the two carries the lower id. Keeping the flips
    * one-sided also keeps the candidate blowup at (probeFlips+1)x, not
    * squared. The cap stays on the BASE side only (the dedupBatch
    * discipline: a degenerate bucket is bounded to cap x bucket rows
    * without costing the probe side its chance to match).
    */
  private def withinBatchPairs(
      signed: DataFrame, threshold: Double, maxBucketSize: Int,
      probeFlips: Int = 0): DataFrame = {
    val sigs = signed.select((col("id") +: sigNames.map(col)): _*)
    val probe = banded(sigs, probeFlips)
    val base = Dedup.capBuckets(banded(sigs), maxBucketSize)
    val candidates = probe.as("x").join(base.as("y"),
        col("x.band") === col("y.band") &&
          col("x.bucket") === col("y.bucket") &&
          col("x.id") < col("y.id"))
      .select(col("x.id").as("id_a"), col("y.id").as("id_b"))
      .dropDuplicates("id_a", "id_b")
    candidates
      .join(signed.select(col("id").as("id_a"), col("vec").as("v_a")), Seq("id_a"))
      .join(signed.select(col("id").as("id_b"), col("vec").as("v_b")), Seq("id_b"))
      .filter(vector.cosine_sim(col("v_a"), col("v_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  override protected def bucketStats(): (Long, Double) =
    bandBucketStats(storedBands())

  /** Each id's vec + band rows move verbatim (ids are append-unique). */
  override protected def compactionFrames(): Seq[DataFrame] =
    Seq(storedVecs(), storedBands())

  override protected def gatherBucketsFor(name: String): Int =
    if (name == "vecs") gatherBuckets else 0
}

object HyperplaneIndex {

  /** The geometry sizing rule, measured by `IndexSweepProbe` at commit
    * 19fff4c: per-band bucket space must dwarf the corpus or the banding join
    * drowns in INCIDENTAL candidates (unrelated vectors sharing one band's
    * bits) —
    * at 10M rows the 128/8 geometry (16-bit buckets, ~150 rows each)
    * yields millions of candidate pairs and the verify join degenerates to
    * a full-layout join, while 256/8 (32-bit buckets) keeps candidates
    * output-bound. This returns the smallest legal nBits whose per-band
    * bucket count is at least `headroom` x corpusRows (expected incidental
    * candidates per probed vector ~ nBands/headroom), with band width
    * rounded up to a divisor of 64 (the multi-word layout constraint) and
    * capped at 64 bits/band.
    */
  def recommendedNBits(
      corpusRows: Long, nBands: Int = 8, headroom: Long = 64L): Int = {
    require(corpusRows >= 0 && nBands >= 1 && headroom >= 1)
    val target = // corpusRows * headroom, saturating instead of overflowing
      if (corpusRows > Long.MaxValue / headroom) Long.MaxValue
      else corpusRows * headroom
    val needed = math.max(1, 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(1L, target - 1)))
    val width = Seq(1, 2, 4, 8, 16, 32, 64)
      .find(_ >= math.min(needed, 64)).get
    width * nBands
  }

  /** Build a fresh index over the current corpus. `gatherBuckets > 0`
    * writes the fat vecs layout under `gb = pmod(id, B)` directories so
    * candidate gathers can directory-prune ([[EpochIndex.gatherPruned]]);
    * persisted as index state like the hyperplane geometry.
    */
  def build(
      vecs: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      dim: Int,
      nBits: Int = 64,
      nBands: Int = 8,
      seed: Long = 42L,
      gatherBuckets: Int = 0): HyperplaneIndex = {
    require(dim >= 1, s"dim must be >= 1, got $dim")
    require(nBits % nBands == 0, s"nBits=$nBits not divisible by nBands=$nBands")
    require(gatherBuckets >= 0, s"gatherBuckets must be >= 0, got $gatherBuckets")
    val spark = vecs.sparkSession
    import spark.implicits._
    Seq((dim, nBits, nBands, seed, gatherBuckets))
      .toDF("dim", "n_bits", "n_bands", "seed", "gather_buckets")
      .coalesce(1).write.mode("overwrite").parquet(s"$path/meta")
    val idx = HyperplaneIndex(spark, path, dim, nBits, nBands, seed,
      gatherBuckets)
    val n = idx.writeSlice(vecs, idCol, vecCol, epoch = 0L)
    EpochLog(spark, path).reset(n)
    idx
  }

  /** Load a previously built index; the hyperplane geometry comes from the
    * persisted meta. Pre-gather-bucket indexes (no `gather_buckets`
    * column) load as flat — their layouts are flat.
    */
  def load(spark: SparkSession, path: String): HyperplaneIndex = {
    val meta = spark.read.parquet(s"$path/meta")
    val hasGb = meta.columns.contains("gather_buckets")
    val row = meta.select(col("dim"), col("n_bits"), col("n_bands"), col("seed"),
        (if (hasGb) col("gather_buckets") else lit(0)).as("gather_buckets"))
      .collect().head
    HyperplaneIndex(spark, path, row.getInt(0), row.getInt(1), row.getInt(2),
      row.getLong(3), row.getInt(4))
  }
}
