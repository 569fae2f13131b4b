package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.expressions.InSet
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge

/** Shared skeleton of the persisted near-dup index families
  * ([[FingerprintIndex]] MinHash, [[HammingIndex]] SimHash/dHash,
  * [[SegmentIndex]] paragraph hashes, [[HyperplaneIndex]] embedding LSH):
  * the epoch-sliced layout discipline (every layout lands under
  * `layout/epoch=N`, made visible by one [[EpochLog]] commit row), the
  * compaction protocol (rewrite-live-epochs + atomic replace commit +
  * best-effort directory cleanup), and the maintenance snapshot (commit-log
  * arithmetic + optional band-bucket skew scan). Families keep what is
  * genuinely theirs — candidate generation, verify semantics, per-layout
  * write passes — and inherit the lifecycle, so a sixth family costs only
  * its candidate logic. [[graft.ml.SemDedupIndex]] shares the ingest-sweep
  * helpers from the companion (its layout is an [[graft.ml.IvfIndex]], not
  * an epoch-per-append family).
  */
private[graft] trait EpochIndex {
  def spark: SparkSession
  def path: String

  /** Layout subdirectory names under `path`, epoch-sliced and committed
    * together. The FIRST carries the row counts recorded on commit rows.
    */
  protected def layoutNames: Seq[String]

  protected lazy val log: EpochLog = EpochLog(spark, path)

  protected def layoutDir(name: String): String = s"$path/$name"

  /** Per-layout parquet read options. A family whose layout schema GAINED
    * a column across versions (EditIndex's `block`) must set
    * `mergeSchema=true` here: a plain read infers the schema from one
    * arbitrary footer, so mixed-version epoch directories would silently
    * include or drop the new column depending on file order.
    */
  protected def layoutReadOptions(name: String): Map[String, String] = Map.empty

  private def layout(name: String): EpochStore.Layout = EpochStore.Layout(
    layoutDir(name),
    if (gatherBucketsFor(name) > 0) EpochStore.Buckets(gatherBucketsFor(name))
    else EpochStore.Plain(),
    layoutReadOptions(name))

  /** The family's lifecycle: every layout in [[layoutNames]] order. */
  protected lazy val store: EpochStore = EpochStore(log, layoutNames.map(layout))

  /** Committed rows of one layout — orphan epochs from failed appends are
    * invisible ([[EpochLog]] resolves directories from the commit log,
    * never the filesystem).
    */
  protected def storedLayout(name: String): DataFrame =
    EpochStore.read(spark, layout(name), log.layoutPaths(layoutDir(name)))

  /** [[storedLayout]] pinned at a snapshot epoch — the index-family twin
    * of [[graft.sources.VectorStoreCatalog.loadAt]]: only committed
    * slices with epoch <= `maxEpoch`, plus the active vacuum fold when
    * the pin reaches past its boundary ([[EpochLog.layoutPathsAt]]).
    */
  protected def storedLayoutAt(name: String, maxEpoch: Long): DataFrame =
    EpochStore.read(spark, layout(name), log.layoutPathsAt(layoutDir(name), maxEpoch))

  /** Addressable snapshot pins: the committed epoch set (a previous
    * vacuum's fold slice is itself a valid pin — the vacuum-time
    * snapshot), the store's [[graft.sources.VectorStoreCatalog.epochs]]
    * discipline. A pinned read at an epoch NOT in this list fails loudly
    * ([[requirePin]]) — compaction/vacuum/delete expire old pins.
    */
  def epochs: Seq[Long] = log.committedEpochs()

  /** The loud pin-validity gate every `...At` read goes through. */
  protected def requirePin(epoch: Long): Unit = {
    val live = epochs
    require(live.contains(epoch),
      s"epoch $epoch is not in the committed history (live pins: " +
        s"${live.mkString(", ")}) — compaction, vacuum, or a delete " +
        "rewrite may have expired it")
  }

  /** The epoch-commit protocol around one slice write: `write(epoch)` lands
    * every layout under its `epoch=N` directory (overwrite mode — the
    * directory may hold an orphan from a failed earlier attempt at this
    * same epoch number) and returns the primary row count; the single
    * commit row then makes all layouts visible together. Returns that
    * count.
    */
  protected def appendEpoch(write: Long => Long): Long = store.append(write)._2

  /** Frames to persist on compaction, one per layout in [[layoutNames]]
    * order — a family re-distincts here when appends may duplicate rows.
    */
  protected def compactionFrames(): Seq[DataFrame]

  /** Gather-bucket count for one layout (0 = unbucketed): a non-zero value
    * means every epoch slice of that layout is written under
    * `gb=pmod(id, B)` partition directories ([[EpochIndex.writeLayoutSlice]])
    * so candidate gathers can PRUNE DIRECTORIES, not just collapse the join
    * input — see [[EpochIndex.gatherPruned]]. Families persist the value as
    * index meta (the hash-parameter discipline: a layout written bucketed
    * must be read bucketed forever).
    */
  protected def gatherBucketsFor(name: String): Int = 0

  /** Override to commit a DIFFERENT row count than the primary layout's
    * raw row count on compaction — for families whose commit-log unit is
    * not one-row-per-layout-row (WinnowIndex logs DOCUMENTS while its fps
    * layout holds several rows per doc; a raw-row replace commit would
    * corrupt sizeStats-driven prune decisions, maintenance().nDocs, and
    * the autoCompact trigger fraction). Computed BEFORE the commit, over
    * the still-visible old epochs — same ids by construction.
    */
  protected def compactionCommitCount(): Option[Long] = None

  /** Rewrite all committed epochs into one — query results are unchanged by
    * construction (same rows, one directory per layout). The replace commit
    * is the atomic cutover ([[EpochStore.replace]]).
    */
  def compact(): Unit = {
    if (log.committedEpochs().lengthCompare(1) <= 0) return
    val unitCount = compactionCommitCount()
    store.replace(compactionFrames(), n => unitCount.getOrElse(n))
    ()
  }

  /** Epoch retention for index families — the
    * [[graft.sources.VectorStoreCatalog.vacuum]] lever, symmetric across
    * every [[EpochIndex]] family (the machinery was already family-
    * agnostic: [[EpochLog.commitVacuum]] / `resolve`; only the store
    * called it). Folds every committed epoch below the newest `keepLast`
    * into ONE slice per layout and expires the originals, reclaiming
    * their directories — where [[compact]] rewrites the WHOLE index
    * (O(index) per run) and a long-lived ingest stream otherwise
    * accumulates one directory per micro-batch without bound, vacuum
    * touches only the old slices and leaves the newest `keepLast` epochs
    * untouched on disk.
    *
    * Query results are unchanged by construction: the fold holds exactly
    * the union of the expired slices' rows, and readers flip atomically
    * from the old epoch set to {fold} ∪ {kept} on
    * [[EpochLog.commitVacuum]]'s single appended file (a crash before it
    * leaves the fold directory orphaned and invisible — an append's
    * failure mode). The fold's commit-unit count is pure commit-log
    * arithmetic ([[EpochLog.rowsOf]] — append batches hold disjoint
    * documents, so folded counts add), never a layout scan. A previous
    * vacuum's fold slice is the logically OLDEST content despite its high
    * epoch number, so it always re-folds (vacuum composes). Returns the
    * number of epochs folded; no-op 0 when history is already within
    * `keepLast`.
    */
  def vacuum(keepLast: Int): Int =
    store.vacuum(keepLast).fold(0)(_.epochs.size)

  /** Remove documents from the index by id — the right-to-be-forgotten /
    * takedown operator that completes the lifecycle (append, compact,
    * maintenance, DELETE). Implemented as a filtered compaction: every
    * layout is rewritten without the ids into one fresh epoch, the
    * replace commit is the atomic cutover (readers see either all old
    * epochs or the filtered one — never a half-deleted state), and stale
    * epoch directories are cleaned best-effort, exactly [[compact]]'s
    * crash-safety argument. Returns the number of DOCUMENTS actually
    * removed (commit-unit rows, so absent ids cost nothing but the
    * rewrite).
    *
    * Deletion is id-keyed on each layout's `id` column — the shared
    * layout convention of every family ([[EpochIndex.writeLayoutSlice]]
    * gather-buckets by it). The rewrite is O(index), not O(batch): batch
    * deletes should be coalesced (collect a day's takedowns, delete
    * once), the same economics as compaction itself.
    */
  def deleteIds(ids: Set[Long]): Long = {
    if (ids.isEmpty) return 0L
    // evaluate the family's commit-unit count ONCE — for doc-unit
    // families it is a full layout scan, and it is needed both for the
    // "before" figure and for the Some/None unit decision below
    val unitCounted = compactionCommitCount()
    val unitBefore = unitCounted.getOrElse(log.sizeStats()._2)
    val frames = deleteFrames(ids)
    // a delete that empties the index would write a zero-row epoch — and
    // a zero-row DYNAMIC-PARTITION write emits no schema-bearing files,
    // leaving a gather-bucketed layout unreadable. Emptying an index is
    // a drop, not a delete: refuse loudly. (limit-1 probe on the
    // un-observed frame, so compaction metrics are untouched.)
    require(!frames.head.isEmpty,
      "deleteIds would remove every remaining document; drop the index " +
        "directory instead of emptying it")
    // recompute the commit unit over the FILTERED rows for families whose
    // unit is not raw layout rows (WinnowIndex/VideoIndex count docs)
    val (_, unitAfter) = store.replace(frames,
      n => unitCounted.fold(n)(_ => deleteCommitCount(frames)))
    unitBefore - unitAfter
  }

  /** Frames to persist on a delete-rewrite, one per layout in
    * [[layoutNames]] order, WITHOUT the given ids. Default: id-filter
    * every compaction frame (every family's primary layout is id-keyed by
    * the shared convention). A family whose AUXILIARY layout is not
    * id-keyed overrides this to rebuild it from the filtered primary
    * ([[HammingIndex]]: bands are (fp, band, bucket)); a family with no
    * id attribution at all overrides [[deleteIds]] to refuse
    * ([[SegmentIndex]]: an unattributed hash set).
    */
  protected def deleteFrames(ids: Set[Long]): Seq[DataFrame] =
    compactionFrames().map(df => EpochIndex.withoutIds(df, col("id"), ids))

  /** Commit-unit count of the FILTERED frames after a delete-rewrite —
    * consulted only for families that define [[compactionCommitCount]]
    * (doc-unit commits). Default: distinct `id`s of the primary layout
    * frame, which is the unit for every such family today (WinnowIndex /
    * VideoIndex commit documents and keep >= 1 id-keyed primary row per
    * document; old epochs are still visible at call time, so the layout
    * cannot be re-read). A family whose commit unit is NOT distinct
    * primary ids MUST override this together with
    * [[compactionCommitCount]], or its delete-replace commit records a
    * wrong count.
    */
  protected def deleteCommitCount(frames: Seq[DataFrame]): Long =
    frames.head.select(col("id")).distinct().count()

  /** (max bucket rows, mean bucket rows) for [[maintenance]] — (0, 0.0) for
    * set-shaped families with no buckets ([[SegmentIndex]]).
    */
  protected def bucketStats(): (Long, Double) = (0L, 0.0)

  /** Live epoch-directory count — commit-log arithmetic only (no data
    * scan, unlike [[maintenance]]'s bucket-skew leg): the cadence input
    * for per-micro-batch retention decisions.
    */
  def numEpochs: Int = log.sizeStats()._1

  /** The [[maintenance]] compaction verdict alone, from commit-log
    * arithmetic only (no bucket-skew scan): cheap enough to evaluate after
    * EVERY ingest batch, which is what lets the online ingest streams
    * self-compact ([[graft.streaming.Streams.ingestDedupStream]]
    * `autoCompact`) instead of relying on an operator noticing the
    * epoch-proliferation drift.
    */
  def needsCompaction(
      maxEpochs: Int = EpochIndex.DefaultMaxEpochs,
      maxAppendedFraction: Double = EpochIndex.DefaultMaxAppendedFraction)
      : Boolean = {
    val (nEpochs, total, appended) = log.sizeStats()
    nEpochs > maxEpochs ||
      (total > 0 && appended.toDouble / total > maxAppendedFraction)
  }

  /** Maintenance snapshot with an explicit compaction verdict — the
    * [[graft.ml.IvfIndex.maintenance]] discipline for this layout's failure
    * mode: every append adds one small epoch directory, so a month of
    * nightly appends degrades every read into a many-directory scan, and
    * appended content can skew band buckets (boilerplate drift) past what
    * the query-time cap was sized for. Epoch counts and appended fraction
    * are commit-log arithmetic (free); bucket skew is one slim groupBy over
    * stored band keys — cheap enough after every append batch. Skew above
    * the query-time cap means caps are truncating (recall loss inside those
    * buckets), worth knowing even though it is bounded.
    */
  def maintenance(
      maxEpochs: Int = EpochIndex.DefaultMaxEpochs,
      maxAppendedFraction: Double = EpochIndex.DefaultMaxAppendedFraction)
      : EpochIndex.Maintenance = {
    val (nEpochs, total, appended) = log.sizeStats()
    val (maxBucket, meanBucket) = bucketStats()
    val appendedFraction = if (total > 0) appended.toDouble / total else 0.0
    EpochIndex.Maintenance(
      numEpochs = nEpochs,
      nDocs = total,
      appendedFraction = appendedFraction,
      maxBucketRows = maxBucket,
      meanBucketRows = meanBucket,
      bucketSkew = if (meanBucket > 0) maxBucket / meanBucket else 0.0,
      needsCompaction = nEpochs > maxEpochs || appendedFraction > maxAppendedFraction)
  }

  /** Band-bucket skew scan over a (band, bucket) frame — the shared
    * [[bucketStats]] body for banded families.
    */
  protected def bandBucketStats(bands: DataFrame): (Long, Double) = {
    val row = bands.groupBy(col("band"), col("bucket")).agg(count(lit(1)).as("n"))
      .agg(max(col("n")).as("mx"), avg(col("n")).as("mean"))
      .collect().head
    (if (row.isNullAt(0)) 0L else row.getLong(0),
      if (row.isNullAt(1)) 0.0 else row.getDouble(1))
  }
}

private[graft] object EpochIndex {

  /** Compaction triggers: epoch-directory proliferation (every read lists
    * and opens one directory per append) and appended fraction (mirrors
    * [[graft.ml.IvfIndex.DefaultMaxAppendedFraction]] — not a correctness
    * signal here, but the same "most of the index post-dates the build"
    * drift marker).
    */
  val DefaultMaxEpochs: Int = 8
  val DefaultMaxAppendedFraction: Double = 0.5

  /** Maintenance snapshot — see [[EpochIndex.maintenance]]. */
  case class Maintenance(
      numEpochs: Int,
      nDocs: Long,
      appendedFraction: Double,
      maxBucketRows: Long,
      meanBucketRows: Double,
      bucketSkew: Double,
      needsCompaction: Boolean)

  /** (carry..., band, bucket) bit-chunk banding of a 64-bit-max value:
    * nBands equal bit chunks — the pigeonhole geometry shared by the
    * Hamming and hyperplane families ([[Dedup.nearDupPairsHamming64]] /
    * [[Dedup.embeddingNearDupLsh]]).
    */
  def bitChunkBands(
      df: DataFrame, valueCol: String, carryCols: Seq[String],
      nBits: Int, nBands: Int): DataFrame = {
    val width = nBits / nBands
    val mask = if (width == 64) -1L else (1L << width) - 1
    val chunks = array((0 until nBands).map { j =>
      struct(lit(j).as("band"),
        shiftright(col(valueCol), j * width).bitwiseAND(lit(mask)).as("bucket"))
    }: _*)
    val carried = carryCols.map(col)
    df.select(carried :+ explode(chunks).as("bb"): _*)
      .select(carried :+ col("bb.band").as("band")
        :+ col("bb.bucket").as("bucket"): _*)
  }

  /** Prune stored band rows to buckets the batch PROBES, with the broadcast
    * PINNED on the batch side — the probe set is batch-bounded, and a
    * planner misestimate would otherwise shuffle the ENTIRE stored band
    * table. `prune = false` skips it (a batch that dominates the index
    * probes most buckets, making the prune pure overhead). The semi-join
    * drops whole buckets only, so downstream per-bucket cap contents — and
    * therefore results — are unchanged.
    */
  def probePruned(
      stored: DataFrame, batchBands: DataFrame, prune: Boolean): DataFrame =
    if (prune)
      stored.join(
        broadcast(batchBands.select(col("band"), col("bucket")).distinct()),
        Seq("band", "bucket"), "left_semi")
    else stored

  /** Default gate for [[gatherPruned]]: below this corpus size the full
    * layout scans in a second or two anyway and the extra candidate
    * materialization job is pure overhead — the oracle/bench corpora
    * (hundreds of rows) keep their exact current plans.
    */
  val GatherPruneMinCorpus: Long = 200000L

  /** Default id cap for [[gatherPruned]]: 100k longs is a sub-MB driver
    * set; a candidate set past it means the batch resembles the corpus and
    * the full-layout join was the right plan anyway.
    */
  val MaxGatherIds: Int = 100000

  /** Write one epoch slice of a layout, gather-bucketed when `buckets > 0`:
    * rows land under `gb = pmod(id, buckets)` partition directories,
    * id-sorted within each task so row-group min/max stay tight. The write
    * repartitions by `gb` (one batch-bounded shuffle — O(batch), the append
    * discipline) and sorts by (gb, id) so the dynamic-partition writer's
    * required ordering is already satisfied and no second sort runs.
    * `buckets = 0` is today's flat layout, byte-for-byte.
    */
  def writeLayoutSlice(df: DataFrame, dir: String, buckets: Int): Unit =
    if (buckets <= 0) df.write.mode("overwrite").parquet(dir)
    else df.withColumn("gb", pmod(col("id"), lit(buckets)).cast("int"))
      .repartition(col("gb"))
      .sortWithinPartitions(col("gb"), col("id"))
      .write.mode("overwrite").partitionBy("gb").parquet(dir)

  /** Prune the stored VERIFY layout scan to candidate ids (the cold-sweep
    * finding: the banding join's candidate set is batch-bounded, but the
    * verify gather joined it against the FULL stored payload layout —
    * shingle-hash arrays, vector copies — so the indexed path's read
    * volume was layout-bound, the one term that grows with the corpus
    * instead of the batch). Candidate ids come to the driver under
    * `maxIds` (sub-MB — and callers already collect candidate-bounded
    * sets in the ingest sweep) and go back as an `id IN (...)` scan
    * filter: the join's probe input collapses from corpus-rows to
    * candidate-rows, and the predicate reaches the parquet reader where
    * row-group stats can skip (epoch-local candidate clusters — the
    * common online-ingest shape — skip whole epochs; uniformly spread
    * candidates still collapse the join input even when file bytes
    * cannot prune).
    *
    * `gatherBuckets > 0` adds the BYTE-level prune for uniform spread: the
    * layout was written under `gb = pmod(id, B)` directories
    * ([[writeLayoutSlice]]), so the candidate ids' bucket set goes back as
    * a partition-column predicate and unhit directories are never listed,
    * opened, or read. With candidate count C ≪ B (the nightly-batch-vs-
    * standing-corpus shape: B sized so each directory holds ~1 GB of a
    * 100 TB layout), read volume collapses to ≈ C/B of the layout — the
    * term file-level parquet stats cannot reach, because Spark pushes
    * >10-value IN filters to parquet as one global min/max range.
    *
    * Above `maxIds`, or under `minCorpus` rows, the caller's original
    * full-layout plan is returned unchanged. `candidates` should be
    * pinned (checkpointed) by the caller — this helper runs one collect
    * job over it.
    */
  def gatherPruned(
      stored: DataFrame,
      candidates: DataFrame,
      candIdCol: String,
      corpusRows: Long,
      minCorpus: Long = GatherPruneMinCorpus,
      maxIds: Int = MaxGatherIds,
      gatherBuckets: Int = 0): DataFrame = {
    if (corpusRows < minCorpus) return stored
    val rows = candidates.select(col(candIdCol).cast("long").as("id"))
      .distinct().limit(maxIds + 1).collect()
    if (rows.length > maxIds) stored
    else if (rows.isEmpty) stored.filter(lit(false))
    else {
      val ids = rows.map(_.getLong(0)).toSeq
      val byId = stored.filter(col("id").isInCollection(ids))
      if (gatherBuckets <= 0) byId
      else byId.filter(col("gb").isInCollection(
        ids.map(i => Math.floorMod(i, gatherBuckets.toLong).toInt).distinct))
    }
  }

  /** The accepted-sweep half of the online ingest contract shared by all
    * four near-dup ingest families: batch ids matching the INDEXED corpus
    * and within-batch near-dup PAIRS come to the driver (output-bound by
    * near-dup density, capped fail-fast at `maxSweepEdges` — the
    * [[Dedup.SmallGraphEdgeThreshold]] discipline), then
    * [[Dedup.acceptedSweepDropped]] replays the ascending-id keep-vs-
    * ACCEPTED sweep. Returns the dropped id set.
    */
  def sweepDropped(
      corpusMatches: DataFrame,
      batchPairs: DataFrame,
      maxSweepEdges: Int): Set[Long] = {
    // ONE collect job for both sweep inputs: the per-side caps are applied
    // BELOW the union (each side limited independently, so the cap
    // semantics are unchanged row for row), then a null sentinel in the
    // second column tells corpus matches from within-batch pairs. Two
    // separate collects cost two scheduled jobs + two plan compilations
    // per ingest micro-batch — pure fixed overhead on every online stream.
    val rows = corpusMatches.select(col("batch_id").cast("long").as("_a"),
        lit(null).cast("long").as("_b"))
      .distinct().limit(maxSweepEdges + 1)
      .unionAll(batchPairs.select(col("id_a").cast("long").as("_a"),
        col("id_b").cast("long").as("_b")).limit(maxSweepEdges + 1))
      .collect()
    val (matchedRows, pairRows) = rows.partition(_.isNullAt(1))
    require(matchedRows.length <= maxSweepEdges,
      s"ingestBatch: corpus-match set exceeds maxSweepEdges=$maxSweepEdges; " +
        "raise the cap or split the batch")
    require(pairRows.length <= maxSweepEdges,
      s"ingestBatch: within-batch pair set exceeds maxSweepEdges=" +
        s"$maxSweepEdges; raise the cap or split the batch")
    Dedup.acceptedSweepDropped(matchedRows.map(_.getLong(0)).toSet,
      pairRows.map(r => (r.getLong(0), r.getLong(1))))
  }

  /** Drop rows whose id is in `dropped` — one broadcast `InSet`, no join. */
  def withoutIds(df: DataFrame, idExpr: Column, dropped: Set[Long]): DataFrame =
    if (dropped.isEmpty) df
    else df.filter(!Bridge.column(InSet(Bridge.expression(idExpr),
      dropped.map(_.asInstanceOf[Any]))))

  /** Run independent Spark actions concurrently and wait for all —
    * the guide's overlap-independent-jobs pattern for a family's
    * multi-layout slice writes (each reads the same pinned blocks and
    * lands in its own directory; visibility is the later commit row, so
    * concurrency changes nothing observable). Every action finishes before
    * this returns or throws: a caller that saw an error and retried into
    * the same uncommitted epoch must not race a sibling still writing
    * there. The first error (in action order) is rethrown, the others
    * attached to it as suppressed.
    */
  def awaitAll(actions: (() => Unit)*): Unit = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    val errors = actions.map(a => Future(a())).flatMap(f =>
      scala.util.Try(Await.result(f, scala.concurrent.duration.Duration.Inf))
        .failed.toOption)
    errors.headOption.foreach { first =>
      errors.tail.foreach(first.addSuppressed)
      throw first
    }
  }
}
