package graft.sources

import graft.functions.vector
import graft.operators.Knn
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import java.nio.charset.StandardCharsets

/** Per-store configuration (reference service/models.py:23-32,
  * service/optimized_vector_store.py:51-57). `indexType` selects the physical
  * search path: "flat" = exact scan, "ivf" = partition-pruned ANN (batch-built).
  */
case class StoreConfig(
    dimension: Int,
    metric: String = vector.MetricCosine,
    indexType: String = "flat") {
  require(dimension >= 1 && dimension <= 4096, s"dimension out of range [1,4096]: $dimension")
  require(vector.SupportedMetrics.contains(metric), s"unsupported metric: $metric")
}

/** Multi-tenant vector-store catalog over a distributed filesystem.
  *
  * Layout: `{root}/{userId}/{modelId}/` holding `data/` (Parquet) and
  * `_store_config.json`. This mirrors the reference's store keying
  * (api/routes/vectors.py:45-57: one store per (user_id, model_id), path
  * `~/.team_mind_data/vector_stores/{user}/{model}`) but swaps its
  * npz+JSONL single-file persistence (service/optimized_vector_store.py:218-239)
  * for partitioned Parquet append — O(batch) ingest instead of the
  * reference's O(N) full-matrix rewrite per add.
  *
  * Row identity: the reference exposes positional indices
  * (service/optimized_vector_store.py:187-192), which are meaningless under
  * distribution. We mint stable 64-bit ids at ingest: each append batch gets
  * a monotonically-increasing base (persisted in the config) and rows get
  * `base + monotonically_increasing_id()` — unique, stable, append-safe.
  *
  * Store schema: `id: long, vector: array<float>, meta: map<string,string>`.
  */
class VectorStoreCatalog(spark: SparkSession, val root: String) {
  import VectorStoreCatalog._

  private def fs: FileSystem = new Path(root).getFileSystem(
    spark.sparkContext.hadoopConfiguration)

  def storePath(userId: String, modelId: String): String = {
    require(validName(userId), s"invalid user_id: $userId")
    require(validName(modelId), s"invalid model_id: $modelId")
    s"$root/$userId/$modelId"
  }

  private def configPath(userId: String, modelId: String) =
    new Path(s"${storePath(userId, modelId)}/_store_config.json")
  private def dataPath(userId: String, modelId: String) =
    s"${storePath(userId, modelId)}/data"

  // ── epoch-committed layout ─────────────────────────────────────────────
  // Every store writes `data/epoch=N` slices governed by ONE EpochLog at
  // `_epochs/` that ALSO governs the IVF index's `_ivf/data/epoch=N`
  // slices: a store append and its index append become visible through a
  // single commit row (all-or-nothing), so a crash between the two writes
  // can no longer leave store and index permanently out of sync. The meta
  // statistics' `meta_stats/epoch=N` slices ride the same rows. All three
  // layouts commit through one [[graft.operators.EpochStore]]; a missing
  // `_epochs/` reads as an empty log.
  private def epochsPath(userId: String, modelId: String) =
    s"${storePath(userId, modelId)}/_epochs"
  private def storeLog(userId: String, modelId: String): graft.operators.EpochLog =
    graft.operators.EpochLog(spark, epochsPath(userId, modelId))
  private def dataLayout(userId: String, modelId: String,
      targetFileBytes: Long = 0L) =
    graft.operators.EpochStore.Layout(dataPath(userId, modelId),
      graft.operators.EpochStore.Plain(targetFileBytes),
      emptySchema = Some(StoreSchema))
  /** The meta statistics: per epoch, the (key, value, n) counts of that
    * epoch's data slice. Counts sum over the committed slices, so a pair in
    * several slices adds up and a vacuum fold is a plain union.
    */
  private def statsLayout(userId: String, modelId: String) =
    graft.operators.EpochStore.Layout(metaStatsPath(userId, modelId),
      complete = true)
  /** The store's lifecycle: the data layout, the IVF layout (a slice only
    * while an index exists) and the statistics layout (a slice only while
    * armed, [[statsArmed]]). `targetFileBytes` sizes the data layout's
    * vacuum fold.
    */
  private def epochStore(userId: String, modelId: String,
      targetFileBytes: Long = 0L): graft.operators.EpochStore =
    graft.operators.EpochStore(storeLog(userId, modelId), Seq(
      dataLayout(userId, modelId, targetFileBytes),
      graft.ml.IvfIndex.dataLayout(indexPath(userId, modelId)),
      statsLayout(userId, modelId)))
  /** The slices of one commit, by layout: the store rows, their IVF
    * assignment when an index exists, and their counts when the statistics
    * are armed. When more than one layout reads the rows they are pinned
    * once, so the counts come from the rows the commit writes, never from
    * a second run of the caller's lineage.
    */
  private def slicesOf(userId: String, modelId: String,
      index: Option[graft.ml.IvfIndex], rows: DataFrame)
      : (Seq[graft.operators.EpochStore.Layout], Seq[DataFrame]) = {
    val armed = statsArmed(userId, modelId)
    val out = if (index.isDefined || armed) rows.localCheckpoint(true) else rows
    (Seq(dataLayout(userId, modelId) -> out) ++
      index.map(i => graft.ml.IvfIndex.dataLayout(indexPath(userId, modelId)) ->
        i.assign(out, "id", "vector")) ++
      (if (armed) Seq(statsLayout(userId, modelId) -> countsOf(out)) else Nil)).unzip
  }
  /** A store whose `data/` holds flat parquet but whose log is empty was
    * written before the epoch layout; nothing reads that format any more.
    * Checked only where the log is empty, so serving calls pay nothing.
    */
  private def requireEpochLayout(userId: String, modelId: String): Unit = {
    val p = new Path(dataPath(userId, modelId))
    if (fs.exists(p) && fs.listStatus(p).exists(st =>
        st.isFile && st.getPath.getName.endsWith(".parquet")))
      throw new IllegalStateException(
        s"unsupported pre-epoch store $userId/$modelId: $p holds flat " +
          "parquet and no epoch log; rebuild the store")
  }
  /** The index's `centroids.jsonl` as (modification time, length); None
    * when the store has no index. This one `getFileStatus` is the whole
    * existence check, and the stamp keys [[idxLoad]]'s cache.
    */
  private def ivfStamp(userId: String, modelId: String,
      cfg: StoreConfig): Option[(Long, Long)] =
    if (cfg.indexType != "ivf") None
    else try {
      val st = fs.getFileStatus(
        new Path(s"${indexPath(userId, modelId)}/centroids/centroids.jsonl"))
      Some((st.getModificationTime, st.getLen))
    } catch { case _: java.io.FileNotFoundException => None }
  // Loaded-index cache: an IvfIndex instance is (path, centroids, metric,
  // log) — the centroids array and metric are immutable between rebuilds,
  // and the log/data are read lazily per search, so the instance stays
  // valid across appends, deletes, optimizes and vacuums. Loading it costs
  // 2-3 Spark jobs (buildmeta + centroids reads) PER SERVING CALL without
  // the cache. A hit counts only while the centroids file still carries
  // the stamp it was loaded under, so a rebuild by any catalog instance
  // (or a clear or drop) is a miss, never stale centroids.
  private val idxCache = scala.collection.mutable.HashMap
    .empty[(String, String), ((Long, Long), graft.ml.IvfIndex)]
  private def idxLoad(userId: String, modelId: String, cfg: StoreConfig,
      stamp: (Long, Long)): graft.ml.IvfIndex =
    idxCache.synchronized {
      idxCache.get((userId, modelId)).collect { case (`stamp`, idx) => idx }
        .getOrElse {
          val idx = graft.ml.IvfIndex.load(spark, indexPath(userId, modelId),
            cfg.metric, Some(storeLog(userId, modelId)))
          idxCache((userId, modelId)) = (stamp, idx)
          idx
        }
    }
  /** The store's index, or None when it has none. */
  private def ivfIndex(userId: String, modelId: String,
      cfg: StoreConfig): Option[graft.ml.IvfIndex] =
    ivfStamp(userId, modelId, cfg).map(idxLoad(userId, modelId, cfg, _))
  /** `search` on the store's index; `exact` when it has none, `useIndex`
    * is off, or the index fails (reference
    * service/optimized_vector_store.py:142-144 semantics).
    */
  private def viaIndex[T](userId: String, modelId: String, cfg: StoreConfig,
      useIndex: Boolean = true)(search: graft.ml.IvfIndex => T)(exact: => T): T =
    ivfStamp(userId, modelId, cfg).filter(_ => useIndex) match {
      case Some(stamp) =>
        try search(idxLoad(userId, modelId, cfg, stamp))
        catch { case _: Exception => exact }
      case None => exact
    }

  def exists(userId: String, modelId: String): Boolean =
    fs.exists(configPath(userId, modelId))

  def create(userId: String, modelId: String, config: StoreConfig): Unit = {
    require(!exists(userId, modelId), s"store $userId/$modelId already exists")
    writeConfig(configPath(userId, modelId), config, nextIdBase = 0L)
  }

  def config(userId: String, modelId: String): StoreConfig =
    readConfig(fs, configPath(userId, modelId))._1

  /** DDL list (reference api/routes/admin.py:135-169): all (user, model) pairs. */
  def list(): Seq[(String, String)] = {
    val rootPath = new Path(root)
    if (!fs.exists(rootPath)) return Seq.empty
    for {
      user <- fs.listStatus(rootPath).toSeq if user.isDirectory
      model <- fs.listStatus(user.getPath).toSeq if model.isDirectory
      if fs.exists(new Path(model.getPath, "_store_config.json"))
    } yield (user.getPath.getName, model.getPath.getName)
  }

  /** Append vectors with shape validation (reference utils.py:27-41: last dim
    * must equal the store dimension). Validation runs inside the write pass
    * via `raise_error` — no extra scan. Returns the number of rows written.
    */
  def addVectors(userId: String, modelId: String, rows: DataFrame): Long = {
    val cfgPath = configPath(userId, modelId)
    val (cfg, idBase) = readConfig(fs, cfgPath)
    val withVec = rows.schema.fieldNames.toSeq
    require(withVec.contains("vector"), "input must have a 'vector' column")
    val meta =
      if (withVec.contains("meta")) col("meta")
      else typedLit(Map.empty[String, String]).as("meta")
    val validated = rows
      .withColumn("_dim_ok",
        when(size(col("vector")) === cfg.dimension, lit(true))
          .otherwise(raise_error(concat(
            lit(s"vector dimension mismatch: expected ${cfg.dimension}, got "),
            size(col("vector")).cast("string")))))
      .select(
        (lit(idBase) + monotonically_increasing_id()).as("id"),
        col("vector").cast(ArrayType(FloatType)).as("vector"),
        meta.cast(MapType(StringType, StringType)).as("meta"),
        col("_dim_ok"))
      .drop("_dim_ok")
    // ids come from monotonically_increasing_id (nondeterministic): the
    // pin in slicesOf gives every layout identical rows
    val (to, frames) = slicesOf(userId, modelId,
      ivfIndex(userId, modelId, cfg), validated)
    val store = epochStore(userId, modelId)
    store.append { epoch =>
      if (epoch == 0L) requireEpochLayout(userId, modelId)
      // advance the id base BEFORE the writes: burning a stride on a failed
      // append is harmless (ids skip), but advancing after the commit could
      // crash in between and re-mint colliding ids on the retry.
      // monotonically_increasing_id uses the upper 31 bits for the
      // partition, so 2^33 per leaves headroom.
      writeConfig(cfgPath, cfg, idBase + (1L << 40))
      // incremental ANN maintenance: the same batch lands in the index's
      // slice (reference rebuilds the whole graph here —
      // service/optimized_vector_store.py:110-113; ours is O(batch))
      store.writeSlice(frames, epoch, to)
    }._2
  }

  /** The store rows committed at `epoch`: its data slice. */
  private def sliceAt(userId: String, modelId: String, epoch: Long): DataFrame =
    graft.operators.EpochStore.read(spark, dataLayout(userId, modelId),
      Seq(dataLayout(userId, modelId).slice(epoch)))

  /** [[queryAdaptive]] with a TYPED filter ([[TypedMeta]] Python-`==`
    * semantics, the [[queryTyped]] pairing). Single-key live queries
    * plan from the persisted statistics exactly like the string surface:
    * [[metaStatsCountTyped]] runs the typed predicate over the stats
    * rows' stored value strings (the stored-encoding inverse), so the
    * engine's most correct filter form no longer pays a per-query count
    * job when fresh stats exist. Typed conjunctions plan from the
    * min-over-keys bound; pinned reads and stale stats live-count.
    */
  def queryAdaptiveTyped(
      userId: String,
      modelId: String,
      queryVec: Seq[Double],
      k: Int,
      typedFilter: Map[String, Any],
      nProbe: Int = 8,
      preFilterCap: Long = graft.ml.IvfIndex.DefaultPreFilterCap,
      asOf: Option[Long] = None): graft.ml.IvfIndex.AdaptiveSearch = {
    require(typedFilter.nonEmpty,
      "adaptive planning needs a filter; use query() for unfiltered queries")
    queryAdaptiveImpl(userId, modelId, queryVec, k, nProbe, preFilterCap,
      asOf, TypedMeta.typedPredicate(col("meta"), typedFilter),
      metaStatsCountsTyped(userId, modelId, typedFilter.toSeq))
  }

  /** The statistics plan for a shared filter: (exact hint, upper bound).
    * Single-key LIVE filters get the exact fresh-stats count; multi-key
    * live filters get min over the per-key fresh counts — a SOUND upper
    * bound on the conjunction (it matches a subset of every key's
    * matches). Pinned reads and any stale/absent key get neither, and
    * the lookups are never even run for pinned reads (by-name).
    */
  private def statsHints(
      asOf: Option[Long],
      lookups: => Seq[Option[Long]]): (Option[Long], Option[Long]) =
    if (asOf.nonEmpty) (None, None)
    else lookups match {
      case Seq(one) => (one, None)
      case many =>
        (None, if (many.forall(_.isDefined)) Some(many.flatten.min) else None)
    }

  /** The shared single-query adaptive body ([[queryAdaptive]] /
    * [[queryAdaptiveTyped]] differ only in predicate + stats lookup).
    * The exact-scan leg pays NO separate count job unless a fresh hint
    * already knows the number: the match count is observed inside the
    * scoring scan itself (one pass — previously a filtered count job
    * preceded the topK pass on every non-hinted exact scan).
    */
  private def queryAdaptiveImpl(
      userId: String,
      modelId: String,
      queryVec: Seq[Double],
      k: Int,
      nProbe: Int,
      preFilterCap: Long,
      asOf: Option[Long],
      pred: org.apache.spark.sql.Column,
      lookups: => Seq[Option[Long]]): graft.ml.IvfIndex.AdaptiveSearch = {
    val cfg = config(userId, modelId)
    require(queryVec.length == cfg.dimension,
      s"query dimension ${queryVec.length} != store dimension ${cfg.dimension}")
    // argument errors stay loud at the catalog boundary — inside the try
    // below they would silently degrade to exact_scan on indexed stores
    // (and be silently ignored on non-indexed ones)
    require(preFilterCap >= 1, s"preFilterCap must be >= 1, got $preFilterCap")
    asOf.foreach(e => requirePin(userId, modelId, e))
    val (hint, bound) = statsHints(asOf, lookups)
    def exactScan: graft.ml.IvfIndex.AdaptiveSearch = {
      val base = asOf.fold(load(userId, modelId))(e =>
        loadAt(userId, modelId, e))
      hint match {
        case Some(m) =>
          graft.ml.IvfIndex.AdaptiveSearch(graft.ml.IvfIndex.PathExactScan,
            m, Knn.topK(base, queryVec, k, cfg.metric,
              predicate = Some(pred)))
        case None =>
          val obs = org.apache.spark.sql.Observation()
          val filtered = base.filter(pred)
            .observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("m"))
          val hits = Knn.topK(filtered, queryVec, k, cfg.metric)
          val rows = hits.collect() // bounded: <= k rows
          graft.ml.IvfIndex.AdaptiveSearch(graft.ml.IvfIndex.PathExactScan,
            obs.get("m").asInstanceOf[Long],
            spark.createDataFrame(java.util.Arrays.asList(rows: _*),
              hits.schema))
      }
    }
    viaIndex(userId, modelId, cfg)(_.searchAdaptive(queryVec, k, nProbe,
      predicate = Some(pred), asOf = asOf, preFilterCap = preFilterCap,
      matchCount = hint, matchBound = bound))(exactScan)
  }

  /** Scan (reference _load_store, service/optimized_vector_store.py:225-239):
    * only committed epoch slices — an un-committed (crashed) append is
    * structurally invisible. An empty store yields an empty,
    * correctly-typed DataFrame.
    */
  def load(userId: String, modelId: String): DataFrame = {
    require(exists(userId, modelId), s"store $userId/$modelId does not exist")
    val dirs = storeLog(userId, modelId).layoutPaths(dataPath(userId, modelId))
    if (dirs.isEmpty) requireEpochLayout(userId, modelId)
    graft.operators.EpochStore.read(spark, dataLayout(userId, modelId), dirs)
  }

  /** The store's committed epoch history: the pinnable snapshot ids for
    * [[loadAt]], oldest first. Epochs below the newest replace/compaction
    * have been pruned and are not listed.
    */
  def epochs(userId: String, modelId: String): Seq[Long] = {
    require(exists(userId, modelId), s"store $userId/$modelId does not exist")
    val committed = storeLog(userId, modelId).committedEpochs()
    if (committed.isEmpty) requireEpochLayout(userId, modelId)
    committed
  }

  /** The loud pin-validity gate shared by [[loadAt]] and the pinned
    * serving path ([[query]]/[[queryTyped]] `asOf`) — validated BEFORE
    * either path runs, so an expired pin can never silently degrade into
    * the live exact-scan fallback.
    */
  private def requirePin(userId: String, modelId: String, epoch: Long): Unit = {
    val committed = epochs(userId, modelId)
    require(committed.contains(epoch),
      s"epoch $epoch is not in the committed history of $userId/$modelId " +
        s"(live: ${committed.mkString(", ")}) — it never existed or a " +
        "compaction pruned it; pin a listed epoch")
  }

  /** Snapshot-pinned scan — time travel: the store exactly as of commit
    * `epoch`. A training run that pins its epoch at start reads the SAME
    * rows however many appends land mid-run, and the pin is a plain long
    * that reproduces the input set in a rerun (data-lineage discipline;
    * same idea as table-format snapshot reads). Fails loudly when `epoch`
    * is not in the committed history — in particular when a later
    * `optimize` (replace-compaction) pruned it, the table-format
    * "snapshot expired" condition; compaction policy therefore bounds how
    * far back pins stay replayable.
    */
  def loadAt(userId: String, modelId: String, epoch: Long): DataFrame = {
    requirePin(userId, modelId, epoch)
    graft.operators.EpochStore.read(spark, dataLayout(userId, modelId),
      storeLog(userId, modelId).layoutPathsAt(dataPath(userId, modelId), epoch))
  }

  /** Epoch retention — completes the time-travel lifecycle that [[loadAt]]
    * opened: fold every committed epoch below the newest `keepLast` pins
    * into ONE snapshot slice and expire the originals, reclaiming their
    * directories. Daily-append stores otherwise accumulate epoch dirs
    * (and their small files) without bound; a full [[optimize]] reclaims
    * them but kills EVERY pin, where vacuum keeps the newest `keepLast`
    * addressable.
    *
    * Semantics: after `vacuum(u, m, keepLast = N)`, [[epochs]] lists the
    * newest N pre-vacuum pins plus the fold slice (itself a valid pin =
    * the vacuum-time snapshot); [[loadAt]] on any kept pin returns
    * byte-identical rows (the fold holds exactly the union of the expired
    * slices); [[loadAt]] on an expired pin fails loudly (the table-format
    * "snapshot expired" condition). The IVF index's epoch slices ride the
    * same fold — one commit flips both layouts, the [[addVectors]]
    * discipline. Atomicity: the fold slice is invisible until
    * [[graft.operators.EpochLog.commitVacuum]]'s single appended file
    * lands; expired directories are deleted best-effort AFTER it (a crash
    * leaves invisible garbage, never a partial state).
    *
    * Returns (epochs expired, bytes reclaimed). No-op — (0, 0) — when the
    * history is already within `keepLast` pins.
    */
  def vacuum(userId: String, modelId: String, keepLast: Int,
      targetFileBytes: Long = 128L << 20): (Int, Long) = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    require(exists(userId, modelId), s"store $userId/$modelId does not exist")
    // re-slice the data fold to the file-size target: the whole point is
    // consolidating many tiny append slices into few well-sized files. The
    // index side folds ITS OWN slices, never a re-assignment of the store
    // fold: when the index was built AFTER some appends, its build slice
    // already covers those epochs' rows (caught by CatalogOpsSpec's
    // build-after-append sweep leg). The statistics fold is the union of
    // the folded slices, written only when every folded epoch has one
    val store = epochStore(userId, modelId, targetFileBytes)
    store.vacuum(keepLast) match {
      case None => (0, 0L)
      case Some(fold) =>
        // retention is the maintenance pass a LONG-LIVED ingest reaches
        // (streams vacuum via autoVacuumKeepLast; they never call
        // optimize), so the index-drift advisory must fire here too —
        // warn-only: a rebuild mid-stream is the operator's call, not the
        // fold's. Cost: one <= nLists aggregation over the folded layout.
        warnIfDrift(userId, modelId, " after vacuum")
        (fold.epochs.size, fold.bytes - store.sliceBytes(fold.target))
    }
  }

  private def indexPath(userId: String, modelId: String) =
    s"${storePath(userId, modelId)}/_ivf"

  /** Build (or rebuild) the store's ANN index as an explicit batch job and
    * flip the config to indexType="ivf" — the Spark answer to the
    * reference's rebuild-on-every-add HNSW
    * (service/optimized_vector_store.py:110-113).
    *
    * REBUILD semantics (an index already exists): the old index is
    * retired FIRST, centroids before data — `ivfStamp` reads None from the
    * first delete, so a crash anywhere in the rebuild window leaves a
    * store that serves correct (exact-scan) answers until the next
    * build. Without this, an epoch store's stale index epoch slices
    * from pre-rebuild appends would double-serve their rows alongside
    * the fresh build's full slice.
    */
  def buildIndex(userId: String, modelId: String, nLists: Int = 64): Unit =
    rebuildIndex(userId, modelId)((rows, cfg) => graft.ml.IvfIndex.build(
      rows, "id", "vector", indexPath(userId, modelId), nLists = nLists,
      metric = cfg.metric, log = Some(storeLog(userId, modelId))))

  /** The retire-first rebuild both builds share: `build` runs over the
    * committed rows once the old index is gone.
    */
  private def rebuildIndex(userId: String, modelId: String)(
      build: (DataFrame, StoreConfig) => graft.ml.IvfIndex): Unit = {
    val cfgPath = configPath(userId, modelId)
    val (cfg, idBase) = readConfig(fs, cfgPath)
    // UNCONDITIONAL deletes (a no-op on absent paths): gating the data
    // delete on centroids existing would let a prior rebuild's crash —
    // centroids gone, stale data slices still present — skip the retire
    // on the NEXT rebuild and resurrect double-serving slices
    fs.delete(new Path(s"${indexPath(userId, modelId)}/centroids"), true)
    fs.delete(new Path(s"${indexPath(userId, modelId)}/data"), true)
    // the index data lands under the newest committed store epoch (it
    // covers exactly the committed rows the build read); the index only
    // becomes load-bearing when the config flips below
    val built = build(load(userId, modelId), cfg)
    val ivfCfg = cfg.copy(indexType = "ivf")
    writeConfig(cfgPath, ivfCfg, idBase)
    // seed the cache with the just-built instance: the first serving call
    // after a build would otherwise immediately re-read what build wrote
    ivfStamp(userId, modelId, ivfCfg).foreach(stamp =>
      idxCache.synchronized { idxCache((userId, modelId)) = (stamp, built) })
  }

  /** [[buildIndex]] around an EXPLICIT coarse quantizer instead of k-means
    * ([[graft.ml.IvfIndex.buildWithCentroids]] at the serving API) — the
    * external/pretrained-quantizer path real IVF deployments use (FAISS
    * supports constructing an IVF index around a supplied quantizer —
    * public knowledge), and the deterministic variant that makes
    * index-geometry-dependent serving behavior (probe tuning, drift
    * gating) oracle-checkable end to end. Same retire-first discipline
    * as [[buildIndex]].
    */
  def buildIndexWithCentroids(
      userId: String, modelId: String,
      centroids: Array[Array[Double]]): Unit = {
    val dim = config(userId, modelId).dimension
    require(centroids.nonEmpty && centroids.forall(_.length == dim),
      s"centroids must be non-empty $dim-dim vectors")
    rebuildIndex(userId, modelId)((rows, cfg) =>
      graft.ml.IvfIndex.buildWithCentroids(rows, "id", "vector",
        indexPath(userId, modelId), centroids, metric = cfg.metric,
        log = Some(storeLog(userId, modelId))))
  }

  /** The store's index-drift verdict ([[graft.ml.IvfIndex.maintenance]]
    * surfaced at the serving API): list-size imbalance and
    * appended-fraction signals with an explicit `needsRebuild`, `None`
    * for stores with no (loadable) IVF index. One <= nLists aggregation —
    * cheap enough for an operator loop to poll after append bursts.
    * [[optimize]] checks this automatically and can repair in-line.
    */
  def indexMaintenance(
      userId: String,
      modelId: String,
      maxImbalance: Double = graft.ml.IvfIndex.DefaultMaxImbalance,
      maxAppendedFraction: Double = graft.ml.IvfIndex.DefaultMaxAppendedFraction)
      : Option[graft.ml.IvfIndex.Maintenance] = {
    // an existing-but-unreadable index (torn centroids write, corrupt
    // parquet) reads as None — exactly the serving paths' degrade-to-
    // exact discipline: an advisory consulted AFTER a vacuum/optimize
    // commit must never fail the maintenance operation itself
    // ([[healthCheck]] is the surface that reports unreadable indexes)
    viaIndex(userId, modelId, config(userId, modelId))(idx =>
      Option(idx.maintenance(maxImbalance, maxAppendedFraction)))(None)
  }

  /** [[graft.ml.IvfIndex.tuneNProbe]] served from a tenant store: the
    * recall-vs-depth sweep (derived from ONE exact pass) and the smallest
    * probe depth meeting `targetRecall`, over a caller-supplied sample
    * query frame `(query_id, query_vec)`. None when the store has no
    * loadable index — there is no probe depth to tune (exact serving has
    * recall 1.0 by definition).
    */
  def tuneProbe(
      userId: String,
      modelId: String,
      queries: DataFrame,
      k: Int,
      targetRecall: Double,
      maxProbe: Int = 0): Option[graft.ml.IvfIndex.NProbeTuning] = {
    val cfg = config(userId, modelId)
    scala.util.Try(ivfIndex(userId, modelId, cfg)).toOption.flatten
      .map(_.tuneNProbe(queries, k, targetRecall, maxProbe))
  }

  /** [[graft.ml.IvfIndex.assignmentDrift]] served from a tenant store: the
    * PSI distribution-shift gate an ingest pipeline runs on a candidate
    * batch (a frame with a `vector` column) BEFORE [[addVectors]] lands
    * it. None when the store has no loadable index — without a quantizer
    * there is no assignment distribution to drift from.
    */
  def ingestDrift(
      userId: String,
      modelId: String,
      batch: DataFrame,
      maxPsi: Double = graft.ml.IvfIndex.DefaultMaxPsi)
      : Option[graft.ml.IvfIndex.AssignmentDrift] = {
    val cfg = config(userId, modelId)
    scala.util.Try(ivfIndex(userId, modelId, cfg)).toOption.flatten
      .map(_.assignmentDrift(
        batch.select(monotonically_increasing_id().as("id"),
          col("vector")),
        maxPsi = maxPsi))
  }

  /** The one copy of the drift-advisory log line ([[optimize]] and
    * [[vacuum]] both consult it). Returns the verdict so `optimize` can
    * chain its auto-rebuild.
    */
  private def warnIfDrift(userId: String, modelId: String,
      context: String): Option[graft.ml.IvfIndex.Maintenance] = {
    val m = indexMaintenance(userId, modelId).filter(_.needsRebuild)
    m.foreach { v =>
      VectorStoreCatalog.slog.warn(
        s"store $userId/$modelId index drift past thresholds$context: " +
          s"imbalance ${f"${v.imbalance}%.2f"} (hottest list " +
          s"${v.maxListSize} vs mean ${f"${v.meanListSize}%.1f"}), " +
          s"appended fraction ${f"${v.appendedFraction}%.2f"} over " +
          s"${v.nVectors} rows — probe cost and recall degrade until a " +
          s"rebuild at ~${v.suggestedNLists} lists: run buildIndex() or " +
          "optimize(autoRebuildIndex = true)")
    }
    m
  }

  /** kNN query against one store under its configured metric
    * (reference MLXVectorStore.query, service/optimized_vector_store.py:116-145).
    *
    * Index selection mirrors the reference (:120-145): when the store is
    * configured with indexType="ivf" and `useIndex` is true (the reference's
    * `use_hnsw` flag), the ANN path runs — with over-fetch under filters and
    * exact fallback on underfill — and ANY index failure falls back to the
    * exact scan rather than erroring.
    *
    * `asOf = Some(epoch)` pins the query at a committed store snapshot
    * (the [[loadAt]] pin through the SERVING path — "which neighbors
    * would we have served as of snapshot N"): both the ANN scan and the
    * exact path read only epochs at or below the pin (the shared commit
    * log makes store and index pins the same epoch numbers). Expired
    * pins fail loudly BEFORE any path runs and never reach the fallback;
    * an index failure under a still-valid pin (e.g. a pin predating the
    * index build) falls back to the PINNED exact scan, never the live
    * one — the pin contract holds through the fallback (q174 locks
    * exactly this healing).
    */
  def query(
      userId: String,
      modelId: String,
      queryVec: Seq[Double],
      k: Int,
      metadataFilter: Map[String, String] = Map.empty,
      useIndex: Boolean = true,
      nProbe: Int = 8,
      asOf: Option[Long] = None): DataFrame = {
    val cfg = config(userId, modelId)
    require(queryVec.length == cfg.dimension,
      s"query dimension ${queryVec.length} != store dimension ${cfg.dimension}")
    asOf.foreach(e => requirePin(userId, modelId, e))
    def exact = Knn.topK(
      asOf.fold(load(userId, modelId))(e => loadAt(userId, modelId, e)),
      queryVec, k, cfg.metric, metadataFilter = metadataFilter)
    viaIndex(userId, modelId, cfg, useIndex)(
      _.search(queryVec, k, nProbe, metadataFilter, asOf = asOf))(exact)
  }

  /** kNN query with a TYPED metadata filter — reference Python-`==`
    * semantics over int/float/bool/string values (tests/demo.py:219-238:
    * `{"priority": 1}` matches int 1, never the string "1"). Same index
    * selection and fallback rules as [[query]]. Store rows must carry
    * [[TypedMeta]]-encoded meta values (see TypedMeta.metaColumn).
    */
  def queryTyped(
      userId: String,
      modelId: String,
      queryVec: Seq[Double],
      k: Int,
      typedFilter: Map[String, Any],
      useIndex: Boolean = true,
      nProbe: Int = 8,
      asOf: Option[Long] = None): DataFrame = {
    val cfg = config(userId, modelId)
    require(queryVec.length == cfg.dimension,
      s"query dimension ${queryVec.length} != store dimension ${cfg.dimension}")
    asOf.foreach(e => requirePin(userId, modelId, e))
    val pred =
      if (typedFilter.isEmpty) None
      else Some(TypedMeta.typedPredicate(col("meta"), typedFilter))
    def exact = Knn.topK(
      asOf.fold(load(userId, modelId))(e => loadAt(userId, modelId, e)),
      queryVec, k, cfg.metric, predicate = pred)
    viaIndex(userId, modelId, cfg, useIndex)(
      _.search(queryVec, k, nProbe, predicate = pred, asOf = asOf))(exact)
  }

  /** [[query]] with cardinality-adaptive filter planning (the
    * [[graft.ml.IvfIndex.searchAdaptive]] trade surfaced at the serving
    * API): a filtered query against an IVF store runs one cheap match
    * count, then pre-filters + exact-scans when the filter is selective
    * (exact results, no over-fetch recall loss) or takes the probed
    * post-filter path when it is broad. Non-IVF stores are always the
    * exact scan — reported as `exact_scan` with the same match count so
    * callers see one result shape.
    */
  def queryAdaptive(
      userId: String,
      modelId: String,
      queryVec: Seq[Double],
      k: Int,
      metadataFilter: Map[String, String],
      nProbe: Int = 8,
      preFilterCap: Long = graft.ml.IvfIndex.DefaultPreFilterCap,
      asOf: Option[Long] = None): graft.ml.IvfIndex.AdaptiveSearch = {
    require(metadataFilter.nonEmpty,
      "adaptive planning needs a filter; use query() for unfiltered queries")
    queryAdaptiveImpl(userId, modelId, queryVec, k, nProbe, preFilterCap,
      asOf, Knn.metadataPredicate(col("meta"), metadataFilter),
      metaStatsCounts(userId, modelId, metadataFilter.toSeq))
  }

  def count(userId: String, modelId: String): Long = load(userId, modelId).count()

  /** Cross-store stats (reference api/routes/vectors.py:121-141).
    *
    * Epoch-committed stores answer from PURE COMMIT-LOG ARITHMETIC
    * ([[graft.operators.EpochLog.sizeStats]] — every add/replace row
    * carries its observed row count, folds carry their folded sum), so
    * the admin stats surface costs one KB-sized log read per store
    * instead of a full data scan per tenant — at many-tenant / 100 TB
    * scale the difference between an instant listing and a cluster-wide
    * scan storm. q161 oracle-locks the numbers against generative
    * counts; [[healthCheck]] remains the scan-based cross-check that
    * would surface a lying commit row.
    */
  def stats(): DataFrame = {
    import spark.implicits._
    list()
      .map { case (u, m) => (u, m, storeLog(u, m).sizeStats()._2) }
      .toDF("user_id", "model_id", "vector_count")
  }

  /** Delete-by-predicate — declared but never shipped in the reference
    * (service/models.py:97-105); trivially expressible as a filtered rewrite.
    */
  def deleteVectors(userId: String, modelId: String, predicate: org.apache.spark.sql.Column): Long = {
    // single pass: the deleted-row count is observed below the filter inside
    // the rewrite itself (the CollectMetrics barrier sees every scanned row),
    // replacing the previous before-count + kept-count + write triple scan.
    // Deleted = NOT kept: filter(!predicate) also drops NULL-predicate rows
    // (e.g. a missing meta key), so the count must mirror that exactly —
    // counting `when(predicate, 1)` alone would deny NULL-row deletions.
    val obs = org.apache.spark.sql.Observation()
    val kept = load(userId, modelId)
      .observe(obs,
        org.apache.spark.sql.functions.count(
          when(coalesce(predicate, lit(true)), lit(1))).as("matched"))
      .filter(!predicate)
    // the kept set becomes a REPLACE epoch in the store layout AND (when
    // they exist) the index and statistics layouts, flipped together by
    // one commit — neither can go stale against a delete. slicesOf pins
    // the kept set when more than one layout reads it, so the scan (and
    // the caller's predicate) runs once.
    val (to, frames) = slicesOf(userId, modelId,
      ivfIndex(userId, modelId, config(userId, modelId)), kept)
    epochStore(userId, modelId).replace(frames, to = to)
    obs.get("matched").asInstanceOf[Long]
  }

  /** Batch kNN against one store with the reference's serving caps
    * (api/routes/batch_v1.py:63-64: <=1000 queries, k <= 100). The reference
    * API calls `store.batch_query`, which was never shipped in the store
    * class (SURVEY.md §2.11 drift) — implemented for real here via the
    * bounded top-k aggregation path.
    */
  def batchQuery(
      userId: String,
      modelId: String,
      queryVecs: Seq[Seq[Double]],
      k: Int,
      useIndex: Boolean = true,
      nProbe: Int = 8,
      asOf: Option[Long] = None): DataFrame = {
    val cfg = config(userId, modelId)
    validateVecDims(cfg, queryVecs)
    batchQueryFrameWith(userId, modelId, cfg, queriesFromVecs(queryVecs),
      k, useIndex, nProbe, asOf, None,
      driverIds = Some(idsFromVecs(queryVecs)))
  }

  /** [[batchQuery]] over a caller-built QUERY FRAME — (`query_id` LONG,
    * unique per row; `query_vec`; any rider columns) — with an optional
    * per-query heterogeneous `pairPredicate` over the joined
    * (query columns × store columns) row: the hard-negative-mining shape
    * ("each query's top-k within its OWN constraint") served from a
    * MANAGED store, with everything the catalog batch path gives the
    * shared-filter shape — index selection, per-query underfill healing
    * whose exact rescan honors each query's own pair constraint, pinned
    * time travel, and the exact-scan failure fallback. Rider names must
    * not collide with store columns (id, vector, meta, list_id — loud at
    * the call); vector dimensions are the caller's contract on this
    * surface (the Seq form validates them driver-side).
    */
  def batchQueryFrame(
      userId: String,
      modelId: String,
      queries: DataFrame,
      k: Int,
      useIndex: Boolean = true,
      nProbe: Int = 8,
      asOf: Option[Long] = None,
      pairPredicate: Option[org.apache.spark.sql.Column] = None): DataFrame =
    batchQueryFrameWith(userId, modelId, config(userId, modelId), queries,
      k, useIndex, nProbe, asOf, pairPredicate)

  private def batchQueryFrameWith(
      userId: String,
      modelId: String,
      cfg: StoreConfig,
      queries0: DataFrame,
      k: Int,
      useIndex: Boolean,
      nProbe: Int,
      asOf: Option[Long],
      pairPredicate: Option[org.apache.spark.sql.Column],
      driverIds: Option[Seq[Long]] = None): DataFrame = {
    require(k >= 1 && k <= VectorStoreCatalog.MaxBatchK,
      s"k=$k outside [1, ${VectorStoreCatalog.MaxBatchK}]")
    // column collisions must be LOUD — validated before the index try
    // below, whose broad fallback would otherwise swallow the require
    // and silently degrade every call to the exact scan
    requireNoStoreClash(queries0)
    // the [[query]] pin contract: validated FIRST, never a live fallback
    asOf.foreach(e => requirePin(userId, modelId, e))
    // pin the frame ONCE: it is evaluated by the id collect, the probed
    // explode, and the heal rescan — a nondeterministic caller lineage
    // (sampled source, changing table) would otherwise desynchronize
    // the heal's id universe from the rows actually joined. A driver-built
    // Seq frame (ids known, LocalRelation lineage) skips both jobs — see
    // [[queriesFromVecs]].
    val queries =
      if (driverIds.isDefined) queries0 else queries0.localCheckpoint(true)
    val ids = driverIds.getOrElse(boundedQueryIds(queries))
    def store = asOf.fold(load(userId, modelId))(e => loadAt(userId, modelId, e))
    def exact = Knn.batchTopK(queries, store, k, cfg.metric,
      pairPredicate = pairPredicate)
    // same index selection and failure fallback as the single-query path:
    // the probed result is pinned (bounded: <= M*k rows), so lazy-execution
    // failures land inside the try. Underfill is healed PER QUERY: only the
    // query ids that came back with fewer than k hits are rescanned exactly
    // and unioned back — the satisfied queries keep their probed work
    // (rescanning all M for one unlucky query is ~2x the work at M large).
    // The rescan carries the SAME pairPredicate, so healed rows still
    // satisfy the underfilled query's own constraint.
    viaIndex(userId, modelId, cfg, useIndex) { idx =>
      val res = idx.searchBatch(queries, k, nProbe, asOf = asOf,
          pairPredicate = pairPredicate)
        .localCheckpoint(true)
      healUnderfill(res, queries, ids, k)(underQ =>
        Knn.batchTopK(underQ, store, k, cfg.metric,
          pairPredicate = pairPredicate))
    }(exact)
  }

  /** The driver-built query frame every Seq-based batch surface feeds the
    * frame form: ids are the vector positions (0..M-1). Because the frame
    * is a LocalRelation whose id universe is known right here, the batch
    * impls skip both the defensive `localCheckpoint` pin (a local literal
    * relation is deterministic and free to re-evaluate) and the
    * [[boundedQueryIds]] collect — two Spark jobs of pure fixed cost per
    * batch call on the serving path. The ids travel alongside the frame.
    */
  private def queriesFromVecs(queryVecs: Seq[Seq[Double]]): DataFrame = {
    require(queryVecs.nonEmpty && queryVecs.size <= VectorStoreCatalog.MaxBatchQueries,
      s"batch size ${queryVecs.size} outside [1, ${VectorStoreCatalog.MaxBatchQueries}]")
    import spark.implicits._
    queryVecs.zipWithIndex
      .map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "query_vec")
  }

  /** Id universe of a [[queriesFromVecs]] frame, known driver-side. */
  private def idsFromVecs(queryVecs: Seq[Seq[Double]]): Seq[Long] =
    queryVecs.indices.map(_.toLong)

  /** Rider names must not shadow the store side: a collision would
    * surface as an ambiguous-column AnalysisException (or a corrupted
    * join key) deep inside the batch plan — loud here, at the surface,
    * where the caller can rename.
    */
  private def requireNoStoreClash(queries: DataFrame): Unit = {
    val storeSide = Set("id", "vector", "meta", "list_id")
    val clash = queries.columns.filter(storeSide)
    require(clash.isEmpty,
      s"query frame columns ${clash.mkString(", ")} collide with store " +
        "columns (id, vector, meta, list_id); rename them")
  }

  /** Collect and validate the query-id universe of a batch frame — ONE
    * bounded collect shared by the serving cap check, the uniqueness
    * check (duplicate ids would silently merge two queries' top-k), and
    * [[healUnderfill]]'s underfill scan. The +1 limit keeps an
    * accidentally-unbounded frame from ever materializing on the driver.
    */
  private def boundedQueryIds(queries: DataFrame): Seq[Long] = {
    val cap = VectorStoreCatalog.MaxBatchQueries
    val rows = queries.select(col("query_id").cast("long"))
      .limit(cap + 1).collect()
    require(rows.forall(!_.isNullAt(0)),
      "batch query frame has NULL query_id values")
    val ids = rows.map(_.getLong(0)).toSeq
    require(ids.nonEmpty && ids.size <= cap,
      s"batch query frame outside [1, $cap] rows")
    require(ids.distinct.size == ids.size,
      "batch query frame has duplicate query_id values — each would merge " +
        "into one top-k; make query_id unique")
    ids
  }

  /** Per-query underfill healing for the batch ANN surfaces: any of the
    * frame's query `ids` with fewer than `k` probed hits is handed to
    * `rescan` (an EXACT batch over only those queries' rows) and its
    * probed rows are replaced by the exact ones; satisfied queries keep
    * their probed rows untouched. Returns `probed` as-is when nothing
    * underfilled (the common case pays one <= M-row collect and nothing
    * else). The healed union is pinned eagerly like every batch result.
    * Small underfill sets restrict via `isin`; past
    * [[VectorStoreCatalog.HealSemiJoinThreshold]] ids both the keep side
    * and the rescan restrict through a broadcast semi/anti join against
    * an ids frame instead — one giant `In` predicate is not the
    * scale-proof plan shape (behavior identical either way).
    */
  private def healUnderfill(
      probed: DataFrame,
      queries: DataFrame,
      ids: Seq[Long],
      k: Int)(rescan: DataFrame => DataFrame): DataFrame = {
    val hitCounts = probed.groupBy(col("query_id"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val under = ids.filter(id => hitCounts.getOrElse(id, 0L) < k)
    if (under.isEmpty) probed
    else if (under.size <= VectorStoreCatalog.HealSemiJoinThreshold)
      probed.filter(!col("query_id").isin(under: _*))
        .unionByName(rescan(queries.filter(col("query_id").isin(under: _*))))
        .localCheckpoint(true)
    else {
      import spark.implicits._
      val underDf = under.toDF("query_id")
      probed.join(broadcast(underDf), Seq("query_id"), "left_anti")
        .unionByName(rescan(
          queries.join(broadcast(underDf), Seq("query_id"), "left_semi")))
        .localCheckpoint(true)
    }
  }

  /** [[batchQuery]] with [[queryAdaptive]]'s cardinality-adaptive filter
    * planning, amortized across the batch: the metadata filter is SHARED
    * by the M queries (the serving shape where adaptivity pays M times —
    * "these K neighbors, but only rows tagged X", asked for a whole query
    * batch), so ONE statistics lookup / conjunction bound / count picks
    * the path for all of them:
    *
    *  - `prefilter_exact` (matches ≤ `preFilterCap`): one filtered store
    *    pass feeds [[graft.operators.Knn.batchTopK]] — EXACT per-query
    *    top-k, and the reported `matches` is observed inside that same
    *    pass (no count job at all when fresh statistics or a conjunction
    *    bound made the decision).
    *  - `ivf_postfilter` (matches > cap): [[graft.ml.IvfIndex.searchBatch]]
    *    with the filter pushed inside the probed lists; any query that
    *    comes back with fewer than k hits is rescanned EXACTLY against
    *    the filtered store and only its rows replaced — the satisfied
    *    queries keep their probed results ([[healUnderfill]], the same
    *    per-query discipline as [[batchQuery]]).
    *  - non-IVF stores: `exact_scan`, same shape.
    *
    * Returns one [[graft.ml.IvfIndex.AdaptiveSearch]] whose `hits` carry
    * (query_id, id, similarity_score, distance, rank) for every query.
    */
  def batchQueryAdaptive(
      userId: String,
      modelId: String,
      queryVecs: Seq[Seq[Double]],
      k: Int,
      metadataFilter: Map[String, String],
      nProbe: Int = 8,
      preFilterCap: Long = graft.ml.IvfIndex.DefaultPreFilterCap,
      asOf: Option[Long] = None): graft.ml.IvfIndex.AdaptiveSearch = {
    require(metadataFilter.nonEmpty,
      "adaptive planning needs a filter; use batchQuery() for unfiltered batches")
    val cfg = config(userId, modelId)
    validateVecDims(cfg, queryVecs)
    batchQueryAdaptiveFrameWith(userId, modelId, cfg,
      queriesFromVecs(queryVecs), k, metadataFilter, nProbe, preFilterCap,
      asOf, None, driverIds = Some(idsFromVecs(queryVecs)))
  }

  /** [[batchQueryAdaptive]] over a caller-built query frame (the
    * [[batchQueryFrame]] contract: unique `query_id`, `query_vec`, rider
    * columns) with an optional per-query `pairPredicate` — the ADAPTIVE
    * serving form of the mining shape. The SHARED `metadataFilter` plans
    * the batch exactly as before (one statistics lookup / conjunction
    * bound / count for all M queries); the pair predicate composes on
    * top of whichever path is chosen — it is heterogeneous by
    * construction, so it never participates in the cardinality decision,
    * and [[healUnderfill]]'s exact rescan carries it so healed rows
    * still satisfy the underfilled query's OWN constraint.
    *
    * `metadataFilter` may be EMPTY when `pairPredicate` is given (the
    * pure mining shape): planning then uses the store's committed row
    * count — commit-log arithmetic on epoch stores, zero count jobs —
    * as the exact cardinality, and `prefilter_exact` degrades to the
    * exact batch over the whole (bounded) store.
    */
  def batchQueryAdaptiveFrame(
      userId: String,
      modelId: String,
      queries: DataFrame,
      k: Int,
      metadataFilter: Map[String, String] = Map.empty,
      nProbe: Int = 8,
      preFilterCap: Long = graft.ml.IvfIndex.DefaultPreFilterCap,
      asOf: Option[Long] = None,
      pairPredicate: Option[org.apache.spark.sql.Column] = None)
      : graft.ml.IvfIndex.AdaptiveSearch =
    batchQueryAdaptiveFrameWith(userId, modelId, config(userId, modelId),
      queries, k, metadataFilter, nProbe, preFilterCap, asOf, pairPredicate)

  private def batchQueryAdaptiveFrameWith(
      userId: String,
      modelId: String,
      cfg: StoreConfig,
      queries: DataFrame,
      k: Int,
      metadataFilter: Map[String, String],
      nProbe: Int,
      preFilterCap: Long,
      asOf: Option[Long],
      pairPredicate: Option[org.apache.spark.sql.Column],
      driverIds: Option[Seq[Long]] = None)
      : graft.ml.IvfIndex.AdaptiveSearch = {
    require(metadataFilter.nonEmpty || pairPredicate.nonEmpty,
      "adaptive planning needs a filter (shared or per-query); use " +
        "batchQueryFrame() for unfiltered batches")
    val pred =
      if (metadataFilter.isEmpty) lit(true)
      else Knn.metadataPredicate(col("meta"), metadataFilter)
    batchAdaptiveImpl(userId, modelId, cfg, queries, k, nProbe, preFilterCap,
      asOf, pred,
      if (metadataFilter.isEmpty)
        (storeRowCountHint(userId, modelId, asOf), None)
      else statsHints(asOf,
        metaStatsCounts(userId, modelId, metadataFilter.toSeq)),
      (idx, qs) => idx.searchBatch(qs, k, nProbe, asOf = asOf,
        metadataFilter = metadataFilter, pairPredicate = pairPredicate),
      pairPredicate, driverIds)
  }

  /** The store's committed row count as an EXACT planning hint for
    * unfiltered (pair-predicate-only) adaptive batches: pure commit-log
    * arithmetic on epoch stores — live for the current state, [[EpochLog
    * .rowsOf]] over the pinned epoch set for time travel — so the plan
    * decision costs no count job.
    */
  private def storeRowCountHint(
      userId: String, modelId: String, asOf: Option[Long]): Option[Long] = {
    val log = storeLog(userId, modelId)
    Some(asOf.fold(log.sizeStats()._2)(e => log.rowsOf(log.epochsAt(e).toSet)))
  }

  private def validateVecDims(
      cfg: StoreConfig, queryVecs: Seq[Seq[Double]]): Unit =
    queryVecs.foreach(q => require(q.length == cfg.dimension,
      s"query dimension ${q.length} != store dimension ${cfg.dimension}"))

  /** The shared batch adaptive body (the string/typed × Seq/frame
    * surfaces differ only in predicate, planning hints, and which
    * `searchBatch` argument carries the shared filter). `hints` is the
    * pre-computed (exact hint, upper bound) pair; `pairPredicate` rides
    * every path (probed, exact, heal rescan) without ever planning.
    */
  private def batchAdaptiveImpl(
      userId: String,
      modelId: String,
      cfg: StoreConfig,
      queries0: DataFrame,
      k: Int,
      nProbe: Int,
      preFilterCap: Long,
      asOf: Option[Long],
      pred: org.apache.spark.sql.Column,
      hints: => (Option[Long], Option[Long]),
      probedBatch: (graft.ml.IvfIndex, DataFrame) => DataFrame,
      pairPredicate: Option[org.apache.spark.sql.Column] = None,
      driverIds: Option[Seq[Long]] = None)
      : graft.ml.IvfIndex.AdaptiveSearch = {
    require(k >= 1 && k <= VectorStoreCatalog.MaxBatchK,
      s"k=$k outside [1, ${VectorStoreCatalog.MaxBatchK}]")
    require(preFilterCap >= 1, s"preFilterCap must be >= 1, got $preFilterCap")
    // loud BEFORE the probed try below, whose exact-scan fallback would
    // otherwise swallow the collision require silently
    requireNoStoreClash(queries0)
    asOf.foreach(e => requirePin(userId, modelId, e))
    // the batchQueryFrameWith pin rationale: one evaluation of the
    // caller's lineage serves the id collect, the probed path, and heal.
    // A driver-built Seq frame (ids known, LocalRelation lineage) skips
    // both jobs — see [[queriesFromVecs]].
    val queries =
      if (driverIds.isDefined) queries0 else queries0.localCheckpoint(true)
    val ids = driverIds.getOrElse(boundedQueryIds(queries))
    def base = asOf.fold(load(userId, modelId))(e => loadAt(userId, modelId, e))
    // [[queryAdaptive]]'s statistics discipline, paid ONCE for M queries
    val (hint, bound) = hints
    // exact batch over the filtered store, match count observed inside the
    // same pass (bounded output: <= M*k rows, pinned eagerly).
    // `viaBound`: the plan was chosen by a caller/stats upper bound, so an
    // observed count past the cap means the bound was unsound — flagged
    // programmatically, the [[graft.ml.IvfIndex.searchAdaptive]] contract.
    def filteredBatch(path: String, viaBound: Boolean = false)
        : graft.ml.IvfIndex.AdaptiveSearch = {
      val obs = org.apache.spark.sql.Observation()
      val filtered = base.filter(pred)
        .observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("m"))
      val hits = Knn.batchTopK(queries, filtered, k, cfg.metric,
          pairPredicate = pairPredicate)
        .localCheckpoint(true)
      val m = obs.get("m").asInstanceOf[Long]
      if (viaBound && m > preFilterCap)
        graft.ml.IvfIndex.slog.warn(s"batchQueryAdaptive: bound <= cap " +
          s"$preFilterCap but the pass observed $m matches — the bound was " +
          "NOT a sound upper bound; results are exact, the prefilter cap " +
          "contract was not honored")
      graft.ml.IvfIndex.AdaptiveSearch(path, m, hits,
        boundViolated = viaBound && m > preFilterCap)
    }
    val stamp = ivfStamp(userId, modelId, cfg)
      .getOrElse(return filteredBatch(graft.ml.IvfIndex.PathExactScan))
    // decision: exact hint > conjunction bound > live count — the bound
    // only ever proves the CHEAP side (prefilter fits); past the cap it
    // proves nothing and the live count decides
    val matches: Long = hint match {
      case Some(m) => m
      case None if bound.exists(_ <= preFilterCap) =>
        return filteredBatch(graft.ml.IvfIndex.PathPrefilterExact,
          viaBound = true)
      case None => base.filter(pred).count()
    }
    if (matches <= preFilterCap) filteredBatch(graft.ml.IvfIndex.PathPrefilterExact)
    else {
      // probed path: filter inside the probed lists. Underfill is healed
      // PER QUERY ([[healUnderfill]]): only the underfilled query ids are
      // rescanned exactly against the FILTERED store — under their own
      // pair predicate when one rides the batch — and unioned back; the
      // M-1 satisfied queries keep their probed work, and the batch's
      // path label stays ivf_postfilter (that is the plan that was
      // chosen; healing is a per-query repair, not a re-plan).
      try {
        val res = probedBatch(idxLoad(userId, modelId, cfg, stamp), queries)
          .localCheckpoint(true)
        val healed = healUnderfill(res, queries, ids, k)(underQ =>
          Knn.batchTopK(underQ, base.filter(pred), k, cfg.metric,
            pairPredicate = pairPredicate))
        graft.ml.IvfIndex.AdaptiveSearch(
          graft.ml.IvfIndex.PathIvfPostfilter, matches, healed)
      } catch {
        case _: Exception => filteredBatch(graft.ml.IvfIndex.PathExactScan)
      }
    }
  }

  /** [[batchQueryAdaptive]] with a TYPED shared filter ([[TypedMeta]]
    * Python-`==` semantics, the [[queryAdaptiveTyped]] pairing on the
    * M-query surface): one [[metaStatsCountTyped]] lookup / typed
    * conjunction bound / count plans the whole batch, with the same
    * three-path contract and underfill discipline.
    */
  def batchQueryAdaptiveTyped(
      userId: String,
      modelId: String,
      queryVecs: Seq[Seq[Double]],
      k: Int,
      typedFilter: Map[String, Any],
      nProbe: Int = 8,
      preFilterCap: Long = graft.ml.IvfIndex.DefaultPreFilterCap,
      asOf: Option[Long] = None): graft.ml.IvfIndex.AdaptiveSearch = {
    require(typedFilter.nonEmpty,
      "adaptive planning needs a filter; use batchQuery() for unfiltered batches")
    val cfg = config(userId, modelId)
    validateVecDims(cfg, queryVecs)
    batchQueryAdaptiveTypedFrameWith(userId, modelId, cfg,
      queriesFromVecs(queryVecs), k, typedFilter, nProbe, preFilterCap,
      asOf, None, driverIds = Some(idsFromVecs(queryVecs)))
  }

  /** [[batchQueryAdaptiveFrame]]'s TYPED twin: shared typed filter (may
    * be empty when `pairPredicate` is given — the commit-log row count
    * then plans, as on the string surface) + per-query pair predicate,
    * same three-path contract, heal honoring each query's own
    * constraint.
    */
  def batchQueryAdaptiveTypedFrame(
      userId: String,
      modelId: String,
      queries: DataFrame,
      k: Int,
      typedFilter: Map[String, Any] = Map.empty,
      nProbe: Int = 8,
      preFilterCap: Long = graft.ml.IvfIndex.DefaultPreFilterCap,
      asOf: Option[Long] = None,
      pairPredicate: Option[org.apache.spark.sql.Column] = None)
      : graft.ml.IvfIndex.AdaptiveSearch =
    batchQueryAdaptiveTypedFrameWith(userId, modelId,
      config(userId, modelId), queries, k, typedFilter, nProbe,
      preFilterCap, asOf, pairPredicate)

  private def batchQueryAdaptiveTypedFrameWith(
      userId: String,
      modelId: String,
      cfg: StoreConfig,
      queries: DataFrame,
      k: Int,
      typedFilter: Map[String, Any],
      nProbe: Int,
      preFilterCap: Long,
      asOf: Option[Long],
      pairPredicate: Option[org.apache.spark.sql.Column],
      driverIds: Option[Seq[Long]] = None)
      : graft.ml.IvfIndex.AdaptiveSearch = {
    require(typedFilter.nonEmpty || pairPredicate.nonEmpty,
      "adaptive planning needs a filter (shared or per-query); use " +
        "batchQueryFrame() for unfiltered batches")
    val pred =
      if (typedFilter.isEmpty) lit(true)
      else TypedMeta.typedPredicate(col("meta"), typedFilter)
    batchAdaptiveImpl(userId, modelId, cfg, queries, k, nProbe, preFilterCap,
      asOf, pred,
      if (typedFilter.isEmpty)
        (storeRowCountHint(userId, modelId, asOf), None)
      else statsHints(asOf,
        metaStatsCountsTyped(userId, modelId, typedFilter.toSeq)),
      (idx, qs) => idx.searchBatch(qs, k, nProbe, asOf = asOf,
        predicate = if (typedFilter.isEmpty) None else Some(pred),
        pairPredicate = pairPredicate),
      pairPredicate, driverIds)
  }

  /** Compaction (the reference's admin `optimize` endpoint references a
    * store.optimize that was never shipped — api/routes/admin.py:171-192;
    * here it is a real small-file compaction job). Returns (filesBefore,
    * filesAfter).
    *
    * As the store's MAINTENANCE entry point it also runs the index-drift
    * check ([[indexMaintenance]]): appends assign against frozen
    * centroids, and compaction preserves `list_id` assignments — so skew
    * survives optimize and must be surfaced here, not silently carried.
    * Past the thresholds it logs a LOUD rebuild advisory; with
    * `autoRebuildIndex = true` it repairs in-line ([[buildIndex]] at the
    * SUGGESTED list count — fresh distributed k-means over the
    * post-compaction rows, geometry rescaled to the corpus).
    */
  def optimize(userId: String, modelId: String,
      targetFileBytes: Long = 128L << 20,
      autoRebuildIndex: Boolean = false): (Int, Int) = {
    val result = optimizeFiles(userId, modelId, targetFileBytes)
    // the repair also RESCALES the geometry ([[graft.ml.IvfIndex
    // .suggestNLists]], floored at the current count): the ivf_drift
    // probe measured that a same-geometry rebuild repairs skew but not
    // density — probe cost per query is ~nProbe × N / nLists, so the
    // list count must grow with the corpus
    warnIfDrift(userId, modelId, "").foreach { m =>
      if (autoRebuildIndex) buildIndex(userId, modelId,
        nLists = m.suggestedNLists)
    }
    result
  }

  private def optimizeFiles(
      userId: String, modelId: String, targetFileBytes: Long): (Int, Int) = {
    val dst = new Path(dataPath(userId, modelId))
    if (!fs.exists(dst)) return (0, 0)
    def filesUnder(p: Path): Seq[org.apache.hadoop.fs.FileStatus] = {
      val it = fs.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.getPath.getName.endsWith(".parquet")).toSeq
    }
    // compaction = rewrite the committed rows into ONE replace epoch (and
    // re-slice the index alongside), flipped by a single commit —
    // crash-atomic, and the commit log itself is pruned by EpochLog's
    // replace handling
    val before = filesUnder(dst)
    val nFiles = math.max(1,
      math.ceil(before.map(_.getLen).sum.toDouble / targetFileBytes).toInt)
    val (to, frames) = slicesOf(userId, modelId,
      ivfIndex(userId, modelId, config(userId, modelId)),
      load(userId, modelId).repartition(nFiles))
    epochStore(userId, modelId).replace(frames, to = to)
    (before.size, filesUnder(dst).size)
  }

  /** Storage-level health report (reference health_check shape:
    * {'healthy', 'issues': [...]} — tests/demo.py:255-258; its serving-side
    * inputs (circuit breakers, error rates) are out-of-engine, so the
    * engine checks what a storage engine can check: config parses, data
    * readable, every vector matches the configured dimension, no null
    * vectors, and — when an IVF index exists — index readable and row-count
    * in sync with the store. One scan over the data.
    */
  def healthCheck(userId: String, modelId: String): HealthReport = {
    val issues = scala.collection.mutable.ArrayBuffer.empty[String]
    val cfg = try Some(config(userId, modelId)) catch {
      case e: Exception => issues += s"config unreadable: ${e.getMessage}"; None
    }
    var nRows = 0L
    var dataOk = false
    cfg.foreach { c =>
      try {
        val stats = load(userId, modelId).agg(
          org.apache.spark.sql.functions.count(lit(1)).as("n"),
          org.apache.spark.sql.functions.count(when(col("vector").isNull, 1))
            .as("nulls"),
          org.apache.spark.sql.functions.count(
            when(col("vector").isNotNull && size(col("vector")) =!= c.dimension, 1))
            .as("bad_dim")).head()
        nRows = stats.getLong(0)
        if (stats.getLong(1) > 0) issues += s"${stats.getLong(1)} null vectors"
        if (stats.getLong(2) > 0)
          issues += s"${stats.getLong(2)} vectors with dimension != ${c.dimension}"
        dataOk = true
      } catch {
        case e: Exception => issues += s"data unreadable: ${e.getMessage}"
      }
      // sync check only when the store count is known — an unreadable store
      // must not masquerade as an index-desync problem
      if (c.indexType == "ivf" && dataOk) {
        try {
          val idx = ivfIndex(userId, modelId, c).getOrElse(
            throw new IllegalStateException("no centroids.jsonl; rebuild the index"))
          val indexed = idx.listStats()
            .agg(org.apache.spark.sql.functions.sum(col("n_vectors"))).head().getLong(0)
          if (indexed != nRows)
            issues += s"index out of sync: $indexed indexed of $nRows rows"
        } catch {
          case e: Exception => issues += s"index unreadable: ${e.getMessage}"
        }
      }
    }
    HealthReport(issues.isEmpty, issues.toSeq, nRows)
  }

  /** Clear store data, keep config (reference clear(),
    * service/optimized_vector_store.py:198-209). The epoch log and the IVF
    * index data go with it — an index over deleted rows would otherwise
    * keep serving them ([[buildIndex]] recreates it on demand; the config's
    * indexType is untouched, and the query path already falls back to the
    * exact scan while no centroids exist).
    */
  def clear(userId: String, modelId: String): Unit = {
    graft.operators.EpochStore.forgetSchemas(s"${storePath(userId, modelId)}/")
    fs.delete(new Path(dataPath(userId, modelId)), true)
    fs.delete(new Path(epochsPath(userId, modelId)), true)
    fs.delete(new Path(indexPath(userId, modelId)), true)
    fs.delete(new Path(metaStatsPath(userId, modelId)), true)
    // an empty store has EMPTY statistics, not absent ones: an empty
    // `meta_stats/` is armed for the empty log, so lookups read true zeros
    // and every later commit lands its slice — the store stays planable
    // through a clear with no [[refreshMetaStats]] call. Guarded on
    // existence: clear of a never-created store stays a pure no-op.
    if (exists(userId, modelId)) fs.mkdirs(new Path(metaStatsPath(userId, modelId)))
  }

  private def metaStatsPath(userId: String, modelId: String) =
    s"${storePath(userId, modelId)}/meta_stats"

  /** The epochs holding a statistics slice, each with its slice's
    * modification time; None when `meta_stats/` is absent (a store that
    * was never armed — one listing, no log read).
    */
  private def statsSlices(userId: String, modelId: String): Option[Map[Long, Long]] =
    try Some(fs.listStatus(new Path(metaStatsPath(userId, modelId)))
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("epoch="))
      .flatMap(st => st.getPath.getName.stripPrefix("epoch=").toLongOption
        .map(_ -> st.getModificationTime))
      .toMap)
    catch { case _: java.io.FileNotFoundException => None }

  /** Armed: `meta_stats/` holds a slice for every committed epoch. Only an
    * armed store's commits write statistics; any other state reads as None
    * (live count).
    */
  private def statsArmed(userId: String, modelId: String): Boolean =
    statsSlices(userId, modelId).exists(have =>
      storeLog(userId, modelId).committedEpochs().forall(have.contains))

  /** Per-(key, value) row counts of `rows`' meta maps: one statistics
    * slice. Rows without meta are absent by construction (a filter cannot
    * match them).
    */
  private def countsOf(rows: DataFrame): DataFrame =
    rows.select(explode(col("meta")).as(Seq("key", "value")))
      .groupBy(col("key"), col("value"))
      .agg(org.apache.spark.sql.functions.count(lit(1)).as("n"))

  /** Arm the store's per-(key, value) metadata cardinalities — the
    * selectivity statistics [[queryAdaptive]] consults instead of running
    * its per-query count job (measured by FilterProbe at commit 19fff4c as
    * the broad-path overhead). Writes the statistics slice of every
    * committed epoch that lacks one, each counted from that epoch's data
    * slice, written aside and renamed into place: a refresh that dies
    * part-way leaves an unarmed store, never a torn slice. Once armed,
    * every commit lands its own slice with its commit row, so one refresh
    * arms a store for life. Returns the number of (key, value) rows
    * written (0 when the store was already armed).
    */
  def refreshMetaStats(userId: String, modelId: String): Long = {
    require(exists(userId, modelId), s"store $userId/$modelId does not exist")
    val stats = statsLayout(userId, modelId)
    val have = statsSlices(userId, modelId).getOrElse(Map.empty)
    val committed = storeLog(userId, modelId).committedEpochs()
    if (committed.isEmpty) requireEpochLayout(userId, modelId)
    fs.mkdirs(new Path(stats.dir)) // an empty log arms with no slice
    committed.filterNot(have.contains).map { epoch =>
      val aside = new Path(s"${stats.dir}/_epoch=$epoch")
      val obs = org.apache.spark.sql.Observation()
      countsOf(sliceAt(userId, modelId, epoch))
        .observe(obs, org.apache.spark.sql.functions.count(lit(1)).as("rows"))
        .write.mode("overwrite").parquet(aside.toString)
      // HDFS-style rename fails by returning false, not throwing
      if (!fs.rename(aside, new Path(stats.slice(epoch))))
        throw new IllegalStateException(
          s"meta stats refresh failed: rename $aside -> ${stats.slice(epoch)}")
      obs.get("rows").asInstanceOf[Long]
    }.sum
  }

  /** Exact match count for a single-key string filter from the persisted
    * statistics — `Some(n)` only when the store is armed (a statistics
    * slice at every committed epoch; anything else never plans a query).
    * Sums the raw value and its TypedMeta JSON-string twin, the same
    * duality [[graft.operators.Knn.metadataPredicate]] matches, so the
    * number equals what the live count would return. An absent
    * (key, value) pair under armed stats is a true zero.
    */
  def metaStatsCount(
      userId: String,
      modelId: String,
      key: String,
      value: String): Option[Long] =
    metaStatsCounts(userId, modelId, Seq(key -> value)).head

  /** Multi-key form of [[metaStatsCount]]: ONE aggregation pass over the
    * stats slices answers every key of a conjunction (the per-key loop
    * paid one job per key — pure fixed cost, since each pass scanned the
    * same KB-sized table). Same freshness bar, per key.
    */
  def metaStatsCounts(
      userId: String,
      modelId: String,
      filter: Seq[(String, String)]): Seq[Option[Long]] =
    metaStatsCountsWith(userId, modelId, filter.map { case (k0, v0) =>
      col("key") === k0 &&
        (col("value") === v0 || col("value") === TypedMeta.jsonString(v0))
    }, "str", filter)

  /** Lookup results memoized on the freshness check's own inputs: the
    * store log's newest commit file ([[graft.operators.EpochLog.head]])
    * and the listing of `meta_stats/` (each slice with its modification
    * time). A count is a pure function of the committed slices, so any
    * commit, clear, refresh or slice rewrite — by this catalog instance or
    * another — is a miss, never a stale hit; an absent `meta_stats/` skips
    * the memo. The `surface` tag keeps the string and typed predicates for
    * the same (key, value) pair from colliding. Saves one stats
    * aggregation job per repeated lookup on the serving path (a declared
    * adaptive query pays the same lookup 2-3 times: the freshness require
    * and each phase's planning).
    */
  private val statsMemo = scala.collection.mutable.HashMap
    .empty[(String, Option[String], Map[Long, Long], String, Seq[(String, Any)]),
      Seq[Option[Long]]]

  /** Counts of `preds` summed over the committed epochs' statistics
    * slices; None for every predicate unless the store is armed — a lookup
    * never reads counts from a commit that has not landed.
    */
  private def metaStatsCountsWith(
      userId: String,
      modelId: String,
      preds: Seq[org.apache.spark.sql.Column],
      surface: String,
      filter: Seq[(String, Any)]): Seq[Option[Long]] = {
    if (preds.isEmpty) return Seq.empty
    val slices = statsSlices(userId, modelId)
      .getOrElse(return preds.map(_ => None))
    val log = storeLog(userId, modelId)
    val key = (metaStatsPath(userId, modelId), log.head(), slices, surface, filter)
    statsMemo.synchronized(statsMemo.get(key)).foreach(hit => return hit)
    val epochs = log.committedEpochs()
    val counts =
      if (!epochs.forall(slices.contains)) preds.map(_ => None)
      else if (epochs.isEmpty) preds.map(_ => Some(0L))
      else {
        val stats = statsLayout(userId, modelId)
        val aggs = preds.map(p => coalesce(sum(when(p, col("n"))), lit(0L)))
        val row = graft.operators.EpochStore.read(spark, stats,
          epochs.map(stats.slice)).agg(aggs.head, aggs.tail: _*).head()
        preds.indices.map(i => Some(row.getLong(i)))
      }
    statsMemo.synchronized {
      if (statsMemo.size > 4096) statsMemo.clear() // bound the memo
      statsMemo(key) = counts
    }
    counts
  }

  /** [[metaStatsCount]] for a TYPED filter value — the stored-encoding
    * inverse the r16 statistics layer deferred. The stats rows hold the
    * store's raw value strings, so running [[TypedMeta.typedEqualsRaw]]
    * (the exact predicate [[TypedMeta.typedEquals]] applies to meta map
    * values) over the stats `value` column and summing `n` counts
    * precisely the rows the typed live count would: numeric duality
    * (1 == 1.0 == true), quoted-string identity ("1" != 1), and the
    * legacy bare-string fallback all carry over for free because they
    * are properties of the predicate, not of where it runs. Same
    * freshness bar: `Some(n)` only when the store is armed.
    */
  def metaStatsCountTyped(
      userId: String,
      modelId: String,
      key: String,
      value: Any): Option[Long] =
    metaStatsCountsTyped(userId, modelId, Seq(key -> value)).head

  /** Multi-key form of [[metaStatsCountTyped]] — one pass for the whole
    * typed conjunction, mirroring [[metaStatsCounts]]. */
  def metaStatsCountsTyped(
      userId: String,
      modelId: String,
      filter: Seq[(String, Any)]): Seq[Option[Long]] =
    metaStatsCountsWith(userId, modelId, filter.map { case (k0, v0) =>
      col("key") === k0 && TypedMeta.typedEqualsRaw(col("value"), v0)
    }, "typed", filter)

  /** Drop the store entirely (reference delete_store, api/routes/admin.py:74-112). */
  def drop(userId: String, modelId: String, force: Boolean = false): Unit = {
    if (!force && exists(userId, modelId) && count(userId, modelId) > 0)
      throw new IllegalStateException(
        s"store $userId/$modelId is non-empty; pass force=true (reference admin.py:74-112 semantics)")
    graft.operators.EpochStore.forgetSchemas(s"${storePath(userId, modelId)}/")
    // frees the centroids a dropped store would otherwise pin; the stamp,
    // not this removal, keeps cache hits correct
    idxCache.synchronized { idxCache.remove((userId, modelId)); () }
    fs.delete(new Path(storePath(userId, modelId)), true)
  }
}

/** Result of [[VectorStoreCatalog.healthCheck]]. */
case class HealthReport(healthy: Boolean, issues: Seq[String], vectorCount: Long)

object VectorStoreCatalog {
  private[graft] lazy val slog =
    org.slf4j.LoggerFactory.getLogger("graft.VectorStoreCatalog")

  /** The store layout's columns (its empty read). */
  private val StoreSchema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("vector", ArrayType(FloatType), nullable = true),
    StructField("meta", MapType(StringType, StringType), nullable = true)))

  /** Reference serving caps (api/routes/batch_v1.py:63-64, service/models.py:53). */
  val MaxBatchQueries = 1000
  val MaxBatchK = 100
  val MaxSingleK = 1000

  /** Above this many underfilled query ids, [[VectorStoreCatalog
    * .healUnderfill]] restricts via a broadcast semi/anti join instead of
    * an `isin` list — a 64-term `In` is fine, a thousands-term one is a
    * predicate-tree/codegen liability, and the join form is the plan
    * shape that survives any M.
    */
  val HealSemiJoinThreshold = 64

  private val NamePattern = "^[A-Za-z0-9._-]{1,128}$".r
  def validName(s: String): Boolean = NamePattern.matches(s)

  private def writeConfig(path: Path, cfg: StoreConfig, nextIdBase: Long): Unit = {
    val fs = path.getFileSystem(new org.apache.hadoop.conf.Configuration())
    val json =
      s"""{"dimension":${cfg.dimension},"metric":"${cfg.metric}",""" +
        s""""index_type":"${cfg.indexType}","next_id_base":$nextIdBase}"""
    val out = fs.create(path, true)
    try out.write(json.getBytes(StandardCharsets.UTF_8)) finally out.close()
  }

  private def readConfig(fs: FileSystem, path: Path): (StoreConfig, Long) = {
    require(fs.exists(path), s"store config not found at $path")
    val in = fs.open(path)
    val json = try new String(
      org.apache.commons.io.IOUtils.toByteArray(in), StandardCharsets.UTF_8)
    finally in.close()
    // minimal parse of the flat JSON object we wrote above
    def str(k: String): String =
      s""""$k"\\s*:\\s*"([^"]*)"""".r.findFirstMatchIn(json).map(_.group(1))
        .getOrElse(throw new IllegalStateException(s"missing $k in $path"))
    def num(k: String): Long =
      s""""$k"\\s*:\\s*(-?\\d+)""".r.findFirstMatchIn(json).map(_.group(1).toLong)
        .getOrElse(throw new IllegalStateException(s"missing $k in $path"))
    (StoreConfig(num("dimension").toInt, str("metric"), str("index_type")),
      num("next_id_base"))
  }
}
