package graft.ml

import graft.functions.{vector, CentroidProbes}
import graft.operators.{Knn, TopKAggregator}
import org.apache.spark.sql.graftx.Bridge
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** IVF (inverted-file) ANN index, batch-built — the Spark-native answer to
  * the reference's HNSW path (performance/hnsw_index.py). Where the reference
  * rebuilds a graph index on every add (service/optimized_vector_store.py:
  * 110-113, an O(N log N) cliff), we run an explicit distributed build job:
  *
  *   1. k-means coarse quantizer (Spark ML, distributed Lloyd iterations)
  *   2. assign every row to its nearest centroid (codegen'd expression)
  *   3. write the store partitioned BY list_id — physical partition pruning
  *      does the index lookup at query time
  *
  * Query probes the nProbe nearest lists (reads only those partitions — at
  * 100 TB this is the difference between scanning everything and scanning
  * nProbe/nLists of the data), scores exactly within them, and mirrors the
  * reference's filtered-ANN semantics: over-fetch x10 under a metadata
  * filter (service/optimized_vector_store.py:123), with exact-scan fallback
  * when recall falls short (resolving the silent-underfill drift noted in
  * SURVEY.md §7.4).
  */
class IvfIndex private (
    val spark: SparkSession,
    val path: String,
    val centroids: Array[Array[Double]],
    val metric: String,
    val log: Option[graft.operators.EpochLog] = None) {

  private def dataPath = s"$path/data"

  private def layout = IvfIndex.dataLayout(path)

  /** The IVF layout's lifecycle when an epoch log governs it (catalog
    * stores, [[SemDedupIndex]]); None for a log-less standalone build.
    */
  private[graft] def store: Option[graft.operators.EpochStore] =
    log.map(graft.operators.EpochStore(_, Seq(layout)))

  /** The store scan, resolved through the epoch log when one governs this
    * index ([[graft.sources.VectorStoreCatalog]] epoch stores): only
    * COMMITTED `data/epoch=N` directories are read, so a crashed
    * (un-committed) append is invisible rather than half-visible. Log-less
    * (standalone) layouts read the flat directory. Epochs committed before
    * the index existed have no index-side directory (their rows are
    * covered by the build's epoch) and are skipped. list_id partition
    * pruning works identically either way.
    */
  private[graft] def storeDf: DataFrame = graft.operators.EpochStore.read(
    spark, layout, log.fold(Seq(dataPath))(_.layoutPaths(dataPath)))

  /** [[storeDf]] pinned at a committed snapshot epoch — the IVF side of the
    * [[graft.operators.EpochIndex.storedLayoutAt]] time-travel discipline:
    * only committed `data/epoch<=maxEpoch` slices, plus the active vacuum
    * fold when the pin reaches past its boundary. Requires an epoch-logged
    * index; pins expire LOUDLY under compaction/vacuum ([[requirePin]]),
    * and a pin the index layout does not COVER (committed before the
    * index was built — pre-build epochs have no index-side slices) is
    * equally loud rather than a silently empty scan: the catalog's
    * `query(asOf)` catches it and serves the pin from the store's own
    * snapshot instead.
    */
  private[graft] def storeDfAt(maxEpoch: Long): DataFrame = {
    requirePin(maxEpoch)
    val paths = log.get.layoutPathsAt(dataPath, maxEpoch)
    val present = graft.operators.EpochStore.existing(spark, layout, paths)
    if (present.isEmpty && paths.nonEmpty)
      throw new IllegalStateException(
        s"index layout does not cover epoch $maxEpoch: the index was " +
          "built at a later epoch, so pre-build pins have no index-side " +
          "slices — serve this pin from the store scan (the catalog's " +
          "query(asOf) falls back to it automatically) or rebuild")
    graft.operators.EpochStore.read(spark, layout, present)
  }

  /** Addressable snapshot pins — the committed epoch set (a previous
    * vacuum's fold slice is itself a valid pin). Log-less (standalone)
    * layouts have a single implicit epoch and no pins.
    */
  def epochs: Seq[Long] = log.map(_.committedEpochs()).getOrElse(Seq.empty)

  /** The loud pin-validity gate every `...At` read goes through — the
    * [[graft.operators.EpochIndex.requirePin]] contract for the IVF side.
    */
  private[graft] def requirePin(epoch: Long): Unit = {
    require(log.isDefined,
      "time-travel pins need an epoch-logged index; this layout has no " +
        "commit log (standalone build)")
    val live = epochs
    require(live.contains(epoch),
      s"epoch $epoch is not in the committed history (live pins: " +
        s"${live.mkString(", ")}) — compaction, vacuum, or a delete " +
        "rewrite may have expired it")
  }

  /** Epoch retention for the IVF layout — [[graft.operators.EpochIndex
    * .vacuum]]'s lever on the vector side: a long-lived embedding ingest
    * stream accumulates one `data/epoch=N` directory per micro-batch, and
    * `compact()`'s full rewrite was the only counter. Folds every committed
    * epoch below the newest `keepLast` into ONE list-partitioned slice
    * (O(folded slices), not O(index)) through [[graft.operators.EpochStore
    * .vacuum]] — query results unchanged by construction (same rows, same
    * `list_id` partitioning). Returns epochs folded; 0 when history is
    * within `keepLast` or the layout has no log.
    */
  def vacuum(keepLast: Int): Int = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    store.flatMap(_.vacuum(keepLast)).fold(0)(_.epochs.size)
  }

  /** Probe-list column for a vector column. */
  def probes(vec: Column, nProbe: Int): Column =
    Bridge.column(CentroidProbes(Bridge.expression(vec), centroids, metric, nProbe))

  private[ml] def probeIdsFor(queryVec: Seq[Double], nProbe: Int): Seq[Int] = {
    // driver-side: centroid count is small by construction
    val cosine = metric == vector.MetricCosine
    val scored = centroids.zipWithIndex.map { case (c, i) =>
      val dot = c.zip(queryVec).map { case (a, b) => a * b }.sum
      val nq = math.sqrt(queryVec.map(x => x * x).sum)
      val score = if (cosine) -(dot / math.max(nq, 1e-8)) else {
        c.zip(queryVec).map { case (a, b) => (a - b) * (a - b) }.sum
      }
      (score, i)
    }
    scored.sortBy(_._1).take(nProbe).map(_._2).toSeq
  }

  /** The partition-pruned scan a search with this (queryVec, nProbe) runs
    * against — exposed so plan tests can assert the pruning.
    */
  def probedScan(queryVec: Seq[Double], nProbe: Int): DataFrame =
    probedScan(queryVec, nProbe, None)

  private def probedScan(
      queryVec: Seq[Double], nProbe: Int, asOf: Option[Long]): DataFrame = {
    val lists = probeIdsFor(queryVec, nProbe)
    asOf.fold(storeDf)(storeDfAt).filter(col("list_id").isin(lists: _*))
  }

  /** Single-query ANN search. Reads only the probed partitions, in ONE pass:
    * the probed result (<= k rows by construction) is collected once, and the
    * underfill test for the exact-fallback path inspects that buffer instead
    * of re-executing the query (`count()` + reuse would run it twice).
    *
    * `asOf = Some(epoch)` pins the scan (and the fallback) at a committed
    * snapshot — the serving form of the time-travel audit: "which
    * neighbors would we have served as of snapshot N". Pins expire loudly
    * under compaction/vacuum ([[requirePin]]).
    */
  def search(
      queryVec: Seq[Double],
      k: Int,
      nProbe: Int = 8,
      metadataFilter: Map[String, String] = Map.empty,
      exactFallback: Boolean = true,
      predicate: Option[org.apache.spark.sql.Column] = None,
      asOf: Option[Long] = None): DataFrame = {
    val scan = probedScan(queryVec, nProbe, asOf)
    // reference semantics: over-fetch x10 when post-filtering (P2)
    val candidateK = if (metadataFilter.isEmpty && predicate.isEmpty) k else k * 10
    val hits = Knn.topK(scan, queryVec, candidateK, metric,
        metadataFilter = metadataFilter, predicate = predicate)
      .limit(k)
      .drop("list_id")
    if (!exactFallback) hits
    else {
      val rows = hits.collect() // bounded: at most k rows
      // defined semantics for underfilled filtered-ANN: exact full scan
      if (rows.length < k) {
        Knn.topK(asOf.fold(storeDf)(storeDfAt), queryVec, k, metric,
          metadataFilter = metadataFilter, predicate = predicate).drop("list_id")
      } else {
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), hits.schema)
      }
    }
  }

  /** Cardinality-adaptive filtered search — the planning step the fixed
    * over-fetch×10 recipe lacks (the Qdrant-documented trade, public
    * knowledge: a filtered ANN query has two viable plans and the filter's
    * match count decides which). One cheap cardinality probe (a count over
    * the filtered scan — column pruning keeps the wide vector column out
    * of it; the meta column is what's read) picks:
    *
    *  - `prefilter_exact` (matches ≤ `preFilterCap`): exact top-k over the
    *    pre-filtered rows. EXACT results — no over-fetch recall loss, no
    *    underfill — at O(matches) scoring cost; also the only sensible
    *    plan when matches ≤ k (the probe path could never fill k and its
    *    fallback would rescan everything).
    *  - `ivf_postfilter` (matches > cap): [[search]]'s probe + over-fetch
    *    + exact-fallback path — the selective-scan plan is now the one
    *    that would scan too much.
    *
    * `preFilterCap` bounds the exact path's scoring work (default 100k
    * rows ≈ tens of MB of vectors per executor-distributed scan — far
    * under a single probed list at 100 TB scale). The probe costs one
    * extra job per query; this is a batch engine, and the count rides the
    * same pruned layout the search does.
    *
    * `matchCount` (an EXACT cardinality, e.g. from the catalog's fresh
    * statistics) replaces the probe entirely. `matchBound` (an UPPER
    * bound, e.g. min over per-key statistics for a conjunction) replaces
    * it only when it proves prefilter-exact fits (bound ≤ cap); the
    * reported `matches` is then observed inside the scoring pass itself —
    * exact, and still no count job. `matchBound` MUST be a sound upper
    * bound on the filter's cardinality: the plan TRUSTS it (that is the
    * point — no count job), so an unsound bound makes the prefilter pass
    * scan past the cap it claimed to fit. Results stay exact either way;
    * the violation is detected after the pass (observed matches > cap)
    * and logged loudly.
    */
  def searchAdaptive(
      queryVec: Seq[Double],
      k: Int,
      nProbe: Int = 8,
      metadataFilter: Map[String, String] = Map.empty,
      predicate: Option[Column] = None,
      asOf: Option[Long] = None,
      preFilterCap: Long = IvfIndex.DefaultPreFilterCap,
      matchCount: Option[Long] = None,
      matchBound: Option[Long] = None): IvfIndex.AdaptiveSearch = {
    require(metadataFilter.nonEmpty || predicate.nonEmpty,
      "adaptive planning needs a filter; use search() for unfiltered queries")
    require(preFilterCap >= 1, s"preFilterCap must be >= 1, got $preFilterCap")
    val base = asOf.fold(storeDf)(storeDfAt)
    val stringPred =
      if (metadataFilter.isEmpty) lit(true)
      else Knn.metadataPredicate(col("meta"), metadataFilter)
    val full = predicate.fold(stringPred)(p => stringPred && p)
    // a caller-supplied UPPER BOUND (e.g. min over per-key statistics for
    // a conjunction — sound: the conjunction matches a subset of every
    // key's matches) can prove prefilter-exact fits WITHOUT a count job:
    // the true count is then observed inside the bounded scoring pass
    // itself, so the reported `matches` stays exact while the plan choice
    // cost nothing. A bound above the cap proves nothing (min can be
    // loose) and falls through to the live count.
    if (matchCount.isEmpty && matchBound.exists(_ <= preFilterCap)) {
      val obs = org.apache.spark.sql.Observation()
      val filtered = base.filter(full)
        .observe(obs, org.apache.spark.sql.functions
          .count(org.apache.spark.sql.functions.lit(1)).as("matches"))
      val hits = Knn.topK(filtered, queryVec, k, metric).drop("list_id")
      val rows = hits.collect() // bounded: <= k rows
      val matches = obs.get("matches").asInstanceOf[Long]
      // the bound is TRUSTED for the plan choice (that is its point — no
      // count job), so an unsound caller bound surfaces only here, after
      // the pass already paid the unbounded scan: results are still
      // exact, but the cap/plan-label contract was violated — say so
      // loudly instead of letting the lie stay silent
      if (matches > preFilterCap)
        IvfIndex.slog.warn(s"searchAdaptive: caller matchBound " +
          s"${matchBound.get} <= cap $preFilterCap but the pass observed " +
          s"$matches matches — the bound was NOT a sound upper bound; " +
          "results are exact, the prefilter cap contract was not honored")
      return IvfIndex.AdaptiveSearch(IvfIndex.PathPrefilterExact, matches,
        spark.createDataFrame(java.util.Arrays.asList(rows: _*), hits.schema),
        boundViolated = matches > preFilterCap)
    }
    // a caller-supplied cardinality (e.g. the catalog's persisted meta
    // statistics) skips the count job; the decision — and the reported
    // `matches` — then follow the hint
    val matches = matchCount.getOrElse(base.filter(full).count())
    val path = IvfIndex.chooseFilterPath(matches, preFilterCap)
    val hits = path match {
      case IvfIndex.PathPrefilterExact =>
        Knn.topK(base, queryVec, k, metric,
          metadataFilter = metadataFilter, predicate = predicate)
          .drop("list_id")
      case _ =>
        search(queryVec, k, nProbe, metadataFilter,
          predicate = predicate, asOf = asOf)
    }
    IvfIndex.AdaptiveSearch(path, matches, hits)
  }

  /** Incremental maintenance: assign a new batch to its nearest lists and
    * append — O(batch), no index rebuild. This is the direct answer to the
    * reference's scalability cliff (service/optimized_vector_store.py:110-113
    * rebuilds the ENTIRE HNSW graph on every add). Centroids drift as data
    * grows; monitor [[listStats]] and run [[IvfIndex.build]] again when
    * imbalance warrants it.
    */
  def append(rows: DataFrame, idCol: String = "id", vecCol: String = "vector"): Long =
    store match {
      case None =>
        // row count observed inside the write pass — a trailing rows.count()
        // would re-run the (arbitrary) upstream lineage a second time
        val obs = org.apache.spark.sql.Observation()
        assign(rows, idCol, vecCol).observe(obs, count(lit(1)).as("n"))
          .write.mode("append").partitionBy("list_id").parquet(dataPath)
        obs.get("n").asInstanceOf[Long]
      case Some(s) =>
        // epoch-governed layout: write-then-commit, so a crash mid-write
        // leaves an invisible orphan the next append overwrites
        s.append(s.writeSlice(Seq(assign(rows, idCol, vecCol)), _))._2
    }

  /** The index-layout rows of `rows`: (id, vector, list_id[, meta]), each
    * row assigned to its nearest list — the frame a composite owner
    * ([[graft.sources.VectorStoreCatalog]]) hands its [[graft.operators
    * .EpochStore]] next to the store slice, so both land under one commit.
    */
  private[graft] def assign(rows: DataFrame, idCol: String, vecCol: String): DataFrame = {
    val meta = if (rows.columns.contains("meta")) Seq(col("meta")) else Seq.empty
    rows.select(Seq(
      col(idCol).cast("long").as("id"),
      col(vecCol).as("vector"),
      probes(col(vecCol), 1).getItem(0).as("list_id")) ++ meta: _*)
  }

  /** Per-list occupancy — the balance signal for deciding when to rebuild. */
  def listStats(): DataFrame =
    storeDf
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_vectors"))

  /** Maintenance snapshot with an explicit rebuild verdict — closes the
    * "monitor manually" gap in [[append]]'s contract: a caller appending for
    * months gets a computable drift signal instead of silent degradation.
    *
    * Signals (thresholds are arguments, defaults documented on the
    * constants):
    *  - `imbalance` = max list size / (nVectors / nLists) — the mean over
    *    ALL lists, so emptied-out lists raise the signal too (a store whose
    *    rows collapsed into one hot list reads imbalance = nLists). A hot
    *    list of factor f means ~f× worst-case probe work AND recall skew
    *    (vectors crowded into one list crowd out its top-k slots).
    *  - `appendedFraction` = rows appended since build / current rows.
    *    Appends assign against FROZEN centroids; once most of the store
    *    post-dates the quantizer, the k-means partition no longer reflects
    *    the data distribution even if sizes still look balanced.
    *
    * The scan is one groupBy over list ids (<= nLists result rows) — cheap
    * enough to run after every append batch.
    */
  def maintenance(
      maxImbalance: Double = IvfIndex.DefaultMaxImbalance,
      maxAppendedFraction: Double = IvfIndex.DefaultMaxAppendedFraction)
      : IvfIndex.Maintenance = {
    val per = listStats().collect() // <= nLists rows by construction
    val sizes = per.map(_.getLong(1))
    val nVectors = sizes.sum
    val maxList = if (sizes.isEmpty) 0L else sizes.max
    val mean = nVectors.toDouble / math.max(centroids.length, 1)
    val imbalance = if (mean > 0) maxList / mean else 0.0
    val nAtBuild = IvfIndex.readBuildCount(spark, path)
    val appendedFraction = nAtBuild match {
      case Some(b) if nVectors > 0 => math.max(0L, nVectors - b).toDouble / nVectors
      case _ => 0.0
    }
    IvfIndex.Maintenance(
      nLists = centroids.length,
      nVectors = nVectors,
      nonEmptyLists = sizes.length,
      maxListSize = maxList,
      meanListSize = mean,
      imbalance = imbalance,
      nAtBuild = nAtBuild,
      appendedFraction = appendedFraction,
      needsRebuild = imbalance > maxImbalance || appendedFraction > maxAppendedFraction,
      suggestedNLists = IvfIndex.suggestNLists(centroids.length, nVectors))
  }

  /** Batch ANN search: queries x store as an EQUI-join on list_id (each
    * query explodes to its nProbe lists), then bounded top-k per query.
    * The crucial scale properties vs brute force: (a) the store scan is
    * FILTERED to the union of probed list ids, so partition pruning reads
    * only the lists some query probes — at 100 TB the unprobed majority of
    * the store is never touched; (b) the join key co-locates work, so each
    * scanned partition is scored only against the queries that probe it.
    *
    * `metadataFilter` restricts the probed rows BEFORE scoring (the filter
    * composes with the list pruning, so no over-fetch is needed — the
    * top-k is already over matching candidates). The residual recall gap
    * is matches living in unprobed lists; a per-query underfill fallback
    * ([[graft.sources.VectorStoreCatalog.batchQueryAdaptive]]'s contract)
    * closes only the UNDERFILL case — a query whose probed lists hold k
    * or more matches returns k hits and keeps standard ANN recall, so
    * the filtered probed path must not be treated as exact except at
    * full probe.
    *
    * `pairPredicate` is the HETEROGENEOUS per-query filter (the
    * hard-negative mining shape: "top-k within each query's OWN
    * constraint"): a predicate over the joined (query columns × store
    * columns) row — e.g. `col("label") =!= col("query_label")` with a
    * label rider on `queries` — filtering ABOVE the list_id equi-join,
    * so it adds no join and no product (plan-guarded) and composes with
    * the shared `metadataFilter`/`predicate`. Every extra column on
    * `queries` rides through the probe explode for it to reference;
    * store-side pruning still happens first (the shared filters), the
    * per-pair leg prunes last because only it needs both sides.
    */
  def searchBatch(
      queries: DataFrame,
      k: Int,
      nProbe: Int = 8,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      asOf: Option[Long] = None,
      metadataFilter: Map[String, String] = Map.empty,
      predicate: Option[Column] = None,
      pairPredicate: Option[Column] = None): DataFrame = {
    // pin the (bounded) probed query set once: it feeds both the probed-list
    // collection and the join, and must not recompute user lineage twice.
    // ALL query columns ride along — rider columns (query labels, group
    // keys) are what pairPredicate filters on. Riders must not shadow the
    // store side: a rider named like a store column would make the joined
    // frame ambiguous (or, for list_id, corrupt the join key) — loud here,
    // where the caller can rename, instead of an AnalysisException later.
    val storeSide = Set("id", "vector", "meta", "list_id")
    val riderClash = queries.columns
      .filterNot(c => c == queryIdCol || c == queryVecCol)
      .filter(storeSide)
    require(riderClash.isEmpty,
      s"query rider columns ${riderClash.mkString(", ")} collide with " +
        "store-side columns (id, vector, meta, list_id); rename them")
    // the id/vec columns themselves must not shadow the store side either:
    // queryIdCol = "id" would hit exactly the ambiguous-column failure the
    // rider guard exists to prevent (they ride the same joined frame)
    val keyClash = Seq(queryIdCol, queryVecCol).filter(storeSide)
    require(keyClash.isEmpty,
      s"query id/vector columns ${keyClash.mkString(", ")} collide with " +
        "store-side columns (id, vector, meta, list_id); rename them")
    val probed = queries.select(
        col("*"),
        explode(probes(col(queryVecCol), nProbe)).as("list_id"))
      .localCheckpoint(true)
    val probedLists = probed.select(col("list_id")).distinct()
      .collect().map(_.getInt(0)).toSeq // <= nLists values by construction
    // TIME-TRAVEL pin: "which neighbours would we have served as of
    // snapshot N" — the corpus as it was at the pinned commit
    val pruned = asOf.fold(storeDf)(storeDfAt)
      .filter(col("list_id").isin(probedLists: _*))
    val stringFiltered =
      if (metadataFilter.isEmpty) pruned
      else pruned.filter(Knn.metadataPredicate(col("meta"), metadataFilter))
    // arbitrary predicate (e.g. TypedMeta.typedPredicate) composes on top —
    // the Knn.topK convention on the batch path
    val store = predicate.fold(stringFiltered)(stringFiltered.filter)
    val topk = udaf(new TopKAggregator(k, ascending = false))
    val joined = probed.join(store, Seq("list_id"))
    pairPredicate.fold(joined)(joined.filter)
      .select(col(queryIdCol), col("id"),
        vector.similarity(col("vector"), col(queryVecCol), metric).as("similarity_score"))
      .groupBy(col(queryIdCol))
      .agg(topk(col("similarity_score"), col("id")).as("topk"))
      .select(col(queryIdCol), posexplode(col("topk")).as(Seq("pos", "hit")))
      .select(col(queryIdCol),
        col("hit.id").as("id"),
        col("hit.score").as("similarity_score"),
        vector.distanceFromSimilarity(col("hit.score"), metric).as("distance"),
        (col("pos") + 1).cast("long").as("rank"))
  }

  /** Probe-depth auto-tuning: the recall-vs-nProbe sweep for a sample query
    * set, DERIVED from ONE exact pass — the missing knob next to
    * [[maintenance]]'s rebuild verdict (the reference's accuracy harness,
    * tests/performance_demo_hnsw.py:35-101, re-runs the search once per
    * swept parameter; so does our own q46 sweep row).
    *
    * The derivation: search results use a deterministic TOTAL order
    * (similarity DESC, id ASC — [[graft.operators.TopKAggregator]]'s
    * tiebreak), and restricting a total order to a subset preserves
    * relative order. So an exact top-k member that is VISIBLE at probe
    * depth p (its list is among the query's first p probes) can only move
    * UP in the probed candidate ranking — it is always in the probed
    * top-k. Hence, per query,
    *
    *   |probed-top-k(p) ∩ exact-top-k| = |{exact neighbors with
    *       first-visible probe rank <= p}|
    *
    * EXACTLY (not approximately — ties are broken identically on both
    * sides), and the whole sweep over p = 1..maxProbe falls out of one
    * exact pass plus a probe-rank join: no per-depth re-search. At 100 TB
    * the exact pass is the only full-corpus scan; everything after it
    * touches |queries| × k rows.
    *
    * Stages: (1) exact top-k = [[searchBatch]] at full probe (every list
    * probed — the partition-pruned batch kernel, nothing new to trust);
    * (2) gather each exact neighbor's `list_id` (a join on id — the P3
    * gather); (3) rank each query's lists by [[probes]] order and join to
    * find each neighbor's first-visible rank; (4) a first-visible
    * histogram (<= maxProbe+1 buckets — the one bounded collect) turns
    * into cumulative hit counts per depth on the driver.
    *
    * Returns the sweep frame — `(n_probe, n_hit, n_exact, recall,
    * chosen)`, one row per depth 1..maxProbe, `chosen` true on exactly
    * the suggested row — plus `suggestedNProbe` = the SMALLEST depth with
    * micro-averaged recall >= `targetRecall` (None, and no chosen row, if
    * even maxProbe falls short: say so rather than suggest a depth that
    * lies). Empty-query/degenerate inputs follow [[Recall.summarize]]'s
    * vacuous convention: n_exact = 0 reads as recall 1.0 at every depth
    * and depth 1 is suggested.
    *
    * `asOf` pins both the exact pass and the gather at a committed
    * snapshot (the tuning form of the time-travel audit).
    */
  def tuneNProbe(
      queries: DataFrame,
      k: Int,
      targetRecall: Double,
      maxProbe: Int = 0,
      queryIdCol: String = "query_id",
      queryVecCol: String = "query_vec",
      asOf: Option[Long] = None): IvfIndex.NProbeTuning = {
    require(targetRecall > 0.0 && targetRecall <= 1.0,
      s"targetRecall must be in (0, 1], got $targetRecall")
    val depth = if (maxProbe == 0) centroids.length else maxProbe
    require(depth >= 1 && depth <= centroids.length,
      s"maxProbe must be in [1, ${centroids.length}], got $maxProbe")
    // pin the caller's lineage once: it feeds the exact pass AND the
    // probe-rank frame, and must not recompute twice (the searchBatch
    // discipline)
    val q = queries.select(col(queryIdCol), col(queryVecCol))
      .localCheckpoint(true)
    // full probe = exact: every list is probed, so the "ANN" result IS the
    // exact top-k, served by the same batch kernel the sweep models
    val exact = searchBatch(q, k, nProbe = centroids.length,
      queryIdCol = queryIdCol, queryVecCol = queryVecCol, asOf = asOf)
    // each neighbor's home list (P3 gather), then its first-visible probe
    // rank in the query's own probe order; a left join keeps neighbors
    // whose list sits beyond `depth` (they count toward n_exact, never
    // toward any n_hit — dropping them would inflate every recall)
    val homes = exact.select(col(queryIdCol), col("id"))
      .join(asOf.fold(storeDf)(storeDfAt).select(col("id"), col("list_id")),
        Seq("id"))
    val ranks = q.select(col(queryIdCol),
        posexplode(probes(col(queryVecCol), depth)).as(Seq("pos", "list_id")))
      .select(col(queryIdCol), col("list_id"),
        (col("pos") + 1).as("first_visible"))
    val hist = homes.join(ranks, Seq(queryIdCol, "list_id"), "left")
      .groupBy(col("first_visible"))
      .agg(count(lit(1)).as("cnt"))
      .collect() // <= depth+1 rows (one per probe rank, plus the null bucket)
      .map(r => (if (r.isNullAt(0)) Int.MaxValue else r.getInt(0)) -> r.getLong(1))
      .toMap
    val nExact = hist.valuesIterator.sum
    var cum = 0L
    val sweep = (1 to depth).map { p =>
      cum += hist.getOrElse(p, 0L)
      val recall = if (nExact == 0) 1.0 else cum.toDouble / nExact
      (p.toLong, cum, nExact, recall)
    }
    val suggested = sweep.find(_._4 >= targetRecall).map(_._1.toInt)
    val rows = sweep.map { case (p, hit, ex, rec) =>
      org.apache.spark.sql.Row(p, hit, ex, rec, suggested.contains(p.toInt))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n_probe",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_hit",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_exact",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("recall",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("chosen",
        org.apache.spark.sql.types.BooleanType, nullable = false)))
    IvfIndex.NProbeTuning(
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema),
      suggested, nExact)
  }

  /** Distribution drift of an incoming batch against the corpus the frozen
    * quantizer currently serves — the INGEST-TIME companion to
    * [[maintenance]]'s size signals. `imbalance`/`appendedFraction` notice
    * drift only after it has accumulated in the store; this measures it on
    * the batch BEFORE it lands, per append, for the cost of one assignment
    * pass over the batch plus the same <= nLists occupancy scan
    * maintenance runs.
    *
    * The measure is the Population Stability Index over per-list
    * assignment proportions (the standard scorecard-monitoring
    * distribution-shift statistic — public knowledge):
    *
    *   PSI = Σ_lists (p_batch − p_store) · ln(p_batch / p_store)
    *
    * with both proportions clamped below at `epsilon` so lists empty on
    * either side contribute a finite term (the standard practice; every
    * term is then >= 0 and PSI = 0 iff the clamped distributions agree).
    * Published reading: < 0.1 stable, 0.1–0.25 moderate shift, > 0.25
    * major shift — `drifted` trips at `maxPsi` (default the major-shift
    * boundary). A drifted batch is exactly the one whose rows the frozen
    * centroids will crowd into few lists ([[maintenance]]'s imbalance,
    * after the fact) and whose true neighborhoods the probe order then
    * misrepresents (recall decay) — catching it per-batch lets an ingest
    * pipeline trigger the rebuild BEFORE serving degrades.
    *
    * Scale shape: two distributed groupBys collapse to <= nLists rows
    * each (the accepted bounded collect); the arithmetic is driver-side
    * over those histograms, like [[maintenance]]. `psi_term_x1e6` rounds
    * the ln-based term (terms are nonnegative, so Java and SQL
    * half-rounding agree) — the [[graft.text.NgramLm]] x1e4 discipline
    * for cross-engine double comparability.
    */
  def assignmentDrift(
      rows: DataFrame,
      idCol: String = "id",
      vecCol: String = "vector",
      epsilon: Double = IvfIndex.DefaultPsiEpsilon,
      maxPsi: Double = IvfIndex.DefaultMaxPsi): IvfIndex.AssignmentDrift = {
    require(epsilon > 0.0 && epsilon < 1.0,
      s"epsilon must be in (0, 1), got $epsilon")
    val storeCounts = listStats().collect() // <= nLists rows
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val batchCounts = assign(rows, idCol, vecCol)
      .groupBy(col("list_id")).agg(count(lit(1)).as("n"))
      .collect() // <= nLists rows
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nStore = storeCounts.valuesIterator.sum
    val nBatch = batchCounts.valuesIterator.sum
    require(nStore > 0, "assignmentDrift needs a non-empty store (the " +
      "reference distribution); an empty store has no quantizer history " +
      "to drift from")
    require(nBatch > 0, "assignmentDrift needs a non-empty batch")
    val perList = (0 until centroids.length).map { l =>
      val nS = storeCounts.getOrElse(l, 0L)
      val nB = batchCounts.getOrElse(l, 0L)
      val pS = math.max(nS.toDouble / nStore, epsilon)
      val pB = math.max(nB.toDouble / nBatch, epsilon)
      val term = (pB - pS) * math.log(pB / pS)
      (l, nS, nB, pS, pB, term)
    }
    val psi = perList.map(_._6).sum
    val rowsOut = perList.map { case (l, nS, nB, pS, pB, term) =>
      org.apache.spark.sql.Row(l, nS, nB, pS, pB, math.round(term * 1e6))
    }
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("list_id",
        org.apache.spark.sql.types.IntegerType, nullable = false),
      org.apache.spark.sql.types.StructField("n_store",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("n_batch",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("p_store",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("p_batch",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("psi_term_x1e6",
        org.apache.spark.sql.types.LongType, nullable = false)))
    // verdict at x1e6 precision, NOT raw doubles: the boundary decision is
    // then replayable bit-for-bit by an external engine (ln ulps die in
    // the rounding), so a drift-gated route is oracle-checkable
    IvfIndex.AssignmentDrift(
      spark.createDataFrame(java.util.Arrays.asList(rowsOut: _*), schema),
      psiX1e6 = math.round(psi * 1e6),
      nStore = nStore, nBatch = nBatch,
      drifted = math.round(psi * 1e6) > math.round(maxPsi * 1e6))
  }
}

object IvfIndex {

  /** [[IvfIndex.searchAdaptive]] result: the chosen plan, the cardinality
    * probe's match count, and the hits. `boundViolated` is the
    * PROGRAMMATIC form of the matchBound soundness check: true iff the
    * caller supplied a `matchBound <= preFilterCap` that the scoring pass
    * then observed to be unsound (true matches > cap). Results are exact
    * either way; the flag lets calling code react to the broken contract
    * (the log line alone cannot be consumed by a caller).
    */
  case class AdaptiveSearch(
      path: String,
      matches: Long,
      hits: DataFrame,
      boundViolated: Boolean = false)

  /** [[IvfIndex.tuneNProbe]] result. `sweep` is `(n_probe, n_hit, n_exact,
    * recall, chosen)` for every depth 1..maxProbe; `suggestedNProbe` the
    * smallest depth whose micro-averaged recall meets the target (None if
    * none does — the caller must widen maxProbe or lower the target, not
    * be handed a depth that cannot deliver); `nExact` the micro-average's
    * denominator (|queries| × k when the store can fill every query).
    */
  case class NProbeTuning(
      sweep: DataFrame,
      suggestedNProbe: Option[Int],
      nExact: Long)

  /** [[IvfIndex.assignmentDrift]] result. `perList` is `(list_id, n_store,
    * n_batch, p_store, p_batch, psi_term_x1e6)`, one row per centroid
    * (zero-count lists included — their clamped terms are part of the
    * statistic); `psiX1e6` rounds the UNROUNDED term sum once (not the sum
    * of rounded terms — one rounding, not nLists of them).
    */
  case class AssignmentDrift(
      perList: DataFrame,
      psiX1e6: Long,
      nStore: Long,
      nBatch: Long,
      drifted: Boolean)

  /** PSI proportion clamp: lists empty on either side read as this
    * proportion (the standard finite-term practice; 1e-4 keeps a fully
    * emptied list's term bounded near ln(1/ε)·p without letting it
    * dominate real shifts).
    */
  val DefaultPsiEpsilon: Double = 1e-4

  /** `drifted` trips past the published major-shift boundary. */
  val DefaultMaxPsi: Double = 0.25

  val PathPrefilterExact = "prefilter_exact"
  val PathIvfPostfilter = "ivf_postfilter"

  /** The catalog-level plan for stores with no index (or an unloadable
    * one): always the exact filtered scan.
    */
  val PathExactScan = "exact_scan"

  /** Pre-filter exact path allowed while the filter matches at most this
    * many rows — ~tens of MB of vectors scored across executors, well
    * under one probed list's read volume at large corpus scale.
    */
  val DefaultPreFilterCap: Long = 100000L

  private[graft] lazy val slog =
    org.slf4j.LoggerFactory.getLogger("graft.IvfIndex")

  /** The pure plan decision, split out so the boundary is spec-testable
    * and the oracle twin can replay it as a CASE over the same count.
    */
  private[graft] def chooseFilterPath(matches: Long, preFilterCap: Long): String =
    if (matches <= preFilterCap) PathPrefilterExact else PathIvfPostfilter

  /** Rebuild when the hottest list exceeds 4x the mean non-empty list —
    * past that, probe cost and recall skew dominate any quantizer quality.
    * (A freshly built k-means index on natural data sits around 1.5-2.5.)
    */
  val DefaultMaxImbalance: Double = 4.0

  /** Rebuild when over half the store post-dates the frozen quantizer:
    * the centroids then describe a minority of the data.
    */
  val DefaultMaxAppendedFraction: Double = 0.5

  /** [[IvfIndex.maintenance]] output. `nAtBuild` is None for indexes written
    * before build counts were recorded (their appendedFraction reads 0.0 —
    * imbalance still monitors them). `suggestedNLists` is the geometry a
    * REBUILD should use ([[suggestNLists]]) — re-quantizing alone repairs
    * skew but not density (the ivf_drift probe's measured finding: after a
    * hot-direction doubling, a same-geometry rebuild cut hot-query probe
    * cost only ~10%); probe cost per query is ~nProbe × N / nLists, so
    * lists must scale with the corpus.
    */
  case class Maintenance(
      nLists: Int,
      nVectors: Long,
      nonEmptyLists: Int,
      maxListSize: Long,
      meanListSize: Double,
      imbalance: Double,
      nAtBuild: Option[Long],
      appendedFraction: Double,
      needsRebuild: Boolean,
      suggestedNLists: Int)

  /** Rebuild geometry suggestion: the published IVF rule of thumb (FAISS
    * guidelines — public knowledge) puts the cluster count around
    * sqrt(N); we floor at the CURRENT list count so a suggestion never
    * coarsens an index an operator deliberately built finer, and at 1 for
    * degenerate corpora.
    */
  private[graft] def suggestNLists(current: Int, nVectors: Long): Int =
    math.max(math.max(current, 1),
      math.ceil(math.sqrt(math.max(nVectors, 0L).toDouble)).toInt)

  private def buildMetaPath(path: String) = s"$path/buildmeta"

  // ── KB-sized index metadata: driver-side JSON I/O ─────────────────────
  // Centroids and build metadata are driver-resident by design (the probe
  // expression closes over the centroid array), so persisting them through
  // Spark write/read jobs was pure scheduler overhead — 2 jobs per build
  // plus 2-3 per uncached load plus 2 per maintenance/advisory read
  // (r19 measurement). Written aside + renamed into place, one file per
  // dir.

  private def writeJsonAside(spark: SparkSession, dir: String,
      name: String, lines: Seq[String]): Unit = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(d, true)
    fs.mkdirs(d)
    val tmp = new org.apache.hadoop.fs.Path(d, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(d, name)))
      throw new IllegalStateException(s"index meta rename failed under $dir")
  }

  private def readJsonLines(spark: SparkSession, dir: String): Option[Seq[String]] = {
    val d = new org.apache.hadoop.fs.Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) return None
    val files = fs.listStatus(d).toSeq.filter(s => s.isFile &&
      s.getPath.getName.endsWith(".jsonl"))
    if (files.isEmpty) return None
    Some(files.flatMap { f =>
      val in = fs.open(f.getPath)
      val text =
        try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
        finally in.close()
      text.split('\n').iterator.map(_.trim).filter(_.nonEmpty).toSeq
    })
  }

  private val BuildMetaRe =
    """\{"n_at_build":(-?\d+),"metric":"([a-z0-9_]+)"\}""".r
  private val CentroidRe =
    """\{"list_id":(\d+),"centroid":\[([^\]]*)\]\}""".r

  private[ml] def readBuildCount(spark: SparkSession, path: String): Option[Long] =
    readBuildMeta(spark, path).map(_._1)

  /** Metric recorded at build time. */
  private[ml] def readBuildMetric(spark: SparkSession, path: String): Option[String] =
    readBuildMeta(spark, path).map(_._2)

  private def readBuildMeta(spark: SparkSession, path: String): Option[(Long, String)] =
    readJsonLines(spark, buildMetaPath(path)).flatMap(_.headOption.collect {
      case BuildMetaRe(n, m) => (n.toLong, m)
    })

  /** The IVF data layout under an index `path` — one definition shared by
    * every reader and writer of it (the index itself and the catalog that
    * commits its slices next to the store's).
    */
  private[graft] def dataLayout(path: String): graft.operators.EpochStore.Layout = {
    import org.apache.spark.sql.types._
    graft.operators.EpochStore.Layout(s"$path/data", graft.operators.EpochStore.Lists,
      emptySchema = Some(StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("vector", ArrayType(FloatType), nullable = true),
        StructField("list_id", IntegerType, nullable = false)))))
  }

  /** Distributed index build. Input df must carry (idCol, vecCol[, meta]).
    * Writes `{path}/data/list_id=*` partitioned parquet and
    * `{path}/centroids` parquet.
    */
  def build(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nLists: Int = 64,
      metric: String = vector.MetricCosine,
      maxIter: Int = 10,
      seed: Long = 42L,
      log: Option[graft.operators.EpochLog] = None): IvfIndex = {
    import org.apache.spark.ml.clustering.KMeans
    import org.apache.spark.ml.functions.array_to_vector

    val spark = df.sparkSession
    // cosine metric: cluster on the unit sphere (spherical k-means
    // approximation) so centroid assignment agrees with cosine ranking
    val trainVec =
      if (metric == vector.MetricCosine) vector.l2_normalize(col(vecCol))
      else col(vecCol)
    val features = df.select(array_to_vector(trainVec).as("features"))
    val model = new KMeans()
      .setK(nLists).setMaxIter(maxIter).setSeed(seed)
      .setFeaturesCol("features")
      .fit(features)
    val rawCentroids = model.clusterCenters.map(_.toArray)
    // cosine metric: normalized centroids make assignment a pure dot product
    val cents =
      if (metric == vector.MetricCosine) rawCentroids.map { c =>
        val n = math.max(math.sqrt(c.map(x => x * x).sum), 1e-8)
        c.map(_ / n)
      } else rawCentroids

    writeIndex(df, idCol, vecCol, path, cents, metric, log)
  }

  /** Build with an explicit coarse quantizer instead of k-means — the
    * deterministic variant. Centroid assignment and probe order are then a
    * pure argmax over the given array (ties to the lower list id), which IS
    * expressible in ANSI SQL — so a search over this index can be
    * oracle-checked end to end (q46 uses corpus rows as centroids).
    * For the cosine metric the centroids are normalized here, mirroring
    * [[build]] (assignment order is scale-invariant either way).
    */
  def buildWithCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      centroids: Array[Array[Double]],
      metric: String = vector.MetricCosine,
      log: Option[graft.operators.EpochLog] = None): IvfIndex = {
    require(centroids.nonEmpty, "centroids must be non-empty")
    val cents =
      if (metric == vector.MetricCosine) centroids.map { c =>
        val n = math.max(math.sqrt(c.map(x => x * x).sum), 1e-8)
        c.map(_ / n)
      } else centroids
    writeIndex(df, idCol, vecCol, path, cents, metric, log)
  }

  private def writeIndex(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      cents: Array[Array[Double]],
      metric: String,
      log: Option[graft.operators.EpochLog]): IvfIndex = {
    val spark = df.sparkSession
    val idx = new IvfIndex(spark, path, cents, metric, log)
    // a rebuild rewrites the data layout: re-infer its read schema
    graft.operators.EpochStore.forgetSchemas(s"$path/")
    // log-governed builds land the full dataset under the NEWEST committed
    // epoch of the owning log (the input df is exactly the committed rows),
    // so index reads resolve that one directory plus later append epochs;
    // log-less builds keep the flat layout
    val dataDir = log match {
      case None => s"$path/data"
      case Some(l) =>
        s"$path/data/epoch=${l.committedEpochs().lastOption.getOrElse(0L)}"
    }
    // build-time row count observed inside the write pass (single pass over
    // user lineage) — it anchors maintenance()'s appendedFraction signal
    val projected = idx.assign(df, idCol, vecCol)
    // A NARROW input (one small parquet file plans as one partition)
    // otherwise writes every list's file from a single task, sequentially
    // — per-file open/commit cost × nLists on one core. Hash-clustering
    // by list_id spreads the per-list files across tasks AND keeps one
    // file per list (round-robin would fragment each list across every
    // task). Inputs already wide — a shuffle in the lineage, or at least
    // min(nLists, cores) scan partitions — are left untouched, so no
    // exchange is ever added to a corpus-scale build (same two-tier test
    // as [[graft.operators.Dedup.widen]]).
    val alreadyWide = "(?<![A-Za-z])Exchange (?!SinglePartition)".r
      .findFirstIn(projected.queryExecution.executedPlan.toString).isDefined
    val sized =
      if (alreadyWide) projected
      else {
        val target = math.min(cents.length,
          spark.sparkContext.defaultParallelism)
        if (projected.rdd.getNumPartitions >= target) projected
        else projected.repartition(target, col("list_id"))
      }
    val obs = org.apache.spark.sql.Observation()
    sized
      .observe(obs, count(lit(1)).as("n"))
      .write.mode("overwrite").partitionBy("list_id").parquet(dataDir)
    val nBuilt = obs.get("n").asInstanceOf[Long]

    // KB-sized metadata lands driver-side (Double.toString/parseDouble
    // round-trips exactly, so centroids survive bit-for-bit)
    writeJsonAside(spark, s"$path/centroids", "centroids.jsonl",
      cents.zipWithIndex.toSeq.map { case (c, i) =>
        s"""{"list_id":$i,"centroid":[${c.mkString(",")}]}"""
      })
    writeJsonAside(spark, buildMetaPath(path), "buildmeta.jsonl",
      Seq(s"""{"n_at_build":$nBuilt,"metric":"$metric"}"""))
    idx
  }

  /** Load a previously built index under its PERSISTED metric (recorded at
    * build time in the buildmeta). Probing and scoring under any other
    * metric than the one the centroids were trained for silently returns
    * wrong rankings, so the metric is index state, not a load option.
    */
  def load(spark: SparkSession, path: String): IvfIndex =
    load(spark, path, None, None)

  /** Load with an explicit metric: validated against the persisted one
    * (mismatch throws); for pre-metric-persistence indexes it is trusted.
    */
  def load(spark: SparkSession, path: String, metric: String): IvfIndex =
    load(spark, path, Some(metric), None)

  /** Load attached to the epoch log that governs this index's data layout
    * (catalog-managed epoch stores) — reads resolve committed epochs only.
    */
  def load(spark: SparkSession, path: String, metric: String,
      log: Option[graft.operators.EpochLog]): IvfIndex =
    load(spark, path, Some(metric), log)

  private def load(spark: SparkSession, path: String, metric: Option[String],
      log: Option[graft.operators.EpochLog]): IvfIndex = {
    val resolved = (readBuildMetric(spark, path), metric) match {
      case (Some(p), Some(m)) =>
        require(p == m, s"index at $path was built with metric '$p' but " +
          s"load was asked for '$m'; omit the metric to use the persisted " +
          "one, or rebuild the index")
        p
      case (Some(p), None) => p
      case (None, Some(m)) => m // legacy index: caller-declared
      case (None, None) => vector.MetricCosine // legacy index, legacy default
    }
    val cents = readJsonLines(spark, s"$path/centroids") match {
      case Some(lines) =>
        lines.map {
          case CentroidRe(i, vals) =>
            (i.toInt, vals.split(',').map(_.trim.toDouble))
          case other => throw new IllegalStateException(
            s"corrupt centroid line under $path/centroids: $other")
        }.sortBy(_._1).map(_._2).toArray
      case None => throw new IllegalStateException(
        s"no centroids.jsonl under $path/centroids (an absent index or an " +
          "unsupported legacy parquet format); rebuild the index")
    }
    new IvfIndex(spark, path, cents, resolved, log)
  }
}
