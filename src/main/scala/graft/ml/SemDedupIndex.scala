package graft.ml

import graft.functions.vector
import graft.operators.{Dedup, EpochIndex, EpochLog}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** PERSISTED SemDeDup state — the incremental form of [[SemDedup]]: the
  * k-means centroids and the cluster-partitioned corpus assignments are
  * written once at build, so a new batch is scoped to its OWN clusters
  * against stored rows without re-clustering or re-assigning the corpus —
  * the [[graft.operators.FingerprintIndex]]/[[graft.operators
  * .HyperplaneIndex]] discipline for the semantic-dedup family.
  *
  * The layout IS an [[IvfIndex]] (centroids + `data/list_id=*` where
  * list_id is the SemDeDup cluster): assignment, partition-pruned
  * cluster reads, O(batch) [[append]] and [[maintenance]] drift signals
  * (imbalance / appendedFraction = the re-cluster triggers) are all
  * inherited rather than re-implemented.
  *
  * Equivalence contract (spec-asserted): on a stationary corpus — same
  * frozen centroids — `dedupBatch(B)` ∪ `batchPairs(B)` equals
  * [[SemDedup.pairsWithCentroids]] over corpus ∪ B restricted to pairs
  * touching B, whenever no cluster exceeds `maxClusterSize` (the cap
  * truncates the CORPUS side deterministically, lowest ids kept, exactly
  * like the batch path caps).
  */
object SemDedupIndex {

  case class Index(ivf: IvfIndex, path: String) {
    def spark: SparkSession = ivf.spark
    def centroids: Array[Array[Double]] = ivf.centroids

    /** Which batch rows semantically duplicate a STORED row:
      * (batch_id, corpus_id, cosine) with cosine >= threshold and both
      * sides in the SAME cluster. The corpus scan is partition-pruned to
      * the clusters the batch actually lands in; corpus vectors are read
      * only there; nothing is re-clustered.
      *
      * `asOf = Some(epoch)` pins the STORED side at a committed snapshot
      * — "which embeddings would we have flagged as of snapshot N", the
      * q163 audit answered on the semantic family: later appends are
      * invisible, the pin expires loudly under compaction/vacuum
      * ([[graft.ml.IvfIndex.requirePin]]), and centroids are FROZEN index
      * state so pinned assignment equals what the pinned run computed.
      */
    def dedupBatch(
        batch: DataFrame,
        idCol: String,
        vecCol: String,
        threshold: Double,
        maxClusterSize: Int = 10000,
        asOf: Option[Long] = None): DataFrame =
      dedupAssigned(assignBatch(batch, idCol, vecCol), threshold,
        maxClusterSize, asOf)

    private def dedupAssigned(
        assigned: DataFrame, threshold: Double,
        maxClusterSize: Int, asOf: Option[Long] = None): DataFrame = {
      val clusters = assigned.select(col("cluster")).distinct()
        .collect().map(_.getInt(0)).toSeq // <= nClusters by construction
      val corpus = cappedCorpus(clusters, maxClusterSize, asOf)
      assigned.as("b")
        .join(corpus.as("c"), col("b.cluster") === col("c.cluster"))
        .select(col("b.id").as("batch_id"), col("c.id").as("corpus_id"),
          vector.cosine_sim(col("b._v"), col("c._cv")).as("cosine"))
        .filter(col("cosine") >= threshold)
    }

    /** Within-batch semantic duplicates, cluster-scoped like everything
      * else: (id_a, id_b, cosine), id_a < id_b, same cluster. The batch
      * side is never capped — a batch row must not lose its chance to
      * match ([[graft.operators.HyperplaneIndex]] discipline).
      */
    def batchPairs(
        batch: DataFrame,
        idCol: String,
        vecCol: String,
        threshold: Double): DataFrame =
      pairsAssigned(assignBatch(batch, idCol, vecCol), threshold)

    private def pairsAssigned(
        assigned: DataFrame, threshold: Double): DataFrame =
      assigned.as("a")
        .join(assigned.as("b"),
          col("a.cluster") === col("b.cluster") && col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          vector.cosine_sim(col("a._v"), col("b._v")).as("cosine"))
        .filter(col("cosine") >= threshold)

    /** ONLINE ingest dedup for the semantic family — the
      * [[graft.operators.FingerprintIndex.ingestBatch]] contract with
      * SemDeDup's cluster-scoped exact-cosine semantics: drop batch rows
      * that semantically duplicate the indexed corpus or a KEPT lower-id
      * batch row ([[Dedup.acceptedSweepDropped]]), append exactly the
      * survivors against the FROZEN centroids, return the surviving rows.
      * Recall is cluster-scoped (SemDeDup's published trade — a pair
      * split across clusters is not compared) plus the corpus-side
      * `maxClusterSize` truncation; precision is exact-cosine.
      *
      * `onKept` runs with the final kept frame BEFORE the index append —
      * the at-least-once replay seam; see
      * [[graft.operators.FingerprintIndex.ingestBatch]] for the full
      * contract (a sink written after return loses the batch's survivors
      * when a crash lands between the append and the caller's checkpoint
      * commit; a sink inside `onKept` sees at-worst duplicates).
      */
    def ingestBatch(
        batch: DataFrame,
        idCol: String,
        vecCol: String,
        threshold: Double,
        maxClusterSize: Int = 10000,
        maxSweepEdges: Int = Dedup.SmallGraphEdgeThreshold.toInt,
        onKept: DataFrame => Unit = _ => ()): DataFrame = {
      // ONE assignment pass feeds the corpus match AND the within-batch scan
      val assigned = assignBatch(batch, idCol, vecCol)
      val dropped = EpochIndex.sweepDropped(
        dedupAssigned(assigned, threshold, maxClusterSize),
        pairsAssigned(assigned, threshold), maxSweepEdges)
      val keptDf = EpochIndex.withoutIds(batch, col(idCol).cast("long"), dropped)
      // sink first, append second — the at-least-once replay contract
      onKept(keptDf)
      append(keptDf, idCol, vecCol)
      keptDf
    }

    /** Grow the stored corpus by a batch — O(batch) assignment + append
      * against the FROZEN centroids; no re-clustering. Epoch-committed
      * (write-then-commit) when the index carries a log (every build since
      * the log landed does): a crash mid-append leaves an invisible
      * orphan, never a half-visible batch. Watch [[maintenance]] for when
      * frozen clusters stop describing the data.
      */
    def append(rows: DataFrame, idCol: String = "id", vecCol: String = "vector"): Long =
      ivf.append(rows, idCol, vecCol)

    /** Cluster drift signals: imbalance and appended fraction are exactly
      * the SemDeDup re-cluster triggers.
      */
    def maintenance(): IvfIndex.Maintenance = ivf.maintenance()

    /** Committed epoch-directory count — commit-log arithmetic, free; the
      * cheap proliferation signal the streaming `autoCompact` hook polls
      * per micro-batch (cluster drift still needs [[maintenance]]'s scan).
      */
    def committedEpochCount: Int =
      ivf.log.map(_.committedEpochs().length).getOrElse(1)

    /** Addressable snapshot pins for [[dedupBatch]]'s `asOf` — the
      * committed epoch set ([[graft.ml.IvfIndex.epochs]]).
      */
    def epochs: Seq[Long] = ivf.epochs

    /** Epoch retention on the semantic family's IVF layout —
      * [[graft.ml.IvfIndex.vacuum]]: fold history below the newest
      * `keepLast` epochs into one cluster-partitioned slice instead of
      * `compact()`'s O(index) full rewrite. Returns epochs folded.
      */
    def vacuum(keepLast: Int): Int = ivf.vacuum(keepLast)

    /** Rewrite live epochs into one — the explicit batch maintenance job
      * ([[graft.operators.FingerprintIndex.compact]] discipline): the
      * committed corpus lands under a fresh epoch as one replace commit
      * ([[graft.operators.EpochStore.replace]]). `dedupBatch` output is
      * unchanged (spec-asserted).
      */
    def compact(): Unit = ivf.store.foreach { s =>
      if (s.log.committedEpochs().lengthCompare(1) > 0) s.replace(Seq(ivf.storeDf))
    }

    private def assignBatch(
        batch: DataFrame, idCol: String, vecCol: String): DataFrame =
      batch.select(
        col(idCol).cast("long").as("id"),
        col(vecCol).as("_v"),
        ivf.probes(col(vecCol), 1).getItem(0).as("cluster"))
        .localCheckpoint(true) // feeds the cluster prune AND the verify join

    private def cappedCorpus(clusters: Seq[Int], maxClusterSize: Int,
        asOf: Option[Long] = None): DataFrame = {
      val pruned = asOf.fold(ivf.storeDf)(ivf.storeDfAt)
        .filter(col("list_id").isin(clusters: _*))
        .select(col("id"), col("vector").as("_cv"), col("list_id").as("cluster"))
      // deterministic corpus-side cap, lowest ids — SemDedup.pairsWithCentroids'
      // cap restricted to the stored side
      val w = Window.partitionBy(col("cluster")).orderBy(col("id"))
      pruned.withColumn("_rn", row_number().over(w))
        .filter(col("_rn") <= maxClusterSize)
        .drop("_rn")
    }
  }

  /** Build from k-means on the corpus (the [[SemDedup.pairs]] quantizer,
    * persisted): trains, assigns, writes centroids + cluster-partitioned
    * rows in one pass over the corpus.
    */
  def build(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      nClusters: Int = 64,
      metric: String = vector.MetricCosine,
      maxIter: Int = 10,
      seed: Long = 42L): Index = {
    val log = EpochLog(df.sparkSession, path)
    val idx = Index(IvfIndex.build(df, idCol, vecCol, path, nClusters, metric,
      maxIter, seed, log = Some(log)), path)
    log.reset(nAtBuild(idx))
    idx
  }

  /** Deterministic twin: explicit centroids (the [[SemDedup
    * .pairsWithCentroids]] quantizer, persisted).
    */
  def buildWithCentroids(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      path: String,
      centroids: Array[Array[Double]],
      metric: String = vector.MetricCosine): Index = {
    val log = EpochLog(df.sparkSession, path)
    val idx = Index(IvfIndex.buildWithCentroids(df, idCol, vecCol, path,
      centroids, metric, log = Some(log)), path)
    log.reset(nAtBuild(idx))
    idx
  }

  // the build wrote data/epoch=0 (a fresh log has no commits); reset makes
  // that epoch the one committed replace row — the FingerprintIndex.build
  // bootstrap, with the row count the build already observed
  private def nAtBuild(idx: Index): Long =
    IvfIndex.readBuildCount(idx.spark, idx.path).getOrElse(0L)

  /** Load previously persisted SemDeDup state (metric from buildmeta).
    * Indexes written before the epoch log landed have no commit log and
    * load log-less (flat-layout reads, plain appends), exactly as built.
    */
  def load(spark: SparkSession, path: String): Index = {
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val log =
      if (fs.exists(new org.apache.hadoop.fs.Path(s"$path/commits")))
        Some(EpochLog(spark, path))
      else None
    val metric = IvfIndex.readBuildMetric(spark, path)
      .getOrElse(vector.MetricCosine)
    Index(IvfIndex.load(spark, path, metric, log), path)
  }
}
