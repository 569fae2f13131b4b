package graft.ml

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The persisted-SemDeDup equivalence contract: on a stationary corpus
  * (frozen centroids), batch-scoped incremental pairs must equal the
  * full-recluster [[SemDedup.pairsWithCentroids]] pass restricted to pairs
  * touching the batch — no recall lost to incrementality.
  */
class SemDedupIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val emb = spark.read
    .parquet("/root/testdata/sf0.001/embeddings.parquet")
    .select($"vec_id".as("id"), $"embedding".as("vector")).cache()

  private lazy val corpus = emb.filter($"id" < 400)
  // batch: background rows + positively-scaled copies of corpus rows
  // (cosine 1.0 with their source — guaranteed semantic duplicates)
  private lazy val batch = emb.filter($"id" >= 400)
    .unionAll(emb.filter($"id" < 30).select(
      ($"id" + 10000).as("id"),
      transform($"vector", x => x * lit(2.0f)).as("vector")))

  private lazy val index = {
    val p = java.nio.file.Files.createTempDirectory("graft_semdedup_idx").toString
    SemDedupIndex.build(corpus, "id", "vector", p, nClusters = 8, maxIter = 5)
  }

  test("incremental batch-scoped pairs == full-recluster pairs on a stationary corpus") {
    val threshold = 0.95
    val cross = index.dedupBatch(batch, "id", "vector", threshold)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect()
      .map { case (b, c) => (math.min(b, c), math.max(b, c)) }.toSet
    val within = index.batchPairs(batch, "id", "vector", threshold)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet

    // the full pass over corpus ∪ batch with the SAME frozen centroids
    val full = SemDedup.pairsWithCentroids(
      corpus.unionAll(batch), "id", "vector", index.centroids, threshold)
      .as[(Long, Long)].collect().toSet
    val batchIds = batch.select($"id").as[Long].collect().toSet
    val fullCross = full.filter { case (a, b) =>
      batchIds.contains(a) ^ batchIds.contains(b) }
    val fullWithin = full.filter { case (a, b) =>
      batchIds.contains(a) && batchIds.contains(b) }

    assert(cross == fullCross,
      s"cross pairs diverge: incremental ${cross.size}, full ${fullCross.size}")
    assert(within == fullWithin,
      s"within-batch pairs diverge: incremental ${within.size}, full ${fullWithin.size}")
    // the planted copies guarantee the contract is not vacuous
    assert(cross.size >= 30, s"expected >=30 planted cross dups, got ${cross.size}")
  }

  test("corpus is read partition-pruned to the batch's clusters") {
    val plan = index.dedupBatch(batch.limit(5), "id", "vector", 0.95)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("list_id"),
      s"expected a cluster (list_id) partition filter in:\n$plan")
  }

  test("append grows the stored corpus; maintenance reports the drift") {
    val p = java.nio.file.Files.createTempDirectory("graft_semdedup_app").toString
    val idx = SemDedupIndex.build(emb.filter($"id" < 300), "id", "vector", p,
      nClusters = 4, maxIter = 5)
    assert(idx.append(emb.filter($"id" >= 300 && $"id" < 400)) == 100L)
    // an appended row now matches a scaled copy of itself
    val probe = emb.filter($"id" === 350).select(
      ($"id" + 50000).as("id"),
      transform($"vector", x => x * lit(3.0f)).as("vector"))
    val hits = idx.dedupBatch(probe, "id", "vector", threshold = 0.999)
      .select($"corpus_id").as[Long].collect().toSet
    assert(hits.contains(350L), s"appended row must be matchable, got $hits")
    val m = idx.maintenance()
    assert(m.nVectors == 400 && m.appendedFraction === 0.25)
  }

  test("ingestBatch: kept set is chopping-independent and sweep-exact") {
    val threshold = 0.95
    // one big batch vs the same rows in two id-ordered chops must accept
    // the same ids (the keep-vs-ACCEPTED sweep contract, semantic family)
    def freshIdx(tag: String) = {
      val p = java.nio.file.Files
        .createTempDirectory(s"graft_semdedup_ing_$tag").toString
      SemDedupIndex.build(corpus, "id", "vector", p, nClusters = 8, maxIter = 5)
    }
    val ordered = batch.orderBy($"id")
    val oneShot = freshIdx("one")
    val keptOne = oneShot.ingestBatch(ordered, "id", "vector", threshold)
      .select($"id").as[Long].collect().toSet
    val twoShot = freshIdx("two")
    val lo = ordered.filter($"id" < 480)
    val hi = ordered.filter($"id" >= 480)
    val keptTwo =
      twoShot.ingestBatch(lo, "id", "vector", threshold)
        .select($"id").as[Long].collect().toSet ++
      twoShot.ingestBatch(hi, "id", "vector", threshold)
        .select($"id").as[Long].collect().toSet
    assert(keptOne == keptTwo,
      s"chopping changed the kept set: one=${keptOne.size} two=${keptTwo.size}")
    // every planted scaled copy (>= 10000) duplicates a CORPUS row → dropped
    assert(keptOne.forall(_ < 10000), "planted corpus copies must drop")
    // survivors are appended: a copy of a survivor now matches the index
    val probe = emb.filter($"id" === keptOne.head).select(
      ($"id" + 90000).as("id"),
      transform($"vector", x => x * lit(2.0f)).as("vector"))
    val hits = oneShot.dedupBatch(probe, "id", "vector", threshold)
      .select($"corpus_id").as[Long].collect().toSet
    assert(hits.contains(keptOne.head))
  }

  test("compact rewrites epochs to one and preserves dedupBatch exactly") {
    val p = java.nio.file.Files.createTempDirectory("graft_semdedup_cpt").toString
    val idx = SemDedupIndex.build(emb.filter($"id" < 300), "id", "vector", p,
      nClusters = 4, maxIter = 5)
    idx.append(emb.filter($"id" >= 300 && $"id" < 350))
    idx.append(emb.filter($"id" >= 350 && $"id" < 400))
    val before = idx.dedupBatch(batch, "id", "vector", 0.95)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    idx.compact()
    val reloaded = SemDedupIndex.load(spark, p)
    assert(reloaded.ivf.log.get.committedEpochs().size == 1,
      "compaction must leave exactly one live epoch")
    val after = reloaded.dedupBatch(batch, "id", "vector", 0.95)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(after == before, "compaction must not change dedup output")
  }

  test("vacuum folds old epochs and preserves dedupBatch exactly") {
    val p = java.nio.file.Files.createTempDirectory("graft_semdedup_vac").toString
    val idx = SemDedupIndex.build(emb.filter($"id" < 200), "id", "vector", p,
      nClusters = 4, maxIter = 5)
    (0 until 4).foreach(i => idx.append(
      emb.filter($"id" >= 200 + i * 50 && $"id" < 250 + i * 50)))
    val before = idx.dedupBatch(batch, "id", "vector", 0.95)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(idx.vacuum(keepLast = 2) == 3, "epochs 0..2 must fold")
    assert(idx.committedEpochCount == 3, "fold + the 2 kept epochs")
    val after = SemDedupIndex.load(spark, p)
      .dedupBatch(batch, "id", "vector", 0.95)
      .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(after == before, "vacuum must not change dedup output")
    // composes: the fold slice re-folds with the next horizon crossing
    idx.append(emb.filter($"id" >= 400 && $"id" < 450))
    assert(idx.vacuum(keepLast = 2) == 2,
      "the previous fold + the oldest kept epoch re-fold")
    val again = idx.dedupBatch(emb.filter($"id" < 450), "id", "vector", 0.999)
    assert(again.filter($"batch_id" === $"corpus_id").count() == 450L,
      "every stored row still matches itself after two vacuums")
    // commit-log arithmetic still agrees with the layout
    assert(idx.maintenance().nVectors == 450L)
  }

  test("asOf pins the stored corpus; vacuum expires old pins loudly") {
    val p = java.nio.file.Files.createTempDirectory("graft_semdedup_asof").toString
    val idx = SemDedupIndex.build(emb.filter($"id" < 300), "id", "vector", p,
      nClusters = 4, maxIter = 5)
    idx.append(emb.filter($"id" >= 300 && $"id" < 350)) // epoch 1
    idx.append(emb.filter($"id" >= 350 && $"id" < 400)) // epoch 2
    val probe = emb.filter($"id" === 350).select(
      ($"id" + 80000).as("id"),
      transform($"vector", x => x * lit(2.0f)).as("vector"))
    def hits(asOf: Option[Long]) =
      idx.dedupBatch(probe, "id", "vector", threshold = 0.999, asOf = asOf)
        .select($"corpus_id").as[Long].collect().toSet
    assert(hits(None).contains(350L))
    assert(!hits(Some(1L)).contains(350L),
      "row 350 does not exist at the epoch-1 pin")
    assert(hits(Some(2L)).contains(350L))
    assert(idx.epochs == Seq(0L, 1L, 2L))
    assert(idx.vacuum(keepLast = 1) == 2, "epochs 0+1 must fold")
    val gone = intercept[IllegalArgumentException] { hits(Some(1L)) }
    assert(gone.getMessage.contains("not in the committed history"))
    // the kept epoch and the fold slice remain addressable pins
    assert(hits(Some(2L)).contains(350L))
    // a log-less legacy layout refuses pins loudly
    val legacyPath =
      java.nio.file.Files.createTempDirectory("graft_semdedup_nolog").toString
    val legacy = SemDedupIndex.Index(
      IvfIndex.buildWithCentroids(emb.filter($"id" < 100), "id", "vector",
        legacyPath, Array(Array.fill(
          emb.select($"vector").head().getSeq[Float](0).size)(0.1))),
      legacyPath)
    val refuse = intercept[IllegalArgumentException] {
      legacy.dedupBatch(probe, "id", "vector", 0.9, asOf = Some(0L))
    }
    assert(refuse.getMessage.contains("no commit log"))
  }

  test("searchBatch(asOf) serves neighbors from the pinned corpus") {
    val p = java.nio.file.Files.createTempDirectory("graft_semdedup_sb").toString
    val idx = SemDedupIndex.build(emb.filter($"id" < 300), "id", "vector", p,
      nClusters = 4, maxIter = 5)
    idx.append(emb.filter($"id" >= 300 && $"id" < 400)) // epoch 1
    val queries = emb.filter($"id" === 350)
      .select($"id".as("query_id"), $"vector".as("query_vec"))
    // nProbe = nLists: exhaustive, so rank 1 is the exact nearest
    def top1(asOf: Option[Long]) =
      idx.ivf.searchBatch(queries, k = 1, nProbe = 4, asOf = asOf)
        .filter($"rank" === 1).select($"id").as[Long].head()
    assert(top1(None) == 350L, "the live read serves the appended row itself")
    assert(top1(Some(0L)) != 350L,
      "the epoch-0 pin predates row 350 — 'which neighbors would we have " +
        "served as of snapshot N'")
  }

  test("a crashed (uncommitted) append is invisible to readers") {
    val p = java.nio.file.Files.createTempDirectory("graft_semdedup_crash").toString
    val idx = SemDedupIndex.build(emb.filter($"id" < 300), "id", "vector", p,
      nClusters = 4, maxIter = 5)
    // simulate a crash mid-append: the epoch directory lands, the commit
    // row never does — readers must not see the orphan rows
    val log = idx.ivf.log.get
    val orphanEpoch = log.nextEpoch()
    idx.ivf.store.get.writeSlice(Seq(idx.ivf.assign(
      emb.filter($"id" >= 300 && $"id" < 400), "id", "vector")), orphanEpoch)
    val probe = emb.filter($"id" === 350).select(
      ($"id" + 70000).as("id"), $"vector")
    val hits = SemDedupIndex.load(spark, p)
      .dedupBatch(probe, "id", "vector", threshold = 0.999)
      .select($"corpus_id").as[Long].collect().toSet
    assert(!hits.contains(350L), "uncommitted epoch rows must be invisible")
    // a committed retry of the same epoch becomes visible
    log.commit(orphanEpoch, "add", 100L)
    val hits2 = SemDedupIndex.load(spark, p)
      .dedupBatch(probe, "id", "vector", threshold = 0.999)
      .select($"corpus_id").as[Long].collect().toSet
    assert(hits2.contains(350L))
  }

  test("load restores centroids and serves the same pairs") {
    val loaded = SemDedupIndex.load(spark, index.path)
    assert(loaded.centroids.length == 8)
    val t = 0.95
    def run(i: SemDedupIndex.Index) =
      i.dedupBatch(batch, "id", "vector", t)
        .select($"batch_id", $"corpus_id").as[(Long, Long)].collect().toSet
    assert(run(loaded) == run(index))
  }
}
