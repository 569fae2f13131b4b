package graft.operators

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintIndexSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private lazy val docs = spark.read
    .parquet("/root/testdata/sf0.001/documents.parquet")
    .select($"doc_id", $"text").cache()

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.as[(Long, Long, Double)].collect().toSet

  test("indexed batch dedup equals the recompute-everything operator") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx").toString
    val corpus = docs.filter($"doc_id" < 400)
    val batch = docs.filter($"doc_id" >= 400)
    val idx = FingerprintIndex.build(corpus, "doc_id", "text", p)
    val indexed = pairs(idx.dedupBatch(batch, "doc_id", "text", threshold = 0.5))
    val direct = pairs(Dedup.nearDupAgainstMinHash(corpus, batch,
      "doc_id", "text", threshold = 0.5))
    // hashed-shingle Jaccard == string-shingle Jaccard barring collisions
    assert(indexed == direct)
    assert(indexed.nonEmpty, "testdata is known to contain cross-split near-dups")
  }

  test("gather-pruned verify returns identical pairs and filters the layout scan") {
    // gatherPruneMinCorpus = 0 forces the at-scale path (candidate ids
    // collected, verify layout scan filtered to them) on the small corpus;
    // the result contract must be byte-identical to the full-scan plan
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_gp").toString
    val corpus = docs.filter($"doc_id" < 400)
    val batch = docs.filter($"doc_id" >= 400)
    val idx = FingerprintIndex.build(corpus, "doc_id", "text", p)
    val full = idx.dedupBatch(batch, "doc_id", "text", threshold = 0.5)
    val pruned = idx.dedupBatch(batch, "doc_id", "text", threshold = 0.5,
      gatherPruneMinCorpus = 0L)
    assert(pairs(pruned) == pairs(full))
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("INSET") || plan.contains(" IN ("),
      "the pruned plan must carry the candidate-id predicate into the " +
        "layout scan")
  }

  test("gatherPruned: cap overflow and empty-candidate short circuits") {
    val stored = (0L until 100L).map(i => (i, s"v$i")).toDF("id", "payload")
    val cands = Seq(3L, 7L, 3L).toDF("corpus_id")
    // under the corpus gate: untouched plan
    assert(EpochIndex.gatherPruned(stored, cands, "corpus_id",
      corpusRows = 10L, minCorpus = 100L).count() == 100)
    // active: scan filtered to the distinct candidate ids
    assert(EpochIndex.gatherPruned(stored, cands, "corpus_id",
      corpusRows = 1000L, minCorpus = 100L)
      .select($"id").as[Long].collect().toSet == Set(3L, 7L))
    // cap overflow: falls back to the full layout (the batch resembles
    // the corpus; the full join was the right plan)
    assert(EpochIndex.gatherPruned(stored, cands, "corpus_id",
      corpusRows = 1000L, minCorpus = 100L, maxIds = 1).count() == 100)
    // no candidates: nothing to gather
    assert(EpochIndex.gatherPruned(stored, cands.limit(0), "corpus_id",
      corpusRows = 1000L, minCorpus = 100L).count() == 0)
  }

  test("vacuum folds old epochs, preserves the match set, reclaims dirs, " +
    "composes with later appends and a re-vacuum") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_vac").toString
    val corpus = docs.filter($"doc_id" < 400)
    val batch = docs.filter($"doc_id" >= 400)
    val idx = FingerprintIndex.build(
      corpus.filter($"doc_id" % 5 === 0), "doc_id", "text", p)
    (1 to 3).foreach(r =>
      idx.append(corpus.filter($"doc_id" % 5 === r), "doc_id", "text"))
    val before = pairs(FingerprintIndex.load(spark, p)
      .dedupBatch(corpus.filter($"doc_id" % 5 === 4)
        .unionAll(batch), "doc_id", "text", threshold = 0.5))
    val log = EpochLog(spark, p)
    val (epochsBefore, rowsBefore, _) = log.sizeStats()
    assert(epochsBefore == 4)
    def epochDirs(): Set[String] = {
      val d = new java.io.File(s"$p/docs")
      Option(d.listFiles()).getOrElse(Array.empty)
        .filter(_.getName.startsWith("epoch=")).map(_.getName).toSet
    }
    assert(epochDirs() == Set("epoch=0", "epoch=1", "epoch=2", "epoch=3"))
    assert(idx.vacuum(keepLast = 2) == 2, "epochs 0+1 fold")
    // dirs reclaimed: 0 and 1 gone, fold epoch 4 present
    assert(epochDirs() == Set("epoch=2", "epoch=3", "epoch=4"))
    val (epochsAfter, rowsAfter, _) = log.sizeStats()
    assert(epochsAfter == 3 && rowsAfter == rowsBefore,
      "commit-unit totals survive the fold (pure log arithmetic)")
    // results identical through a reloaded handle (no cached state)
    val after = pairs(FingerprintIndex.load(spark, p)
      .dedupBatch(corpus.filter($"doc_id" % 5 === 4)
        .unionAll(batch), "doc_id", "text", threshold = 0.5))
    assert(after == before, "vacuum must be invisible to match results")
    // ingest continues on the folded log; a re-vacuum re-folds (the fold
    // slice is the logically oldest content and never counts as kept)
    idx.append(corpus.filter($"doc_id" % 5 === 4), "doc_id", "text")
    assert(idx.vacuum(keepLast = 1) == 3,
      "fold slice + epochs 2 and 3 re-fold under keepLast=1")
    val finalPairs = pairs(FingerprintIndex.load(spark, p)
      .dedupBatch(batch, "doc_id", "text", threshold = 0.5))
    val direct = pairs(Dedup.nearDupAgainstMinHash(corpus, batch,
      "doc_id", "text", threshold = 0.5))
    assert(finalPairs == direct,
      "twice-vacuumed five-epoch index equals the recompute operator")
    // no-op below the keepLast horizon
    assert(idx.vacuum(keepLast = 8) == 0)
  }

  test("vacuum sweeps crash-orphaned epoch directories: dead dirs a prior " +
    "run failed to prune are reclaimed, results untouched") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_orph").toString
    val corpus = docs.filter($"doc_id" < 300)
    val idx = FingerprintIndex.build(
      corpus.filter($"doc_id" % 3 === 0), "doc_id", "text", p)
    (1 to 2).foreach(r =>
      idx.append(corpus.filter($"doc_id" % 3 === r), "doc_id", "text"))
    // synthesize the crash window: a dead epoch directory that is on disk
    // but referenced by no live commit (e.g. a vacuum that died between
    // commitVacuum and its deleteDir loop)
    val orphan = new java.io.File(s"$p/docs/epoch=97")
    orphan.mkdirs()
    java.nio.file.Files.write(
      new java.io.File(orphan, "part-zombie.parquet").toPath, Array[Byte](9))
    val before = pairs(FingerprintIndex.load(spark, p)
      .dedupBatch(docs.filter($"doc_id" >= 300), "doc_id", "text",
        threshold = 0.5))
    assert(idx.vacuum(keepLast = 1) == 2)
    assert(!orphan.exists(),
      "the next vacuum must reclaim the crash-orphaned directory")
    val after = pairs(FingerprintIndex.load(spark, p)
      .dedupBatch(docs.filter($"doc_id" >= 300), "doc_id", "text",
        threshold = 0.5))
    assert(after == before, "the sweep must be invisible to match results")
    // the sweep never touches the nextEpoch slot (an uncommitted append
    // parked there is the next writer's to overwrite, not the sweep's)
    val log = EpochLog(spark, p)
    val parked = new java.io.File(s"$p/docs/epoch=${log.nextEpoch()}")
    parked.mkdirs()
    assert(log.sweepOrphanDirs(Seq(s"$p/docs")).isEmpty)
    assert(parked.exists(), "nextEpoch slot must survive a sweep")
  }

  test("vacuum re-buckets a gather-bucketed layout and keeps the " +
    "pruned-path match set") {
    // the fold read crosses TWO partition levels (epoch + gb) and the
    // rewrite must land bucketed again, or gatherPruned's directory
    // prune would silently read nothing from the fold slice
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_vacgb").toString
    val corpus = docs.filter($"doc_id" < 400)
    val batch = docs.filter($"doc_id" >= 400)
    val idx = FingerprintIndex.build(
      corpus.filter($"doc_id" % 3 === 0), "doc_id", "text", p,
      gatherBuckets = 8)
    (1 to 2).foreach(r =>
      idx.append(corpus.filter($"doc_id" % 3 === r), "doc_id", "text"))
    val before = pairs(idx.dedupBatch(batch, "doc_id", "text",
      threshold = 0.5, gatherPruneMinCorpus = 0L))
    assert(idx.vacuum(keepLast = 1) == 2)
    val reloaded = FingerprintIndex.load(spark, p)
    // the at-scale gather-pruned path must read the re-bucketed fold
    assert(pairs(reloaded.dedupBatch(batch, "doc_id", "text",
      threshold = 0.5, gatherPruneMinCorpus = 0L)) == before)
    // and the gb directories exist under the fold epoch
    val foldEpoch = EpochLog(spark, p).committedEpochs().max
    val gbDirs = Option(new java.io.File(s"$p/docs/epoch=$foldEpoch")
      .listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith("gb=")).length
    assert(gbDirs == 8, s"fold slice must be re-bucketed, got $gbDirs dirs")
  }

  test("asOf pins a snapshot: matches run against the corpus AS IT WAS; " +
    "appends invisible to the pin; vacuum expires old pins loudly") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_asof").toString
    val corpus = docs.filter($"doc_id" < 400)
    val batch = docs.filter($"doc_id" >= 400)
    def fifth(r: Int) = corpus.filter($"doc_id" % 5 === r)
    val idx = FingerprintIndex.build(fifth(0), "doc_id", "text", p)
    (1 to 2).foreach(r => idx.append(fifth(r), "doc_id", "text"))
    // pin at epoch 1 = fifths {0, 1}
    val pinned = pairs(idx.dedupBatch(batch, "doc_id", "text",
      threshold = 0.5, asOf = Some(1L)))
    val direct01 = pairs(Dedup.nearDupAgainstMinHash(
      corpus.filter($"doc_id" % 5 < 2), batch, "doc_id", "text",
      threshold = 0.5))
    assert(pinned == direct01,
      "the pinned match must equal recompute against the as-of corpus")
    // later appends stay invisible to the same pin
    (3 to 4).foreach(r => idx.append(fifth(r), "doc_id", "text"))
    assert(pairs(idx.dedupBatch(batch, "doc_id", "text",
      threshold = 0.5, asOf = Some(1L))) == pinned)
    // live read sees everything
    assert(pairs(idx.dedupBatch(batch, "doc_id", "text", threshold = 0.5))
      == pairs(Dedup.nearDupAgainstMinHash(corpus, batch, "doc_id", "text",
        threshold = 0.5)))
    // vacuum folds epochs 0..2 (keepLast=2 of 5): pin 1 expires LOUDLY,
    // pin 3 still resolves (fold + epoch 3 = fifths 0..3)
    assert(idx.vacuum(keepLast = 2) == 3)
    val gone = intercept[IllegalArgumentException] {
      idx.dedupBatch(batch, "doc_id", "text", threshold = 0.5, asOf = Some(1L))
    }
    assert(gone.getMessage.contains("not in the committed history"))
    assert(pairs(idx.dedupBatch(batch, "doc_id", "text",
      threshold = 0.5, asOf = Some(3L)))
      == pairs(Dedup.nearDupAgainstMinHash(
        corpus.filter($"doc_id" % 5 < 4), batch, "doc_id", "text",
        threshold = 0.5)),
      "a pin past the fold boundary reads the fold slice + kept epochs")
  }

  test("append is equivalent to building on the grown corpus") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_app").toString
    val idx = FingerprintIndex.build(docs.filter($"doc_id" < 200),
      "doc_id", "text", p)
    val n = idx.append(docs.filter($"doc_id" >= 200 && $"doc_id" < 400),
      "doc_id", "text")
    assert(n == 200L, "append reports the rows it fingerprinted")
    val batch = docs.filter($"doc_id" >= 400)
    val grown = pairs(idx.dedupBatch(batch, "doc_id", "text", threshold = 0.5))
    val oneShotPath = java.nio.file.Files.createTempDirectory("graft_fpidx_one").toString
    val oneShot = FingerprintIndex.build(docs.filter($"doc_id" < 400),
      "doc_id", "text", oneShotPath)
    assert(grown == pairs(oneShot.dedupBatch(batch, "doc_id", "text", 0.5)))
  }

  test("load restores the hash parameters as index state") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_load").toString
    FingerprintIndex.build(docs.filter($"doc_id" < 100), "doc_id", "text", p,
      shingleLen = 2, numHashes = 64, bands = 16, seed = 7L)
    val loaded = FingerprintIndex.load(spark, p)
    assert(loaded.shingleLen == 2 && loaded.numHashes == 64 &&
      loaded.bands == 16 && loaded.seed == 7L)
    // a loaded index searches identically to the in-memory handle
    val batch = docs.filter($"doc_id" >= 100 && $"doc_id" < 150)
    val viaLoad = pairs(loaded.dedupBatch(batch, "doc_id", "text", 0.5))
    val direct = pairs(Dedup.nearDupAgainstMinHash(
      docs.filter($"doc_id" < 100), batch, "doc_id", "text",
      shingleLen = 2, numHashes = 64, bands = 16, threshold = 0.5, seed = 7L))
    assert(viaLoad == direct)
  }

  test("dedupBatch never touches corpus text (reads the stored layouts only)") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_plan").toString
    val idx = FingerprintIndex.build(docs.filter($"doc_id" < 100),
      "doc_id", "text", p)
    val plan = idx.dedupBatch(docs.filter($"doc_id" >= 400),
        "doc_id", "text", 0.5)
      .queryExecution.executedPlan.toString()
    val scans = "graft_fpidx_plan[^ ,\\]]*".r.findAllIn(plan).toSeq
    assert(scans.nonEmpty, s"expected stored-layout scans in:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"no product join:\n$plan")
  }

  test("a failed append (uncommitted epoch) is invisible and self-heals") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_atomic").toString
    val idx = FingerprintIndex.build(docs.filter($"doc_id" < 200),
      "doc_id", "text", p)
    val batch = docs.filter($"doc_id" >= 400)
    val before = pairs(idx.dedupBatch(batch, "doc_id", "text", 0.5))
    // simulate a crash mid-append: the epoch directories land but the
    // commit row never does — exactly the torn state the advisor flagged
    idx.writeSlice(docs.filter($"doc_id" >= 200 && $"doc_id" < 400),
      "doc_id", "text", epoch = 1L)
    assert(pairs(idx.dedupBatch(batch, "doc_id", "text", 0.5)) == before,
      "an uncommitted epoch must never contribute candidates or verify rows")
    assert(idx.maintenance().nDocs == 200L,
      "stats must count committed rows only")
    // the retried append reuses and overwrites the orphan epoch: no
    // double-applied docs, result identical to a clean one-shot build
    idx.append(docs.filter($"doc_id" >= 200 && $"doc_id" < 400),
      "doc_id", "text")
    val oneShot = FingerprintIndex.build(docs.filter($"doc_id" < 400),
      "doc_id", "text",
      java.nio.file.Files.createTempDirectory("graft_fpidx_atomic1").toString)
    assert(pairs(idx.dedupBatch(batch, "doc_id", "text", 0.5)) ==
      pairs(oneShot.dedupBatch(batch, "doc_id", "text", 0.5)))
    assert(idx.maintenance().nDocs == 400L)
  }

  test("ingestBatch: keep-vs-ACCEPTED sweep — dropped docs don't drop their matches") {
    // controlled shingle overlap (12-token docs, 3-token shingles):
    //   X (corpus); d ~ X (J=8/12), e ~ d only (J=7/13; e vs X = 5/15)
    //   a fresh;    b ~ a (8/12),   c ~ b only (7/13; c vs a = 5/15)
    // online semantics: d drops (corpus), e KEEPS (its only match d was
    // dropped); b drops (matches KEPT a), c KEEPS (its only match b was
    // dropped). bands=64 (rows=2) makes banding recall effectively total
    // at J >= 0.5.
    def doc(tokens: Seq[String]) = tokens.mkString(" ")
    val x = (1 to 12).map(i => s"x$i")
    val a = (1 to 12).map(i => s"a$i")
    val corpus = Seq((1L, doc(x))).toDF("doc_id", "text")
    val batch = Seq(
      10L -> doc(a),
      11L -> doc(a.take(10) ++ Seq("q1", "q2")), // b ~ a
      12L -> doc(Seq("r1", "r2", "r3") ++ a.slice(3, 10) ++ Seq("q1", "q2")), // c ~ b
      13L -> doc(x.take(10) ++ Seq("y1", "y2")), // d ~ X
      14L -> doc(Seq("z1", "z2", "z3") ++ x.slice(3, 10) ++ Seq("y1", "y2")), // e ~ d
      15L -> doc((1 to 12).map(i => s"f$i")) // fresh
    ).toDF("doc_id", "text")
    val idx = FingerprintIndex.build(corpus, "doc_id", "text",
      java.nio.file.Files.createTempDirectory("graft_fpidx_ing").toString,
      numHashes = 128, bands = 64)
    val kept = idx.ingestBatch(batch, "doc_id", "text", threshold = 0.5)
      .select($"doc_id").as[Long].collect().toSet
    assert(kept == Set(10L, 12L, 14L, 15L), s"got $kept")
    assert(idx.maintenance().nDocs == 5L, "corpus + the 4 kept docs")
    // a fresh batch doc matching KEPT doc e must now drop against the index
    val next = idx.ingestBatch(
      Seq(20L -> doc(Seq("z1", "z2", "z3") ++ x.slice(3, 10) ++ Seq("y1", "y2")))
        .toDF("doc_id", "text"), "doc_id", "text", threshold = 0.5)
      .select($"doc_id").as[Long].collect()
    assert(next.isEmpty, "an exact copy of kept doc 14 must drop")
    // at-least-once replay self-heals: re-ingesting the SAME batch finds
    // every doc matching its own appended copy, keeps nothing, and leaves
    // the index row count unchanged (the documented foreachBatch restart
    // semantics)
    val replay = idx.ingestBatch(batch, "doc_id", "text", threshold = 0.5)
      .select($"doc_id").as[Long].collect()
    assert(replay.isEmpty, "a replayed batch must be fully dropped")
    assert(idx.maintenance().nDocs == 5L, "replay must not grow the index")
  }

  test("ingestBatch: onKept (the sink seam) runs BEFORE the index append") {
    // the at-least-once replay contract: a sink written after ingestBatch
    // returns loses the batch's survivors when a crash lands between the
    // append and the caller's checkpoint commit (the replay drops every
    // doc as a self-duplicate) — so the sink callback must observe the
    // index in its PRE-append state, and a sink failure must abort the
    // append so the retry recomputes the identical kept set
    val corpus = Seq((1L, (1 to 12).map(i => s"x$i").mkString(" ")))
      .toDF("doc_id", "text")
    val batch = Seq(
      10L -> (1 to 12).map(i => s"a$i").mkString(" "),
      11L -> (1 to 12).map(i => s"b$i").mkString(" "))
      .toDF("doc_id", "text")
    val idx = FingerprintIndex.build(corpus, "doc_id", "text",
      java.nio.file.Files.createTempDirectory("graft_fpidx_seam").toString,
      numHashes = 128, bands = 64)

    // sink failure aborts the append: index unchanged, retry identical
    val boom = intercept[RuntimeException] {
      idx.ingestBatch(batch, "doc_id", "text", threshold = 0.5,
        onKept = _ => throw new RuntimeException("sink down"))
    }
    assert(boom.getMessage == "sink down")
    assert(idx.maintenance().nDocs == 1L,
      "a failed sink write must leave the index unchanged")

    // successful sink observes pre-append index state and the final kept set
    var sinkSawDocs = -1L
    var sinkKept: Set[Long] = Set.empty
    val kept = idx.ingestBatch(batch, "doc_id", "text", threshold = 0.5,
      onKept = k => {
        sinkSawDocs = idx.maintenance().nDocs
        sinkKept = k.select($"doc_id").as[Long].collect().toSet
      }).select($"doc_id").as[Long].collect().toSet
    assert(sinkSawDocs == 1L,
      "onKept must run before the survivors are appended")
    assert(sinkKept == Set(10L, 11L) && kept == sinkKept,
      "onKept sees exactly the returned kept set")
    assert(idx.maintenance().nDocs == 3L, "append lands after the sink")
  }

  test("maintenance flags epoch proliferation; compact resets it and preserves results") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_maint").toString
    val idx = FingerprintIndex.build(docs.filter($"doc_id" < 100),
      "doc_id", "text", p)
    (0 until 3).foreach { i =>
      idx.append(docs.filter($"doc_id" >= 100 * (i + 1) &&
        $"doc_id" < 100 * (i + 2)), "doc_id", "text")
    }
    val m = idx.maintenance(maxEpochs = 2)
    assert(m.numEpochs == 4 && m.nDocs == 400L)
    assert(m.appendedFraction == 0.75, "3 of 4 slices post-date the build")
    assert(m.needsCompaction, "either trigger (epochs, appended) suffices")
    assert(m.maxBucketRows >= 1L && m.bucketSkew >= 1.0)
    val batch = docs.filter($"doc_id" >= 400)
    val before = pairs(idx.dedupBatch(batch, "doc_id", "text", 0.5))
    idx.compact()
    val after = idx.maintenance(maxEpochs = 2)
    assert(after.numEpochs == 1 && after.nDocs == 400L &&
      after.appendedFraction == 0.0 && !after.needsCompaction)
    assert(pairs(idx.dedupBatch(batch, "doc_id", "text", 0.5)) == before,
      "compaction must preserve dedupBatch output exactly")
    // dead epoch directories are actually gone (reads would only ignore
    // them, but a month of nightly appends must not hoard disk)
    val live = new java.io.File(s"$p/docs").listFiles().map(_.getName).toSet
    assert(live == Set("epoch=4"), s"expected only the compacted epoch, got $live")
    // ... and so are the superseded commit-log part files (one tiny file
    // per append otherwise accumulates forever — the meta-level
    // small-file disease)
    val logParts = new java.io.File(s"$p/commits").listFiles()
      .map(_.getName).filter(n => !n.startsWith("_") && !n.startsWith("."))
    assert(logParts.length == 1,
      s"compaction must prune dead commit rows, got ${logParts.toSeq}")
  }

  test("a legacy parquet commit log fails loudly") {
    // no persisted store uses the pre-JSONL parquet log any more: reading
    // one fails loudly, naming the format and the remedy, instead of
    // decoding it (or half of it, next to newer JSONL commits)
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_leg").toString
    // the exact on-disk shape the pre-r19 EpochLog wrote: coalesced
    // parquet with (epoch, action, n_rows) rows
    Seq((0L, "replace", 10L), (1L, "add", 5L))
      .toDF("epoch", "action", "n_rows")
      .coalesce(1).write.mode("overwrite").parquet(s"$p/commits")
    val log = EpochLog(spark, p)
    def loud(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("unsupported legacy parquet commit log") &&
        e.getMessage.contains("rebuild"), e.getMessage)
    }
    loud(log.committedEpochs())
    loud(log.sizeStats())
    // a new commit cannot merge on top of it either
    loud(log.commit(2L, "add", 3L))
  }

  test("commit filenames carry a monotonic sequence so decode order never " +
    "depends on filesystem listing order") {
    val p = java.nio.file.Files.createTempDirectory("graft_fpidx_seq").toString
    val log = EpochLog(spark, p)
    log.reset(4L)
    log.commit(1L, "add", 2L)
    log.commit(2L, "add", 1L)
    val names = new java.io.File(s"$p/commits").listFiles()
      .map(_.getName).filter(n => !n.startsWith("_") && !n.startsWith("."))
      .sorted
    val seqs = names.map(_.stripPrefix("commit-").take(9))
    assert(seqs.toSeq == Seq("000000000", "000000001", "000000002"),
      s"filenames must carry write-order sequence prefixes, got ${names.toSeq}")
    assert(log.committedEpochs() == Seq(0L, 1L, 2L))
  }
}
