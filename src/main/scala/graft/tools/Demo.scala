package graft.tools

import graft.functions.vector
import graft.operators.Knn
import graft.sources.{StoreConfig, VectorStoreCatalog}
import org.apache.spark.sql.functions._

/** End-to-end demo of the public library surface, mirroring the reference's
  * tests/demo.py flow: store lifecycle -> ingest -> kNN -> filtered kNN ->
  * batch kNN -> stats, against the driver's testdata parquet.
  *
  * Run: sbt "runMain graft.tools.Demo [sfDir]"
  */
object Demo {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = graft.LocalSession(4)
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    val root = java.nio.file.Files.createTempDirectory("graft_demo_stores").toString
    val catalog = new VectorStoreCatalog(spark, root)

    // 1. DDL: create a store for (user=demo, model=minilm), 64-dim cosine
    catalog.create("demo", "minilm", StoreConfig(dimension = 64))
    println(s"[demo] stores after create: ${catalog.list()}")

    // 2. Ingest the driver's embeddings table as vectors + metadata
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val rows = emb.select(
      $"embedding".as("vector"),
      map(
        lit("vec_id"), $"vec_id".cast("string"),
        lit("label"), $"label".cast("string")).as("meta"))
    val n = catalog.addVectors("demo", "minilm", rows)
    println(s"[demo] ingested $n vectors; store count = ${catalog.count("demo", "minilm")}")

    // 3. Single kNN: query with vec_id=0's own vector -> must rank itself #1
    val q0 = emb.filter($"vec_id" === 0).select($"embedding").head()
      .getSeq[Float](0).map(_.toDouble)
    val hits = catalog.query("demo", "minilm", q0, k = 5)
    println("[demo] top-5 for vec_id=0's own vector:")
    hits.select($"rank", $"similarity_score", $"distance", $"meta"("vec_id").as("vec_id"))
      .show(truncate = false)

    // 4. Filtered kNN: restrict to label=3 rows only
    val filtered = catalog.query("demo", "minilm", q0, k = 3,
      metadataFilter = Map("label" -> "3"))
    println("[demo] top-3 restricted to label=3:")
    filtered.select($"rank", $"similarity_score", $"meta"("label").as("label"))
      .show(truncate = false)

    // 5. Batch kNN: 4 query vectors at once, k=3, via the scalable top-k agg
    val queries = emb.filter($"vec_id" < 4)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val store = catalog.load("demo", "minilm")
    val batch = Knn.batchTopK(queries, store, k = 3, vecCol = "vector")
    println("[demo] batch kNN (4 queries, k=3):")
    batch.orderBy($"query_id", $"rank").show(truncate = false)

    // 6. SQL surface
    vector.register(spark)
    store.createOrReplaceTempView("demo_store")
    println("[demo] SQL: self-join top cosine pair sample:")
    spark.sql(
      s"""SELECT a.id AS id_a, b.id AS id_b,
         |       round(vec_cosine_sim(a.vector, b.vector), 4) AS cos
         |FROM demo_store a JOIN demo_store b ON a.id < b.id
         |ORDER BY cos DESC LIMIT 5""".stripMargin).show()

    // 7. Stats + health + delete-by-filter
    catalog.stats().show()
    val health = catalog.healthCheck("demo", "minilm")
    println(s"[demo] health: healthy=${health.healthy} " +
      s"vectors=${health.vectorCount} issues=${health.issues}")
    val deleted = catalog.deleteVectors("demo", "minilm", col("meta")("label") === "3")
    println(s"[demo] deleted $deleted rows with label=3; remaining = ${catalog.count("demo", "minilm")}")
    catalog.drop("demo", "minilm", force = true)
    println(s"[demo] stores after drop: ${catalog.list()}")

    // 8. Typed metadata: reference demo corpus shape (priority = i % 3 as INT)
    catalog.create("demo", "typed", StoreConfig(dimension = 64))
    catalog.addVectors("demo", "typed", emb.select(
      $"embedding".as("vector"),
      graft.sources.TypedMeta.metaColumn(
        "priority" -> ($"vec_id" % 3).cast("int"),
        "label" -> $"label".cast("string")).as("meta")))
    val prio1 = catalog.queryTyped("demo", "typed", q0, k = 5,
      Map("priority" -> 1)).count()
    val prio1Str = catalog.queryTyped("demo", "typed", q0, k = 5,
      Map("priority" -> "1")).count()
    println(s"[demo] typed filter priority=1 (int): $prio1 hits; " +
      s"priority=\"1\" (string): $prio1Str hits (Python == semantics)")
    catalog.drop("demo", "typed", force = true)

    // 9. Corpus curation: language -> quality -> near-dup dedup in one pass
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val flagged = graft.text.Curation.withCurationFlags(
      docs, "doc_id", "text", langs = Set("en", "und"),
      minQuality = 0.3, dedupThreshold = 0.5)
    val report = graft.text.Curation.report(flagged)
    println(s"[demo] curation: ${report.input} docs -> ${report.kept} kept " +
      s"(${report.droppedLang} lang, ${report.droppedQuality} quality, " +
      s"${report.droppedDuplicate} dup)")

    // 10. Compression tiers: IVF-PQ build + pruned ADC search with exact
    // re-rank (the 100 TB layout: coarse lists prune the scan, codes shrink
    // what it reads, floats touched only for the candidate gather)
    val ivfpqPath = java.nio.file.Files.createTempDirectory("graft_demo_ivfpq").toString
    val embIdx = emb.select($"vec_id".as("id"), $"embedding".as("vector"))
    val ivfpq = graft.ml.IvfPq.build(embIdx, "id", "vector", ivfpqPath,
      nLists = 8, numSubspaces = 8, codebookSize = 16, maxIter = 5)
    val pqTop = graft.ml.IvfPq.searchRerankBatch(ivfpq,
        embIdx.filter($"id" < 2).select($"id".as("query_id"), $"vector".as("query_vec")),
        k = 3, nProbe = 4)
      .filter($"rank" === 1).select($"query_id", $"id").as[(Long, Long)]
      .collect().sortBy(_._1)
    println(s"[demo] ivf-pq rerank rank-1 hits (query -> id): ${pqTop.mkString(", ")}")

    // 11. Token accounting: BPE table trained on the corpus, per-source
    // token budgets (what mixing rates are denominated in)
    val bpe = graft.text.BpeTokenizer.train(docs, "text", numMerges = 64)
    val budget = graft.text.BpeTokenizer.tokenBudget(docs, "source", "text", bpe)
      .orderBy($"source").as[(String, Long, Long)].collect()
    println(s"[demo] bpe token budget: " +
      budget.map { case (s, d, t) => s"$s=$t tokens/$d docs" }.mkString(", "))

    // 12. Packing layout: concat-and-chunk index for context 512
    val packed = graft.operators.Packing.packConcatChunk(
      docs.select($"doc_id", size(split($"text", " ")).cast("long").as("n_tokens")),
      "doc_id", "n_tokens", contextLen = 512, numShards = 4)
    val spans = packed.filter($"spans_boundary").count()
    println(s"[demo] packing: ${packed.count()} docs laid out, " +
      s"$spans span a block boundary")

    // 13. Epoch plumbing: paragraph dedup -> per-domain eval carve ->
    // deterministic train order (the last mile before a loader)
    val paraClean = graft.operators.Dedup.dedupParagraphs(
      docs, "doc_id", "text", delimiter = " ")
    val removed = paraClean.agg(sum($"n_removed")).head().getLong(0)
    val carve = graft.operators.Curation.stratifiedTake(
      docs.select($"doc_id", $"source"), "doc_id", "source", n = 2, seed = 1L)
    val order = graft.operators.Curation.trainOrder(
      docs.select($"doc_id"), "doc_id", numShards = 4, seed = 1L)
    val shard0 = order.filter($"shard" === 0).count()
    println(s"[demo] epoch: $removed dup segments removed, " +
      s"${carve.count()} eval docs carved (2/source), " +
      s"shard 0 streams $shard0 of ${order.count()} docs")

    // 14. Incremental ingest: the standing corpus fingerprinted once to a
    // persisted index; tonight's batch dedups against the stored layouts
    val fpPath = java.nio.file.Files.createTempDirectory("graft_demo_fp").toString
    val fpIdx = graft.operators.FingerprintIndex.build(
      docs.filter($"doc_id" < 400), "doc_id", "text", fpPath)
    val fpHits = fpIdx.dedupBatch(docs.filter($"doc_id" >= 400),
      "doc_id", "text", threshold = 0.5).count()
    println(s"[demo] ingest: batch of 100 vs indexed corpus of 400 -> " +
      s"$fpHits near-dup hits (corpus text untouched)")

    // 15. Diversified retrieval: plain top-k vs MMR over the embeddings —
    // the RAG-context diversity knob (candidates distributed, greedy
    // selection over the collected result page)
    val embAll = spark.read.parquet(s"$sfDir/embeddings.parquet")
      .select($"vec_id", $"embedding")
    val qv = embAll.filter($"vec_id" === 0).select($"embedding")
      .head().getSeq[Float](0).map(_.toDouble)
    val plain = graft.operators.Knn.topK(embAll, qv, k = 8,
      vecCol = "embedding", idCol = "vec_id")
      .orderBy($"rank").select($"vec_id").as[Long].collect()
    val diverse = graft.operators.Mmr.searchMmr(embAll, "vec_id", "embedding",
      qv, k = 8, fetchN = 50, lambda = 0.7)
      .orderBy($"rank").select($"vec_id").as[Long].collect()
    println(s"[demo] retrieval: top-8 plain = ${plain.mkString(",")}; " +
      s"MMR(0.7) = ${diverse.mkString(",")}")

    // 16. Range join: same-user event pairs within an hour — the
    // co-occurrence join, bucket-and-verify (no per-key cross product)
    val ev = graft.sources.Events.read(spark, sfDir)
      .select($"user_id", $"event_id",
        unix_millis($"event_time").as("ts_ms"))
    val coocc = graft.operators.RangeJoin.selfWithin(
      ev, "user_id", "event_id", "ts_ms", delta = 3600000L)
    println(s"[demo] range join: ${coocc.count()} same-user event pairs " +
      "within 1h")

    // 17. Event analytics: greedy funnel + day-bucket retention over the
    // same events — per-user scalars only past the scan
    val evTyped = graft.sources.Events.read(spark, sfDir)
      .select($"user_id", unix_millis($"event_time").as("ts_ms"), $"event_type")
    val funnel = graft.operators.Funnel.counts(evTyped, "user_id", "ts_ms",
        "event_type", Seq("view", "click", "purchase"))
      .orderBy($"step")
      .as[(Long, String, Long)].collect()
    val cohorts = graft.operators.Funnel.retention(evTyped, "user_id", "ts_ms",
      periodMs = 86400000L)
    println(s"[demo] funnel: " +
      funnel.map { case (_, t, n) => s"$t=$n" }.mkString(" -> ") +
      s"; retention: ${cohorts.count()} (cohort, day) cells")

    // 18. Corpus diagnostics: cross-source overlap + per-doc novelty — the
    // "is crawl B already inside crawl A" pre-dedup read
    val docsAll = spark.read.parquet(s"$sfDir/documents.parquet")
    val overlap = graft.operators.Dedup.sourceOverlap(docsAll, "source", "text")
    val topPair = overlap.orderBy($"jaccard".desc, $"source_a", $"source_b")
      .select($"source_a", $"source_b", $"jaccard").head()
    val novelty = graft.operators.Dedup.noveltyScores(docsAll, "doc_id", "text")
      .agg(avg($"novelty")).head().getDouble(0)
    println(f"[demo] diagnostics: most-overlapping sources = " +
      f"${topPair.getString(0)}/${topPair.getString(1)} " +
      f"(J=${topPair.getDouble(2)}%.3f); mean doc novelty = $novelty%.3f")

    // 19. Contrastive mining: hardest other-label neighbor per anchor
    val embLbl = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val negs = graft.operators.Knn.labelConstrainedTopK(
      embLbl.filter($"vec_id" < 4).select($"vec_id".as("query_id"),
        $"embedding".as("query_vec"), $"label".as("query_label")),
      embLbl.select($"vec_id".as("id"), $"embedding".as("vector"), $"label"),
      k = 1, sameLabel = false)
      .orderBy($"query_id")
      .select($"query_id", $"id").as[(Long, Long)].collect()
    println(s"[demo] hard negatives (anchor -> nearest other-label): " +
      negs.map { case (q, i) => s"($q,$i)" }.mkString(", "))

    // 20. Shared-passage detection + collocations + a per-domain cap —
    // the crawl-hygiene trio
    val passages = graft.operators.Dedup.winnowingPairs(
      docsAll, "doc_id", "text", minShared = 2).count()
    val topPmi = graft.text.TextAnalysis.pmiBigrams(docsAll, "text", minCount = 20)
      .orderBy($"pmi".desc, $"gram").select($"gram").as[String].head()
    val capped = graft.operators.Curation.capPerKey(docsAll, "doc_id", "source", n = 5)
      .count()
    println(s"[demo] hygiene: $passages winnowing passage pairs; " +
      s"top collocation = '$topPmi'; per-domain cap(5) keeps $capped docs")

    // 21. Margin-based mining: the ratio margin re-ranks forward kNN
    val mined = graft.operators.Knn.marginTopK(
      embLbl.filter($"vec_id" < 8).select($"vec_id".as("query_id"),
        $"embedding".as("query_vec")),
      embLbl.filter($"vec_id" >= 8).select($"vec_id".as("id"),
        $"embedding".as("vector")),
      k = 4)
      .filter($"rnk" === 1).orderBy($"query_id")
      .select($"query_id", $"id").as[(Long, Long)].collect()
    println(s"[demo] margin mining (query -> best margin match): " +
      mined.map { case (q, i) => s"($q,$i)" }.mkString(", "))

    // 22. Selection layer: importance lottery + equi-depth bands + a
    // persisted winnowing index ingest — the last mile before packing
    val weighted = docsAll.select($"doc_id",
      size(split($"text", " ", -1)).cast("double").as("w"))
    val lottery = graft.operators.Curation.weightedLottery(
      weighted, "doc_id", "w", targetRows = 100).count()
    val bands = graft.operators.Stats.quantileBuckets(
        weighted.select($"doc_id", $"w".cast("long").as("n")),
        "doc_id", "n", nBuckets = 4)
      .groupBy($"bucket").count().orderBy($"bucket")
      .as[(Long, Long)].collect()
    val widx = graft.operators.WinnowIndex.build(
      docsAll.filter($"doc_id" < 400).select($"doc_id", $"text"),
      "doc_id", "text",
      java.nio.file.Files.createTempDirectory("graft_demo_widx").toString)
    val wKept = widx.ingestBatch(
      docsAll.filter($"doc_id" >= 400).select($"doc_id", $"text"),
      "doc_id", "text").count()
    println(s"[demo] selection: lottery kept $lottery docs (~100 target); " +
      s"length bands = ${bands.map { case (b, n) => s"$b:$n" }.mkString(" ")}; " +
      s"winnow ingest kept $wKept of 100 (passage dups dropped)")

    // 23. Event analytics, round two: Markov transitions, volume
    // anomalies, and the interval-overlap attribution join
    val evAll = graft.sources.Events.read(spark, sfDir)
      .select($"user_id", $"event_id", $"event_type",
        unix_millis($"event_time").as("ts_ms"))
    val topTrans = graft.operators.Funnel.transitions(
        evAll, "user_id", "ts_ms", "event_type", bucketMs = 3600000L)
      .orderBy($"n".desc).limit(3)
      .as[(String, String, Long)].collect()
    val maxZ = graft.operators.Stats.volumeZScores(
        evAll.select($"event_type", $"ts_ms"), "event_type", "ts_ms",
        periodMs = 86400000L)
      .agg(max(abs($"z"))).as[Double].head()
    val overlaps = graft.operators.RangeJoin.intervalOverlap(
      evAll.filter($"event_type" === "click")
        .select($"user_id", $"event_id", $"ts_ms".as("s"),
          ($"ts_ms" + 1800000L).as("e")),
      evAll.filter($"event_type" === "error")
        .select($"user_id", $"event_id", $"ts_ms".as("s"),
          ($"ts_ms" + 600000L).as("e")),
      "user_id", "event_id", "s", "e", "event_id", "s", "e",
      bucketMs = 600000L).count()
    println(s"[demo] events: top transitions = " +
      topTrans.map { case (a, b, n) => s"$a>$b:$n" }.mkString(", ") +
      f"; max daily-volume |z| = $maxZ%.2f; " +
      s"$overlaps click-session x error-window overlaps")

    // 24. Text round two: keywords, short-string typo dedup, robust
    // length outliers
    val kw = graft.text.TextAnalysis.tfIdfTopTerms(docsAll, "doc_id", "text", k = 3)
      .filter($"id" === 0L).orderBy($"rnk").select($"term").as[String].collect()
    val typos = graft.operators.Dedup.editDistancePairs(
      docsAll.select($"doc_id", substring($"text", 1, 30).as("title")),
      "doc_id", "title", maxEdits = 10, maxDocsPerBlock = Int.MaxValue).count()
    val worst = graft.operators.Stats.robustZScores(
        docsAll.select($"doc_id", $"source",
          size(split($"text", " ", -1)).cast("long").as("n")),
        "doc_id", "source", "n")
      .agg(max(abs($"z"))).as[Double].head()
    println(s"[demo] text: doc 0 keywords = ${kw.mkString("/")}; " +
      s"$typos title pairs within 10 edits; " +
      f"worst per-source length outlier |z| = $worst%.1f")

    // 25. Leakage-safe split: near-dup clusters stay whole across
    // train/validation/test
    val splitPairs = graft.operators.Dedup.nearDupPairsMinHash(
      docsAll, "doc_id", "text", shingleLen = 3, numHashes = 128, bands = 32,
      threshold = 0.5)
    val splits = graft.operators.Curation.leakageSafeSplit(
        docsAll, splitPairs, "doc_id")
      .groupBy($"split").count().orderBy($"split")
      .as[(String, Long)].collect()
    println(s"[demo] split: " +
      splits.map { case (sp, n) => s"$sp=$n" }.mkString(" ") +
      " (near-dup clusters never straddle)")

    // 26. Title index: the edit-distance family's persisted form — new
    // headlines dedup against the standing corpus at ingest
    val titlesAll = docsAll.select($"doc_id", substring($"text", 1, 30).as("title"))
    val eIdx = graft.operators.EditIndex.build(
      titlesAll.filter($"doc_id" < 400), "doc_id", "title",
      java.nio.file.Files.createTempDirectory("graft_demo_eidx").toString,
      maxEdits = 10)
    val eKept = eIdx.ingestBatch(
      titlesAll.filter($"doc_id" >= 400), "doc_id", "title").count()
    println(s"[demo] title index: edit-distance ingest kept $eKept of 100 " +
      "(near-title typos dropped against the standing corpus)")

    // 27. Corpus telemetry: exact heavy-hitter bigrams via the two-pass
    // Misra-Gries sketch, token-entropy quality band, per-source distinct
    // cardinality from mergeable HLL profiles
    val hh = graft.operators.HeavyHitters.heavyHitters(
      docsAll.select(explode(graft.operators.Curation.tokenNgrams($"text", 2))
        .as("gram")), col("gram"), minFrac = 0.001)
    val topGram = hh.orderBy($"cnt".desc, $"item".asc).head()
    val ent = graft.text.TextAnalysis.tokenEntropy(docsAll, "doc_id", "text")
      .agg(min($"entropy_x1e4"), max($"entropy_x1e4")).head()
    val card = graft.operators.Stats.cardinalityProfile(
      docsAll.select($"source", explode(split($"text", " ")).as("w")),
      "source", "w")
      .agg(count(lit(1)), max($"distinct_est")).head()
    println(s"[demo] telemetry: top heavy-hitter bigram = '${topGram.getString(0)}' " +
      s"x${topGram.getLong(1)}; token-entropy band = " +
      f"${ent.getLong(0) / 10000.0}%.2f..${ent.getLong(1) / 10000.0}%.2f nats; " +
      s"${card.getLong(0)} sources profiled, max distinct-token est = ${card.getLong(1)}")

    // 28. Mixing + eval: temperature-flatten the language mix, grade a
    // retrieval run against same-label gold
    val mixed = graft.operators.Curation.temperatureMix(
      docsAll, "doc_id", "lang", alpha = 0.5)
      .groupBy($"lang").count().orderBy($"count".desc)
      .as[(String, Long)].collect()
    val embLab = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val evalQ = embLab.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"embedding".as("query_vec"))
    val evalRes = graft.operators.Knn.batchTopK(evalQ,
      embLab.select($"vec_id".as("id"), $"embedding".as("vector")), k = 10)
    val evalGold = embLab.filter($"vec_id" < 8)
      .select($"vec_id".as("query_id"), $"label".as("_l"))
      .join(embLab.select($"vec_id".as("id"), $"label"),
        $"_l" === $"label" && $"id" =!= $"query_id")
      .select("query_id", "id")
    val judged = graft.ml.RetrievalEval.summarize(
      graft.ml.RetrievalEval.judge(evalRes, evalGold, k = 10)).head()
    println(s"[demo] mix+eval: temperature(0.5) language mix = " +
      mixed.map { case (l, n) => s"$l:$n" }.mkString(" ") +
      f"; retrieval MRR = ${judged.getDouble(2)}%.3f over ${judged.getLong(0)} queries")

    spark.stop()
  }
}
