package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge

/** Corpus-curation operators for training-data pipelines (scale extension).
  *
  * Three operators a 100 TB pretraining pipeline runs on every document,
  * none of which exist in the reference (its pipeline is vector-only —
  * `core/rag/mlx_rag_native.py` ingests pre-curated text):
  *
  *  - [[decontaminate]] — test-set decontamination: flag corpus documents
  *    sharing any length-n token n-gram with a benchmark/eval set (the
  *    GPT-3/Llama published recipe). The benchmark side is small by
  *    definition, so its distinct n-grams BROADCAST and the corpus is
  *    scanned exactly once — no shuffle of corpus text, ever.
  *  - [[weightedSample]] — deterministic domain mixing: keep each document
  *    with a per-source rate, decided by an arithmetic hash of its id.
  *    ZERO shuffle (a pure filter), reproducible across runs/engines, and
  *    rate changes re-select a superset/subset rather than reshuffling
  *    the sample (hash order is stable).
  *  - [[repetitionStats]] — Gopher-style intra-document repetition: the
  *    fraction of duplicated tokens and duplicated n-grams inside each
  *    document. Pure per-row expressions: scales linearly, no shuffle.
  */
object Curation {

  /** Tokens on single spaces — matches DuckDB `string_split(text, ' ')`
    * exactly (consecutive separators yield empty tokens in both engines),
    * so n-gram strings built from the array are byte-identical.
    */
  private def spaceTokens(text: Column): Column = split(text, " ", -1)

  /** All length-`n` token n-grams of `text`, as space-joined strings,
    * duplicates kept. Empty array when the document has fewer than `n`
    * tokens. Codegen'd kernel ([[graft.functions.TokenNgrams]]) —
    * byte-equivalent to the declarative
    * `transform(sequence(...), i => array_join(slice(...)))` formula, which
    * Catalyst could only interpret (higher-order lambdas have no codegen).
    */
  def tokenNgrams(text: Column, n: Int): Column =
    org.apache.spark.sql.graftx.Bridge.column(
      graft.functions.TokenNgrams(
        org.apache.spark.sql.graftx.Bridge.expression(text), n))

  /** Distinct benchmark n-grams as 64-bit xxhash64 hashes, the hint gated
    * on the distinct-gram count: the gram STRINGS never leave the scan
    * (an 8-gram averages ~50 bytes; the hash is 8 — the join side is an
    * order of magnitude slimmer either way), and the explicit
    * `broadcast()` hint — which bypasses autoBroadcastJoinThreshold —
    * applies only while the set fits `maxBroadcastGrams`. A full
    * eval-suite UNION (hundreds of millions of distinct 8-grams) would
    * OOM the driver under an unconditional hint; above the cap the join
    * runs un-hinted and AQE picks a shuffled strategy. Collision caveat,
    * the [[graft.operators.Dedup.sourceOverlap]] trade: two different
    * grams colliding in xxhash64 can add a false hit (odds ~2^-25 at 2^20
    * distinct grams — noise against the 50-gram dirt an 8-gram overlap
    * flags).
    */
  private def benchGramHashes(
      benchmark: DataFrame,
      textCol: String,
      ngramLen: Int,
      maxBroadcastGrams: Long): DataFrame =
    gateBroadcast(gramFrame(benchmark, textCol, ngramLen),
      maxBroadcastGrams, pin = false)._1

  private def gramFrame(
      benchmark: DataFrame, textCol: String, ngramLen: Int): DataFrame =
    benchmark
      .select(explode(tokenNgrams(col(textCol), ngramLen)).as("gram"))
      .select(xxhash64(col("gram")).as("_gh"))
      .distinct()

  /** A benchmark suite's prepared gram-hash frame for REPEATED use (the
    * streaming decontamination pass scores every micro-batch against it):
    * exactly [[benchGramHashes]] — same gram pipeline, same persist
    * (recoverable lineage: an executor loss recomputes blocks instead of
    * killing a long-lived stream), same broadcast gate — surfaced
    * publicly. The shared persist cache is bounded ([[MaxCachedGramSets]]),
    * so later decontamination calls can evict a queue-managed gram set —
    * degrading to per-batch recompute, never to wrong results, and now
    * with a WARN log naming the cure: a long-lived caller should use
    * [[benchmarkGramsPinned]] instead.
    */
  def benchmarkGrams(
      benchmark: DataFrame,
      textCol: String,
      ngramLen: Int = 8,
      maxBroadcastGrams: Long = MaxBroadcastGrams): DataFrame =
    benchGramHashes(benchmark, textCol, ngramLen, maxBroadcastGrams)

  /** [[benchmarkGrams]] with a PINNED lifetime for long-lived consumers
    * (a decontamination stream scoring every micro-batch): the gram set
    * is persisted OUTSIDE the shared [[MaxCachedGramSets]] queue, so no
    * later decontamination call can evict it mid-stream. Returns
    * (grams, release) — the caller owns the lifetime and MUST call
    * `release()` when done (the broadcast-hinted frame itself cannot be
    * unpersisted: the hint wrapper defeats the cache manager's
    * plan-identity match, which is why the handle exists).
    */
  def benchmarkGramsPinned(
      benchmark: DataFrame,
      textCol: String,
      ngramLen: Int = 8,
      maxBroadcastGrams: Long = MaxBroadcastGrams): (DataFrame, () => Unit) = {
    val (res, mat) = gateBroadcast(gramFrame(benchmark, textCol, ngramLen),
      maxBroadcastGrams, pin = true)
    (res, () => mat.unpersist(false))
  }

  /** One shared materialization for the gram-set size gate and the join —
    * the r12 bench regression (q41 0.35→0.45 s, q69 0.40→0.55 s) was the
    * explode+distinct running twice, once under the sizing count and
    * again for the join. `persist` rather than `localCheckpoint`: lineage
    * survives, so an executor loss recomputes lost blocks instead of
    * failing the decontamination job, and an over-cap eval-suite union
    * (hundreds of millions of grams) degrades by block eviction +
    * recompute under storage pressure rather than hard materialization.
    */
  private def gateBroadcast(grams: DataFrame, maxBroadcastGrams: Long,
      pin: Boolean): (DataFrame, DataFrame) = {
    val mat = grams.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    if (!pin) {
      persistedGramSets.add(mat)
      // bound the cache for long-lived sessions (a notebook or stream
      // driver calling decontamination per eval suite would otherwise
      // accumulate spilled gram blocks until JVM exit): keep the most
      // recent few, unpersist the rest — lineage survives, so a late
      // re-execution of an old result recomputes instead of failing
      while (persistedGramSets.size() > MaxCachedGramSets) {
        val old = persistedGramSets.poll()
        if (old ne null) {
          log.warn(s"evicting a cached benchmark gram set (shared cache " +
            s"keeps $MaxCachedGramSets): any still-live consumer — a " +
            "running decontamination stream, an unexecuted lazy result — " +
            "silently recomputes its grams per use from here on; pin " +
            "long-lived sets via benchmarkGramsPinned and release them " +
            "yourself")
          old.unpersist(false)
        }
      }
    }
    (if (mat.count() <= maxBroadcastGrams) broadcast(mat) else mat, mat)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.Curation")

  private val persistedGramSets =
    new java.util.concurrent.ConcurrentLinkedQueue[DataFrame]()

  /** Test visibility: current queue-managed gram-set count (a PINNED set
    * must never appear here — that is the whole pin contract).
    */
  private[operators] def cachedGramSetCount: Int = persistedGramSets.size()

  /** Benchmark gram sets kept cached at once: 2 covers the common
    * detect-then-act pipeline (e.g. [[contaminatedSpans]] feeding
    * [[redactSpans]] while a [[decontaminate]] report is still live).
    */
  private val MaxCachedGramSets = 2

  /** Unpersist every cached benchmark gram set — explicit cleanup for
    * long-lived sessions that are done decontaminating.
    */
  def releaseGramSets(): Unit = {
    var df = persistedGramSets.poll()
    while (df ne null) { df.unpersist(false); df = persistedGramSets.poll() }
  }

  /** Largest distinct-benchmark-gram set shipped via the explicit
    * broadcast hint: 4M hashed grams is a ~32 MB payload — comfortable on
    * every executor and orders of magnitude above any single benchmark
    * (MMLU+Hellaswag+GSM8K together are low millions of tokens). Past it
    * — a full eval-suite union, or a benchmark that is itself a corpus —
    * the decontamination joins fall back to AQE-planned shuffles.
    */
  val MaxBroadcastGrams: Long = 4L << 20

  /** Test-set decontamination: for every document in `corpus`, count how
    * many DISTINCT benchmark n-grams it contains and flag it contaminated
    * if that count is positive.
    *
    * Output: (id, hits BIGINT, contaminated BOOLEAN) — one row per corpus
    * document, including clean ones (hits = 0).
    *
    * Scale shape: `benchmark`'s distinct n-grams are hashed to 64 bits and
    * broadcast while they fit `maxBroadcastGrams` (an eval set is KBs–MBs
    * of text; its n-gram set fits every executor), shuffled-semi-joined
    * past it — see [[benchGramHashes]] for both the gate and the hash-
    * collision caveat. The corpus is one scan: explode its distinct
    * n-grams, hash, join, count per id, left-join the hit counts back
    * onto the id spine. At 100 TB the only wide movement is (id, hits)
    * pairs — and (id, hash) pairs on the fallback path.
    */
  def decontaminate(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      ngramLen: Int = 8,
      maxBroadcastGrams: Long = MaxBroadcastGrams): DataFrame =
    decontaminateAgainstGrams(corpus, idCol, textCol, ngramLen,
      benchGramHashes(benchmark, textCol, ngramLen, maxBroadcastGrams))

  /** [[decontaminate]] against an already-prepared `_gh` gram frame
    * (gated + hinted by [[benchGramHashes]] or [[benchmarkGrams]]) — the
    * scoring half the batch operator and the streaming pass share.
    */
  def decontaminateAgainstGrams(
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      ngramLen: Int,
      benchGrams: DataFrame): DataFrame = {
    val corpusGrams = corpus.select(col(idCol).cast("long").as("id"),
        explode(array_distinct(tokenNgrams(col(textCol), ngramLen))).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("_gh"))
    val hits = corpusGrams
      .join(benchGrams, Seq("_gh"))
      .groupBy(col("id"))
      .agg(count(lit(1)).as("hits"))
    corpus.select(col(idCol).cast("long").as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** [[decontaminate]] for benchmark suites whose gram set is too big to
    * ship exactly — the third tier of the decontamination scale ladder.
    * Tier 1 (<= `maxBroadcastGrams` distinct grams) broadcasts the exact
    * hash set; tier 2 falls back to AQE-planned shuffles, which move the
    * CORPUS gram stream — corpus-sized, the expensive direction. This
    * tier replaces that with the classic Bloom-prefilter-then-verify
    * recipe (Bloom 1970; the semi-join-filter pattern every distributed
    * engine uses for runtime filters, here built on Spark's own
    * `BloomFilterAggregate`/`BloomFilterMightContain` kernels):
    *
    *  1. ONE benchmark scan folds all gram hashes into a Bloom filter of
    *     FIXED size (`numBits` — 8 MB at the default, regardless of
    *     whether the suite has 4M or 400M grams); partial buffers OR
    *     together, so nothing bench-sized shuffles.
    *  2. ONE corpus scan keeps only grams the filter might contain —
    *     true hits plus an `fpp`-bounded trickle of false positives;
    *     everything else dies inside the scan stage.
    *  3. The survivors (contamination-sized, not corpus-sized) are
    *     verified EXACTLY: their distinct hashes gate-broadcast back
    *     against a second benchmark scan to compute the confirmed-gram
    *     set, and the per-doc hit counts come from survivors x confirmed.
    *
    * False positives therefore cost verify rows, never wrong answers —
    * the output is row-identical to [[decontaminate]] (q142 locks it to
    * q41's oracle), under the same xxhash64 collision caveat.
    *
    * `expectedGrams`/`numBits` default to Spark's runtime-filter caps
    * (4M items / 2^26 bits ≈ 8 MB, fpp well under 0.1%); for a
    * 100M+-gram suite raise them together with
    * `spark.sql.optimizer.runtime.bloomFilter.maxNumItems`/`maxNumBits`
    * — an undersized filter still answers exactly, just with more
    * false-positive verify traffic.
    */
  def decontaminateBloom(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      ngramLen: Int = 8,
      expectedGrams: Long = 4000000L,
      numBits: Long = 1L << 26,
      maxBroadcastGrams: Long = MaxBroadcastGrams): DataFrame = {
    require(expectedGrams > 0 && numBits > 0, "bloom sizing must be positive")
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate

    val spine = corpus.select(col(idCol).cast("long").as("id"))
    // bench gram hashes, NO distinct: duplicate Bloom inserts are no-ops,
    // so the build is one scan with zero exchange (the partial buffers OR)
    val benchHashes = benchmark
      .select(explode(tokenNgrams(col(textCol), ngramLen)).as("gram"))
      .select(xxhash64(col("gram")).as("_gh"))
    val bloomAgg = Bridge.column(new BloomFilterAggregate(
      Bridge.expression(col("_gh")),
      Literal(expectedGrams), Literal(numBits)).toAggregateExpression())
    val bloom = benchHashes.agg(bloomAgg.as("bf")).head().getAs[Array[Byte]](0)
    if (bloom == null) { // empty benchmark: every doc is clean
      return spine.select(col("id"), lit(0L).as("hits"), lit(false).as("contaminated"))
    }
    def mightContain(value: Column): Column = Bridge.column(
      BloomFilterMightContain(
        Literal(bloom, org.apache.spark.sql.types.BinaryType),
        Bridge.expression(value)))

    // corpus scan: the filter runs INSIDE the scan stage; survivors are
    // contamination-sized and reused twice, so persist (lineage kept).
    // NOT routed through gateBroadcast: that would enqueue three frames
    // per call into the 2-slot gram-set cache and could evict these very
    // survivors between their two uses. One gate decision (the survivor
    // count, which also materializes the cache) covers both hints —
    // confirmed ⊆ survivor hashes, so it fits wherever they do.
    val survivors = corpus
      .select(col(idCol).cast("long").as("id"),
        explode(array_distinct(tokenNgrams(col(textCol), ngramLen))).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("_gh"))
      .filter(mightContain(col("_gh")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // exact verify: survivor hashes against a second bench scan ->
    // confirmed grams; false positives die here
    val survDistinct = survivors.select(col("_gh")).distinct()
    val fits = survivors.count() <= maxBroadcastGrams // distinct <= rows
    val survHashes = if (fits) broadcast(survDistinct) else survDistinct
    val confirmedRaw =
      benchHashes.join(survHashes, Seq("_gh")).select(col("_gh")).distinct()
    val confirmed = if (fits) broadcast(confirmedRaw) else confirmedRaw
    val hits = survivors.join(confirmed, Seq("_gh"))
      .groupBy(col("id")).agg(count(lit(1)).as("hits"))
    // enqueue LAST so cache eviction can only hit older gram sets, never
    // the survivors this query's lineage still wants cached
    persistedGramSets.add(survivors)
    while (persistedGramSets.size() > MaxCachedGramSets) {
      val old = persistedGramSets.poll()
      if (old ne null) old.unpersist(false)
    }
    spine.join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Per-benchmark contamination ATTRIBUTION — [[decontaminate]]'s audit
    * report: WHICH eval set leaked into which document, the question a
    * multi-benchmark decontamination run answers before deciding what to
    * drop (a doc hitting a memorized GSM8K answer is a different problem
    * from one quoting MMLU boilerplate). `benchmark` carries a label
    * column (`benchCol`); output is one row per (corpus doc, benchmark)
    * with a POSITIVE distinct-shared-gram count — (id, benchmark,
    * hits BIGINT), inner-join semantics (clean pairs are absent;
    * [[decontaminate]] keeps the per-doc zero-row report). A gram shared
    * by several benchmarks attributes to EACH (distinct per
    * (benchmark, gram)).
    *
    * Scale shape, the [[benchGramHashes]] discipline with a label: the
    * labeled gram set is hashed to (benchmark, 64-bit) rows, materialized
    * once, and broadcast while the WHOLE labeled set fits
    * `maxBroadcastGrams`; the corpus is the same single scan as
    * [[decontaminate]], and the join moves (id, hash) pairs only. Same
    * xxhash64 collision caveat.
    */
  def decontaminateByBenchmark(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      benchCol: String,
      ngramLen: Int = 8,
      maxBroadcastGrams: Long = MaxBroadcastGrams): DataFrame = {
    val hinted = gateBroadcast(
      benchmark
        .select(col(benchCol).as("benchmark"),
          explode(tokenNgrams(col(textCol), ngramLen)).as("gram"))
        .select(col("benchmark"), xxhash64(col("gram")).as("_gh"))
        .distinct(),
      maxBroadcastGrams, pin = false)._1
    val corpusGrams = corpus.select(col(idCol).cast("long").as("id"),
        explode(array_distinct(tokenNgrams(col(textCol), ngramLen))).as("gram"))
      .select(col("id"), xxhash64(col("gram")).as("_gh"))
    corpusGrams.join(hinted, Seq("_gh"))
      .groupBy(col("id"), col("benchmark"))
      .agg(count(lit(1)).as("hits"))
  }

  /** FUZZY test-set decontamination (the Llama-2 appendix recipe, kept
    * alongside [[decontaminate]]'s binary flag): a corpus TOKEN is
    * contaminated if it sits inside any length-`ngramLen` token n-gram
    * shared with the benchmark, a document's contamination is the FRACTION
    * of its tokens contaminated, and only documents above `maxFrac` are
    * skipped — incidental single-n-gram overlap (idioms, boilerplate
    * phrases) no longer throws away whole documents.
    *
    * Output: (id, n_tokens, n_contaminated, contaminated_frac, skip) — one
    * row per corpus document.
    *
    * Scale shape, same skeleton as [[decontaminate]]: benchmark n-grams
    * hashed + size-gated broadcast ([[benchGramHashes]], same fallback
    * and collision caveat), corpus scanned once for its positional
    * n-grams. The added coverage step explodes MATCHED grams only into
    * (id, covered token position) pairs — hit-sized, not corpus-sized —
    * and distinct-counts them per doc (overlapping matched grams must not
    * double-count a token).
    */
  def decontaminateFraction(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      ngramLen: Int = 8,
      maxFrac: Double = 0.8,
      maxBroadcastGrams: Long = MaxBroadcastGrams): DataFrame = {
    require(maxFrac >= 0.0 && maxFrac <= 1.0, s"maxFrac must be in [0,1], got $maxFrac")
    val benchGrams = benchGramHashes(benchmark, textCol, ngramLen, maxBroadcastGrams)
    // positional grams: posexplode's 0-based index IS the gram's start
    // token position, so matched gram p covers tokens p .. p+n-1
    val grams = corpus.select(col(idCol).cast("long").as("id"),
        posexplode(tokenNgrams(col(textCol), ngramLen)).as(Seq("_p", "gram")))
      .select(col("id"), col("_p"), xxhash64(col("gram")).as("_gh"))
    val ncov = grams.join(benchGrams, Seq("_gh"))
      .select(col("id"),
        explode(sequence(col("_p"), col("_p") + (ngramLen - 1))).as("_q"))
      .groupBy(col("id"))
      .agg(count_distinct(col("_q")).as("n_contaminated"))
    corpus.select(col(idCol).cast("long").as("id"),
        size(spaceTokens(col(textCol))).cast("long").as("n_tokens"))
      .join(ncov, Seq("id"), "left")
      .select(col("id"), col("n_tokens"),
        coalesce(col("n_contaminated"), lit(0L)).as("n_contaminated"))
      .withColumn("contaminated_frac",
        when(col("n_tokens") > 0,
          col("n_contaminated").cast("double") / col("n_tokens").cast("double"))
          .otherwise(lit(0.0)))
      .withColumn("skip", col("contaminated_frac") > maxFrac)
  }

  /** Contaminated SPAN extraction — the decontamination family's audit
    * drill-down: not just how much of a document overlaps the benchmark
    * ([[decontaminateFraction]]) but WHERE — each maximal run of
    * benchmark-covered token positions as one row (id, span_start,
    * span_end, span_tokens), 0-based inclusive token positions. The
    * "show me the leaked passage" report a human reviews before deciding
    * a drop rule, and the cut list a span-level redaction step consumes.
    *
    * Spans are gaps-and-islands over the covered-position set: a matched
    * gram at position p covers tokens p..p+n-1, overlapping matches
    * merge (distinct positions), and consecutive positions chain into
    * one span (`pos - row_number` island key — exact integer arithmetic,
    * so an external engine replays the exact spans).
    *
    * Scale shape, the [[decontaminateFraction]] skeleton: hashed +
    * size-gated benchmark grams, one positional corpus scan, and only
    * MATCHED positions (hit-sized, not corpus-sized) reach the
    * island window, which partitions per doc.
    */
  def contaminatedSpans(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      textCol: String,
      ngramLen: Int = 8,
      maxBroadcastGrams: Long = MaxBroadcastGrams): DataFrame = {
    val benchGrams = benchGramHashes(benchmark, textCol, ngramLen, maxBroadcastGrams)
    val grams = corpus.select(col(idCol).cast("long").as("id"),
        posexplode(tokenNgrams(col(textCol), ngramLen)).as(Seq("_p", "gram")))
      .select(col("id"), col("_p"), xxhash64(col("gram")).as("_gh"))
    val covered = grams.join(benchGrams, Seq("_gh"))
      .select(col("id"),
        explode(sequence(col("_p"), col("_p") + (ngramLen - 1))).as("_q"))
      .distinct()
    val w = Window.partitionBy(col("id")).orderBy(col("_q"))
    covered
      .withColumn("_isl", col("_q").cast("long") - row_number().over(w))
      .groupBy(col("id"), col("_isl"))
      .agg(min(col("_q")).cast("long").as("span_start"),
        max(col("_q")).cast("long").as("span_end"),
        count(lit(1)).as("span_tokens"))
      .select(col("id"), col("span_start"), col("span_end"), col("span_tokens"))
  }

  /** Span REDACTION — the ACT step after [[contaminatedSpans]]' report:
    * cut every token inside a span out of the text, keeping the clean
    * remainder (the surgical alternative to dropping a whole document
    * over one leaked passage). `spans` is any (id, span_start, span_end)
    * frame — [[contaminatedSpans]]' output, a human-reviewed subset of
    * it, or PII spans from another detector. Output: (id, redacted_text,
    * n_redacted BIGINT), one row per CORPUS row; docs without spans pass
    * through byte-identical (left join), fully-covered docs come out
    * empty.
    *
    * Scale shape: the only shuffle is the per-doc span-list aggregation
    * and its join onto the corpus — span-sized, not token-sized; the cut
    * itself is one per-row index-aware higher-order filter (codegen-free
    * but per-row bounded), so corpus text never shuffles.
    */
  def redactSpans(
      corpus: DataFrame,
      spans: DataFrame,
      idCol: String,
      textCol: String): DataFrame = {
    val spanList = spans
      .select(col("id").cast("long").as("id"),
        struct(col("span_start").cast("long").as("s"),
          col("span_end").cast("long").as("e")).as("_sp"))
      .groupBy(col("id")).agg(collect_list(col("_sp")).as("_spans"))
    val inSpan = (i: Column) =>
      exists(col("_spans"), s => i >= s("s") && i <= s("e"))
    corpus.select(col(idCol).cast("long").as("id"), col(textCol).as("_text"))
      .join(spanList, Seq("id"), "left")
      .withColumn("_toks", spaceTokens(col("_text")))
      // one O(tokens x spans) pass: the kept array is a PRIOR column
      // referenced twice below, so CollapseProject leaves it materialized
      // and n_redacted is pure size arithmetic
      .withColumn("_kept",
        when(col("_spans").isNull, col("_toks"))
          .otherwise(filter(col("_toks"), (tok, i) => !inSpan(i.cast("long")))))
      .select(col("id"),
        when(col("_spans").isNull, col("_text"))
          .otherwise(array_join(col("_kept"), " "))
          .as("redacted_text"),
        (size(col("_toks")) - size(col("_kept"))).cast("long").as("n_redacted"))
  }

  /** Knuth multiplicative hash of an id — semantically
    * `((id mod 2^32) * 2654435761) mod 2^32`, computed WITHOUT overflow by
    * splitting the folded id into 16-bit halves (a naive Long multiply
    * silently wraps for ids >= Long.MaxValue / 2654435761 ≈ 3.47e9, i.e.
    * INSIDE the 2^32 domain). Each partial product stays under 2^48, so the
    * arithmetic is exact BIGINT everywhere and an external engine reproduces
    * it bit-for-bit — for ids < 3.47e9 the naive one-multiply formula
    * `(id * 2654435761) % 4294967296` (used in the q42 oracle SQL) agrees;
    * beyond that an oracle needs a wider type (DuckDB: cast to HUGEINT).
    */
  def idHash(id: Column): Column = {
    val a = pmod(id.cast("long"), lit(4294967296L))
    val lo = a.bitwiseAND(lit(65535L))
    val hi = shiftright(a, 16)
    // a*C mod 2^32 = (lo*C + ((hi*C) mod 2^16) * 2^16) mod 2^32
    pmod(lo * lit(2654435761L) +
      pmod(hi * lit(2654435761L), lit(65536L)) * lit(65536L),
      lit(4294967296L))
  }

  /** Deterministic weighted sampling for domain mixing: keep a document
    * iff `idHash(id) % 1e6 < rates(source) * 1e6`. Documents from sources
    * absent from `rates` get `defaultRate`. Rates are quantized to
    * parts-per-million — rates below 5e-7 round to keeping nothing (and
    * the require rejects sub-resolution nonzero rates loudly rather than
    * silently emptying a domain).
    *
    * A pure filter — no shuffle, no RNG state, reproducible everywhere.
    * Output: the sampled rows of `df` (all columns).
    */
  def weightedSample(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      rates: Map[String, Double],
      defaultRate: Double = 1.0): DataFrame = {
    val all = rates.values.toSeq :+ defaultRate
    require(all.forall(r => r >= 0 && r <= 1), "rates must be in [0, 1]")
    require(all.forall(r => r == 0 || math.round(r * 1e6) > 0),
      "nonzero rates below the 1e-6 sampling resolution would drop everything")
    val ppm = rates.toSeq.sortBy(_._1).foldLeft(
      lit(math.round(defaultRate * 1e6))) { case (acc, (src, r)) =>
      when(col(sourceCol) === src, lit(math.round(r * 1e6))).otherwise(acc)
    }
    df.filter(pmod(idHash(col(idCol)), lit(1000000L)) < ppm)
  }

  /** Temperature-scaled mixing rates — the multilingual/multi-source
    * "alpha sampling" recipe (Lample & Conneau, "Cross-lingual Language
    * Model Pretraining", 2019, §3.1; Xue et al., mT5, 2021): sample
    * source i with probability proportional to n_i^alpha, so alpha < 1
    * up-weights small sources relative to their natural share and
    * alpha = 1 keeps the natural distribution. Expressed as per-source
    * KEEP-RATES for [[weightedSample]]: rate_i proportional to
    * n_i^(alpha-1), normalized so the most up-weighted source keeps
    * everything (rate 1.0) — the variant that never oversamples, only
    * trims the over-represented sources.
    *
    * Engine-portable arithmetic: the rate is `base^|1-alpha|` with
    * `base = n_anchor/n_i` (alpha <= 1, anchor = smallest source) or
    * `n_i/n_anchor` (alpha > 1, anchor = largest). At alpha = 0.5 — the
    * common temperature — the exponent is 0.5 and the chain is one IEEE
    * division + one `sqrt`, both correctly rounded, so an external engine
    * replays the rates BIT-EXACTLY (the q138 oracle does). Other alphas go
    * through libm `pow`, which is not correctly rounded — two engines can
    * disagree by 1 ulp there (the [[graft.text.TextAnalysis.pmiBigrams]]
    * lift-vs-pmi caveat); rates remain deterministic per engine.
    *
    * Scale shape: one slim partial-aggregated per-source count (as many
    * rows as SOURCES, not documents) collected under `maxSources`; the
    * sampling filter the rates feed is zero-shuffle arithmetic.
    */
  def temperatureRates(
      df: DataFrame,
      sourceCol: String,
      alpha: Double,
      maxSources: Int = 100000): Map[String, Double] = {
    require(alpha > 0.0 && alpha <= 2.0, s"alpha must be in (0, 2], got $alpha")
    val counts = df.groupBy(col(sourceCol).cast("string").as("src"))
      .agg(count(lit(1)).as("n"))
      .limit(maxSources + 1)
      .collect()
      .map(r => r.getString(0) -> r.getLong(1))
    require(counts.length <= maxSources,
      s"more than maxSources=$maxSources distinct sources; a rate per " +
        "source stops being a sensible plan there — cap or bucket first")
    if (counts.isEmpty) return Map.empty
    val anchor = if (alpha <= 1.0) counts.map(_._2).min else counts.map(_._2).max
    val e = math.abs(1.0 - alpha)
    counts.map { case (src, n) =>
      val base =
        if (alpha <= 1.0) anchor.toDouble / n.toDouble
        else n.toDouble / anchor.toDouble
      val rate = if (e == 0.5) math.sqrt(base) else math.pow(base, e)
      src -> rate
    }.toMap
  }

  /** [[temperatureRates]] composed with [[weightedSample]]: deterministic
    * temperature-mixed subsample of `df`. Sources are counted from `df`
    * itself, so every source has a rate and `defaultRate` is never
    * consulted. Output: the kept rows, all columns.
    */
  def temperatureMix(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      alpha: Double,
      maxSources: Int = 100000): DataFrame =
    weightedSample(df, idCol, sourceCol,
      temperatureRates(df, sourceCol, alpha, maxSources))

  /** Per-key frequency cap: keep at most `n` rows per key (domain, URL
    * host, cluster id...), chosen DETERMINISTICALLY — the rows whose
    * [[idHash]] draw (seed-shifted, id-tiebroken) ranks lowest within the
    * key. The standard over-represented-domain guard in crawl curation:
    * unlike a rate (which must be chosen per key), a cap needs no
    * per-key statistics pass, and unlike `rand()`-based sampling the
    * survivor set is stable across runs, engines, and partitionings.
    *
    * Output: (key, id, rnk BIGINT in [1, n]) — join back on id for the
    * full rows. Raising `n` re-selects a SUPERSET (hash order is stable),
    * so cap changes never churn the kept set.
    *
    * Scale shape: the per-key selection is a bounded [[TopKAggregator]],
    * so every map task reduces its slice to <= n rows per key BEFORE the
    * shuffle — a hot key (one domain = half the crawl) costs its scan but
    * never funnels its full row set through one task, the failure mode a
    * `row_number() OVER (PARTITION BY key)` formulation hits at 100 TB
    * (the argument measured for q90 by VocabProbe at commit 19fff4c).
    */
  def capPerKey(
      df: DataFrame,
      idCol: String,
      keyCol: String,
      n: Int,
      seed: Long = 0L): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    val topn = udaf(new TopKAggregator(n, ascending = true))
    df.select(col(keyCol).as("key"), col(idCol).cast("long").as("_id"),
        idHash(col(idCol).cast("long") + lit(seed)).cast("double").as("_draw"))
      .groupBy(col("key"))
      .agg(topn(col("_draw"), col("_id")).as("kept"))
      .select(col("key"), posexplode(col("kept")).as(Seq("pos", "hit")))
      .select(col("key"), col("hit.id").as("id"),
        (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Mix to a TOKEN budget: sample each source down to ~`targetTokens`
    * tokens (sources already under budget keep everything) — how a mixing
    * recipe is actually specified ("50 B tokens of web, 10 B of code"),
    * composed from the pieces this module already has: one slim per-source
    * token aggregate, rate = min(1, target / actual) quantized to ppm, then
    * the [[weightedSample]] hash filter. Inherits every weightedSample
    * property: pure filter, zero shuffle on the sampling pass, rate changes
    * re-select supersets/subsets, engine-reproducible. The sampled token
    * count concentrates tightly around `targetTokens` (documents are
    * exchangeable under the id hash); exact-to-the-token carving is
    * [[Packing]]'s job downstream.
    *
    * `nTokensCol` chooses the denomination — whitespace words for an
    * oracle-checkable contract, [[graft.text.BpeTokenizer.bpeTokenCount]]
    * for real tokenizer budgets.
    *
    * Output: the sampled rows of `df` (all columns). The per-source plan
    * (actual, rate) is a driver-side collect bounded by `maxSources`
    * (fail-fast — a mixing recipe has tens of sources, not millions).
    */
  def sampleToTokenBudget(
      df: DataFrame,
      idCol: String,
      sourceCol: String,
      nTokensCol: String,
      targetTokens: Long,
      maxSources: Int = 10000): DataFrame = {
    require(targetTokens >= 1, s"targetTokens must be >= 1, got $targetTokens")
    val sumRows = df.groupBy(col(sourceCol))
      .agg(sum(col(nTokensCol).cast("long")).as("_tok"))
      .limit(maxSources + 1).collect()
    require(sumRows.length <= maxSources,
      s"sampleToTokenBudget: more than maxSources=$maxSources sources; " +
        "raise the cap or pre-aggregate the source column")
    val rates = sumRows.map { r =>
      // fail fast on a NULL source: it cannot key the rates map, and
      // letting it fall through would silently route those rows to
      // weightedSample's defaultRate=1.0 path (unbudgeted)
      require(!r.isNullAt(0),
        s"sampleToTokenBudget: NULL value in source column '$sourceCol' — " +
          "filter those rows out or map them to an explicit bucket first")
      val actual = if (r.isNullAt(1)) 0L else r.getLong(1)
      r.get(0).toString ->
        (if (actual <= targetTokens) 1.0
         else targetTokens.toDouble / actual.toDouble)
    }.toMap
    weightedSample(df, idCol, sourceCol, rates)
  }

  /** Deterministic training-order shuffle: assign every document a shard
    * and a dense position within that shard, pseudo-randomly but
    * REPRODUCIBLY — the manifest a data loader consumes to stream a
    * well-mixed epoch, resume mid-epoch (skip to position), and re-mix per
    * epoch (change `seed`).
    *
    * Order key = [[idHash]] of `id + seed` — the same portable arithmetic
    * hash as [[weightedSample]], so an external engine (or the DuckDB
    * oracle) reproduces the exact permutation. shard = key mod numShards;
    * position = dense 0-based rank by (key, id) within the shard.
    *
    * Scale shape: one hash-partitioned exchange of (id, key) SLIM pairs
    * into numShards groups, then a per-shard sort for row_number —
    * parallelism = numShards (size it >= cluster cores). No text moves;
    * the loader joins the manifest back to the store by id (or writes it
    * alongside a bucketed store for a shuffle-free join).
    *
    * Output: (idCol, shard, position).
    */
  def trainOrder(
      df: DataFrame,
      idCol: String,
      numShards: Int,
      seed: Long = 0L): DataFrame = {
    require(numShards >= 1, s"numShards must be >= 1, got $numShards")
    require(seed >= 0, s"seed must be >= 0, got $seed")
    val key = idHash(col(idCol).cast("long") + lit(seed))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("shard")).orderBy(col("_key"), col(idCol))
    df.select(col(idCol), key.as("_key"),
        pmod(key, lit(numShards.toLong)).as("shard"))
      .withColumn("position", (row_number().over(w) - 1).cast("long"))
      .drop("_key")
  }

  /** Deterministic stratified carve: EXACTLY `n` rows per group (fewer only
    * when the group is smaller) — how a pipeline cuts a held-out/eval set
    * per domain, reproducibly across runs and engines. Selection is the
    * rank of the portable [[idHash]] order key within the group, so the
    * carve is stable under corpus growth in the same way
    * [[weightedSample]] is under rate changes: a grown group mostly keeps
    * its previous picks.
    *
    * Output manifest (join it back by id, like [[trainOrder]]):
    * (idCol, groupCol, rank) with rank 1..n by (key, id).
    *
    * Scale shape: the rank window never sees the full corpus. Group counts
    * aggregate slim and broadcast; each row pre-filters against a
    * per-group hash cutoff keeping ~`margin*n + 64` expected rows, so only
    * that many rows per group reach the exchange + sort. The cutoff is
    * probabilistic (binomial tail), so a runtime `raise_error` guard fails
    * the job loudly if a surviving group falls under the exact-n contract.
    * The one shape that would otherwise have no surviving row to raise on —
    * a group losing EVERY row (~1e-32 for uniform hashes, but [[idHash]] is
    * deterministic, so an adversarial id set CAN concentrate a whole group
    * above the cutoff) — is covered by a SENTINEL row per group, unioned
    * into the window input after the cutoff filter: every group always has
    * at least one row carrying the guard, at the cost of one extra row per
    * group from the already-aggregated counts. Sentinels order after every
    * real key (idHash < 2^32 < the sentinel key) and are dropped right
    * after the guard column evaluates.
    *
    * (The guard deliberately lives in the rank column BELOW the window —
    * window outputs are a predicate-pushdown barrier. An error expression
    * in a plain projected column is NOT safe: a downstream join or filter
    * predicate on that column gets pushed down by substitution and
    * evaluates the raise on every row of the branch's scan.)
    */
  def stratifiedTake(
      df: DataFrame,
      idCol: String,
      groupCol: String,
      n: Int,
      seed: Long = 0L,
      margin: Double = 8.0): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(margin >= 2.0, s"margin must be >= 2.0, got $margin")
    require(seed >= 0, s"seed must be >= 0, got $seed")
    val counts = df.groupBy(col(groupCol)).agg(count(lit(1)).as("_gc"))
    val key = idHash(col(idCol).cast("long") + lit(seed))
    // expected survivors per group = margin*n + 64: the additive floor
    // pins the zero-survivor probability (the one failure mode no
    // surviving row can raise on) under e^-(margin*n + 64) ~ 1e-32 even
    // for n = 1. cutoff >= 2^32 (keep everything) for groups at or under
    // that size.
    val cutoff = ceil(lit(margin * n + 64.0) / col("_gc") * lit(4294967296.0))
    val pre = df.select(col(idCol), col(groupCol), key.as("_key"))
      .join(broadcast(counts), Seq(groupCol))
      .filter(col("_key") < cutoff)
    // one sentinel per group, keyed past every real idHash value: the
    // guard row for groups whose real rows ALL fell to the cutoff
    val sentinelKey = 8589934592L // 2^33
    val sentinels = counts.select(
      col(groupCol),
      lit(0).cast(df.schema(idCol).dataType).as(idCol),
      lit(sentinelKey).as("_key"),
      col("_gc"))
    val preAll = pre.select(col(groupCol), col(idCol), col("_key"), col("_gc"))
      .unionAll(sentinels)
    val byGroup = org.apache.spark.sql.expressions.Window.partitionBy(col(groupCol))
    val survivors = count(lit(1)).over(byGroup) - 1 // minus the sentinel
    val rank = row_number().over(byGroup.orderBy(col("_key"), col(idCol)))
    // the guard lives INSIDE the selected rank column — an unreferenced
    // assertion column would be pruned out of the plan and never evaluate
    preAll
      .withColumn("rank",
        when(survivors < least(lit(n.toLong), col("_gc")),
          raise_error(concat(
            lit("stratifiedTake: hash cutoff kept too few rows in group "),
            col(groupCol).cast("string"),
            lit(s" for n=$n; raise margin (=$margin)"))).cast("int"))
          .otherwise(rank).cast("long"))
      .filter(col("rank") <= n && col("_key") < sentinelKey)
      .select(col(idCol), col(groupCol), col("rank"))
  }

  /** Gopher-style repetition statistics per document:
    * (id, n_tokens, dup_token_ratio, dup_ngram_ratio, repetitive).
    *
    * dup_token_ratio = (n_tokens - n_distinct_tokens) / n_tokens;
    * dup_ngram_ratio likewise over length-`ngramLen` n-grams. Ratios are
    * integer-difference-over-integer divisions evaluated in one fixed
    * order, so an external oracle bit-matches the doubles. Documents with
    * no tokens/n-grams get ratio 0.
    */
  def repetitionStats(
      df: DataFrame,
      idCol: String,
      textCol: String,
      ngramLen: Int = 2,
      dupNgramThreshold: Double = 0.3): DataFrame = {
    // STAGED projections: HOF lambdas defeat whole-stage-codegen subexpression
    // elimination (see TextAnalysis), so inlining tokenNgrams into each of
    // size()/array_distinct() would rebuild the gram array several times per
    // row — and building it is O(tokens * n) array slicing. CollapseProject
    // keeps these stages separate because the array exprs are non-cheap and
    // multiply-referenced, so each array materializes exactly once per row.
    val arrs = df.select(
      col(idCol).cast("long").as("id"),
      spaceTokens(col(textCol)).as("toks"),
      tokenNgrams(col(textCol), ngramLen).as("grams"))
    val counts = arrs.select(
      col("id"),
      size(col("toks")).as("nt"),
      size(array_distinct(col("toks"))).as("dt"),
      size(col("grams")).as("ng"),
      size(array_distinct(col("grams"))).as("dg"))
    def dupRatio(n: Column, d: Column): Column =
      when(n > 0, (n - d).cast("double") / n.cast("double")).otherwise(lit(0.0))
    counts.select(
        col("id"),
        col("nt").cast("long").as("n_tokens"),
        dupRatio(col("nt"), col("dt")).as("dup_token_ratio"),
        dupRatio(col("ng"), col("dg")).as("dup_ngram_ratio"))
      .withColumn("repetitive", col("dup_ngram_ratio") > dupNgramThreshold)
  }

  /** Fail-fast cap on the collected boilerplate-segment hash set. 2^20
    * 8-byte hashes is ~8 MB broadcast — comfortably executor-resident; a
    * corpus exceeding it has a mis-set threshold, not more boilerplate.
    */
  val DefaultMaxBoilerplateSegments: Int = 1 << 20

  /** CCNet-style boilerplate removal: drop SEGMENTS that occur in more than
    * `maxDocFrac` of documents (site navigation, cookie banners, repeated
    * headers/footers — the inter-document twin of [[repetitionStats]]'
    * intra-document signal). A segment is one delimiter-split unit: lines
    * (`"\n"`, the CCNet granularity) or tokens (corpus-adaptive stopword
    * pruning — the oracle-checked instantiation, q53).
    *
    * Output: (idCol, cleaned_text, n_removed) — cleaned_text re-joins the
    * surviving segments in order; n_removed counts removed OCCURRENCES.
    *
    * Scale shape (the CCNet recipe): document frequency is aggregated over
    * 64-bit segment HASHES, so the df shuffle moves (hash, partial count)
    * pairs — never segment text. The frequent-hash set is driver-collected
    * (capped, fail-fast) and broadcast into a single per-row rewrite pass:
    * corpus text is scanned twice (df + rewrite) and shuffled ZERO times.
    * Trade-off, as published: a 64-bit hash collision with a frequent
    * segment drops an innocent one; at 2^20 frequent segments the per-
    * segment odds are ~2^-44.
    *
    * `totalDocs` skips the internal `count()` when the caller already
    * knows it (e.g. from a catalog or a prior pass).
    */
  def removeBoilerplate(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDocFrac: Double = 0.5,
      delimiter: String = "\n",
      totalDocs: Option[Long] = None,
      maxBoilerplateSegments: Int = DefaultMaxBoilerplateSegments): DataFrame = {
    require(maxDocFrac > 0.0 && maxDocFrac <= 1.0,
      s"maxDocFrac must be in (0,1], got $maxDocFrac")
    require(delimiter.nonEmpty, "delimiter must be non-empty")
    val quoted = java.util.regex.Pattern.quote(delimiter)
    val segments = split(col(textCol), quoted, -1)

    val nDocs = totalDocs.getOrElse(docs.count())
    val threshold = maxDocFrac * nDocs // double compare, same in the oracle
    val capLimit = math.min(maxBoilerplateSegments.toLong + 1, Int.MaxValue.toLong).toInt
    // per-doc-distinct segments -> df; only hashes reach the shuffle
    val freqRows = docs
      .select(explode(array_distinct(segments)).as("seg"))
      .select(xxhash64(col("seg")).as("h"))
      .groupBy(col("h")).agg(count(lit(1)).as("df"))
      .filter(col("df").cast("double") > lit(threshold))
      .select(col("h")).limit(capLimit).collect()
    require(freqRows.length <= maxBoilerplateSegments,
      s"boilerplate segment set exceeds maxBoilerplateSegments=" +
        s"$maxBoilerplateSegments; raise the cap or maxDocFrac")
    val fset = freqRows.map(_.getLong(0)).toSeq

    // staged so the split and filtered arrays each materialize once per row
    // (multiply-referenced non-cheap exprs — see repetitionStats).
    // Membership is a Catalyst InSet built DIRECTLY over the hash set —
    // isin() would construct an In expression with one Literal child per
    // frequent segment (up to the 2^20 cap), and driver-side analysis over
    // a million-node tree is slow and OOM-prone long before the optimizer
    // would convert it to InSet itself.
    val kept =
      if (fset.isEmpty) col("_segs") // membership of zero values is vacuous
      else {
        val hset: Set[Any] = fset.toSet
        filter(col("_segs"), s => !Bridge.column(
          catalyst.expressions.InSet(Bridge.expression(xxhash64(s)), hset)))
      }
    docs.select(col(idCol), segments.as("_segs"))
      .select(col(idCol), col("_segs"), kept.as("_kept"))
      .select(
        col(idCol),
        array_join(col("_kept"), delimiter).as("cleaned_text"),
        (size(col("_segs")) - size(col("_kept"))).cast("long").as("n_removed"))
  }

  /** SEMANTIC test-set decontamination: flag every corpus row whose
    * embedding is cosine-similar (>= `threshold`) to ANY benchmark/eval
    * embedding — the embedding-space complement of [[decontaminate]]'s
    * n-gram recipe (catches paraphrased eval leakage that shares no
    * 8-gram with the benchmark).
    *
    * Output: (id, hits BIGINT, contaminated BOOLEAN) — one row per corpus
    * row including clean ones, `hits` = how many benchmark vectors matched.
    * Counts, not raw cosines, so the result hash is ULP-robust across
    * engines (the q22 discipline).
    *
    * Scale shape: an eval set is small by definition, so its vectors
    * BROADCAST and the corpus is scanned exactly once — the similarity
    * check runs scan-side as a broadcast nested-loop join (O(B) codegen'd
    * cosines per corpus row, B = benchmark size), and the only wide
    * movement is slim (id, hits) pairs into one partial-aggregated count.
    * Corpus vectors are never exchanged. For benchmark sets too big to
    * broadcast-scan, prefilter candidates with [[Dedup.embeddingNearDupLsh]]
    * banding or an [[graft.ml.IvfIndex]] probe and verify only candidates —
    * `maxBenchRows` enforces that boundary FAIL-FAST (the
    * [[graft.operators.Mmr.rerank]] cap discipline): a million fat
    * embedding rows under an unconditional broadcast hint is a driver OOM
    * with no error, and O(B) cosines per corpus row stops being a scan-side
    * bargain long before that.
    */
  def decontaminateSemantic(
      corpus: DataFrame,
      benchmark: DataFrame,
      idCol: String,
      vecCol: String,
      threshold: Double,
      maxBenchRows: Long = 1L << 20): DataFrame = {
    require(benchmark.limit(
        math.min(maxBenchRows + 1, Int.MaxValue.toLong).toInt).count() <= maxBenchRows,
      s"decontaminateSemantic: benchmark exceeds maxBenchRows=$maxBenchRows " +
        "— a set this size cannot broadcast-scan; prefilter with " +
        "embeddingNearDupLsh banding or an IVF probe and verify candidates")
    val bench = benchmark.select(col(vecCol).as("_bv"))
    val hits = corpus
      .select(col(idCol).cast("long").as("id"), col(vecCol).as("_cv"))
      .join(broadcast(bench),
        graft.functions.vector.cosine_sim(col("_cv"), col("_bv")) >= threshold)
      .groupBy(col("id"))
      .agg(count(lit(1)).as("hits"))
    corpus.select(col(idCol).cast("long").as("id"))
      .join(hits, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("hits"), lit(0L)).as("hits"),
        (coalesce(col("hits"), lit(0L)) > 0).as("contaminated"))
  }

  /** Percentile gate: keep rows whose numeric `metricCol` (token count,
    * quality score, document length...) lies within the corpus's exact
    * [pLow, pHigh] percentile band — the standard outlier-length /
    * degenerate-document cut run before training.
    *
    * Output: (id, metric) for kept rows. The thresholds use Spark's EXACT
    * `percentile` with linear interpolation — position p*(n-1), the
    * PostgreSQL/DuckDB `quantile_cont` definition, so an external engine
    * reproduces the cut bit-for-bit on integer metrics (interpolated
    * bounds are exact dyadic doubles and both engines evaluate the same
    * IEEE formula).
    *
    * Scale shape: pass 1 reduces the whole corpus to ONE row of bounds —
    * exact `percentile` partial-aggregates per-partition value->count maps,
    * which stays small precisely when the metric has bounded cardinality
    * (lengths, counts, quantized scores; for unbounded continuous metrics
    * swap in `percentile_approx`). Pass 2 broadcasts that row and filters
    * scan-side: no shuffle ever touches corpus rows.
    */
  def percentileGate(
      df: DataFrame,
      idCol: String,
      metricCol: String,
      pLow: Double,
      pHigh: Double): DataFrame = {
    require(pLow >= 0.0 && pHigh <= 1.0 && pLow <= pHigh,
      s"percentile band must satisfy 0 <= pLow <= pHigh <= 1, got [$pLow, $pHigh]")
    val bounds = df.agg(
      expr(s"percentile(`$metricCol`, array($pLow, $pHigh))").as("_b"))
      .select(col("_b").getItem(0).as("_lo"), col("_b").getItem(1).as("_hi"))
    df.select(col(idCol).cast("long").as("id"), col(metricCol).as("metric"))
      .crossJoin(broadcast(bounds))
      .filter(col("metric").cast("double").between(col("_lo"), col("_hi")))
      .select(col("id"), col("metric"))
  }

  /** Leakage-safe train/validation/test split: assign every row a split
    * by a deterministic hash draw on its NEAR-DUP CLUSTER id, so all
    * members of a duplicate cluster land in the SAME split — the guard
    * against the classic eval-inflation bug where a test doc's near-twin
    * sits in train (contamination the n-gram decontaminate pass can't
    * see once the twin IS the benchmark). `pairs` is any near-dup edge
    * set ((id_a, id_b) — MinHash, SimHash, winnowing, embedding LSH...);
    * rows in no pair are their own singleton cluster.
    *
    * Output: (id, group_id, split STRING in {train, validation, test}).
    * Determinism contract: cluster id = min id of the component
    * ([[graft.operators.Dedup.dedupGroups]]), the draw is the portable
    * [[idHash]] on the CLUSTER id quantized to ppm — `trainPpm` /
    * `valPpm` thresholds, remainder test — so the split reproduces
    * across runs, engines, partitionings, and (deliberately) does NOT
    * move when non-clustered rows are added.
    *
    * Scale shape: [[Dedup.dedupGroups]]' component machinery (driver
    * union-find under 2^20 edges, distributed pointer-jumping above) plus
    * one hash-arithmetic projection — no additional shuffle beyond the
    * grouping itself.
    */
  def leakageSafeSplit(
      df: DataFrame,
      pairs: DataFrame,
      idCol: String,
      trainPpm: Long = 800000L,
      valPpm: Long = 100000L): DataFrame = {
    require(trainPpm >= 0 && valPpm >= 0 && trainPpm + valPpm <= 1000000L,
      s"ppm split must satisfy 0 <= trainPpm + valPpm <= 1e6, " +
        s"got $trainPpm + $valPpm")
    val draw = pmod(idHash(col("group_id")), lit(1000000L))
    Dedup.dedupGroups(df, pairs, idCol)
      .select(col("id"), col("group_id"),
        when(draw < trainPpm, lit("train"))
          .when(draw < trainPpm + valPpm, lit("validation"))
          .otherwise(lit("test")).as("split"))
  }

  /** Importance-weighted lottery: sample ~`targetRows` rows with
    * per-ROW continuous weights — keep probability proportional to
    * `weightCol` — decided by the same deterministic [[idHash]] draw as
    * [[weightedSample]]. This is the selection half of importance
    * resampling (DSIR-style data selection: weight = how target-like a
    * document scores under two contrast models), where a per-SOURCE rate
    * can't express the policy because every row has its own weight.
    *
    * Determinism contract: weights quantize to ppm (`round(w * 1e6)`,
    * summed as exact longs — a double Σw would be partition-order
    * dependent), each row's keep rate is
    * `least(1e6, round(1e6 * (target * w / Σw)))` — one fixed-association
    * IEEE expression over exact integers — and the draw is the portable
    * arithmetic hash. Reproducible across runs, engines, partitionings;
    * raising `targetRows` re-selects a superset. Rows with nonpositive or
    * sub-ppm weight are never kept. Output: (id, weight_ppm, rate_ppm).
    *
    * Scale shape: one 1-row exact aggregate broadcast, then a pure filter
    * — no shuffle of data rows, the [[weightedSample]] discipline.
    */
  def weightedLottery(
      df: DataFrame,
      idCol: String,
      weightCol: String,
      targetRows: Long): DataFrame = {
    require(targetRows >= 1, s"targetRows must be >= 1, got $targetRows")
    // null/NaN/infinite weights DROP with the nonpositive ones — a NaN
    // would otherwise detonate the ANSI double->long cast mid-job, and an
    // unscored document has no business in an importance-weighted draw
    // (score it, or route it to a default-rate weightedSample lane)
    val w = col(weightCol).cast("double")
    val pre = df
      .filter(w.isNotNull && !isnan(w) && w > 0 &&
        w =!= Double.PositiveInfinity)
      .select(col(idCol).cast("long").as("id"),
        // ppm-quantized and clamped to 1e12 (weight 1e6): a runaway weight
        // would overflow the long cast / the exact Σ; past the clamp its
        // rate saturates to 1 anyway, so the distortion is immaterial
        least(round(w * lit(1000000.0)), lit(1000000000000L))
          .cast("long").as("weight_ppm"))
      .filter(col("weight_ppm") > 0)
    // Σ as DECIMAL(38,0): a plain long sum wraps SILENTLY under non-ANSI
    // defaults (~9.2e6 rows at the 1e12 clamp), corrupting every rate_ppm
    // with no error; decimal accumulation stays exact to 38 digits
    // (unreachable: 1e12/row needs 1e26 rows) and engine-portable (DuckDB
    // sums BIGINT as exact HUGEINT). The downstream double cast is
    // unchanged.
    val total = pre.agg(
      sum(col("weight_ppm").cast("decimal(38,0)")).as("_sw"))
    pre.crossJoin(broadcast(total))
      .withColumn("rate_ppm", least(lit(1000000L),
        round(lit(1000000.0) * (lit(targetRows.toDouble) *
          col("weight_ppm").cast("double") / col("_sw").cast("double")))
          .cast("long")))
      .filter(pmod(idHash(col("id")), lit(1000000L)) < col("rate_ppm"))
      .select(col("id"), col("weight_ppm"), col("rate_ppm"))
  }
}
