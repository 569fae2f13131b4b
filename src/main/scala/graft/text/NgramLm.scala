package graft.text

import graft.functions.LmPerplexity
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftx.Bridge

/** N-gram language-model perplexity filtering — the CCNet recipe's third
  * leg (alongside dedup and the quality classifier): score every document
  * by a small LM trained on a reference corpus, keep the low-perplexity
  * (in-domain) tail. CCNet uses a KenLM 5-gram; the engine-native
  * equivalent is an add-k-smoothed bigram model, which keeps the count
  * tables broadcastable and the scoring pass a single codegen'd scan.
  *
  * Spark-first split (same discipline as [[BpeTokenizer]]):
  *  - COUNTS are distributed aggregations (explode -> hash aggregate; the
  *    shuffle carries (gram, partial count) pairs);
  *  - the PRUNED tables (top-`maxVocab` unigrams, bigrams over `minCount`
  *    within that vocab) are driver-collected behind fail-fast caps — at
  *    100 TB pruning is what makes the published approach work too: KenLM
  *    tables ship to every worker;
  *  - SCORING is one broadcast-table expression per row, no shuffle.
  *
  * When the pruned table itself outgrows the broadcast ceiling, the
  * FRAMES route ([[trainKn3Distributed]]/[[trainKn3ModDistributed]] +
  * [[scoreKn3Distributed]]/[[scoreKn3ModDistributed]]) keeps every gram
  * table distributed and scores through equi-joins — same arithmetic,
  * no driver table, no cap (q168/q171 pin route identity under the
  * broadcast twins' oracles). Route choice, measured by LmProbe at commit
  * 19fff4c: the broadcast map probe wins only while the model is SMALL (sf0.1
  * bench: 0.59 s vs 1.03 s); by ~1M pruned rows the join route already trains
  * 1.8× and scores 2.2× faster — prefer frames for table-shaped models
  * well before the ceiling forces it.
  */
object NgramLm {

  /** Bounded, broadcastable model. */
  case class LmModel(
      unigrams: java.util.HashMap[String, java.lang.Long],
      bigrams: java.util.HashMap[String, java.lang.Long],
      vocabSize: Int,
      totalTokens: Long,
      k: Double)

  /** Maximum collected bigram rows — 2M entries is tens of MB broadcast,
    * the practical ceiling for executor-resident tables.
    */
  val DefaultMaxBigrams: Int = 1 << 21

  def train(
      docs: DataFrame,
      textCol: String,
      maxVocab: Int = 65536,
      minBigramCount: Long = 2L,
      k: Double = 0.1,
      maxBigrams: Int = DefaultMaxBigrams): LmModel = {
    val toks = docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    // top-maxVocab unigrams by (count desc, word asc) — deterministic prune
    val uniRows = toks.groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(maxVocab).collect()
    val unigrams = new java.util.HashMap[String, java.lang.Long](uniRows.length * 2)
    var total = 0L
    uniRows.foreach { r =>
      unigrams.put(r.getString(0), r.getLong(1))
      total += r.getLong(1)
    }
    require(total > 0, "empty training corpus")

    val biLimit = math.min(maxBigrams.toLong + 1, Int.MaxValue.toLong).toInt
    // normalize runs of whitespace before the single-space n-gram kernel so
    // bigram tokenization agrees with the \s+ splits above and in the scorer
    val biRows = docs
      .select(explode(graft.operators.Curation.tokenNgrams(
        trim(regexp_replace(col(textCol), "\\s+", " ")), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minBigramCount)
      .orderBy(col("c").desc, col("g").asc)
      .limit(biLimit).collect()
    require(biRows.length <= maxBigrams,
      s"bigram table exceeds maxBigrams=$maxBigrams; raise minBigramCount")
    val bigrams = new java.util.HashMap[String, java.lang.Long](biRows.length * 2)
    biRows.foreach { r =>
      // keep only bigrams whose history survives the vocab prune — the
      // scorer backs off through the unigram table for everything else
      if (unigrams.containsKey(r.getString(0).takeWhile(_ != ' ')))
        bigrams.put(r.getString(0), r.getLong(1))
    }
    LmModel(unigrams, bigrams, unigrams.size(), total, k)
  }

  /** Interpolated Kneser–Ney model: the add-k table plus the KN
    * statistics, every one derived DRIVER-SIDE from the already-pruned
    * bigram table (no extra Spark jobs, and an external engine replays
    * training exactly because the prune is deterministic):
    * c(h·)/N1+(h,·) per history, N1+(·,w) per continuation word,
    * B = pruned bigram types.
    */
  case class KnModel(
      bigrams: java.util.HashMap[String, java.lang.Long],
      histTotals: java.util.HashMap[String, java.lang.Long],
      histDistinct: java.util.HashMap[String, java.lang.Long],
      contCounts: java.util.HashMap[String, java.lang.Long],
      bTypes: Long,
      vocabSize: Int,
      d: Double,
      k: Double)

  /** Train the interpolated-KN upgrade of [[train]]'s bigram model
    * (Kneser & Ney 1995; Chen & Goodman 1999's interpolated form with a
    * fixed discount `d`, the standard 0.75). Same distributed count +
    * deterministic prune as [[train]]; the KN continuation/history
    * statistics are a driver pass over the collected table. `k`
    * regularizes the continuation base so out-of-table tokens keep a
    * nonzero probability (the closed-vocab stand-in for <unk>).
    */
  def trainKn(
      docs: DataFrame,
      textCol: String,
      maxVocab: Int = 65536,
      minBigramCount: Long = 2L,
      d: Double = 0.75,
      k: Double = 0.1,
      maxBigrams: Int = DefaultMaxBigrams): KnModel = {
    require(d > 0 && d < 1, s"discount must be in (0,1), got $d")
    val m = train(docs, textCol, maxVocab, minBigramCount, k, maxBigrams)
    val histTotals = new java.util.HashMap[String, java.lang.Long]()
    val histDistinct = new java.util.HashMap[String, java.lang.Long]()
    val contCounts = new java.util.HashMap[String, java.lang.Long]()
    val it = m.bigrams.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val g = e.getKey
      val sp = g.indexOf(' ')
      val h = g.substring(0, sp)
      val w = g.substring(sp + 1)
      val ht = histTotals.get(h)
      histTotals.put(h, (if (ht == null) 0L else ht.longValue()) + e.getValue.longValue())
      val hd = histDistinct.get(h)
      histDistinct.put(h, (if (hd == null) 0L else hd.longValue()) + 1L)
      val cc = contCounts.get(w)
      contCounts.put(w, (if (cc == null) 0L else cc.longValue()) + 1L)
    }
    require(m.bigrams.size() > 0,
      "KN needs a nonempty pruned bigram table; lower minBigramCount")
    KnModel(m.bigrams, histTotals, histDistinct, contCounts,
      m.bigrams.size().toLong, m.vocabSize, d, k)
  }

  /** Interpolated TRIGRAM Kneser–Ney model — the real quality-gate floor
    * (the bigram [[KnModel]] is the standard textbook floor; production
    * perplexity gates run trigram+). EVERY statistic derives from ONE
    * pruned trigram table:
    *  - trigram level: c(uvw), with c(uv·)/N1+(uv·) per history;
    *  - middle level: continuation counts N1+(·vw) (distinct u per (v,w)
    *    in the pruned table), with N1+(·v·)/N1+(v··) per middle history;
    *  - base: continuation N1+(··w) over middle types M, add-k
    *    regularized against vocab V.
    * The prune (count >= minTrigramCount, then (count desc, gram asc)
    * under `maxTrigrams`) is deterministic, so an external engine replays
    * training exactly — the q144 discipline at n=3.
    */
  case class Kn3Model(
      trigrams: java.util.HashMap[String, java.lang.Long],
      triHistTotals: java.util.HashMap[String, java.lang.Long],
      triHistDistinct: java.util.HashMap[String, java.lang.Long],
      midCounts: java.util.HashMap[String, java.lang.Long],
      midHistTotals: java.util.HashMap[String, java.lang.Long],
      midHistDistinct: java.util.HashMap[String, java.lang.Long],
      contCounts: java.util.HashMap[String, java.lang.Long],
      mTypes: Long,
      vocabSize: Int,
      d: Double,
      k: Double)

  /** Train the trigram-KN upgrade of [[trainKn]]. Distributed work is one
    * exact distinct-word count (vocab size for the base regularizer) and
    * one trigram count aggregation; the prune collects under a fail-fast
    * cap and the KN statistics are one driver pass over the collected
    * table — the same scale shape as [[trainKn]] (KenLM tables ship to
    * every worker in the published recipe too; pruning is what makes it
    * work at 100 TB there as well).
    */
  def trainKn3(
      docs: DataFrame,
      textCol: String,
      maxVocab: Int = 65536,
      minTrigramCount: Long = 2L,
      d: Double = 0.75,
      k: Double = 0.1,
      maxTrigrams: Int = DefaultMaxBigrams): Kn3Model = {
    require(d > 0 && d < 1, s"discount must be in (0,1), got $d")
    val toks = docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val vocabSize = math.min(
      toks.agg(countDistinct(col("w"))).head().getLong(0),
      maxVocab.toLong).toInt
    require(vocabSize > 0, "empty training corpus")
    val triLimit = math.min(maxTrigrams.toLong + 1, Int.MaxValue.toLong).toInt
    val triRows = docs
      .select(explode(graft.operators.Curation.tokenNgrams(
        trim(regexp_replace(col(textCol), "\\s+", " ")), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minTrigramCount)
      .orderBy(col("c").desc, col("g").asc)
      .limit(triLimit).collect()
    require(triRows.length <= maxTrigrams,
      s"trigram table exceeds maxTrigrams=$maxTrigrams; raise minTrigramCount")
    require(triRows.nonEmpty,
      "KN3 needs a nonempty pruned trigram table; lower minTrigramCount")
    val trigrams = new java.util.HashMap[String, java.lang.Long](triRows.length * 2)
    val triHistTotals = new java.util.HashMap[String, java.lang.Long]()
    val triHistDistinct = new java.util.HashMap[String, java.lang.Long]()
    val midCounts = new java.util.HashMap[String, java.lang.Long]()
    triRows.foreach { r =>
      val g = r.getString(0)
      val c = r.getLong(1)
      trigrams.put(g, c)
      val s1 = g.indexOf(' ')
      val s2 = g.indexOf(' ', s1 + 1)
      val h2 = g.substring(0, s2)
      val vw = g.substring(s1 + 1)
      val ht = triHistTotals.get(h2)
      triHistTotals.put(h2, (if (ht == null) 0L else ht.longValue()) + c)
      val hd = triHistDistinct.get(h2)
      triHistDistinct.put(h2, (if (hd == null) 0L else hd.longValue()) + 1L)
      // continuation count: each (u, v, w) table row is one distinct u
      val mc = midCounts.get(vw)
      midCounts.put(vw, (if (mc == null) 0L else mc.longValue()) + 1L)
    }
    val midHistTotals = new java.util.HashMap[String, java.lang.Long]()
    val midHistDistinct = new java.util.HashMap[String, java.lang.Long]()
    val contCounts = new java.util.HashMap[String, java.lang.Long]()
    val it = midCounts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val vw = e.getKey
      val sp = vw.indexOf(' ')
      val v = vw.substring(0, sp)
      val w = vw.substring(sp + 1)
      val mt = midHistTotals.get(v)
      midHistTotals.put(v, (if (mt == null) 0L else mt.longValue()) + e.getValue.longValue())
      val md = midHistDistinct.get(v)
      midHistDistinct.put(v, (if (md == null) 0L else md.longValue()) + 1L)
      val cc = contCounts.get(w)
      contCounts.put(w, (if (cc == null) 0L else cc.longValue()) + 1L)
    }
    Kn3Model(trigrams, triHistTotals, triHistDistinct, midCounts,
      midHistTotals, midHistDistinct, contCounts, midCounts.size().toLong,
      vocabSize, d, k)
  }

  /** [[Kn3Model]] upgraded to MODIFIED Kneser–Ney (Chen & Goodman 1998;
    * the KenLM production default — public knowledge): three per-level
    * discounts d1/d2/d3+ ESTIMATED from the level's count-of-count
    * statistics instead of one fixed d, with the backoff mass
    * γ(h) = (d1·N1(h) + d2·N2(h) + d3·N3+(h)) / c(h) where Nr(h) counts
    * continuations of h seen exactly r times (N3+ at least 3). Per-history
    * Nr ride ONE packed long per history (N1 | N2<<21 | N3+<<42 — each
    * bucket < 2^21, enforced at train). Discount estimation always sees
    * the UNPRUNED count-of-counts (computed distributedly — the n1 bucket
    * IS the singleton mass the estimator needs, so it must never be
    * pruned away); the collected SCORING table prunes deterministically
    * past `maxTrigrams` (the KenLM shape). Deterministic end to end — an
    * external engine replays training exactly, the q151 discipline with
    * estimated discounts.
    */
  case class Kn3ModModel(
      trigrams: java.util.HashMap[String, java.lang.Long],
      triHistTotals: java.util.HashMap[String, java.lang.Long],
      triHistN: java.util.HashMap[String, java.lang.Long],
      midCounts: java.util.HashMap[String, java.lang.Long],
      midHistTotals: java.util.HashMap[String, java.lang.Long],
      midHistN: java.util.HashMap[String, java.lang.Long],
      contCounts: java.util.HashMap[String, java.lang.Long],
      mTypes: Long,
      vocabSize: Int,
      triD1: Double, triD2: Double, triD3: Double,
      midD1: Double, midD2: Double, midD3: Double,
      k: Double)

  /** Chen–Goodman discount estimates from a level's count distribution:
    * Y = n1/(n1 + 2 n2); d_r = r − (r+1)·Y·n_{r+1}/n_r for r = 1, 2, 3.
    * When a count-of-count bucket is empty or an estimate leaves (0, r) —
    * routine at small-corpus scale (a level's n4 bucket empties first) —
    * the WHOLE level falls back to (0.5, 1.0, 1.5), exactly KenLM's
    * `--discount_fallback` defaults (public knowledge), with a WARN. The
    * branch is pure arithmetic over the count-of-counts, so an external
    * engine replays the decision deterministically (the q157 twin does).
    */
  private[graft] def estimateDiscounts(
      counts: java.util.Collection[java.lang.Long]): (Double, Double, Double) = {
    var n1 = 0L; var n2 = 0L; var n3 = 0L; var n4 = 0L
    val it = counts.iterator()
    while (it.hasNext) {
      it.next().longValue() match {
        case 1L => n1 += 1
        case 2L => n2 += 1
        case 3L => n3 += 1
        case 4L => n4 += 1
        case _ => ()
      }
    }
    estimateDiscountsFromCoc(n1, n2, n3, n4)
  }

  /** [[estimateDiscounts]] from the four count-of-count buckets directly —
    * the seam that lets [[trainKn3Mod]] compute them DISTRIBUTEDLY (one
    * `groupBy(count).count()` per level) instead of collecting the
    * unpruned table to tally driver-side: n_r is a corpus statistic, not
    * a table statistic, so the values (and therefore the discounts) are
    * byte-identical between the two routes.
    */
  private[graft] def estimateDiscountsFromCoc(
      n1: Long, n2: Long, n3: Long, n4: Long): (Double, Double, Double) = {
    if (n1 > 0 && n2 > 0 && n3 > 0 && n4 > 0) {
      val y = n1.toDouble / (n1.toDouble + 2.0 * n2.toDouble)
      val d1 = 1.0 - 2.0 * y * (n2.toDouble / n1.toDouble)
      val d2 = 2.0 - 3.0 * y * (n3.toDouble / n2.toDouble)
      val d3 = 3.0 - 4.0 * y * (n4.toDouble / n3.toDouble)
      if (d1 > 0 && d1 < 1 && d2 > 0 && d2 < 2 && d3 > 0 && d3 < 3)
        return (d1, d2, d3)
    }
    log.warn(s"count-of-counts cannot support estimated discounts " +
      s"(n1=$n1 n2=$n2 n3=$n3 n4=$n4): level falls back to " +
      "(0.5, 1.0, 1.5), the KenLM --discount_fallback defaults")
    (0.5, 1.0, 1.5)
  }

  private lazy val log = org.slf4j.LoggerFactory.getLogger("graft.NgramLm")

  private def packN(n1: Long, n2: Long, n3p: Long): Long = {
    require(n1 < (1L << 21) && n2 < (1L << 21) && n3p < (1L << 21),
      s"per-history continuation bucket overflows 2^21 ($n1/$n2/$n3p)")
    n1 | (n2 << 21) | (n3p << 42)
  }

  /** Count-of-count buckets n_1..n_4 of a (key, count) frame — ONE
    * distributed `groupBy(count).count()` whose result is at most four
    * rows; the [[trainKn3Mod]] estimator input at any corpus scale.
    */
  private def countOfCounts(df: DataFrame, cCol: String): (Long, Long, Long, Long) = {
    val m = df.filter(col(cCol) <= 4)
      .groupBy(col(cCol)).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    (m.getOrElse(1L, 0L), m.getOrElse(2L, 0L),
      m.getOrElse(3L, 0L), m.getOrElse(4L, 0L))
  }

  /** Train the MODIFIED-KN upgrade of [[trainKn3]] — the KenLM scale
    * shape: DISCOUNTS are corpus statistics computed DISTRIBUTEDLY (one
    * `groupBy(count).count()` count-of-counts aggregation per level over
    * the unpruned trigram/continuation frames — at most four rows each
    * reach the driver), so the estimator has no corpus ceiling; only the
    * SCORING table is collected, PRUNED deterministically to the top
    * `maxTrigrams` by (count desc, gram asc) when the corpus outgrows the
    * cap (a WARN records the prune; per-history backoff statistics are
    * then computed over the pruned table — the table scoring actually
    * consults, the standard pruned-LM trade). Corpora under the cap train
    * byte-identically to the collect-everything route (spec-asserted).
    */
  def trainKn3Mod(
      docs: DataFrame,
      textCol: String,
      maxVocab: Int = 65536,
      k: Double = 0.1,
      maxTrigrams: Int = DefaultMaxBigrams): Kn3ModModel = {
    val toks = docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val vocabSize = math.min(
      toks.agg(countDistinct(col("w"))).head().getLong(0),
      maxVocab.toLong).toInt
    require(vocabSize > 0, "empty training corpus")
    // ONE trigram-type aggregation, pinned: it feeds the two level
    // estimators and the pruned scoring-table collect (three jobs over
    // a frame whose recomputation would re-scan the corpus each time)
    val triDf = docs
      .select(explode(graft.operators.Curation.tokenNgrams(
        trim(regexp_replace(col(textCol), "\\s+", " ")), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .localCheckpoint(true)
    // trigram-level n_r over the UNPRUNED table — the n1 bucket is the
    // singleton mass the estimator needs, which pruning would destroy
    val (tn1, tn2, tn3, tn4) = countOfCounts(triDf, "c")
    val (td1, td2, td3) = estimateDiscountsFromCoc(tn1, tn2, tn3, tn4)
    // middle-level continuation counts N1+(·vw): each trigram TYPE row is
    // one distinct u for its suffix, so the continuation frame is a
    // groupBy over suffixes of the TYPE frame — still unpruned
    val (mn1, mn2, mn3, mn4) = countOfCounts(
      triDf.select(col("g").substr(
          locate(" ", col("g")) + lit(1), length(col("g"))).as("vw"))
        .groupBy(col("vw")).agg(count(lit(1)).as("c")), "c")
    val (md1, md2, md3) = estimateDiscountsFromCoc(mn1, mn2, mn3, mn4)
    val triLimit = math.min(maxTrigrams.toLong + 1, Int.MaxValue.toLong).toInt
    val pruned = triDf
      .orderBy(col("c").desc, col("g").asc)
      .limit(triLimit).collect()
    if (pruned.length > maxTrigrams)
      log.warn(s"trigram table exceeds maxTrigrams=$maxTrigrams: scoring " +
        "table pruned to the top entries by (count desc, gram asc); " +
        "discounts remain exact corpus statistics")
    val triRows = pruned.take(maxTrigrams)
    require(triRows.nonEmpty, "modified KN needs a nonempty trigram table")
    val trigrams = new java.util.HashMap[String, java.lang.Long](triRows.length * 2)
    val triHistTotals = new java.util.HashMap[String, java.lang.Long]()
    val midCounts = new java.util.HashMap[String, java.lang.Long]()
    // per-history bucket tallies before packing
    val triN1 = new java.util.HashMap[String, Array[Long]]()
    triRows.foreach { r =>
      val g = r.getString(0)
      val c = r.getLong(1)
      trigrams.put(g, c)
      val s1 = g.indexOf(' ')
      val s2 = g.indexOf(' ', s1 + 1)
      val h2 = g.substring(0, s2)
      val vw = g.substring(s1 + 1)
      val ht = triHistTotals.get(h2)
      triHistTotals.put(h2, (if (ht == null) 0L else ht.longValue()) + c)
      val buckets = triN1.computeIfAbsent(h2, _ => new Array[Long](3))
      buckets(math.min(c, 3L).toInt - 1) += 1
      val mc = midCounts.get(vw)
      midCounts.put(vw, (if (mc == null) 0L else mc.longValue()) + 1L)
    }
    val triHistN = new java.util.HashMap[String, java.lang.Long](triN1.size() * 2)
    triN1.forEach((h, b) => triHistN.put(h, packN(b(0), b(1), b(2))))
    val midHistTotals = new java.util.HashMap[String, java.lang.Long]()
    val midN = new java.util.HashMap[String, Array[Long]]()
    val contCounts = new java.util.HashMap[String, java.lang.Long]()
    val it = midCounts.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val vw = e.getKey
      val sp = vw.indexOf(' ')
      val v = vw.substring(0, sp)
      val w = vw.substring(sp + 1)
      val mt = midHistTotals.get(v)
      midHistTotals.put(v, (if (mt == null) 0L else mt.longValue()) + e.getValue.longValue())
      val buckets = midN.computeIfAbsent(v, _ => new Array[Long](3))
      buckets(math.min(e.getValue.longValue(), 3L).toInt - 1) += 1
      val cc = contCounts.get(w)
      contCounts.put(w, (if (cc == null) 0L else cc.longValue()) + 1L)
    }
    val midHistN = new java.util.HashMap[String, java.lang.Long](midN.size() * 2)
    midN.forEach((h, b) => midHistN.put(h, packN(b(0), b(1), b(2))))
    Kn3ModModel(trigrams, triHistTotals, triHistN, midCounts, midHistTotals,
      midHistN, contCounts, midCounts.size().toLong, vocabSize,
      td1, td2, td3, md1, md2, md3, k)
  }

  /** Modified-KN trigram perplexity column (codegen'd, no shuffle). */
  def perplexityKn3Mod(text: Column, model: Kn3ModModel): Column =
    Bridge.column(graft.functions.LmKn3ModPerplexity(Bridge.expression(text),
      model.trigrams, model.triHistTotals, model.triHistN,
      model.midCounts, model.midHistTotals, model.midHistN,
      model.contCounts, model.mTypes, model.vocabSize,
      model.triD1, model.triD2, model.triD3,
      model.midD1, model.midD2, model.midD3, model.k))

  /** Trigram-KN perplexity column (codegen'd, no shuffle). */
  def perplexityKn3(text: Column, model: Kn3Model): Column =
    Bridge.column(graft.functions.LmKn3Perplexity(Bridge.expression(text),
      model.trigrams, model.triHistTotals, model.triHistDistinct,
      model.midCounts, model.midHistTotals, model.midHistDistinct,
      model.contCounts, model.mTypes, model.vocabSize, model.d, model.k))

  /** Kneser–Ney perplexity column (codegen'd, no shuffle). */
  def perplexityKn(text: Column, model: KnModel): Column =
    Bridge.column(graft.functions.LmKnPerplexity(Bridge.expression(text),
      model.bigrams, model.histTotals, model.histDistinct, model.contCounts,
      model.bTypes, model.vocabSize, model.d, model.k))

  /** KN per-token log2-probability array (codegen'd, no shuffle) — the
    * token-level surface [[minKProbKn]] aggregates.
    */
  def tokenLogProbsKn(text: Column, model: KnModel): Column =
    Bridge.column(graft.functions.LmKnTokenLogProbs(Bridge.expression(text),
      model.bigrams, model.histTotals, model.histDistinct, model.contCounts,
      model.bTypes, model.vocabSize, model.d, model.k))

  /** Perplexity column for a text column (codegen'd, no shuffle). */
  def perplexity(text: Column, model: LmModel): Column =
    Bridge.column(LmPerplexity(Bridge.expression(text), model.unigrams,
      model.bigrams, model.vocabSize, model.totalTokens, model.k))

  /** Keep docs under the perplexity ceiling — the CCNet "head/middle" cut.
    * A pure filter: zero shuffle, deterministic.
    */
  def filterByPerplexity(
      docs: DataFrame, textCol: String, model: LmModel,
      maxPerplexity: Double): DataFrame =
    docs.filter(perplexity(col(textCol), model) <= maxPerplexity)

  /** Per-token log2-probability array (codegen'd, no shuffle) — the
    * token-level scoring surface [[minKProb]] aggregates; perplexity is
    * `2^(-mean)` of it by construction.
    */
  def tokenLogProbs(text: Column, model: LmModel): Column =
    Bridge.column(graft.functions.LmTokenLogProbs(Bridge.expression(text),
      model.unigrams, model.bigrams, model.vocabSize, model.totalTokens,
      model.k))

  /** Min-K% Prob membership-inference score (Shi et al. 2024, "Detecting
    * Pretraining Data from Large Language Models" — the published recipe,
    * applied with the engine-native bigram LM): the mean of each
    * document's LOWEST ceil(frac x T) token log-probabilities. A document
    * the model has effectively memorized predicts even its least-likely
    * tokens well (score near 0); an unseen document's outlier tokens drag
    * the score down. The memorization-risk audit runs over candidate
    * training documents against an LM trained on the corpus under
    * suspicion — the probabilistic complement of the exact n-gram
    * decontamination family.
    *
    * Output: (id, n_tokens, mink_avg_logprob DOUBLE) — one row per doc;
    * an empty document scores NULL (no evidence).
    *
    * Scale shape: one codegen'd scan — the model is broadcast inside the
    * expression, the per-doc sort/slice/fold are array functions over
    * that doc's own tokens, and no shuffle exists at all.
    */
  def minKProb(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: LmModel,
      frac: Double = 0.2): DataFrame =
    minKFrom(docs, idCol, tokenLogProbs(col(textCol), model), frac)
  /** [[minKProb]] under the interpolated-KN model ([[trainKn]]) — the
    * same bottom-k fold over the better-calibrated per-token surface
    * (membership-inference power tracks LM quality: a smoothing that
    * models real continuations tightens the in-train/held-out gap).
    */
  def minKProbKn(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      model: KnModel,
      frac: Double = 0.2): DataFrame =
    minKFrom(docs, idCol, tokenLogProbsKn(col(textCol), model), frac)

  private def minKFrom(
      docs: DataFrame,
      idCol: String,
      lp: Column,
      frac: Double): DataFrame = {
    require(frac > 0.0 && frac <= 1.0, s"frac must be in (0, 1], got $frac")
    docs
      .select(col(idCol).cast("long").as("id"), lp.as("_lp"))
      .withColumn("n_tokens", size(col("_lp")).cast("long"))
      .withColumn("_kk",
        greatest(ceil(lit(frac) * col("n_tokens")), lit(1L)).cast("int"))
      .select(col("id"), col("n_tokens"),
        when(col("n_tokens") === 0, lit(null).cast("double"))
          .otherwise(
            aggregate(slice(sort_array(col("_lp")), lit(1), col("_kk")),
              lit(0.0), (acc, x) => acc + x) / col("_kk"))
          .as("mink_avg_logprob"))
  }

  // --------------------------------------------------------------------
  // Fully-distributed trigram KN — the NO-DRIVER-TABLE path.
  // --------------------------------------------------------------------

  /** Partition target for a persisted gram frame, derived from the bytes
    * the training corpus scan reads (logical stats — the parquet file
    * size) at ~64 MB of corpus per cached partition. A cached plan pins
    * its partitioning (AQE does not re-coalesce below an InMemoryRelation
    * by default), so without this every KB-sized pruned gram table was
    * cached as `spark.sql.shuffle.partitions` near-empty blocks and every
    * downstream aggregation/scoring join paid a partitions-wide task wave
    * per touch (guide §2: scale-adaptive partitioning, derived from input
    * size, never a constant). `coalesce` merges post-shuffle partitions
    * without a new exchange and is a no-op when the target exceeds the
    * frame's current partition count, so a 100 TB corpus keeps its full
    * aggregation width.
    */
  private def gramPartitions(docs: DataFrame): Int =
    docs.queryExecution.optimizedPlan.stats.sizeInBytes
      ./(BigInt(64L << 20)).max(BigInt(1)).min(BigInt(1 << 20)).toInt

  /** Run `body`; if it throws, unpersist `frames` first. A validation
    * that fires AFTER a `.persist()` (empty-table requires, scalar
    * aggregates) would otherwise leak the cached frame forever — no
    * handle ever reaches the caller, so the frames' own `unpersist()`
    * can never run, and in a long-lived session repeatedly-failing
    * trainings accumulate dead cached blocks that evict live ones.
    */
  private def orUnpersist[T](frames: DataFrame*)(body: => T): T =
    try body catch {
      case e: Throwable => frames.foreach(_.unpersist()); throw e
    }

  /** [[Kn3Model]] with every gram table living as a DataFrame instead of
    * a driver HashMap — the shape for an LM whose pruned table does NOT
    * fit executor memory (the ceiling [[trainKn3]]'s scaladoc documents).
    * Nothing corpus-sized ever reaches the driver: training is gram-count
    * aggregations plus two one-row scalar aggregates (vocab size, middle
    * type count), and scoring joins documents against these frames
    * instead of probing a broadcast map.
    *
    * `trigrams` and `midCounts` are persisted MEMORY_AND_DISK at train
    * (each feeds 2–3 downstream frames plus the scoring joins — without
    * the persist every join replays the corpus aggregation); call
    * [[Kn3Frames.unpersist]] when the model is retired.
    */
  case class Kn3Frames(
      trigrams: DataFrame, // (u, v, w, c)        pruned trigram counts
      triHist: DataFrame, // (u, v, ht, hd)       history totals/distinct
      midCounts: DataFrame, // (v, w, mc)         continuation-bigram counts
      midHist: DataFrame, // (v, mt, md)          middle history totals/distinct
      contCounts: DataFrame, // (w, cc)           unigram continuation counts
      mTypes: Long,
      vocabSize: Int,
      d: Double,
      k: Double) {
    def unpersist(): Unit = {
      trigrams.unpersist()
      midCounts.unpersist()
      ()
    }
  }

  /** [[trainKn3]] with NO collected table and NO row cap: the pruned
    * trigram frame stays distributed, and all four derived statistics
    * frames are groupBy aggregations over it — exactly the arithmetic of
    * [[trainKn3]]'s driver pass, so a corpus under that path's
    * `maxTrigrams` cap trains an IDENTICAL model through either route
    * (spec-asserted). Only two scalars are computed eagerly (one row
    * each): the capped distinct-vocab size and the middle-level type
    * count. This is the route past the broadcast ceiling: a 100 TB
    * corpus whose `minTrigramCount`-pruned table is still billions of
    * rows trains and scores without any driver or executor ever holding
    * the table whole.
    */
  def trainKn3Distributed(
      docs: DataFrame,
      textCol: String,
      maxVocab: Int = 65536,
      minTrigramCount: Long = 2L,
      d: Double = 0.75,
      k: Double = 0.1): Kn3Frames = {
    require(d > 0 && d < 1, s"discount must be in (0,1), got $d")
    val toks = docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val vocabSize = math.min(
      toks.agg(countDistinct(col("w"))).head().getLong(0),
      maxVocab.toLong).toInt
    require(vocabSize > 0, "empty training corpus")
    val gramP = gramPartitions(docs)
    val tri = docs
      .select(explode(graft.operators.Curation.tokenNgrams(
        trim(regexp_replace(col(textCol), "\\s+", " ")), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minTrigramCount)
      .select(split(col("g"), " ").as("p"), col("c"))
      .select(col("p").getItem(0).as("u"), col("p").getItem(1).as("v"),
        col("p").getItem(2).as("w"), col("c"))
      .coalesce(gramP)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    orUnpersist(tri) {
      require(tri.head(1).nonEmpty,
        "KN3 needs a nonempty pruned trigram table; lower minTrigramCount")
      val triHist = tri.groupBy(col("u"), col("v"))
        .agg(sum(col("c")).as("ht"), count(lit(1)).as("hd"))
      // each pruned-table row is one distinct u per (v, w) — trainKn3's
      // continuation-count convention, row for row
      val midC = tri.groupBy(col("v"), col("w")).agg(count(lit(1)).as("mc"))
        .coalesce(gramP)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      orUnpersist(midC) {
        val midHist = midC.groupBy(col("v"))
          .agg(sum(col("mc")).as("mt"), count(lit(1)).as("md"))
        val contC = midC.groupBy(col("w")).agg(count(lit(1)).as("cc"))
        val mTypes = midC.count()
        Kn3Frames(tri, triHist, midC, midHist, contC, mTypes, vocabSize, d, k)
      }
    }
  }

  /** Score per-document trigram-KN perplexity against [[Kn3Frames]] —
    * the join-based twin of [[perplexityKn3]], byte-for-byte the same
    * interpolation arithmetic in the same IEEE association
    * (`LmExpressions.lpsKn3`), but with the model reached through five
    * equi-joins instead of a broadcast map probe. Output: (idCol, ppl
    * DOUBLE); an empty document scores 0.0 like the kernel.
    *
    * PRECONDITION: `idCol` must be unique per row — the per-doc fold
    * groups by it, so duplicate ids would merge two documents' tokens
    * into one perplexity where the per-row broadcast expression scores
    * each independently (same for [[scoreKn3ModDistributed]]).
    *
    * Scale shape: documents explode to slim (id, pos, w, prev, prev2)
    * token rows — the full token array never rides an Exchange — then
    * five LEFT equi-joins on gram-string keys (AQE picks broadcast while
    * a frame fits, shuffled hash/sort-merge past that; the whole point
    * is that past-the-broadcast-ceiling is ALLOWED here), one per-doc
    * hash aggregation whose fold replays the kernel's sequential
    * position-order summation (sort_array before the fold — a
    * distributed double sum in arbitrary order would be run-to-run
    * nondeterministic), and a final left join to restore empty docs.
    * No cartesian term anywhere (plan-guarded in NgramLmSpec).
    */
  def scoreKn3Distributed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      m: Kn3Frames): DataFrame = {
    val d = m.d
    val k = m.k
    val denomBase = m.mTypes + k * m.vocabSize
    val tok = explodeTokens(docs, idCol, textCol)

    val cont = m.contCounts.select(col("w").as("_cw"), col("cc"))
    val mh = m.midHist.select(col("v").as("_mv"), col("mt"), col("md"))
    val mc = m.midCounts.select(col("v").as("_mcv"), col("w").as("_mcw"),
      col("mc"))
    val th = m.triHist.select(col("u").as("_tu"), col("v").as("_tv"),
      col("ht"), col("hd"))
    val tg = m.trigrams.select(col("u").as("_gu"), col("v").as("_gv"),
      col("w").as("_gw"), col("c").as("tc"))

    val joined = tok
      .join(cont, tok("_w") === cont("_cw"), "left")
      .join(mh, col("_prev") === mh("_mv"), "left")
      .join(mc, col("_prev") === mc("_mcv") && col("_w") === mc("_mcw"),
        "left")
      .join(th, col("_prev2") === th("_tu") && col("_prev") === th("_tv"),
        "left")
      .join(tg, col("_prev2") === tg("_gu") && col("_prev") === tg("_gv") &&
        col("_w") === tg("_gw"), "left")

    // the kernel's exact association: base -> mid -> trigram level
    val base = (coalesce(col("cc"), lit(0L)) + lit(k)) / lit(denomBase)
    val mid = when(col("mt").isNull, base).otherwise(
      greatest(coalesce(col("mc"), lit(0L)).cast("double") - lit(d),
        lit(0.0)) / col("mt") + ((lit(d) * col("md")) / col("mt")) * base)
    val p = when(col("ht").isNull, mid).otherwise(
      greatest(coalesce(col("tc"), lit(0L)).cast("double") - lit(d),
        lit(0.0)) / col("ht") + ((lit(d) * col("hd")) / col("ht")) * mid)

    foldPerDoc(docs, idCol, joined.select(col("_gid"), col("_pos"),
      log2(p).as("_lp")))
  }

  /** Documents exploded to slim (id, pos, w, prev, prev2) rows — one
    * Generate whose output never carries the token array.
    */
  private def explodeTokens(
      docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val ws = filter(split(col(textCol), "\\s+"), x => x =!= "")
    docs
      .select(col(idCol).as("_gid"), ws.as("_ws"))
      .select(col("_gid"), explode(transform(col("_ws"), (x, i) => struct(
        i.as("pos"), x.as("w"),
        get(col("_ws"), i - 1).as("prev"),
        get(col("_ws"), i - 2).as("prev2")))).as("t"))
      .select(col("_gid"), col("t.pos").as("_pos"), col("t.w").as("_w"),
        col("t.prev").as("_prev"), col("t.prev2").as("_prev2"))
  }

  /** Per-doc perplexity from scored (_gid, _pos, _lp) rows: the fold
    * replays the kernel's sequential position-order summation (sort
    * before folding — a distributed double sum in arbitrary order would
    * be run-to-run nondeterministic), then empty docs rejoin at 0.0.
    */
  private def foldPerDoc(
      docs: DataFrame, idCol: String, scored: DataFrame): DataFrame = {
    val perDoc = scored
      .groupBy(col("_gid"))
      .agg(sort_array(collect_list(struct(col("_pos"), col("_lp"))))
        .as("_lps"), count(lit(1)).as("_n"))
      .select(col("_gid"), pow(lit(2.0),
        aggregate(col("_lps"), lit(0.0),
          (acc, x) => acc - x.getField("_lp")) / col("_n")).as("_ppl"))
    docs.select(col(idCol).as("_gid")).join(perDoc, Seq("_gid"), "left")
      .select(col("_gid").as(idCol), coalesce(col("_ppl"), lit(0.0))
        .as("ppl"))
  }

  /** [[Kn3ModModel]] as distributed frames — the modified-KN (production
    * default) upgrade of [[Kn3Frames]]: per-history exact-count buckets
    * N1/N2/N3+ ride three long columns on the history frames instead of
    * one packed long per driver map entry; the six Chen–Goodman discounts
    * stay plain scalars (they were already computed distributedly in
    * [[trainKn3Mod]] — at most four count-of-count rows per level reach
    * the driver). Persistence contract as [[Kn3Frames]].
    */
  case class Kn3ModFrames(
      trigrams: DataFrame, // (u, v, w, c)
      triHist: DataFrame, // (u, v, ht, tn1, tn2, tn3)
      midCounts: DataFrame, // (v, w, mc)
      midHist: DataFrame, // (v, mt, mn1, mn2, mn3)
      contCounts: DataFrame, // (w, cc)
      mTypes: Long,
      vocabSize: Int,
      triD1: Double, triD2: Double, triD3: Double,
      midD1: Double, midD2: Double, midD3: Double,
      k: Double) {
    def unpersist(): Unit = {
      trigrams.unpersist()
      midCounts.unpersist()
      ()
    }
  }

  /** [[trainKn3Mod]] with NO collected scoring table and therefore NO
    * prune at all: where the broadcast route prunes past `maxTrigrams`
    * and accepts the standard pruned-LM scoring trade, the frames route
    * scores against the FULL type table — past the cap the two routes
    * legitimately diverge (frames = the exact unpruned model), under it
    * they are identical (spec-asserted). Discount estimation is the same
    * distributed count-of-counts either way.
    */
  def trainKn3ModDistributed(
      docs: DataFrame,
      textCol: String,
      maxVocab: Int = 65536,
      k: Double = 0.1): Kn3ModFrames = {
    val toks = docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
    val vocabSize = math.min(
      toks.agg(countDistinct(col("w"))).head().getLong(0),
      maxVocab.toLong).toInt
    require(vocabSize > 0, "empty training corpus")
    val gramP = gramPartitions(docs)
    val tri = docs
      .select(explode(graft.operators.Curation.tokenNgrams(
        trim(regexp_replace(col(textCol), "\\s+", " ")), 3)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .select(split(col("g"), " ").as("p"), col("c"))
      .select(col("p").getItem(0).as("u"), col("p").getItem(1).as("v"),
        col("p").getItem(2).as("w"), col("c"))
      .coalesce(gramP)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    orUnpersist(tri) {
      require(tri.head(1).nonEmpty, "modified KN needs a nonempty trigram table")
      val (tn1, tn2, tn3, tn4) = countOfCounts(tri, "c")
      val (td1, td2, td3) = estimateDiscountsFromCoc(tn1, tn2, tn3, tn4)
      val triHist = tri.groupBy(col("u"), col("v")).agg(
        sum(col("c")).as("ht"),
        count(when(col("c") === 1, 1)).as("tn1"),
        count(when(col("c") === 2, 1)).as("tn2"),
        count(when(col("c") >= 3, 1)).as("tn3"))
      val midC = tri.groupBy(col("v"), col("w")).agg(count(lit(1)).as("mc"))
        .coalesce(gramP)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      orUnpersist(midC) {
        val (mn1, mn2, mn3, mn4) = countOfCounts(midC, "mc")
        val (md1, md2, md3) = estimateDiscountsFromCoc(mn1, mn2, mn3, mn4)
        val midHist = midC.groupBy(col("v")).agg(
          sum(col("mc")).as("mt"),
          count(when(col("mc") === 1, 1)).as("mn1"),
          count(when(col("mc") === 2, 1)).as("mn2"),
          count(when(col("mc") >= 3, 1)).as("mn3"))
        val contC = midC.groupBy(col("w")).agg(count(lit(1)).as("cc"))
        val mTypes = midC.count()
        Kn3ModFrames(tri, triHist, midC, midHist, contC, mTypes, vocabSize,
          td1, td2, td3, md1, md2, md3, k)
      }
    }
  }

  /** Modified-KN scoring against [[Kn3ModFrames]] — `LmExpressions
    * .lpsKn3Mod`'s per-count discounts and γ numerator in the kernel's
    * exact association, with N1/N2/N3+ read from the joined history
    * columns instead of an unpacked long. Same join/fold shape as
    * [[scoreKn3Distributed]].
    */
  def scoreKn3ModDistributed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      m: Kn3ModFrames): DataFrame = {
    val k = m.k
    val denomBase = m.mTypes + k * m.vocabSize
    val tok = explodeTokens(docs, idCol, textCol)

    val cont = m.contCounts.select(col("w").as("_cw"), col("cc"))
    val mh = m.midHist.select(col("v").as("_mv"), col("mt"),
      col("mn1"), col("mn2"), col("mn3"))
    val mc = m.midCounts.select(col("v").as("_mcv"), col("w").as("_mcw"),
      col("mc"))
    val th = m.triHist.select(col("u").as("_tu"), col("v").as("_tv"),
      col("ht"), col("tn1"), col("tn2"), col("tn3"))
    val tg = m.trigrams.select(col("u").as("_gu"), col("v").as("_gv"),
      col("w").as("_gw"), col("c").as("tc"))

    val joined = tok
      .join(cont, tok("_w") === cont("_cw"), "left")
      .join(mh, col("_prev") === mh("_mv"), "left")
      .join(mc, col("_prev") === mc("_mcv") && col("_w") === mc("_mcw"),
        "left")
      .join(th, col("_prev2") === th("_tu") && col("_prev") === th("_tv"),
        "left")
      .join(tg, col("_prev2") === tg("_gu") && col("_prev") === tg("_gv") &&
        col("_w") === tg("_gw"), "left")

    def disc(c: Column, d1: Double, d2: Double, d3: Double): Column =
      when(c <= 0, lit(0.0)).when(c === 1, lit(d1))
        .when(c === 2, lit(d2)).otherwise(lit(d3))
    // gammaNum's order: d1*N1 + d2*N2 + d3*N3+
    def gammaNum(n1: Column, n2: Column, n3: Column,
        d1: Double, d2: Double, d3: Double): Column =
      lit(d1) * n1 + lit(d2) * n2 + lit(d3) * n3

    val base = (coalesce(col("cc"), lit(0L)) + lit(k)) / lit(denomBase)
    val mcC = coalesce(col("mc"), lit(0L))
    val mid = when(col("mt").isNull, base).otherwise(
      greatest(mcC.cast("double") - disc(mcC, m.midD1, m.midD2, m.midD3),
        lit(0.0)) / col("mt") +
        (gammaNum(col("mn1"), col("mn2"), col("mn3"),
          m.midD1, m.midD2, m.midD3) / col("mt")) * base)
    val tcC = coalesce(col("tc"), lit(0L))
    val p = when(col("ht").isNull, mid).otherwise(
      greatest(tcC.cast("double") - disc(tcC, m.triD1, m.triD2, m.triD3),
        lit(0.0)) / col("ht") +
        (gammaNum(col("tn1"), col("tn2"), col("tn3"),
          m.triD1, m.triD2, m.triD3) / col("ht")) * mid)

    foldPerDoc(docs, idCol, joined.select(col("_gid"), col("_pos"),
      log2(p).as("_lp")))
  }

  // --------------------------------------------------------------------
  // Fully-distributed BIGRAM family — the frames route for [[trainKn]]
  // and [[train]] (the r16 gap: the trigram family had a
  // past-the-broadcast-ceiling path, the bigram/add-k scorers behind the
  // q145/q146 quality gates did not).
  // --------------------------------------------------------------------

  /** Top-`maxVocab` unigram frame by (count desc, word asc) — [[train]]'s
    * deterministic vocab prune kept AS A FRAME. The vocab is bounded by
    * the caller's cap by construction (a TakeOrdered of ≤ maxVocab rows —
    * tiny next to any gram table, and the reason the vocab prune was
    * never the scale ceiling); the UNBOUNDED object, the bigram table,
    * is what the frames route refuses to collect or cap.
    */
  private def vocabFrame(
      docs: DataFrame, textCol: String, maxVocab: Int): DataFrame =
    docs.select(explode(split(col(textCol), "\\s+")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("w")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("w").asc).limit(maxVocab)

  /** Pruned bigram frame: count >= `minBigramCount`, history surviving
    * the vocab prune (the [[train]] convention, as a left-semi join
    * instead of a driver containsKey) — and NO row cap: this is the
    * table that outgrows the broadcast ceiling, and here it stays a
    * DataFrame end to end.
    */
  private def bigramFrame(
      docs: DataFrame, textCol: String, minBigramCount: Long,
      vocab: DataFrame): DataFrame =
    docs
      .select(explode(graft.operators.Curation.tokenNgrams(
        trim(regexp_replace(col(textCol), "\\s+", " ")), 2)).as("g"))
      .groupBy(col("g")).agg(count(lit(1)).as("c"))
      .filter(col("c") >= minBigramCount)
      .select(split(col("g"), " ").as("p"), col("c"))
      .select(col("p").getItem(0).as("h"), col("p").getItem(1).as("w"),
        col("c"))
      .join(vocab.select(col("w").as("h")), Seq("h"), "left_semi")

  /** [[KnModel]] as distributed frames — persistence contract as
    * [[Kn3Frames]]: `bigrams` feeds three derived aggregations plus the
    * scoring joins; call [[KnFrames.unpersist]] when the model retires.
    */
  case class KnFrames(
      bigrams: DataFrame, // (h, w, c)   pruned bigram counts
      hist: DataFrame, // (h, ht, hd)    history totals/distinct
      contCounts: DataFrame, // (w, cc)  continuation counts
      bTypes: Long,
      vocabSize: Int,
      d: Double,
      k: Double) {
    def unpersist(): Unit = {
      bigrams.unpersist()
      ()
    }
  }

  /** [[trainKn]] with NO collected table and NO row cap — the bigram twin
    * of [[trainKn3Distributed]]: the pruned bigram frame stays
    * distributed and both KN statistics frames are aggregations over it,
    * exactly [[trainKn]]'s driver-pass arithmetic, so a corpus under that
    * path's `maxBigrams` cap trains an IDENTICAL model through either
    * route (spec-asserted, and q178 pins it under q144's oracle twin).
    * Two scalars reach the driver: the capped vocab size and the pruned
    * bigram type count.
    */
  def trainKnDistributed(
      docs: DataFrame,
      textCol: String,
      maxVocab: Int = 65536,
      minBigramCount: Long = 2L,
      d: Double = 0.75,
      k: Double = 0.1): KnFrames = {
    require(d > 0 && d < 1, s"discount must be in (0,1), got $d")
    // vocab is persisted for the duration of TRAINING only: it feeds the
    // semi-join inside bi AND the vocabSize scalar, and recomputing it
    // (a full-corpus token explode + global top-k) for the second use
    // would double the vocab cost. KN scoring never touches it, so it
    // unpersists before return — unlike trainDistributed, whose frames
    // carry it into the scoring joins.
    val vocab = vocabFrame(docs, textCol, maxVocab)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val bi = bigramFrame(docs, textCol, minBigramCount, vocab)
        .coalesce(gramPartitions(docs))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      orUnpersist(bi) {
        require(bi.head(1).nonEmpty,
          "KN needs a nonempty pruned bigram table; lower minBigramCount")
        val hist = bi.groupBy(col("h"))
          .agg(sum(col("c")).as("ht"), count(lit(1)).as("hd"))
        val contC = bi.groupBy(col("w")).agg(count(lit(1)).as("cc"))
        val bTypes = bi.count() // materializes bi fully (through the cache)
        val vocabSize = vocab.count().toInt
        KnFrames(bi, hist, contC, bTypes, vocabSize, d, k)
      }
    } finally {
      vocab.unpersist()
      ()
    }
  }

  /** Per-document interpolated-KN perplexity against [[KnFrames]] — the
    * join-based twin of [[perplexityKn]], byte-for-byte the kernel's
    * interpolation arithmetic (`LmExpressions.lpsKn`) with the model
    * reached through THREE left equi-joins (continuation on w, history
    * on prev, bigram on (prev, w)) instead of broadcast map probes.
    * Output: (idCol, ppl DOUBLE); empty documents score 0.0 like the
    * kernel. Same idCol-uniqueness precondition and scale shape as
    * [[scoreKn3Distributed]] (slim token rows, AQE-chosen join strategy,
    * position-ordered per-doc fold, no cartesian term — plan-guarded).
    */
  def scoreKnDistributed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      m: KnFrames): DataFrame = {
    val d = m.d
    val k = m.k
    val denomBase = m.bTypes + k * m.vocabSize
    val tok = explodeTokens(docs, idCol, textCol)

    val cont = m.contCounts.select(col("w").as("_cw"), col("cc"))
    val hs = m.hist.select(col("h").as("_hh"), col("ht"), col("hd"))
    val bg = m.bigrams.select(col("h").as("_bh"), col("w").as("_bw"),
      col("c").as("cb"))

    val joined = tok
      .join(cont, tok("_w") === cont("_cw"), "left")
      .join(hs, col("_prev") === hs("_hh"), "left")
      .join(bg, col("_prev") === bg("_bh") && col("_w") === bg("_bw"),
        "left")

    // the kernel's exact association: continuation base, then the
    // discounted-bigram level (first tokens and unseen histories fall
    // through to base via the null ht, exactly lpsKn's branch)
    val base = (coalesce(col("cc"), lit(0L)) + lit(k)) / lit(denomBase)
    val p = when(col("ht").isNull, base).otherwise(
      greatest(coalesce(col("cb"), lit(0L)).cast("double") - lit(d),
        lit(0.0)) / col("ht") + ((lit(d) * col("hd")) / col("ht")) * base)

    foldPerDoc(docs, idCol, joined.select(col("_gid"), col("_pos"),
      log2(p).as("_lp")))
  }

  /** [[LmModel]] (add-k bigram) as distributed frames. `unigrams` is
    * cap-bounded (≤ maxVocab rows) but persisted too — it feeds two
    * scoring joins and the total-tokens scalar.
    */
  case class LmFrames(
      unigrams: DataFrame, // (w, c)   top-maxVocab vocab counts
      bigrams: DataFrame, // (h, w, c) pruned bigram counts
      vocabSize: Int,
      totalTokens: Long,
      k: Double) {
    def unpersist(): Unit = {
      unigrams.unpersist()
      bigrams.unpersist()
      ()
    }
  }

  /** [[train]] with NO collected bigram table and NO row cap — the add-k
    * family's frames route (the scorer behind the q145/q146 quality
    * gates). Total tokens is [[train]]'s convention: the sum over the
    * PRUNED vocab, one scalar aggregate.
    */
  def trainDistributed(
      docs: DataFrame,
      textCol: String,
      maxVocab: Int = 65536,
      minBigramCount: Long = 2L,
      k: Double = 0.1): LmFrames = {
    val vocab = vocabFrame(docs, textCol, maxVocab)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    orUnpersist(vocab) {
      val total = vocab.agg(coalesce(sum(col("c")), lit(0L))).head().getLong(0)
      require(total > 0, "empty training corpus")
      val bi = bigramFrame(docs, textCol, minBigramCount, vocab)
        .coalesce(gramPartitions(docs))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      orUnpersist(bi) {
        LmFrames(vocab, bi, vocab.count().toInt, total, k)
      }
    }
  }

  /** Per-document add-k perplexity against [[LmFrames]] — the join twin
    * of [[perplexity]] (`LmExpressions.lps` arithmetic): unigram joins
    * for the current and previous token, bigram join on the pair; first
    * tokens and pruned-out histories back off to the unigram estimate
    * through the null ch, exactly the kernel's branch.
    */
  def scoreDistributed(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      m: LmFrames): DataFrame = {
    val k = m.k
    val kv = k * m.vocabSize
    val tok = explodeTokens(docs, idCol, textCol)

    val uw = m.unigrams.select(col("w").as("_uw"), col("c").as("cw"))
    val uh = m.unigrams.select(col("w").as("_uh"), col("c").as("ch"))
    val bg = m.bigrams.select(col("h").as("_bh"), col("w").as("_bw"),
      col("c").as("cb"))

    val joined = tok
      .join(uw, tok("_w") === uw("_uw"), "left")
      .join(uh, col("_prev") === uh("_uh"), "left")
      .join(bg, col("_prev") === bg("_bh") && col("_w") === bg("_bw"),
        "left")

    val uniEst = (coalesce(col("cw"), lit(0L)) + lit(k)) /
      lit(m.totalTokens + kv)
    val p = when(col("ch").isNull, uniEst).otherwise(
      (coalesce(col("cb"), lit(0L)) + lit(k)) / (col("ch") + lit(kv)))

    foldPerDoc(docs, idCol, joined.select(col("_gid"), col("_pos"),
      log2(p).as("_lp")))
  }

}
