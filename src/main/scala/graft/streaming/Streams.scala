package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import org.apache.spark.sql.types._

/** Structured Streaming surface (SURVEY.md §2.9).
  *
  * The reference has no true streaming engine — its "streaming" is chunked
  * batch ingestion with SSE progress (api/routes/batch_v1.py:103-254). Here
  * those become real Structured Streaming primitives:
  *  - ST4 chunked ingestion  -> micro-batch file-source ingest (foreachBatch)
  *  - ST1 progress tracking  -> a job-status table fed by foreachBatch
  *  - plus the windowed/stateful operators a real event stream needs
  *    (watermarked rollups, session windows via flatMapGroupsWithState).
  */
object Streams {

  private lazy val slog = org.slf4j.LoggerFactory.getLogger("graft.Streams")

  /** File-source event stream over a directory of parquet drops; `glob`
    * narrows to matching file names (the streaming file source requires a
    * directory path, not a file). The schema is PROBED from the files, not
    * declared: `ts` has shipped as both TIMESTAMP(MICROS) and long nanos
    * across driver rounds, and a hardcoded schema over the wrong physical
    * type reinterprets bits silently (graft.sources.Events holds the
    * branch). On a not-yet-populated directory the probe falls back to
    * `Events.DefaultEventSchema`, so the stream can be defined before the
    * first drop lands (start-stream-then-produce).
    */
  def eventStream(spark: SparkSession, dir: String, glob: Option[String] = None): DataFrame = {
    val schema = graft.sources.Events.probeSchema(spark, dir, glob)
    val reader = spark.readStream.schema(schema)
    val withGlob = glob.fold(reader)(g => reader.option("pathGlobFilter", g))
    graft.sources.Events.withEventTime(withGlob.parquet(dir))
  }

  /** Watermarked tumbling-window rollup per event_type. */
  def eventRollup(
      events: DataFrame,
      windowLen: String = "1 hour",
      watermark: String = "2 hours"): DataFrame =
    events
      .withWatermark("event_time", watermark)
      .groupBy(window(col("event_time"), windowLen), col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        // decimal-exact sum: associativity-safe, so micro-batch order can't
        // perturb the result (also keeps the DuckDB oracle hash-stable)
        expr("CAST(sum(CAST(value AS DECIMAL(18,4))) AS DOUBLE)").as("total_value"),
        approx_count_distinct(col("user_id")).as("approx_users"))
      .select(col("window.start").as("window_start"),
        col("window.end").as("window_end"),
        col("event_type"), col("n"), col("total_value"), col("approx_users"))

  // ----------------------------------------------------------- sessionize

  case class SessionEvent(user_id: Long, event_time: java.sql.Timestamp, value: Double)
  case class SessionState(start: Long, last: Long, n: Long, total: Double)
  case class UserSession(
      user_id: Long, session_start: java.sql.Timestamp,
      session_end: java.sql.Timestamp, n_events: Long, total_value: Double)

  /** Gap-based sessionization with per-user state: a session closes after
    * `gapMillis` of silence (event-time, enforced by watermark + state
    * timeout). Emits one row per closed session.
    */
  def sessionize(
      events: Dataset[SessionEvent],
      gapMillis: Long,
      watermark: String = "2 hours"): Dataset[UserSession] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("event_time", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, UserSession](
        OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, rows: Iterator[SessionEvent], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(UserSession(userId,
              new java.sql.Timestamp(s.start), new java.sql.Timestamp(s.last),
              s.n, s.total))
          } else {
            val sorted = rows.toSeq.sortBy(_.event_time.getTime)
            var closed = List.empty[UserSession]
            var cur = state.getOption
            sorted.foreach { e =>
              val t = e.event_time.getTime
              cur match {
                case Some(s) if t - s.last <= gapMillis =>
                  cur = Some(s.copy(last = math.max(s.last, t), n = s.n + 1,
                    total = s.total + e.value))
                case Some(s) =>
                  closed ::= UserSession(userId, new java.sql.Timestamp(s.start),
                    new java.sql.Timestamp(s.last), s.n, s.total)
                  cur = Some(SessionState(t, t, 1, e.value))
                case None =>
                  cur = Some(SessionState(t, t, 1, e.value))
              }
            }
            cur.foreach { s =>
              state.update(s)
              state.setTimeoutTimestamp(s.last + gapMillis)
            }
            closed.reverseIterator
          }
      }
  }

  // ----------------------------------------------------- transition stream

  case class TransitionEvent(user_id: Long, ts_ms: Long, event_type: String)
  case class TransitionEdge(user_id: Long, from_type: String, to_type: String)

  /** [[transitionsStream]]'s per-user state row. CHECKPOINT COMPATIBILITY:
    * `ts_ms` was added in r14 (the armed gap check needs the last event's
    * TIME, not just its type), which changed the state encoder schema —
    * restarting a pre-r14 `transitionsStream` checkpoint against this
    * class fails on the engine's state-schema check. The failure is
    * SELF-EXPLANATORY through [[withStateSchemaAdvice]] /
    * [[stateSchemaAdvice]] (detect-and-instruct — spec-asserted against a
    * synthetic old-schema checkpoint): drain the old query and start the
    * new one from a fresh checkpoint directory (the operator is
    * stateful-but-reconstructible: replaying the source rebuilds state).
    */
  case class LastEvent(typ: String, ts_ms: Long)

  /** Detect the engine's state-schema incompatibility in a failure chain
    * and return the drain-and-restart instruction — the enforcement form
    * of [[LastEvent]]'s checkpoint-compatibility note. The engine error
    * (`STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE`, surfaced inside a
    * StreamingQueryException when the restarted query's first batch
    * opens the state store) names the schemas but not the REMEDY; this
    * names both. None when the failure is anything else.
    */
  def stateSchemaAdvice(t: Throwable): Option[String] = {
    val isSchema = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .take(12).exists { c =>
        c.getClass.getName.contains("SchemaNotCompatible") ||
          String.valueOf(c.getMessage).contains("SCHEMA_NOT_COMPATIBLE")
      }
    if (!isSchema) None
    else Some("the checkpoint's state rows were written by an " +
      "incompatible state encoder (for transitionsStream: pre-r14 " +
      "checkpoints hold LastEvent without ts_ms). The operator is " +
      "stateful-but-reconstructible — stop the old query, start from a " +
      "FRESH checkpoint directory, and replay the source to rebuild " +
      "state; no data is lost. In-place state migration is not " +
      "supported by the engine's state store.")
  }

  /** Run a stateful-stream start/drain with [[stateSchemaAdvice]] armed:
    * a state-schema incompatibility rethrows as IllegalStateException
    * carrying the operator name + the remedy (original failure as cause);
    * every other failure passes through untouched.
    */
  def withStateSchemaAdvice[T](operator: String)(body: => T): T =
    try body catch {
      case e: Throwable => stateSchemaAdvice(e) match {
        case Some(advice) =>
          throw new IllegalStateException(s"$operator: $advice", e)
        case None => throw e
      }
    }

  /** Streaming twin of [[graft.operators.Funnel.transitions]] — the one
    * event operator of the r12 round without an incremental form. Emits
    * one (user, from_type, to_type) ADJACENCY EDGE per consecutive event
    * pair in each user's timeline; count edges downstream for the Markov
    * transition matrix (`groupBy(from_type, to_type).count()` — edges
    * rather than running counts keep the output append-mode composable).
    *
    * State is ONE row per user: the timeline's LAST EVENT TYPE — exactly
    * the `max_by` half of the batch operator's bucket-summary rows, which
    * is all the stitch across micro-batches needs (the batch form's
    * within-bucket windows become the per-micro-batch sort below, bounded
    * by a user's events per micro-batch, never their history).
    *
    * Parity contract (the shared ingest-stream discipline, time edition):
    * micro-batch totals equal the batch operator's for TS-ORDERED
    * DELIVERY per user — each micro-batch is sorted by (ts, type), the
    * batch tiebreak, but an event arriving in a later micro-batch with an
    * EARLIER timestamp chains onto the state's last event rather than
    * splicing into history (chop the stream in ts order when the exact
    * batch identity matters).
    *
    * State lifetime — the `idleTimeoutMs` lever (clears the r13 `weak`):
    * by default state never expires (one short string per ever-seen
    * user), which is the right trade only when the key space is bounded
    * (registered user ids). A feed keyed on session-like ids grows state
    * with the CORPUS, so for long-running deployments pass
    * `idleTimeoutMs = Some(30 * 60000L)`. Armed, the operator computes
    * SESSION transitions EXACTLY and chop-independently: an edge is
    * emitted only when the pair's event-time gap is at most the timeout
    * (the gap CHECK decides edge semantics — two events landing in the
    * same micro-batch across a long gap are split just like two landing
    * in different batches), so the output equals [[graft.operators
    * .Funnel.transitions]] applied per idle-gap session however the
    * stream is chopped — oracle-locked by q152 against the gap-filtered
    * global-adjacency twin. (The batch operator's global adjacency keeps
    * cross-gap edges; the armed stream drops exactly the gap-spanning
    * ones, the same boundary [[sessionize]] draws.) State EXPIRY — a
    * watermark + EventTimeTimeout, the [[sessionize]] machinery — is
    * then purely the resource lever: a user idle past the timeout has
    * their state row dropped (their next event starts a fresh chain,
    * which the gap check would have forced anyway), so the store stops
    * growing with the corpus without touching the edge set. Event-time
    * rather than processing-time for two reasons: the semantics ("idle"
    * means the USER went quiet, not the feed lagged) and liveness (a
    * ProcessingTimeTimeout stream re-triggers forever, which breaks
    * `processAllAvailable`-style draining; the event-time form fires
    * exactly when the watermark passes the deadline). An event arriving
    * with its deadline already behind the watermark keeps its state for
    * one more batch and then expires (deadline clamped to watermark + 1
    * — the engine rejects timeout timestamps at or below the watermark).
    *
    * Behavioral asymmetry the lever buys into: armed mode watermarks the
    * event time (delay 0), so an event arriving in a LATER micro-batch
    * with a timestamp at or behind the watermark is DROPPED by the engine
    * before the state function sees it — un-armed mode stitches any
    * arrival order (out-of-order events chain onto the state's last event
    * rather than splicing, per the parity contract above, but are never
    * lost). If the feed can deliver late events that must still count,
    * keep them ts-ordered per user (the same chop discipline exact batch
    * identity already requires) — a nonzero watermark delay is
    * deliberately NOT exposed, because a delayed watermark would also
    * delay every expiry and q152's semantics are defined on the gap
    * check, not on arrival slack.
    *
    * Per-micro-batch memory: `rows.toSeq.sortBy` buffers ONE user's
    * events for ONE micro-batch on the state task — the same bot-funnel
    * caveat the batch operator documents for its per-bucket windows;
    * bound a pathological key upstream if a single user can dominate a
    * micro-batch.
    */
  def transitionsStream(
      events: Dataset[TransitionEvent],
      idleTimeoutMs: Option[Long] = None): Dataset[TransitionEdge] = {
    import events.sparkSession.implicits._
    idleTimeoutMs match {
      case None =>
        events.groupByKey(_.user_id)
          .flatMapGroupsWithState[LastEvent, TransitionEdge](
            OutputMode.Append, GroupStateTimeout.NoTimeout) {
            (userId: Long, rows: Iterator[TransitionEvent],
             state: GroupState[LastEvent]) =>
              transitionChain(userId, rows, state, None)
          }
      case Some(idle) =>
        require(idle > 0, s"idleTimeoutMs must be > 0, got $idle")
        events
          .withColumn("_et", timestamp_millis(col("ts_ms")))
          .withWatermark("_et", "0 seconds")
          .as[TransitionEventT]
          .groupByKey(_.user_id)
          .flatMapGroupsWithState[LastEvent, TransitionEdge](
            OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
            (userId: Long, rows: Iterator[TransitionEventT],
             state: GroupState[LastEvent]) =>
              transitionChain(userId,
                rows.map(r => TransitionEvent(r.user_id, r.ts_ms, r.event_type)),
                state, Some(idle))
          }
    }
  }

  /** [[transitionsStream]]'s event row with the watermark column attached
    * (the timeout lever needs a TIMESTAMP column to watermark).
    */
  case class TransitionEventT(
      user_id: Long, ts_ms: Long, event_type: String,
      _et: java.sql.Timestamp)

  /** One user's micro-batch turn of the transition chain — shared by both
    * timeout modes: stitch the state's last event onto the sorted batch,
    * emit adjacency edges (armed mode: only for pairs whose event-time
    * gap is at most `idleMs` — the chop-independent session boundary),
    * leave the newest (type, ts) in state, and (armed mode) set the
    * event-time expiry deadline at last event + idle.
    */
  private def transitionChain(
      userId: Long,
      rows: Iterator[TransitionEvent],
      state: GroupState[LastEvent],
      idleMs: Option[Long]): Iterator[TransitionEdge] = {
    if (state.hasTimedOut) {
      state.remove() // idle user: the next event starts a fresh chain
      Iterator.empty
    } else {
      val sorted = rows.toSeq.sortBy(e => (e.ts_ms, e.event_type))
      val chain = state.getOption.map(s => (s.typ, s.ts_ms)).toSeq ++
        sorted.map(e => (e.event_type, e.ts_ms))
      sorted.lastOption.foreach { e =>
        state.update(LastEvent(e.event_type, e.ts_ms))
        idleMs.foreach { idle =>
          state.setTimeoutTimestamp(
            math.max(e.ts_ms + idle, state.getCurrentWatermarkMs() + 1))
        }
      }
      chain.sliding(2).collect {
        case Seq((a, ta), (b, tb))
          if idleMs.forall(idle => tb - ta <= idle) =>
            TransitionEdge(userId, a, b)
      }
    }
  }

  // --------------------------------------------------- heavy-hitter stream

  case class HhInput(shard: Int, hash: Long)
  case class HhState(hashes: Array[Long], counts: Array[Long], n: Long)
  case class HhSummary(shard: Int, hash: Long, est: Long, shard_n: Long)

  /** Streaming twin of [[graft.operators.HeavyHitters]]' pass 1 — the
    * tenth online family: a sharded Misra–Gries summary maintained
    * incrementally over an item stream. Items route to one of `nShards`
    * states by item-hash, so (a) the state layer parallelizes instead of
    * funneling the stream through one task, and (b) each item's full count
    * lives in exactly ONE shard, which keeps the summary guarantee intact:
    * an item with true count > shard_n/(k+1) — and shard_n <= n, so a
    * fortiori anything above `n/(k+1)` — is present in its shard's
    * summary after any prefix of micro-batches, however the stream is
    * chopped (the PODS-2012 merge bound; every micro-batch update is a
    * merge into the shard's summary).
    *
    * Emits each updated shard's CURRENT summary per micro-batch (update
    * semantics: <= k rows per shard, est = the sketch's undercount-bounded
    * estimate, shard_n = items seen by the shard). Keep the latest row set
    * per shard in the sink; at any point
    * [[graft.operators.HeavyHitters.exactFromCandidates]] over the corpus
    * with the unioned hashes and `totalN = sum(shard_n)` yields the EXACT
    * heavy-hitter set — batch/stream parity not just in spirit: both paths
    * produce a candidate superset with the same guarantee, and pass 2 is
    * the same code (q140 locks the composition against q137's oracle).
    *
    * State per shard is two length-<=2k long arrays — bounded for the
    * stream's lifetime by construction, the property every other state
    * here (dedup watermarks, transition last-events) needs policy for.
    *
    * Honest boundary: rows route by ITEM hash, so a stream dominated by
    * one item funnels that item's rows through its shard's one state
    * task per micro-batch (16-byte rows, and by definition that item is
    * a heavy hitter — but the per-batch work is still row-proportional
    * there). The batch operator's map-side partial aggregation doesn't
    * have this funnel; Structured Streaming disallows an aggregation
    * upstream of flatMapGroupsWithState, so the stream cannot
    * pre-collapse duplicates the same way. If one item is most of the
    * feed, count it with a plain streaming `groupBy(item).count()` and
    * save the sketch for the long tail.
    */
  def heavyHittersStream(
      items: DataFrame,
      itemCol: String,
      sketchSize: Int,
      nShards: Int = 32): Dataset[HhSummary] = {
    require(sketchSize >= 1, s"sketchSize must be >= 1, got $sketchSize")
    require(nShards >= 1, s"nShards must be >= 1, got $nShards")
    import items.sparkSession.implicits._
    val mg = new graft.operators.HeavyHitters.MisraGriesAggregator(sketchSize)
    items
      .filter(col(itemCol).isNotNull)
      .select(xxhash64(col(itemCol).cast("string")).as("hash"))
      .select(pmod(col("hash"), lit(nShards.toLong)).cast("int").as("shard"),
        col("hash"))
      .as[HhInput]
      .groupByKey(_.shard)
      .flatMapGroupsWithState[HhState, HhSummary](
        OutputMode.Update, GroupStateTimeout.NoTimeout) {
        (shard: Int, rows: Iterator[HhInput], state: GroupState[HhState]) =>
          val buf = state.getOption match {
            case Some(s) =>
              val m = scala.collection.mutable.HashMap.empty[Long, Long]
              var i = 0
              while (i < s.hashes.length) { m.update(s.hashes(i), s.counts(i)); i += 1 }
              m
            case None => mg.zero
          }
          var n = state.getOption.map(_.n).getOrElse(0L)
          rows.foreach { r => mg.reduce(buf, r.hash); n += 1 }
          val hs = new Array[Long](buf.size)
          val cs = new Array[Long](buf.size)
          var j = 0
          buf.foreachEntry { (h, c) => hs(j) = h; cs(j) = c; j += 1 }
          state.update(HhState(hs, cs, n))
          buf.toSeq.sortBy(_._1)
            .map { case (h, c) => HhSummary(shard, h, c, n) }.iterator
      }
  }

  // ----------------------------------------------------------- stream dedup

  /** documents-table schema as the driver's parquet writes it. */
  val DocumentSchema: StructType = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType),
    StructField("lang", StringType),
    StructField("source", StringType),
    StructField("n_chars", LongType)))

  /** File-source document stream over a directory of parquet drops. */
  def documentStream(spark: SparkSession, dir: String, glob: Option[String] = None): DataFrame = {
    val reader = spark.readStream.schema(DocumentSchema)
    glob.fold(reader)(g => reader.option("pathGlobFilter", g)).parquet(dir)
  }

  /** embeddings-table schema as the driver's parquet writes it. */
  val EmbeddingSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType)),
    StructField("label", IntegerType)))

  /** File-source embedding stream over a directory of parquet drops — the
    * vector-modality twin of [[documentStream]], feeding
    * [[ingestEmbeddingDedupStream]] / [[ingestSemDedupStream]].
    */
  def embeddingStream(spark: SparkSession, dir: String, glob: Option[String] = None): DataFrame = {
    val reader = spark.readStream.schema(EmbeddingSchema)
    glob.fold(reader)(g => reader.option("pathGlobFilter", g)).parquet(dir)
  }

  /** Streaming exact dedup: fingerprint the text and keep the first arrival
    * per fingerprint. With an event-time column the state is bounded by the
    * watermark (`dropDuplicatesWithinWatermark`) — the at-scale
    * configuration, since corpus duplicates cluster in time (re-crawls,
    * mirrored feeds) and state for fingerprints older than the watermark is
    * dropped instead of growing with the corpus. Without an event-time
    * column it falls back to global `dropDuplicates` — unbounded state, only
    * for bounded (availableNow) replays.
    */
  def dedupStream(
      docs: DataFrame,
      textCol: String = "text",
      eventTimeCol: Option[String] = None,
      watermark: String = "1 hour"): DataFrame = {
    val fp = docs.withColumn("fp", md5(col(textCol).cast("binary")))
    eventTimeCol match {
      case Some(tc) => fp.withWatermark(tc, watermark).dropDuplicatesWithinWatermark("fp")
      case None => fp.dropDuplicates("fp")
    }
  }

  // ------------------------------------------------------ stream near-dup

  /** One doc's footprint inside one LSH bucket's state: its id and distinct
    * shingle set, as 64-bit xxhash64 values rather than strings — the
    * shingle arrays are shuffled into EVERY band's state (x bands
    * amplification), so hashing cuts state/shuffle bytes ~3x and makes the
    * verify a long-set intersection. Jaccard depends only on set
    * CARDINALITIES, which hashing preserves barring a 64-bit collision
    * inside one document pair (~2^-64 per pair) — the verify arithmetic
    * stays value-identical to `nearDupPairsMinHash` (StreamsSpec asserts
    * batch equivalence, bit-identical doubles).
    */
  case class BucketDoc(id: Long, shingles: Array[Long])

  /** An emitted near-duplicate pair, id_a < id_b. */
  case class NearDupPair(id_a: Long, id_b: Long, jaccard: Double)

  /** Streaming MinHash near-dup: the incremental twin of
    * `Dedup.nearDupPairsMinHash` — same signature expression, same banding,
    * same exact-Jaccard verify — emitting each qualifying pair ONCE PER
    * SHARED BAND as documents arrive (dedupe (id_a, id_b) downstream; the
    * jaccard double is identical across bands, so a batch-side
    * `dropDuplicates` after the sink collapses them losslessly).
    *
    * Equivalence and order-independence: a pair is emitted when the LATER of
    * its two docs arrives in a shared bucket, as (min id, max id), so the
    * emitted pair SET equals the batch path's output on the same corpus
    * whatever the arrival order (StreamsSpec replays two shuffles of the
    * same corpus). The one divergence surface is the bucket cap: batch trims
    * overfull buckets by id order, the stream by ARRIVAL order — identical
    * as long as no bucket exceeds `maxBucketSize` (boilerplate that full is
    * what dedup collapses anyway).
    *
    * State shape at scale: one entry per (band, bucket) holding <=
    * maxBucketSize (id, shingle-set) rows. With `eventTimeCol` set, the
    * input is watermarked and bucket state is EVICTED once the watermark
    * passes `watermark` beyond the bucket's newest doc — the at-scale
    * configuration (re-crawl duplicates cluster in time). Without it, state
    * grows with the corpus: bounded (availableNow) replays only.
    */
  def nearDupPairsMinHashStream(
      docs: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      shingleLen: Int = 3,
      numHashes: Int = 128,
      bands: Int = 32,
      threshold: Double = 0.8,
      seed: Long = 42L,
      maxBucketSize: Int = 1000,
      eventTimeCol: Option[String] = None,
      watermark: String = "1 hour"): Dataset[NearDupPair] = {
    require(numHashes % bands == 0, s"numHashes=$numHashes not divisible by bands=$bands")
    val rows = numHashes / bands
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.operators.Dedup

    val withSig = docs.select(
      Seq(col(idCol).cast("long").as("id"),
        Dedup.tokenShingles(col(textCol), shingleLen).as("shingles")) ++
        eventTimeCol.map(c => col(c).as("event_time")): _*)
      .withColumn("sig", Dedup.minhashSignature(col("shingles"), numHashes, seed))
      // shingle strings hash to longs BEFORE the x-bands explode: only
      // 8-byte values reach the stateful shuffle and bucket state
      .withColumn("shingles", transform(col("shingles"), s => xxhash64(s)))
    val bandStructs = array((0 until bands).map { j =>
      struct(lit(j).as("band"), hash(slice(col("sig"), j * rows + 1, rows)).as("bucket"))
    }: _*)
    val banded = withSig
      .select(Seq(col("id"), col("shingles"), explode(bandStructs).as("bb")) ++
        eventTimeCol.map(_ => col("event_time")): _*)
      .select(Seq(col("bb.band").as("band"), col("bb.bucket").as("bucket"),
        col("id"), col("shingles")) ++
        eventTimeCol.map(_ => col("event_time")): _*)
    val watermarked = eventTimeCol match {
      case Some(_) => banded.withWatermark("event_time", watermark)
      case None => banded
    }
    val timeoutConf = eventTimeCol match {
      case Some(_) => GroupStateTimeout.EventTimeTimeout
      case None => GroupStateTimeout.NoTimeout()
    }
    val watermarkMillis = org.apache.spark.sql.catalyst.util.IntervalUtils
      .stringToInterval(org.apache.spark.unsafe.types.UTF8String.fromString(watermark))
    val horizonMillis =
      watermarkMillis.days * 86400000L + watermarkMillis.microseconds / 1000L

    watermarked
      .groupByKey(r => (r.getAs[Int]("band"), r.getAs[Int]("bucket")))
      .flatMapGroupsWithState[Array[BucketDoc], NearDupPair](
        OutputMode.Append, timeoutConf) {
        (_: (Int, Int), newDocs: Iterator[org.apache.spark.sql.Row],
         state: GroupState[Array[BucketDoc]]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var held = state.getOption.getOrElse(Array.empty[BucketDoc])
            val out = List.newBuilder[NearDupPair]
            var maxEvent = Long.MinValue
            newDocs.foreach { r =>
              val id = r.getAs[Long]("id")
              val sh = r.getSeq[Long](r.fieldIndex("shingles")).toArray
              if (eventTimeCol.isDefined)
                maxEvent = math.max(maxEvent,
                  r.getAs[java.sql.Timestamp]("event_time").getTime)
              // batch-cap parity: docs landing in a full bucket generate no
              // pairs at all (capBuckets drops their banding row entirely)
              if (held.length < maxBucketSize &&
                  !held.exists(_.id == id)) { // re-delivered banding row
                val shSet = sh.toSet
                held.foreach { other =>
                  val inter = other.shingles.count(shSet.contains)
                  // same association order as Dedup.jaccard:
                  // inter / (|a| + |b| - inter), ints exact in doubles
                  val j = inter.toDouble /
                    (other.shingles.length + sh.length - inter)
                  if (j >= threshold)
                    out += NearDupPair(math.min(id, other.id),
                      math.max(id, other.id), j)
                }
                held = held :+ BucketDoc(id, sh)
              }
            }
            state.update(held)
            if (eventTimeCol.isDefined && maxEvent != Long.MinValue)
              state.setTimeoutTimestamp(maxEvent + horizonMillis)
            out.result().iterator
          }
      }
  }

  // ------------------------------------------------- online ingest dedup

  /** The nightly-crawl shape wired end to end: each micro-batch of
    * documents is deduped against the PERSISTED fingerprint index
    * ([[graft.operators.FingerprintIndex.ingestBatch]]: corpus match +
    * within-batch sweep), survivors are appended to the index (so later
    * micro-batches dedup against them) and handed to `onBatch` (write to
    * the store, stats, ...). This is the q50 + q63 composition as ONE
    * operator — the stream state lives in the durable index, not in Spark
    * state, so the stream can stop/restart/resume without replay and the
    * same index serves batch jobs in between.
    *
    * Ordering contract: micro-batches apply in arrival order, docs within
    * a batch in ascending id order; when arrival order is id-nondecreasing
    * (the ingest timeline), the kept set and final index are independent
    * of how the stream was chopped into micro-batches (StreamsSpec).
    *
    * Restart semantics: foreachBatch is at-least-once. `onBatch` (the
    * durable sink write) is invoked BEFORE the survivors are appended to
    * the index — the ordering that makes every crash point recoverable:
    * a crash after the sink write but before the append re-runs the batch
    * against an unchanged index, so the sink sees a duplicate delivery it
    * can dedupe by id; a crash after the append re-runs the batch against
    * an index that already holds its survivors, so the re-run keeps
    * nothing — but the sink already received those rows the first time.
    * (The reverse order would make that second crash point SILENT,
    * unrecoverable output loss: survivors appended, never delivered, and
    * dropped as self-duplicates on every replay.) The index converges to
    * exactly one copy per survivor; `onBatch` consumers need id-keyed
    * idempotence, same as any foreachBatch sink.
    *
    * `autoCompact` closes the operational loop: every append adds one
    * small epoch directory, so a long-lived stream degrades every index
    * read into a many-directory scan. With the flag on, each micro-batch
    * ends with the commit-log-only verdict
    * ([[graft.operators.EpochIndex.needsCompaction]] — free) and runs
    * `compact()` when it trips; compaction is atomic (replace-commit
    * cutover), so a crash mid-compact leaves only invisible orphans and
    * results are unchanged at every point (spec-asserted against the
    * non-compacting run).
    *
    * `autoVacuumKeepLast = Some(k)` (r15, every EpochIndex ingest stream)
    * is the cheaper steady-state alternative: instead of the O(index)
    * full rewrite, history past the newest k epochs FOLDS at the 2k+1
    * cadence ([[ingestVectors]]'s economics — the old-slice rewrite is
    * paid once per k appends, recent epochs untouched on disk). When both
    * are armed, a tripped compaction wins the batch (its replace commit
    * supersedes any fold); results are unchanged under either lever by
    * the vacuum/compact atomicity arguments.
    */
  private def maintainIndex(
      index: graft.operators.EpochIndex,
      autoCompact: Boolean,
      autoVacuumKeepLast: Option[Int]): Unit = {
    autoVacuumKeepLast.foreach(k => require(k >= 1,
      s"autoVacuumKeepLast must be >= 1, got $k"))
    if (autoCompact && index.needsCompaction()) index.compact()
    else autoVacuumKeepLast.foreach { k =>
      if (index.numEpochs >= 2 * k + 1) { index.vacuum(k); () }
    }
  }

  def ingestDedupStream(
      docs: DataFrame,
      index: graft.operators.FingerprintIndex,
      idCol: String = "doc_id",
      textCol: String = "text",
      threshold: Double = 0.8,
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      autoCompact: Boolean = false,
      autoVacuumKeepLast: Option[Int] = None): StreamingQuery = {
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_dedup_cp").toString)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // sink-before-append: onBatch runs inside ingestBatch, ahead of the
        // index append (see the restart-semantics contract above)
        index.ingestBatch(batch, idCol, textCol, threshold,
          onKept = kept => onBatch(kept, batchId))
        maintainIndex(index, autoCompact, autoVacuumKeepLast)
        ()
      }
      .start()
  }

  /** The winnowing-family twin of [[ingestDedupStream]]: each micro-batch
    * runs [[graft.operators.WinnowIndex.ingestBatch]] (shared-passage
    * match vs the standing corpus + within-batch accepted walk), survivors
    * go to `onBatch` BEFORE the fingerprint append (the same
    * sink-before-append restart contract), and the index grows so later
    * micro-batches dedup against earlier survivors. Outcome is
    * micro-batch-grouping independent FOR ID-ORDERED DELIVERY (the q106
    * walk argument, the same contract as every other family's ingest
    * stream): if a later micro-batch delivers a LOWER id than an
    * already-kept higher-id near-dup, the earlier-processed doc wins
    * instead of the lower id — chop the stream in id order when the
    * global walk identity matters.
    */
  /** The short-string (edit-distance) twin of [[ingestWinnowStream]]:
    * each micro-batch walks [[graft.operators.EditIndex.ingestBatch]]'s
    * accepted sweep against the persisted title corpus, survivors are
    * appended so later micro-batches dedup against them, and kept rows go
    * to `onBatch` BEFORE the append (the shared sink-before-append
    * at-least-once contract). Blocking is INDEX state (r13): when the
    * index was built with a `blockCol`, every micro-batch frame must
    * carry that column — the feed-scale recall lever.
    */
  def ingestEditStream(
      docs: DataFrame,
      index: graft.operators.EditIndex,
      idCol: String = "doc_id",
      textCol: String = "title",
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      autoCompact: Boolean = false,
      autoVacuumKeepLast: Option[Int] = None): StreamingQuery = {
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_edit_cp").toString)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        index.ingestBatch(batch, idCol, textCol,
          onKept = kept => onBatch(kept, batchId))
        maintainIndex(index, autoCompact, autoVacuumKeepLast)
        ()
      }
      .start()
  }

  /** Streaming DECONTAMINATION: each micro-batch of documents is scored
    * against a FIXED benchmark suite whose distinct gram-hash set is
    * prepared ONCE at stream start ([[graft.operators.Curation
    * .benchmarkGrams]] — pinned, broadcast-gated) and shared by every
    * batch; `onBatch` receives the per-doc (id, hits, contaminated)
    * report. Stateless by design — unlike the ingest families nothing is
    * appended, so replayed batches are pure re-deliveries an id-keyed
    * sink absorbs. The continuous form of [[graft.operators.Curation
    * .decontaminate]]: a crawl feed screened against eval suites before
    * it ever lands in the corpus.
    */
  /** Streaming quality gate — the eleventh online family: q145's
    * composed pipeline (temperature mix -> token-entropy floor ->
    * Kneser-Ney perplexity ceiling) over a document feed. The corpus
    * STATISTICS are paid once at stream start (the
    * [[decontaminateStream]] gram-set discipline): `rates` from
    * [[graft.operators.Curation.temperatureRates]] on the reference
    * corpus, `model` from [[graft.text.NgramLm.trainKn]] — a live feed
    * cannot re-derive either per batch without changing what "the
    * distribution" means mid-stream. Per-batch work is then a pure
    * per-row map (hash lottery + entropy fold + codegen'd KN scan), so
    * the stream is STATELESS: chopping is invisible and the batch twin
    * replays exactly (q146 locks it to q145's oracle).
    *
    * `onBatch` receives each micro-batch's survivors as
    * (id, <langCol>, entropy_x1e4, ppl_x1e4).
    */
  def qualityGateStream(
      docs: DataFrame,
      rates: Map[String, Double],
      model: graft.text.NgramLm.KnModel,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minEntropyX1e4: Long = 28000L,
      maxPplX1e4: Long = 310000L,
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    gateStream(docs, checkpoint, trigger, onBatch) { batch =>
      qualityGate(batch, rates, model, idCol, textCol, langCol,
        minEntropyX1e4, maxPplX1e4)
    }

  /** [[qualityGateStream]] with the model as DISTRIBUTED FRAMES
    * ([[graft.text.NgramLm.KnFrames]]) — the gate for a reference corpus
    * whose pruned bigram table outgrows the broadcast ceiling
    * ([[graft.text.NgramLm.trainKn]] refuses past `maxBigrams`;
    * measured by `LmProbe` at commit 19fff4c: the broadcast scorer is
    * 12.3× slower already at ~2.2M pruned rows). Same gate decisions byte for
    * byte — q178 pins that the frames scorer reproduces the kernel's
    * perplexities, and q182 pins the WHOLE gate against q145's oracle —
    * reached through
    * three LEFT equi-joins per micro-batch instead of a broadcast map
    * probe. The frames' persisted blocks are the CALLER's lifetime to
    * manage (train before start, `frames.unpersist()` after the stream
    * stops), the same pay-statistics-once discipline as `rates`/`model`.
    */
  def qualityGateStreamFrames(
      docs: DataFrame,
      rates: Map[String, Double],
      frames: graft.text.NgramLm.KnFrames,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minEntropyX1e4: Long = 28000L,
      maxPplX1e4: Long = 310000L,
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    gateStream(docs, checkpoint, trigger, onBatch) { batch =>
      qualityGateFrames(batch, rates, frames, idCol, textCol, langCol,
        minEntropyX1e4, maxPplX1e4)
    }

  /** The gate pipeline as a BATCH surface (q145's composition as a
    * function): temperature-flattened language mix → token-entropy floor
    * → Kneser–Ney perplexity ceiling, scored by the broadcast kernel.
    * Output: (id LONG, <langCol>, entropy_x1e4, ppl_x1e4) — survivors
    * only. The stream form chops this per micro-batch; every stage is
    * per-row deterministic, so chopping is invisible (q146 == q145).
    */
  def qualityGate(
      docs: DataFrame,
      rates: Map[String, Double],
      model: graft.text.NgramLm.KnModel,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minEntropyX1e4: Long = 28000L,
      maxPplX1e4: Long = 310000L): DataFrame =
    gateBody(docs, rates, idCol, textCol, langCol, minEntropyX1e4,
      maxPplX1e4) { gated =>
      gated.withColumn("ppl_x1e4",
        round(graft.text.NgramLm.perplexityKn(col(textCol), model) * 10000)
          .cast("long"))
    }

  /** [[qualityGate]] against [[graft.text.NgramLm.KnFrames]]: perplexity
    * reached through [[graft.text.NgramLm.scoreKnDistributed]]'s three
    * LEFT equi-joins (plan-guarded — no product, no nested-loop term),
    * then equi-joined back onto the gated rows by id. Identical gate
    * decisions to [[qualityGate]] whenever both routes can train (the
    * frames model IS the broadcast model as frames); past the broadcast
    * cap only this route exists.
    */
  def qualityGateFrames(
      docs: DataFrame,
      rates: Map[String, Double],
      frames: graft.text.NgramLm.KnFrames,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minEntropyX1e4: Long = 28000L,
      maxPplX1e4: Long = 310000L): DataFrame =
    gateBody(docs, rates, idCol, textCol, langCol, minEntropyX1e4,
      maxPplX1e4) { gated0 =>
      // pin the mixed+entropy-gated rows: this frame feeds the scorer's
      // token explode, the per-doc fold's id spine, AND the outer join —
      // three consumers of a lineage whose entropy aggregation Spark
      // would otherwise recompute per consumer (the broadcast route's
      // single withColumn never pays this). localCheckpoint blocks free
      // on GC, the repo-wide pin discipline.
      val gated = gated0.localCheckpoint(true)
      val ppl = graft.text.NgramLm
        .scoreKnDistributed(gated, idCol, textCol, frames)
        .select(col(idCol),
          round(col("ppl") * 10000).cast("long").as("ppl_x1e4"))
      gated.join(ppl, Seq(idCol))
    }

  /** [[qualityGate]] at TRIGRAM order — the production gate order
    * (q151's scaladoc): the same decision chain through
    * [[graft.text.NgramLm.perplexityKn3]]'s codegen'd broadcast scan.
    * The bigram gate is the textbook floor; a production curation gate
    * scores KN at n=3, and both scorers already existed — this surfaces
    * them through the ONE shared [[gateBody]].
    *
    * NOTE the default `maxPplX1e4` is 640000, NOT the bigram gates'
    * 310000: bigram and trigram perplexity live on different scales
    * (measured ~2× apart on the test corpus — the trigram model backs
    * off more under the same pruning), so a bigram-calibrated ceiling
    * would silently over-gate. Calibrate the knob to YOUR corpus either
    * way; the default only anchors the right order of magnitude.
    */
  def qualityGateKn3(
      docs: DataFrame,
      rates: Map[String, Double],
      model: graft.text.NgramLm.Kn3Model,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minEntropyX1e4: Long = 28000L,
      maxPplX1e4: Long = 640000L): DataFrame =
    gateBody(docs, rates, idCol, textCol, langCol, minEntropyX1e4,
      maxPplX1e4) { gated =>
      gated.withColumn("ppl_x1e4",
        round(graft.text.NgramLm.perplexityKn3(col(textCol), model) * 10000)
          .cast("long"))
    }

  /** [[qualityGateKn3]] against [[graft.text.NgramLm.Kn3Frames]]:
    * perplexity reached through [[graft.text.NgramLm
    * .scoreKn3Distributed]]'s five LEFT equi-joins (plan-guarded — no
    * product, no nested-loop term), then equi-joined back onto the gated
    * rows by id — the [[qualityGateFrames]] discipline one model order
    * up. Identical gate decisions to [[qualityGateKn3]] whenever both
    * routes can train (the frames model IS the broadcast model as
    * frames, spec-asserted); past [[graft.text.NgramLm.trainKn3]]'s
    * broadcast cap only this route exists.
    */
  def qualityGateKn3Frames(
      docs: DataFrame,
      rates: Map[String, Double],
      frames: graft.text.NgramLm.Kn3Frames,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minEntropyX1e4: Long = 28000L,
      maxPplX1e4: Long = 640000L): DataFrame =
    gateBody(docs, rates, idCol, textCol, langCol, minEntropyX1e4,
      maxPplX1e4) { gated0 =>
      // the qualityGateFrames pin, same three consumers (scorer explode,
      // per-doc fold spine, outer join)
      val gated = gated0.localCheckpoint(true)
      val ppl = graft.text.NgramLm
        .scoreKn3Distributed(gated, idCol, textCol, frames)
        .select(col(idCol),
          round(col("ppl") * 10000).cast("long").as("ppl_x1e4"))
      gated.join(ppl, Seq(idCol))
    }

  /** [[qualityGateKn3]] under MODIFIED Kneser–Ney (Chen & Goodman 1998,
    * the KenLM production default — q157's model): per-level estimated
    * discounts d1/d2/d3+ instead of one fixed d, same shared
    * [[gateBody]]. Every LM family the engine trains can now gate.
    * Default ceiling 330000: estimated discounts pull perplexity well
    * under fixed-d trigram scale (measured ~halved on the test corpus)
    * — calibrate to YOUR corpus as ever.
    */
  def qualityGateKn3Mod(
      docs: DataFrame,
      rates: Map[String, Double],
      model: graft.text.NgramLm.Kn3ModModel,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minEntropyX1e4: Long = 28000L,
      maxPplX1e4: Long = 330000L): DataFrame =
    gateBody(docs, rates, idCol, textCol, langCol, minEntropyX1e4,
      maxPplX1e4) { gated =>
      gated.withColumn("ppl_x1e4",
        round(graft.text.NgramLm.perplexityKn3Mod(col(textCol), model) * 10000)
          .cast("long"))
    }

  /** [[qualityGateKn3Mod]] against [[graft.text.NgramLm.Kn3ModFrames]] —
    * the no-broadcast-ceiling route ([[graft.text.NgramLm
    * .scoreKn3ModDistributed]]'s equi-joins), the [[qualityGateKn3Frames]]
    * discipline on the modified-KN model.
    */
  def qualityGateKn3ModFrames(
      docs: DataFrame,
      rates: Map[String, Double],
      frames: graft.text.NgramLm.Kn3ModFrames,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minEntropyX1e4: Long = 28000L,
      maxPplX1e4: Long = 330000L): DataFrame =
    gateBody(docs, rates, idCol, textCol, langCol, minEntropyX1e4,
      maxPplX1e4) { gated0 =>
      val gated = gated0.localCheckpoint(true) // the three-consumer pin
      val ppl = graft.text.NgramLm
        .scoreKn3ModDistributed(gated, idCol, textCol, frames)
        .select(col(idCol),
          round(col("ppl") * 10000).cast("long").as("ppl_x1e4"))
      gated.join(ppl, Seq(idCol))
    }

  /** [[qualityGateStreamFrames]] at trigram order — the no-ceiling gate
    * stream for a reference corpus whose pruned TRIGRAM table outgrows
    * the broadcast cap; per-micro-batch scoring is [[graft.text.NgramLm
    * .scoreKn3Distributed]]'s five equi-joins. Frames lifetime is the
    * caller's, as on the bigram form.
    */
  def qualityGateStreamKn3Frames(
      docs: DataFrame,
      rates: Map[String, Double],
      frames: graft.text.NgramLm.Kn3Frames,
      idCol: String = "doc_id",
      textCol: String = "text",
      langCol: String = "lang",
      minEntropyX1e4: Long = 28000L,
      maxPplX1e4: Long = 640000L,
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    gateStream(docs, checkpoint, trigger, onBatch) { batch =>
      qualityGateKn3Frames(batch, rates, frames, idCol, textCol, langCol,
        minEntropyX1e4, maxPplX1e4)
    }

  /** CALIBRATE a gate ceiling from a target keep rate instead of
    * hand-measuring quantiles (this repo's own ceilings — 310000 bigram,
    * 640000 trigram, 330000 modified-KN — were measured by hand; this is
    * that measurement as an operator): the INCLUSIVE k-th smallest score
    * in `scored` (k = ceil(keepRate · n)), i.e. the exact order
    * statistic such that gating at `<= ceiling` keeps at least the
    * target fraction (ties can keep slightly more; the gate functions
    * use a STRICT `<`, so pass `ceiling + 1` as their `maxPplX1e4`).
    * Compose with any route: score ungated first (the gate functions at
    * `maxPplX1e4 = Long.MaxValue`), calibrate, re-gate.
    *
    * Scale shape — an EXACT quantile with no global row sort: one count,
    * one groupBy over the score column (the histogram of DISTINCT
    * quantized values — x1e4-quantized perplexities cap its cardinality
    * far below the row count), a running sum over that bounded histogram
    * (the single-partition window is over distinct VALUES, never rows),
    * and a 1-row take. A 100 TB corpus calibrates in two scans.
    */
  def calibrateGateCeiling(
      scored: DataFrame,
      keepRate: Double,
      pplCol: String = "ppl_x1e4"): Long = {
    require(keepRate > 0.0 && keepRate <= 1.0,
      s"keepRate must be in (0, 1], got $keepRate")
    val n = scored.count()
    require(n > 0, "cannot calibrate a ceiling on an empty scored population")
    val k = math.max(1L, math.ceil(keepRate * n).toLong)
    val w = graft.functions.windows
      .boundedGlobal(col(pplCol).asc) // over DISTINCT quantized values
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    scored.groupBy(col(pplCol).cast("long").as(pplCol))
      .agg(count(lit(1)).as("_n"))
      .withColumn("_cum", sum(col("_n")).over(w))
      .filter(col("_cum") >= k)
      .orderBy(col(pplCol).asc)
      .limit(1)
      .select(col(pplCol))
      .head().getLong(0)
  }

  /** ONE copy of the gate's per-row decision chain, shared by both model
    * routes and both surfaces (batch + per-micro-batch): mix lottery →
    * entropy floor → (route-supplied) ppl_x1e4 column → perplexity
    * ceiling. `score` receives the mixed+entropy-gated rows and must add
    * `ppl_x1e4`.
    */
  private def gateBody(
      docs: DataFrame,
      rates: Map[String, Double],
      idCol: String,
      textCol: String,
      langCol: String,
      minEntropyX1e4: Long,
      maxPplX1e4: Long)(score: DataFrame => DataFrame): DataFrame = {
    val mixed = graft.operators.Curation.weightedSample(
      docs, idCol, langCol, rates)
    // the entropy floor is FUSED into the scan projection
    // (tokenEntropyAbove's explode barrier): a .filter() here would be
    // pushed below the entropy projection, substituting the whole chain
    // into the predicate and re-evaluating it per row — see the
    // tokenEntropyAbove scaladoc for the measured blowup
    val ent = graft.text.TextAnalysis.tokenEntropyAbove(
        mixed, idCol, textCol, minEntropyX1e4)
      .select(col("id").as(idCol), col("entropy_x1e4"))
    score(mixed.join(ent, Seq(idCol)))
      .select(col(idCol).cast("long").as("id"), col(langCol),
        col("entropy_x1e4"), col("ppl_x1e4"))
      .filter(col("ppl_x1e4") < maxPplX1e4)
  }

  /** Shared stream scaffolding for the gate family: stateless
    * foreachBatch over `gate`, survivors to `onBatch`. */
  private def gateStream(
      docs: DataFrame,
      checkpoint: Option[String],
      trigger: Trigger,
      onBatch: (DataFrame, Long) => Unit)(
      gate: DataFrame => DataFrame): StreamingQuery = {
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_qgate_cp").toString)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        onBatch(gate(batch), batchId)
        ()
      }
      .start()
  }

  def decontaminateStream(
      docs: DataFrame,
      benchmark: DataFrame,
      idCol: String = "doc_id",
      textCol: String = "text",
      ngramLen: Int = 8,
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery = {
    // PINNED gram set: a later decontamination call must not evict the
    // stream's grams from the shared cache mid-run (that silently degrades
    // every subsequent micro-batch to a full explode+distinct recompute);
    // the stream owns the lifetime and releases on termination below
    val (grams, release) = graft.operators.Curation.benchmarkGramsPinned(
      benchmark, textCol, ngramLen)
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_decontam_cp").toString)
    // a start() failure (bad source options, unwritable checkpoint) must
    // not strand the pin: no query exists yet, so no listener can ever fire
    val query =
      try docs.writeStream
        .outputMode("append")
        .option("checkpointLocation", cp)
        .trigger(trigger)
        .foreachBatch { (batch: DataFrame, batchId: Long) =>
          onBatch(graft.operators.Curation.decontaminateAgainstGrams(
            batch, idCol, textCol, ngramLen, grams), batchId)
          ()
        }
        .start()
      catch { case e: Throwable => release(); throw e }
    releaseOnTermination(docs.sparkSession, query, release)
    query
  }

  /** Run `release` EXACTLY ONCE when `query` terminates (however it ends) —
    * the cleanup hook for streams that pin session-level resources.
    *
    * Registration races the query's own lifetime: a stream that fails
    * instantly (bad source, poisoned first batch) can terminate BEFORE
    * `addListener` lands, and the listener bus does not replay missed
    * events — so after registering, re-check activity and release here if
    * the query is already gone. The compare-and-set keeps the two paths
    * (listener event vs. post-registration check, which can BOTH observe a
    * termination that lands between them) exactly-once.
    */
  private[graft] def releaseOnTermination(
      spark: SparkSession,
      query: StreamingQuery,
      release: () => Unit): Unit = {
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    def fireOnce(listener: org.apache.spark.sql.streaming.StreamingQueryListener): Unit =
      if (fired.compareAndSet(false, true)) {
        try release() finally spark.streams.removeListener(listener)
      }
    val listener = new org.apache.spark.sql.streaming.StreamingQueryListener {
      override def onQueryStarted(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent): Unit = ()
      override def onQueryTerminated(
          e: org.apache.spark.sql.streaming.StreamingQueryListener.QueryTerminatedEvent): Unit =
        if (e.id == query.id) fireOnce(this)
    }
    spark.streams.addListener(listener)
    if (!query.isActive) fireOnce(listener)
  }

  /** Online MEDIA ingest — the [[ingestEditStream]] contract for the
    * multimodal families: each micro-batch of media rows (schema of
    * [[graft.multimodal.Multimodal.MediaRow]]) is decoded, fingerprinted,
    * and swept against the persisted [[graft.multimodal.MediaSetIndex]]
    * instance ([[graft.multimodal.VideoIndex]] demux,
    * [[graft.multimodal.AudioIndex]] PCM windows — one stream shape for
    * both; corpus match + within-batch accepted walk); survivors are
    * appended so later micro-batches dedup against them.
    * Sink-before-append via `onBatch`, same at-least-once replay argument.
    */
  def ingestMediaStream(
      media: DataFrame,
      index: graft.multimodal.MediaSetIndex,
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      autoCompact: Boolean = false,
      autoVacuumKeepLast: Option[Int] = None): StreamingQuery = {
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_media_cp").toString)
    media.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        import batch.sparkSession.implicits._
        index.ingestBatch(batch.as[graft.multimodal.Multimodal.MediaRow],
          onKept = kept => onBatch(kept.toDF(), batchId))
        maintainIndex(index, autoCompact, autoVacuumKeepLast)
        ()
      }
      .start()
  }

  def ingestWinnowStream(
      docs: DataFrame,
      index: graft.operators.WinnowIndex,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      autoCompact: Boolean = false,
      autoVacuumKeepLast: Option[Int] = None): StreamingQuery = {
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_winnow_cp").toString)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // sink-before-append, same contract as ingestDedupStream
        index.ingestBatch(batch, idCol, textCol,
          onKept = kept => onBatch(kept, batchId))
        maintainIndex(index, autoCompact, autoVacuumKeepLast)
        ()
      }
      .start()
  }

  /** The paragraph-granularity twin of [[ingestDedupStream]]: each
    * micro-batch is CLEANED against the persisted segment-hash set
    * ([[graft.operators.SegmentIndex.ingestBatch]]: corpus segments +
    * keep-first within the batch), the survivors' segment hashes are
    * appended so later micro-batches dedup against them, and the cleaned
    * rows (idCol, cleaned_text, n_removed) go to `onBatch` — invoked
    * BEFORE the segment append (the [[ingestDedupStream]] restart
    * contract): a replayed batch re-cleans against its own appended
    * segments and comes back fully deduplicated (empty cleaned_text), but
    * the sink already received the real cleaned rows before the append;
    * the only replay artifact is a duplicate (or empty-text) delivery that
    * an id-keyed sink resolves by keeping the first non-empty write per
    * idCol.
    */
  def ingestParagraphDedupStream(
      docs: DataFrame,
      index: graft.operators.SegmentIndex,
      idCol: String = "doc_id",
      textCol: String = "text",
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      autoCompact: Boolean = false,
      autoVacuumKeepLast: Option[Int] = None): StreamingQuery = {
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_para_cp").toString)
    docs.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // sink-before-append, same contract as ingestDedupStream
        index.ingestBatch(batch, idCol, textCol,
          onCleaned = cleaned => onBatch(cleaned, batchId))
        maintainIndex(index, autoCompact, autoVacuumKeepLast)
        ()
      }
      .start()
  }

  /** The embedding-modality twin of [[ingestDedupStream]]: each micro-batch
    * of (id, vector) rows is deduped against the persisted hyperplane-LSH
    * index ([[graft.operators.HyperplaneIndex.ingestBatch]]: exact-cosine
    * verify against the indexed corpus + within-batch keep-vs-accepted
    * sweep), survivors are appended (later micro-batches dedup against
    * them) and handed to `onBatch` BEFORE the append — the same
    * sink-before-append restart contract as [[ingestDedupStream]]. The
    * kept set is independent of micro-batch chopping when arrival order is
    * id-nondecreasing (StreamsSpec replays both choppings).
    */
  def ingestEmbeddingDedupStream(
      vecs: DataFrame,
      index: graft.operators.HyperplaneIndex,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.9,
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      probeFlips: Int = 0,
      autoCompact: Boolean = false,
      autoVacuumKeepLast: Option[Int] = None): StreamingQuery = {
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_emb_cp").toString)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        index.ingestBatch(batch, idCol, vecCol, threshold,
          onKept = kept => onBatch(kept, batchId), probeFlips = probeFlips)
        maintainIndex(index, autoCompact, autoVacuumKeepLast)
        ()
      }
      .start()
  }

  /** The SEMANTIC twin of [[ingestEmbeddingDedupStream]] — same stream
    * contract, SemDeDup's cluster-scoped exact-cosine semantics instead of
    * hyperplane-LSH banding: each micro-batch is assigned to the persisted
    * index's FROZEN centroids, deduped against stored same-cluster rows
    * plus kept lower-id batch rows
    * ([[graft.ml.SemDedupIndex.Index.ingestBatch]]), survivors appended.
    * `onBatch` runs BEFORE the append (sink-before-append restart
    * contract, [[ingestDedupStream]]); the kept set is independent of
    * micro-batch chopping under id-nondecreasing arrival (StreamsSpec
    * replays both choppings).
    */
  def ingestSemDedupStream(
      vecs: DataFrame,
      index: graft.ml.SemDedupIndex.Index,
      idCol: String = "vec_id",
      vecCol: String = "embedding",
      threshold: Double = 0.9,
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      autoCompact: Boolean = false,
      autoVacuumKeepLast: Option[Int] = None): StreamingQuery = {
    autoVacuumKeepLast.foreach(k => require(k >= 1,
      s"autoVacuumKeepLast must be >= 1, got $k"))
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_sem_cp").toString)
    vecs.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        index.ingestBatch(batch, idCol, vecCol, threshold,
          onKept = kept => onBatch(kept, batchId))
        // epoch proliferation is the IvfIndex-layout drift this stream can
        // fix itself; cluster DRIFT (imbalance) still needs the explicit
        // recluster job — maintenance() reports it, autoCompact cannot.
        // autoVacuumKeepLast is the cheaper steady-state lever (the
        // [[maintainIndex]] economics on the IVF layout): fold at the
        // 2k+1 cadence, compaction wins the batch when both trip.
        if (autoCompact && index.committedEpochCount >
          graft.operators.EpochIndex.DefaultMaxEpochs) index.compact()
        else autoVacuumKeepLast.foreach { k =>
          if (index.committedEpochCount >= 2 * k + 1) { index.vacuum(k); () }
        }
        ()
      }
      .start()
  }

  /** The HAMMING-family twin of [[ingestDedupStream]] — the last persisted
    * index family to get an online form: each micro-batch of
    * pre-fingerprinted (id, fp) rows (image dHash, SimHash, any 64-bit
    * family — pixels/text already reduced upstream, so the stream moves
    * 16-byte rows) is deduped against the stored banded fingerprints
    * ([[graft.operators.HammingIndex.ingestBatch]]: pigeonhole-total
    * candidate recall at maxHamming < nBands, exact-hamming verify, plus
    * the within-batch keep-vs-accepted sweep), survivors appended so later
    * micro-batches dedup against them, kept rows to `onBatch` BEFORE the
    * append (the [[ingestDedupStream]] sink-before-append restart
    * contract).
    */
  def ingestHammingDedupStream(
      fps: DataFrame,
      index: graft.operators.HammingIndex,
      idCol: String = "id",
      fpCol: String = "fp",
      maxHamming: Int = 3,
      maxBucketSize: Int = 1000,
      checkpoint: Option[String] = None,
      onBatch: (DataFrame, Long) => Unit = (_, _) => (),
      trigger: Trigger = Trigger.AvailableNow(),
      autoCompact: Boolean = false,
      autoVacuumKeepLast: Option[Int] = None): StreamingQuery = {
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_ham_cp").toString)
    fps.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        index.ingestBatch(batch, idCol, fpCol, maxHamming, maxBucketSize,
          onKept = kept => onBatch(kept, batchId))
        maintainIndex(index, autoCompact, autoVacuumKeepLast)
        ()
      }
      .start()
  }

  // -------------------------------------------------------- progress stream

  /** Schema of one progress event (reference SSE event payload shape,
    * api/routes/batch_v1.py:179-193: operation id, progress counts, ts).
    */
  val ProgressSchema: StructType = StructType(Seq(
    StructField("operation_id", StringType),
    StructField("batch_id", LongType),
    StructField("rows", LongType),
    StructField("ts_ms", LongType)))

  /** ST2 analog: the reference streams per-chunk progress over SSE
    * (api/routes/batch_v1.py:179-254); the engine-native equivalent is a
    * progress JOURNAL — one tiny JSON file per event — that any number of
    * consumers tail as a live Structured Stream (`stream()`) or read as a
    * table (`snapshot()`). Unlike SSE it is durable and replayable: a
    * consumer attaching late sees the full history.
    */
  class ProgressJournal(spark: SparkSession, val dir: String) extends Serializable {
    new java.io.File(dir).mkdirs()

    def record(operationId: String, batchId: Long, rows: Long): Unit = {
      // JSON-escape the id (quotes/backslashes in user/model names must not
      // yield malformed events the PERMISSIVE reader nulls out silently)
      val opJson = graft.sources.TypedMeta.jsonString(operationId)
      val event =
        s"""{"operation_id":$opJson,"batch_id":$batchId,""" +
          s""""rows":$rows,"ts_ms":${System.currentTimeMillis()}}"""
      // write-then-atomic-rename so a tailing consumer can never observe a
      // partially written event: dot-prefixed files are invisible to Spark's
      // file sources, and the final rename is atomic on the same filesystem
      val safeId = operationId.replaceAll("[^A-Za-z0-9._-]", "_")
      val name = f"$safeId-$batchId%012d-${java.util.UUID.randomUUID()}.json"
      val tmp = java.nio.file.Paths.get(dir, s".$name.tmp")
      java.nio.file.Files.writeString(tmp, event)
      java.nio.file.Files.move(tmp, java.nio.file.Paths.get(dir, name),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      ()
    }

    /** Live progress as a streaming DataFrame (watermark/window-able). */
    def stream(): DataFrame = spark.readStream.schema(ProgressSchema).json(dir)

    /** Progress history as a batch table. */
    def snapshot(): DataFrame = spark.read.schema(ProgressSchema).json(dir)
  }

  // -------------------------------------------------------- completion hook

  /** Reference webhook retry policy (api/routes/batch_v1.py:611-614:
    * retry_attempts=3, exponential backoff 2^attempt).
    */
  case class CompletionHookConfig(
      retryAttempts: Int = 3,
      baseBackoffMillis: Long = 1000L) {
    require(retryAttempts >= 1, s"retryAttempts must be >= 1, got $retryAttempts")
  }

  /** ST3 analog (reference send_webhook_notification,
    * api/routes/batch_v1.py:617-657): deliver a completion payload through a
    * caller-supplied transport with bounded retries and exponential backoff
    * (sleep base * 2^attempt between attempts, like the reference's
    * `asyncio.sleep(2 ** attempt)`). The HTTP POST itself is serving-layer;
    * the engine owns the retry/backoff semantics. Returns true once an
    * attempt reports success, false after all attempts fail; transport
    * exceptions count as failed attempts.
    */
  def notifyCompletion(
      config: CompletionHookConfig,
      payload: Map[String, String],
      send: Map[String, String] => Boolean): Boolean = {
    var attempt = 0
    while (attempt < config.retryAttempts) {
      val ok = try send(payload) catch { case _: Exception => false }
      if (ok) return true
      attempt += 1
      if (attempt < config.retryAttempts)
        Thread.sleep(config.baseBackoffMillis * (1L << (attempt - 1)))
    }
    false
  }

  // ------------------------------------------------------- micro-batch ingest

  /** ST4 analog: stream JSONL/parquet vector drops into a store via
    * micro-batch appends. Each drop row needs a `vector` column (+ optional
    * `meta`). Returns the running query; caller stops it.
    *
    * `autoVacuumKeepLast = Some(k)` closes the retention loop for
    * long-lived ingest the way `autoCompact` does for the index streams:
    * each micro-batch lands one store epoch, so an unattended feed grows
    * epoch directories without bound; armed, the stream calls
    * [[graft.sources.VectorStoreCatalog.vacuum]] whenever the pin count
    * reaches 2k+1 (k kept pins + k fresh appends + the previous fold), so
    * the corpus-below-boundary rewrite is paid once per k appends — the
    * compaction-cadence economics — while the newest k pins always stay
    * addressable for mid-run snapshot readers.
    *
    * `driftMaxPsi = Some(psi)` arms the DRIFT GATE: each micro-batch's
    * centroid-assignment PSI against the store ([[graft.sources
    * .VectorStoreCatalog.ingestDrift]]) is measured before it lands, and a
    * batch past the threshold is QUARANTINED — written whole to
    * `quarantineDir/batch_id=N` (required when the gate is armed) with a
    * loud warning, recorded as 0 ingested rows in the status table and
    * under a `quarantine_` key in the progress journal — instead of being
    * appended through a quantizer that does not describe it (the
    * imbalance-now, recall-decay-later failure [[graft.ml.IvfIndex
    * .assignmentDrift]] documents). Indexless stores pass everything: no
    * quantizer, no gate. The verdict compares at x1e6 precision, so the
    * routing is deterministic and externally replayable.
    */
  def ingestVectors(
      spark: SparkSession,
      dropDir: String,
      dropSchema: StructType,
      catalog: graft.sources.VectorStoreCatalog,
      userId: String,
      modelId: String,
      format: String = "json",
      checkpoint: Option[String] = None,
      statusTable: Option[BatchStatusTable] = None,
      onBatchComplete: Option[Map[String, String] => Boolean] = None,
      hookConfig: CompletionHookConfig = CompletionHookConfig(),
      progressJournal: Option[ProgressJournal] = None,
      autoVacuumKeepLast: Option[Int] = None,
      driftMaxPsi: Option[Double] = None,
      quarantineDir: Option[String] = None): StreamingQuery = {
    autoVacuumKeepLast.foreach(k => require(k >= 1,
      s"autoVacuumKeepLast must be >= 1, got $k"))
    require(driftMaxPsi.isEmpty || quarantineDir.nonEmpty,
      "driftMaxPsi needs a quarantineDir: a gated batch must land " +
        "SOMEWHERE an operator can inspect and replay — silently dropping " +
        "it would make the gate a data-loss bug")
    val src = format match {
      case "json" => spark.readStream.schema(dropSchema).json(dropDir)
      case "parquet" => spark.readStream.schema(dropSchema).parquet(dropDir)
      case "csv" => spark.readStream.schema(dropSchema).csv(dropDir)
      case other => throw new IllegalArgumentException(s"unsupported drop format $other")
    }
    val cp = checkpoint.getOrElse(
      java.nio.file.Files.createTempDirectory("graft_ingest_cp").toString)
    src.writeStream
      .outputMode("append")
      .option("checkpointLocation", cp)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // DRIFT GATE (when armed): the PSI of this batch's centroid
        // assignments vs the store's, measured BEFORE the batch lands
        // ([[graft.sources.VectorStoreCatalog.ingestDrift]]); past the
        // threshold the batch is quarantined — written whole to the
        // quarantine dir for operator inspection/replay, never appended —
        // because a drifted batch is exactly the one the frozen quantizer
        // will serve badly (imbalance now, recall decay until a rebuild).
        // Stores with no index pass everything (no quantizer, no gate).
        // The batch is pinned once: the gate's assignment pass and the
        // landing write must not re-run the source lineage twice.
        val pinned =
          if (driftMaxPsi.isDefined) batch.localCheckpoint(true) else batch
        val verdict = driftMaxPsi.flatMap(m =>
          catalog.ingestDrift(userId, modelId, pinned, maxPsi = m))
        if (verdict.exists(_.drifted)) {
          val v = verdict.get
          val dst = s"${quarantineDir.get}/batch_id=$batchId"
          pinned.write.mode("overwrite").parquet(dst)
          slog.warn(s"ingest $userId/$modelId batch $batchId QUARANTINED: " +
            s"assignment PSI ${v.psiX1e6 / 1e6} over ${v.nBatch} rows vs " +
            s"${v.nStore} stored exceeds ${driftMaxPsi.get} — the frozen " +
            s"quantizer does not describe this batch; written to $dst " +
            "(inspect, rebuild the index, or re-drop past the gate)")
          statusTable.foreach(_.record(batchId, 0L))
          progressJournal.foreach(
            _.record(s"quarantine_$userId/$modelId", batchId, v.nBatch))
        } else {
          val n = catalog.addVectors(userId, modelId, pinned)
          statusTable.foreach(_.record(batchId, n))
          progressJournal.foreach(_.record(s"ingest_$userId/$modelId", batchId, n))
          autoVacuumKeepLast.foreach { k =>
            if (catalog.epochs(userId, modelId).size >= 2 * k + 1) {
              catalog.vacuum(userId, modelId, keepLast = k)
              ()
            }
          }
          // ST3: completion notification with the reference's retry/backoff
          onBatchComplete.foreach { send =>
            notifyCompletion(hookConfig, Map(
              "event" -> "batch_operation_completed",
              "batch_id" -> batchId.toString,
              "rows" -> n.toString,
              "store" -> s"$userId/$modelId"), send)
          }
        }
        ()
      }
      .start()
  }

  /** ST1 analog: operation/progress registry as a table instead of SSE —
    * each micro-batch appends (batch_id, rows, completed_at).
    */
  class BatchStatusTable(spark: SparkSession) extends Serializable {
    private val rows = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long, Long)]()
    def record(batchId: Long, n: Long): Unit =
      rows.add((batchId, n, System.currentTimeMillis()))
    def toDF: DataFrame = {
      import spark.implicits._
      import scala.jdk.CollectionConverters._
      val data: List[(Long, Long, Long)] = rows.asScala.toList
      data.toDF("batch_id", "rows_ingested", "completed_at_ms")
    }
  }
}
