package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Funnel analysis over an event stream — "users who did A, then B, then C"
  * — the conversion-path query every event pipeline runs (absent from the
  * reference, whose events surface is ingest-progress only:
  * api/routes/batch_v1.py tracks job state, not user journeys).
  *
  * Semantics: the GREEDY earliest chain. Per user, t1 = the earliest
  * step-1 event; t_{i+1} = the earliest step-{i+1} event STRICTLY after
  * t_i. Strict inequality means same-instant events never chain (a
  * deterministic, engine-replayable rule); greedy-earliest is the standard
  * funnel convention (a user abandoning early then completing later still
  * counts from their FIRST attempt).
  *
  * Scale shape: each step is filtered to its event type SCAN-SIDE, reduced
  * to slim (user, min ts) pairs with map-side partial aggregation, and
  * chained onto the accumulating per-user chain with an equi-join on the
  * user key — k-1 shuffles of per-user scalars, never of raw events, and
  * per-key cost is bounded by the user's own event count (AQE handles a
  * hot user). No window ever sees more than one row per user.
  */
object Funnel {

  /** Per-user greedy funnel chains. Output: (userCol, t1 .. tk) where t_i
    * is the timestamp (input column type preserved) of the user's step-i
    * completion, NULL from the first uncompleted step onward. One row per
    * user who performed step 1 at least once.
    */
  def chains(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    require(steps.nonEmpty, "funnel needs at least one step")
    require(steps.distinct.size == steps.size,
      s"funnel steps must be distinct, got $steps")
    val first = events.filter(col(typeCol) === steps.head)
      .groupBy(col(userCol))
      .agg(min(col(tsCol)).as("t1"))
    steps.zipWithIndex.drop(1).foldLeft(first) { case (chain, (step, i)) =>
      val stepEvents = events.filter(col(typeCol) === step)
        .select(col(userCol).as("_u"), col(tsCol).as("_ts"))
      chain
        .join(stepEvents,
          chain(userCol) === col("_u") && col("_ts") > chain(s"t$i"), "left")
        .groupBy((col(userCol) +: (1 to i).map(j => col(s"t$j"))): _*)
        .agg(min(col("_ts")).as(s"t${i + 1}"))
    }
  }

  /** Funnel step counts: how many users reach each step. Output: one row
    * per step, (step BIGINT 1-based, step_type, n_users BIGINT), n_users
    * non-increasing down the funnel. Derived from [[chains]] — the whole
    * corpus reduces to one aggregate row before the k-row explode.
    */
  def counts(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      steps: Seq[String]): DataFrame = {
    val ch = chains(events, userCol, tsCol, typeCol, steps)
    val aggd = ch.agg(
      count(col("t1")).as("n1"),
      (2 to steps.size).map(i => count(col(s"t$i")).as(s"n$i")): _*)
    val stackArgs = steps.zipWithIndex
      .map { case (s, i) => s"${i + 1}L, '${s.replace("'", "''")}', n${i + 1}" }
      .mkString(", ")
    aggd.selectExpr(
      s"stack(${steps.size}, $stackArgs) AS (step, step_type, n_users)")
  }

  /** Top event paths: each user's first `maxSteps` event types in
    * timeline order joined with `>`, counted across users, top `k` paths
    * by count — the "what do users actually do" report next to
    * [[chains]] (funnel) and [[retention]].
    *
    * Determinism: events order by (ts, type) — two events at the same
    * instant order by type ascending (an engine-portable tiebreak; an id
    * tiebreak would need the id in the output to replay). Output:
    * (path, n_users BIGINT, rnk BIGINT), rank by n_users desc / path asc.
    *
    * Scale shape: the per-user selection is a bounded [[FirstKAggregator]]
    * — a bot user with millions of events costs its scan, never an
    * aggregation buffer (the `collect_list` formulation holds the user's
    * whole history in memory) — and the path counting is an ordinary
    * partial-aggregated groupBy. The final top-k is a
    * TakeOrderedAndProject over one row per DISTINCT path.
    */
  def topPaths(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      maxSteps: Int,
      k: Int): DataFrame = {
    require(maxSteps >= 1, s"maxSteps must be >= 1, got $maxSteps")
    require(k >= 1, s"k must be >= 1, got $k")
    val firstK = udaf(new FirstKAggregator(maxSteps))
    events
      // a NULL ts cannot encode into the aggregator's primitive key and a
      // NULL type would NPE its string tiebreak — dirty rows DROP, they
      // do not abort the job (and cannot appear in a path either way)
      .filter(col(tsCol).isNotNull && col(typeCol).isNotNull)
      .select(col(userCol).as("_u"), col(tsCol).cast("long").as("_ts"),
        col(typeCol).as("_t"))
      .groupBy(col("_u"))
      .agg(firstK(col("_ts"), col("_t")).as("steps"))
      .select(array_join(transform(col("steps"), s => s.getField("token")), ">")
        .as("path"))
      .groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("path").asc)
      .limit(k)
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("n_users").desc, col("path").asc)).cast("long"))
  }

  /** Event-transition counts (the first-order Markov matrix): how often
    * event type A is IMMEDIATELY followed by event type B in a user's
    * timeline — the navigation-flow / next-action model behind "where do
    * users go from here" and synthetic-session generation. Timeline order
    * is (ts, type) with the type-ascending tie-break ([[topPaths]]'
    * portable rule). Output: (from_type, to_type, n BIGINT) — one row per
    * observed ordered pair, summed across users.
    *
    * Scale shape — the hot-key lever is `bucketMs`: a naive
    * `lead() OVER (PARTITION BY user ORDER BY ts)` sorts a bot user's
    * ENTIRE history in one task (the [[topPaths]] trap).
    * Here the window partitions by (user, floorDiv(ts, bucketMs)) — one
    * task's sort is bounded by events-per-user-per-bucket, not
    * events-per-user — and the cross-bucket links are stitched from
    * per-bucket SUMMARY rows (first/last event of each non-empty bucket,
    * a plain min_by/max_by partial aggregation — no sort at all; a year
    * of 1 h buckets is <= 8.8k summary rows per user regardless of event
    * volume), ordered by a window over those summaries only. Same totals
    * as the naive formulation, bounded tasks, and only the within-bucket
    * branch ever sorts raw events.
    */
  def transitions(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      typeCol: String,
      bucketMs: Long): DataFrame = {
    require(bucketMs >= 1, s"bucketMs must be >= 1, got $bucketMs")
    val ev = events
      .filter(col(tsCol).isNotNull && col(typeCol).isNotNull)
      .select(col(userCol).as("_u"), col(tsCol).cast("long").as("_ts"),
        col(typeCol).as("_t"),
        RangeJoin.floorDiv(col(tsCol).cast("long"), bucketMs).as("_b"))
    val inBucket = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_u"), col("_b")).orderBy(col("_ts"), col("_t"))
    val within = ev
      .withColumn("_next", lead(col("_t"), 1).over(inBucket))
      .filter(col("_next").isNotNull)
      .groupBy(col("_t").as("from_type"), col("_next").as("to_type"))
      .agg(count(lit(1)).as("n"))
    // bucket summaries: one slim row per (user, non-empty bucket) from a
    // partial-aggregated min_by/max_by — this branch never sorts events
    val summaries = ev
      .groupBy(col("_u"), col("_b"))
      .agg(min_by(col("_t"), struct(col("_ts"), col("_t"))).as("_first"),
        max_by(col("_t"), struct(col("_ts"), col("_t"))).as("_last"))
    val acrossW = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_u")).orderBy(col("_b"))
    val across = summaries
      .withColumn("_nextFirst", lead(col("_first"), 1).over(acrossW))
      .filter(col("_nextFirst").isNotNull)
      .groupBy(col("_last").as("from_type"), col("_nextFirst").as("to_type"))
      .agg(count(lit(1)).as("n"))
    within.unionAll(across)
      .groupBy(col("from_type"), col("to_type"))
      .agg(sum(col("n")).as("n"))
  }

  /** Retention cohorts: bucket time into fixed periods (`periodMs` over a
    * numeric epoch-ms column), assign each user to the cohort of their
    * FIRST active period, and count how many of each cohort are active in
    * every later period — the "day-N retention" report.
    *
    * Output: (cohort, bucket, periods_after BIGINT = bucket - cohort,
    * n_users BIGINT), one row per (cohort, active bucket) pair;
    * periods_after = 0 rows carry each cohort's size. Bucketing is exact
    * integer arithmetic (`(ts - ts mod period) / period`), so any engine
    * reproduces the buckets bit-for-bit.
    *
    * Scale shape: raw events collapse to DISTINCT (user, bucket) pairs
    * with map-side partial aggregation — the only thing ever joined or
    * re-aggregated is that slim activity set, per-user scalars against
    * per-user cohort minima. No window, no pairwise term.
    */
  def retention(
      events: DataFrame,
      userCol: String,
      tsCol: String,
      periodMs: Long): DataFrame = {
    require(periodMs >= 1, s"periodMs must be >= 1, got $periodMs")
    val bucket = ((col(tsCol) - pmod(col(tsCol), lit(periodMs))) / periodMs)
      .cast("long")
    val activity = events
      .select(col(userCol).as("_u"), bucket.as("bucket"))
      .distinct()
    val cohorts = activity.groupBy(col("_u")).agg(min(col("bucket")).as("cohort"))
    activity.join(cohorts, Seq("_u"))
      .groupBy(col("cohort"), col("bucket"))
      .agg(count(lit(1)).as("n_users"))
      .select(col("cohort"), col("bucket"),
        (col("bucket") - col("cohort")).as("periods_after"), col("n_users"))
  }
}
