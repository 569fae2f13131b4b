package graft

/** Per-round benchmark main. Runs every SparkEntry query against
  * SPARK_GRAFT_SF_DIR and prints ONE JSON line:
  * {"metric":"total","value":N,"unit":"sec","queries":{...},"failed":[...],"sf":...}
  * A query that throws on any run is listed under `failed` and carries no
  * timing.
  *
  * Each query is forced end-to-end with a noop-format write (a plain count()
  * would let Catalyst prune the expensive projections out of the plan).
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession(LocalSession.cpusFromEnv(32))
    spark.sparkContext.setLogLevel("WARN")

    // one warm-up pass of the flagship to absorb JVM/codegen warm-up
    try SparkEntry.queries("q11_knn_cosine")(spark, sfDir)
      .write.mode("overwrite").format("noop").save()
    catch { case _: Throwable => () }

    // Timing discipline: one DISCARDED warm-up run per query (absorbs plan
    // compilation + page-cache effects), then timed runs whose MEDIAN is
    // reported — the median is robust to one noisy run in either direction
    // in this shared single-JVM sandbox, where identical code has measured
    // ±15% fleet-wide drift between snapshots. Fast queries get 3 timed
    // runs; contracts whose warm-up already exceeded 2 s get 2 (keeps total
    // harness wall-time inside the driver budget — the heavy contracts
    // dominate it) — EXCEPT the >10 s contracts, which get 3 again: a
    // 2-run sample on the noisiest multi-phase lifecycle queries was the
    // fleet's weakest arbitration point exactly where absolute seconds are
    // largest (q163 read [21.4, 9.2] in r15 — a 2.3x spread no two-sample
    // criterion can adjudicate), and the ~1 extra run per such contract
    // costs ~30 s over the whole sweep. A GC between queries keeps one
    // query's garbage from
    // billing the next. Per-query relative spread (max−min)/median across
    // the timed runs is aggregated into a "noise" summary on the JSON line
    // so every round carries its own noise floor next to its timings.
    // optional positional args: run only the named queries (local iteration)
    val nRuns = sys.env.get("SPARK_GRAFT_BENCH_RUNS").map(_.toInt.max(1))
    val only = args.toSet
    val unknown = only -- SparkEntry.queries.keySet
    require(unknown.isEmpty,
      s"unknown query name(s): ${unknown.toSeq.sorted.mkString(", ")} — " +
        s"valid: ${SparkEntry.queries.keySet.toSeq.sorted.mkString(", ")}")
    val selected =
      if (only.isEmpty) SparkEntry.queries.toSeq
      else SparkEntry.queries.filter(q => only(q._1)).toSeq
    // A query that throws is a FAILURE, never a timing: it is listed under
    // "failed" on the line and left out of the total, the medians and the
    // noise summary (a broken query must not read as a fast one).
    val outcomes = selected.sortBy(_._1).map { case (name, fn) =>
      def once(): Option[Double] = {
        val t0 = System.nanoTime()
        try {
          fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          Some((System.nanoTime() - t0) / 1e9)
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          None
        }
      }
      System.gc()
      val timed = once().flatMap { warmup => // discarded
        val runs = Seq.fill(nRuns.getOrElse(
          if (warmup > 10.0) 3 else if (warmup > 2.0) 2 else 3))(once())
        if (runs.forall(_.isDefined)) Some(runs.flatten) else None
      }
      name -> timed
    }
    val failed = outcomes.collect { case (name, None) => name }
    val results = outcomes.collect { case (name, Some(timed)) =>
      val sorted = timed.sorted
      val median =
        if (sorted.size % 2 == 1) sorted(sorted.size / 2)
        else (sorted(sorted.size / 2 - 1) + sorted(sorted.size / 2)) / 2.0
      val spreadPct =
        if (median > 0) (sorted.last - sorted.head) / median * 100.0 else 0.0
      (name, median, spreadPct, timed)
    }
    val qs = results.map { case (k, v, _, _) => "\"" + k + f"\":$v%.3f" }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    val spreads = results.map(_._3).sorted
    def pct(p: Double): Double =
      if (spreads.isEmpty) 0.0
      else spreads(((spreads.size - 1) * p).round.toInt)
    val noise =
      f""""noise":{"median_rel_spread_pct":${pct(0.5)}%.1f,"p90_rel_spread_pct":${pct(0.9)}%.1f}"""
    // per-query RUN ARRAYS ride the line too (r14 judge order): the median
    // alone cannot support a two-sample comparison, so bench_diff could only
    // arbitrate against the within-run spread — which between-run drift on
    // sub-second queries (measured 45-75%) routinely exceeds. With both
    // lines carrying their samples, bench_diff flags a delta only when the
    // two run-sets SEPARATE (min(new) > max(old) or vice versa).
    val runs = results.map { case (k, _, _, t) =>
      "\"" + k + "\":" + t.map(v => f"$v%.3f").mkString("[", ",", "]")
    }.mkString("{", ",", "}")
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","queries":$qs,"runs":$runs,"failed":$failedJson,$noise,"sf":"$sfDir"}"""
    println(line)
    // ALSO persist the full line: the driver captures only the tail of
    // stdout, so at 100+ queries the printed line gets beheaded in the
    // round artifact (BENCH_r11 lost 35/109 timings). The repo file is the
    // durable copy; round-over-round comparison reads it, not stdout.
    if (only.isEmpty) {
      try java.nio.file.Files.write(
        java.nio.file.Paths.get("BENCH_LOCAL.json"),
        (line + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
      catch { case e: Throwable =>
        System.err.println(s"[bench] BENCH_LOCAL.json write failed: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
