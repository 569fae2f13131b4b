package graft.perfbench

import graft.ml.IvfIndex
import graft.operators.{Dedup, EpochLog, Knn}
import org.apache.spark.sql.functions.col

import scala.collection.mutable

/** The traced run's isolated calls, made on the workload's main IVF store
  * (`corpus` holds its live rows): the layers a catalog call hides can only
  * be timed from outside, one call at a time. Layers the workload's rounds
  * do not reach (batch top-k, dedup, streaming) get one call each here, on
  * the same store, so every traced run reports every layer.
  */
final class LayerProbe(ctx: Ctx, user: String, model: String, dim: Int,
    nProbe: Int, k: Int, corpus: () => Corpus, queries: Array[Array[Double]],
    inRounds: Set[String]) {

  private def timeMs(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e6
  }

  def run(): Map[String, Double] = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    val cat = ctx.catalog
    val store = cat.storePath(user, model)
    val log = EpochLog(ctx.spark, s"$store/_epochs")

    val resolve = (0 until 20).map(_ => timeMs(ctx.untimed("probe.epochlog")(log.committedEpochs())))
    out("epochlog.resolve_ms") = Stats.median(resolve)
    val commits = new java.io.File(s"$store/_epochs/commits")
    out("epochlog.commit_files") =
      Option(commits.listFiles()).map(_.count(f => !f.getName.startsWith("."))).getOrElse(0).toDouble

    val rows = cat.count(user, model)
    val scans = queries.take(5).map(q =>
      timeMs(ctx.untimed("probe.knn")(Knn.topK(cat.load(user, model), q.toSeq, k).select("id").collect())))
    out("knn.scan_rows_per_s") = rows / (Stats.median(scans.toSeq) / 1000)

    val idx = IvfIndex.load(ctx.spark, s"$store/_ivf", cat.config(user, model).metric, Some(log))
    out("ivf.rows_probed_per_result") = queries.take(5).map(q =>
      ctx.untimed("probe.ivf")(idx.probedScan(q.toSeq, nProbe).count()).toDouble / k).sum / 5
    val c = corpus()
    val recalls = queries.take(20).map { q =>
      val got = ctx.hits(cat.query(user, model, q.toSeq, k, nProbe = nProbe))
      Check.recall(got, Oracle.topK(c, q, k), k)
    }
    out("ivf.recall_at_10") = recalls.sum / recalls.length
    out("ivf.list_imbalance") = cat.indexMaintenance(user, model).map(_.imbalance).getOrElse(Double.NaN)

    if (!inRounds("batch.knn"))
      ctx.untimed("batch.knn")(cat.batchQuery(user, model, queries.take(100).map(_.toSeq).toSeq, k,
        useIndex = false).select("query_id", "id").collect())
    if (!inRounds("dedup.vector")) {
      val pairs = ctx.untimed("dedup.vector")(Dedup.embeddingNearDupLsh(cat.load(user, model),
        "id", "vector", 0.95, dim).collect())
      ctx.count("dedup.vector.pairs_out", pairs.length.toDouble)
    }
    if (!inRounds("dedup.text")) {
      val (docs, _) = Gen.docs(ctx.rng(91), 1000, 60, 2000, 50)
      val spark = ctx.spark
      import spark.implicits._
      val df = docs.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
      ctx.untimed("dedup.text")(Dedup.nearDupPairsMinHash(df, "id", "text", threshold = 0.7).collect())
    }
    if (!inRounds("write.stream")) {
      val m = "probe_stream"
      cat.create(user, m, graft.sources.StoreConfig(dimension = dim))
      val drop = s"${ctx.work}/drops/probe"
      StreamLeg.writeDrop(drop, Gen.corpus(ctx.rng(92), 500, Gen.centers(ctx.rng(93), 8, dim), 0.4, 0L, 0))
      ctx.untimed("write.stream")(StreamLeg.run(ctx, user, m, drop, s"${ctx.work}/checkpoints/probe"))
    }

    val live = cat.count(user, model)
    out("store.bytes_per_live_byte") = ctx.duBytes(store).toDouble / (live * (dim * 4L + 8L))
    out("store.parquet_files") = ctx.parquetFiles(store).toDouble
    out.toMap
  }
}

/** Per-layer metrics from spans, job records and the probe's figures. */
object Layers {
  private val CatalogKinds = Seq("query.", "write.", "maint.", "batch.", "build.")

  def compute(ctx: Ctx, probe: Map[String, Double], loopStart: Double,
      loopEnd: Double): Seq[(String, Double, String)] = {
    val jobs = ctx.tracer.jobs()
    val spans = ctx.tracer.allSpans
    def named(p: String => Boolean) = spans.filter(s => p(s.name))
    def inLoop(ss: Seq[Span]) = ss.filter(s => s.start >= loopStart && s.end <= loopEnd)
    def per(ss: Seq[Span], f: Seq[JobRec] => Double): Double =
      if (ss.isEmpty) Double.NaN else f(Attribution.jobsIn(ss, jobs)) / ss.size
    def between(ss: Seq[Span]): Double =
      if (ss.isEmpty) Double.NaN
      else ss.map(s => Attribution.betweenJobsMs(s, Attribution.jobsIn(Seq(s), jobs))).sum / ss.size
    def shuffleMb(js: Seq[JobRec]) = js.map(j => j.shuffleReadBytes + j.shuffleWriteBytes).sum / 1e6
    def counter(n: String) = ctx.counters.get(n).map(_.sum).getOrElse(0.0)

    val queries = inLoop(named(_.startsWith("query.")))
    val calls = inLoop(named(n => CatalogKinds.exists(n.startsWith)))
    val appends = named(_ == "write.append")
    val knn = named(_ == "probe.knn")
    val builds = named(_ == "build.index")
    val batches = named(_ == "batch.knn")
    val vdedup = named(_ == "dedup.vector")
    val tdedup = named(_ == "dedup.text")
    val loopJobs = jobs.filter(j => j.start >= loopStart && j.start <= loopEnd)
    val loopSpan = Span(-1, -1, "loop", 0, loopStart, loopEnd)
    val streamMs = ctx.counters.get("stream.batch_ms").map(b => Stats.median(b.toSeq)).getOrElse(Double.NaN)

    Seq(
      ("catalog.jobs_per_query", per(queries, _.size.toDouble), "count"),
      ("catalog.small_jobs_per_query", per(queries, _.count(_.small).toDouble), "count"),
      ("catalog.between_jobs_ms_per_query", between(queries), "ms"),
      ("catalog.jobs_per_call", per(calls, _.size.toDouble), "count"),
      ("catalog.between_jobs_ms_per_call", between(calls), "ms"),
      ("catalog.jobs_per_append", per(appends, _.size.toDouble), "count"),
      ("catalog.between_jobs_ms_per_append", between(appends), "ms"),
      ("epochlog.resolve_ms", probe("epochlog.resolve_ms"), "ms"),
      ("epochlog.commit_files", probe("epochlog.commit_files"), "count"),
      ("knn.scan_rows_per_s", probe("knn.scan_rows_per_s"), "rows/s"),
      ("knn.task_ms_per_query", per(knn, _.map(_.taskMs).sum), "ms"),
      ("ivf.rows_probed_per_result", probe("ivf.rows_probed_per_result"), "rows"),
      ("ivf.recall_at_10", probe("ivf.recall_at_10"), "ratio"),
      ("ivf.list_imbalance", probe("ivf.list_imbalance"), "ratio"),
      ("ivf.build_jobs", per(builds, _.size.toDouble), "count"),
      ("ivf.build_task_s", per(builds, _.map(_.taskMs).sum / 1000), "s"),
      ("batch.jobs_per_call", per(batches, _.size.toDouble), "count"),
      ("batch.shuffle_mb_per_call", per(batches, shuffleMb), "MB"),
      ("dedup.vector.shuffle_mb", per(vdedup, shuffleMb), "MB"),
      ("dedup.vector.pairs_out", counter("dedup.vector.pairs_out") /
        math.max(1, ctx.counters.get("dedup.vector.pairs_out").map(_.size).getOrElse(1)), "count"),
      ("dedup.text.shuffle_mb", per(tdedup, shuffleMb), "MB"),
      ("dedup.text.jobs", per(tdedup, _.size.toDouble), "count"),
      ("stream.micro_batches", counter("stream.micro_batches"), "count"),
      ("stream.batch_ms", streamMs, "ms"),
      ("store.bytes_per_live_byte", probe("store.bytes_per_live_byte"), "ratio"),
      ("store.parquet_files", probe("store.parquet_files"), "count"),
      ("spark.jobs", loopJobs.size.toDouble, "count"),
      ("spark.tasks", loopJobs.map(_.tasks).sum.toDouble, "count"),
      ("spark.task_s", loopJobs.map(_.taskMs).sum / 1000, "s"),
      ("spark.gc_s", loopJobs.map(_.gcMs).sum / 1000, "s"),
      ("spark.shuffle_mb", shuffleMb(loopJobs), "MB"),
      ("spark.input_mb", loopJobs.map(_.inputBytes).sum / 1e6, "MB"),
      ("spark.small_jobs", loopJobs.count(_.small).toDouble, "count"),
      ("spark.between_jobs_s", Attribution.betweenJobsMs(loopSpan, loopJobs) / 1000, "s"))
  }

  /** The spans, each with its jobs, self time and time between jobs, plus
    * the metrics; written once, when the run ends.
    */
  def writeTrace(path: String, ctx: Ctx, workload: String, seed: Long,
      metrics: Seq[(String, Double, String)], detail: Seq[(String, Double, String)]): Unit = {
    val jobs = ctx.tracer.jobs()
    val spans = ctx.tracer.allSpans
    val kinds = ctx.samples.keys.toSeq ++ Seq("maint.delete", "maint.optimize", "maint.vacuum")
    val maint = spans.filter(_.name.startsWith("maint."))
    val extra = Seq(
      ("catalog.jobs_per_maintenance",
        if (maint.isEmpty) Double.NaN else Attribution.jobsIn(maint, jobs).size.toDouble / maint.size, "count"),
      ("catalog.rewrite_mb", Attribution.jobsIn(maint, jobs).map(_.outputBytes).sum / 1e6, "MB"))
    val spanJson = spans.sortBy(_.start).map { s =>
      val js = Attribution.jobsIn(Seq(s), jobs)
      s"""{"id": ${s.id}, "parent": ${s.parent}, "name": ${Json.str(s.name)}, "request": ${s.request}, """ +
        s""""start_ms": ${Json.num(s.start)}, "end_ms": ${Json.num(s.end)}, "self_ms": ${Json.num(Attribution.selfMs(s, spans))}, """ +
        s""""jobs": ${js.size}, "small_jobs": ${js.count(_.small)}, "task_ms": ${Json.num(js.map(_.taskMs).sum)}, """ +
        s""""between_jobs_ms": ${Json.num(Attribution.betweenJobsMs(s, js))}}"""
    }
    val body = s"""{"workload": ${Json.str(workload)}, "seed": $seed, """ +
      s""""metrics": ${Json.metrics(metrics)}, "extra": ${Json.metrics(extra)}, """ +
      s""""detail": ${Json.metrics(detail)}, "kinds": ${kinds.distinct.map(Json.str).mkString("[", ", ", "]")}, """ +
      s""""spans": ${spanJson.mkString("[\n", ",\n", "\n]")}}"""
    val p = java.nio.file.Paths.get(path)
    Option(p.getParent).foreach(java.nio.file.Files.createDirectories(_))
    java.nio.file.Files.write(p, body.getBytes("UTF-8"))
  }
}
