package graft.perfbench

import org.apache.spark.sql.SparkSession

/** A workload: set-up, whole rounds of timed calls with their checks, and
  * the isolated per-layer calls of the traced run.
  */
trait Workload {
  def setup(): Unit
  /** Untimed calls run before timing starts (JIT, codegen, first reads). */
  def warmup(): Unit
  def round(r: Long): Unit
  /** End-of-run checks over what the rounds accumulated. */
  def finish(): Unit
  /** The stores whose on-disk size the run reports. */
  def storeDirs: Seq[String]
  /** Per-kind figures printed for reference (name -> (value, unit)). */
  def details: Seq[(String, Double, String)]
  /** The traced run's isolated calls into each layer. */
  def probe: LayerProbe
}

/** `Main --workload W --seed N --seconds S --trace 0|1 --work DIR
  * --cores C --t0-ms T [--trace-out FILE]`; `Main --selftest` runs the
  * checkers against corrupted answers and needs no Spark.
  */
object Main {
  /** CPU time the host took from this machine (steal, /proc/stat), which
    * explains a slow run that nothing in the program did. 0 where absent.
    */
  def stealS(): Double = scala.util.Try {
    val src = scala.io.Source.fromFile("/proc/stat")
    try src.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally src.close()
  }.getOrElse(0.0)

  def main(argv: Array[String]): Unit = {
    if (argv.contains("--selftest")) { sys.exit(if (SelfTest.run()) 0 else 1) }
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val tracing = a("trace") == "1"
    val work = a("work")
    val cores = a("cores").toInt
    val t0Ms = a("t0-ms").toDouble

    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.default.parallelism", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "127.0.0.1")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.session.timeZone", "UTC")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(tracing, spark.sparkContext)
    val ctx = new Ctx(spark, work, seed, cores, tracer)
    try {
      val w: Workload = workload match {
        case "serve" => new Serve(ctx)
        case "ingest" => new Ingest(ctx)
        case "bulk" => new Bulk(ctx)
        case other => throw new IllegalArgumentException(s"unknown workload $other")
      }
      val tSetup = System.nanoTime()
      ctx.untimed("setup")(w.setup())
      val tWarm = System.nanoTime()
      ctx.untimed("warmup")(w.warmup())
      val setupS = (System.currentTimeMillis() - t0Ms) / 1000.0
      System.err.println(f"[perfbench] setup ${(tWarm - tSetup) / 1e9}%.1f s, warm-up " +
        f"${(System.nanoTime() - tWarm) / 1e9}%.1f s, process start to loop $setupS%.1f s")

      ctx.counters.clear()
      val steal0 = stealS()
      val loopStart = tracer.now()
      // a round starts while at least half a round of the mean length so
      // far remains: the loop ends within half a round of the run length,
      // and the number of long rounds a run makes does not hinge on a few
      // hundred milliseconds of host speed
      val start = System.nanoTime()
      val deadline = start + (seconds * 1e9).toLong
      var r = 0L
      while (r == 0 || System.nanoTime() + (System.nanoTime() - start) / r / 2 <= deadline) {
        ctx.round(r)(w.round(r))
        r += 1
      }
      val loopEnd = tracer.now()
      System.err.println(f"[perfbench] $r rounds in ${(loopEnd - loopStart) / 1000}%.1f s: " +
        ctx.samples.map { case (k, v) => f"$k ${Stats.median(v.toSeq)}%.0f ms x${v.size}" }.mkString(", "))
      System.err.println("[perfbench] round ms: " + ctx.rounds.map(x => f"$x%.0f").mkString(" "))
      ctx.untimed("finish")(w.finish())

      val diskMb = w.storeDirs.map(ctx.duBytes).sum / 1e6
      val queryMs = ctx.samples.collect { case (k, v) if k.startsWith("query.") => v }.flatten.toSeq
      val endToEnd = Seq(
        ("setup_s", setupS, "s"),
        ("round_ms", ctx.typicalRoundMs, "ms"),
        ("query_p50_ms", Stats.median(queryMs), "ms"),
        ("disk_mb", diskMb, "MB"))
      val detail = Seq(("rounds", r.toDouble, "count"),
        ("host_steal_s", stealS() - steal0, "s"),
        ("query_p95_ms", Stats.quantile(queryMs, 0.95), "ms"),
        ("queries", queryMs.size.toDouble, "count")) ++ w.details

      val metrics =
        if (!tracing) endToEnd
        else {
          val layers = ctx.untimed("probe")(w.probe.run())
          val out = Layers.compute(ctx, layers, loopStart, loopEnd)
          a.get("trace-out").foreach(f => Layers.writeTrace(f, ctx, workload, seed, out, detail))
          out
        }
      tracer.stop()
      ctx.problems.foreach(p => System.err.println(s"[perfbench] check failed: $p"))
      println("PERFBENCH_DETAIL " + Json.metrics(detail))
      println("PERFBENCH_RESULT {" +
        s""""correct": ${ctx.problems.isEmpty}, "attempted": ${ctx.attempted}, """ +
        s""""failed": ${ctx.failed}, "metrics": ${Json.metrics(metrics)}}""")
    } finally {
      spark.streams.active.foreach(q => scala.util.Try(q.stop()))
      spark.stop()
    }
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def metrics(ms: Seq[(String, Double, String)]): String =
    ms.map { case (n, v, u) => s"""${str(n)}: {"value": ${num(v)}, "unit": ${str(u)}}""" }
      .mkString("{", ", ", "}")
}
