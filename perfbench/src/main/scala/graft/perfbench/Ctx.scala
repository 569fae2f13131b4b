package graft.perfbench

import graft.sources.VectorStoreCatalog
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable
import scala.util.control.NonFatal

/** What a run shares across its workload: the session, the catalog under
  * the run's fresh root, the per-kind timings, the operation tally and the
  * check failures.
  */
final class Ctx(val spark: SparkSession, val work: String, val seed: Long,
    val cores: Int, val tracer: Tracer) {
  val catalog = new VectorStoreCatalog(spark, s"$work/catalog")
  val samples = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val rounds = mutable.ArrayBuffer.empty[Double]
  val problems = mutable.ArrayBuffer.empty[String]
  /** Layer counts seen from outside (stream progress, dedup pair counts). */
  val counters = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  def count(name: String, v: Double): Unit =
    counters.getOrElseUpdate(name, mutable.ArrayBuffer.empty) += v
  var attempted = 0L
  var failed = 0L
  private var roundMs = 0.0

  def rng(salt: Long): Rng = new Rng(seed, salt)

  /** One timed call into the program. A call that throws counts as failed
    * and leaves no timing behind.
    */
  def op[T](kind: String)(body: => T): Option[T] = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val v = tracer.span(kind)(body)
      val ms = (System.nanoTime() - t0) / 1e6
      samples.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += ms
      roundMs += ms
      Some(v)
    } catch {
      case NonFatal(e) =>
        failed += 1
        System.err.println(s"[perfbench] $kind failed: $e")
        None
    }
  }

  /** A whole round: its time is the sum of its timed calls, checks excluded. */
  def round(r: Long)(body: => Unit): Unit = {
    tracer.request = r
    roundMs = 0.0
    tracer.span("round")(body)
    rounds += roundMs
  }

  /** An untimed call (set-up, warm-up, checks): a throw here ends the run. */
  def untimed[T](name: String)(body: => T): T = tracer.span(name)(body)

  def check(what: String)(res: => Option[String]): Unit =
    try res.foreach(m => problems += s"$what: $m")
    catch { case NonFatal(e) => problems += s"$what: threw $e" }

  /** The rows of a kNN answer as hits, in the program's rank order. */
  def hits(df: DataFrame): Seq[Hit] =
    df.select(col("meta").getItem("key"), col("similarity_score"), col("rank"))
      .collect().toSeq
      .map(r => Hit(r.getString(0).toLong, r.getDouble(1), r.get(2).toString.toInt))
      .sortBy(_.rank)

  /** A generated corpus as the catalog's input frame (vector + meta). */
  def frame(c: Corpus): DataFrame = {
    val rows = new java.util.ArrayList[Row](c.n)
    (0 until c.n).foreach(i => rows.add(Row(c.vectors(i).toSeq, c.meta(i))))
    spark.createDataFrame(rows, Ctx.InputSchema)
  }

  def median(kind: String): Double = Stats.median(samples.getOrElse(kind, Nil).toSeq)

  /** A typical round: each kind's median times its calls per round. With
    * few rounds per run this is steadier than the median of round sums,
    * and with identical rounds it estimates the same time.
    */
  def typicalRoundMs: Double =
    samples.values.map(v => Stats.median(v.toSeq) * v.size).sum / rounds.size

  /** Bytes on disk under a directory (the store as the filesystem sees it). */
  def duBytes(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(java.nio.file.Files.isRegularFile(_))
        .mapToLong(java.nio.file.Files.size(_)).sum()
      finally s.close()
    }
  }

  def parquetFiles(dir: String): Long = {
    val p = java.nio.file.Paths.get(dir)
    if (!java.nio.file.Files.exists(p)) 0L
    else {
      val s = java.nio.file.Files.walk(p)
      try s.filter(_.getFileName.toString.endsWith(".parquet")).count()
      finally s.close()
    }
  }
}

object Ctx {
  val InputSchema: StructType = StructType(Seq(
    StructField("vector", ArrayType(FloatType, containsNull = false)),
    StructField("meta", MapType(StringType, StringType))))
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (NaN for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
