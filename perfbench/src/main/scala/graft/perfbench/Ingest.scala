package graft.perfbench

import graft.sources.StoreConfig
import org.apache.spark.sql.functions.{col, lit}

/** `ingest`: one IVF-indexed epoch store takes whole cycles of writes with
  * reads beside them. A round is one cycle: `addVectors` batches, one
  * drop-directory leg through `Streams.ingestVectors`, then `vacuum`,
  * `deleteVectors` of every row the cycle wrote, and `optimize`. Two
  * read-after-write queries follow every write: the batch's last and first
  * rows, and after the delete two of the deleted rows. Each cycle ends with
  * the store back at its set-up rows, so the run's on-disk size is the
  * steady state of the commit protocol, not of how many cycles fitted.
  */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val cat = ctx.catalog
  private val centers = Gen.centers(ctx.rng(10), Clusters, Dim)
  private val base = Gen.corpus(ctx.rng(20), BaseRows, centers, Sigma, 0L, 0)
  private val probes = Gen.queries(ctx.rng(30), Probes, centers, Sigma)
  private val pool = Gen.queries(ctx.rng(31), 64, centers, Sigma)
  private var live = base
  private var tally = 0L

  def setup(): Unit = {
    cat.create(User, Model, StoreConfig(dimension = Dim, indexType = "ivf"))
    ctx.untimed("write.append")(cat.addVectors(User, Model, ctx.frame(base)))
    tally = BaseRows
    // a supplied quantizer (base rows drawn with the seed) keeps k-means out
    // of set-up; the bulk workload times the k-means build
    val pick = ctx.rng(40)
    ctx.untimed("build.index")(cat.buildIndexWithCentroids(User, Model,
      Array.fill(NLists)(base.vectors(pick.int(BaseRows)).map(_.toDouble))))
  }

  def warmup(): Unit = cycle(1, timed = false)

  def round(r: Long): Unit = cycle(r.toInt + 2, timed = true)

  private def oracle(q: Array[Double]): Long => Option[Double] =
    key => live.vectorOf(key).map(Oracle.cosine(_, q))

  /** The exact path's answers for the fixed probe set, checked against the
    * oracle over the live rows.
    */
  private def probeAnswers(what: String, timed: Boolean): Seq[Seq[Hit]] =
    if (!timed) Nil
    else probes.toSeq.map { q =>
      val got = ctx.untimed("check.probe")(ctx.hits(cat.query(User, Model, q.toSeq, K, useIndex = false)))
      ctx.check(s"$what exact ids")(Check.exactTopK(got, Oracle.topK(live, q, K), K))
      got
    }

  private def cycle(c: Int, timed: Boolean): Unit = {
    def run[T](kind: String)(body: => T): Option[T] =
      if (timed) ctx.op(kind)(body) else Some(ctx.untimed(kind)(body))
    // reads of the batch's last and first rows, right after its write
    def fresh(what: String, batch: Corpus): Unit = Seq(batch.n - 1, 0).foreach { i =>
      val q = batch.vectors(i).map(_.toDouble)
      run("query.fresh")(ctx.hits(cat.query(User, Model, q.toSeq, K, nProbe = NProbe))).foreach { got =>
        ctx.check(s"$what read-after-write")(Check.rankOne(got, batch.keys(i)))
        ctx.check(s"$what fresh scores")(Check.scores(got, oracle(q)))
      }
    }
    val keyBase = c.toLong * 1000000L
    val batches = (0 until Appends).map(b =>
      Gen.corpus(ctx.rng(1000L * c + b), AppendRows, centers, Sigma, keyBase + b * AppendRows, c))
    val appended = batches.head
    batches.foreach { batch =>
      run("write.append")(cat.addVectors(User, Model, ctx.frame(batch))).foreach { n =>
        ctx.check("append count")(Check.equal("rows written", n, AppendRows))
        tally += n
        live = live ++ batch
        fresh("append", batch)
      }
    }

    val streamed = Gen.corpus(ctx.rng(1000L * c + 99), StreamRows, centers, Sigma,
      keyBase + Appends * AppendRows, c)
    val drop = s"${ctx.work}/drops/c$c"
    StreamLeg.writeDrop(drop, streamed)
    run("write.stream")(StreamLeg.run(ctx, User, Model, drop, s"${ctx.work}/checkpoints/c$c")).foreach { _ =>
      tally += StreamRows
      live = live ++ streamed
      ctx.check("stream landed")(Check.equal("rows after the stream",
        ctx.untimed("check.count")(cat.count(User, Model)), tally))
      fresh("stream", streamed)
    }

    val beforeVacuum = probeAnswers("before vacuum", timed)
    run("maint.vacuum")(cat.vacuum(User, Model, keepLast = 2))
    ctx.check("vacuum keeps answers")(Check.sameAnswers(beforeVacuum, probeAnswers("after vacuum", timed)))

    val written = live.keys.filter(_ >= keyBase).toSet
    run("maint.delete")(cat.deleteVectors(User, Model, col("meta")("cycle") === lit(c.toString))).foreach { n =>
      ctx.check("delete count")(Check.equal("rows deleted", n, written.size))
      tally -= n
      live = live.without(written.contains)
      // reads of a streamed row and an appended row, both just deleted
      Seq(streamed.vectors.head, appended.vectors.head).foreach { v =>
        val gone = v.map(_.toDouble)
        run("query.fresh")(ctx.hits(cat.query(User, Model, gone.toSeq, K, nProbe = NProbe))).foreach { got =>
          ctx.check("deleted rows gone")(Check.absent(got, written.contains))
          ctx.check("after-delete scores")(Check.scores(got, oracle(gone)))
        }
      }
    }

    val beforeOptimize = probeAnswers("before optimize", timed)
    run("maint.optimize")(cat.optimize(User, Model))
    ctx.check("optimize keeps answers")(Check.sameAnswers(beforeOptimize, probeAnswers("after optimize", timed)))
  }

  /** The store after the last cycle: scan, commit-log arithmetic and the
    * client's tally agree, the store is healthy and the IVF lists hold
    * every row.
    */
  def finish(): Unit = {
    val scan = cat.count(User, Model)
    val stats = cat.stats().filter(col("user_id") === User && col("model_id") === Model)
      .head().getLong(2)
    ctx.check("counts")(Check.counts(scan, stats, tally))
    val health = cat.healthCheck(User, Model)
    ctx.check("health")(if (health.healthy) None else Some(health.issues.mkString("; ")))
    ctx.check("ivf list sizes")(Check.equal("indexed rows",
      cat.indexMaintenance(User, Model).map(_.nVectors).getOrElse(-1L), tally))
  }

  def storeDirs: Seq[String] = Seq(cat.storePath(User, Model))

  def details: Seq[(String, Double, String)] = {
    val maint = Seq("maint.delete", "maint.optimize", "maint.vacuum")
    val perCycle = ctx.samples.filter(kv => maint.contains(kv._1)).values.map(_.sum).sum /
      math.max(ctx.rounds.size, 1)
    Seq(
      ("append_p50_ms", ctx.median("write.append"), "ms"),
      ("stream_rows_per_s", StreamRows / (ctx.median("write.stream") / 1000), "rows/s"),
      ("maintenance_s_per_cycle", perCycle / 1000, "s"),
      ("vacuum_p50_ms", ctx.median("maint.vacuum"), "ms"),
      ("delete_p50_ms", ctx.median("maint.delete"), "ms"),
      ("optimize_p50_ms", ctx.median("maint.optimize"), "ms"),
      ("fresh_query_p50_ms", ctx.median("query.fresh"), "ms"))
  }

  def probe: LayerProbe = new LayerProbe(ctx, User, Model, Dim, NProbe, K, () => live, pool,
    Set("write.stream"))
}

object Ingest {
  val User = "ingest"
  val Model = "main"
  val BaseRows = 4000
  val AppendRows = 200
  val Appends = 1
  val StreamRows = 400
  val Dim = 64
  val Clusters = 32
  val Sigma = 0.35
  val NLists = 16
  val NProbe = 4
  val K = 10
  val Probes = 2
}
