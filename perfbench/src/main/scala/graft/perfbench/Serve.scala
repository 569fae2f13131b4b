package graft.perfbench

import graft.ml.IvfIndex
import graft.sources.StoreConfig

/** `serve`: tenant stores built in set-up (one flat, two IVF-indexed), then
  * one client's closed loop of single-vector kNN queries. A round is one
  * query of each kind: an unfiltered flat scan (any tenant; `useIndex =
  * false` on the indexed ones), an unfiltered IVF query, and
  * `queryAdaptive` with a selective typed filter (pre-filter exact path)
  * and a broad string filter (IVF post-filter path). Each query picks its
  * tenant with a Zipf(1) skew among the tenants that serve its kind.
  */
final class Serve(ctx: Ctx) extends Workload {
  import Serve._
  private val cat = ctx.catalog
  private val centers = (0 until Tenants).map(t => Gen.centers(ctx.rng(10 + t), Clusters, Dim))
  private val corpora = (0 until Tenants).map(t => Gen.corpus(ctx.rng(20 + t), Rows, centers(t), Sigma, 0L, 0))
  private val pools = (0 until Tenants).map(t => Gen.queries(ctx.rng(30 + t), Pool, centers(t), Sigma))
  private val pick = ctx.rng(40)
  private val ivf = Seq(1, 2)
  private def model(t: Int) = s"t$t"
  /** Per-query recall@10 of the timed IVF and broad-filter queries. */
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  private val broadRecalls = scala.collection.mutable.ArrayBuffer.empty[Double]
  /** Flat-scan timings on the indexed tenants: IVF vs flat on one store. */
  private val flatOnIvf = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = (0 until Tenants).foreach { t =>
    cat.create(User, model(t), StoreConfig(dimension = Dim, indexType = if (ivf.contains(t)) "ivf" else "flat"))
    ctx.untimed("write.append")(cat.addVectors(User, model(t), ctx.frame(corpora(t))))
    // a supplied quantizer (corpus rows drawn with the seed) keeps k-means
    // out of set-up; the bulk workload times the k-means build
    if (ivf.contains(t)) ctx.untimed("build.index")(cat.buildIndexWithCentroids(User, model(t),
      Array.fill(NLists)(corpora(t).vectors(pick.int(Rows)).map(_.toDouble))))
    if (ivf.contains(t)) ctx.untimed("setup.stats")(cat.refreshMetaStats(User, model(t)))
    val keys = ctx.untimed("setup.keys")(cat.load(User, model(t)).select(org.apache.spark.sql.functions.col("meta")("key"))
      .collect().map(_.getString(0).toLong).sorted.toSeq)
    ctx.check(s"setup t$t keys")(if (keys == (0L until Rows)) None else Some(s"${keys.size} keys, not 0..${Rows - 1}"))
  }

  /** One checked round, then unchecked rounds from `nproc` client threads
    * at once: the JIT reaches the read path's steady state in a few
    * seconds instead of the tens of seconds a single client needs.
    */
  def warmup(): Unit = {
    queries(0, timed = false)
    val threads = (0 until ctx.cores).map { t =>
      new Thread(() => {
        val rng = ctx.rng(50 + t)
        (0 until WarmRoundsPerThread).foreach { i =>
          val q = pools(0)(rng.int(Pool)).toSeq
          val it = model(ivf(rng.int(ivf.size)))
          cat.query(User, model(rng.int(Tenants)), q, K, useIndex = false).collect()
          cat.query(User, it, q, K, nProbe = NProbe).collect()
          cat.queryAdaptiveTyped(User, it, q, K, Map("prio" -> SelectivePrio), nProbe = NProbe,
            preFilterCap = PreFilterCap).hits.collect()
          cat.queryAdaptive(User, it, q, K, Map("half" -> "a"), nProbe = NProbe,
            preFilterCap = PreFilterCap).hits.collect()
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
  }

  def round(r: Long): Unit = queries(r, timed = true)

  private def queries(r: Long, timed: Boolean): Unit = {
    def run[T](kind: String)(body: => T): Option[T] =
      if (timed) ctx.op(kind)(body) else Some(ctx.untimed(kind)(body))
    val i = (r % Pool).toInt
    val ft = pick.zipf(Tenants, 1.0)
    val q = pools(ft)(i)
    run("query.flat")(ctx.hits(cat.query(User, model(ft), q.toSeq, K, useIndex = false))).foreach { got =>
      if (timed && ivf.contains(ft)) flatOnIvf += ctx.samples("query.flat").last
      val c = corpora(ft)
      ctx.check("flat ids")(Check.exactTopK(got, Oracle.topK(c, q, K), K))
      ctx.check("flat scores")(Check.scores(got, key => c.vectorOf(key).map(Oracle.cosine(_, q))))
    }

    val it = ivf(pick.zipf(ivf.size, 1.0))
    val c = corpora(it)
    val qi = pools(it)(i)
    def oracle(q: Array[Double]): Long => Option[Double] = key => c.vectorOf(key).map(Oracle.cosine(_, q))
    run("query.ivf")(ctx.hits(cat.query(User, model(it), qi.toSeq, K, nProbe = NProbe))).foreach { got =>
      ctx.check("ivf scores")(Check.scores(got, oracle(qi)))
      ctx.check("ivf size")(Check.equal("rows", got.size, K))
      if (timed) recalls += Check.recall(got, Oracle.topK(c, qi, K), K)
    }

    val qs = pools(it)((i + Pool / 2) % Pool)
    run("query.selective")(adaptive(cat.queryAdaptiveTyped(User, model(it), qs.toSeq, K,
      Map("prio" -> SelectivePrio), nProbe = NProbe, preFilterCap = PreFilterCap))).foreach {
      case (path, matches, got) =>
        val keep = (j: Int) => c.prio(j) == SelectivePrio
        ctx.check("selective path")(if (path == IvfIndex.PathPrefilterExact) None else Some(path))
        ctx.check("selective matches")(Check.equal("matches", matches, (0 until Rows).count(keep)))
        ctx.check("selective ids")(Check.exactTopK(got, Oracle.topK(c, qs, K, keep), K))
        ctx.check("selective scores")(Check.scores(got, oracle(qs)))
        ctx.check("selective filter")(Check.filterHolds(got, key => keep(key.toInt)))
    }

    val qb = pools(it)((i + Pool / 4) % Pool)
    run("query.broad")(adaptive(cat.queryAdaptive(User, model(it), qb.toSeq, K,
      Map("half" -> "a"), nProbe = NProbe, preFilterCap = PreFilterCap))).foreach {
      case (path, matches, got) =>
        val keep = (j: Int) => c.half(j)
        ctx.check("broad path")(if (path != IvfIndex.PathPrefilterExact) None else Some(path))
        ctx.check("broad matches")(Check.equal("matches", matches, (0 until Rows).count(keep)))
        ctx.check("broad scores")(Check.scores(got, oracle(qb)))
        ctx.check("broad filter")(Check.filterHolds(got, key => keep(key.toInt)))
        ctx.check("broad size")(Check.equal("rows", got.size, K))
        if (timed) broadRecalls += Check.recall(got, Oracle.topK(c, qb, K, keep), K)
    }
  }

  private def adaptive(a: IvfIndex.AdaptiveSearch): (String, Long, Seq[Hit]) =
    (a.path, a.matches, ctx.hits(a.hits))

  def finish(): Unit = {
    ctx.check("ivf recall@10")(Check.atLeast("median ivf recall@10", Stats.median(recalls.toSeq), RecallFloor))
    ctx.check("broad recall@10")(Check.atLeast("median broad recall@10", Stats.median(broadRecalls.toSeq), RecallFloor))
  }

  def storeDirs: Seq[String] = (0 until Tenants).map(t => cat.storePath(User, model(t)))

  def details: Seq[(String, Double, String)] = Seq(
    ("flat_query_p50_ms", ctx.median("query.flat"), "ms"),
    ("ivf_query_p50_ms", ctx.median("query.ivf"), "ms"),
    ("flat_scan_of_ivf_tenants_p50_ms", Stats.median(flatOnIvf.toSeq), "ms"),
    ("selective_query_p50_ms", ctx.median("query.selective"), "ms"),
    ("broad_query_p50_ms", ctx.median("query.broad"), "ms"),
    ("ivf_recall_at_10", recalls.sum / recalls.size, "ratio"),
    ("broad_recall_at_10", broadRecalls.sum / broadRecalls.size, "ratio"))

  def probe: LayerProbe = new LayerProbe(ctx, User, model(ivf.head), Dim, NProbe, K,
    () => corpora(ivf.head), pools(ivf.head), Set.empty)
}

object Serve {
  val User = "serve"
  val Tenants = 3
  val Rows = 2000
  val Dim = 64
  val Clusters = 32
  val Sigma = 0.35
  val NLists = 16
  val NProbe = 4
  val K = 10
  val Pool = 64
  val WarmRoundsPerThread = 10
  val SelectivePrio = 3
  /** Below the broad filter's ~50 % and above the selective one's ~5 %. */
  val PreFilterCap = 400L
  /** Floor on the median per-query recall@10: a mean over the few queries
    * of a short run swings with one unlucky query (0.76 seen at 7 rounds). */
  val RecallFloor = 0.8
}
