package graft.perfbench

import graft.operators.Dedup
import graft.sources.StoreConfig
import org.apache.spark.sql.functions.col

/** `bulk`: one corpus several times a `serve` store, with planted
  * near-duplicate vectors, and a document set with planted near-duplicate
  * texts. A round is one pass of batch work: `batchQuery` at the 1000-query
  * cap (exact path), a k-means IVF build (`buildIndex`), a few single
  * queries through the fresh index, `Dedup.embeddingNearDupLsh` over the
  * corpus and `Dedup.nearDupPairsMinHash` over the documents.
  */
final class Bulk(ctx: Ctx) extends Workload {
  import Bulk._
  private val cat = ctx.catalog
  private val centers = Gen.centers(ctx.rng(10), Clusters, Dim)
  private val corpus = Gen.corpus(ctx.rng(20), Rows, centers, Sigma, 0L, 0)
  private val plantedVec = Gen.plantVectorDups(ctx.rng(21), corpus.vectors, VecDups)
    .map { case (a, b) => (a.toLong, b.toLong) }.toSet
  private val (docs, plantedDocs) = Gen.docs(ctx.rng(22), Docs, Words, Vocab, DocDups)
  private lazy val shingles = docs.map(Oracle.shingles(_))
  private val docsPath = s"${ctx.work}/docs"
  private val warmDocsPath = s"${ctx.work}/warm-docs"
  /** Store id -> generator key, read once after the load. */
  private var keyOf = Map.empty[Long, Long]
  /** Per-query recall@10 of the timed IVF queries. */
  private val recalls = scala.collection.mutable.ArrayBuffer.empty[Double]

  def setup(): Unit = {
    cat.create(User, Model, StoreConfig(dimension = Dim))
    ctx.untimed("write.append")(cat.addVectors(User, Model, ctx.frame(corpus)))
    keyOf = ctx.untimed("setup.keys")(cat.load(User, Model).select(col("id"), col("meta")("key"))
      .collect().map(r => r.getLong(0) -> r.getString(1).toLong).toMap)
    ctx.check("setup keys")(Check.equal("distinct keys", keyOf.values.toSet.size, Rows))
    val spark = ctx.spark
    import spark.implicits._
    val docFrame = docs.toSeq.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("id", "text")
    docFrame.write.parquet(docsPath)
    // the warm-up store: a tenth of the corpus, the same plan shapes
    cat.create(User, WarmModel, StoreConfig(dimension = Dim))
    ctx.untimed("write.append")(cat.addVectors(User, WarmModel,
      ctx.frame(corpus.without(_ >= Rows / 10))))
    docFrame.limit(Docs / 10).write.parquet(warmDocsPath)
  }

  /** One unchecked pass over the warm-up store, so that codegen and the
    * first-call costs of every call kind are paid before timing starts.
    */
  def warmup(): Unit = {
    val qs = Gen.queries(ctx.rng(499), BatchQueries / 10, centers, Sigma)
    ctx.untimed("warm.batch.knn")(cat.batchQuery(User, WarmModel, qs.toSeq.map(_.toSeq), K, useIndex = false).collect())
    ctx.untimed("warm.build.index")(cat.buildIndex(User, WarmModel, nLists = NLists))
    ctx.untimed("warm.query.ivf")(cat.query(User, WarmModel, qs(0).toSeq, K, nProbe = NProbe).collect())
    ctx.untimed("warm.dedup.vector")(Dedup.embeddingNearDupLsh(cat.load(User, WarmModel), "id", "vector",
      VecThreshold, Dim, nBits = LshBits, nBands = LshBands).collect())
    ctx.untimed("warm.dedup.text")(Dedup.nearDupPairsMinHash(ctx.spark.read.parquet(warmDocsPath), "id", "text",
      threshold = TextThreshold).collect())
  }

  def round(r: Long): Unit = {
    val qs = Gen.queries(ctx.rng(500 + r), BatchQueries, centers, Sigma)
    ctx.op("batch.knn")(cat.batchQuery(User, Model, qs.toSeq.map(_.toSeq), K, useIndex = false)
      .select("query_id", "id", "similarity_score", "rank").collect()).foreach { rows =>
      val byQuery = rows.groupBy(_.getLong(0))
      ctx.check("batch answered every query")(Check.equal("queries answered", byQuery.size, BatchQueries))
      // scores and order for every query; ids against brute force on a sample
      val sample = ctx.rng(600 + r)
      val checked = Array.fill(BatchChecked)(sample.int(BatchQueries)).toSet
      byQuery.foreach { case (qi, rs) =>
        val q = qs(qi.toInt)
        val got = rs.toSeq.map(x => Hit(keyOf.getOrElse(x.getLong(1), -1L), x.getDouble(2), x.get(3).toString.toInt))
          .sortBy(_.rank)
        ctx.check("batch scores")(Check.scores(got, key => corpus.vectorOf(key).map(Oracle.cosine(_, q))))
        if (checked.contains(qi.toInt))
          ctx.check("batch ids")(Check.exactTopK(got, Oracle.topK(corpus, q, K), K))
      }
    }

    ctx.op("build.index")(cat.buildIndex(User, Model, nLists = NLists)).foreach { _ =>
      ctx.check("ivf list sizes")(Check.equal("indexed rows",
        ctx.untimed("check.lists")(cat.indexMaintenance(User, Model)).map(_.nVectors).getOrElse(-1L), Rows))
    }

    (0 until SpotQueries).foreach { j =>
      val q = qs(j)
      ctx.op("query.ivf")(ctx.hits(cat.query(User, Model, q.toSeq, K, nProbe = NProbe))).foreach { got =>
        ctx.check("spot scores")(Check.scores(got, key => corpus.vectorOf(key).map(Oracle.cosine(_, q))))
        ctx.check("spot size")(Check.equal("rows", got.size, K))
        recalls += Check.recall(got, Oracle.topK(corpus, q, K), K)
      }
    }

    ctx.op("dedup.vector")(Dedup.embeddingNearDupLsh(cat.load(User, Model), "id", "vector",
      VecThreshold, Dim, nBits = LshBits, nBands = LshBands).collect()).foreach { pairs =>
      ctx.count("dedup.vector.pairs_out", pairs.length.toDouble)
      val got = pairs.toSeq.map { p =>
        val (a, b) = (keyOf(p.getAs[Long]("id_a")), keyOf(p.getAs[Long]("id_b")))
        (math.min(a, b), math.max(a, b), None)
      }
      ctx.check("vector near-dups")(Check.pairs(got,
        (a, b) => Oracle.cosine(corpus.vectors(a.toInt), corpus.vectors(b.toInt)),
        VecThreshold, plantedVec, PlantedFloor))
    }

    ctx.op("dedup.text")(Dedup.nearDupPairsMinHash(ctx.spark.read.parquet(docsPath), "id", "text",
      threshold = TextThreshold).collect()).foreach { pairs =>
      val got = pairs.toSeq.map(p => (p.getAs[Long]("id_a"), p.getAs[Long]("id_b"), Some(p.getAs[Double]("jaccard"))))
      ctx.check("text near-dups")(Check.pairs(got,
        (a, b) => Oracle.jaccard(shingles(a.toInt), shingles(b.toInt)),
        TextThreshold, plantedDocs.map { case (a, b) => (a.toLong, b.toLong) }.toSet, PlantedFloor))
    }
  }

  def finish(): Unit =
    ctx.check("ivf recall@10")(Check.atLeast("median ivf recall@10", Stats.median(recalls.toSeq), RecallFloor))

  def storeDirs: Seq[String] = Seq(cat.storePath(User, Model))

  def details: Seq[(String, Double, String)] = Seq(
    ("batch_knn_qps", BatchQueries / (ctx.median("batch.knn") / 1000), "queries/s"),
    ("index_build_s", ctx.median("build.index") / 1000, "s"),
    ("vector_dedup_rows_per_s", Rows / (ctx.median("dedup.vector") / 1000), "rows/s"),
    ("text_dedup_docs_per_s", Docs / (ctx.median("dedup.text") / 1000), "docs/s"),
    ("ivf_recall_at_10", recalls.sum / recalls.size, "ratio"))

  def probe: LayerProbe = new LayerProbe(ctx, User, Model, Dim, NProbe, K, () => corpus,
    Gen.queries(ctx.rng(31), 64, centers, Sigma), Set("batch.knn", "dedup.vector", "dedup.text"))
}

object Bulk {
  val User = "bulk"
  val Model = "corpus"
  val WarmModel = "warm"
  val Rows = 6000
  val Dim = 64
  val Clusters = 32
  val Sigma = 0.6
  val VecDups = 60
  val VecThreshold = 0.95
  /** 16-bit bands: in-cluster pairs rarely share a bucket, near-copies do. */
  val LshBits = 128
  val LshBands = 8
  val Docs = 1500
  val Words = 60
  val Vocab = 2000
  val DocDups = 75
  val TextThreshold = 0.7
  val PlantedFloor = 0.95
  val BatchQueries = 1000
  val BatchChecked = 50
  val SpotQueries = 8
  val NLists = 16
  val NProbe = 8
  val K = 10
  val RecallFloor = 0.8
}
