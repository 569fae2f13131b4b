package graft.perfbench

import graft.sources.TypedMeta

/** Seeded input generators. Every stream of draws is keyed by (seed, salt),
  * so the same seed gives the same inputs and two streams never share draws.
  */
final class Rng(seed: Long, salt: Long) {
  private val r = new java.util.SplittableRandom(seed * 0x9E3779B97F4A7C15L ^ (salt * 0xC2B2AE3D27D4EB4FL))
  private var spare = Double.NaN
  def int(n: Int): Int = r.nextInt(n)
  def uniform(): Double = r.nextDouble()
  def gaussian(): Double =
    if (!spare.isNaN) { val g = spare; spare = Double.NaN; g }
    else {
      var u = 0.0
      while (u <= 1e-300) u = r.nextDouble()
      val v = r.nextDouble()
      val m = math.sqrt(-2.0 * math.log(u))
      spare = m * math.sin(2 * math.Pi * v)
      m * math.cos(2 * math.Pi * v)
    }
  /** Index drawn with weight 1/(i+1)^s over n items (skewed tenant pick). */
  def zipf(n: Int, s: Double): Int = {
    val w = (0 until n).map(i => 1.0 / math.pow(i + 1, s))
    var x = uniform() * w.sum
    var i = 0
    while (i < n - 1 && x >= w(i)) { x -= w(i); i += 1 }
    i
  }
}

/** A generated vector corpus: row `i` carries meta key `keys(i)`. `prio`
  * is typed (an int), `half` is a string, `cycle` tags the ingest cycle that
  * wrote the row (0 = rows written in set-up).
  */
final case class Corpus(vectors: Array[Array[Float]], prio: Array[Int],
    half: Array[Boolean], keys: Array[Long], cycle: Array[Int]) {
  def n: Int = vectors.length
  def key(i: Int): Long = keys(i)
  lazy val index: Map[Long, Int] = keys.zipWithIndex.toMap
  def vectorOf(key: Long): Option[Array[Float]] = index.get(key).map(vectors(_))
  def meta(i: Int): Map[String, String] = Map(
    "key" -> TypedMeta.encode(keys(i)),
    "prio" -> TypedMeta.encode(prio(i)),
    "half" -> TypedMeta.encode(if (half(i)) "a" else "b"),
    "cycle" -> TypedMeta.encode(cycle(i)))
  def ++(o: Corpus): Corpus = Corpus(vectors ++ o.vectors, prio ++ o.prio,
    half ++ o.half, keys ++ o.keys, cycle ++ o.cycle)
  def without(drop: Long => Boolean): Corpus = {
    val k = (0 until n).filterNot(i => drop(keys(i))).toArray
    Corpus(k.map(vectors), k.map(prio), k.map(half), k.map(keys), k.map(cycle))
  }
}

object Gen {
  def centers(rng: Rng, c: Int, dim: Int): Array[Array[Double]] =
    Array.fill(c)(Array.fill(dim)(rng.gaussian()))

  /** Points around random centers: center + sigma * N(0, I). */
  def clustered(rng: Rng, n: Int, cents: Array[Array[Double]], sigma: Double): Array[Array[Float]] =
    Array.fill(n) {
      val c = cents(rng.int(cents.length))
      c.map(x => (x + sigma * rng.gaussian()).toFloat)
    }

  def corpus(rng: Rng, n: Int, cents: Array[Array[Double]], sigma: Double,
      keyBase: Long, cycle: Int): Corpus =
    Corpus(clustered(rng, n, cents, sigma), Array.fill(n)(rng.int(20)),
      Array.fill(n)(rng.uniform() < 0.5), Array.tabulate(n)(keyBase + _), Array.fill(n)(cycle))

  /** Query vectors drawn like the corpus, but never equal to a stored row. */
  def queries(rng: Rng, n: Int, cents: Array[Array[Double]], sigma: Double): Array[Array[Double]] =
    clustered(rng, n, cents, sigma).map(_.map(_.toDouble))

  /** Rows `dups` of the corpus replaced by near-copies of other rows
    * (cosine well above 0.99); returns the planted (original, copy) pairs.
    */
  def plantVectorDups(rng: Rng, vs: Array[Array[Float]], dups: Int): Seq[(Int, Int)] = {
    val n = vs.length
    val copies = new scala.util.Random(rng.int(Int.MaxValue)).shuffle((0 until n).toVector).take(2 * dups)
    copies.grouped(2).map { p =>
      val (a, b) = (p(0), p(1))
      vs(b) = vs(a).map(x => (x + 0.01 * rng.gaussian()).toFloat)
      (math.min(a, b), math.max(a, b))
    }.toVector
  }

  /** Documents of `words` space-separated tokens over a `vocab`-word
    * vocabulary; `dups` docs are copies of another doc with two words
    * substituted. Returns the docs and the planted (original, copy) pairs.
    */
  def docs(rng: Rng, n: Int, words: Int, vocab: Int, dups: Int): (Array[String], Seq[(Int, Int)]) = {
    val toks = Array.fill(n)(Array.fill(words)(rng.int(vocab)))
    val order = new scala.util.Random(rng.int(Int.MaxValue)).shuffle((0 until n).toVector).take(2 * dups)
    val planted = order.grouped(2).map { p =>
      val (a, b) = (p(0), p(1))
      val t = toks(a).clone()
      (0 until 2).foreach(_ => t(rng.int(words)) = vocab + rng.int(vocab))
      toks(b) = t
      (math.min(a, b), math.max(a, b))
    }.toVector
    (toks.map(_.map(w => s"w$w").mkString(" ")), planted)
  }
}
