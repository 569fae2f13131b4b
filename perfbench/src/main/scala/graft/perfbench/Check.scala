package graft.perfbench

/** One returned neighbour, identified by the generator key in its meta. */
final case class Hit(key: Long, score: Double, rank: Int)

/** Computations made apart from the program: plain Scala over the
  * generated arrays, with the program's documented formulas (cosine in
  * double precision, 3-token shingles split on single spaces).
  */
object Oracle {
  def cosine(a: Array[Float], q: Array[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nq = 0.0; var i = 0
    while (i < a.length) {
      val x = a(i).toDouble
      dot += x * q(i); na += x * x; nq += q(i) * q(i)
      i += 1
    }
    dot / (math.max(math.sqrt(na), 1e-12) * math.max(math.sqrt(nq), 1e-12))
  }

  def cosine(a: Array[Float], b: Array[Float]): Double = cosine(a, b.map(_.toDouble))

  /** All rows passing `keep`, best first (score desc, key asc). */
  def ranked(c: Corpus, q: Array[Double], keep: Int => Boolean = _ => true): Seq[(Long, Double)] =
    (0 until c.n).filter(keep).map(i => (c.key(i), cosine(c.vectors(i), q)))
      .toVector
      .sortBy { case (k, s) => (-s, k) }

  /** The best `k + 1` rows (one extra row decides ties at the k-th place). */
  def topK(c: Corpus, q: Array[Double], k: Int, keep: Int => Boolean = _ => true): Seq[(Long, Double)] = {
    val heap = scala.collection.mutable.PriorityQueue.empty[(Double, Long)](
      Ordering.by[(Double, Long), (Double, Long)] { case (s, key) => (-s, key) })
    var i = 0
    while (i < c.n) {
      if (keep(i)) {
        heap.enqueue((cosine(c.vectors(i), q), c.key(i)))
        if (heap.size > k + 1) heap.dequeue()
      }
      i += 1
    }
    heap.toSeq.map { case (s, key) => (key, s) }.sortBy { case (key, s) => (-s, key) }
  }

  def shingles(text: String, n: Int = 3): Set[String] = {
    val toks = text.split(" ", -1)
    if (toks.length < n) Set(text) else toks.sliding(n).map(_.mkString(" ")).toSet
  }

  def jaccard(a: Set[String], b: Set[String]): Double = {
    val inter = a.intersect(b).size.toDouble
    inter / (a.size + b.size - inter)
  }
}

/** Checkers: each returns None when the answer holds, or why it does not. */
object Check {
  val Tol = 1e-6

  /** Exact kNN: the returned keys are the brute-force top-k, where a key
    * whose score ties the k-th place within `Tol` may stand in for another.
    * `truth` is the oracle's best k + 1 rows (fewer when the set is small).
    */
  def exactTopK(got: Seq[Hit], truth: Seq[(Long, Double)], k: Int): Option[String] = {
    val want = math.min(k, truth.size)
    if (got.size != want) return Some(s"returned ${got.size} rows, want $want")
    if (got.map(_.key).distinct.size != got.size) return Some("duplicate keys returned")
    if (truth.size <= k) {
      val missing = truth.map(_._1).toSet -- got.map(_.key)
      return if (missing.isEmpty) None else Some(s"missing keys ${missing.take(3)}")
    }
    val kth = truth(k - 1)._2
    val must = truth.filter(_._2 > kth + Tol).map(_._1).toSet
    val allowed = truth.filter(_._2 >= kth - Tol).map(_._1).toSet
    val missing = must -- got.map(_.key)
    if (missing.nonEmpty) return Some(s"brute-force neighbours missing: ${missing.take(3)}")
    // rows beyond the oracle's k+1 can still tie the k-th place: judge them
    // by score (the scores are checked against the oracle separately)
    got.find(h => !allowed.contains(h.key) && h.score < kth - Tol)
      .map(h => s"key ${h.key} is not among the top $k (score ${h.score} < $kth)")
  }

  /** Every score equals the oracle's, rows are best-first and ranked 1..n. */
  def scores(got: Seq[Hit], oracle: Long => Option[Double]): Option[String] = {
    got.foreach { h =>
      oracle(h.key) match {
        case None => return Some(s"key ${h.key} is not a stored row")
        case Some(s) if math.abs(s - h.score) > Tol =>
          return Some(s"key ${h.key} scored ${h.score}, oracle $s")
        case _ =>
      }
    }
    if (got.sliding(2).exists { case Seq(a, b) => a.score < b.score - Tol; case _ => false })
      return Some("rows not sorted by score")
    if (got.map(_.rank) != (1 to got.size)) Some(s"ranks ${got.map(_.rank)}")
    else None
  }

  def filterHolds(got: Seq[Hit], pred: Long => Boolean): Option[String] =
    got.find(h => !pred(h.key)).map(h => s"key ${h.key} fails the filter")

  def rankOne(got: Seq[Hit], key: Long): Option[String] =
    got.headOption match {
      case Some(h) if h.key == key => None
      case other => Some(s"rank 1 is ${other.map(_.key)}, want the row just written ($key)")
    }

  def absent(got: Seq[Hit], gone: Long => Boolean): Option[String] =
    got.find(h => gone(h.key)).map(h => s"deleted key ${h.key} returned")

  /** Share of the oracle's top-k keys present in the answer. */
  def recall(got: Seq[Hit], truth: Seq[(Long, Double)], k: Int): Double = {
    val t = truth.take(k).map(_._1).toSet
    if (t.isEmpty) 1.0 else got.count(h => t.contains(h.key)).toDouble / t.size
  }

  def atLeast(what: String, value: Double, floor: Double): Option[String] =
    if (value >= floor) None else Some(f"$what $value%.4f below floor $floor")

  def equal(what: String, got: Long, want: Long): Option[String] =
    if (got == want) None else Some(s"$what: got $got, want $want")

  /** Row count by scan, by commit-log arithmetic and by the client's tally. */
  def counts(scan: Long, stats: Long, tally: Long): Option[String] =
    if (scan == tally && stats == tally) None
    else Some(s"count() $scan, stats() $stats, tally $tally disagree")

  def sameAnswers(before: Seq[Seq[Hit]], after: Seq[Seq[Hit]]): Option[String] =
    before.zip(after).zipWithIndex.collectFirst {
      case ((a, b), i) if a.map(_.key) != b.map(_.key) ||
          a.zip(b).exists { case (x, y) => math.abs(x.score - y.score) > Tol } =>
        s"probe $i answered ${a.map(_.key)} before, ${b.map(_.key)} after"
    }.orElse(if (before.size != after.size) Some("probe count changed") else None)

  /** Near-duplicate pairs: each at or above the threshold by the oracle's
    * similarity, each reported once with a < b, and the planted pairs found
    * at or above `floor`. `reported` is the program's own similarity where
    * it returns one.
    */
  def pairs(got: Seq[(Long, Long, Option[Double])], sim: (Long, Long) => Double,
      threshold: Double, planted: Set[(Long, Long)], floor: Double): Option[String] = {
    got.foreach { case (a, b, reported) =>
      if (a >= b) return Some(s"pair ($a, $b) not ordered")
      val s = sim(a, b)
      if (s < threshold - Tol) return Some(f"pair ($a, $b) similarity $s%.4f below $threshold")
      reported.foreach(r =>
        if (math.abs(r - s) > Tol) return Some(s"pair ($a, $b) reported $r, oracle $s"))
    }
    if (got.map(p => (p._1, p._2)).distinct.size != got.size) return Some("duplicate pairs")
    val found = got.map(p => (p._1, p._2)).toSet
    val rec = if (planted.isEmpty) 1.0 else planted.count(found.contains).toDouble / planted.size
    atLeast("planted-pair recall", rec, floor)
  }
}
