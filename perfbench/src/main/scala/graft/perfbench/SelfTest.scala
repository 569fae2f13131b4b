package graft.perfbench

/** Shows that every check can fail: each checker must accept a correct
  * answer and refuse a corrupted copy of it (a swapped neighbour id, a
  * dropped row, a count off by one, a missing planted duplicate, a pair
  * below the threshold, ...). Runs without Spark.
  */
object SelfTest {
  def run(): Boolean = {
    val rng = new Rng(7, 1)
    val cents = Gen.centers(rng, 8, 16)
    val c = Gen.corpus(rng, 500, cents, 0.35, 0L, 0)
    val q = Gen.queries(rng, 1, cents, 0.35).head
    val k = 10
    val truth = Oracle.topK(c, q, k)
    val full = Oracle.ranked(c, q)
    val good = truth.take(k).zipWithIndex.map { case ((key, s), i) => Hit(key, s, i + 1) }
    val score = (key: Long) => c.vectorOf(key).map(Oracle.cosine(_, q))
    val outsider = full(k + 5)._1
    val swapped = good.updated(3, good(3).copy(key = outsider))
    val swappedScored = good.updated(3, Hit(outsider, Oracle.cosine(c.vectors(outsider.toInt), q), 4))
    val keep = (j: Int) => c.half(j)
    val filtered = Oracle.topK(c, q, k, keep).take(k).zipWithIndex.map { case ((key, s), i) => Hit(key, s, i + 1) }
    val badRow = (0 until c.n).find(j => !keep(j)).get.toLong

    val (docs, planted) = Gen.docs(rng, 200, 60, 2000, 10)
    val sh = docs.map(Oracle.shingles(_))
    val jac = (a: Long, b: Long) => Oracle.jaccard(sh(a.toInt), sh(b.toInt))
    val pairs = planted.map { case (a, b) => (a.toLong, b.toLong, Some(jac(a, b))) }
    val plantedSet = planted.map { case (a, b) => (a.toLong, b.toLong) }.toSet
    val lowPair = (0L, 1L, Some(jac(0L, 1L)))

    val cases: Seq[(String, Option[String], Option[String])] = Seq(
      ("exact top-k: swapped neighbour id",
        Check.exactTopK(good, truth, k), Check.exactTopK(swappedScored, truth, k)),
      ("exact top-k: dropped row", Check.exactTopK(good, truth, k), Check.exactTopK(good.dropRight(1), truth, k)),
      ("scores: swapped id keeps its old score", Check.scores(good, score), Check.scores(swapped, score)),
      ("scores: rows out of order", Check.scores(good, score),
        Check.scores(good.reverse.zipWithIndex.map { case (h, i) => h.copy(rank = i + 1) }, score)),
      ("filter: a row outside the filter", Check.filterHolds(filtered, key => keep(key.toInt)),
        Check.filterHolds(filtered :+ Hit(badRow, 0.0, k + 1), key => keep(key.toInt))),
      ("read-after-write: row not at rank 1", Check.rankOne(good, good.head.key), Check.rankOne(good.tail, good.head.key)),
      ("delete: deleted row returned", Check.absent(good, _ == -1L), Check.absent(good, _ == good(2).key)),
      ("recall floor", Check.atLeast("recall", Check.recall(good, truth, k), 0.9),
        Check.atLeast("recall", Check.recall(good.take(5), truth, k), 0.9)),
      ("counts: off by one", Check.counts(500, 500, 500), Check.counts(500, 501, 500)),
      ("delete count: off by one", Check.equal("deleted", 40, 40), Check.equal("deleted", 39, 40)),
      ("probe answers changed", Check.sameAnswers(Seq(good), Seq(good)), Check.sameAnswers(Seq(good), Seq(swappedScored))),
      ("dedup: missing planted duplicate", Check.pairs(pairs, jac, 0.7, plantedSet, 1.0),
        Check.pairs(pairs.tail, jac, 0.7, plantedSet, 1.0)),
      ("dedup: pair below the threshold", Check.pairs(pairs, jac, 0.7, plantedSet, 1.0),
        Check.pairs(pairs :+ lowPair, jac, 0.7, plantedSet, 1.0)),
      ("dedup: misreported similarity", Check.pairs(pairs, jac, 0.7, plantedSet, 1.0),
        Check.pairs(pairs.updated(0, pairs.head.copy(_3 = pairs.head._3.map(_ - 0.01))), jac, 0.7, plantedSet, 1.0)))

    var ok = true
    cases.foreach { case (name, onGood, onBad) =>
      val pass = onGood.isEmpty && onBad.isDefined
      ok &&= pass
      println(f"[selftest] ${if (pass) "ok  " else "FAIL"} $name%-42s good=${onGood.getOrElse("accepted")} bad=${onBad.getOrElse("ACCEPTED")}")
    }
    println(s"[selftest] ${if (ok) "all checks refuse their corrupted answers" else "a check accepted a corrupted answer"}")
    ok
  }
}
