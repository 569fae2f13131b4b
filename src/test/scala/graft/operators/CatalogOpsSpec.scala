package graft.operators

import graft.SparkSpec
import graft.functions.vector
import graft.sources.{StoreConfig, VectorStoreCatalog}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Covers the catalog ops added for SURVEY §2 completeness: batch_query with
  * serving caps, optimize/compaction, masked mean-pool, observe metrics.
  */
class CatalogOpsSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def newCatalog = new VectorStoreCatalog(spark,
    java.nio.file.Files.createTempDirectory("graft_catops").toString)

  test("batchQuery: caps enforced, self-match ranks first") {
    val cat = newCatalog
    cat.create("u", "m", StoreConfig(dimension = 8))
    val rnd = new scala.util.Random(1)
    val vecs = Seq.fill(30)(Seq.fill(8)(rnd.nextFloat()))
    cat.addVectors("u", "m", vecs.map(Tuple1(_)).toDF("vector"))

    val res = cat.batchQuery("u", "m", vecs.take(3).map(_.map(_.toDouble)), k = 2)
    val rows = res.collect()
    assert(rows.length == 6)

    intercept[IllegalArgumentException] {
      cat.batchQuery("u", "m", Seq(Seq.fill(8)(0.1)), k = 101)
    }
    intercept[IllegalArgumentException] {
      cat.batchQuery("u", "m", Seq.empty, k = 5)
    }
    intercept[IllegalArgumentException] {
      cat.batchQuery("u", "m", Seq(Seq(1.0, 2.0)), k = 5) // wrong dim
    }
  }

  test("deleteVectors counts NULL-predicate rows it removes (missing meta key)") {
    val cat = newCatalog
    cat.create("u", "nul", StoreConfig(dimension = 2))
    // 3 rows tagged, 2 rows with NO 'tag' key at all
    val rows = Seq(
      (Seq(1f, 2f), Map("tag" -> "keep")),
      (Seq(1f, 2f), Map("tag" -> "drop")),
      (Seq(1f, 2f), Map("tag" -> "drop")),
      (Seq(1f, 2f), Map.empty[String, String]),
      (Seq(1f, 2f), Map.empty[String, String])).toDF("vector", "meta")
    cat.addVectors("u", "nul", rows)
    // predicate is NULL for keyless rows; filter(!p) removes them too, so
    // the returned count must say 4 (2 matched + 2 NULL), not 2
    val deleted = cat.deleteVectors("u", "nul", col("meta")("tag") === "drop")
    assert(deleted == 4, s"expected 4 deletions (2 match + 2 null), got $deleted")
    assert(cat.count("u", "nul") == 1)
  }

  test("healthCheck: green store, dim violations, index desync all reported") {
    val cat = newCatalog
    cat.create("u", "hc", StoreConfig(dimension = 4))
    val rnd = new scala.util.Random(2)
    cat.addVectors("u", "hc",
      Seq.fill(50)(Seq.fill(4)(rnd.nextFloat())).map(Tuple1(_)).toDF("vector"))
    val ok = cat.healthCheck("u", "hc")
    assert(ok.healthy && ok.issues.isEmpty && ok.vectorCount == 50)

    // smuggle wrong-dimension rows past ingest validation (simulates
    // external writes / corruption): append a parquet file into the
    // COMMITTED epoch slice (epoch stores never read loose files in data/)
    Seq((9999L, Seq(1.0f, 2.0f), Map.empty[String, String]))
      .toDF("id", "vector", "meta")
      .write.mode("append").parquet(s"${cat.storePath("u", "hc")}/data/epoch=0")
    val bad = cat.healthCheck("u", "hc")
    assert(!bad.healthy)
    assert(bad.issues.exists(_.contains("dimension != 4")), bad.issues.mkString("; "))

    // index desync: build, then append rows while the index dir is detached
    val cat2 = newCatalog
    cat2.create("u", "hc2", StoreConfig(dimension = 4))
    cat2.addVectors("u", "hc2",
      Seq.fill(40)(Seq.fill(4)(rnd.nextFloat())).map(Tuple1(_)).toDF("vector"))
    cat2.buildIndex("u", "hc2", nLists = 2)
    assert(cat2.healthCheck("u", "hc2").healthy)
    // write to the store bypassing addVectors' index sync (into the
    // committed slice — atomic commits make desync impossible to reach
    // through the API, so simulate the external-writer case directly)
    Seq((8888L, Seq(1f, 2f, 3f, 4f), Map.empty[String, String]))
      .toDF("id", "vector", "meta")
      .write.mode("append").parquet(s"${cat2.storePath("u", "hc2")}/data/epoch=0")
    val desync = cat2.healthCheck("u", "hc2")
    assert(!desync.healthy)
    assert(desync.issues.exists(_.contains("out of sync")), desync.issues.mkString("; "))
  }

  test("batchQuery on a sparse index: underfilled probes fall back to exact") {
    val cat = newCatalog
    cat.create("u", "tiny", StoreConfig(dimension = 4))
    val rnd = new scala.util.Random(3)
    cat.addVectors("u", "tiny",
      Seq.fill(8)(Seq.fill(4)(rnd.nextFloat())).map(Tuple1(_)).toDF("vector"))
    cat.buildIndex("u", "tiny", nLists = 4)
    // nProbe=1 reads ~2 of 8 vectors but k=5: the batch path must detect the
    // underfill and rescan exactly, like the single-query path does
    val res = cat.batchQuery("u", "tiny", Seq(Seq.fill(4)(0.5)), 5, nProbe = 1)
    assert(res.count() == 5, "underfilled batch ANN must fall back to exact")
  }

  test("batch underfill healing is PER QUERY: satisfied queries keep their " +
      "probed rows, only underfilled ids are rescanned exactly") {
    val cat = newCatalog
    cat.create("u", "mix", StoreConfig(dimension = 4))
    // cluster A (5 vectors near (1,0,0,0)) and cluster B (3 near
    // (0,1,0,0)); A's loose member (1,0,1.7,0) has cosine ~0.51 to the
    // A-query while B's bridge member (1,1.2,0,0) has ~0.64 — the
    // A-query's TRUE 5th neighbor lives in the OTHER list, so nProbe=1
    // fills A's k=5 with a worse row than exact: probed != exact while
    // still satisfied. The B-query's own list holds 3 < k rows.
    val vecs = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(1.0, 0.0, 0.01, 0.0),
      Seq(1.0, 0.0, 0.02, 0.0), Seq(1.0, 0.0, 0.03, 0.0),
      Seq(1.0, 0.0, 1.7, 0.0), // loose A member: cosine 0.51 to A-query
      Seq(0.0, 1.0, 0.0, 0.0), Seq(0.0, 1.0, 0.01, 0.0),
      Seq(1.0, 1.2, 0.0, 0.0)) // bridge in B's list: cosine 0.64 to A-query
    cat.addVectors("u", "mix",
      vecs.map(v => (v, Map("t" -> "x"))).toDF("vector", "meta"))
    cat.buildIndex("u", "mix", nLists = 2)
    val qa = Seq(1.0, 0.0, 0.0, 0.0) // satisfied from its 5-row list
    val qb = Seq(0.0, 1.0, 0.0, 0.0) // underfills: its list has 3 < 5
    def ids(df: org.apache.spark.sql.DataFrame, q: Long): Set[Long] =
      df.filter($"query_id" === q).select($"id").as[Long].collect().toSet
    val bridgeId = cat.batchQuery("u", "mix", Seq(vecs(7)), 1,
      useIndex = false).select($"id").as[Long].collect().head
    val exact = cat.batchQuery("u", "mix", Seq(qa, qb), 5, useIndex = false)
    // the precondition that makes the test discriminating: the bridge is
    // in qa's exact top-5, and a one-list probe cannot see it
    assert(ids(exact, 0L).contains(bridgeId),
      "construction broken: bridge must be an exact top-5 hit for qa")

    val healed = cat.batchQuery("u", "mix", Seq(qa, qb), 5, nProbe = 1)
    assert(ids(healed, 1L) == ids(exact, 1L),
      "underfilled query must be healed to the exact top-k")
    val kept = ids(healed, 0L)
    assert(kept.size == 5 && !kept.contains(bridgeId),
      "satisfied query must keep its probed rows — a whole-batch rescan " +
        "would have pulled the bridge in")

    // the ADAPTIVE surface heals the same way: force the probed plan
    // (matches=8 > cap=1), same mixed batch, same per-query discipline —
    // and the batch's plan label stays ivf_postfilter (healing is a
    // per-query repair, not a re-plan)
    val ad = cat.batchQueryAdaptive("u", "mix", Seq(qa, qb), 5,
      metadataFilter = Map("t" -> "x"), nProbe = 1, preFilterCap = 1)
    assert(ad.path == graft.ml.IvfIndex.PathIvfPostfilter && ad.matches == 8L)
    assert(ids(ad.hits, 1L) == ids(exact, 1L),
      "adaptive: underfilled query must be healed to the exact filtered top-k")
    val keptAd = ids(ad.hits, 0L)
    assert(keptAd.size == 5 && !keptAd.contains(bridgeId),
      "adaptive: satisfied query must keep its probed rows")
  }

  test("mining frame surface: underfill heals to rows that satisfy the " +
      "query's OWN rider constraint; satisfied queries keep probed work") {
    val cat = newCatalog
    cat.create("u", "mine", StoreConfig(dimension = 4))
    // two clusters with label riders. q0 (near A, label a, wants label<>a)
    // finds only ONE disagreeing row in its probed list — the heal's exact
    // rescan must pull label-b rows from the OTHER cluster, never the
    // nearer label-a rows (a rescan that dropped the pair predicate would
    // return those). q1 (near B, label b, wants label<>b) is satisfied
    // from its own list, but its TRUE 3rd disagreeing neighbor is the
    // bridge in list A — probed != exact while satisfied, so an
    // accidental whole-batch rescan would be caught.
    val rows = Seq(
      (Seq(1.0, 0.0, 0.0, 0.0), "a"), (Seq(1.0, 0.0, 0.01, 0.0), "a"),
      (Seq(1.0, 0.0, 0.02, 0.0), "a"), (Seq(1.0, 0.0, 0.03, 0.0), "a"),
      (Seq(1.0, 0.0, 0.04, 0.0), "a"),
      (Seq(1.0, 0.0, 0.05, 0.0), "b"), // x1: A-list's only disagreeing row
      (Seq(1.2, 1.0, 0.0, 0.0), "a"), // bridge: lands in A, cos 0.64 to q1
      (Seq(0.0, 1.0, 0.0, 0.0), "b"), (Seq(0.0, 1.0, 0.01, 0.0), "b"),
      (Seq(0.0, 1.0, 0.02, 0.0), "b"), (Seq(0.0, 1.0, 0.03, 0.0), "b"),
      (Seq(0.0, 1.0, 0.1, 0.0), "a"), (Seq(0.0, 1.0, 0.2, 0.0), "a"),
      (Seq(0.0, 1.0, 1.7, 0.0), "a")) // loose B member: cos 0.51 to q1
    cat.addVectors("u", "mine",
      rows.map { case (v, l) => (v, Map("label" -> l)) }.toDF("vector", "meta"))
    cat.buildIndex("u", "mine", nLists = 2)
    val queries = Seq(
      (0L, Seq(1.0, 0.0, 0.0, 0.0), "a"),
      (1L, Seq(0.0, 1.0, 0.0, 0.0), "b"))
      .toDF("query_id", "query_vec", "q_label")
    val pair = element_at(col("meta"), "label") =!= col("q_label")
    def ids(df: org.apache.spark.sql.DataFrame, q: Long): Set[Long] =
      df.filter($"query_id" === q).select($"id").as[Long].collect().toSet
    val labelOf = cat.load("u", "mine")
      .select($"id", element_at($"meta", "label").as("l"))
      .as[(Long, String)].collect().toMap
    val exact = cat.batchQueryFrame("u", "mine", queries, 3,
      useIndex = false, pairPredicate = Some(pair))
    val bridgeLike = ids(exact, 1L).filter(id => labelOf(id) == "a")
    assert(ids(exact, 0L).forall(id => labelOf(id) == "b") &&
      ids(exact, 1L).forall(id => labelOf(id) == "a"),
      "construction broken: exact mining must honor each rider")

    val healed = cat.batchQueryFrame("u", "mine", queries, 3,
      nProbe = 1, pairPredicate = Some(pair))
    // q0 underfilled (1 disagreeing row in its list) -> healed EXACTLY,
    // and every healed row satisfies q0's own constraint
    assert(ids(healed, 0L) == ids(exact, 0L),
      "underfilled mining query must heal to the exact constrained top-k")
    assert(ids(healed, 0L).forall(id => labelOf(id) == "b"),
      "healed rows must satisfy the underfilled query's OWN rider constraint")
    // q1 satisfied from its probed list: keeps probed work (the bridge —
    // in its exact top-k — stays invisible at nProbe=1)
    val kept = ids(healed, 1L)
    assert(kept.size == 3 && bridgeLike.exists(b => !kept.contains(b)),
      "satisfied mining query must keep its probed rows")

    // the ADAPTIVE frame surface with an EMPTY shared filter: the
    // commit-log row count plans (exact hint, no count job), cap=1
    // forces the probed path, and the same per-query heal runs
    val ad = cat.batchQueryAdaptiveFrame("u", "mine", queries, 3,
      nProbe = 1, preFilterCap = 1, pairPredicate = Some(pair))
    assert(ad.path == graft.ml.IvfIndex.PathIvfPostfilter &&
      ad.matches == rows.size.toLong,
      "empty shared filter must plan from the commit-log row count")
    assert(ids(ad.hits, 0L) == ids(exact, 0L) &&
      ids(ad.hits, 0L).forall(id => labelOf(id) == "b"))
    // and the selective side: cap >= store rows -> exact batch, pair
    // predicate still honored
    val sel = cat.batchQueryAdaptiveFrame("u", "mine", queries, 3,
      pairPredicate = Some(pair))
    assert(sel.path == graft.ml.IvfIndex.PathPrefilterExact)
    assert(ids(sel.hits, 0L) == ids(exact, 0L) &&
      ids(sel.hits, 1L) == ids(exact, 1L))

    // typed frame twin: shared typed filter composes with the pair
    // predicate through the same impl
    val typed = cat.batchQueryAdaptiveTypedFrame("u", "mine", queries, 3,
      typedFilter = Map("label" -> "a"), pairPredicate = Some(pair))
    assert(typed.path == graft.ml.IvfIndex.PathPrefilterExact)
    assert(typed.hits.filter($"query_id" === 1L).count() == 3 &&
      typed.hits.filter($"query_id" === 0L).count() == 0,
      "shared typed filter label=a ∧ pair label<>rider: q0 (rider a) has " +
        "no candidates, q1 (rider b) keeps its three label-a rows")
  }

  test("index drift: skewed appends trip the maintenance advisory; " +
      "optimize(autoRebuildIndex) repairs and clears it") {
    val cat = newCatalog
    cat.create("u", "drift", StoreConfig(dimension = 4))
    // balanced start: four clear clusters, 8 rows each
    val start = (0 until 4).flatMap(c => (0 until 8).map { i =>
      Seq.tabulate(4)(j => if (j == c) 1.0 else 0.001 * i)
    })
    cat.addVectors("u", "drift", start.map(Tuple1(_)).toDF("vector"))
    cat.buildIndex("u", "drift", nLists = 4)
    val fresh = cat.indexMaintenance("u", "drift").get
    assert(!fresh.needsRebuild,
      s"a fresh build on balanced clusters must be healthy: $fresh")
    // drift: 48 more rows ALL near cluster 0 — the frozen centroids
    // funnel every one into the same list
    val drift = (0 until 48).map(i => Seq(1.0, 0.002 * i, 0.0, 0.0))
    cat.addVectors("u", "drift", drift.map(Tuple1(_)).toDF("vector"))
    // the imbalance signal alone (appendedFraction can never exceed 1):
    // hottest list 56 vs mean 80/4 = 20 -> 2.8
    val skewed = cat.indexMaintenance("u", "drift",
      maxImbalance = 2.0, maxAppendedFraction = 1.0).get
    assert(skewed.needsRebuild && skewed.imbalance > 2.0,
      s"skewed appends must trip the imbalance advisory: $skewed")
    // ... and the DEFAULT thresholds trip via appendedFraction (48/80)
    assert(cat.indexMaintenance("u", "drift").get.needsRebuild)
    // the maintenance entry point repairs in-line: fresh k-means over the
    // post-compaction rows, RESCALED to the suggested geometry (the
    // sqrt-N rule floored at the current count: ceil(sqrt(80)) = 9)
    assert(skewed.suggestedNLists == 9, s"sqrt-N suggestion: $skewed")
    cat.optimize("u", "drift", autoRebuildIndex = true)
    val rebuilt = cat.indexMaintenance("u", "drift").get
    assert(!rebuilt.needsRebuild,
      s"a rebuild must clear the advisory: $rebuilt")
    assert(rebuilt.nLists == 9,
      s"the repair must rebuild at the suggested geometry: $rebuilt")
    assert(rebuilt.nVectors == 80 && cat.healthCheck("u", "drift").healthy)
  }

  test("buildIndex over an existing index retires the stale epoch slices: " +
      "rebuild after appends serves every row exactly once") {
    val cat = newCatalog
    cat.create("u", "rb", StoreConfig(dimension = 4))
    val rnd = new scala.util.Random(11)
    cat.addVectors("u", "rb",
      Seq.fill(8)(Seq.fill(4)(rnd.nextDouble())).map(Tuple1(_)).toDF("vector"))
    cat.buildIndex("u", "rb", nLists = 2) // index slice under epoch 0
    cat.addVectors("u", "rb",
      Seq.fill(8)(Seq.fill(4)(rnd.nextDouble())).map(Tuple1(_)).toDF("vector"))
    // rebuild WITHOUT compaction: the fresh full build lands under the
    // newest epoch; without the retire-first discipline the old epoch-0
    // index slice would keep double-serving its 8 rows
    cat.buildIndex("u", "rb", nLists = 2)
    val hc = cat.healthCheck("u", "rb")
    assert(hc.healthy, s"rebuild must not double-index: ${hc.issues}")
    val res = cat.query("u", "rb", Seq.fill(4)(0.5), k = 16)
    val got = res.select($"id").as[Long].collect()
    assert(got.length == 16 && got.distinct.length == 16,
      "a full-k query after rebuild must return each row exactly once")
  }

  test("a cached IVF index never outlives its centroids: after another " +
      "catalog instance rebuilds the index, the next query probes the new one") {
    val root = java.nio.file.Files.createTempDirectory("graft_catops").toString
    val a = new VectorStoreCatalog(spark, root)
    val b = new VectorStoreCatalog(spark, root)
    a.create("u", "rb", StoreConfig(dimension = 2, indexType = "ivf"))
    def unit(deg: Double) =
      Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    // 36 unit vectors 10 degrees apart, none on an axis
    a.addVectors("u", "rb",
      (0 until 36).map(i => Tuple1(unit(5.0 + 10 * i).map(_.toFloat))).toDF("vector"))
    a.buildIndexWithCentroids("u", "rb", Array(Array(1.0, 0.0), Array(-1.0, 0.0)))
    def ids(c: VectorStoreCatalog) =
      c.query("u", "rb", unit(45.0), 10, nProbe = 1).select($"id")
        .collect().map(_.getLong(0)).toSet
    val before = ids(a) // caches A's index
    // B rebuilds around the y axis; its list 0 is the lower half-plane,
    // which stale x-axis centroids would probe for this query
    b.buildIndexWithCentroids("u", "rb", Array(Array(0.0, -1.0), Array(0.0, 1.0)))
    val viaB = ids(b)
    assert(viaB != before, "test setup: the rebuild must change the answer")
    assert(ids(a) == viaB, "A must probe B's centroids, not its cached ones")
  }

  test("heal semi-join form: past the isin threshold the underfilled set " +
      "restricts via broadcast semi/anti join — behavior identical") {
    val cat = newCatalog
    cat.create("u", "semi", StoreConfig(dimension = 4))
    // list A: 3 rows (satisfied at k=2); list B: 1 row (underfills k=2)
    val rows = Seq(
      Seq(1.0, 0.0, 0.0, 0.0), Seq(1.0, 0.0, 0.01, 0.0),
      Seq(1.0, 0.0, 0.02, 0.0), Seq(0.0, 1.0, 0.0, 0.0))
    cat.addVectors("u", "semi", rows.map(Tuple1(_)).toDF("vector"))
    cat.buildIndex("u", "semi", nLists = 2)
    val n = VectorStoreCatalog.HealSemiJoinThreshold + 6
    // n underfilled queries (near B) + 4 satisfied ones (near A)
    val qs = (0 until n).map(i =>
      (i.toLong, Seq(0.0, 1.0, 0.001 * i, 0.0))) ++
      (n until n + 4).map(i => (i.toLong, Seq(1.0, 0.0, 0.001 * i, 0.0)))
    val queries = qs.toDF("query_id", "query_vec")
    val healed = cat.batchQueryFrame("u", "semi", queries, 2, nProbe = 1)
    val exact = cat.batchQueryFrame("u", "semi", queries, 2, useIndex = false)
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select($"query_id", $"id").as[(Long, Long)].collect().toSet
    assert(pairs(healed) == pairs(exact),
      "semi-join heal must produce exactly the exact batch's (query, id) set")
  }

  test("batch frame guards: duplicate query_id, rider/store collisions") {
    val cat = newCatalog
    cat.create("u", "g", StoreConfig(dimension = 4))
    cat.addVectors("u", "g",
      (0 until 6).map(i => Seq(1.0, 0.001 * i, 0.0, 0.0))
        .map(Tuple1(_)).toDF("vector"))
    val dup = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0)), (0L, Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("query_id", "query_vec")
    intercept[IllegalArgumentException] {
      cat.batchQueryFrame("u", "g", dup, 2)
    }
    // rider named like a store column is loud on the indexed path
    cat.buildIndex("u", "g", nLists = 2)
    val clash = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0), "x"))
      .toDF("query_id", "query_vec", "meta")
    intercept[IllegalArgumentException] {
      graft.ml.IvfIndex.load(spark,
          s"${cat.storePath("u", "g")}/_ivf")
        .searchBatch(clash, 2, pairPredicate = Some(lit(true)))
    }
    // ... and on the exact batch kernel
    intercept[IllegalArgumentException] {
      Knn.batchTopK(clash, cat.load("u", "g"), 2,
        pairPredicate = Some(lit(true)))
    }
    // the id/vec column names themselves must not shadow the store side
    val shadow = Seq((0L, Seq(1.0, 0.0, 0.0, 0.0))).toDF("id", "query_vec")
    intercept[IllegalArgumentException] {
      graft.ml.IvfIndex.load(spark, s"${cat.storePath("u", "g")}/_ivf")
        .searchBatch(shadow, 2, queryIdCol = "id")
    }
    // the CATALOG surfaces reject the collision LOUDLY before their
    // exact-scan fallback try — a clash must never silently degrade
    // every call to the brute-force path
    intercept[IllegalArgumentException] {
      cat.batchQueryFrame("u", "g", clash, 2)
    }
    intercept[IllegalArgumentException] {
      cat.batchQueryAdaptiveFrame("u", "g", clash, 2,
        pairPredicate = Some(lit(true)))
    }
    // NULL query ids are the guard's message, not a raw NPE
    val nullId = Seq((Some(0L), Seq(1.0, 0.0, 0.0, 0.0)),
      (None: Option[Long], Seq(0.0, 1.0, 0.0, 0.0)))
      .toDF("query_id", "query_vec")
    val e = intercept[IllegalArgumentException] {
      cat.batchQueryFrame("u", "g", nullId, 2)
    }
    assert(e.getMessage.contains("NULL query_id"))
  }

  // Spark jobs of one vacuum / optimize call on the small IVF store below,
  // as measured on the per-family lifecycle code this protocol replaced
  private val VacuumJobBound = 8
  private val OptimizeJobBound = 7
  // Spark jobs of one append / delete on the small ARMED flat store below,
  // as measured when the statistics were a separately published table
  // (a freshness aggregation plus a merge-and-publish job per commit);
  // with the statistics as an epoch layout each runs 4
  private val ArmedAppendJobBound = 6
  private val ArmedDeleteJobBound = 5

  test("ingest and delete are single-pass (job counts via SparkListener)") {
    val cat = newCatalog
    cat.create("u", "jc", StoreConfig(dimension = 4))
    val rows = Seq.fill(100)(Seq.fill(4)(0.5f)).map(Tuple1(_)).toDF("vector")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      // the listener bus is async: settle until the count stops moving
      def settle(): Int = {
        var prev = -1
        var cur = jobs.get()
        while (cur != prev) { Thread.sleep(200); prev = cur; cur = jobs.get() }
        cur
      }
      def jobsDuring(f: => Unit): Int = { settle(); jobs.set(0); f; settle() }
      // un-indexed ingest: ONE pass over user lineage (the observed write;
      // the count comes from the write's CollectMetrics, not a second
      // lineage run). The epoch log's one-row commit is driver-side
      // FileSystem I/O (r19: KB metadata is not a Spark job), so exactly
      // 1 job — a lineage re-run (a 2nd job) still fails loud
      val addJobs = jobsDuring { assert(cat.addVectors("u", "jc", rows) == 100L) }
      assert(addJobs == 1,
        s"ingest = the observed data write alone, ran $addJobs jobs")
      // delete: ONE pass over the DATA (the observed rewrite) — the other
      // jobs are constant KB-sized log/schema reads (epoch resolution,
      // next-epoch, superseded-set snapshot, commit row), independent of
      // store size; the bound holds them to that constant
      val delJobs = jobsDuring {
        assert(cat.deleteVectors("u", "jc", col("id") % 2 === 0) > 0)
      }
      assert(delJobs <= 12, s"delete = one data pass + constant log reads, ran $delJobs jobs")
      // maintenance on an IVF store: vacuum folds both layouts and optimize
      // rewrites both, each with its drift advisory. The bounds are the
      // counts measured before the layouts shared one lifecycle, so the
      // shared protocol cannot add a job unnoticed
      cat.create("u", "jm", StoreConfig(dimension = 4, indexType = "ivf"))
      val rnd = new scala.util.Random(7)
      def batch = Seq.fill(40)(Tuple1(Seq.fill(4)(rnd.nextFloat()))).toDF("vector")
      (0 until 3).foreach(_ => cat.addVectors("u", "jm", batch))
      cat.buildIndex("u", "jm", nLists = 2)
      (0 until 2).foreach(_ => cat.addVectors("u", "jm", batch))
      val vacJobs = jobsDuring {
        assert(cat.vacuum("u", "jm", keepLast = 1)._1 == 4)
      }
      assert(vacJobs <= VacuumJobBound,
        s"vacuum on an IVF store ran $vacJobs jobs (bound $VacuumJobBound)")
      val optJobs = jobsDuring { cat.optimize("u", "jm") }
      assert(optJobs <= OptimizeJobBound,
        s"optimize on an IVF store ran $optJobs jobs (bound $OptimizeJobBound)")
      // an ARMED flat store: each commit lands its statistics slice too
      cat.create("u", "ja", StoreConfig(dimension = 4))
      val tagged = (0 until 100).map(i =>
        (Seq.fill(4)(0.5f), Map("t" -> (i % 3).toString))).toDF("vector", "meta")
      cat.addVectors("u", "ja", tagged)
      cat.refreshMetaStats("u", "ja")
      val armedAdd = jobsDuring { assert(cat.addVectors("u", "ja", tagged) == 100L) }
      assert(armedAdd <= ArmedAppendJobBound,
        s"append on an armed store ran $armedAdd jobs (bound $ArmedAppendJobBound)")
      val armedDel = jobsDuring {
        assert(cat.deleteVectors("u", "ja", col("id") % 2 === 0) > 0)
      }
      assert(armedDel <= ArmedDeleteJobBound,
        s"delete on an armed store ran $armedDel jobs (bound $ArmedDeleteJobBound)")
      val live = cat.load("u", "ja")
        .filter(element_at(col("meta"), "t") === "0").count()
      assert(cat.metaStatsCount("u", "ja", "t", "0").contains(live))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("fresh stats lookups are memoized: a repeat costs no Spark job, a " +
      "commit or republish re-reads") {
    val cat = newCatalog
    cat.create("u", "sm", StoreConfig(dimension = 4))
    val rows = (0 until 40).map(i =>
      (Seq.fill(4)(0.5f), Map("par" -> (i % 2).toString))).toDF("vector", "meta")
    cat.addVectors("u", "sm", rows)
    cat.refreshMetaStats("u", "sm")

    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(js: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def settle(): Int = {
        var prev = -1
        var cur = jobs.get()
        while (cur != prev) { Thread.sleep(200); prev = cur; cur = jobs.get() }
        cur
      }
      def jobsDuring(f: => Unit): Int = { settle(); jobs.set(0); f; settle() }
      // first fresh lookup runs the one stats aggregation job
      val first = jobsDuring {
        assert(cat.metaStatsCount("u", "sm", "par", "1").contains(20L))
      }
      assert(first >= 1, s"first fresh lookup must read the stats ($first)")
      // the repeat is a memo hit: zero jobs, same answer
      val repeat = jobsDuring {
        assert(cat.metaStatsCount("u", "sm", "par", "1").contains(20L))
      }
      assert(repeat == 0, s"repeated fresh lookup must be memoized ($repeat)")
      // a commit advances the epoch: the memo key changes and the lookup
      // re-reads (maintain merged the batch, so the count moved with it)
      cat.addVectors("u", "sm", (0 until 4).map(_ =>
        (Seq.fill(4)(0.5f), Map("par" -> "1"))).toDF("vector", "meta"))
      val afterCommit = jobsDuring {
        assert(cat.metaStatsCount("u", "sm", "par", "1").contains(24L))
      }
      assert(afterCommit >= 1,
        s"a commit must invalidate the memo (ran $afterCommit jobs)")
      // a refresh of an armed store writes nothing: still a hit
      assert(cat.refreshMetaStats("u", "sm") == 0L)
      val afterRefresh = jobsDuring {
        assert(cat.metaStatsCount("u", "sm", "par", "1").contains(24L))
      }
      assert(afterRefresh == 0,
        s"a refresh that wrote nothing must stay a hit ($afterRefresh jobs)")
      // a same-epoch slice rewrite (values identical) changes the listing
      // of meta_stats/: miss again
      val slice = s"${cat.storePath("u", "sm")}/meta_stats/epoch=" +
        cat.epochs("u", "sm").last
      spark.read.parquet(slice).localCheckpoint(true)
        .write.mode("overwrite").parquet(slice)
      val afterRewrite = jobsDuring {
        assert(cat.metaStatsCount("u", "sm", "par", "1").contains(24L))
      }
      assert(afterRewrite >= 1,
        s"a slice rewrite must invalidate the memo (ran $afterRewrite jobs)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  test("optimize compacts many small files into few") {
    val cat = newCatalog
    cat.create("u", "m", StoreConfig(dimension = 4))
    // 5 separate appends -> many small files
    (0 until 5).foreach { i =>
      cat.addVectors("u", "m",
        Seq.fill(10)(Seq.fill(4)(i.toFloat)).map(Tuple1(_)).toDF("vector"))
    }
    val before = cat.count("u", "m")
    val (nBefore, nAfter) = cat.optimize("u", "m")
    assert(nBefore > nAfter, s"expected compaction: $nBefore -> $nAfter")
    assert(cat.count("u", "m") == before, "row count must survive compaction")
  }

  test("loadAt pins a snapshot: later appends invisible, compaction expires pins") {
    val cat = newCatalog
    cat.create("u", "tt", StoreConfig(dimension = 2))
    def batch(v: Float, n: Int) =
      Seq.fill(n)(Seq(v, v)).map(Tuple1(_)).toDF("vector")
    cat.addVectors("u", "tt", batch(1f, 10)) // epoch 0
    cat.addVectors("u", "tt", batch(2f, 5))  // epoch 1
    val eps = cat.epochs("u", "tt")
    assert(eps == Seq(0L, 1L))

    val pinned = cat.loadAt("u", "tt", 0L)
    cat.addVectors("u", "tt", batch(3f, 7))  // epoch 2, lands mid-"run"
    // the PIN is stable: re-resolving epoch 0 still reads 10 rows while
    // the live view has moved on
    assert(cat.loadAt("u", "tt", 0L).count() == 10L)
    assert(pinned.count() == 10L)
    assert(cat.loadAt("u", "tt", 1L).count() == 15L)
    assert(cat.load("u", "tt").count() == 22L)
    assert(cat.epochs("u", "tt") == Seq(0L, 1L, 2L))

    // snapshot contents, not just counts: epoch-1 pin has no 3f rows
    assert(cat.loadAt("u", "tt", 1L)
      .filter(element_at(col("vector"), 1) === 3f).count() == 0L)

    // unknown epoch fails loudly
    val missing = intercept[IllegalArgumentException] {
      cat.loadAt("u", "tt", 99L)
    }
    assert(missing.getMessage.contains("not in the committed history"))

    // compaction replaces history: old pins expire LOUDLY, the new
    // replace epoch carries the full row set
    cat.optimize("u", "tt")
    val expired = intercept[IllegalArgumentException] {
      cat.loadAt("u", "tt", 0L)
    }
    assert(expired.getMessage.contains("compaction pruned"))
    val live = cat.epochs("u", "tt")
    assert(live.size == 1)
    assert(cat.loadAt("u", "tt", live.head).count() == 22L)
  }

  test("query(asOf) pins the SERVING path: ANN and exact answer from the " +
      "snapshot; expired pins raise instead of degrading to live") {
    val cat = newCatalog
    cat.create("u", "qat", StoreConfig(dimension = 2, metric = "cosine"))
    def batch(v: Float, n: Int) =
      Seq.tabulate(n)(i => Seq(v, v + 0.01f * i)).map(Tuple1(_)).toDF("vector")
    cat.addVectors("u", "qat", batch(1f, 10)) // epoch 0
    cat.buildIndex("u", "qat", nLists = 2)    // index over epoch 0
    cat.addVectors("u", "qat", batch(-1f, 5)) // epoch 1: OPPOSITE direction
    val qv = Seq(-1.0, -1.0) // nearest live neighbors are the epoch-1 rows
    def ids(useIndex: Boolean, asOf: Option[Long]) =
      cat.query("u", "qat", qv, k = 3, useIndex = useIndex, nProbe = 2,
          asOf = asOf)
        .select(element_at(col("vector"), 1)).collect()
        .map(_.getFloat(0)).toSet
    assert(ids(useIndex = true, None) == Set(-1f),
      "live query serves the epoch-1 neighbors")
    // the pin answers from the snapshot: epoch-1 rows invisible, so the
    // best available neighbors are the (antipodal) epoch-0 rows — both
    // through the ANN path and the exact scan
    assert(ids(useIndex = true, Some(0L)) == Set(1f))
    assert(ids(useIndex = false, Some(0L)) == Set(1f))
    // the batch form takes the same pin (epoch-0 rows hold ids 0..9)
    val batchPinned = cat.batchQuery("u", "qat", Seq(qv, qv), k = 3,
        nProbe = 2, asOf = Some(0L))
      .select(col("id")).as[Long].collect().toSet
    assert(batchPinned.nonEmpty && batchPinned.forall(_ < 10L),
      s"pinned batchQuery must answer from the snapshot, got $batchPinned")
    // expired/unknown pins raise BEFORE any path runs — never a silent
    // live answer to a snapshot question
    assert(intercept[IllegalArgumentException] {
      ids(useIndex = true, Some(99L))
    }.getMessage.contains("not in the committed history"))
    assert(intercept[IllegalArgumentException] {
      cat.batchQuery("u", "qat", Seq(qv), k = 3, asOf = Some(99L)).collect()
    }.getMessage.contains("not in the committed history"))
    cat.optimize("u", "qat")
    assert(intercept[IllegalArgumentException] {
      ids(useIndex = true, Some(0L))
    }.getMessage.contains("compaction pruned"))
    // typed-filter twin takes the same pin
    assert(cat.queryTyped("u", "qat", qv, k = 3, typedFilter = Map.empty,
      asOf = Some(cat.epochs("u", "qat").head)).count() == 3L)
  }

  test("a pin OLDER than the index build serves from the store snapshot, " +
      "never a silently empty index scan") {
    // the index-coverage hole: epochs 0 and 1 commit BEFORE buildIndex,
    // so the index layout has no slice at epoch 0 — a pinned index scan
    // there is uncoverable, which must be LOUD at the index and healed
    // by the catalog's exact fallback over loadAt
    val cat = newCatalog
    cat.create("u", "pre", StoreConfig(dimension = 2, metric = "cosine"))
    def batch(v: Float, n: Int) =
      Seq.tabulate(n)(i => Seq(v, v + 0.01f * i)).map(Tuple1(_)).toDF("vector")
    cat.addVectors("u", "pre", batch(1f, 10))  // epoch 0
    cat.addVectors("u", "pre", batch(-1f, 5))  // epoch 1
    cat.buildIndex("u", "pre", nLists = 2)     // index covers epoch 1 onward
    val qv = Seq(-1.0, -1.0)
    // catalog serving: pinned at 0, the correct answer is the epoch-0
    // rows — served through the exact fallback, never empty
    val pinned = cat.query("u", "pre", qv, k = 3, nProbe = 2, asOf = Some(0L))
      .select(element_at(col("vector"), 1)).collect()
      .map(_.getFloat(0)).toSet
    assert(pinned == Set(1f),
      s"pre-build pin must serve the snapshot rows, got $pinned")
    // the index layer itself is loud about the uncovered pin
    val idx = graft.ml.IvfIndex.load(spark,
      s"${cat.storePath("u", "pre")}/_ivf", "cosine",
      Some(graft.operators.EpochLog(spark,
        s"${cat.storePath("u", "pre")}/_epochs")))
    val e = intercept[IllegalStateException] {
      idx.search(qv, 3, nProbe = 2, asOf = Some(0L)).collect()
    }
    assert(e.getMessage.contains("does not cover epoch 0"), e.getMessage)
    // a pin AT the build epoch is covered and serves through the index
    assert(cat.query("u", "pre", qv, k = 3, nProbe = 2, asOf = Some(1L))
      .count() == 3L)
  }

  test("vacuum folds old epochs, keeps the newest pins, reclaims bytes; " +
      "expired pins raise; kept pins byte-identical") {
    val cat = newCatalog
    cat.create("u", "vac", StoreConfig(dimension = 2))
    def batch(v: Float, n: Int) =
      Seq.fill(n)(Seq(v, v)).map(Tuple1(_)).toDF("vector")
    (0 until 6).foreach(i => cat.addVectors("u", "vac", batch(i.toFloat, 10)))
    assert(cat.epochs("u", "vac") == Seq(0L, 1L, 2L, 3L, 4L, 5L))
    val pin4Rows = cat.loadAt("u", "vac", 4L)
      .select(element_at(col("vector"), 1)).as[Float].collect().sorted.toSeq

    val (expired, reclaimed) = cat.vacuum("u", "vac", keepLast = 2)
    assert(expired == 4, s"epochs 0..3 fold, got $expired")
    assert(reclaimed > 0L,
      "folding 4 tiny epoch dirs into one slice must reclaim bytes")
    // the kept pins + the fold slice (epoch 6 = the vacuum-time snapshot)
    assert(cat.epochs("u", "vac") == Seq(4L, 5L, 6L))
    // epoch directories really reclaimed: only 3 remain on disk
    val dataDir = new java.io.File(s"${cat.root}/u/vac/data")
    assert(dataDir.listFiles().count(_.getName.startsWith("epoch=")) == 3)

    // kept pin reads byte-identical rows through the fold slice
    assert(cat.loadAt("u", "vac", 4L)
      .select(element_at(col("vector"), 1)).as[Float].collect().sorted.toSeq
      == pin4Rows)
    assert(cat.loadAt("u", "vac", 5L).count() == 60L)
    assert(cat.load("u", "vac").count() == 60L)

    // expired pin raises loudly
    val gone = intercept[IllegalArgumentException] {
      cat.loadAt("u", "vac", 1L)
    }
    assert(gone.getMessage.contains("not in the committed history"))

    // vacuum is idempotent at the same horizon... and composes: append two
    // more epochs, vacuum again — the previous fold re-folds
    assert(cat.vacuum("u", "vac", keepLast = 3) == ((0, 0L)))
    cat.addVectors("u", "vac", batch(6f, 10)) // epoch 7
    cat.addVectors("u", "vac", batch(7f, 10)) // epoch 8
    val (expired2, _) = cat.vacuum("u", "vac", keepLast = 2)
    assert(expired2 == 3, "pins 4, 5 + old fold 6 re-fold")
    assert(cat.epochs("u", "vac") == Seq(7L, 8L, 9L))
    assert(cat.load("u", "vac").count() == 80L)
    assert(cat.loadAt("u", "vac", 7L).count() == 70L)
    // a later full compaction still supersedes everything
    cat.optimize("u", "vac")
    assert(cat.epochs("u", "vac").size == 1)
    assert(cat.load("u", "vac").count() == 80L)
  }

  test("vacuum folds the IVF index slices alongside the store (one commit)") {
    val cat = newCatalog
    cat.create("u", "vidx", StoreConfig(dimension = 4, metric = "cosine"))
    def batch(seed: Int, n: Int) = Seq.tabulate(n)(i =>
      Tuple1(Seq.tabulate(4)(j => (seed * 17 + i * 5 + j).toFloat / 97f)))
      .toDF("vector")
    cat.addVectors("u", "vidx", batch(1, 30))
    cat.buildIndex("u", "vidx", nLists = 4)
    (2 to 4).foreach(s => cat.addVectors("u", "vidx", batch(s, 10)))
    val probe = cat.load("u", "vidx")
      .select(col("vector")).head().getSeq[Float](0).map(_.toDouble)
    val before = cat.query("u", "vidx", probe, k = 5)
      .select(col("id")).as[Long].collect().toSet
    val (expired, _) = cat.vacuum("u", "vidx", keepLast = 1)
    assert(expired == 3)
    // ANN path still serves the same rows from the folded index slices
    val after = cat.query("u", "vidx", probe, k = 5)
      .select(col("id")).as[Long].collect().toSet
    assert(after == before, s"index fold changed ANN results: $before -> $after")
    assert(cat.count("u", "vidx") == 60L)
  }

  test("maskedMeanPool matches hand computation and respects mask") {
    val df = Seq((
      Seq(Seq(1f, 2f), Seq(3f, 4f), Seq(100f, 100f)),
      Seq(1, 1, 0))).toDF("embs", "mask")
    val out = df.select(vector.maskedMeanPool($"embs", $"mask").as("p"))
      .head().getSeq[Double](0)
    assert(out == Seq(2.0, 3.0), s"got $out") // mean of first two rows only
  }

  test("observe metrics captured by registry during a real action") {
    val reg = Metrics.install(spark)
    try {
      val df = Metrics.observed(
        spark.range(100).toDF("id"), "probe_metrics",
        "n" -> count(lit(1)), "sum_id" -> sum($"id"))
      df.write.mode("overwrite").format("noop").save()
      // listener fires asynchronously; poll briefly
      val deadline = System.currentTimeMillis() + 10000
      var got: Option[Map[String, Any]] = None
      while (got.isEmpty && System.currentTimeMillis() < deadline) {
        got = reg.get("probe_metrics")
        if (got.isEmpty) Thread.sleep(100)
      }
      assert(got.isDefined, "metrics not captured")
      assert(got.get("n") == 100L && got.get("sum_id") == 4950L)
    } finally spark.listenerManager.unregister(reg)
  }

  test("index lifecycle: build -> ANN query -> incremental sync on add -> fallback") {
    val cat = newCatalog
    cat.create("u", "ivf", StoreConfig(dimension = 8))
    val rnd = new scala.util.Random(9)
    def batch(n: Int) =
      Seq.fill(n)(Seq.fill(8)(rnd.nextFloat())).map(Tuple1(_)).toDF("vector")
    cat.addVectors("u", "ivf", batch(200))
    cat.buildIndex("u", "ivf", nLists = 4)
    assert(cat.config("u", "ivf").indexType == "ivf")

    // ANN at full probe == exact scan
    val q = cat.load("u", "ivf").limit(1).head().getSeq[Float](1).map(_.toDouble)
    val ann = cat.query("u", "ivf", q, 5, nProbe = 4).select($"id")
      .collect().map(_.getLong(0)).toSeq
    val exact = cat.query("u", "ivf", q, 5, useIndex = false).select($"id")
      .collect().map(_.getLong(0)).toSeq
    assert(ann == exact)

    // batch query routes through the index: full probe == exact batch path
    val batchAnn = cat.batchQuery("u", "ivf", Seq(q, q), 5, nProbe = 4)
      .select($"query_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val batchExact = cat.batchQuery("u", "ivf", Seq(q, q), 5, useIndex = false)
      .select($"query_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(batchAnn == batchExact, "full-probe batch ANN must equal exact batch")

    // add after build: index stays in sync incrementally (no rebuild)
    cat.addVectors("u", "ivf", batch(50))
    val storeRoot = cat.storePath("u", "ivf")
    val indexed = spark.read.parquet(s"$storeRoot/_ivf/data").count()
    assert(indexed == 250, s"index holds $indexed of 250 rows")
    assert(cat.count("u", "ivf") == 250)

    // corrupt index -> query falls back to exact instead of erroring
    // (compare against an exact scan over the SAME post-add store state).
    // The query goes through a FRESH catalog instance: the serving-path
    // index cache is per-instance (single-writer discipline), so the
    // restart scenario is where on-disk corruption actually gets read.
    val exactAfterAdd = cat.query("u", "ivf", q, 5, useIndex = false).select($"id")
      .collect().map(_.getLong(0)).toSeq
    val cfile = new java.io.File(s"$storeRoot/_ivf/centroids")
    val corrupted = cfile.listFiles()
      .filter(f => f.isFile && !f.getName.startsWith("_") && !f.getName.startsWith("."))
    assert(corrupted.nonEmpty, "construction: centroid files must exist to corrupt")
    corrupted.foreach(f => java.nio.file.Files.write(f.toPath, Array[Byte](1, 2, 3)))
    val reopened = new graft.sources.VectorStoreCatalog(spark,
      new java.io.File(storeRoot).getParentFile.getParent)
    val fallback = reopened.query("u", "ivf", q, 5).select($"id")
      .collect().map(_.getLong(0)).toSeq
    assert(fallback == exactAfterAdd, "corrupt index must fall back to exact scan")
  }

  test("meta stats: epoch-stamped counts serve queryAdaptive; appends " +
      "maintain, layout-only commits re-stamp, deletes re-arm from the " +
      "kept slice, and absent pairs under fresh stats are true zeros") {
    val cat = newCatalog
    cat.create("u", "st", StoreConfig(dimension = 8))
    val rnd = new scala.util.Random(7)
    def batch(n: Int, tag: String) = (0 until n)
      .map(_ => (Seq.fill(8)(rnd.nextFloat()), Map("tag" -> tag)))
      .toDF("vector", "meta")
    cat.addVectors("u", "st", batch(40, "a"))
    cat.addVectors("u", "st", batch(10, "b"))
    assert(cat.metaStatsCount("u", "st", "tag", "a").isEmpty,
      "no stats written yet -> live count fallback")
    val rows = cat.refreshMetaStats("u", "st")
    assert(rows == 2L, s"two (key,value) pairs expected, got $rows")
    assert(cat.metaStatsCount("u", "st", "tag", "a").contains(40L))
    assert(cat.metaStatsCount("u", "st", "tag", "b").contains(10L))
    // fresh stats + absent pair = a true zero, not a fallback
    assert(cat.metaStatsCount("u", "st", "tag", "zzz").contains(0L))
    // a PINNED read must live-count its own corpus, never the live
    // stats: at the first epoch no 'b' rows existed yet, so a stats
    // consult (10) here would be a wrong answer, not a stale one
    val e0 = cat.epochs("u", "st").head
    val pinned = cat.queryAdaptive("u", "st", Seq.fill(8)(0.5), 3,
      Map("tag" -> "b"), asOf = Some(e0))
    assert(pinned.matches == 0L && pinned.hits.count() == 0)
    // the adaptive serving path reports the stats-derived cardinality
    // (flat store: always the exact scan, but the count job is skipped)
    val q = Seq.fill(8)(0.5)
    val viaStats = cat.queryAdaptive("u", "st", q, 3, Map("tag" -> "b"))
    assert(viaStats.matches == 10L && viaStats.path == graft.ml.IvfIndex.PathExactScan)
    assert(viaStats.hits.count() == 3)
    // APPEND commits maintain the stats in place (batch counts merged,
    // re-stamped at the new epoch): still planable, and still exact
    cat.addVectors("u", "st", batch(5, "b"))
    assert(cat.metaStatsCount("u", "st", "tag", "b").contains(15L),
      "append-only load must keep refreshed stats fresh")
    assert(cat.metaStatsCount("u", "st", "tag", "a").contains(40L))
    val maintained = cat.queryAdaptive("u", "st", q, 3, Map("tag" -> "b"))
    assert(maintained.matches == 15L)
    // LAYOUT-ONLY commits preserve content, so the stats re-stamp:
    // optimize's replace epoch costs no planability
    cat.optimize("u", "st", targetFileBytes = 1L << 20)
    assert(cat.metaStatsCount("u", "st", "tag", "b").contains(15L),
      "a replace-compaction must re-stamp, not invalidate")
    assert(cat.metaStatsCount("u", "st", "tag", "a").contains(40L))
    // DESTRUCTIVE commits RE-ARM from the kept slice: the count sees the
    // shrink through recomputed statistics, fresh at the replace epoch
    val removed = cat.deleteVectors("u", "st",
      element_at(col("meta"), "tag") === "b")
    assert(removed == 15L)
    assert(cat.metaStatsCount("u", "st", "tag", "b").contains(0L),
      "the deleted value reads as a fresh true zero after the re-arm")
    assert(cat.metaStatsCount("u", "st", "tag", "a").contains(40L),
      "the kept value's recomputed count is exact")
    val armed = cat.queryAdaptive("u", "st", q, 3, Map("tag" -> "a"))
    assert(armed.matches == 40L)
    // a further append maintains the re-armed stats — the store has now
    // crossed refresh -> append -> optimize -> delete -> append with ONE
    // refresh call total
    cat.addVectors("u", "st", batch(3, "a"))
    assert(cat.metaStatsCount("u", "st", "tag", "a").contains(43L))
    // clear() publishes EMPTY stats with the deletion (see the dedicated
    // clear re-arm spec for the post-clear append lifecycle)
    cat.clear("u", "st")
    assert(cat.metaStatsCount("u", "st", "tag", "a").contains(0L),
      "between clear and the first append the store's log is empty and " +
        "its published empty stats read as a fresh true zero")
  }

  test("metaStatsCountTyped: the stored-encoding inverse serves typed " +
      "cardinalities from statistics — numeric duality, string identity, " +
      "a tampered-stats sentinel proves the consult, stale stats live-count") {
    val cat = newCatalog
    cat.create("u", "ts", StoreConfig(dimension = 8))
    val rnd = new scala.util.Random(21)
    import graft.sources.TypedMeta
    // 6 int-encoded 1s, 4 double-encoded "1.0"s, 3 bool "true"s, 5 quoted
    // strings "\"1\"", 12 int 2s — Python ==: the typed filter 1 matches
    // 6+4+3 = 13; the string filter "1" matches exactly 5
    val rows = (0 until 30).map { i =>
      val enc =
        if (i < 6) "1" else if (i < 10) "1.0" else if (i < 13) "true"
        else if (i < 18) "\"1\"" else "2"
      (Seq.fill(8)(rnd.nextFloat()), Map("pri" -> enc))
    }.toDF("vector", "meta")
    cat.addVectors("u", "ts", rows)
    assert(cat.metaStatsCountTyped("u", "ts", "pri", 1).isEmpty,
      "no stats yet -> live-count fallback")
    cat.refreshMetaStats("u", "ts")
    assert(cat.metaStatsCountTyped("u", "ts", "pri", 1).contains(13L))
    assert(cat.metaStatsCountTyped("u", "ts", "pri", 1.0).contains(13L))
    assert(cat.metaStatsCountTyped("u", "ts", "pri", true).contains(13L))
    assert(cat.metaStatsCountTyped("u", "ts", "pri", "1").contains(5L))
    assert(cat.metaStatsCountTyped("u", "ts", "pri", 2).contains(12L))
    assert(cat.metaStatsCountTyped("u", "ts", "pri", 99).contains(0L),
      "fresh stats + absent typed value = true zero")
    // the typed count equals the live typed predicate count — the inverse
    // really is the same predicate running over the stats value strings
    val live = cat.load("u", "ts")
      .filter(TypedMeta.typedPredicate(col("meta"), Map("pri" -> 1))).count()
    assert(live == 13L)
    // DISCRIMINATOR: tamper the current epoch's stats slice (n *= 1000) —
    // queryAdaptiveTyped must now report the tampered number, proving the
    // cardinality came from the statistics and not a live count
    def tamperCurrentSlice(): Unit = {
      val slice = s"${cat.storePath("u", "ts")}/meta_stats/epoch=" +
        cat.epochs("u", "ts").last
      spark.read.parquet(slice).withColumn("n", col("n") * 1000)
        .localCheckpoint(true).write.mode("overwrite").parquet(slice)
    }
    tamperCurrentSlice()
    val q = Seq.fill(8)(0.5)
    val viaStats = cat.queryAdaptiveTyped("u", "ts", q, 3, Map("pri" -> 1))
    assert(viaStats.matches == 13000L,
      s"typed adaptive query must consult stats (got ${viaStats.matches})")
    // DESTRUCTIVE RE-ARM: the delete rewrites the kept set in one replace
    // epoch and recomputes the stats from that same slice inside the call
    // — the tampered numbers are recomputed away and the adaptive query
    // plans from fresh EXACT statistics with no refreshMetaStats call.
    // (Raw equality, not typedEquals: deleteVectors drops NULL-predicate
    // rows by contract, and typedEquals is NULL on non-numeric encodings.)
    cat.deleteVectors("u", "ts", element_at(col("meta"), "pri") === "2")
    assert(cat.metaStatsCountTyped("u", "ts", "pri", 1).contains(13L),
      "delete must re-arm stats from the kept slice (tamper recomputed away)")
    assert(cat.metaStatsCountTyped("u", "ts", "pri", 2).contains(0L),
      "the deleted value reads as a fresh true zero")
    val afterDelete = cat.queryAdaptiveTyped("u", "ts", q, 3, Map("pri" -> 1))
    assert(afterDelete.matches == 13L)
    // prove post-delete planning is STATS-planned, not live-counted:
    // tamper the slice the delete's replace epoch landed and watch the
    // tampered number surface
    tamperCurrentSlice()
    val viaStats2 = cat.queryAdaptiveTyped("u", "ts", q, 3, Map("pri" -> 1))
    assert(viaStats2.matches == 13000L,
      "the delete armed the planner: the very next adaptive query consults " +
        s"statistics, no refresh anywhere (got ${viaStats2.matches})")
  }

  test("clear publishes empty statistics; the first post-clear append " +
      "re-arms them with no refresh call") {
    val cat = newCatalog
    cat.create("u", "cl", StoreConfig(dimension = 4))
    cat.addVectors("u", "cl",
      Seq((Seq(1.0, 0.0, 0.0, 0.0), Map("t" -> "x"))).toDF("vector", "meta"))
    cat.refreshMetaStats("u", "cl")
    assert(cat.metaStatsCount("u", "cl", "t", "x").contains(1L))
    cat.clear("u", "cl")
    // the first append after the clear commits the empty log's first
    // epoch; maintenance merges the batch onto the published empty stats
    cat.addVectors("u", "cl",
      Seq((Seq(0.0, 1.0, 0.0, 0.0), Map("t" -> "y"))).toDF("vector", "meta"))
    assert(cat.metaStatsCount("u", "cl", "t", "y").contains(1L),
      "post-clear append must plan from maintained statistics")
    assert(cat.metaStatsCount("u", "cl", "t", "x").contains(0L),
      "the pre-clear value is a fresh true zero, not a stale survivor")
  }

  test("conjunction bound: min over fresh per-key stats plans " +
      "prefilter_exact with observed exact matches and no count job; " +
      "an over-cap bound falls back to the live count") {
    val cat = newCatalog
    cat.create("u", "cb", StoreConfig(dimension = 8))
    val rnd = new scala.util.Random(31)
    // tag a: 12 rows, tag b: 40 rows, conjunction (a AND x): 4 rows
    val rows = (0 until 52).map { i =>
      val tag = if (i < 12) "a" else "b"
      val grp = if (i < 4) "x" else "y"
      (Seq.fill(8)(rnd.nextFloat()), Map("tag" -> tag, "grp" -> grp))
    }.toDF("vector", "meta")
    cat.addVectors("u", "cb", rows)
    cat.refreshMetaStats("u", "cb")
    cat.buildIndex("u", "cb", nLists = 4)
    val q = Seq.fill(8)(0.5)
    val filter = Map("tag" -> "a", "grp" -> "x")
    val r = cat.queryAdaptive("u", "cb", q, 3, filter)
    assert(r.path == graft.ml.IvfIndex.PathPrefilterExact,
      s"bound min(12,4)=4 <= cap must pick prefilter_exact, got ${r.path}")
    assert(r.matches == 4L,
      s"matches must be the OBSERVED conjunction count, got ${r.matches}")
    assert(r.hits.count() == 3)
    // same filter, cap below the bound: min(12,4)=4 > 1 proves nothing ->
    // live count (4) > cap -> probed plan; full probe keeps it exact
    val probed = cat.queryAdaptive("u", "cb", q, 3, filter,
      nProbe = 4, preFilterCap = 1)
    assert(probed.path == graft.ml.IvfIndex.PathIvfPostfilter)
    assert(probed.matches == 4L)
    val exactIds = r.hits.select($"id").collect().map(_.getLong(0)).toSeq
    val probedIds = probed.hits.select($"id").collect().map(_.getLong(0)).toSeq
    assert(probedIds == exactIds, "full-probe postfilter must equal exact")
    // a stale key (delete invalidates) drops the bound -> live count path
    // still answers correctly
    cat.deleteVectors("u", "cb", element_at(col("meta"), "grp") === "y")
    val live = cat.queryAdaptive("u", "cb", q, 3, filter)
    assert(live.matches == 4L)
  }

  test("batchQueryAdaptive: one shared decision per batch — stats-served " +
      "prefilter_exact, cap-forced probed path equals exact, caps loud") {
    val cat = newCatalog
    cat.create("u", "ba", StoreConfig(dimension = 8))
    val rnd = new scala.util.Random(41)
    val vecs = Seq.fill(60)(Seq.fill(8)(rnd.nextFloat()))
    val rows = vecs.zipWithIndex.map { case (v, i) =>
      (v, Map("tag" -> (if (i % 4 == 0) "hot" else "cold")))
    }.toDF("vector", "meta")
    cat.addVectors("u", "ba", rows)
    cat.refreshMetaStats("u", "ba")
    cat.buildIndex("u", "ba", nLists = 4)
    val queries = vecs.take(3).map(_.map(_.toDouble))
    // selective shared filter: stats-served decision, exact batch results
    val sel = cat.batchQueryAdaptive("u", "ba", queries, 2, Map("tag" -> "hot"))
    assert(sel.path == graft.ml.IvfIndex.PathPrefilterExact)
    assert(sel.matches == 15L, s"observed matches, got ${sel.matches}")
    assert(sel.hits.count() == 6)
    // the exact batch reference: brute-force filtered batchTopK
    val qdf = queries.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("query_id", "query_vec")
    val ref = Knn.batchTopK(qdf,
      cat.load("u", "ba").filter(element_at(col("meta"), "tag") === "hot"), 2)
      .select($"query_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    val got = sel.hits.select($"query_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(got == ref, "prefilter batch must equal exact filtered batch")
    // cap forced under the count: probed plan at full probe stays exact
    val broad = cat.batchQueryAdaptive("u", "ba", queries, 2,
      Map("tag" -> "hot"), nProbe = 4, preFilterCap = 1)
    assert(broad.path == graft.ml.IvfIndex.PathIvfPostfilter)
    assert(broad.matches == 15L)
    val gotBroad = broad.hits.select($"query_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotBroad == ref, "full-probe probed batch must equal exact")
    // non-IVF stores report exact_scan with the same result shape
    val cat2 = newCatalog
    cat2.create("u", "flat", StoreConfig(dimension = 8))
    cat2.addVectors("u", "flat", rows)
    val flat = cat2.batchQueryAdaptive("u", "flat", queries, 2, Map("tag" -> "hot"))
    assert(flat.path == graft.ml.IvfIndex.PathExactScan && flat.matches == 15L)
    // the TYPED batch surface plans identically (a String typed filter
    // matches the raw store values through the legacy-bare rule) and
    // returns the same per-query hits as the string surface
    val selTyped = cat.batchQueryAdaptiveTyped("u", "ba", queries, 2,
      Map("tag" -> "hot"))
    assert(selTyped.path == graft.ml.IvfIndex.PathPrefilterExact &&
      selTyped.matches == 15L)
    val gotTyped = selTyped.hits.select($"query_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq
    assert(gotTyped == ref, "typed batch must equal the string batch")
    val broadTyped = cat.batchQueryAdaptiveTyped("u", "ba", queries, 2,
      Map("tag" -> "hot"), nProbe = 4, preFilterCap = 1)
    assert(broadTyped.path == graft.ml.IvfIndex.PathIvfPostfilter)
    assert(broadTyped.hits.select($"query_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == ref)
    // the pin contract holds on the batch-adaptive surface: a pinned
    // batch live-counts its own corpus (stats lookups never run) and
    // serves from the snapshot; later appends are invisible to it
    val e0 = cat.epochs("u", "ba").head
    val rnd2 = new scala.util.Random(42)
    cat.addVectors("u", "ba", Seq.fill(20)(
      (Seq.fill(8)(rnd2.nextFloat()), Map("tag" -> "hot")))
      .toDF("vector", "meta"))
    val live2 = cat.batchQueryAdaptive("u", "ba", queries, 2, Map("tag" -> "hot"))
    assert(live2.matches == 35L, "live batch sees the appended rows")
    val pinned = cat.batchQueryAdaptive("u", "ba", queries, 2,
      Map("tag" -> "hot"), asOf = Some(e0))
    assert(pinned.matches == 15L,
      "a pinned batch must count its own corpus, never the live stats")
    assert(pinned.hits.select($"query_id", $"id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq == ref,
      "pinned batch hits must come from the snapshot")
    // argument errors are loud, never a silent plan degrade
    intercept[IllegalArgumentException] {
      cat.batchQueryAdaptive("u", "ba", queries, 2, Map("tag" -> "hot"),
        preFilterCap = 0)
    }
    intercept[IllegalArgumentException] {
      cat.batchQueryAdaptive("u", "ba", queries, 2, Map.empty)
    }
    intercept[IllegalArgumentException] {
      cat.queryAdaptive("u", "ba", queries.head, 2, Map("tag" -> "hot"),
        preFilterCap = 0)
    }
    intercept[IllegalArgumentException] {
      cat.queryAdaptiveTyped("u", "ba", queries.head, 2, Map("tag" -> "hot"),
        preFilterCap = -5)
    }
  }

  test("store vacuum sweeps crash-orphaned epoch directories on both the " +
      "store and IVF layouts the shared log governs") {
    val cat = newCatalog
    cat.create("u", "orph", StoreConfig(dimension = 8))
    val rnd = new scala.util.Random(61)
    def batch(n: Int) =
      Seq.fill(n)(Seq.fill(8)(rnd.nextFloat())).map(Tuple1(_)).toDF("vector")
    (0 until 3).foreach(_ => cat.addVectors("u", "orph", batch(30)))
    cat.buildIndex("u", "orph", nLists = 4)
    val root = cat.storePath("u", "orph")
    // dead directories on BOTH layouts (the crash-between-commit-and-prune
    // window of a replace or a prior vacuum)
    val storeOrphan = new java.io.File(s"$root/data/epoch=97")
    val ivfOrphan = new java.io.File(s"$root/_ivf/data/epoch=98")
    Seq(storeOrphan, ivfOrphan).foreach { d =>
      d.mkdirs()
      java.nio.file.Files.write(
        new java.io.File(d, "part-zombie.parquet").toPath, Array[Byte](9))
    }
    val q = cat.load("u", "orph").limit(1).head().getSeq[Float](1)
      .map(_.toDouble)
    val before = cat.query("u", "orph", q, 5, nProbe = 4).select($"id")
      .collect().map(_.getLong(0)).toSeq
    val (folded, _) = cat.vacuum("u", "orph", keepLast = 1)
    assert(folded == 2)
    assert(!storeOrphan.exists() && !ivfOrphan.exists(),
      "vacuum must sweep crash orphans on both layouts")
    val after = cat.query("u", "orph", q, 5, nProbe = 4).select($"id")
      .collect().map(_.getLong(0)).toSeq
    assert(after == before, "the sweep must be invisible to queries")
  }

  test("stats(): commit-log arithmetic tracks the data scan through the " +
      "whole lifecycle (append, delete, optimize, vacuum, clear)") {
    val cat = newCatalog
    val rnd = new scala.util.Random(71)
    def batch(n: Int, tag: String) = (0 until n)
      .map(_ => (Seq.fill(8)(rnd.nextFloat()), Map("tag" -> tag)))
      .toDF("vector", "meta")
    Seq("a", "b").foreach { m =>
      cat.create("u", m, StoreConfig(dimension = 8))
      cat.addVectors("u", m, batch(25, "x"))
      cat.addVectors("u", m, batch(15, "y"))
    }
    def statsMap(): Map[String, Long] = cat.stats().collect()
      .map(r => r.getString(1) -> r.getLong(2)).toMap
    def scanMap(): Map[String, Long] =
      Seq("a", "b").map(m => m -> cat.load("u", m).count()).toMap
    assert(statsMap() == scanMap() && statsMap()("a") == 40L)
    cat.deleteVectors("u", "a", element_at(col("meta"), "tag") === "y")
    assert(statsMap() == scanMap() && statsMap()("a") == 25L,
      "a delete's replace row must carry the kept count")
    cat.addVectors("u", "a", batch(5, "z"))
    cat.vacuum("u", "a", keepLast = 1)
    assert(statsMap() == scanMap() && statsMap()("a") == 30L,
      "a vacuum fold must preserve the commit-unit totals")
    cat.optimize("u", "b", targetFileBytes = 1L << 20)
    assert(statsMap() == scanMap() && statsMap()("b") == 40L,
      "a compaction replace must carry the full count")
    cat.clear("u", "b")
    assert(statsMap() == scanMap() && statsMap()("b") == 0L,
      "a cleared store reads zero through the log path too")
  }

  /** The `meta_stats/` slice directory of `epoch`, and the epochs that
    * hold one (the catalog's armed-check listing).
    */
  private def statsSlice(cat: VectorStoreCatalog, m: String, epoch: Long) =
    new org.apache.hadoop.fs.Path(s"${cat.storePath("u", m)}/meta_stats/epoch=$epoch")
  private def statsEpochs(cat: VectorStoreCatalog, m: String): Seq[Long] = {
    val dir = new org.apache.hadoop.fs.Path(s"${cat.storePath("u", m)}/meta_stats")
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(dir)
      .map(_.getPath.getName).filter(_.startsWith("epoch="))
      .map(_.stripPrefix("epoch=").toLong).sorted.toSeq
  }

  test("meta stats crash window: a slice at an uncommitted epoch is " +
      "invisible, and the retried commit overwrites it") {
    val cat = newCatalog
    cat.create("u", "cw", StoreConfig(dimension = 4))
    def batch(n: Int, tag: String) = (0 until n)
      .map(_ => (Seq.fill(4)(0.5f), Map("tag" -> tag))).toDF("vector", "meta")
    cat.addVectors("u", "cw", batch(10, "a"))
    cat.refreshMetaStats("u", "cw")
    assert(cat.metaStatsCount("u", "cw", "tag", "a").contains(10L))
    // an append that died after its stats slice landed and before its
    // commit row: the slice sits at the next epoch, uncommitted
    Seq(("tag", "a", 999L)).toDF("key", "value", "n")
      .write.parquet(statsSlice(cat, "cw", 1L).toString)
    assert(cat.metaStatsCount("u", "cw", "tag", "a").contains(10L),
      "a slice at an uncommitted epoch must never be counted")
    // the retry reuses the epoch and overwrites the orphan
    cat.addVectors("u", "cw", batch(5, "a"))
    assert(cat.epochs("u", "cw") == Seq(0L, 1L))
    assert(cat.metaStatsCount("u", "cw", "tag", "a").contains(15L),
      "the retried append must overwrite the orphan slice")
    // armed stores hold exactly one slice per committed epoch, through
    // every commit kind
    cat.optimize("u", "cw")
    cat.addVectors("u", "cw", batch(3, "b"))
    cat.addVectors("u", "cw", batch(2, "b"))
    cat.vacuum("u", "cw", keepLast = 1)
    assert(statsEpochs(cat, "cw") == cat.epochs("u", "cw"))
    assert(cat.metaStatsCount("u", "cw", "tag", "a").contains(15L))
    assert(cat.metaStatsCount("u", "cw", "tag", "b").contains(5L))
    val storeDir = new java.io.File(cat.storePath("u", "cw"))
    assert(storeDir.list().filterNot(_.startsWith(".")).toSeq.sorted ==
      Seq("_epochs", "_store_config.json", "data", "meta_stats"))
  }

  test("meta stats crash window: a partial refresh reads None; vacuum, " +
      "delete and optimize leave a partially-armed store unarmed; the next " +
      "refresh re-arms with exact counts") {
    val cat = newCatalog
    cat.create("u", "pa", StoreConfig(dimension = 4))
    val fs = statsSlice(cat, "pa", 0L)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def batch(n: Int, tag: String) = (0 until n)
      .map(_ => (Seq.fill(4)(0.5f), Map("tag" -> tag))).toDF("vector", "meta")
    cat.addVectors("u", "pa", batch(10, "a"))
    cat.addVectors("u", "pa", batch(6, "b"))
    cat.addVectors("u", "pa", batch(4, "a"))
    def counts = Seq("a", "b").map(cat.metaStatsCount("u", "pa", "tag", _))
    // a refresh that dies after its first slice: a plain file where the
    // epoch-1 slice must land makes that rename fail
    val blocker = statsSlice(cat, "pa", 1L)
    fs.create(blocker).close()
    intercept[Exception](cat.refreshMetaStats("u", "pa"))
    assert(fs.exists(statsSlice(cat, "pa", 0L)) &&
      !fs.exists(statsSlice(cat, "pa", 2L)))
    assert(counts == Seq(None, None), "a partial refresh must read None")
    val live = cat.queryAdaptive("u", "pa", Seq.fill(4)(0.5), 3, Map("tag" -> "a"))
    assert(live.matches == 14L, "an unarmed store plans from the live count")
    fs.delete(blocker, false)
    cat.refreshMetaStats("u", "pa")
    assert(counts == Seq(Some(14L), Some(6L)))

    // partially armed: epochs 0 and 2 have slices, epoch 1 lost its own.
    // The vacuum folds {0, 1} and keeps 2 — folding slice 0 alone would
    // leave a complete-looking set that has lost the b counts
    fs.delete(statsSlice(cat, "pa", 1L), true)
    assert(counts == Seq(None, None))
    cat.vacuum("u", "pa", keepLast = 1)
    assert(counts == Seq(None, None), "a vacuum must leave the store unarmed")
    cat.refreshMetaStats("u", "pa")
    assert(counts == Seq(Some(14L), Some(6L)))

    // a delete of a partially-armed store, with an orphan slice waiting at
    // the replace epoch: the unarmed replace removes it
    val kept = cat.epochs("u", "pa")
    fs.delete(statsSlice(cat, "pa", kept.last), true)
    val next = kept.max + 1
    Seq(("tag", "a", 999L)).toDF("key", "value", "n")
      .write.parquet(statsSlice(cat, "pa", next).toString)
    assert(cat.deleteVectors("u", "pa", element_at(col("meta"), "tag") === "b") == 6L)
    assert(cat.epochs("u", "pa") == Seq(next))
    assert(counts == Seq(None, None), "a delete must leave the store unarmed")
    cat.refreshMetaStats("u", "pa")
    assert(counts == Seq(Some(14L), Some(0L)))

    // an optimize of a partially-armed store
    cat.addVectors("u", "pa", batch(2, "b"))
    fs.delete(statsSlice(cat, "pa", next), true)
    cat.optimize("u", "pa")
    assert(counts == Seq(None, None), "an optimize must leave the store unarmed")
    assert(cat.refreshMetaStats("u", "pa") == 2L)
    assert(counts == Seq(Some(14L), Some(2L)))
    assert(statsEpochs(cat, "pa") == cat.epochs("u", "pa"))
  }

  test("queryAdaptiveTyped: typed predicate cardinality plans the path; " +
      "int filters never match their string twins") {
    val cat = newCatalog
    cat.create("u", "tq", StoreConfig(dimension = 8))
    val rnd = new scala.util.Random(13)
    import graft.sources.TypedMeta
    val rows = (0 until 30).map { i =>
      (Seq.fill(8)(rnd.nextFloat()),
        Map("pri" -> TypedMeta.encode(if (i < 5) 1 else 2)))
    }.toDF("vector", "meta")
    cat.addVectors("u", "tq", rows)
    val q = Seq.fill(8)(0.5)
    val r = cat.queryAdaptiveTyped("u", "tq", q, 3, Map("pri" -> 1))
    assert(r.path == graft.ml.IvfIndex.PathExactScan && r.matches == 5L)
    assert(r.hits.count() == 3)
    // the string "1" is a different typed value — zero matches
    val s = cat.queryAdaptiveTyped("u", "tq", q, 3, Map("pri" -> "1"))
    assert(s.matches == 0L && s.hits.count() == 0)
  }

  test("tuneProbe / ingestDrift: None without an index; with one, the " +
      "sweep tunes and a self-batch reads zero drift") {
    val cat = newCatalog
    cat.create("u", "tp", StoreConfig(dimension = 8))
    val rnd = new scala.util.Random(21)
    val vecs = Seq.fill(80)(Seq.fill(8)(rnd.nextFloat()))
    cat.addVectors("u", "tp", vecs.map(Tuple1(_)).toDF("vector"))
    val queries = vecs.take(10).zipWithIndex
      .map { case (v, i) => (i.toLong, v) }.toDF("query_id", "query_vec")
    // indexless store: no probe depth to tune, no quantizer to drift from
    assert(cat.tuneProbe("u", "tp", queries, 5, 0.9).isEmpty)
    assert(cat.ingestDrift("u", "tp",
      vecs.map(Tuple1(_)).toDF("vector")).isEmpty)
    cat.buildIndex("u", "tp", nLists = 4)
    val tuning = cat.tuneProbe("u", "tp", queries, 5, targetRecall = 1.0)
    assert(tuning.isDefined)
    assert(tuning.get.suggestedNProbe.isDefined,
      "recall 1.0 is always reachable at full probe")
    assert(tuning.get.sweep.count() == 4)
    assert(tuning.get.nExact == 50L)
    // the store's own vectors are distributed exactly like the store
    val drift = cat.ingestDrift("u", "tp", vecs.map(Tuple1(_)).toDF("vector"))
    assert(drift.isDefined)
    assert(drift.get.psiX1e6 == 0L && !drift.get.drifted)
  }

}
