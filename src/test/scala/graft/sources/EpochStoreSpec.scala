package graft.sources

import graft.SparkSpec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The vector-side epoch-commit contract (the FingerprintIndex/HammingIndex/
  * SegmentIndex discipline applied to VectorStoreCatalog): one EpochLog at
  * the store root governs BOTH the store's `data/epoch=N` slices and the
  * IVF index's `_ivf/data/epoch=N` slices, so a store append and its index
  * append become visible through a single commit row — all or nothing.
  */
class EpochStoreSpec extends AnyFunSuite with SparkSpec {
  import spark.implicits._

  private def newCatalog = {
    val root = java.nio.file.Files.createTempDirectory("graft_epoch_store").toString
    new VectorStoreCatalog(spark, root)
  }

  private def vecs(n: Int, d: Int = 4, seed: Int = 1) = {
    val rnd = new scala.util.Random(seed)
    Seq.fill(n)(Seq.fill(d)(rnd.nextFloat())).map(Tuple1(_)).toDF("vector")
  }

  test("new stores are epoch-committed: appends land as committed slices") {
    val cat = newCatalog
    cat.create("u", "m", StoreConfig(dimension = 4))
    assert(cat.addVectors("u", "m", vecs(50)) == 50L)
    assert(cat.count("u", "m") == 50)
    assert(cat.addVectors("u", "m", vecs(30, seed = 2)) == 30L)
    assert(cat.count("u", "m") == 80)
    // the layout really is epoch-sliced under a log
    val root = cat.storePath("u", "m")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/_epochs/commits")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/epoch=0")))
    assert(fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/epoch=1")))
  }

  test("a simulated partial (un-committed) write is invisible on BOTH layouts") {
    val cat = newCatalog
    cat.create("u", "p", StoreConfig(dimension = 4))
    cat.addVectors("u", "p", vecs(60))
    cat.buildIndex("u", "p", nLists = 2)
    cat.addVectors("u", "p", vecs(20, seed = 3))
    assert(cat.count("u", "p") == 80)
    assert(cat.healthCheck("u", "p").healthy)

    // forge a crashed append at the NEXT epoch number: both epoch
    // directories on disk, commit row missing — exactly the state a crash
    // between the writes and the commit leaves behind
    val root = cat.storePath("u", "p")
    val orphan = vecs(500, seed = 9).select(
      (monotonically_increasing_id() + 1000000).as("id"), $"vector",
      typedLit(Map.empty[String, String]).as("meta"))
    orphan.write.mode("overwrite").parquet(s"$root/data/epoch=2")
    orphan.withColumn("list_id", lit(0))
      .write.mode("overwrite").partitionBy("list_id")
      .parquet(s"$root/_ivf/data/epoch=2")

    assert(cat.count("u", "p") == 80, "orphan store slice must be invisible")
    assert(cat.healthCheck("u", "p").healthy,
      "orphans are invisible on BOTH layouts, so store and index stay in sync")

    // self-healing: the next real append lands AT the orphan's epoch number
    // and overwrites it — no double-apply, no rebuild
    assert(cat.addVectors("u", "p", vecs(20, seed = 4)) == 20L)
    assert(cat.count("u", "p") == 100)
    assert(cat.healthCheck("u", "p").healthy)
    val hits = cat.query("u", "p", Seq.fill(4)(0.5), k = 100)
    assert(hits.count() == 100, "no orphan rows may leak into queries")
  }

  test("deleteVectors rewrites store AND index through one replace commit") {
    val cat = newCatalog
    cat.create("u", "d", StoreConfig(dimension = 4))
    cat.addVectors("u", "d", vecs(100))
    cat.buildIndex("u", "d", nLists = 2)
    // ids are minted by monotonically_increasing_id (partition-based), so
    // the even/odd split is not exactly 50/50 — assert consistency instead
    val deleted = cat.deleteVectors("u", "d", col("id") % 2 === 0)
    assert(deleted > 0 && deleted < 100, s"unexpected deleted count $deleted")
    assert(cat.count("u", "d") == 100 - deleted)
    // the index was rewritten alongside — no stale rows, counts in sync
    assert(cat.healthCheck("u", "d").healthy,
      "epoch delete must keep the IVF index in sync with the store")
    val ids = cat.query("u", "d", Seq.fill(4)(0.5), k = 50, nProbe = 2)
      .select("id").as[Long].collect()
    assert(ids.forall(_ % 2 == 1), "deleted rows must not surface via the index")
  }

  test("optimize compacts all epochs into one replace epoch, atomically, both layouts") {
    val cat = newCatalog
    cat.create("u", "o", StoreConfig(dimension = 4))
    (0 until 4).foreach(i => cat.addVectors("u", "o", vecs(25, seed = i)))
    cat.buildIndex("u", "o", nLists = 2)
    cat.addVectors("u", "o", vecs(20, seed = 9))
    val before = cat.load("u", "o").select("id").as[Long].collect().sorted.toSeq
    val top = cat.query("u", "o", Seq.fill(4)(0.5), k = 5, nProbe = 2)
      .select("id").as[Long].collect().toSeq

    val (nBefore, nAfter) = cat.optimize("u", "o")
    assert(nBefore > nAfter, s"expected compaction: $nBefore -> $nAfter files")
    val after = cat.load("u", "o").select("id").as[Long].collect().sorted.toSeq
    assert(after == before, "compaction must preserve the row set exactly")
    val topAfter = cat.query("u", "o", Seq.fill(4)(0.5), k = 5, nProbe = 2)
      .select("id").as[Long].collect().toSeq
    assert(topAfter == top, "index search must be identical after compaction")
    assert(cat.healthCheck("u", "o").healthy)

    // dead epoch directories are pruned (one live replace epoch remains)
    val root = cat.storePath("u", "o")
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dataEpochs = fs.listStatus(new org.apache.hadoop.fs.Path(s"$root/data"))
      .filter(_.getPath.getName.startsWith("epoch=")).map(_.getPath.getName).toSeq
    assert(dataEpochs == Seq("epoch=5"),
      s"expected only the replace epoch to survive, got $dataEpochs")
  }

  test("pre-epoch (legacy flat) stores fail loudly") {
    // no store uses the pre-epoch flat layout any more: a data/ directory
    // holding flat parquet with an empty log fails loudly on read and on
    // append, and is never silently converted
    val cat = newCatalog
    cat.create("u", "leg", StoreConfig(dimension = 4))
    // simulate a store written before the epoch layout existed: flat
    // parquet directly under data/, no _epochs marker
    val root = cat.storePath("u", "leg")
    vecs(40).select(monotonically_increasing_id().as("id"), $"vector",
        typedLit(Map.empty[String, String]).as("meta"))
      .write.mode("overwrite").parquet(s"$root/data")
    def loud(f: => Any): Unit = {
      val e = intercept[IllegalStateException](f)
      assert(e.getMessage.contains("unsupported pre-epoch store") &&
        e.getMessage.contains("rebuild"), e.getMessage)
    }
    loud(cat.count("u", "leg"))
    loud(cat.epochs("u", "leg"))
    loud(cat.addVectors("u", "leg", vecs(10, seed = 5)))
    val fs = new org.apache.hadoop.fs.Path(root).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/_epochs")),
      "a legacy store must not be silently converted")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/data/epoch=0")))
  }

  test("clear removes data, log and index; the store rebuilds cleanly") {
    val cat = newCatalog
    cat.create("u", "c", StoreConfig(dimension = 4))
    cat.addVectors("u", "c", vecs(30))
    cat.buildIndex("u", "c", nLists = 2)
    cat.clear("u", "c")
    assert(cat.count("u", "c") == 0)
    // queries fall back to the exact scan while no centroids exist
    assert(cat.query("u", "c", Seq.fill(4)(0.5), k = 3).count() == 0)
    assert(cat.addVectors("u", "c", vecs(10, seed = 7)) == 10L)
    assert(cat.count("u", "c") == 10)
    cat.buildIndex("u", "c", nLists = 2)
    assert(cat.healthCheck("u", "c").healthy)
  }
}
