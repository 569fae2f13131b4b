package graft.operators

import org.apache.spark.sql.{DataFrame, DataFrameReader, Observation, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The one epoch-store lifecycle: every persisted layout family — the
  * catalog's store + IVF index ([[graft.sources.VectorStoreCatalog]]), the
  * standalone IVF layout ([[graft.ml.IvfIndex]], [[graft.ml.SemDedupIndex]])
  * and the near-dup index families ([[EpochIndex]]) — commits through here.
  * Each layout lands one `dir/epoch=N` slice per commit; the [[EpochLog]]
  * row is the single visibility point for all of them:
  *
  *  - [[append]]: slices under the next epoch, then one "add" row;
  *  - [[replace]]: the whole content as one fresh slice, then one
  *    "replace" row, then the superseded directories are pruned;
  *  - [[vacuum]]: orphan sweep, [[EpochLog.vacuumPlan]], one fold slice
  *    per layout, one [[EpochLog.commitVacuum]] row, then the folded
  *    directories are pruned.
  *
  * A crash before a commit row leaves invisible orphan directories that
  * the next append overwrites and the next vacuum sweeps; a crash after it
  * leaves invisible dead directories, also swept. Layout slice writes of
  * one epoch run concurrently ([[EpochIndex.awaitAll]]): they read the
  * same pinned input and land in disjoint directories.
  */
private[graft] final case class EpochStore(
    log: EpochLog, layouts: Seq[EpochStore.Layout]) {
  import EpochStore._

  /** Land one slice via `write(epoch)` — which returns the commit-unit
    * count — and commit it as an "add" row. Returns (epoch, count).
    */
  def append(write: Long => Long): (Long, Long) = {
    val epoch = log.nextEpoch()
    val n = write(epoch)
    log.commit(epoch, "add", n)
    (epoch, n)
  }

  /** Write `frames` — one per layout of `to`, matched by position —
    * under `epoch`, concurrently, overwriting any orphan a failed attempt
    * left there. A layout outside `to` gets no slice at this epoch (a
    * catalog store without an index, or with unarmed statistics), and any
    * orphan of a failed attempt there is removed. Returns the first
    * frame's row count, observed inside its write. A zero-row bucketed
    * write can be AQE-propagated away before the metric fires; 0 is then
    * its count.
    */
  def writeSlice(frames: Seq[DataFrame], epoch: Long,
      to: Seq[Layout] = layouts): Long = {
    val obs = Observation()
    layouts.filterNot(l => to.exists(_.dir == l.dir))
      .foreach(l => log.deleteDir(l.slice(epoch)))
    EpochIndex.awaitAll(to.zip(frames).zipWithIndex.map {
      case ((l, df), i) => () =>
        l.write(if (i == 0) df.observe(obs, count(lit(1)).as("n")) else df,
          l.slice(epoch))
    }: _*)
    scala.util.Try(obs.get("n").asInstanceOf[Long]).getOrElse(0L)
  }

  /** Replace the whole content by `frames` ([[writeSlice]] to `to`) under
    * one "replace" row — the atomic cutover of compaction and delete.
    * `units` maps the observed row count to the commit-unit count
    * (families that log documents, not rows). Every epoch the log knows is
    * superseded; that set is snapshotted before the commit, which prunes
    * the log it would be read from. Returns (epoch, committed count).
    */
  def replace(frames: Seq[DataFrame], units: Long => Long = identity,
      to: Seq[Layout] = layouts): (Long, Long) = {
    val epoch = log.nextEpoch()
    val n = units(writeSlice(frames, epoch, to))
    val superseded = log.allEpochs()
    log.commit(epoch, "replace", n)
    prune(superseded)
    (epoch, n)
  }

  /** Fold every committed epoch below the newest `keepLast` pins into one
    * slice per layout ([[EpochLog.vacuumPlan]]) and expire the originals.
    * Orphan directories of a prior crash are swept first. A layout with no
    * slice at any folded epoch folds to nothing, and so does a `complete`
    * layout missing a slice at any of them; a layout that folds to
    * nothing has any orphan at the fold epoch removed. The fold row carries the
    * folded epochs' commit counts ([[EpochLog.rowsOf]]) — never a scan.
    * None when history is already within `keepLast`.
    */
  def vacuum(keepLast: Int): Option[Fold] = {
    log.sweepOrphanDirs(layouts.map(_.dir))
    val (folded, boundary) = log.vacuumPlan(keepLast).getOrElse(return None)
    val units = log.rowsOf(folded.toSet)
    val target = log.nextEpoch()
    val bytes = folded.map(sliceBytes).sum
    EpochIndex.awaitAll(layouts.map { l => () =>
      val dirs = existing(log.spark, l, folded.map(l.slice))
      if (dirs.nonEmpty && (!l.complete || dirs.size == folded.size))
        l.write(l.foldShape(read(log.spark, l, dirs), bytes), l.slice(target))
      else log.deleteDir(l.slice(target))
    }: _*)
    log.commitVacuum(target, boundary, units)
    prune(folded)
    Some(Fold(folded, target, bytes))
  }

  /** On-disk bytes of every layout's slice at `epoch`. */
  def sliceBytes(epoch: Long): Long = layouts.map { l =>
    val p = new org.apache.hadoop.fs.Path(l.slice(epoch))
    val fs = p.getFileSystem(log.spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.getContentSummary(p).getLength else 0L
  }.sum

  /** Best-effort delete of dead slices on every layout: readers resolve
    * committed epochs first, so a survivor is invisible, just bytes.
    */
  private def prune(epochs: Seq[Long]): Unit =
    epochs.foreach(e => layouts.foreach(l => log.deleteDir(l.slice(e))))
}

private[graft] object EpochStore {

  /** How a layout's slices are written and folded. */
  sealed trait Kind

  /** Flat parquet. A fold is repartitioned to ceil(folded bytes /
    * `targetFileBytes`) files when the target is positive.
    */
  final case class Plain(targetFileBytes: Long = 0L) extends Kind

  /** `list_id` partition directories (the IVF layout). A fold shuffles on
    * `list_id` first, so each list lands in one task: the fold reads many
    * tiny per-epoch list directories, and an unshuffled write would emit
    * up to tasks × lists files.
    */
  case object Lists extends Kind

  /** `gb = pmod(id, n)` gather-bucket directories
    * ([[EpochIndex.writeLayoutSlice]]).
    */
  final case class Buckets(n: Int) extends Kind

  /** One epoch-sliced layout under `dir`. `readOptions` other than the
    * defaults turn the schema cache off (EditIndex's `mergeSchema` derives
    * its schema from the exact file set read). A layout that may lack a
    * slice at a committed epoch (an index built after the store's first
    * appends) declares `emptySchema`: its reads skip absent slices and
    * read as that empty frame when none remain. A `complete` layout is
    * meaningful only with a slice at every committed epoch (the catalog's
    * meta statistics): a vacuum folds it only when every folded epoch has
    * one, so a fold never makes an incomplete slice set look complete.
    */
  final case class Layout(
      dir: String,
      kind: Kind = Plain(),
      readOptions: Map[String, String] = Map.empty,
      emptySchema: Option[StructType] = None,
      complete: Boolean = false) {

    def slice(epoch: Long): String = s"$dir/epoch=$epoch"

    private[operators] def partitioned: Boolean = !kind.isInstanceOf[Plain]

    private[operators] def write(df: DataFrame, slice: String): Unit = kind match {
      case _: Plain => df.write.mode("overwrite").parquet(slice)
      case Lists => df.write.mode("overwrite").partitionBy("list_id").parquet(slice)
      case Buckets(n) => EpochIndex.writeLayoutSlice(df, slice, n)
    }

    private[operators] def foldShape(df: DataFrame, bytes: Long): DataFrame =
      kind match {
        case Plain(t) if t > 0 =>
          df.repartition(math.max(1, math.ceil(bytes.toDouble / t).toInt))
        case _: Plain => df
        case Lists => df.repartition(col("list_id"))
        case Buckets(_) => df.drop("gb") // writeLayoutSlice re-buckets
      }

    /** Partitioned layouts read with an explicit basePath, which resolves
      * their two-level `epoch=N/<col>=K` structure (the synthetic `epoch`
      * column is dropped; only committed paths are passed). A flat layout
      * reads as a plain multi-root scan, measurably cheaper than partition
      * discovery on wide rows.
      */
    private[operators] def reader(spark: SparkSession): DataFrameReader = {
      val r = spark.read.options(readOptions)
      if (partitioned) r.option("basePath", dir) else r
    }
  }

  /** A vacuum's outcome: the folded epochs, the fold slice's epoch, and
    * the folded slices' bytes across every layout.
    */
  final case class Fold(epochs: Seq[Long], target: Long, bytes: Long)

  /** The slices among `paths` that exist on disk. */
  def existing(spark: SparkSession, l: Layout, paths: Seq[String]): Seq[String] =
    if (paths.isEmpty) paths
    else {
      val fs = new org.apache.hadoop.fs.Path(l.dir)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      paths.filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
    }

  /** The one reader of epoch layouts: committed slice `paths` of `layout`
    * (a layout with an `emptySchema` skips absent ones).
    */
  def read(spark: SparkSession, layout: Layout, paths: Seq[String]): DataFrame = {
    val dirs =
      if (layout.emptySchema.isDefined) existing(spark, layout, paths) else paths
    layout.emptySchema match {
      case Some(s) if dirs.isEmpty =>
        spark.createDataFrame(spark.sparkContext.emptyRDD[Row], s)
      case _ =>
        val df =
          if (layout.readOptions.nonEmpty || dirs.isEmpty)
            layout.reader(spark).parquet(dirs: _*)
          else cachedParquet(layout.reader(spark), layout.dir, dirs)
        if (layout.partitioned) df.drop("epoch") else df
    }
  }

  /** JVM-global inferred read schemas, keyed by layout directory (or any
    * fixed key). Parquet schema inference submits a Spark job per read,
    * and serving calls re-read the same layouts constantly. A layout's
    * schema is fixed by its writer from build to destruction, so the one
    * invalidation rule is [[forgetSchemas]] when an owner is (re)built or
    * destroyed — never on an append, replace or fold, which write the
    * same columns.
    */
  private val schemas = scala.collection.mutable.HashMap.empty[String, StructType]

  /** Read `paths` under the schema cached for `key`, inferring it once. */
  def cachedParquet(reader: DataFrameReader, key: String,
      paths: Seq[String]): DataFrame =
    schemas.synchronized(schemas.get(key)) match {
      case Some(s) => reader.schema(s).parquet(paths: _*)
      case None =>
        val first = reader.parquet(paths: _*)
        schemas.synchronized {
          // bounded defensively: a JVM churning temp indexes re-infers
          if (schemas.size > 4096) schemas.clear()
          schemas(key) = first.schema
        }
        first
    }

  /** Drop every cached schema under `prefix` — called when the layouts
    * there are rebuilt or destroyed.
    */
  def forgetSchemas(prefix: String): Unit = schemas.synchronized {
    schemas.filterInPlace { case (key, _) => !key.startsWith(prefix) }
    ()
  }
}
