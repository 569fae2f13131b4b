package graft.operators

import org.apache.spark.sql.SparkSession

/** Commit log for epoch-sliced index layouts ([[FingerprintIndex]],
  * [[HammingIndex]], [[SegmentIndex]]): each build/append writes its data
  * files under `layout/epoch=N` directories and then records the epoch in
  * this log; readers resolve the committed epoch set FIRST and read only
  * those directories. The one-file JSON-lines append that records an epoch
  * (written aside, renamed into place) is the commit point, so a
  * multi-layout write (e.g. docs + bands) becomes visible all-or-nothing:
  *
  *  - a failure BEFORE the commit leaves orphan `epoch=N` directories that
  *    no reader ever lists (readers enumerate committed epochs, not the
  *    filesystem), and the next append reuses and OVERWRITES that epoch
  *    number — self-healing, no rebuild needed;
  *  - a retried append cannot double-apply: the orphan data is replaced,
  *    not appended to, before the retry's single commit lands.
  *
  * `action = "replace"` marks a compaction epoch: every epoch below it is
  * dead (readers ignore it; [[FingerprintIndex.compact]] deletes the
  * directories best-effort after the replace commit is durable).
  *
  * Single-writer discipline, like every index here (the reference's index
  * persistence makes the same assumption, performance/hnsw_index.py:105-129).
  * The only non-atomic window left is `reset` (build-over-existing
  * overwrites the log itself) — build is already a destructive operation
  * whose failure recovery is re-running the build.
  *
  * Row counts ride on the commit rows, so size/appended-fraction statistics
  * come from this KB-sized log instead of a corpus scan.
  */
private[graft] case class EpochLog(spark: SparkSession, path: String) {

  private def commitsPath = s"$path/commits"

  private case class Commit(epoch: Long, action: String, nRows: Long)

  /** The log is KB-sized metadata read on EVERY serving call and commit,
    * so its I/O is pure driver-side FileSystem work: a Spark job to read
    * (or write) a one-row file is scheduler overhead, not computation —
    * measured at ~60-100 ms per job in the bench, times the 5-15 log
    * touches a single lifecycle query makes. Commit files are JSON lines
    * (one object per commit row); a commit lands as ONE file written to a
    * hidden temp name and renamed into place, so a half-written commit is
    * never visible (strictly tighter than the parquet-part visibility the
    * log had when commits went through a Spark write job).
    *
    * A replace commit prunes superseded commit files right after its row
    * lands (see [[commit]]), so a read that listed the directory before
    * the prune can hit FileNotFoundException on a just-deleted file.
    * Re-listing resolves it: the retry sees the post-replace state (the
    * replace row is durable before any delete starts), which decodes to
    * the same committed epoch set. Bounded retries — anything persistent
    * is a real error and rethrows.
    */
  private def readCommits(): Seq[Commit] = {
    def attempt(): Seq[Commit] = {
      // a log directory with no commit files yet (a store created but
      // never written, or a crash before the very first commit) decodes
      // to the empty epoch set — not a read error
      val files = listLogFiles()
      val fs = new org.apache.hadoop.fs.Path(commitsPath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      // cross-file order of same-epoch rows is the commit order: the
      // monotonic sequence prefix in the filename, never the
      // filesystem's listing order over random UUIDs (pre-sequence
      // files sort first — they predate any sequenced write)
      files.sortBy(f => (seqOf(f.getName), f.getName))
        .flatMap { f =>
          val in = fs.open(f)
          val text =
            try new String(in.readAllBytes(), java.nio.charset.StandardCharsets.UTF_8)
            finally in.close()
          text.split('\n').iterator.map(_.trim).filter(_.nonEmpty)
            .map(parseLine).toSeq
        }.sortBy(_.epoch)
    }
    def isMissingFile(t: Throwable): Boolean =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(8)
        .exists(_.isInstanceOf[java.io.FileNotFoundException])
    var left = 4
    while (true) {
      try return attempt()
      catch {
        case e: Throwable if isMissingFile(e) && left > 0 => left -= 1
      }
    }
    throw new IllegalStateException("unreachable")
  }

  private def fmtLine(c: Commit): String =
    s"""{"epoch":${c.epoch},"action":"${c.action}","n_rows":${c.nRows}}"""

  private val LineRe =
    """\{"epoch":(-?\d+),"action":"([a-z]+)","n_rows":(-?\d+)\}""".r

  private def parseLine(line: String): Commit = line match {
    case LineRe(e, a, n) => Commit(e.toLong, a, n.toLong)
    case other => throw new IllegalStateException(
      s"corrupt commit-log line in $commitsPath: $other")
  }

  /** Monotonic sequence parsed from a commit filename; -1 for pre-sequence
    * names, which sort first.
    */
  private def seqOf(name: String): Long = name match {
    case SeqRe(s) => s.toLong
    case _ => -1L
  }
  private val SeqRe = """commit-(\d{9})-.*""".r

  private def write(rows: Seq[Commit], mode: String): Unit = {
    val dir = new org.apache.hadoop.fs.Path(commitsPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (mode == "overwrite") fs.delete(dir, true)
    fs.mkdirs(dir)
    // the sequence prefix makes decode order independent of filesystem
    // listing order (single-writer discipline, so max+1 cannot race)
    val seq =
      if (mode == "overwrite") 0L
      else listLogFiles().map(f => seqOf(f.getName)).foldLeft(-1L)(_ max _) + 1L
    val name = f"commit-$seq%09d-${java.util.UUID.randomUUID}%s.jsonl"
    val tmp = new org.apache.hadoop.fs.Path(dir, s".$name.tmp")
    val out = fs.create(tmp, true)
    try out.write((rows.map(fmtLine).mkString("\n") + "\n")
      .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    // rename-into-place is the commit point: readers skip dotfiles, so a
    // crash before the rename leaves nothing visible
    if (!fs.rename(tmp, new org.apache.hadoop.fs.Path(dir, name)))
      throw new IllegalStateException(
        s"commit-log rename failed: $tmp -> $name under $commitsPath")
  }

  /** Start a fresh log containing exactly epoch 0 as a replace (build).
    * The layouts under `path` were just rewritten by that build, so their
    * cached read schemas are dropped ([[EpochStore.forgetSchemas]]).
    */
  def reset(nRows: Long): Unit = {
    EpochStore.forgetSchemas(s"$path/")
    write(Seq(Commit(0L, "replace", nRows)), "overwrite")
  }

  /** Record `epoch` as committed (the atomic visibility point). A
    * "replace" commit also prunes the log itself: every earlier commit row
    * is dead once the replace row is durable (readers filter epochs below
    * the newest replace anyway), so the pre-existing part files — one tiny
    * file per append, the meta-level small-file disease — are deleted
    * file-by-file AFTER the new row lands. Each delete is atomic and only
    * removes superseded rows, so every CONSISTENT read resolves the same
    * committed epoch set; a read that listed the directory before a delete
    * and opened the file after it gets FileNotFoundException, which
    * [[readCommits]] absorbs by re-listing (bounded retries).
    */
  def commit(epoch: Long, action: String, nRows: Long): Unit = {
    require(Seq("add", "replace").contains(action), s"bad action $action")
    val stale = if (action == "replace") listLogFiles() else Seq.empty
    write(Seq(Commit(epoch, action, nRows)), "append")
    stale.foreach { f =>
      try { f.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .delete(f, false); () }
      catch { case _: java.io.IOException => () }
    }
  }

  /** The vacuum (retention) commit point: record fold epoch `foldEpoch` —
    * whose directory holds the union of every live epoch < `boundary` —
    * and expire those epochs, in ONE appended file (two rows: the fold's
    * "add" carries its row count for [[sizeStats]]; the "expire" row
    * carries the boundary in its n_rows slot — the 3-column schema is
    * shared with every pre-vacuum log). Readers flip atomically from the
    * old epoch set to {fold} ∪ {>= boundary}; a crash before this lands
    * leaves the fold directory orphaned and invisible, exactly an
    * append's failure mode.
    */
  def commitVacuum(foldEpoch: Long, boundary: Long, nRows: Long): Unit = {
    require(boundary <= foldEpoch,
      s"vacuum boundary $boundary must be <= fold epoch $foldEpoch")
    write(Seq(Commit(foldEpoch, "add", nRows),
      Commit(foldEpoch, "expire", boundary)), "append")
  }

  private def listLogFiles(): Seq[org.apache.hadoop.fs.Path] = {
    val dir = new org.apache.hadoop.fs.Path(commitsPath)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (!fs.exists(dir)) Seq.empty
      else fs.listStatus(dir).toSeq
        .filter(s => s.isFile && !s.getPath.getName.startsWith("_")
          && !s.getPath.getName.startsWith("."))
        .map(_.getPath)
    // a pre-JSONL log wrote parquet part files; no persisted store uses
    // that format, so every read and commit fails loudly instead of
    // decoding (or appending next to) half a log
    files.find(_.getName.endsWith(".parquet")).foreach { f =>
      throw new IllegalStateException(
        s"unsupported legacy parquet commit log under $commitsPath ($f); " +
          "rebuild the index or store")
    }
    files
  }

  /** The resolved liveness state: live epochs, plus the active vacuum fold
    * (fold epoch T, boundary B) if any. Rules:
    *  - a "replace" row at R kills every epoch < R (compaction, as ever);
    *  - an "expire" row (T, B) — written by [[commitVacuum]] atomically
    *    with T's "add" row — kills every epoch < B EXCEPT T itself: the
    *    `epoch=T` directory holds the FOLD of everything below B, so T is
    *    live data that logically SORTS BELOW B (snapshot reads at a pin in
    *    [B, T) must include it — [[layoutPathsAt]]);
    *  - the active expire is the one with the highest boundary among rows
    *    surviving the newest replace; superseded folds (an older vacuum's
    *    T, or any expire below a later compaction) are dead.
    * With no expire rows this degenerates to exactly the historical
    * replace-only rule — index-family logs never see expire rows.
    */
  private def resolve(): (Seq[Long], Option[(Long, Long)]) =
    resolveFrom(readCommits())

  private def resolveFrom(
      cs: Seq[Commit]): (Seq[Long], Option[(Long, Long)]) = {
    val r = cs.filter(_.action == "replace").map(_.epoch)
      .reduceOption(_ max _).getOrElse(Long.MinValue)
    val expires = cs.filter(c => c.action == "expire" && c.epoch >= r)
    val active = expires.sortBy(c => (c.nRows, c.epoch)).lastOption
    val b = active.map(_.nRows).getOrElse(Long.MinValue)
    val deadFolds = expires.map(_.epoch).toSet -- active.map(_.epoch).toSet
    val live = cs.filter(_.action != "expire").map(_.epoch)
      .filter(e => e >= r)
      .filter(e => e >= b || active.exists(_.epoch == e))
      .filterNot(deadFolds)
      .distinct.sorted
    (live, active.map(a => (a.epoch, a.nRows)))
  }

  /** Live epochs: everything at or above the newest replace epoch, minus
    * epochs expired by a vacuum fold (the fold slice itself stays live).
    */
  def committedEpochs(): Seq[Long] = resolve()._1

  /** The active vacuum fold, if any: (fold epoch T, boundary B) — the
    * `epoch=T` directory holds the union of every epoch that was < B.
    */
  def activeFold(): Option[(Long, Long)] = resolve()._2

  /** The fold plan a `vacuum(keepLast)` run would execute, shared by every
    * layout family ([[EpochIndex.vacuum]], [[graft.ml.IvfIndex.vacuum]]):
    * None when history is already within `keepLast` recent pins, else
    * (foldSet, boundary) where `foldSet` is every epoch to fold — the
    * active fold slice (logically the OLDEST content despite its high
    * epoch number, so vacuum composes) plus every non-fold pin below the
    * boundary — and `boundary` is the oldest KEPT pin. The caller reads
    * the fold set, writes one fresh slice, and lands [[commitVacuum]].
    */
  def vacuumPlan(keepLast: Int): Option[(Seq[Long], Long)] = {
    require(keepLast >= 1, s"keepLast must be >= 1, got $keepLast")
    val (live, fold) = resolve()
    // logical pin order: an active fold never counts as a kept recent pin
    val pins = live.filterNot(e => fold.exists(_._1 == e))
    if (pins.size <= keepLast) None
    else {
      val boundary = pins(pins.size - keepLast)
      Some((fold.map(_._1).toSeq ++ pins.filter(_ < boundary), boundary))
    }
  }

  /** Every epoch the log knows, live or dead — ONE log read. This is the
    * set a replace commit supersedes, so compacting callers snapshot it
    * BEFORE committing (the replace prunes the log these would be read
    * from) and prune the directories after.
    */
  def allEpochs(): Seq[Long] = readCommits().map(_.epoch).distinct.sorted

  /** The next epoch number to write (orphans from failed appends are
    * reused and overwritten, so gaps never accumulate).
    */
  def nextEpoch(): Long = nextEpochFrom(readCommits())

  /** [[nextEpoch]] over a pre-read commit seq — the one definition of
    * "next epoch", shared with the multi-layout sweep (which must derive
    * liveness and next-epoch from the SAME snapshot it swept against; a
    * second inline max-epoch formula could silently diverge from this one
    * under a future rule change and delete a directory readers still
    * list).
    */
  private def nextEpochFrom(cs: Seq[Commit]): Long =
    cs.map(_.epoch).reduceOption(_ max _).getOrElse(-1L) + 1L

  /** (live epoch count, total live rows, rows added since the last replace).
    * Pure commit-log arithmetic — no data files are touched.
    */
  def sizeStats(): (Int, Long, Long) = {
    val live = committedEpochs().toSet
    // expire rows carry the vacuum boundary in n_rows, not a row count
    val cs = readCommits().filter(c => live(c.epoch) && c.action != "expire")
    val appended = cs.filter(_.action == "add").map(_.nRows).sum
    (live.size, cs.map(_.nRows).sum, appended)
  }

  /** Sum of commit-unit counts recorded for `epochs`' add/replace rows —
    * what a vacuum fold of those epochs must carry on its own add row, so
    * [[sizeStats]] stays pure commit-log arithmetic through folds (expire
    * rows carry the boundary, not a count, and are excluded).
    */
  def rowsOf(epochs: Set[Long]): Long =
    readCommits().filter(c => epochs(c.epoch) && c.action != "expire")
      .map(_.nRows).sum

  /** Resolve a layout's committed data directories for an explicit-path
    * read (orphan epoch directories are never listed, let alone read).
    */
  def layoutPaths(layoutPath: String): Seq[String] =
    committedEpochs().map(e => s"$layoutPath/epoch=$e")

  /** [[layoutPaths]] pinned at a snapshot: only committed directories with
    * epoch <= `maxEpoch` — the time-travel read set. Epochs below the
    * newest replace are gone from the log (and their directories pruned),
    * so a pin older than the last replace/compaction resolves to the
    * replace epoch's superset state or fails the caller's existence check
    * loudly — never to a silently partial read.
    */
  def layoutPathsAt(layoutPath: String, maxEpoch: Long): Seq[String] =
    epochsAt(maxEpoch).map(e => s"$layoutPath/epoch=$e")

  /** The pinned epoch set a snapshot read at `maxEpoch` resolves — the
    * [[layoutPathsAt]] arithmetic exposed so pinned ROW statistics stay
    * commit-log-only ([[rowsOf]] over this set): the active fold slice
    * sorts NUMERICALLY above the kept epochs but holds the LOGICALLY
    * OLDEST rows (everything below the boundary), so a pin at or past the
    * boundary always includes it.
    */
  def epochsAt(maxEpoch: Long): Seq[Long] = {
    val (live, fold) = resolve()
    (live.filter(_ <= maxEpoch) ++
      fold.collect { case (t, b) if b <= maxEpoch && t > maxEpoch => t })
      .distinct.sorted
  }

  /** Best-effort recursive delete of a dead epoch directory. */
  def deleteDir(dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    try { fs.delete(p, true); () } catch { case _: java.io.IOException => () }
  }

  /** Best-effort sweep of on-disk `epoch=N` directories under
    * `layoutPath` that the resolved commit state does not consider live —
    * the garbage a crash between a replace/vacuum commit and its
    * `deleteDir` loop leaves behind (invisible to readers, who resolve
    * committed epochs first, but otherwise never reclaimed: the r16
    * verdict's one remaining lifecycle leak). Callers run this at the TOP
    * of the next vacuum/compaction, so under the log's single-writer
    * discipline no in-flight write exists; the [[nextEpoch]] number is
    * excluded anyway (an uncommitted append parked there is overwritten
    * by the next writer — the log's documented self-healing — and must
    * not be raced by a sweep). ONE commit-log read serves every layout's
    * sweep (live set and nextEpoch derive from the same snapshot).
    * Returns the swept epoch numbers.
    */
  def sweepOrphanDirs(layoutPaths: Seq[String]): Seq[Long] = {
    val cs = readCommits()
    val live = resolveFrom(cs)._1.toSet
    val next = nextEpochFrom(cs)
    layoutPaths.flatMap { layoutPath =>
      val dir = new org.apache.hadoop.fs.Path(layoutPath)
      val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(dir)) Seq.empty[Long]
      else {
        val orphans = fs.listStatus(dir).toSeq
          .filter(_.isDirectory)
          .map(_.getPath.getName)
          .filter(_.startsWith("epoch="))
          .flatMap(n => scala.util.Try(n.stripPrefix("epoch=").toLong).toOption)
          .filter(e => !live(e) && e != next)
          .sorted
        orphans.foreach(e => deleteDir(s"$layoutPath/epoch=$e"))
        orphans
      }
    }
  }
}
