package graft.perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import scala.collection.mutable

/** One call the benchmark made into a layer. Times are epoch milliseconds
  * (fractional), on the same clock the Spark scheduler stamps jobs with.
  */
final case class Span(id: Int, parent: Int, name: String, request: Long,
    start: Double, end: Double) {
  def ms: Double = end - start
}

/** One Spark job and the task totals of its stages. */
final class JobRec(val id: Int, val start: Double, val stages: Set[Int]) {
  var end: Double = start
  var tasks = 0L
  var taskMs = 0.0
  var gcMs = 0.0
  var inputBytes = 0L
  var shuffleReadBytes = 0L
  var shuffleWriteBytes = 0L
  var outputBytes = 0L
  def movedBytes: Long = inputBytes + shuffleReadBytes + shuffleWriteBytes + outputBytes
  /** A job that moves less than 1 MB is fixed cost, not data work. */
  def small: Boolean = movedBytes < (1L << 20)
}

/** Collects every job with its stage task metrics. Registered only in the
  * traced run, so the timed run carries no listener of the benchmark's.
  */
final class JobListener extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.HashMap.empty[Int, JobRec]

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val j = new JobRec(e.jobId, e.time.toDouble, e.stageIds.toSet)
    jobs(e.jobId) = j
    e.stageIds.foreach(s => stageJob(s) = j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); m <- Option(e.taskMetrics)) {
      j.tasks += 1
      j.taskMs += m.executorRunTime
      j.gcMs += m.jvmGCTime
      j.inputBytes += m.inputMetrics.bytesRead
      j.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      j.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      j.outputBytes += m.outputMetrics.bytesWritten
    }
  }

  def snapshot(): Seq[JobRec] = synchronized(jobs.values.toVector)
}

/** Spans kept in memory for the whole run, and the job records they are
  * matched with. The client is single-threaded, so a job belongs to the
  * innermost span open when it was submitted — including jobs the program
  * launches from its own pool threads, which carry no job group.
  */
final class Tracer(val enabled: Boolean, sc: SparkContext) {
  private val nano0 = System.nanoTime()
  private val epoch0 = System.currentTimeMillis().toDouble
  def now(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  private val spans = mutable.ArrayBuffer.empty[Span]
  private var open: List[(Int, String, Long, Double)] = Nil
  private var nextId = 0
  var request = 0L

  private val listener = if (enabled) {
    val l = new JobListener
    sc.addSparkListener(l)
    Some(l)
  } else None

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = open.headOption.map(_._1).getOrElse(-1)
      open = (id, name, request, now()) :: open
      try body
      finally {
        val (_, _, req, start) = open.head
        open = open.tail
        spans += Span(id, parent, name, req, start, now())
      }
    }

  def allSpans: Seq[Span] = spans.toVector

  def jobs(): Seq[JobRec] = listener.fold(Seq.empty[JobRec]) { l =>
    org.apache.spark.PerfbenchBus.drain(sc)
    l.snapshot()
  }

  def stop(): Unit = listener.foreach(sc.removeSparkListener)
}

/** Per-span arithmetic over job records: what happened inside a set of
  * spans, and how much of their wall time no job covered.
  */
object Attribution {
  /** Jobs submitted while one of `spans` was open. */
  def jobsIn(spans: Seq[Span], jobs: Seq[JobRec]): Seq[JobRec] =
    jobs.filter(j => spans.exists(s => j.start >= s.start && j.start <= s.end))

  /** Wall time of `s` not covered by any job running inside it. */
  def betweenJobsMs(s: Span, jobs: Seq[JobRec]): Double = {
    val iv = jobs.map(j => (math.max(j.start, s.start), math.min(j.end, s.end)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0.0
    var curA = Double.NaN
    var curB = Double.NaN
    iv.foreach { case (a, b) =>
      if (curA.isNaN || a > curB) {
        if (!curA.isNaN) covered += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (!curA.isNaN) covered += curB - curA
    s.ms - covered
  }

  /** Span duration minus the time its direct children cover. */
  def selfMs(s: Span, all: Seq[Span]): Double = {
    val kids = all.filter(_.parent == s.id).sortBy(_.start)
    s.ms - kids.map(_.ms).sum
  }
}
