package graft.tools

import org.apache.spark.scheduler._
import scala.collection.mutable

/** Per-job profiler for a single declared query (optimization-round tooling).
  *
  * Runs one named SparkEntry query with the SAME session shape as Bench
  * ([[graft.LocalSession]] at $SPARK_GRAFT_CPUS), once as a
  * discarded warm-up and once measured, and prints every Spark job the
  * measured run submitted: duration, stage count, task count, shuffle
  * read/write bytes, and the first line of the job's call site. The job
  * breakdown is what the optimization guide §1 asks for when the UI is
  * unavailable: it shows where a multi-phase lifecycle query actually
  * spends its seconds (which write, which aggregation, which collect).
  *
  * Usage: sbt "runMain graft.tools.QueryProfile q167_query_time_travel"
  */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <queryName> [queryName ...]")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession(graft.LocalSession.cpusFromEnv(32))
    spark.sparkContext.setLogLevel("WARN")

    case class JobRow(id: Int, var site: String = "", var t0: Long = 0L,
      var t1: Long = 0L, var nStages: Int = 0, var nTasks: Int = 0,
      var shufR: Long = 0L, var shufW: Long = 0L, var input: Long = 0L)
    val jobs = mutable.LinkedHashMap[Int, JobRow]()
    val stageToJob = mutable.HashMap[Int, Int]()
    @volatile var collecting = false
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = if (collecting) {
        val r = JobRow(js.jobId)
        // every stage name carries its own call site ("explode at
        // NgramLm.scala:804"); the distinct set attributes the job far
        // better than the single action-side call site does
        r.site = js.stageInfos.map(_.name.takeWhile(_ != '+').trim)
          .distinct.mkString(" | ")
        r.t0 = js.time
        r.nStages = js.stageIds.size
        js.stageIds.foreach(sid => stageToJob(sid) = js.jobId)
        jobs.synchronized { jobs(js.jobId) = r }
      }
      override def onJobEnd(je: SparkListenerJobEnd): Unit =
        jobs.synchronized { jobs.get(je.jobId).foreach(_.t1 = je.time) }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit = {
        val si = sc.stageInfo
        stageToJob.get(si.stageId).foreach { jid =>
          jobs.synchronized {
            jobs.get(jid).foreach { r =>
              r.nTasks += si.numTasks
              r.shufR += si.taskMetrics.shuffleReadMetrics.totalBytesRead
              r.shufW += si.taskMetrics.shuffleWriteMetrics.bytesWritten
              r.input += si.taskMetrics.inputMetrics.bytesRead
            }
          }
        }
        // slow stages: print the graft frames of the creation-site stack,
        // which the one-line name (an AQE future thread) hides
        val wall = for {
          t0 <- si.submissionTime; t1 <- si.completionTime
        } yield t1 - t0
        if (collecting && wall.exists(_ > 500)) {
          val graftFrames = si.details.split("\n")
            .filter(l => l.contains("graft.") || l.contains("Streams") ||
              l.contains("SparkEntry")).take(4)
          println(s"[slow stage ${si.stageId}] ${wall.get} ms, " +
            s"${si.numTasks} tasks: ${si.name.takeWhile(_ != '+').trim}\n" +
            graftFrames.map("    " + _).mkString("\n"))
        }
      }
    }
    spark.sparkContext.addSparkListener(listener)

    args.foreach { name =>
      val fn = graft.SparkEntry.queries(name)
      // warm-up (discarded): plan compilation, codegen, page cache
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      jobs.synchronized { jobs.clear() }
      collecting = true
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.mode("overwrite").format("noop").save()
      val wall = (System.nanoTime() - t0) / 1e9
      collecting = false
      Thread.sleep(300) // let the listener bus drain
      val rows = jobs.synchronized { jobs.values.toSeq }
      println(f"\n=== $name: measured wall ${wall}%.2f s, ${rows.size} jobs ===")
      println(f"${"ms"}%7s ${"stg"}%3s ${"tsk"}%4s ${"input"}%9s ${"shufR"}%9s ${"shufW"}%9s  site")
      rows.foreach { r =>
        val ms = r.t1 - r.t0
        println(f"$ms%7d ${r.nStages}%3d ${r.nTasks}%4d ${r.input}%9d ${r.shufR}%9d ${r.shufW}%9d  ${r.site}")
      }
      val tot = rows.map(r => r.t1 - r.t0).sum
      println(f"sum of job wall: ${tot / 1000.0}%.2f s (gaps = driver work: ${wall - tot / 1000.0}%.2f s)")
    }
    spark.stop()
  }
}
