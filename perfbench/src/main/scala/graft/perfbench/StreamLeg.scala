package graft.perfbench

import graft.streaming.Streams
import org.apache.spark.sql.types._

/** One drop-directory leg of streaming ingest: the client writes a JSON
  * drop, `Streams.ingestVectors` lands it with `Trigger.AvailableNow`, and
  * the leg waits for the query to end. Each leg has its own drop and
  * checkpoint directories under the run's root.
  */
object StreamLeg {
  val DropSchema: StructType = StructType(Seq(
    StructField("vector", ArrayType(DoubleType)),
    StructField("meta", MapType(StringType, StringType))))

  def writeDrop(dir: String, c: Corpus): Unit = {
    val p = java.nio.file.Paths.get(dir)
    java.nio.file.Files.createDirectories(p)
    val sb = new StringBuilder
    (0 until c.n).foreach { i =>
      sb ++= "{\"vector\":["
      sb ++= c.vectors(i).map(_.toString).mkString(",")
      sb ++= "],\"meta\":"
      sb ++= c.meta(i).map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString("{", ",", "}")
      sb ++= "}\n"
    }
    // written aside and renamed in, so the stream never sees a partial file
    val tmp = java.nio.file.Paths.get(s"$dir.tmp")
    java.nio.file.Files.write(tmp, sb.toString.getBytes("UTF-8"))
    java.nio.file.Files.move(tmp, p.resolve("part-0.json"))
  }

  /** Runs the leg to its end; records micro-batch counts and durations. */
  def run(ctx: Ctx, user: String, model: String, dropDir: String, checkpoint: String): Unit = {
    val q = Streams.ingestVectors(ctx.spark, dropDir, DropSchema, ctx.catalog,
      user, model, format = "json", checkpoint = Some(checkpoint))
    try q.awaitTermination()
    finally if (q.isActive) q.stop()
    val progress = q.recentProgress.filter(_.numInputRows > 0)
    ctx.count("stream.micro_batches", progress.length.toDouble)
    progress.foreach(p =>
      Option(p.durationMs.get("triggerExecution")).foreach(d => ctx.count("stream.batch_ms", d.doubleValue)))
  }
}
