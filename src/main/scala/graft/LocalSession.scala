package graft

import org.apache.spark.sql.SparkSession

/** The one local session shape shared by every main (Bench, Verify, Demo,
  * QueryProfile, PlanDump) and the spec suite, so a plan a spec or a
  * profile sees is the plan the bench and the oracle dump execute:
  * `local[cpus]` with one shuffle partition per core, UTC session time,
  * AQE on, UI off.
  */
object LocalSession {

  /** `SPARK_GRAFT_CPUS` when set, else `default`. */
  def cpusFromEnv(default: Int): Int =
    sys.env.get("SPARK_GRAFT_CPUS").map(_.trim.toInt).getOrElse(default)

  def apply(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      // events.parquet carries INT64 TIMESTAMP(NANOS) which Spark rejects;
      // read as long nanos and convert explicitly in the queries
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    graft.functions.windows.muteNoPartitionWarning() // all global windows here are bounded
    spark
  }
}
