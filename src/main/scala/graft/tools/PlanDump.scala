package graft.tools
/** Dump physical plans of representative queries for scale review.
  * Session shape is Bench's ([[graft.LocalSession]] at
  * $SPARK_GRAFT_CPUS, data from $SPARK_GRAFT_SF_DIR) so the dumped plan is
  * the one the bench executes.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.LocalSession(graft.LocalSession.cpusFromEnv(32))
    spark.sparkContext.setLogLevel("ERROR")
    for (name <- args) {
      println(s"========== $name ==========")
      println(graft.SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
