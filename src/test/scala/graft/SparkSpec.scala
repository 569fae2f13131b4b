package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole test JVM, in the same shape as
  * Bench and Verify ([[LocalSession]]) at a fixed 4 cores.
  */
object SparkSpec {
  val Cpus = 4

  lazy val spark: SparkSession = LocalSession(Cpus)
}

trait SparkSpec {
  lazy val spark: SparkSession = SparkSpec.spark
}
