package graft

import org.scalatest.funsuite.AnyFunSuite

/** The session confs the oracle dump and the bench depend on, as
  * [[LocalSession]] sets them (the spec suite's session is built by it).
  */
class LocalSessionSpec extends AnyFunSuite with SparkSpec {

  test("the shared session carries the bench and oracle confs") {
    val conf = spark.conf
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true",
      "events' TIMESTAMP(NANOS) must read as long nanos")
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.shuffle.partitions") == SparkSpec.Cpus.toString,
      "one shuffle partition per core")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
  }
}
