package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared test harness: one SparkSession per forked test JVM, from the
  * same factory as the Verify/Bench sessions, at a fixed
  * local[4] whatever SPARK_GRAFT_CPUS says. */
object SparkSpec {
  lazy val spark: SparkSession = Bootstrap.local(4)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
}

abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.spark
  val sf0001: String = SparkSpec.sf0001
  val sf001: String = SparkSpec.sf001
}
