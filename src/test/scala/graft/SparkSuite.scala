package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session for all suites: the bench recipe
  * (`BenchProtocol.session`) at local test scale — 4 threads, 4
  * shuffle partitions — so specs run the engine Bench and Verify run,
  * graft function library included. */
trait SparkSuite extends AnyFunSuite {
  lazy val spark: SparkSession = BenchProtocol.session("4")

  val sf = "/root/testdata/sf0.001"
}
