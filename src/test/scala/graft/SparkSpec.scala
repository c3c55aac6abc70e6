package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session base for all suites: the product session at 4 cpus.
  * The cpu count is pinned, not read from the environment: Tables.fanOut
  * gates on defaultParallelism, so PLANS.json's fingerprints depend on it. */
abstract class SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = Sessions.local(4)
  val sf = "/root/testdata/sf0.001"
}
