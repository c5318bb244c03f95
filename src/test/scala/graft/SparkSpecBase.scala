package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites: the bench session
  * ([[GraftSession.build]]) on `local[4]` with 4 shuffle partitions
  * (one JVM-wide session; `getOrCreate` makes suites reuse it
  * regardless of load order). */
trait SparkSpecBase extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpecBase.session
  val sfDir = "/root/testdata/sf0.001"
}

object SparkSpecBase {
  lazy val session: SparkSession = GraftSession.build(cores = 4)
}
