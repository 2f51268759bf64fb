package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session per suite: the shipped [[GraftSession]] factory, the same
  * session Verify and Bench run on. */
trait SparkTestBase extends AnyFunSuite {
  lazy val spark: SparkSession =
    GraftSession.builder("graft-test", "local[4]", 4).getOrCreate()

  val sf: String = "/root/testdata/sf0.001"
}
