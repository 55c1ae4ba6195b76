package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared session fixture: the same [[GraftSession.build]] session Verify
  * runs on, so tests see what the DuckDB correctness gate sees. One
  * session per forked test JVM. */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  /** Unit tests run at the smallest SF; the driver gate runs sf0.01. */
  val sf = "/root/testdata/sf0.001"
}

object SparkSpec {
  lazy val session: SparkSession = GraftSession.build("4")
}
