package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local SparkSession for all suites (one per JVM — sbt forks a
  * single test JVM, so every suite reuses this). */
object SparkTestBase {
  lazy val spark: SparkSession = Session.build(4)
  val sf0001 = "/root/testdata/sf0.001"
  val sf001 = "/root/testdata/sf0.01"
  // GRAFT_TEST_SF overrides the fixture dir for one-off deeper sweeps
  // (e.g. the determinism sweep at sf0.01 before a driver round)
  def sf: String = sys.env.getOrElse("GRAFT_TEST_SF", sf0001)
}

abstract class GraftSuite extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestBase.spark
  def sf: String = SparkTestBase.sf
}
