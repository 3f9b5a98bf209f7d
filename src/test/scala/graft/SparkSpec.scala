package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default test execution).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf: String = "/root/testdata/sf0.001"
}

object SparkSpec {
  // an explicit 4, not the machine's core count: test results must not
  // depend on the machine they run on
  lazy val session: SparkSession = GraftSession.local(4)
}
