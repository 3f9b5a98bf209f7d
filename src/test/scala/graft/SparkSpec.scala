package graft

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all suites (one JVM-wide session; suites run
  * sequentially under sbt's default test execution).
  */
trait SparkSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkSpec.session
  val Sf: String = "/root/testdata/sf0.001"

  /** Deletes `p` and everything under it, if it exists. */
  def rm(p: Path): Unit = if (Files.exists(p))
    Files.walk(p).sorted(java.util.Comparator.reverseOrder())
      .forEach(f => { Files.delete(f); () })

  /** Runs `body` on a fresh temporary directory whose name starts with
    * `prefix`, and deletes the directory when `body` returns or throws:
    * stop every query that writes there inside `body`.
    */
  def withTempDir[T](prefix: String)(body: String => T): T = {
    val dir = Files.createTempDirectory(prefix)
    try body(dir.toString) finally rm(dir)
  }
}

object SparkSpec {
  // an explicit 4, not the machine's core count: test results must not
  // depend on the machine they run on
  lazy val session: SparkSession = GraftSession.local(4)
}
