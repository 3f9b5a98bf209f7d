package graft

import java.nio.file.{Files, Path}
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
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

  /** The jobs and SQL executions Spark started while this listener was
    * on: each job's job group, and each execution's description (its
    * action's call site, or a streaming batch's description naming the
    * run id) and job group. "" stands for no group.
    */
  class SparkLog extends SparkListener {
    private val jobGroups = new ConcurrentLinkedQueue[String]()
    private val execs = new ConcurrentLinkedQueue[(String, String)]()
    private val marker = s"drain-${UUID.randomUUID()}"
    private val drained = new CountDownLatch(1)
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties)
      if (props.exists(_.getProperty("spark.job.description") == marker))
        drained.countDown()
      else jobGroups.add(props.flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        .getOrElse(""))
    }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        execs.add((s.description, s.jobGroupId.getOrElse("")))
      case _ =>
    }

    /** Waits until every event posted so far has reached this listener:
      * the bus delivers in order, so it waits for a marker job's start. */
    def drain(): Unit = {
      val sc = spark.sparkContext
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(drained.await(30, TimeUnit.SECONDS), "the listener bus did not drain")
    }

    def jobsIn(group: String): Int = jobGroups.asScala.count(_ == group)

    /** Descriptions of the SQL executions started in `group`. */
    def executionsIn(group: String): Seq[String] =
      execs.asScala.collect { case (d, g) if g == group => d }.toSeq

    def executions: Seq[String] = execs.asScala.map(_._1).toSeq
  }

  /** What `body` started on this thread: it runs in a fresh job group
    * with a [[SparkLog]] on, and the bus is drained before the count.
    * Gives `body`'s result, its number of jobs and the descriptions of
    * its SQL executions.
    */
  def startedBy[T](body: => T): (T, Int, Seq[String]) = {
    val sc = spark.sparkContext
    val log = new SparkLog
    val group = s"spec-${UUID.randomUUID()}"
    sc.addSparkListener(log)
    try {
      sc.setJobGroup(group, "")
      sc.setJobDescription(null) // an execution then keeps its call site
      val out = try body finally sc.clearJobGroup()
      log.drain()
      (out, log.jobsIn(group), log.executionsIn(group))
    } finally sc.removeSparkListener(log)
  }
}

object SparkSpec {
  // an explicit 4, not the machine's core count: test results must not
  // depend on the machine they run on
  lazy val session: SparkSession = GraftSession.local(4)
}
