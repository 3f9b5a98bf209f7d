package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, sum, xxhash64}

/** The one way a graft main (and the test suite) builds its session and
  * times a query:
  *
  *  - [[local]]: `local[cpus]` with every conf the query paths expect
  *    set once at build time (UTC, ANSI off, nanosAsLong, AQE with
  *    partition coalescing, UI off) and ERROR logging — WARN floods the
  *    stderr tail with the bounded-histogram SinglePartition window
  *    warnings;
  *  - [[main]]: the lifecycle every main shares;
  *  - [[checksum]] and [[sample]]: the bench consumer and the timed-sample
  *    discipline (one cache scope per sample, caches cleared and a GC
  *    breather after it).
  */
object GraftSession {

  /** `SPARK_GRAFT_CPUS`, or else the machine's core count. */
  private def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors())

  def local(cpus: Int = defaultCpus): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // driver heap is set at JVM launch (build.sbt javaOptions -Xmx from
      // SPARK_DRIVER_MEM); a spark.driver.memory conf here would be a no-op
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Run a main's body on a [[local]] session, stop the session and exit.
    * The explicit exit is required: the wire queries lazily start
    * in-process stub endpoints whose JDK HttpServer dispatcher thread is
    * non-daemon, so a main that merely returned would pin the JVM after
    * its work is done. A body that throws exits with status 1.
    */
  def main(body: SparkSession => Unit): Unit = {
    val spark = local()
    val status =
      try { body(spark); 0 }
      catch { case e: Throwable => e.printStackTrace(); 1 }
    spark.stop()
    System.out.flush()
    sys.exit(status)
  }

  /** Row checksum consumer: xxhash64 over every output column, summed.
    * Unlike count(), it forces every output cell to materialize (a bare
    * count lets Catalyst prune unreferenced columns and cardinality-
    * neutral joins); only a final presentation ORDER BY is still elided.
    */
  def checksum(df: DataFrame): Unit =
    df.select(xxhash64(df.columns.map(col): _*).as("h")).agg(sum("h")).head()

  /** One timed sample: build the plan fresh and consume it inside one
    * [[CachePool.scoped]] block, so the scope drops the persisted
    * intermediates on close. The time is taken before the close, so
    * release cost is not billed to the query. Afterwards the catalog cache
    * is cleared and the collector gets a breather, so the next sample is
    * not billed for this one's garbage. A throw from `build` or `consume`
    * gives None: a failed sample is never timed.
    */
  def sample(build: => DataFrame)(consume: DataFrame => Unit): Option[Double] = {
    val t0 = System.nanoTime()
    val t =
      try CachePool.scoped {
        consume(build)
        Some((System.nanoTime() - t0) / 1e9)
      }
      catch { case _: Throwable => None }
    SparkSession.active.catalog.clearCache()
    System.gc()
    t
  }

  /** Median of `n` samples drawn by `draw`, or None as soon as one fails
    * (the remaining samples are not drawn).
    */
  def medianOf(n: Int)(draw: => Option[Double]): Option[Double] = {
    val ts = Iterator.continually(draw).take(n).takeWhile(_.isDefined)
      .flatten.toSeq
    if (ts.size == n) Some(median(ts)) else None
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.length % 2 == 1) s(s.length / 2)
    else (s(s.length / 2 - 1) + s(s.length / 2)) / 2.0
  }
}
