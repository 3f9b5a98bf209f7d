package graft.perfbench

import org.apache.spark.sql.SparkSession

/** The benchmark's session, pinned to the machine it runs on:
  * `local[cores]` with `shuffle.partitions = cores`, plus the confs
  * `graft.Bench` sets (UTC, ANSI off, nanosAsLong, AQE with coalescing).
  * Every scratch path (Spark's local dir, the warehouse, the JVM tmpdir
  * the query builders write layouts under) sits inside `work`.
  */
object Session {
  def start(cores: Int, work: String): SparkSession = {
    // the bench-only layout memo graft.Bench enables: layouts are
    // deterministic per (tag, dir) within one JVM
    System.setProperty(graft.operators.Footer.LayoutMemoProp, "true")
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.ansi.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"$work/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Cores, heap and Spark version: stamped on every record. */
  def env(spark: SparkSession, cores: Int): Map[String, Any] = Map(
    "cores" -> cores,
    "heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
    "spark" -> spark.version,
    "java" -> System.getProperty("java.version"))
}
