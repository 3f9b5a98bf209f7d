package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Access to the driver-provided parquet tables (TESTDATA.md).
  *
  * All operators take a `sfDir` and read through here, so the same query
  * code runs at any scale factor. At cluster scale the parquet scans get
  * predicate pushdown + column pruning from Catalyst for free as long as
  * queries stay declarative (SURVEY.md §4).
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Runtime confs, set here on EVERY read so any caller-provided
    // session works: GraftSession.local already sets them, but the driver
    // hands in its own bare session (the path SmokeCheck mimics), and
    // queries read tables through here and nowhere else:
    //  - nanosAsLong lets a TIMESTAMP(NANOS) events.ts (one of the fixture
    //    encodings seen across testdata generations) load as LongType nanos
    //    instead of failing the scan outright.
    //  - session timezone is pinned to UTC so NTZ→TimestampType casts and
    //    all downstream epoch arithmetic are timezone-independent and match
    //    the DuckDB oracles byte-for-byte.
    //  - hash-mixing arithmetic (MinHash permutations, SimHash bit votes)
    //    needs Java wraparound, not ANSI overflow errors.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    // Read TIMESTAMP_MICROS(isAdjustedToUTC=0) as TimestampType AT THE
    // SCAN (raw micros, identical to the NTZ→UTC cast under the pinned
    // session tz) instead of TimestampNTZType + a cast node: time-range
    // predicates stay pushdown-eligible against the parquet row-group
    // stats — the #1 partition-pruning predicate on a 100 TB event log.
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    val df = spark.read.parquet(s"$dir/$name.parquet")
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** Scale-adaptive parallelism floor for CPU-heavy per-row stages
    * (codec encode/decode, gzip, tokenizer expression chains) — r17
    * optimization, guide §2.5 "input skew" / §2.6 "idle capacity".
    *
    * The driver's test corpus is ONE parquet row group per table, so a
    * scan plans ONE task and everything fused into that stage (the whole
    * media encode+decode pipeline, a 12-merge BPE replace chain per
    * word, gzip round trips) runs single-threaded on a 32-core box —
    * measured 5-10 s/query on the media tier. `spread` hash-shuffles the
    * rows across the session's default parallelism BEFORE the expensive
    * per-row work, but ONLY when the scan's own layout under-parallelizes
    * it: a production corpus has orders of magnitude more row groups
    * than cores, the `getNumPartitions >= target` test is true, and NO
    * shuffle is added — this must never become a full-corpus shuffle at
    * scale. (The branch consults the physical plan's partitioning, not
    * the data, so it adds no job.) Callers place it where the heavy
    * per-row stage starts, after filters/projections, so the shuffle
    * moves only the columns that stage needs.
    *
    * KNOWN BLIND SPOT (r17 advice): the decision reads the PRE-AQE
    * partition count, so behind a shuffle it sees the raw
    * shuffle-partition count (= cores) and never fires even if AQE later
    * coalesces that stage to one partition — and planning the frame to
    * ask costs an extra physical-planning pass. Callers therefore place
    * spread directly above SCANS (every registered call site does), not
    * above exchanges.
    */
  def spread(df: DataFrame): DataFrame = {
    // Streaming plans cannot answer `.rdd` (plan-time AnalysisException)
    // and micro-batches are already split by the source: pass through.
    if (df.isStreaming) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** The driver has regenerated events.parquet under different physical
    * encodings across rounds (TIMESTAMP(NANOS) in r1–r6, TIMESTAMP_MICROS
    * NTZ from r7), so dispatch on the dtype Spark actually read rather than
    * assuming one. Every branch lands on session-UTC TimestampType — the
    * type all queries and oracles assume.
    */
  private[graft] def normalizeEventsTs(df: DataFrame): DataFrame =
    df.schema("ts").dataType match {
      case LongType =>
        // Legacy nanos surfaced via nanosAsLong. ns → µs is lossless in the
        // fixtures (all ts sit on µs boundaries; see TESTDATA.md); `div` is
        // integer division on longs — `/` would go through double and lose
        // precision above 2^53 (epoch-ns is ~1.7e18).
        df.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType =>
        // TIMESTAMP_MICROS with isAdjustedToUTC=0: reinterpret the wall-clock
        // value as UTC (session tz pinned in apply), matching DuckDB's read
        // of the same file.
        df.withColumn("ts", col("ts").cast(TimestampType))
      case TimestampType => df
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported parquet dtype $other; extend " +
            "Tables.normalizeEventsTs")
    }
}
