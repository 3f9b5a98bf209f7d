package graft

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileWriter}
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.spark.SparkException
import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat, ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructType, TimestampNTZType, TimestampType}

/** Access to the driver-provided parquet tables (TESTDATA.md).
  *
  * All operators take a `sfDir` and read through here, so the same query
  * code runs at any scale factor. At cluster scale the parquet scans get
  * predicate pushdown + column pruning from Catalyst for free as long as
  * queries stay declarative (SURVEY.md §4).
  *
  * Every read passes its schema, read on the driver from one parquet
  * footer by [[footerSchema]], so building a query starts no Spark job.
  * A plain `spark.read.parquet(path)` infers the schema with a job (a
  * parallel footer merge over the files it picked): ~70-110 ms per read
  * against ~13-24 ms for footer + schema-given read (warm `local[4]` on
  * a 4-core VM, sf0.1), and a query builder reads up to a few tables.
  * The schema is read again on every call, with no memo across queries,
  * so a timed sample still pays its own (job-free) schema read.
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
    // the schema after the confs: the converter reads them when built
    val path = s"$dir/$name.parquet"
    val df = spark.read.schema(footerSchema(spark, path)).parquet(path)
    if (name == "events") normalizeEventsTs(df) else df
  }

  /** The schema Spark's inference reads for `spark.read.parquet(path)`,
    * read on the driver from one footer, with no Spark job, through
    * Spark's own pieces: parquet-hadoop's footer reader (row groups
    * skipped) and `ParquetFileFormat.readSchemaFromFooter`, which prefers
    * the Spark row-metadata key and otherwise converts the parquet
    * `MessageType` exactly as inference does. The converter is built
    * here, from the session's conf at call time, so a caller sets
    * `nanosAsLong`, `inferTimestampNTZ`, binary-as-string and INT96
    * BEFORE calling.
    *
    * `path` is a file or an unpartitioned or partitioned directory (no
    * glob). In a directory the file is chosen as Spark's
    * `ParquetUtils.inferSchema` chooses it without schema merging:
    * `_common_metadata`, else `_metadata`, else the first data file in
    * path order, listing recursively and skipping names that start with
    * `_` or `.` (Spark's file index rule). Nullability is the file's:
    * a read given this schema reports it all-nullable, as an inferring
    * read does, and appends any partition columns.
    *
    * Failures land here, named by path and with Spark's own error
    * classes: `PATH_NOT_FOUND` for a missing path, `UNABLE_TO_INFER_SCHEMA`
    * for a directory with no data file and
    * `FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER` for a file that is not
    * parquet.
    *
    * `operators.Footer`'s pure-JDK thrift walk is not reused: it yields
    * per-column statistics, not a parquet `MessageType`, so reusing it
    * would mean re-implementing Spark's parquet-to-Spark type converter.
    */
  private[graft] def footerSchema(spark: SparkSession, path: String): StructType = {
    val conf = spark.sessionState.newHadoopConf()
    val root = new Path(path)
    val fs = root.getFileSystem(conf)
    val status =
      try fs.getFileStatus(root)
      catch {
        case _: java.io.FileNotFoundException =>
          throw new AnalysisException("PATH_NOT_FOUND",
            Map("path" -> fs.makeQualified(root).toString))
      }
    val file = if (status.isFile) status else {
      def leaves(dir: Path): Seq[FileStatus] =
        fs.listStatus(dir).toSeq.filterNot(f => hidden(f.getPath.getName))
          .flatMap(f => if (f.isDirectory) leaves(f.getPath) else Seq(f))
      val files = leaves(root).sortBy(_.getPath.toString)
      val summaries = Seq(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE,
        ParquetFileWriter.PARQUET_METADATA_FILE)
      val (meta, data) = files.partition(f => summaries.contains(f.getPath.getName))
      summaries.flatMap(n => meta.find(_.getPath.getName == n)).headOption
        .orElse(data.headOption)
        .getOrElse(throw new AnalysisException("UNABLE_TO_INFER_SCHEMA",
          Map("format" -> "Parquet")))
    }
    val footer =
      try ParquetFooterReader.readFooter(HadoopInputFile.fromStatus(file, conf),
        ParquetMetadataConverter.SKIP_ROW_GROUPS)
      catch {
        case e: Exception =>
          throw new SparkException("FAILED_READ_FILE.CANNOT_READ_FILE_FOOTER",
            Map("path" -> file.getPath.toString), e)
      }
    ParquetFileFormat.readSchemaFromFooter(new Footer(file.getPath, footer),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf))
  }

  /** Spark's file index rule: hide `_`/`.` names except the parquet
    * summaries and `k=v` partition directories, and files mid-copy. */
  private def hidden(name: String): Boolean =
    ((name.startsWith("_") && !name.contains("=")) || name.startsWith(".") ||
      name.endsWith("._COPYING_")) &&
      !name.startsWith(ParquetFileWriter.PARQUET_COMMON_METADATA_FILE) &&
      !name.startsWith(ParquetFileWriter.PARQUET_METADATA_FILE)

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
