package graft.streaming

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.Codec

/** The reference's per-record decode/filter/project stages, as one
  * declarative column pipeline (works identically on a batch DataFrame and
  * a streaming one — Structured Streaming's unification).
  *
  * Wire contract (SURVEY.md §0 steps 2–4):
  *  1. payload = gzip(UTF-8 JSON) (`app.py:36,41`); a decode failure keeps
  *     the row with null json (`app.py:37-38`);
  *  2. payloads >1 MB arrive as a *plain* S3 URL string instead of JSON —
  *     handled by wrapping into `{url: ...}` (`app.py:43-46`);
  *  3. filter `operation='insert-story' AND published` — the *documented*
  *     predicate (`README.md:227-233`), not the debug-leftover id equality
  *     at `app.py:56`;
  *  4. 9-field null-guarded projection (`app.py:57-67`) — Spark's null
  *     propagation on nested access reproduces the `.get()` guards.
  */
object EventDecoder {

  /** The Kinesis event envelope (`app.py:56-67`), declared once; the
    * permissive parse tolerates absent fields like the reference's
    * `.get()` probes. [[parseEvent]] adds the >1 MB S3-pointer `url`
    * (`app.py:43-46`).
    */
  val EventSchema: StructType = StructType(Seq(
    StructField("id", StringType),          // app.py:56,59
    StructField("operation", StringType),   // app.py:56,60 — e.g. "insert-story"
    StructField("created", BooleanType),    // app.py:61
    StructField("type", StringType),        // app.py:62
    StructField("published", BooleanType),  // app.py:56,63
    StructField("trigger", StructType(Seq(  // null-guarded at app.py:64
      StructField("referent_update", BooleanType)))),
    StructField("body", StructType(Seq(     // app.py:65-66
      StructField("headlines", StructType(Seq(
        StructField("basic", StringType)))),
      StructField("revision", LongType)))),
    // PERMISSIVE-mode capture: non-JSON input lands here whole (from_json
    // yields an all-null struct for malformed rows, so a null-struct test
    // cannot distinguish "malformed" from "JSON of all-null fields").
    StructField("_malformed", StringType)))

  /** Raw gzip bytes → decoded JSON string (null on corrupt gzip). */
  def decodePayload(data: Column): Column = Codec.gunzip(data)

  /** Decoded string → event struct with the `{url}` fallback: a payload
    * that does not parse as a JSON object but is non-null is treated as an
    * S3 pointer (`app.py:43-46`).
    */
  def parseEvent(decoded: Column): Column = {
    val parsed = from_json(decoded, EventSchema, Map(
      "mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_malformed"))
    struct(
      parsed.getField("id").as("id"),
      parsed.getField("operation").as("operation"),
      parsed.getField("created").as("created"),
      parsed.getField("type").as("type"),
      parsed.getField("published").as("published"),
      parsed.getField("trigger").as("trigger"),
      parsed.getField("body").as("body"),
      // A payload that failed JSON parsing is the >1 MB S3-url side
      // channel (`app.py:43-46`) — carried whole in the corrupt column.
      parsed.getField("_malformed").as("url"))
  }

  /** The documented stream predicate (`README.md:227-233`) — single
    * source of truth: [[decodeAndFilter]] and [[firstPublishFilter]] both
    * apply it.
    */
  def documentedFilter(operation: Column, published: Column): Column =
    operation === "insert-story" && published === true

  /** The first-publish variant the reference documents but leaves
    * commented out (`app.py:51-54`: checking `created == True` "can be
    * added to find first publishes"): the documented predicate narrowed
    * to creation events. Null-safe like the reference's `.get()` probe —
    * an absent `created` field fails the filter rather than erroring.
    */
  def firstPublishFilter(operation: Column, published: Column,
      created: Column): Column =
    documentedFilter(operation, published) && created === true

  /** The 9-field projection (`app.py:57-67`); `shard` rides in from the
    * source (shard id ≙ `spark_partition_id` for non-Kinesis sources).
    */
  def project(ev: Column, shard: Column): Seq[Column] = Seq(
    shard.cast("string").as("shard_origination"),
    ev.getField("id").as("id"),
    ev.getField("operation").as("operation"),
    ev.getField("created").as("created"),
    ev.getField("type").as("content_type"),
    ev.getField("published").as("published"),
    ev.getField("trigger").getField("referent_update").as("referent_update"),
    ev.getField("body").getField("headlines").getField("basic").as("headline"),
    ev.getField("body").getField("revision").as("revision"))

  /** Whole decode stage over a DataFrame with columns
    * `(data: binary, shard: string, ts: timestamp)` — batch or streaming.
    * Corrupt-gzip rows survive with null id and a `decode_error` marker
    * (`app.py:37-38`: log-and-continue, never fail the batch).
    */
  def decode(wire: DataFrame): DataFrame = {
    wire
      .withColumn("decoded", decodePayload(col("data")))
      // reference the NAMED decoded column (not a second decodePayload
      // instance) so decompression is evaluated once per row even where
      // subexpression elimination doesn't reach
      .withColumn("ev", parseEvent(col("decoded")))
      .withColumn("decode_error", col("data").isNotNull && col("decoded").isNull)
      .select(col("ts") +: col("decode_error") +: col("ev.url").as("url") +:
        project(col("ev"), col("shard")): _*)
  }

  /** decode + the documented filter (kept separate so tests can observe
    * pre-filter rows, e.g. url-fallback and decode-error rows).
    */
  def decodeAndFilter(wire: DataFrame): DataFrame =
    decode(wire).filter(documentedFilter(col("operation"), col("published")))
}
