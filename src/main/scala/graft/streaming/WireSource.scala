package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Source factories producing the pipeline's wire frame
  * `(data: binary, shard: string, ts: timestamp)`. Everything downstream
  * of the frame is source-agnostic — swapping Kinesis for a file replay
  * or a MemoryStream is a one-line change, which is the whole point
  * (SURVEY.md §2.1: the Kinesis source is connector config, not engine
  * logic).
  */
object WireSource {

  /** Kinesis (production): expects an `aws-kinesis` DSv2 source on the
    * classpath. In production that is the spark-sql-kinesis connector
    * (not shipped in this offline build — by design; the reference's
    * `aws.py` STS/role wiring maps to connector options, the reference's
    * governors map as commented). Offline, [[KinesisStubSource]]
    * registers the SAME short name and honors the same option surface
    * (LATEST skip, per-shard fetch cap), so this factory executes
    * end-to-end in StreamingSpec — the swap-in is purely which jar
    * provides the format.
    */
  def kinesis(spark: SparkSession, streamName: String, region: String,
      maxFetchPerShard: Int = 20): DataFrame =
    kinesisRecords(spark, streamName, region, maxFetchPerShard)
      .select(col("data"),
        col("shardId").as("shard"),
        col("approximateArrivalTimestamp").as("ts"))

  /** The `aws-kinesis` source with the reference's five connector
    * options; connector schema: data, streamName, partitionKey, shardId,
    * sequenceNumber, approximateArrivalTimestamp.
    */
  private def kinesisRecords(spark: SparkSession, streamName: String,
      region: String, maxFetchPerShard: Int): DataFrame =
    spark.readStream
      .format("aws-kinesis")
      .option("kinesis.streamName", streamName)
      .option("kinesis.region", region)
      .option("kinesis.consumerType", "GetRecords")
      // ≙ the reference's ShardIteratorType LATEST (`app.py:18`)
      .option("kinesis.startingPosition", "LATEST")
      // ≙ get_records(Limit=20) (`app.py:22`)
      .option("kinesis.executor.maxFetchRecordsPerShard", maxFetchPerShard)
      .load()

  /** [[kinesis]] with KCL-equivalent KPL DEAGGREGATION (r11): a real
    * high-throughput stream ships KPL-aggregated records (many user
    * records per Kinesis record, the public magic+protobuf+md5 format —
    * [[Kpl]]), which the plain consumer would hand downstream as opaque
    * blobs. This factory flatMaps each record through the deaggregator
    * (magic-less records pass through as single user records) and then
    * runs the KCL's subsequence-checkpoint semantics Spark-natively: a
    * watermark-bounded dedup on (shard, sequence, subsequence), so a
    * restart or replay that RE-READS the same Kinesis record (same
    * sequence number, partially-processed aggregate) never re-delivers
    * a user record inside the [[KplDedupHorizon]]. A producer RETRY that
    * re-ships an aggregate is a different case — Kinesis assigns the
    * re-shipped record a NEW sequence number, so this dedup cannot absorb
    * it; that duplicate reaches the tag sink, whose idempotent write
    * turns it into a no-op (exactly the KCL's contract too: subsequence
    * checkpoints cover consumer-side replays, producer dedup is the
    * application's job). Deaggregation is per-row expression work
    * (stateless, partition-local); only the dedup carries state, aged
    * out by the watermark.
    */
  def kinesisKpl(spark: SparkSession, streamName: String, region: String,
      maxFetchPerShard: Int = 20): DataFrame = {
    import spark.implicits._
    val raw = kinesisRecords(spark, streamName, region, maxFetchPerShard)
      .select(col("data"), col("partitionKey"), col("shardId"),
        col("sequenceNumber"), col("approximateArrivalTimestamp"))
      .as[(Array[Byte], String, String, String, java.sql.Timestamp)]
    raw.flatMap { case (data, pk, shard, seq, ts) =>
      Kpl.deaggregate(data, pk).map(ur =>
        (ur.data, shard, seq, ur.subSeq, ts))
    }.toDF("data", "shard", "seq", "sub_seq", "ts")
      .withWatermark("ts", KplDedupHorizon)
      .dropDuplicatesWithinWatermark("shard", "seq", "sub_seq")
      .select(col("data"), col("shard"), col("ts"))
  }

  /** How long [[kinesisKpl]]'s dedup remembers a user record. */
  private val KplDedupHorizon = "10 minutes"

  /** Bounded replay of an event-log parquet (batch ≡ stream): re-encodes
    * the events table as wire frames — the test/backfill source.
    */
  def eventLogReplay(spark: SparkSession, dir: String): DataFrame =
    wireShaped(graft.Tables(spark, dir, "events"))

  /** Events as wire frames: gzipped props, the partition as the shard. */
  private def wireShaped(events: DataFrame): DataFrame =
    events.select(
      graft.functions.Codec.gzip(col("props")).as("data"),
      spark_partition_id().cast("string").as("shard"),
      col("ts"))

  /** STREAMING replay of the event-log parquet: a real file-source stream
    * (micro-batched by the engine), wire-shaped like [[eventLogReplay]].
    * Backfill-through-the-same-pipeline is exactly how a 100 TB history
    * reload runs: same query, streaming source pointed at the archive.
    *
    * @param eventsDir a DIRECTORY of event-log parquet files (the file
    *                   streaming source tails directories, not files).
    */
  def eventLogReplayStream(spark: SparkSession, eventsDir: String): DataFrame = {
    // legacy ns timestamps need the same conf batch reads use; the tz
    // pin keeps an NTZ-encoded ts on the same UTC instant as batch
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    // the RAW file schema (whatever encoding this fixture generation
    // used); ts normalization happens post-load through the SAME dtype
    // dispatch Tables uses for batch, so batch ≡ stream holds across
    // testdata regenerations; read from a footer, so no inference job
    val raw = graft.Tables.footerSchema(spark, eventsDir)
    wireShaped(graft.Tables.normalizeEventsTs(
      spark.readStream.schema(raw).parquet(eventsDir)))
  }
}
