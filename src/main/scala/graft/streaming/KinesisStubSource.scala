package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset, ReadLimit, SupportsTriggerAvailableNow}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** Offline CONTRACT DOUBLE for the `aws-kinesis` connector surface that
  * [[WireSource.kinesis]] targets (the spark-sql-kinesis connector is not
  * shippable in this zero-egress build — SURVEY.md §2.1). A real DSv2
  * micro-batch source over an in-memory per-shard record log, honoring
  * the production option surface with the reference's governors:
  *
  *  - `kinesis.streamName` (required) — registry key;
  *  - `kinesis.startingPosition` — `LATEST` starts at each shard's
  *    current end, records enqueued before query start are never read
  *    (≙ ShardIteratorType LATEST, `app.py:18`); `TRIM_HORIZON` starts
  *    at 0;
  *  - `kinesis.executor.maxFetchRecordsPerShard` — each micro-batch
  *    advances every shard cursor by at most this many records
  *    (≙ `get_records(Limit=20)`, `app.py:22`), via the admission-
  *    control latestOffset so restarts resume from the checkpointed
  *    cursor exactly like a bounded GetRecords loop;
  *  - `kinesis.consumerType` must be `GetRecords`; `kinesis.region` is
  *    accepted and ignored (no wire).
  *
  * Output schema is the connector's record frame (`data, streamName,
  * partitionKey, shardId, sequenceNumber, approximateArrivalTimestamp`)
  * so [[WireSource.kinesis]]'s projection runs unchanged against either
  * implementation.
  *
  * Single-JVM by design (the MemoryStream stance): the registry is
  * driver/executor-shared static state, valid under local[*] where the
  * contract tests run. DEPLOYMENT NOTE: the real connector registers the
  * same `aws-kinesis` short name — on a cluster with the connector jar,
  * exclude this library's `DataSourceRegister` service entry (or shade
  * this class out); Spark refuses ambiguous short names.
  */
class KinesisStubSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "aws-kinesis"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    KinesisStubSource.Schema
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table =
    new KinesisStubTable(new CaseInsensitiveStringMap(properties))
}

object KinesisStubSource {
  /** The connector's record schema (see WireSource.kinesis's comment). */
  val Schema: StructType = StructType(Seq(
    StructField("data", BinaryType),
    StructField("streamName", StringType),
    StructField("partitionKey", StringType),
    StructField("shardId", StringType),
    StructField("sequenceNumber", StringType),
    StructField("approximateArrivalTimestamp", TimestampType)))
}

/** In-memory per-(stream, shard) record log backing the stub: tests (or
  * a local demo) `put` records; the source reads monotonically growing
  * per-shard cursors over it. Appends are synchronized per stream so a
  * snapshot of shard lengths is a consistent offset.
  */
object KinesisStubRegistry {

  /** One enqueued record (arrival kept in epoch micros). */
  final case class Rec(data: Array[Byte], partitionKey: String,
      arrivalUs: Long, seq: Long) extends Serializable

  private val streams =
    new ConcurrentHashMap[String, collection.mutable.Map[String, ArrayBuffer[Rec]]]()
  // shards CLOSED by a reshard (split/merge parent) — further puts
  // throw, mirroring Kinesis sealing the parent's sequence range;
  // guarded by the same per-stream lock as the shard map
  private val closedShards =
    new ConcurrentHashMap[String, collection.mutable.Set[String]]()

  private def shards(stream: String) =
    streams.computeIfAbsent(stream, _ => collection.mutable.Map.empty)
  private def closedOf(stream: String) =
    closedShards.computeIfAbsent(stream, _ => collection.mutable.Set.empty)

  /** Enqueue one record; returns its per-shard sequence number. */
  def put(stream: String, shard: String, data: Array[Byte],
      arrival: java.sql.Timestamp, partitionKey: String = "pk"): Long = {
    val m = shards(stream)
    m.synchronized {
      require(!closedOf(stream).contains(shard),
        s"shard $shard of $stream is closed (resharded) — producers must " +
          "route to its children, as the Kinesis partition-key hash does")
      val buf = m.getOrElseUpdate(shard, ArrayBuffer.empty)
      val seq = buf.length.toLong
      buf += Rec(data, partitionKey, arrival.getTime * 1000L, seq)
      seq
    }
  }

  def clear(stream: String): Unit = {
    streams.remove(stream)
    closedShards.remove(stream)
  }

  /** SHARD SPLIT (≙ Kinesis SplitShard, the operation the reference's
    * hard-coded 2-shard loop `app.py:92-93` breaks on): the parent
    * CLOSES — further puts throw, like writing into a sealed sequence
    * range — and two fresh child shards open at sequence 0. Parent
    * records stay readable, so an in-flight consumer drains the
    * parent's tail from its checkpointed cursor and picks each child up
    * at cursor 0: NO LOSS, NO DUPLICATION, because every record lives
    * in exactly one shard's log. Deliberately NOT modeled: real Kinesis
    * withholds child iterators until the parent is fully consumed
    * (per-key ordering across the boundary); the tagging pipeline's
    * keyed upsert sink is arrival-order-insensitive, which is the
    * contract StreamingSpec pins.
    */
  def splitShard(stream: String, parent: String,
      childA: String, childB: String): Unit = {
    val m = shards(stream)
    m.synchronized {
      require(m.contains(parent), s"unknown parent shard $parent")
      require(!closedOf(stream).contains(parent),
        s"parent shard $parent is already closed")
      require(childA != childB, "child shards must be distinct")
      Seq(childA, childB).foreach(c =>
        require(!m.contains(c), s"child shard $c already exists"))
      closedOf(stream) += parent
      m.update(childA, ArrayBuffer.empty)
      m.update(childB, ArrayBuffer.empty)
    }
  }

  /** SHARD MERGE (≙ Kinesis MergeShards): both parents close, one child
    * opens at sequence 0. Same no-loss/no-dup argument as [[splitShard]].
    */
  def mergeShards(stream: String, parentA: String, parentB: String,
      child: String): Unit = {
    val m = shards(stream)
    m.synchronized {
      Seq(parentA, parentB).foreach { p =>
        require(m.contains(p), s"unknown parent shard $p")
        require(!closedOf(stream).contains(p),
          s"parent shard $p is already closed")
      }
      require(parentA != parentB, "parent shards must be distinct")
      require(!m.contains(child), s"child shard $child already exists")
      closedOf(stream) += parentA
      closedOf(stream) += parentB
      m.update(child, ArrayBuffer.empty)
    }
  }

  /** Consistent snapshot of per-shard record counts. */
  private[streaming] def shardEnds(stream: String): Map[String, Long] = {
    val m = shards(stream)
    m.synchronized(m.map { case (s, buf) => s -> buf.length.toLong }.toMap)
  }

  private[streaming] def slice(stream: String, shard: String,
      from: Long, until: Long): Array[Rec] = {
    val m = shards(stream)
    m.synchronized(
      m.get(shard).map(_.slice(from.toInt, until.toInt).toArray)
        .getOrElse(Array.empty))
  }
}

private[streaming] class KinesisStubTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {

  private val streamName = {
    val n = options.get("kinesis.streamName")
    require(n != null && n.nonEmpty, "kinesis.streamName is required")
    n
  }

  override def name(): String = s"aws-kinesis-stub:$streamName"
  override def schema(): StructType = KinesisStubSource.Schema
  override def capabilities(): java.util.Set[TableCapability] =
    Set(TableCapability.MICRO_BATCH_READ).asJava

  override def newScanBuilder(opts: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = KinesisStubSource.Schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        val pos = Option(options.get("kinesis.startingPosition")).getOrElse("LATEST")
        require(pos == "LATEST" || pos == "TRIM_HORIZON",
          s"kinesis.startingPosition must be LATEST or TRIM_HORIZON, got $pos")
        val consumer = Option(options.get("kinesis.consumerType")).getOrElse("GetRecords")
        require(consumer == "GetRecords",
          s"the stub implements the GetRecords consumer only, got $consumer")
        val maxFetch = Option(options.get("kinesis.executor.maxFetchRecordsPerShard"))
          .map(_.toInt).getOrElse(20) // ≙ get_records(Limit=20), app.py:22
        require(maxFetch > 0, "maxFetchRecordsPerShard must be positive")
        new KinesisStubStream(streamName, pos, maxFetch)
      }
    }
}

/** Shard-cursor offset: `{"shard": nextIndex, ...}` (sorted keys so the
  * checkpoint representation is stable), written and read by Jackson —
  * a quote or backslash in a shard name must round-trip the checkpoint
  * intact, not corrupt it into a silent cursor reset (re-delivery).
  */
private[graft] case class KinesisStubOffset(cursors: Map[String, Long])
    extends Offset {
  override def json(): String = KinesisStubOffset.mapper.writeValueAsString(
    new java.util.TreeMap[String, Long](cursors.asJava))
}

private[graft] object KinesisStubOffset {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
  def parse(json: String): KinesisStubOffset =
    KinesisStubOffset(mapper.readValue(json,
      new com.fasterxml.jackson.core.`type`.TypeReference[
        java.util.Map[String, Number]] {})
      .asScala.map { case (s, n) => s -> n.longValue }.toMap)
}

private[streaming] class KinesisStubStream(stream: String,
    startingPosition: String, maxFetchPerShard: Int)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  private def ends: Map[String, Long] = KinesisStubRegistry.shardEnds(stream)

  // Under Trigger.AvailableNow: the shard ends at query start, the bound
  // every capped batch of the run stops at. None under any other trigger.
  @volatile private var availableNowEnds: Option[Map[String, Long]] = None

  /** Without this, Spark wraps the source and asks it ONCE for all
    * available data — and the per-shard cap then ends the whole run after
    * its first capped batch, leaving the backlog unread. With it, the
    * run drains the backlog present at start in capped batches.
    */
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowEnds = Some(ends)

  override def initialOffset(): Offset =
    KinesisStubOffset(
      if (startingPosition == "TRIM_HORIZON") ends.map { case (s, _) => s -> 0L }
      else ends) // LATEST: cursors at each shard's current end

  // the engine uses the admission-control overload below when
  // SupportsAdmissionControl is implemented
  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) is the governed path")

  /** The Limit=20 governor: each trigger advances every shard cursor by
    * at most maxFetchPerShard past the RESTORED start — exactly a
    * bounded get_records loop per shard, restart-safe because `start`
    * comes from the checkpoint. Under AvailableNow the ends are the ones
    * snapshotted at query start, so the run stops at the backlog it saw.
    */
  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val s = start.asInstanceOf[KinesisStubOffset].cursors
    KinesisStubOffset(availableNowEnds.getOrElse(ends).map { case (sh, end) =>
      sh -> math.min(end, s.getOrElse(sh, 0L) + maxFetchPerShard)
    })
  }

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def reportLatestOffset(): Offset = KinesisStubOffset(ends)

  override def deserializeOffset(json: String): Offset =
    KinesisStubOffset.parse(json)

  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[KinesisStubOffset].cursors
    val e = end.asInstanceOf[KinesisStubOffset].cursors
    e.toSeq.sortBy(_._1).flatMap { case (sh, until) =>
      val from = s.getOrElse(sh, 0L)
      if (until > from)
        Some(KinesisStubPartition(stream, sh,
          KinesisStubRegistry.slice(stream, sh, from, until)): InputPartition)
      else None
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PartitionReaderFactory {
      override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
        val part = p.asInstanceOf[KinesisStubPartition]
        new PartitionReader[InternalRow] {
          private var i = -1
          override def next(): Boolean = { i += 1; i < part.recs.length }
          override def get(): InternalRow = {
            val r = part.recs(i)
            new GenericInternalRow(Array[Any](
              r.data,
              UTF8String.fromString(part.stream),
              UTF8String.fromString(r.partitionKey),
              UTF8String.fromString(part.shard),
              UTF8String.fromString(r.seq.toString),
              r.arrivalUs))
          }
          override def close(): Unit = ()
        }
      }
    }
}

/** One shard slice, records materialized at planning time (test-scale —
  * the registry is in-memory anyway).
  */
private[streaming] case class KinesisStubPartition(stream: String,
    shard: String, recs: Array[KinesisStubRegistry.Rec])
    extends InputPartition
