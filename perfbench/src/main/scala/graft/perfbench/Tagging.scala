package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress, Trigger}
import org.apache.spark.sql.types._

import graft.streaming._
import graft.streaming.AnsModel._

/** The paper's dataflow, Kinesis -> decode -> filter -> dedup -> GET/PUT
  * tagging, run through the public `TagPipeline.start` over the offline
  * `aws-kinesis` stub. Layers are read from outside the program: the
  * engine's `StreamingQueryProgress` (source, trigger and state-store
  * numbers), a [[TimedStore]] around the sink, the `DraftApiStub`'s
  * request counter, and a batch `EventDecoder` job over the same wire
  * records.
  */
object Tagging {
  val Shards = 4

  /** Collects every progress event of every streaming query. */
  final class ProgressLog extends StreamingQueryListener {
    private val events = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      events.add(e.progress)
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    def of(id: java.util.UUID): Seq[StreamingQueryProgress] =
      events.asScala.filter(_.id == id).toSeq.sortBy(_.batchId)
  }

  def wire(spark: SparkSession, stream: String, position: String,
      cap: Int): DataFrame =
    spark.readStream.format("aws-kinesis")
      .option("kinesis.streamName", stream)
      .option("kinesis.region", "local")
      .option("kinesis.consumerType", "GetRecords")
      .option("kinesis.startingPosition", position)
      .option("kinesis.executor.maxFetchRecordsPerShard", cap.toLong)
      .load()
      .select(col("data"), col("shardId").as("shard"),
        col("approximateArrivalTimestamp").as("ts"))

  def shardName(i: Int): String = f"shardId-$i%012d"

  def dur(p: StreamingQueryProgress, k: String): Double =
    Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private val OffsetEntry = "\"[^\"]+\"\\s*:\\s*(\\d+)".r
  def offsetSum(json: String): Long =
    if (json == null) 0L
    else OffsetEntry.findAllMatchIn(json).map(_.group(1).toLong).sum

  def startNs(p: StreamingQueryProgress): Long = {
    val i = java.time.Instant.parse(p.timestamp)
    i.getEpochSecond * 1000000000L + i.getNano
  }

  /** Source, trigger and dedup-state layers from the engine's progress
    * reports. Durations are means per data trigger; counts are totals.
    */
  def progressLayers(ps: Seq[StreamingQueryProgress]): Map[String, Double] = {
    val data = ps.filter(_.numInputRows > 0)
    def mean(f: StreamingQueryProgress => Double): Double =
      if (data.isEmpty) 0.0 else data.map(f).sum / data.size
    val ops = (p: StreamingQueryProgress) => p.stateOperators.toSeq
    val last = data.lastOption.map(ops).getOrElse(Nil)
    Map(
      "source.latest_offset_ms" -> mean(dur(_, "latestOffset")),
      "source.get_batch_ms" -> mean(dur(_, "getBatch")),
      "source.records" -> ps.map(_.numInputRows).sum.toDouble,
      "source.lag_max_records" -> ps.flatMap(_.sources.toSeq).map(s =>
        (offsetSum(s.latestOffset) - offsetSum(s.endOffset)).toDouble)
        .foldLeft(0.0)(math.max),
      "trigger.count" -> ps.size.toDouble,
      "trigger.no_data_count" -> (ps.size - data.size).toDouble,
      "trigger.p50_ms" -> Stats.median(data.map(dur(_, "triggerExecution"))),
      "trigger.query_planning_ms" -> mean(dur(_, "queryPlanning")),
      "trigger.wal_commit_ms" -> mean(dur(_, "walCommit")),
      "trigger.commit_offsets_ms" -> mean(dur(_, "commitOffsets")),
      "trigger.add_batch_ms" -> mean(dur(_, "addBatch")),
      "dedup.state_rows" -> last.map(_.numRowsTotal).sum.toDouble,
      "dedup.state_bytes" -> last.map(_.memoryUsedBytes).sum.toDouble,
      "dedup.update_ms" -> mean(p => ops(p).map(_.allUpdatesTimeMs).sum.toDouble),
      "dedup.commit_ms" -> mean(p => ops(p).map(_.commitTimeMs).sum.toDouble),
      "dedup.dropped_rows" -> ps.flatMap(ops).map(o =>
        Option(o.customMetrics.get("numDroppedDuplicateRows"))
          .map(_.doubleValue).getOrElse(0.0)).sum)
  }

  /** Sink layer from the decorator's counters (deltas over a window). */
  final case class StoreCounts(calls: Long, attempts: Long, noops: Long,
      busyNs: Long, durations: Int)
  def counts(s: TimedStore): StoreCounts = StoreCounts(s.calls.get,
    s.attempts.get, s.noops.get, s.busyNs.get, s.durationsNs.size)

  def storeLayers(s: TimedStore, from: StoreCounts, to: StoreCounts,
      httpRequests: Long, addBatchMs: Double): Map[String, Double] = {
    val calls = (to.calls - from.calls).toDouble
    val busyMs = (to.busyNs - from.busyNs) / 1e6
    val durs = s.durationsMs.slice(from.durations, to.durations)
    val noops = (to.noops - from.noops).toDouble
    Map(
      "store.update_calls" -> calls,
      "store.update_ms" -> busyMs,
      "store.update_p50_ms" -> Stats.quantile(durs, 0.5),
      "store.update_p99_ms" -> Stats.quantile(durs, 0.99),
      "store.http_requests" -> httpRequests.toDouble,
      "store.requests_per_update" -> (if (calls > 0) httpRequests / calls else 0.0),
      "store.conflict_retries" -> ((to.attempts - from.attempts) - calls),
      "store.noop_writes" -> noops,
      "store.useful_write_ratio" -> (if (calls > 0) (calls - noops) / calls else 0.0),
      "store.parallelism" -> (if (addBatchMs > 0) busyMs / addBatchMs else 0.0))
  }

  /** Decode and filter as a batch job over the same wire records: the
    * decoder's row accounting plus a timed `decodeAndFilter`.
    */
  def decodeLayers(spark: SparkSession, evs: Seq[Events.Ev]): Map[String, Double] = {
    val schema = StructType(Seq(StructField("data", BinaryType),
      StructField("shard", StringType), StructField("ts", TimestampType)))
    val ts = new java.sql.Timestamp(System.currentTimeMillis())
    val df = spark.createDataFrame(
      evs.map(e => Row(e.payload, shardName(e.shard), ts)).asJava, schema)
    val r = EventDecoder.decode(df).agg(count(lit(1)),
      sum(when(col("decode_error"), 1).otherwise(0)), count(col("url")),
      sum(when(EventDecoder.documentedFilter(col("operation"),
        col("published")), 1).otherwise(0))).collect().head
    val times = Seq.fill(3) {
      val t0 = System.nanoTime()
      Suite.consume(EventDecoder.decodeAndFilter(df)).collect()
      (System.nanoTime() - t0) / 1e6
    }
    Map("decode.rows_in" -> r.getLong(0).toDouble,
      "decode.errors" -> r.getLong(1).toDouble,
      "decode.url_rows" -> r.getLong(2).toDouble,
      "decode.filtered_out" -> (r.getLong(0) - r.getLong(3)).toDouble,
      "decode.batch_ms" -> Stats.median(times))
  }

  /** Trigger spans under `parent`, with the engine's duration split laid
    * out in execution order (the progress report gives durations, not
    * start times, so the children's placement is approximate).
    */
  def triggerSpans(spans: Spans, parent: Long, ps: Seq[StreamingQueryProgress]): Unit =
    if (spans.enabled) ps.foreach { p =>
      val s = startNs(p)
      val tid = spans.add("trigger", parent, s,
        s + (dur(p, "triggerExecution") * 1e6).toLong,
        Map("batch" -> p.batchId, "rows" -> p.numInputRows))
      var at = s
      Seq("latestOffset", "walCommit", "getBatch", "queryPlanning",
        "addBatch", "commitOffsets").foreach { k =>
        val d = (dur(p, k) * 1e6).toLong
        spans.add(k, tid, at, at + d)
        at += d
      }
    }

  def put(stream: String, e: Events.Ev, arrival: java.sql.Timestamp): Unit =
    KinesisStubRegistry.put(stream, shardName(e.shard), e.payload, arrival,
      partitionKey = e.id)

  def mergeMedian(ms: Seq[Map[String, Double]]): Map[String, Double] =
    ms.flatMap(_.keys).distinct.map(k =>
      k -> Stats.median(ms.map(_.getOrElse(k, 0.0)))).toMap
}

/** Catch-up after a consumer outage: a seeded backlog over four shards,
  * read from TRIM_HORIZON with a per-shard fetch cap that drains it in a
  * handful of triggers, tagged through `HttpDocumentStore` against an
  * in-process `DraftApiStub` while an editor thread makes conditional
  * revision bumps on a hot set of the same documents.
  *
  * The drain runs under `Trigger.ProcessingTime(0)` and ends when
  * `processAllAvailable` returns, not under `Trigger.AvailableNow`: the
  * stub's admission control applies the fetch cap even to the
  * all-available limit AvailableNow asks for, so an AvailableNow query
  * stops after the first capped batch and leaves the rest unread.
  */
final class Drain(spark: SparkSession, work: String, seed: Long,
    spans: Spans) extends Workload {
  import Tagging._
  val Backlog = 200
  val Cap = 7
  val HotDocs = 4
  val EditEveryMs = 2L
  private val log = new ProgressLog
  spark.streams.addListener(log)
  private var rep = 0

  final case class Rep(wallS: Double, latMs: Seq[Double],
      triggerMs: Seq[Double], attempted: Int, failures: Seq[String],
      layers: Map[String, Double])

  /** Untimed drains before the timed ones: after a single one, the next
    * drain still took about 1.5 times as long as the later ones.
    */
  val WarmUpDrains = 2

  def warmUp(): Unit = (1 to WarmUpDrains).foreach(_ => once(0L))

  def measure(seed: Long, seconds: Double, root: Long): Result = {
    val start = System.nanoTime()
    val reps = scala.collection.mutable.ArrayBuffer.empty[Rep]
    while (reps.size < 2 || (System.nanoTime() - start) / 1e9 < seconds)
      reps += once(root)
    val lat = reps.flatMap(_.latMs).toSeq
    val (p, p99) = Stats.tailPercentile(lat)
    val wall = Stats.median(reps.map(_.wallS).toSeq)
    val fails = reps.flatMap(_.failures).toSeq
    Result(reps.map(_.attempted).sum, fails.size,
      Map("records_per_s" -> Stats.median(reps.map(Backlog / _.wallS).toSeq),
        "latency_p50_ms" -> Stats.median(lat),
        "latency_p99_ms" -> p99,
        "work_s" -> wall,
        "work_geomean_s" -> Stats.geomean(reps.flatMap(_.triggerMs).map(_ / 1000).toSeq)),
      mergeMedian(reps.map(_.layers).toSeq) ++ Map(
        "tag.latency_samples" -> lat.size.toDouble, "trace.work_s" -> wall),
      Map("reps" -> reps.size, "latency_tail_percentile" -> p,
        "failures" -> fails.take(20)))
  }

  private def once(parent: Long): Rep = {
    rep += 1
    val stream = s"drain-$seed-$rep"
    val evs = Events.generate(seed * 1000 + rep, s"d$seed-$rep", Backlog,
      Events.DrainMix, Shards)
    val priors = Events.priors(seed * 1000 + rep, evs)
    val arrival = new java.sql.Timestamp(System.currentTimeMillis())
    KinesisStubRegistry.clear(stream)
    evs.foreach(e => put(stream, e, arrival))
    val stub = new DraftApiStub
    try {
      val http = new HttpDocumentStore(stub.baseUrl)
      // untimed set-up: enough threads that the stub's per-request
      // round trip does not dominate the run
      val pool = Executors.newFixedThreadPool(16)
      priors.toSeq.flatMap { case (id, p) => Events.priorDoc(id, p) }
        .grouped(8).map(docs => pool.submit(new Runnable {
          def run(): Unit = docs.foreach(http.upsert)
        })).toList.foreach(_.get())
      pool.shutdown()
      val rng = new scala.util.Random(seed * 1000 + rep)
      val hot = rng.shuffle(priors.filter(_._2 != Events.Absent).keys.toSeq.sorted)
        .take(HotDocs).toIndexedSeq
      val bumps = new ConcurrentHashMap[String, Integer]()
      val store = new TimedStore(http, spans)
      val key = s"drain-$seed-$rep"
      val hits0 = stub.hits.get
      val c0 = counts(store)
      @volatile var stop = false
      // the editor's own GET + conditional PUT per attempt, counted so
      // that store.http_requests holds the tagger's requests alone
      val ed = new TimedStore(new HttpDocumentStore(stub.baseUrl), Spans.Off)
      val editor = new Thread(() => {
        var i = 0
        while (!stop) {
          val id = hot(i % hot.size)
          ed.update(id)(d => d.get.copy(revision = d.get.revision.map(_ + 1)))
          bumps.merge(id, 1, (a, b) => a + b)
          i += 1
          Thread.sleep(EditEveryMs)
        }
      })
      val repSpan = spans.open("drain", parent)
      val t0 = spans.now
      editor.start()
      val q = TagPipeline.start(spark, wire(spark, stream, "TRIM_HORIZON", Cap),
        store, s"$work/checkpoints/$key", trigger = Trigger.ProcessingTime(0L),
        storeKey = key)
      q.processAllAvailable()
      val t1 = spans.now
      q.stop()
      stop = true
      editor.join()
      val hits = stub.hits.get - hits0 - 2 * ed.attempts.get
      val c1 = counts(store)
      spans.close(repSpan, Map("rep" -> rep))
      org.apache.spark.BusDrain(spark.sparkContext)
      val ps = log.of(q.id)
      triggerSpans(spans, repSpan, ps)
      val (attempted, failures) = Events.check(evs, priors,
        bumps.asScala.map { case (k, v) => k -> v.intValue }.toMap, http.snapshot)
      val lat = evs.filter(_.kind == Events.Publish).flatMap(e =>
        Option(store.committedAt.get(e.id)).map(c => (c - t0) / 1e6))
      val pl = progressLayers(ps)
      val layers = pl ++ storeLayers(store, c0, c1, hits,
          pl("trigger.add_batch_ms") * ps.count(_.numInputRows > 0)) ++
        Map("editor.bumps" -> bumps.values.asScala.map(_.intValue).sum.toDouble) ++
        (if (spans.enabled) decodeLayers(spark, evs) else Map.empty)
      KinesisStubRegistry.clear(stream)
      Rep((t1 - t0) / 1e9, lat,
        ps.filter(_.numInputRows > 0).map(p => dur(p, "triggerExecution")),
        attempted + hot.size, failures, layers)
    } finally stub.stop()
  }
}

/** Steady publishing: an open-loop generator thread puts events on a
  * fixed schedule into the stub; the pipeline reads from LATEST with the
  * reference's Limit=20 per shard under `Trigger.ProcessingTime(0)` into
  * an `InMemoryDocumentStore` (no round trip). Latency runs from an
  * event's scheduled send time to the return of its tag commit.
  *
  * The untimed warm-up runs the query under the generator's load for
  * `WarmUpS` after its first trigger: its triggers kept getting faster
  * for 15 to 25 s after the query started (by about a third from the
  * first to the steady ones), so a shorter warm-up put part of that
  * slope into the window.
  */
final class Live(spark: SparkSession, work: String, seed: Long,
    spans: Spans) extends Workload {
  import Tagging._
  val Rate = 100.0
  val Cap = 20
  val WarmUpS = 12.0
  val DrainDeadlineS = 15.0
  private val log = new ProgressLog
  spark.streams.addListener(log)
  private val stream = s"live-$seed"
  private val store = new TimedStore(new InMemoryDocumentStore, spans)
  private var evs: IndexedSeq[Events.Ev] = IndexedSeq.empty
  private val scheduled = new ConcurrentHashMap[String, java.lang.Long]()
  private val lateness = new ConcurrentLinkedQueue[java.lang.Double]()
  @volatile private var sent = 0
  @volatile private var stopAt = Long.MaxValue
  private var g0 = 0L
  private var gen: Thread = _
  private var query: org.apache.spark.sql.streaming.StreamingQuery = _

  def warmUp(): Unit = {
    KinesisStubRegistry.clear(stream)
    query = TagPipeline.start(spark, wire(spark, stream, "LATEST", Cap), store,
      s"$work/checkpoints/$stream", trigger = Trigger.ProcessingTime(0L),
      storeKey = stream)
    // LATEST reads from the cursor the first trigger fixes: send nothing
    // before it has run
    while (query.lastProgress == null) {
      query.exception.foreach(e => throw e)
      Thread.sleep(10)
    }
    g0 = spans.now
    // the whole schedule, warm-up plus the longest window a run asks for,
    // is generated up front; the thread stops at `stopAt`
    evs = Events.generate(seed, s"l$seed", (Rate * (WarmUpS + 60)).toInt,
      Events.LiveMix, Shards).toIndexedSeq
    gen = new Thread(() => {
      var i = 0
      while (i < evs.size && g0 + (i * 1e9 / Rate).toLong < stopAt) {
        val at = g0 + (i * 1e9 / Rate).toLong
        val wait = at - spans.now
        if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
        val e = evs(i)
        put(stream, e, new java.sql.Timestamp(System.currentTimeMillis()))
        scheduled.putIfAbsent(e.id, at)
        lateness.add((spans.now - at) / 1e6)
        i += 1
        sent = i
      }
    })
    gen.setDaemon(true)
    gen.start()
    Thread.sleep((WarmUpS * 1000).toLong)
  }

  def measure(seed: Long, seconds: Double, root: Long): Result = {
    val w0 = g0 + (WarmUpS * 1e9).toLong
    val w1 = w0 + (seconds * 1e9).toLong
    val first = math.ceil((w0 - g0) * Rate / 1e9).toInt
    val c0 = counts(store)
    stopAt = w1
    gen.join()
    val atStop = spans.now
    val lastSent = sent
    val winIds = evs.slice(first, lastSent).filter(_.kind == Events.Publish).map(_.id)
    val deadline = w1 + (DrainDeadlineS * 1e9).toLong
    val all = evs.take(lastSent)
    val pubIds = all.filter(_.kind == Events.Publish).map(_.id)
    while (spans.now < deadline && !pubIds.forall(store.committedAt.containsKey))
      Thread.sleep(20)
    val c1 = counts(store)
    val backlogAtStop = {
      val ps = log.of(query.id).filter(p => startNs(p) <= atStop)
      lastSent - ps.lastOption.map(p => p.sources.map(s => offsetSum(s.endOffset)).sum)
        .getOrElse(0L)
    }
    query.stop()
    org.apache.spark.BusDrain(spark.sparkContext)
    val ps = log.of(query.id).filter(p => startNs(p) >= w0 && startNs(p) < w1)
    triggerSpans(spans, root, ps)
    val lat = winIds.flatMap(id =>
      Option(store.committedAt.get(id)).map(c => (c - scheduled.get(id)) / 1e6))
    val (p, p99) = Stats.tailPercentile(lat)
    val lastCommit = winIds.flatMap(id => Option(store.committedAt.get(id)))
      .map(_.longValue).foldLeft(w0)(math.max)
    val priors = pubIds.map(_ -> (Events.Absent: Events.Prior)).toMap
    val (attempted, fails) = Events.check(all, priors, Map.empty, store.snapshot)
    val trig = ps.filter(_.numInputRows > 0).map(dur(_, "triggerExecution"))
    val pl = progressLayers(ps)
    val winEvents = lastSent - first
    Result(attempted, fails.size,
      Map("records_per_s" -> winEvents / ((lastCommit - w0) / 1e9),
        "latency_p50_ms" -> Stats.median(lat),
        "latency_p99_ms" -> p99,
        "work_s" -> Stats.median(trig) / 1000,
        "work_geomean_s" -> Stats.geomean(trig.map(_ / 1000))),
      pl ++ storeLayers(store, c0, c1, 0L,
          pl("trigger.add_batch_ms") * ps.count(_.numInputRows > 0)) ++
        (if (spans.enabled) decodeLayers(spark, evs.slice(first, lastSent))
         else Map.empty) ++ Map(
        "gen.lateness_p99_ms" -> Stats.quantile(
          lateness.asScala.map(_.doubleValue).toSeq.slice(first, lastSent), 0.99),
        "gen.backlog_records" -> backlogAtStop.toDouble,
        "tag.latency_samples" -> lat.size.toDouble,
        "trace.work_s" -> Stats.median(trig) / 1000),
      Map("window_events" -> winEvents, "latency_tail_percentile" -> p,
        "failures" -> fails.take(20)))
  }

  override def close(): Unit = {
    stopAt = 0L
    if (query != null && query.isActive) query.stop()
    KinesisStubRegistry.clear(stream)
  }
}
