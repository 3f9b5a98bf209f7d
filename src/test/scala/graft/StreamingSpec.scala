package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.execution.exchange.Exchange
import org.apache.spark.sql.execution.streaming.operators.stateful.StatefulOperator
import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

import graft.functions.Codec
import graft.streaming._
import graft.streaming.AnsModel._

/** Streaming-semantics tests (SURVEY.md §5 rule 4): MemoryStream- and
  * Kinesis-stub-driven micro-batches through the real StreamExecution
  * engine — the end-to-end tag pipeline (decode, first-publish filter,
  * idempotent upsert sink), its checkpoints and restarts, and the
  * document stores it writes to.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._
  import StreamingSpec._

  private def gz(s: String): Array[Byte] = Codec.gzipBytes(s.getBytes(UTF_8))
  private def t(min: Int): Timestamp = new Timestamp(1700000000000L + min * 60000L)
  private def ev(json: String, minute: Int, shard: String = "s0") =
    Wire(gz(json), shard, t(minute))
  private def story(id: String): String =
    s"""{"id":"$id","operation":"insert-story","published":true,
       |"body":{"headlines":{"basic":"h-$id"},"revision":1}}""".stripMargin

  /** Runs `body` with the session's checkpoint file manager set to
    * `manager`, or unset (so [[TagPipeline]] picks its own); restores the
    * session's setting after.
    */
  private def withCheckpointFileManager[T](manager: Option[String])(
      body: => T): T = {
    val key = TagPipeline.CheckpointFileManagerKey
    val saved = spark.conf.getOption(key)
    manager.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    try body finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }
  private def checkpointFileManager(ckpt: String) =
    org.apache.spark.sql.execution.streaming.checkpointing.CheckpointFileManager
      .create(new org.apache.hadoop.fs.Path(ckpt),
        spark.sessionState.newHadoopConf())

  test("tag pipeline end-to-end: filter + enrich + idempotent upsert across micro-batches") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Wire]
    val store = new InMemoryDocumentStore
    store.upsert(AnsDoc("A", Some(3L), Some(Taxonomy(Some(Seq(Tag("x", "x")))))))
    withTempDir("graft-ckpt-") { ckpt =>
      // ProcessingTime(0): continuous micro-batches, so data added AFTER
      // start is reliably picked up (AvailableNow snapshots its offsets at
      // start — racing addData against it is flaky under load); prod
      // cadence is 3 s ≙ app.py:78.
      val q = TagPipeline.start(spark, ms.toDF(), store, ckpt,
        trigger = Trigger.ProcessingTime(0))

      // batch 1: A (already in store, has other tag), B (unknown → created),
      // an unpublished story and an update op (both filtered out).
      ms.addData(
        ev(story("A"), 0), ev(story("B"), 1),
        ev("""{"id":"C","operation":"insert-story","published":false}""", 2),
        ev("""{"id":"D","operation":"update-story","published":true}""", 3))
      q.processAllAvailable()

      // batch 2: A redelivered (idempotence ⇒ no double tag).
      ms.addData(ev(story("A"), 4))
      q.processAllAvailable()
      q.stop()

      val a = store.get("A").get
      assert(a.taxonomy.get.tags.get == Seq(Tag("x", "x"), AutoTag)) // appended once, order kept
      val b = store.get("B").get
      assert(b.taxonomy.get.tags.get == Seq(AutoTag)) // created from nothing
      assert(store.get("C").isEmpty && store.get("D").isEmpty) // filtered out
      assert(store.size == 2)
    }
  }

  test("kinesis contract: WireSource.kinesis end-to-end through TagPipeline (LATEST skip + per-shard fetch cap)") {
    val stream = "unit-tag-events"
    KinesisStubRegistry.clear(stream)
    // enqueued BEFORE query start: LATEST must never read it
    KinesisStubRegistry.put(stream, "shardId-000000000000",
      gz(story("PRE")), t(0))
    val store = new InMemoryDocumentStore
    withTempDir("graft-kinesis-ckpt-") { ckpt =>
      val wire = WireSource.kinesis(spark, stream, "us-east-1",
        maxFetchPerShard = 2)
      val q = TagPipeline.start(spark, wire, store, ckpt,
        trigger = Trigger.ProcessingTime(0), storeKey = "kinesis-test")
      try {
        // LATEST initial offset snapshots at stream start; enqueue after
        q.processAllAvailable()
        (1 to 5).foreach { i =>
          KinesisStubRegistry.put(stream, "shardId-000000000000",
            gz(story(s"K$i")), t(i))
        }
        KinesisStubRegistry.put(stream, "shardId-000000000001",
          gz(story("K6")), t(6))
        q.processAllAvailable()
        assert(store.get("PRE").isEmpty, "LATEST must skip pre-start records")
        (1 to 6).foreach { i =>
          assert(store.get(s"K$i").exists(_.taxonomy.get.tags.get == Seq(AutoTag)),
            s"K$i not tagged")
        }
        // the Limit governor (app.py:22): no micro-batch read more than
        // maxFetchPerShard records from any shard — 5 records on shard 0
        // under cap 2 force ≥ 3 batches, each ≤ cap × shards rows
        val batches = q.recentProgress.filter(_.numInputRows > 0)
        assert(batches.length >= 3,
          s"5 records under a per-shard cap of 2 need >= 3 fetches, got ${batches.length}")
        assert(batches.forall(_.numInputRows <= 2 * 2),
          "a micro-batch exceeded maxFetchRecordsPerShard x shards")
      } finally {
        q.stop()
        KinesisStubRegistry.clear(stream)
      }
    }
  }

  test("kinesis AvailableNow: a capped backlog drains every id in ceil(N/(k*c)) data triggers, then the query ends") {
    val stream = "unit-available-now"
    KinesisStubRegistry.clear(stream)
    val (n, shards, cap) = (30, 3, 4)
    (1 to n).foreach(i => KinesisStubRegistry.put(stream, s"shard-${i % shards}",
      gz(story(s"AN$i")), t(i)))
    val store = new InMemoryDocumentStore
    withTempDir("graft-kinesis-an-") { ckpt =>
      val wire = spark.readStream.format("aws-kinesis")
        .option("kinesis.streamName", stream)
        .option("kinesis.startingPosition", "TRIM_HORIZON")
        .option("kinesis.executor.maxFetchRecordsPerShard", cap)
        .load()
        .select(col("data"), col("shardId").as("shard"),
          col("approximateArrivalTimestamp").as("ts"))
      val q = TagPipeline.start(spark, wire, store, ckpt,
        trigger = Trigger.AvailableNow(), storeKey = "kinesis-an")
      try {
        assert(q.awaitTermination(120000), "AvailableNow must end on its own")
        assert(q.exception.isEmpty)
        (1 to n).foreach(i => assert(
          store.get(s"AN$i").exists(_.taxonomy.get.tags.get == Seq(AutoTag)),
          s"AN$i not tagged"))
        val data = q.recentProgress.filter(_.numInputRows > 0)
        val expected = math.ceil(n.toDouble / (shards * cap)).toInt
        assert(data.length == expected,
          s"expected $expected capped triggers, got ${data.map(_.numInputRows).toSeq}")
        assert(data.forall(_.numInputRows <= shards * cap))
        assert(data.map(_.numInputRows).sum == n)
      } finally {
        q.stop()
        KinesisStubRegistry.clear(stream)
      }
    }
  }

  test("first-publish filter works unchanged on a stream (batch/stream unification)") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Wire]
    def storyC(id: String, created: Boolean): String =
      s"""{"id":"$id","operation":"insert-story","published":true,"created":$created}"""
    ms.addData(
      ev(storyC("first", created = true), 0),
      ev(storyC("repub", created = false), 1),
      ev(story("nocreated"), 2))
    val out = EventDecoder.decode(ms.toDF())
      .filter(EventDecoder.firstPublishFilter(
        col("operation"), col("published"), col("created")))
    val q = out.writeStream.format("memory").queryName("first_pub")
      .trigger(Trigger.AvailableNow()).start()
    q.processAllAvailable(); q.stop()
    val ids = spark.table("first_pub").collect().map(_.getAs[String]("id"))
    assert(ids.toSeq == Seq("first"))
  }

  test("checkpoint recovery: a restarted query resumes without re-tagging") {
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Wire]
    val store = new InMemoryDocumentStore
    withTempDir("graft-recover-") { ckpt =>

      // data added BEFORE start: AvailableNow snapshots available offsets
      // at query start, so adding afterwards races the snapshot
      ms.addData(ev(story("R1"), 0), ev(story("R2"), 1))
      val q1 = TagPipeline.start(spark, ms.toDF(), store, ckpt,
        trigger = Trigger.AvailableNow(), storeKey = "recover-test")
      q1.processAllAvailable()
      q1.stop()
      assert(store.size == 2)
      val r1Before = store.get("R1").get

      // restart from the same checkpoint; new data plus (simulated) source
      // replay of R1 — the replay finds R1 tagged and changes nothing
      ms.addData(ev(story("R1"), 2), ev(story("R3"), 3))
      val q2 = TagPipeline.start(spark, ms.toDF(), store, ckpt,
        trigger = Trigger.AvailableNow(), storeKey = "recover-test")
      q2.processAllAvailable()
      q2.stop()

      assert(store.size == 3) // R3 added
      assert(store.get("R1").get == r1Before) // replayed R1: no change at all
      assert(store.get("R1").get.taxonomy.get.tags.get.count(_ == AutoTag) == 1)
    }
  }

  test("file-backed store: upserts survive a process-restart boundary, idempotently") {
    implicit val sqlCtx = spark.sqlContext
    withTempDir("graft-docstore-") { dir =>
      withTempDir("graft-docstore-ckpt-") { ckpt =>
        val ms = MemoryStream[Wire]
        ms.addData(ev(story("D1"), 0), ev(story("D2"), 1))
        val q1 = TagPipeline.start(spark, ms.toDF(), new FileDocumentStore(dir),
          ckpt, trigger = Trigger.AvailableNow(), storeKey = "file-store-test")
        q1.processAllAvailable(); q1.stop()

        // a FRESH store instance on the same root sees the documents — the
        // durability the in-memory store cannot provide
        val reopened = new FileDocumentStore(dir)
        assert(reopened.size == 2)
        val d1Before = reopened.get("D1").get
        assert(d1Before.taxonomy.get.tags.get == Seq(AutoTag))

        // redelivery after "restart": checkpoint + idempotent upsert → no
        // double tag, byte-identical doc
        ms.addData(ev(story("D1"), 2))
        val q2 = TagPipeline.start(spark, ms.toDF(), reopened, ckpt,
          trigger = Trigger.AvailableNow(), storeKey = "file-store-test")
        q2.processAllAvailable(); q2.stop()
        assert(new FileDocumentStore(dir).get("D1").get == d1Before)
      }
    }
  }

  test("tag pipeline under the RocksDB state store (the at-scale state backend)") {
    // The one stateful stage a tag query can hold is the KPL wire's
    // subsequence dedup. The HDFS-backed default state store holds its
    // in-watermark keys on-heap; RocksDB is the production backend. Same
    // pipeline, state provider swapped by config only.
    val key = "spark.sql.streaming.stateStore.providerClass"
    val saved = spark.conf.getOption(key)
    val stream = "unit-rocksdb-stream"
    KinesisStubRegistry.clear(stream)
    try {
      spark.conf.set(key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
      val store = new InMemoryDocumentStore
      withTempDir("graft-rocksdb-") { ckpt =>
        val q = TagPipeline.start(spark,
          WireSource.kinesisKpl(spark, stream, "us-east-1"), store, ckpt,
          trigger = Trigger.ProcessingTime(0), storeKey = "rocksdb-test")
        try {
          q.processAllAvailable() // LATEST snapshots the (empty) stream head
          KinesisStubRegistry.put(stream, "shard-a",
            Kpl.aggregate(Seq("RD1", "RD2").map(id => id -> gz(story(id)))), t(0))
          q.processAllAvailable()
          // a producer retry re-ships RD1 under a new sequence number
          KinesisStubRegistry.put(stream, "shard-a", gz(story("RD1")), t(2))
          q.processAllAvailable()
          val stateful = q.recentProgress.filter(_.numInputRows > 0)
            .flatMap(_.stateOperators)
          assert(stateful.nonEmpty &&
            stateful.forall(_.customMetrics.keySet.asScala.exists(_.startsWith("rocksdb"))),
            "the KPL dedup did not run on the RocksDB state store")
        } finally q.stop()
        assert(store.size == 2)
        assert(store.get("RD1").get.taxonomy.get.tags.get == Seq(AutoTag),
          "redelivered id must stay single-tagged under the RocksDB store")
      }
    } finally {
      KinesisStubRegistry.clear(stream)
      saved match {
        case Some(v) => spark.conf.set(key, v)
        case None    => spark.conf.unset(key)
      }
    }
  }

  test("kinesis checkpoint recovery: killed mid-stream, the restart resumes the cursors — no loss, no re-tag") {
    // r8 verdict item 4. The reference documents the OPPOSITE behavior:
    // LATEST with no sequence-number persistence loses position on every
    // restart (app.py:18). Here the restarted query must restore the
    // checkpointed shard cursors: records that arrived while the consumer
    // was DOWN are delivered (LATEST must not re-snapshot), and nothing
    // already processed is double-tagged.
    val stream = "unit-recover-stream"
    KinesisStubRegistry.clear(stream)
    val store = new InMemoryDocumentStore
    withTempDir("graft-kinesis-recover-") { ckpt =>
      def startQuery() = TagPipeline.start(spark,
        WireSource.kinesis(spark, stream, "us-east-1", maxFetchPerShard = 2),
        store, ckpt, trigger = Trigger.ProcessingTime(0),
        storeKey = "kinesis-recover")
      val q1 = startQuery()
      try {
        q1.processAllAvailable() // LATEST snapshots the (empty) stream head
        (1 to 3).foreach(i => KinesisStubRegistry.put(stream,
          "shardId-000000000000", gz(story(s"R$i")), t(i)))
        q1.processAllAvailable()
        assert(store.size == 3, "pre-kill records must be tagged")
      } finally q1.stop() // the mid-stream kill
      // records arrive while the consumer is down — the reference would
      // lose these on restart
      (4 to 6).foreach(i => KinesisStubRegistry.put(stream,
        "shardId-000000000000", gz(story(s"R$i")), t(i)))
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        (1 to 6).foreach { i =>
          assert(store.get(s"R$i").exists(
            _.taxonomy.get.tags.get == Seq(AutoTag)),
            s"R$i lost across the restart or double-tagged")
        }
        assert(store.size == 6)
      } finally {
        q2.stop()
        KinesisStubRegistry.clear(stream)
      }
    }
  }

  test("checkpoint file managers: a kinesis checkpoint restarts default → local → default with no loss and no re-read") {
    // The file manager is not pinned by the checkpoint: each restart may
    // switch it, and the offsets written under one are read under the
    // other. The counting store sees exactly one update per record put
    // (a redelivered id is put again while the query is down, so it is
    // updated again): a source that re-read its offsets after a switch
    // would show as an extra update.
    val stream = "unit-fm-restart-stream"
    KinesisStubRegistry.clear(stream)
    val store = new CountingStore(new InMemoryDocumentStore)
    withTempDir("graft-fm-restart-") { ckpt =>
      def put(i: Int): Unit = KinesisStubRegistry.put(stream,
        "shardId-000000000000", gz(story(s"R$i")), t(i))
      def phase(manager: Option[String])(whileUp: => Unit): Unit =
        withCheckpointFileManager(manager) {
          val q = TagPipeline.start(spark,
            WireSource.kinesis(spark, stream, "us-east-1", maxFetchPerShard = 2),
            store, ckpt, trigger = Trigger.ProcessingTime(0),
            storeKey = "fm-restart")
          try {
            q.processAllAvailable()
            whileUp
            q.processAllAvailable()
            assert(checkpointFileManager(ckpt).getClass.getName ==
              manager.getOrElse(classOf[LocalCheckpointFileManager].getName))
          } finally q.stop()
        }
      try {
        phase(Some(DefaultCheckpointFileManager)) { put(1); put(2) }
        put(3); put(1) // while down: a new id and a redelivered one
        phase(None) { put(4) }
        put(5); put(3)
        phase(Some(DefaultCheckpointFileManager)) {}
        (1 to 5).foreach { i =>
          assert(store.get(s"R$i").exists(_.taxonomy.get.tags.get == Seq(AutoTag)),
            s"R$i lost across a file-manager switch")
        }
        assert(store.updates.get == 7,
          s"7 records put, ${store.updates.get} updates: a file-manager switch lost or re-read records")
      } finally KinesisStubRegistry.clear(stream)
    }
  }

  test("local checkpoint file manager: the pipeline writes the default manager's file set, every file checksummed") {
    import org.apache.hadoop.fs.{ChecksumException, FileSystem, Path => HPath}
    // the KPL wire, so that the query holds a stateful stage (its
    // subsequence dedup) and writes state files
    val stream = "unit-fm-files-stream"
    def start(ckpt: String) = TagPipeline.start(spark,
      WireSource.kinesisKpl(spark, stream, "us-east-1"),
      new InMemoryDocumentStore, ckpt, trigger = Trigger.ProcessingTime(0),
      storeKey = "fm-files")
    def put(id: String, minute: Int): Unit =
      KinesisStubRegistry.put(stream, "shard-a", gz(story(id)), t(minute))
    // two runs of one query on one checkpoint, the second a restart with
    // a redelivered id
    def run(manager: Option[String], ckpt: String): Unit = {
      KinesisStubRegistry.clear(stream)
      withCheckpointFileManager(manager) {
        val q1 = start(ckpt)
        try {
          q1.processAllAvailable() // LATEST snapshots the (empty) stream head
          put("F1", 0); put("F2", 1)
          q1.processAllAvailable()
        } finally q1.stop()
        put("F1", 2); put("F3", 3) // while down
        val q2 = start(ckpt)
        try q2.processAllAvailable() finally q2.stop()
        assert(checkpointFileManager(ckpt).getClass.getName ==
          manager.getOrElse(classOf[LocalCheckpointFileManager].getName))
      }
    }
    def files(dir: String): Seq[java.nio.file.Path] = {
      val s = Files.walk(java.nio.file.Paths.get(dir))
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      finally s.close()
    }
    def masked(dir: String): Set[String] = files(dir).map(p =>
      java.nio.file.Paths.get(dir).relativize(p).toString
        .replaceAll("[0-9]+", "N")).toSet

    withTempDir("graft-fm-files-") { default =>
      withTempDir("graft-fm-files-") { local =>
        run(Some(DefaultCheckpointFileManager), default)
        run(None, local)
        assert(masked(local) == masked(default))
        Seq("offsets/.N.crc", "commits/.N.crc", "state/N/N/N.delta",
            "state/N/N/.N.delta.crc", "state/N/N/N.delta.crc").foreach { f =>
          assert(masked(local).contains(f), s"$f missing from ${masked(local)}")
        }

        // every file reads back through Hadoop with its checksum verified
        val lfs = FileSystem.getLocal(spark.sessionState.newHadoopConf())
        lfs.setVerifyChecksum(true)
        files(local).filterNot(p => p.getFileName.toString.startsWith(".") &&
            p.getFileName.toString.endsWith(".crc")).foreach { p =>
          val in = lfs.open(new HPath(p.toUri))
          try in.readAllBytes() finally in.close()
        }

        // a flipped byte in the latest offset-log entry stops the restart
        val offsets = files(local).filter(p =>
          p.getParent.getFileName.toString == "offsets" &&
            p.getFileName.toString.forall(_.isDigit))
          .maxBy(_.getFileName.toString.toLong)
        val bytes = Files.readAllBytes(offsets)
        bytes(bytes.length / 2) = (bytes(bytes.length / 2) ^ 1).toByte
        Files.write(offsets, bytes)
        put("F4", 4)
        val e = intercept[Throwable] {
          val q = start(local)
          try q.processAllAvailable() finally q.stop()
        }
        KinesisStubRegistry.clear(stream)
        assert(Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .exists(_.isInstanceOf[ChecksumException]), e)
      }
    }
  }

  test("local checkpoint file manager: atomic writes refuse an existing file, cancel without a trace, and overwrite the checksum too") {
    import org.apache.hadoop.conf.Configuration
    import org.apache.hadoop.fs.{FileAlreadyExistsException, FileSystem, Path => HPath}
    import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager}
    val conf = new Configuration()
    withTempDir("graft-fm-atomic-") { d =>
      val dir = java.nio.file.Paths.get(d)
      withTempDir("graft-fm-atomic-ref-") { r =>
        val ref = java.nio.file.Paths.get(r)
        val fm = new LocalCheckpointFileManager(new HPath(dir.toUri), conf)
        val refFm = new FileContextBasedCheckpointFileManager(new HPath(ref.toUri), conf)
        def write(m: CheckpointFileManager, root: java.nio.file.Path,
            bytes: Array[Byte], overwrite: Boolean): Unit = {
          val out = m.createAtomic(new HPath(root.resolve("0").toUri), overwrite)
          out.write(bytes); out.close()
        }
        def listing: Set[String] = {
          val s = Files.list(dir)
          try s.iterator().asScala.map(_.getFileName.toString).toSet
          finally s.close()
        }
        def bytesOf(name: String, root: java.nio.file.Path = dir) =
          Files.readAllBytes(root.resolve(name)).toSeq

        // 1300 bytes: two full 512-byte chunks and a partial one
        val first = Array.tabulate[Byte](1300)(i => (i * 7).toByte)
        write(fm, dir, first, overwrite = false)
        write(refFm, ref, first, overwrite = false)
        assert(listing == Set("0", ".0.crc"))
        assert(bytesOf(".0.crc") == bytesOf(".0.crc", ref),
          "the side file must be Hadoop's own checksum file")

        intercept[FileAlreadyExistsException](
          write(fm, dir, "late writer".getBytes(UTF_8), overwrite = false))
        assert(bytesOf("0") == first.toSeq && bytesOf(".0.crc") == bytesOf(".0.crc", ref))
        assert(listing == Set("0", ".0.crc"))

        val cancelled = fm.createAtomic(new HPath(dir.resolve("1").toUri), false)
        cancelled.write(first)
        cancelled.cancel()
        assert(listing == Set("0", ".0.crc"), "cancel left a file behind")

        val second = "overwritten".getBytes(UTF_8)
        write(fm, dir, second, overwrite = true)
        write(refFm, ref, second, overwrite = true)
        assert(listing == Set("0", ".0.crc"))
        assert(bytesOf(".0.crc") == bytesOf(".0.crc", ref),
          "an overwrite must replace the stale checksum")
        val lfs = FileSystem.getLocal(conf)
        lfs.setVerifyChecksum(true)
        val in = lfs.open(new HPath(dir.resolve("0").toUri))
        try assert(in.readAllBytes().toSeq == second.toSeq) finally in.close()
      }
    }
  }

  test("ranged blob fetch: Range honored, ignored-Range degraded, 5xx absorbed, 404 loud") {
    import spark.implicits._
    val payload = "0123456789abcdef" * 8 // 128 ASCII bytes
    val stub = new graft.streaming.BlobApiStub(name =>
      if (name == "packed/shard-0.bin") Some(payload.getBytes("UTF-8")) else None)
    try {
      val fetcher = new graft.streaming.HttpBlobFetcher(
        stub.baseUrl, backoffMs = 5L)
      // 206 path: exactly the requested slice
      assert(new String(fetcher.fetchRange("/blobs/packed/shard-0.bin", 16, 16),
        "UTF-8") == payload.substring(16, 32))
      // failure injection: two 500s, then service — retry absorbs both
      stub.failNext.set(2)
      assert(new String(fetcher.fetchRange("/blobs/packed/shard-0.bin", 0, 4),
        "UTF-8") == "0123")
      // a server that ignores Range (RFC-legal): 200 + full body must
      // degrade to the identical slice client-side
      stub.honorRange = false
      assert(new String(fetcher.fetchRange("/blobs/packed/shard-0.bin", 16, 16),
        "UTF-8") == payload.substring(16, 32))
      stub.honorRange = true
      // a missing blob is an error, not a silent empty record
      intercept[java.io.IOException] {
        fetcher.fetchRange("/blobs/missing.bin", 0, 4)
      }
      // a manifest range past the blob end is LOUD on both server modes:
      // the honoring server caps the 206 at EOF (short slice) and the
      // ignoring server's degrade slices short — both must raise, and
      // identically (the r10 short-read guard)
      intercept[java.io.IOException] {
        fetcher.fetchRange("/blobs/packed/shard-0.bin", 120, 16)
      }
      stub.honorRange = false
      intercept[java.io.IOException] {
        fetcher.fetchRange("/blobs/packed/shard-0.bin", 120, 16)
      }
      intercept[java.io.IOException] { // fully out of range, degraded mode
        fetcher.fetchRange("/blobs/packed/shard-0.bin", 256, 8)
      }
      stub.honorRange = true
      // end-to-end through the Spark operator: distributed manifest,
      // pooled partition-local fetch, one mid-job 500 absorbed
      val manifest = Seq(
        graft.operators.Multimodal.RangedPointer(
          1L, "/blobs/packed/shard-0.bin", 0L, 16L),
        graft.operators.Multimodal.RangedPointer(
          2L, "/blobs/packed/shard-0.bin", 64L, 32L)).toDS()
      stub.failNext.set(1)
      val rows = graft.operators.Multimodal.derefRanged(spark, manifest,
          new graft.streaming.HttpBlobFetcher(stub.baseUrl, backoffMs = 5L))
        .collect().map(r => (r.doc_id, r.n_bytes, r.blob_md5)).sortBy(_._1)
      def md5(s: String) = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      assert(rows.toSeq == Seq(
        (1L, 16L, md5(payload.substring(0, 16))),
        (2L, 32L, md5(payload.substring(64, 96)))))
    } finally stub.stop()
  }

  test("kinesis resharding: split + merge mid-stream lose nothing and duplicate nothing") {
    // r9 verdict item 3. The reference hard-codes exactly 2 shards
    // (app.py:92-93), so the first production reshard silently strands
    // records on the new children. Here a split and a merge land WHILE
    // the query runs — with an in-flight tail still unread on the split
    // parent — and the consumer must drain parent tails from their
    // cursors and pick every child up at cursor 0.
    val stream = "unit-reshard-stream"
    KinesisStubRegistry.clear(stream)
    val store = new InMemoryDocumentStore
    withTempDir("graft-kinesis-reshard-") { ckpt =>
      def startQuery() = TagPipeline.start(spark,
        WireSource.kinesis(spark, stream, "us-east-1", maxFetchPerShard = 2),
        store, ckpt, trigger = Trigger.ProcessingTime(0),
        storeKey = "kinesis-reshard")
      // two shards exist before start, like the reference's fixed pair
      KinesisStubRegistry.put(stream, "shard-a", gz(story("PRE")), t(0))
      KinesisStubRegistry.put(stream, "shard-b", gz(story("PRE2")), t(0))
      val q1 = startQuery()
      try {
        q1.processAllAvailable() // LATEST snapshot: PRE/PRE2 never read
        (1 to 3).foreach(i =>
          KinesisStubRegistry.put(stream, "shard-a", gz(story(s"A$i")), t(i)))
        KinesisStubRegistry.put(stream, "shard-b", gz(story("B1")), t(1))
        q1.processAllAvailable()
        // SPLIT with an in-flight tail: A4 lands on the parent, the split
        // closes it, then records land on the children — all must arrive
        KinesisStubRegistry.put(stream, "shard-a", gz(story("A4")), t(4))
        KinesisStubRegistry.splitShard(stream, "shard-a", "shard-a1", "shard-a2")
        intercept[IllegalArgumentException] {
          KinesisStubRegistry.put(stream, "shard-a", gz(story("DEAD")), t(5))
        }
        (1 to 3).foreach(i =>
          KinesisStubRegistry.put(stream, "shard-a1", gz(story(s"C$i")), t(5 + i)))
        KinesisStubRegistry.put(stream, "shard-a2", gz(story("D1")), t(9))
        q1.processAllAvailable()
        (Seq("A4", "D1") ++ (1 to 3).map(i => s"C$i")).foreach(id =>
          assert(store.get(id).exists(_.taxonomy.get.tags.get == Seq(AutoTag)),
            s"$id lost across the split"))
      } finally q1.stop()
      // MERGE while the consumer is DOWN, with unread tails on both
      // parents — the restart must drain both from the checkpoint and
      // find the merged child at cursor 0
      KinesisStubRegistry.put(stream, "shard-a1", gz(story("C4")), t(10))
      KinesisStubRegistry.put(stream, "shard-b", gz(story("B2")), t(10))
      KinesisStubRegistry.mergeShards(stream, "shard-a1", "shard-a2", "shard-m")
      (1 to 3).foreach(i =>
        KinesisStubRegistry.put(stream, "shard-m", gz(story(s"M$i")), t(10 + i)))
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        (Seq("C4", "B2") ++ (1 to 3).map(i => s"M$i")).foreach(id =>
          assert(store.get(id).exists(_.taxonomy.get.tags.get == Seq(AutoTag)),
            s"$id lost across the merge/restart"))
        // exactly-once inventory: every post-start record tagged once,
        // neither pre-start record ever read
        assert(store.get("PRE").isEmpty && store.get("PRE2").isEmpty,
          "LATEST must not read pre-start records")
        assert(store.size == 14,
          s"expected 14 tagged docs (A1-3+B1 pre-split, A4+C1-3+D1 split-era, C4+B2+M1-3 merge-era), got ${store.size}")
      } finally {
        q2.stop()
        KinesisStubRegistry.clear(stream)
      }
    }
  }

  test("crash replay: a batch replayed between sink write and engine commit re-runs its updates as no-ops") {
    // kill the query AFTER the sink writes but BEFORE the engine's
    // checkpoint commit (simulated by deleting the last commits/ entry,
    // exactly the on-disk state such a crash leaves) and the batch
    // REPLAYS. The sink keeps no ledger of committed batches: the replay
    // re-runs every update of the batch, and the idempotent tag append
    // makes each one return the document it read, so the store ends as
    // it was before the replay.
    implicit val sqlCtx = spark.sqlContext
    val ms = MemoryStream[Wire]
    // (id, the document the committing read saw, the document committed)
    val log = new java.util.concurrent.ConcurrentLinkedQueue[
      (String, Option[AnsDoc], AnsDoc)]()
    val store = new InMemoryDocumentStore {
      override def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc = {
        var read: Option[AnsDoc] = None
        val next = super.update(id) { cur => read = cur; f(cur) }
        log.add((id, read, next))
        next
      }
    }
    def sorted = store.snapshot.sortBy(_._id)
    withTempDir("graft-crash-replay-") { ckpt =>
      def startQuery() = TagPipeline.start(spark, ms.toDF(), store, ckpt,
        trigger = Trigger.ProcessingTime(0), storeKey = "crash-replay")
      val q1 = startQuery()
      ms.addData(ev(story("X"), 0), ev(story("Y"), 1))
      q1.processAllAvailable()
      q1.stop()
      val afterFirst = log.size
      assert(afterFirst >= 2, s"expected the two docs tagged, got $afterFirst updates")
      val beforeReplay = sorted
      assert(beforeReplay.map(_._id) == Seq("X", "Y"))
      // crash window: sink writes landed, engine commit did not
      val commits = java.nio.file.Paths.get(ckpt, "commits")
      val last = {
        import scala.jdk.CollectionConverters._
        val s = java.nio.file.Files.list(commits)
        try s.iterator().asScala
          .filter(!_.getFileName.toString.startsWith("."))
          .toSeq.maxBy(_.getFileName.toString)
        finally s.close()
      }
      java.nio.file.Files.delete(last)
      // local FS keeps a ChecksumFileSystem sidecar; a stale .crc would
      // make the replay's re-commit look like a concurrent writer
      java.nio.file.Files.deleteIfExists(
        last.resolveSibling("." + last.getFileName.toString + ".crc"))
      val q2 = startQuery()
      q2.processAllAvailable() // replays the batch
      val replayed = log.asScala.drop(afterFirst).toSeq
      assert(replayed.map(_._1).sorted == Seq("X", "Y"),
        s"the replay did not re-run the batch's updates: $replayed")
      assert(replayed.forall { case (_, read, next) => read.contains(next) },
        s"a replayed update changed its document: $replayed")
      assert(sorted == beforeReplay, "the replay changed the store")
      // fresh data after recovery still flows
      ms.addData(ev(story("Z"), 2))
      q2.processAllAvailable()
      q2.stop()
      assert(store.get("Z").exists(_.taxonomy.get.tags.get == Seq(AutoTag)),
        "post-recovery batch lost")
    }
  }

  test("KPL aggregation: wire-format round trip, digest loud, non-aggregated passthrough") {
    // the public format: magic + hand-rolled protobuf + md5 trailer
    val recs = Seq("pk-a" -> "alpha".getBytes(UTF_8),
      "pk-b" -> "beta".getBytes(UTF_8), "pk-a" -> "gamma".getBytes(UTF_8))
    val blob = Kpl.aggregate(recs)
    assert(Kpl.isAggregated(blob))
    val back = Kpl.deaggregate(blob, "ignored")
    assert(back.map(u => (u.partitionKey, new String(u.data, UTF_8))) ==
      recs.map { case (pk, d) => (pk, new String(d, UTF_8)) })
    // subsequence numbers are positional — the KCL checkpoint key
    assert(back.map(_.subSeq) == Seq(0L, 1L, 2L))
    // a flipped payload byte breaks the md5 trailer LOUDLY
    val corrupt = blob.clone()
    corrupt(blob.length - 20) = (corrupt(blob.length - 20) ^ 0x01).toByte
    intercept[IllegalArgumentException] { Kpl.deaggregate(corrupt, "x") }
    // magic-less blobs are plain records: one user record, subseq 0
    val plain = "not aggregated".getBytes(UTF_8)
    val p = Kpl.deaggregate(plain, "fallback-pk")
    assert(p.map(u => (u.partitionKey, new String(u.data, UTF_8), u.subSeq)) ==
      Seq(("fallback-pk", "not aggregated", 0L)))
  }

  test("KPL deaggregation through reshard + restart: every user record delivered exactly once") {
    // r10 verdict item 6: a real high-throughput stream ships KPL
    // aggregates; the consumer must deaggregate, honor subsequence
    // identity, and survive a split + checkpoint restart mid-flow with
    // no loss and no duplication — including MIXED traffic (aggregated
    // and plain records on the same shard).
    val stream = "unit-kpl-stream"
    KinesisStubRegistry.clear(stream)
    val store = new InMemoryDocumentStore
    withTempDir("graft-kinesis-kpl-") { ckpt =>
      def agg(ids: String*): Array[Byte] =
        Kpl.aggregate(ids.map(id => id -> gz(story(id))))
      def startQuery() = TagPipeline.start(spark,
        WireSource.kinesisKpl(spark, stream, "us-east-1", maxFetchPerShard = 2),
        store, ckpt, trigger = Trigger.ProcessingTime(0),
        storeKey = "kinesis-kpl")
      KinesisStubRegistry.put(stream, "shard-a", agg("PRE"), t(0))
      val q1 = startQuery()
      try {
        q1.processAllAvailable() // LATEST: the pre-start aggregate is skipped
        // aggregated + plain records interleaved on one shard
        KinesisStubRegistry.put(stream, "shard-a", agg("A1", "A2", "A3"), t(1))
        KinesisStubRegistry.put(stream, "shard-a", gz(story("P1")), t(2))
        KinesisStubRegistry.put(stream, "shard-b", agg("B1", "B2"), t(1))
        q1.processAllAvailable()
        // split with an in-flight aggregated tail on the parent
        KinesisStubRegistry.put(stream, "shard-a", agg("A4", "A5"), t(3))
        KinesisStubRegistry.splitShard(stream, "shard-a", "shard-a1", "shard-a2")
        KinesisStubRegistry.put(stream, "shard-a1", agg("C1", "C2"), t(4))
        q1.processAllAvailable()
        Seq("A1", "A2", "A3", "A4", "A5", "P1", "B1", "B2", "C1", "C2")
          .foreach(id => assert(store.get(id).nonEmpty, s"$id lost pre-restart"))
      } finally q1.stop()
      // consumer DOWN: an aggregate lands on the child and one parent-era
      // aggregate is re-shipped by a "producer retry" (same user records —
      // the idempotent tag sink must absorb it)
      KinesisStubRegistry.put(stream, "shard-a2", agg("D1", "D2", "D3"), t(5))
      KinesisStubRegistry.put(stream, "shard-b", agg("B1", "B2"), t(6))
      val q2 = startQuery()
      try {
        q2.processAllAvailable()
        val all = Seq("A1", "A2", "A3", "A4", "A5", "P1", "B1", "B2",
          "C1", "C2", "D1", "D2", "D3")
        all.foreach(id =>
          assert(store.get(id).exists(_.taxonomy.get.tags.get == Seq(AutoTag)),
            s"$id lost or double-tagged across restart"))
        assert(store.get("PRE").isEmpty, "LATEST must not read the pre-start aggregate")
        assert(store.size == all.size,
          s"expected ${all.size} docs, got ${store.size}")
      } finally {
        q2.stop()
        KinesisStubRegistry.clear(stream)
      }
    }
  }

  test("http-backed store: TagPipeline end-to-end, transient 5xx absorbed by retry, idempotent across redelivery") {
    // r8 verdict item 3: the tag.py:12-29 seam as a real pooled-client
    // HTTP store with If-Match optimistic concurrency, driven through
    // the same pipeline the file/in-memory stores pass. Two injected
    // 500s land mid-batch: the retry/backoff must absorb them without
    // failing the micro-batch (the error-continue stance of app.py:71-75,
    // minus the reference's silent record drop). A and R are seeded as
    // Draft API documents with members the typed model does not declare:
    // the write-back must PUT the whole fetched document (tag.py:64).
    implicit val sqlCtx = spark.sqlContext
    val stub = new DraftApiStub
    try {
      val store = new HttpDocumentStore(stub.baseUrl, backoffMs = 5L)
      val client = java.net.http.HttpClient.newHttpClient()
      def docUri = java.net.URI.create(s"${stub.baseUrl}/documents/A")
      val headlines = """{"basic":"h-A","meta_title":"m"}"""
      val contentElements = """[{"type":"text","content":"body \"quoted\""}]"""
      val sections = """[{"_id":"/news"}]"""
      val storedTag = """{"slug":"x","text":"x","score":0.5}"""
      val seeded = s"""{"_id":"A","revision":3,"headlines":$headlines,""" +
        s""""content_elements":$contentElements,""" +
        s""""taxonomy":{"sections":$sections,"tags":[$storedTag]}}"""
      // R carries decoy structure inside a string value, non-ASCII text,
      // a null member and a sibling of taxonomy.tags
      val seededR = """{"_id":"R","unknown":{"deep":[1,{"s":"tax\"onomy ]}"}],"u":"π café"},""" +
        """"taxonomy":{"rev":9,"tags":[{"slug":"x","text":"x"}]},"later":null}"""
      def put(uri: java.net.URI, body: String): Unit =
        assert(client.send(java.net.http.HttpRequest.newBuilder(uri)
          .PUT(java.net.http.HttpRequest.BodyPublishers.ofString(body)).build(),
          java.net.http.HttpResponse.BodyHandlers.discarding()).statusCode() == 200)
      put(docUri, seeded)
      put(java.net.URI.create(s"${stub.baseUrl}/documents/R"), seededR)
      val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
      def json(s: String) = mapper.readTree(s)
      // every member of R as seeded, with the tag appended: compared as
      // members, since the write-back re-serializes the document
      val expectedR = json("""{"_id":"R","unknown":{"deep":[1,{"s":"tax\"onomy ]}"}],"u":"π café"},""" +
        """"taxonomy":{"rev":9,"tags":[{"slug":"x","text":"x"},""" +
        """{"slug":"kinesis-autotag","text":"kinesis autotag"}]},"later":null}""")
      def storedR = json(client.send(java.net.http.HttpRequest.newBuilder(
        java.net.URI.create(s"${stub.baseUrl}/documents/R")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.ofString(UTF_8)).body())
      def assertUndeclaredKept(when: String): Unit = {
        val a = json(client.send(java.net.http.HttpRequest.newBuilder(docUri).GET().build(),
          java.net.http.HttpResponse.BodyHandlers.ofString()).body())
        assert(a.get("headlines") == json(headlines), s"headlines lost $when: $a")
        assert(a.get("content_elements") == json(contentElements),
          s"content_elements lost $when: $a")
        assert(a.path("taxonomy").get("sections") == json(sections),
          s"taxonomy.sections lost $when: $a")
        assert(a.path("taxonomy").path("tags").get(0) == json(storedTag),
          s"the stored tag element was rewritten $when: $a")
      }
      val ms = MemoryStream[Wire]
      withTempDir("graft-http-ckpt-") { ckpt =>
        val q = TagPipeline.start(spark, ms.toDF(), store, ckpt,
          trigger = Trigger.ProcessingTime(0), storeKey = "http-test")
        stub.failNext.set(2)
        ms.addData(ev(story("A"), 0), ev(story("B"), 1), ev(story("R"), 2))
        q.processAllAvailable()
        assertUndeclaredKept("by tagging")
        assert(storedR == expectedR, s"R's members changed by tagging: $storedR")
        ms.addData(ev(story("A"), 3), ev(story("R"), 4)) // redelivery
        q.processAllAvailable()
        q.stop()
        assertUndeclaredKept("by the redelivery")
        assert(storedR == expectedR, s"R's members changed by the redelivery: $storedR")
        val a = store.get("A").get
        assert(a.taxonomy.get.tags.get == Seq(Tag("x", "x"), AutoTag),
          "existing tags preserved, auto tag appended exactly once")
        assert(a.revision.contains(3L), "untouched fields survive the round-trip")
        assert(store.get("B").get.taxonomy.get.tags.get == Seq(AutoTag))
        assert(store.size == 3)
        assert(stub.hits.get() > 2, "the injected failures must have been retried")
      }
    } finally stub.stop()
  }

  test("http-backed store: a persistently dead endpoint surfaces after bounded retries") {
    val stub = new DraftApiStub
    val url = stub.baseUrl
    stub.stop() // nothing listening — every attempt is a connect error
    val store = new HttpDocumentStore(url, backoffMs = 5L)
    val e = intercept[java.io.IOException](store.get("X"))
    assert(e.getMessage.contains("4 attempts"),
      s"retries must be bounded and reported, got: ${e.getMessage}")
  }

  test("http-backed store: a refused PUT (403) fails the batch loudly and no id is counted as tagged") {
    implicit val sqlCtx = spark.sqlContext
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val puts = new java.util.concurrent.atomic.AtomicInteger(0)
    // documents are absent (GET 404), every write is forbidden (PUT 403)
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/documents", (x: HttpExchange) => {
      val put = x.getRequestMethod == "PUT"
      if (put) { puts.incrementAndGet(); x.getRequestBody.readAllBytes() }
      x.sendResponseHeaders(if (put) 403 else 404, -1)
      x.close()
    })
    server.start()
    try {
      val http = new HttpDocumentStore(
        s"http://127.0.0.1:${server.getAddress.getPort}", backoffMs = 5L)
      val e1 = intercept[DocumentWriteRejected](
        http.update("X")(_ => AnsDoc("X", None, None)))
      assert(e1.id == "X" && e1.status == 403)
      val e2 = intercept[DocumentWriteRejected](http.upsert(AnsDoc("Y", None, None)))
      assert(e2.id == "Y" && e2.status == 403)
      val store = new CountingStore(http)
      val ms = MemoryStream[Wire]
      withTempDir("graft-http-403-") { ckpt =>
        val q = TagPipeline.start(spark, ms.toDF(), store, ckpt,
          trigger = Trigger.ProcessingTime(0), storeKey = "http-403")
        try {
          ms.addData(ev(story("A"), 0), ev(story("B"), 1))
          val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
            q.processAllAvailable())
          val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
            .map(_.getMessage).mkString(" | ")
          assert(chain.contains("rejected with HTTP 403"), chain)
        } finally q.stop()
        assert(puts.get() > 2, "the pipeline's PUTs must have reached the server")
        assert(store.updates.get() == 0, "a refused write was reported as done")
      }
    } finally server.stop(0)
  }

  test("http-backed store: a GET answered 429 throws, and its error body is never PUT as a document") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val puts = new java.util.concurrent.atomic.AtomicInteger(0)
    // every GET is rate-limited with a JSON error body; a PUT would commit
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/documents", (x: HttpExchange) => {
      if (x.getRequestMethod == "PUT") {
        puts.incrementAndGet()
        x.getRequestBody.readAllBytes()
        x.sendResponseHeaders(200, -1)
      } else {
        val body = """{"error":"rate limited"}""".getBytes(UTF_8)
        x.getResponseHeaders.set("Content-Type", "application/json")
        x.sendResponseHeaders(429, body.length)
        x.getResponseBody.write(body)
      }
      x.close()
    })
    server.start()
    try {
      val http = new HttpDocumentStore(
        s"http://127.0.0.1:${server.getAddress.getPort}", backoffMs = 5L)
      val e = intercept[DocumentWriteRejected](
        http.update("X")(cur => DocumentStore.modifyAns(
          cur.getOrElse(AnsDoc("X", None, None)), AutoTag)))
      assert(e.id == "X" && e.status == 429 && e.method == "GET", e.getMessage)
      assert(puts.get() == 0, s"${puts.get()} PUTs reached the server")
    } finally server.stop(0)
  }

  test("http-backed store: a no-op update costs one GET and no PUT; a changing one still costs two requests") {
    val stub = new DraftApiStub
    try {
      val store = new HttpDocumentStore(stub.baseUrl, backoffMs = 5L)
      val client = java.net.http.HttpClient.newHttpClient()
      def etag(id: String): String = client.send(
        java.net.http.HttpRequest.newBuilder(
          java.net.URI.create(s"${stub.baseUrl}/documents/$id")).GET().build(),
        java.net.http.HttpResponse.BodyHandlers.discarding())
        .headers().firstValue("ETag").get()
      store.upsert(AnsDoc("T", Some(2L), Some(Taxonomy(Some(Seq(AutoTag))))))
      val before = etag("T")
      val h0 = stub.hits.get()
      val same = store.update("T")(c => DocumentStore.modifyAns(c.get, AutoTag))
      assert(stub.hits.get() - h0 == 1, "an already-tagged document paid a PUT")
      assert(same == store.get("T").get)
      assert(etag("T") == before, "a no-op update changed the document's version")
      val h1 = stub.hits.get()
      store.update("T")(c => DocumentStore.modifyAns(c.get, Tag("x", "x")))
      assert(stub.hits.get() - h1 == 2, "a changing update must GET and PUT")
      assert(etag("T") != before)
      assert(store.get("T").get.taxonomy.get.tags.get == Seq(AutoTag, Tag("x", "x")))
    } finally stub.stop()
  }

  test("bounded conflicts: an endless 412 storm (and an always-moving CAS entry) ends in DocumentConflict") {
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    val puts = new java.util.concurrent.atomic.AtomicInteger(0)
    // every GET finds the document, every conditional PUT loses the race
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.createContext("/documents", (x: HttpExchange) => {
      if (x.getRequestMethod == "PUT") {
        puts.incrementAndGet(); x.getRequestBody.readAllBytes()
        x.sendResponseHeaders(412, -1)
      } else {
        val body = """{"_id":"X","revision":1}""".getBytes(UTF_8)
        x.getResponseHeaders.set("ETag", "\"v1\"")
        x.sendResponseHeaders(200, body.length)
        x.getResponseBody.write(body)
      }
      x.close()
    })
    server.start()
    try {
      val http = new HttpDocumentStore(
        s"http://127.0.0.1:${server.getAddress.getPort}", backoffMs = 1L)
      val e = intercept[DocumentConflict](
        http.update("X")(c => DocumentStore.modifyAns(c.get, AutoTag)))
      assert(e.id == "X" && e.attempts == DocumentStore.MaxUpdateAttempts)
      assert(puts.get() == DocumentStore.MaxUpdateAttempts,
        s"expected one PUT per attempt, got ${puts.get()}")
    } finally server.stop(0)
    // the in-memory CAS: another writer commits between every read and
    // its compare-and-set
    assertConflictsAreBounded(new InMemoryDocumentStore, "Y")
  }

  /** Another writer commits between every read `update` makes and its
    * commit: the update must give up after exactly
    * [[DocumentStore.MaxUpdateAttempts]] reads.
    */
  private def assertConflictsAreBounded(store: DocumentStore,
      id: String): Unit = {
    val reads = new java.util.concurrent.atomic.AtomicInteger(0)
    store.upsert(AnsDoc(id, Some(0L), None))
    val e = intercept[DocumentConflict](store.update(id) { c =>
      val n = reads.incrementAndGet()
      store.upsert(AnsDoc(id, Some(n.toLong), None))
      DocumentStore.modifyAns(c.get, AutoTag)
    })
    assert(e.id == id && e.attempts == DocumentStore.MaxUpdateAttempts)
    assert(reads.get() == DocumentStore.MaxUpdateAttempts)
  }

  test("bounded conflicts: an always-moving file document ends in DocumentConflict") {
    // the file store re-checks under its lock file
    withTempDir("graft-file-conflict-") { dir =>
      assertConflictsAreBounded(new FileDocumentStore(dir), "Z")
      assertNoLockHeld(dir)
    }
  }

  /** Every `.lock` file under `dir` is free: a `tryLock` from this JVM
    * gets it, so no thread or process still holds it. Call only while no
    * update runs: closing this channel releases the JVM's locks on the
    * file.
    */
  private def assertNoLockHeld(dir: String): Unit = {
    import java.nio.channels.FileChannel
    import java.nio.file.StandardOpenOption.WRITE
    val locks = Files.list(java.nio.file.Paths.get(dir))
    try {
      val paths = locks.iterator().asScala
        .filter(_.getFileName.toString.endsWith(".lock")).toSeq
      assert(paths.nonEmpty, s"no lock file under $dir")
      paths.foreach { l =>
        val ch = FileChannel.open(l, WRITE)
        try assert(ch.tryLock() != null, s"$l is still locked")
        finally ch.close()
      }
    } finally locks.close()
  }

  test("tag sink: one partition keeps several updates in flight at once") {
    import spark.implicits._
    // each update waits until four are running together: a partition
    // that paid its updates one after another would time out on the first
    val latch = new java.util.concurrent.CountDownLatch(4)
    val store = new InMemoryDocumentStore {
      override def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc = {
        latch.countDown()
        if (!latch.await(20, java.util.concurrent.TimeUnit.SECONDS))
          throw new IllegalStateException(s"update of $id ran alone")
        super.update(id)(f)
      }
    }
    DocumentStore.register("overlap", store)
    val batch = Seq("A", "B", "C", "D").toDF("id").coalesce(1)
    assert(batch.rdd.getNumPartitions == 1)
    TagPipeline.enrichAndUpsert("overlap")(batch)
    assert(Seq("A", "B", "C", "D").forall(id =>
      store.get(id).exists(_.taxonomy.get.tags.get == Seq(AutoTag))))
  }

  test("tag sink: one SQL execution per trigger") {
    implicit val sqlCtx = spark.sqlContext
    val rounds = 3
    val ms = MemoryStream[Wire]
    withTempDir("graft-exec-ckpt-") { ckpt =>
      val execs = new SparkLog
      spark.sparkContext.addSparkListener(execs)
      try {
        val q = TagPipeline.start(spark, ms.toDF(), new InMemoryDocumentStore,
          ckpt, trigger = Trigger.ProcessingTime(0), storeKey = "exec-count")
        // processAllAvailable returns only once no batch (no-data
        // batches included) is left to run, so stop() cuts none short
        try (1 to rounds).foreach { i =>
          ms.addData(ev(story(s"E$i"), i))
          q.processAllAvailable()
        } finally q.stop()
        execs.drain()
        val sinkRuns = q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        assert(sinkRuns.count(_.numInputRows > 0) == rounds)
        val runExecs = execs.executions.count(_.contains(s"runId = ${q.runId}"))
        assert(runExecs == sinkRuns.length,
          s"$runExecs SQL executions for " +
            s"${sinkRuns.length} triggers that ran the sink")
        // on a plain wire the query is one stateless stage: the last data
        // trigger ran no state store and no shuffle
        val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery
          .lastExecution.executedPlan
        assert(plan.collectFirst { case s: StatefulOperator => s }.isEmpty &&
          plan.collectFirst { case e: Exchange => e }.isEmpty,
          s"a stateful operator or an exchange in\n$plan")
      } finally spark.sparkContext.removeSparkListener(execs)
    }
  }

  test("tag sink: one refused id fails the batch with DocumentWriteRejected, after every other update finished") {
    import spark.implicits._
    import com.sun.net.httpserver.{HttpExchange, HttpServer}
    // GETs find nothing; the PUT of "B" is refused at once, every other
    // PUT commits after a pause, so they are still on the wire when B fails
    val server = HttpServer.create(
      new java.net.InetSocketAddress("127.0.0.1", 0), 0)
    server.setExecutor(HttpRetry.daemonPool(8))
    server.createContext("/documents", (x: HttpExchange) => {
      val id = java.net.URLDecoder.decode(
        x.getRequestURI.getPath.stripPrefix("/documents/"), UTF_8)
      if (x.getRequestMethod == "PUT") {
        x.getRequestBody.readAllBytes()
        if (id != "B") Thread.sleep(300)
        x.sendResponseHeaders(if (id == "B") 403 else 200, -1)
      } else x.sendResponseHeaders(404, -1)
      x.close()
    })
    server.start()
    try {
      val running = new java.util.concurrent.atomic.AtomicInteger(0)
      val done = new java.util.concurrent.atomic.AtomicInteger(0)
      val http = new HttpDocumentStore(
        s"http://127.0.0.1:${server.getAddress.getPort}", backoffMs = 5L)
      DocumentStore.register("refuse-one", new DocumentStore {
        def get(id: String): Option[AnsDoc] = http.get(id)
        def upsert(doc: AnsDoc): Unit = http.upsert(doc)
        def snapshot: Seq[AnsDoc] = Nil
        def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc = {
          running.incrementAndGet()
          try { val d = http.update(id)(f); done.incrementAndGet(); d }
          finally running.decrementAndGet()
        }
      })
      // B first: a loop that rethrew at the first failed join would
      // return while C..F are still on the wire
      val ids = Seq("B", "C", "D", "E", "F")
      val batch = ids.toDF("id").coalesce(1)
      val e = intercept[Exception](
        TagPipeline.enrichAndUpsert("refuse-one")(batch))
      assert(running.get() == 0, s"${running.get()} updates still running")
      assert(done.get() == ids.size - 1, s"only ${done.get()} updates finished")
      val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq
      assert(chain.exists {
        case r: DocumentWriteRejected => r.id == "B" && r.status == 403
        case _ => false
      }, chain.map(_.toString).mkString(" | "))
      assert(!chain.exists(_.isInstanceOf[java.util.concurrent.CompletionException]),
        chain.map(_.toString).mkString(" | "))
    } finally server.stop(0)
  }

  test("optimistic update: concurrent tagger and editor never drop either change") {
    withTempDir("graft-cas-") { fileDir =>
      withTempDir("graft-cas-shared-") { sharedDir =>
        val stub = new DraftApiStub
        def same(s: DocumentStore) = (s, s)
        // (tagger's store, editor's store); the last pair is two file stores
        // over one root, which must exclude each other like one store does
        try for ((store, editorStore) <- Seq(same(new InMemoryDocumentStore),
            same(new FileDocumentStore(fileDir)),
            same(new HttpDocumentStore(stub.baseUrl, backoffMs = 5L)),
            (new FileDocumentStore(sharedDir), new FileDocumentStore(sharedDir)))) {
          store.upsert(AnsDoc("X", Some(0L), None))
          val tags = (1 to 40).map(i => Tag(s"t$i", s"text $i"))
          val tagger = new Thread(() =>
            tags.foreach(t => store.update("X")(c =>
              DocumentStore.modifyAns(c.get, t))))
          val editor = new Thread(() =>
            (1 to 40).foreach(_ => editorStore.update("X")(c =>
              c.get.copy(revision = c.get.revision.map(_ + 1)))))
          tagger.start(); editor.start()
          tagger.join(60000); editor.join(60000)
          val fin = store.get("X").get
          // under raw last-writer-wins PUT, interleaved read-modify-writes
          // drop one side's changes; update() must keep every one of both
          assert(fin.revision.contains(40L),
            s"${store.getClass.getSimpleName}: edits dropped (rev ${fin.revision})")
          assert(fin.taxonomy.get.tags.get == tags,
            s"${store.getClass.getSimpleName}: tags dropped or reordered " +
              s"(${fin.taxonomy.get.tags.get.size}/40 kept)")
        } finally stub.stop()
      }
    }
  }

  test("orphaned lock file: a dead writer's stale lock is broken, not spun on forever") {
    withTempDir("graft-lock-") { dir =>
      val store = new FileDocumentStore(dir)
      store.upsert(AnsDoc("X", Some(0L), None))
      // a dead writer's leftover: the lock file exists, nobody holds it
      // (the kernel dropped the lock with its process), and it carries an
      // earlier build's owner stamp
      val md = java.security.MessageDigest.getInstance("SHA-256")
      val hex = md.digest("X".getBytes("UTF-8")).map("%02x".format(_)).mkString
      Files.write(java.nio.file.Paths.get(dir, hex + ".doc.lock"),
        java.util.UUID.randomUUID().toString.getBytes(UTF_8))
      val t0 = System.nanoTime()
      val out = store.update("X")(c => c.get.copy(
        revision = c.get.revision.map(_ + 1)))
      val secs = (System.nanoTime() - t0) / 1e9
      assert(out.revision.contains(1L))
      assert(secs < 8.0, s"a leftover lock file delayed the update $secs s")
      assertNoLockHeld(dir)
    }
  }

  test("file store lock: another process's writer excludes this one, and its death frees the key") {
    withTempDir("graft-lockproc-") { dir =>
      val store = new FileDocumentStore(dir)
      store.upsert(AnsDoc("X", Some(0L), None))
      // the child takes X's lock, prints "held", and dies inside the
      // critical section without writing (see FileLockHolder)
      val child = new ProcessBuilder(
        java.nio.file.Paths.get(sys.props("java.home"), "bin", "java").toString,
        "-Xmx64m", "-cp", sys.props("java.class.path"),
        FileLockHolder.getClass.getName.stripSuffix("$"), dir, "X")
        .redirectErrorStream(true).start()
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      import scala.concurrent.duration._
      try {
        val reader = new java.io.BufferedReader(
          new java.io.InputStreamReader(child.getInputStream, UTF_8))
        val output = Vector.newBuilder[String]
        val held = Await.result(Future {
          var line = reader.readLine()
          while (line != null && line != "held") {
            output += line; line = reader.readLine()
          }
          line != null
        }, 60.seconds)
        assert(held, "the child never took the lock: " +
          output.result().mkString(" | "))
        val t0 = System.nanoTime()
        val out = Await.result(Future(store.update("X")(c => c.get.copy(
          revision = c.get.revision.map(_ + 1)))), 8.seconds)
        val secs = (System.nanoTime() - t0) / 1e9
        assert(out == AnsDoc("X", Some(1L), None))
        assert(store.get("X").contains(AnsDoc("X", Some(1L), None)),
          "the final document must hold exactly this update's change")
        assert(secs >= FileLockHolder.HoldMs / 2000.0,
          s"the update committed after $secs s, inside the other process's hold")
      } finally child.destroyForcibly()
    }
  }

  test("start refuses a wire frame built on another session before any query starts") {
    val other = spark.newSession()
    val ms = {
      implicit val otherCtx = other.sqlContext
      MemoryStream[Wire]
    }
    withTempDir("graft-ckpt-other-") { ckpt =>
      val e = intercept[IllegalArgumentException](TagPipeline.start(spark,
        ms.toDF(), new InMemoryDocumentStore, ckpt, storeKey = "other-session"))
      assert(e.getMessage.contains("build the wire on that session"), e.getMessage)
      assert(spark.streams.active.isEmpty && other.streams.active.isEmpty,
        "a query started on a mismatched session")
    }
  }

  test("kinesis offset json round-trips shard names containing quotes and backslashes") {
    val cur = Map("shard\"A" -> 3L, "shard\\B" -> 7L, "plain-0" -> 0L)
    val off = KinesisStubOffset(cur)
    assert(KinesisStubOffset.parse(off.json()).cursors == cur,
      s"corrupted round-trip through ${off.json()}")
    // the checkpoint text of earlier builds: it must parse, and be
    // re-emitted byte for byte
    val written = """{"plain-0":0,"shard\"A":3,"shard\\B":7}"""
    assert(KinesisStubOffset.parse(written).cursors == cur)
    assert(KinesisStubOffset.parse(written).json() == written)
  }

  test("event-log replay source drives the batch twin of the pipeline") {
    val store = new InMemoryDocumentStore
    // events.props is {"k": N} JSON — no insert-story events, so the
    // pipeline must decode everything and tag nothing.
    TagPipeline.runBatch(
      WireSource.eventLogReplay(spark, "/root/testdata/sf0.001"),
      store, storeKey = "replay-test")
    assert(store.size == 0)
    // and the decode stage itself sees every event as well-formed JSON
    val decoded = EventDecoder.decode(
      WireSource.eventLogReplay(spark, "/root/testdata/sf0.001"))
    assert(decoded.count() == 1000)
    assert(decoded.filter(col("decode_error")).count() == 0)
    assert(decoded.filter(col("url").isNotNull).count() == 0)
  }

  test("stream ≡ batch with redeliveries: AvailableNow and runBatch leave the same store, in memory and over HTTP") {
    // one fixed wire over two shards, drained two records per shard per
    // trigger: N1 twice in the first trigger and again in the third, O1
    // on both shards in the second, T1 in the first and the third, plus
    // a corrupt record, a >1 MB URL record, an unpublished and a
    // non-insert event
    val wire = Seq(
      "shard-0" -> Seq(gz(story("N1")), gz(story("N1")), Array[Byte](1, 2, 3, 4),
        gz(story("O1")), gz(story("N1")), gz("s3://ans-bucket/large/L1.json")),
      "shard-1" -> Seq(gz(story("T1")),
        gz("""{"id":"U1","operation":"insert-story","published":false}"""),
        gz("""{"id":"X1","operation":"update-story","published":true}"""),
        gz(story("O1")), gz(story("N2")), gz(story("T1"))))
    val records = wire.flatMap { case (shard, rs) =>
      rs.zipWithIndex.map { case (r, i) => Wire(r, shard, t(i)) } }
    // N1 and N2 are absent, O1 carries another tag, T1 is already tagged
    def seeded(store: DocumentStore): DocumentStore = {
      store.upsert(AnsDoc("O1", Some(5L), Some(Taxonomy(Some(Seq(Tag("x", "x")))))))
      store.upsert(AnsDoc("T1", Some(2L), Some(Taxonomy(Some(Seq(AutoTag))))))
      store
    }
    val expected = Seq(
      AnsDoc("N1", None, Some(Taxonomy(Some(Seq(AutoTag))))),
      AnsDoc("N2", None, Some(Taxonomy(Some(Seq(AutoTag))))),
      AnsDoc("O1", Some(5L), Some(Taxonomy(Some(Seq(Tag("x", "x"), AutoTag))))),
      AnsDoc("T1", Some(2L), Some(Taxonomy(Some(Seq(AutoTag))))))
    def streamed(store: DocumentStore, key: String): Seq[AnsDoc] = {
      val stream = s"unit-equiv-$key"
      KinesisStubRegistry.clear(stream)
      records.foreach(w => KinesisStubRegistry.put(stream, w.shard, w.data, w.ts))
      withTempDir("graft-equiv-") { ckpt =>
        val q = TagPipeline.start(spark, spark.readStream.format("aws-kinesis")
            .option("kinesis.streamName", stream)
            .option("kinesis.startingPosition", "TRIM_HORIZON")
            .option("kinesis.executor.maxFetchRecordsPerShard", 2)
            .load()
            .select(col("data"), col("shardId").as("shard"),
              col("approximateArrivalTimestamp").as("ts")),
          store, ckpt, trigger = Trigger.AvailableNow(), storeKey = s"equiv-$key")
        try {
          assert(q.awaitTermination(120000), "AvailableNow must end on its own")
          assert(q.exception.isEmpty)
          assert(q.recentProgress.count(_.numInputRows > 0) == 3)
        } finally {
          q.stop()
          KinesisStubRegistry.clear(stream)
        }
      }
      store.snapshot.sortBy(_._id)
    }
    def batched(store: DocumentStore, key: String): Seq[AnsDoc] = {
      TagPipeline.runBatch(records.toDF(), store, storeKey = s"equiv-batch-$key")
      store.snapshot.sortBy(_._id)
    }
    val mem = streamed(seeded(new InMemoryDocumentStore), "mem")
    assert(mem == expected)
    assert(batched(seeded(new InMemoryDocumentStore), "mem") == mem)
    // over HTTP, two updates of one id in one trigger can race on the
    // wire pool: the loser's conditional PUT gets 412, and its re-read
    // finds the tag already there
    val stubs = Seq(new DraftApiStub, new DraftApiStub)
    try {
      val http = streamed(
        seeded(new HttpDocumentStore(stubs(0).baseUrl, backoffMs = 5L)), "http")
      assert(http == expected)
      assert(batched(
        seeded(new HttpDocumentStore(stubs(1).baseUrl, backoffMs = 5L)), "http") == http)
    } finally stubs.foreach(_.stop())
  }

  test("streaming file-source replay: full decode pipeline throughput ≫ the reference's ~13 rec/s ceiling") {
    // the file source tails a directory; stage the single fixture file
    withTempDir("replay-events-") { tmp =>
      val dir = java.nio.file.Paths.get(tmp)
      Files.copy(java.nio.file.Paths.get(new java.io.File(Sf).getParent, "sf0.01", "events.parquet"),
        dir.resolve("events.parquet"))
      val wire = WireSource.eventLogReplayStream(spark, dir.toString)
      assert(wire.isStreaming)
      val decoded = EventDecoder.decode(wire)
      val t0 = System.nanoTime()
      val q = decoded.writeStream.format("memory").queryName("replay_out")
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      q.awaitTermination()
      val secs = (System.nanoTime() - t0) / 1e9
      val n = spark.table("replay_out").count()
      assert(n == 10000) // sf0.01 events, all decoded, none dropped
      val rate = n / secs
      info(f"streamed $n events in $secs%.1f s = $rate%.0f rec/s (reference envelope: ~13 rec/s)")
      assert(rate > 100, f"unexpectedly slow: $rate%.0f rec/s")
    }
  }

  test("q236 commit protocol: adversarial two-writer races, vacuum refusals, exactly-one-winner") {
    import spark.implicits._
    import graft.operators.{LostUpdateException, TableLog}
    def dump(ids: Seq[Long], tag: String)(v: Long) =
      ids.map(id => (id, v, "U", s"$tag $id")).toDF("doc_id", "version", "op", "txt")
    // --- RACE 1: same key, two threads, both based on the same snapshot.
    // EXACTLY one must win; the loser must get a LOUD LostUpdateException
    // (which one wins is scheduling — the pin is the invariant).
    val log1 = new TableLog
    log1.commit("loader", 0L, None, dump(Seq(1L, 2L, 3L), "base"))
    val base = log1.snapshotVersion
    val results = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    val ths = Seq("w1", "w2").map { w =>
      new Thread(() => {
        try results.put(w, log1.commit(w, base, Some(Set(2L)), dump(Seq(2L), w)))
        catch { case e: LostUpdateException => results.put(w, e) }
      })
    }
    ths.foreach(_.start()); ths.foreach(_.join())
    val wins = results.values.asScala.collect { case v: Long => v }.toSeq
    val losses = results.values.asScala
      .collect { case e: LostUpdateException => e }.toSeq
    assert(wins.size == 1 && losses.size == 1,
      s"exactly one writer must win the slot, got wins=$wins losses=$losses")
    assert(wins.head == base + 1)
    assert(log1.snapshotVersion == base + 1)
    // the loser re-bases on the fresh snapshot and retries: now it sees
    // the winner's commit in its history and can decide — here it
    // surrenders the stale edit by NOT re-writing key 2 (app policy),
    // and a re-based disjoint commit succeeds
    val retried = log1.commit("loser-rebased", log1.snapshotVersion,
      Some(Set(9L)), dump(Seq(9L), "rebased"))
    assert(retried == base + 2)
    // --- RACE 2: disjoint keys, two threads — BOTH must commit (the
    // staging race resolves by internal retry-with-re-validation, never
    // an exception), with distinct consecutive versions.
    val log2 = new TableLog
    log2.commit("loader", 0L, None, dump(Seq(1L, 2L), "base"))
    val b2 = log2.snapshotVersion
    val r2 = new java.util.concurrent.ConcurrentHashMap[String, Any]()
    val ths2 = Seq(("a", 1L), ("b", 2L)).map { case (w, k) =>
      new Thread(() => {
        try r2.put(w, log2.commit(w, b2, Some(Set(k)), dump(Seq(k), w)))
        catch { case e: Throwable => r2.put(w, e) }
      })
    }
    ths2.foreach(_.start()); ths2.foreach(_.join())
    val vs = Seq("a", "b").map(r2.get(_))
    assert(vs.forall(_.isInstanceOf[Long]),
      s"disjoint writers must both commit, got $vs")
    assert(vs.map(_.asInstanceOf[Long]).sorted == Seq(b2 + 1, b2 + 2))
    // --- VACUUM refusals (the q228 ask): a vacuumed version must REFUSE,
    // not return partial rows; a writer based below the horizon refuses.
    val log3 = new TableLog
    log3.commit("loader", 0L, None, dump(Seq(1L), "v1"))
    log3.commit("w", 1L, Some(Set(1L)), dump(Seq(1L), "v2"))
    log3.commit("w", 2L, Some(Set(1L)), dump(Seq(1L), "v3"))
    val preVacuum = log3.readAsOf(3L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3)))
    log3.vacuum(2L)
    intercept[IllegalArgumentException] { log3.readAsOf(1L) }
    intercept[IllegalArgumentException] {
      log3.commit("stale", 1L, Some(Set(5L)), dump(Seq(5L), "stale"))
    }
    // vacuum transparency at the boundary and above: AS OF 2 (the
    // checkpoint itself) and AS OF 3 (checkpoint + delta) both answer
    val post3 = log3.readAsOf(3L).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2), r.getString(3)))
    assert(post3.toSeq == preVacuum.toSeq,
      "a checkpointed read must equal the full-history read")
    assert(log3.readAsOf(2L).collect().map(_.getLong(1)).toSeq == Seq(2L))
  }
}

object StreamingSpec {
  case class Wire(data: Array[Byte], shard: String, ts: Timestamp)

  val DefaultCheckpointFileManager =
    "org.apache.spark.sql.execution.streaming.checkpointing.FileContextBasedCheckpointFileManager"

  /** Counts the updates a store reported as done. */
  class CountingStore(inner: DocumentStore) extends DocumentStore {
    val updates = new java.util.concurrent.atomic.AtomicInteger(0)
    def get(id: String): Option[AnsDoc] = inner.get(id)
    def upsert(doc: AnsDoc): Unit = inner.upsert(doc)
    def snapshot: Seq[AnsDoc] = inner.snapshot
    def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc = {
      val next = inner.update(id)(f)
      updates.incrementAndGet()
      next
    }
  }
}
