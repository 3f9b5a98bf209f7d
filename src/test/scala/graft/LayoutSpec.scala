package graft

import org.apache.spark.sql.functions._

import graft.operators.Layout

/** Bucketed-layout guards: pre-bucketed joins and aggregations must plan
  * WITHOUT an Exchange on the bucketed key — the "shuffle once at layout
  * time, never again" property that carries the hot join path at 100 TB.
  */
class LayoutSpec extends SparkSpec {

  test("bucketed-bucketed join plans no Exchange; bucketed agg plans no Exchange") {
    val li = Tables(spark, Sf, "lineitem")
      .select(col("l_orderkey"), col("l_quantity"))
    val o = Tables(spark, Sf, "orders")
      .select(col("o_orderkey").as("l_orderkey"), col("o_totalprice"))
    // clean any leftover managed-table locations from aborted runs
    Seq("li_b", "o_b").foreach { t =>
      spark.sql(s"DROP TABLE IF EXISTS $t")
      val loc = new java.io.File(s"spark-warehouse/$t")
      if (loc.exists()) {
        def rm(f: java.io.File): Unit = {
          Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
        }
        rm(loc)
      }
    }
    Layout.bucketize(spark, li, "li_b", "l_orderkey", 8)
    Layout.bucketize(spark, o, "o_b", "l_orderkey", 8)
    // the fixture tables are broadcast-sized, which makes the planner
    // pick BHJ and bypass bucketed scans — disable broadcast so the test
    // exercises the shape bucketing exists for (both sides large)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {

    val joined = Layout.coLocatedJoin(spark, "li_b", "o_b", "l_orderkey")
    joined.collect()
    val jp = joined.queryExecution.executedPlan.toString
    assert(jp.contains("SortMergeJoin"))
    assert(!jp.contains("Exchange"), s"bucketed join still shuffles:\n$jp")

    val agg = spark.table("li_b").groupBy("l_orderkey")
      .agg(sum("l_quantity").as("q"))
    agg.collect()
    val ap = agg.queryExecution.executedPlan.toString
    assert(!ap.contains("Exchange"), s"bucketed agg still shuffles:\n$ap")

    // row-count equivalence with the unbucketed join
    val expected = Tables(spark, Sf, "lineitem")
      .join(Tables(spark, Sf, "orders"),
        col("l_orderkey") === col("o_orderkey")).count()
    assert(joined.count() == expected)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.sql("DROP TABLE IF EXISTS li_b")
      spark.sql("DROP TABLE IF EXISTS o_b")
    }
  }

  test("partitioned corpus write: split filter prunes partitions at planning time") {
    withTempDir("graft-part-") { dir =>
      val bucket = substring(md5(concat(lit("split:"),
        col("doc_id").cast("string"))), 1, 2)
      val curated = Tables(spark, Sf, "documents")
        .select(col("doc_id"), col("text"), col("lang"),
          when(bucket < "cd", lit("train")).otherwise(lit("val")).as("split"))
      Layout.partitionedWrite(curated, dir, "split", "lang")

      val train = spark.read.parquet(dir).filter(col("split") === "train")
      train.collect()
      val p = train.queryExecution.executedPlan.toString
      // the split predicate must land in PartitionFilters (directory-level
      // prune), NOT PushedFilters (row-level) — and never a post-scan Filter
      assert(p.contains("PartitionFilters"), s"no partition filters:\n$p")
      assert(p.replaceAll("\\s", "").contains("PartitionFilters:[isnotnull(split"),
        s"split filter did not reach the partition prune:\n$p")
      // correctness: pruned read == filtered full read
      val expected = curated.filter(col("split") === "train").count()
      assert(train.count() == expected && expected > 0)
    }
  }

  test("z-order chunks prune point predicates on BOTH dimensions; 1-D sorts on only one") {
    // The quantity data skipping actually reads: how many chunks' min/max
    // envelopes CONTAIN a point predicate's value. A 1-D sort prunes its
    // own column perfectly and the other not at all (every chunk spans the
    // other column's full range); Morton order splits both, so both
    // single-column predicates touch a strict subset of chunks. k is
    // left-shifted 3 to align its 7-bit range with event_id's 10 bits —
    // the bit-width normalization real z-ordering applies per column.
    val ev = Tables(spark, Sf, "events")
      .select(col("event_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val buckets = 16
    def chunksContaining(key: org.apache.spark.sql.Column,
        dim: String, v: Long): Long =
      Layout.chunkEnvelopes(ev, key, col("event_id"), col("k"), buckets)
        .filter(col(s"${dim}0") <= v && col(s"${dim}1") >= v)
        .count()
    val zkey = Layout.zorderKey(col("event_id"), shiftleft(col("k"), 3),
      graft.operators.Relational.ZOrderBits)
    // k-point predicate: the x-sorted layout cannot prune it at all
    val zForK = chunksContaining(zkey, "y", 42L)
    val xForK = chunksContaining(col("event_id"), "y", 42L)
    // x-point predicate: the k-sorted layout cannot prune it at all
    val zForX = chunksContaining(zkey, "x", 500L)
    val kForX = chunksContaining(col("k"), "x", 500L)
    assert(xForK == buckets && kForX == buckets,
      "a 1-D sort must leave the other dimension unprunable (test premise)")
    assert(zForK * 2 <= buckets, s"z-order k-pruning too weak: $zForK/$buckets")
    assert(zForX * 2 <= buckets, s"z-order x-pruning too weak: $zForX/$buckets")
  }

  test("r17 layout root is a parameter: conf > system property > tmpdir, writers and readers agree") {
    import graft.operators.Footer
    val root = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_alt_root")
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm)); f.delete()
    }
    rm(root); root.mkdirs()
    // 1. the session conf wins
    spark.conf.set("spark.graft.layoutRoot", root.getPath)
    try {
      val docs = Tables(spark, Sf, "documents")
        .select(col("doc_id"), col("n_chars"))
      val stats = Footer.writeUnits(docs, Seq(col("n_chars"), col("doc_id")),
        "altroot", 128L)
      assert(stats.nonEmpty &&
        stats.forall(_.path.startsWith(root.getPath)),
        s"layout units must land under the configured root: ${stats.head.path}")
      assert(new java.io.File(root, "graft_prune_altroot/_graft_manifest.tsv")
        .exists(), "the manifest must land beside the units, under the root")
    } finally {
      spark.conf.unset("spark.graft.layoutRoot")
      rm(root)
    }
    // 2. unset everywhere -> tmpdir (the unchanged default)
    assert(Footer.layoutDirFor("x") ==
      System.getProperty("java.io.tmpdir") + "/graft_prune_x")
  }

  test("q263 distributed clustered write: many write tasks, RangePartitioning exchanges, exact unit alignment") {
    import graft.operators.Footer
    val out = SparkEntry
      .queries("q263_distributed_clustered_write")(spark, Sf)
      .collect()
    assert(out.length > 1, "fixture must produce multiple units")
    // 1. the write ran in MANY TASKS: each task writes its own
    // part-NNNNN prefix, so >1 distinct prefix is the executed fact
    // that the repartition(1) bottleneck is gone
    val dir = new java.io.File(System.getProperty("java.io.tmpdir") +
      "/graft_prune_q263_" + Sf.replaceAll("[^A-Za-z0-9]", "_"))
    val parts = dir.listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet") && f.length() > 0)
      .map(_.getName).sorted
    val taskIds = parts.map(_.split("-")(1)).distinct
    assert(taskIds.length > 1,
      s"layout write still runs in one task: ${parts.take(4).mkString(",")}")
    // 2. both stages plan RangePartitioning exchanges (the cluster-key
    // shuffle and the unit-id shuffle) — recorded by writeUnits
    val plan = Footer.lastLayoutPlan.toLowerCase
    assert(plan.contains("rangepartitioning"),
      "the clustered write must range-partition, not single-task")
    // 3. exact rank alignment: every unit except the global last is
    // exactly the adaptive unit size — a sampled (non-rank) boundary
    // could not produce this geometry except by accident
    val n = out.map(_.getLong(1)).sum
    val ur = Footer.adaptiveUnitRows(n)
    out.dropRight(1).foreach(r =>
      assert(r.getLong(1) == ur,
        s"unit ${r.getLong(0)} has ${r.getLong(1)} rows, want $ur"))
    assert(out.last.getLong(1) <= ur && out.last.getLong(1) > 0L)
    // 4. units are globally ordered on the cluster key ACROSS tasks:
    // consecutive units' n_chars envelopes may touch (a boundary can
    // split inside one n_chars value) but never invert
    out.sliding(2).foreach { case Array(a, b) =>
      assert(a.getLong(3) <= b.getLong(2),
        s"unit ${a.getLong(0)} max n_chars ${a.getLong(3)} exceeds " +
          s"unit ${b.getLong(0)} min ${b.getLong(2)} — cross-task order broke")
      case _ => ()
    }
  }

  test("q272 distributed HOUSE write: >1 writer task, range exchanges, all-house bytes (blooms + created_by), manifest beside them") {
    import graft.operators.Footer
    val out = SparkEntry
      .queries("q272_distributed_house_write")(spark, Sf).collect()
    assert(out.length > 1, "fixture must produce multiple units")
    // 1. MANY WRITER TASKS — the r15 structural debt this query retires
    // is the driver-side collect kernel; the recorded distinct
    // TaskContext partition ids are the executed fact
    val (plan, nTasks) = Footer.lastHouseWrite
    assert(nTasks > 1, s"house kernel still ran in $nTasks task(s)")
    assert(plan.toLowerCase.contains("rangepartitioning"),
      "the house write must range-partition, not single-task")
    // 2. the emitted files are HOUSE bytes: graft's writer identity in
    // created_by and an embedded SBBF bloom on doc_id in every unit
    val dir = new java.io.File(System.getProperty("java.io.tmpdir") +
      "/graft_prune_q272_" + Sf.replaceAll("[^A-Za-z0-9]", "_"))
    val parts = dir.listFiles()
      .filter(f => f.getName.endsWith(".parquet") && f.length() > 0)
      .map(_.getPath).sorted
    assert(parts.length == out.length)
    parts.foreach { p =>
      val bytes = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p))
      assert(new String(bytes, "ISO-8859-1").contains("graft-house"),
        s"$p was not written by the house kernel")
      val (leaves, chunks) = Footer.parseFooter(p)
      val li = leaves.indexWhere(_.name == "doc_id")
      assert(chunks(li).forall(_.bloomOffset >= 0),
        s"$p is missing its doc_id SBBF bloom")
    }
    // 3. the q268 manifest sits beside the files and names exactly them
    val manifest = Footer.readManifest(dir.getPath)
    assert(manifest.exists(_.map(_.path).sorted == parts.toSeq),
      "the house layout's manifest must name exactly the task-written files")
    // 4. exact rank alignment (q263's contract on house bytes)
    val n = out.map(_.getLong(1)).sum
    val ur = Footer.adaptiveUnitRows(n)
    out.dropRight(1).foreach(r =>
      assert(r.getLong(1) == ur,
        s"unit ${r.getLong(0)} has ${r.getLong(1)} rows, want $ur"))
    assert(out.last.getLong(1) <= ur && out.last.getLong(1) > 0L)
  }

  test("both layout writers cluster a sort key with ties: every unit once, full units, one geometry (r16 ADVICE)") {
    import graft.operators.{Footer, HouseWriter}
    val docs = Tables(spark, Sf, "documents").select(col("doc_id"), col("n_chars"))
    val n = docs.count()
    val perUnit = 64L
    // n_chars alone has many ties, some across unit boundaries: only the
    // unit id leading the in-partition sort keeps each unit contiguous
    val sortCols = Seq(col("n_chars"))
    val parquet = Footer.writeUnits(docs, sortCols, "ties_parquet", perUnit)
    val (house, _) = Footer.writeUnitsHouse(docs, sortCols, "ties_house",
      perUnit, HouseWriter.HouseSpec())
    val numUnits = (n + perUnit - 1L) / perUnit
    assert(numUnits > 2L, "fixture must produce several units")
    for ((writer, units) <- Seq("parquet" -> parquet, "house" -> house)) {
      assert(units.size == numUnits && units.map(_.path).distinct.size == units.size,
        s"$writer wrote ${units.size} unit files, want $numUnits")
      assert(units.map(_.nRows) ==
        Seq.fill(numUnits.toInt - 1)(perUnit) :+ (n - perUnit * (numUnits - 1L)),
        s"$writer unit sizes: ${units.map(_.nRows)}")
      val back = spark.read.parquet(units.map(_.path): _*)
      assert(back.count() == n && back.select("doc_id").distinct().count() == n,
        s"$writer must write every row exactly once")
    }
    // which tied row lands in which unit depends on placement, so the
    // geometry compared is the sort key's envelope
    def geometry(units: Seq[Footer.UnitStats]) =
      units.map(u => (u.nRows, u.lo("n_chars"), u.hi("n_chars")))
    assert(geometry(parquet) == geometry(house))
  }

  test("appendManifest CREATEs the manifest when absent (r15 ADVICE: IVM append into a fresh layout)") {
    import graft.operators.{Footer, HouseWriter}
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_append_create")
    if (dir.exists()) dir.listFiles().foreach(_.delete())
    dir.mkdirs()
    // one real unit so readManifest's file-set staleness check can pass
    val p = new java.io.File(dir, "part-00000-house.parquet").getPath
    HouseWriter.write(p,
      Seq(HouseWriter.LongCol("id", Seq(1L, 2L, 3L))))
    val u = Footer.unitStatsOf(p)
    // no writeManifest first — APPEND alone threw NoSuchFileException
    Footer.appendManifest(dir.getPath, Seq(u))
    assert(Footer.readManifest(dir.getPath).contains(Seq(u)),
      "the appended-from-scratch manifest must read back as the unit set")
  }

  test("bench layout memo: same write identity reuses the layout, disk drift and key changes rebuild, default is OFF (r15 verdict #1a)") {
    import graft.operators.Footer
    val docs = Tables(spark, Sf, "documents")
      .select(col("doc_id"), col("n_chars"))
    val tag = "memo_pin"
    val dir = System.getProperty("java.io.tmpdir") + "/graft_prune_" + tag
    def reads = Footer.footerReads.get()
    try {
      System.setProperty(Footer.LayoutMemoProp, "true")
      val first = Footer.writeUnits(docs,
        Seq(col("n_chars"), col("doc_id")), tag, 64L)
      val r1 = reads
      // HIT: identical write identity — zero footer opens, same stats
      val second = Footer.writeUnits(docs,
        Seq(col("n_chars"), col("doc_id")), tag, 64L)
      assert(second == first && reads == r1,
        "a memo hit must return the first write's stats with zero footer opens")
      // MISS on key change: a different unit size is a different layout
      val resized = Footer.writeUnits(docs,
        Seq(col("n_chars"), col("doc_id")), tag, 128L)
      assert(resized != first && reads > r1,
        "a changed write identity must rebuild, not serve the stale memo")
      // MISS on disk drift: an IVM-style manifest append invalidates
      Footer.appendManifest(dir, Seq(first.head.copy(path = "phantom")))
      val r2 = reads
      val rebuilt = Footer.writeUnits(docs,
        Seq(col("n_chars"), col("doc_id")), tag, 128L)
      // fresh part-file UUIDs per write: compare everything BUT paths
      def shape(us: Seq[Footer.UnitStats]) =
        us.map(u => (u.nRows, u.lo, u.hi, u.loS, u.hiS))
      assert(shape(rebuilt) == shape(resized) && reads > r2,
        "a drifted on-disk manifest must force a real rewrite")
    } finally System.clearProperty(Footer.LayoutMemoProp)
    // OFF by default: without the property every call writes
    val r3 = reads
    Footer.writeUnits(docs, Seq(col("n_chars"), col("doc_id")), tag, 128L)
    assert(reads > r3,
      "without the bench property writeUnits must always write")
  }
}
