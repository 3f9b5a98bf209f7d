package graft.operators

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A writer's optimistic commit lost the race to a conflicting commit —
  * the caller must re-base on a fresh snapshot and retry (or surrender).
  */
final class LostUpdateException(msg: String) extends RuntimeException(msg)

/** The OPTIMISTIC COMMIT PROTOCOL over the q223/q228 versioned dump log —
  * the r12 verdict's item #5: q223 refuses a double-claimed (key, version)
  * slot at READ time; a real multi-writer table needs the protocol that
  * PREVENTS one (Delta/Iceberg's optimistic concurrency: prepare data out
  * of band, then an atomic manifest-pointer swap with conflict
  * re-validation; Kung & Robinson's OCC validate-then-write).
  *
  * Protocol per writer: read the manifest pointer (snapshot version V),
  * prepare a dump OUTSIDE any critical section (the expensive distributed
  * write), then the commit loop:
  *
  *  1. read the pointer (cur);
  *  2. RE-VALIDATE: every commit in (base, cur] must be key-disjoint from
  *     this writer's change set, else [[LostUpdateException]] — LOUD, the
  *     writer's snapshot is stale in a way that matters;
  *  3. stage the dump under version cur+1 (one stager per version —
  *     `putIfAbsent`), then CAS the pointer cur -> cur+1 (the
  *     [[graft.streaming.DocumentStore]] CAS discipline on the manifest);
  *     a writer that loses the stage race loops back to 1 and
  *     re-validates against the NEW head — retry-with-re-validation, not
  *     blind retry.
  *
  * Conflict sets are DELTA-sized by nature (a point-fix writer enumerates
  * the keys it rewrites; 100 TB bulk rewrites pass `keys = None` =
  * "conflicts with everything"), so the manifest stays driver-side
  * metadata while the data path stays distributed.
  *
  * VACUUM (snapshot retention): `vacuum(retain)` collapses all history
  * <= retain into ONE checkpoint dump via [[TableLog.compactRaw]]
  * (latest-wins, tombstones kept, original versions kept) and drops the
  * pre-checkpoint deltas. Reads AS OF v >= retain are UNCHANGED (the
  * checkpoint's rows all carry versions <= retain, so the latest-wins
  * collapse cannot tell it from the raw history — the vacuum-transparency
  * law q236's oracle proves by hash); reads AS OF v < retain REFUSE
  * loudly — the history is gone and a partial answer would silently drop
  * pre-checkpoint states (the q228 ask). A writer based below the horizon
  * refuses for the same reason: it cannot be re-validated.
  */
class TableLog extends Serializable {

  private case class CommitEntry(writer: String, keys: Option[Set[Long]],
      dump: DataFrame)

  private val head = new AtomicLong(0L)
  private val commits = new ConcurrentHashMap[java.lang.Long, CommitEntry]()
  @volatile private var horizon: Long = 0L // versions <= horizon collapsed
  @volatile private var checkpoint: Option[DataFrame] = None

  def snapshotVersion: Long = head.get()

  /** Commit `dumpAt(assignedVersion)` on behalf of `writer`, whose change
    * set is `keys` (`None` = bulk rewrite, conflicts with everything) and
    * whose snapshot was `base`. Returns the assigned version; throws
    * [[LostUpdateException]] if a commit in (base, head] touched the
    * writer's keys.
    */
  def commit(writer: String, base: Long, keys: Option[Set[Long]],
      dumpAt: Long => DataFrame): Long = {
    require(base >= horizon,
      s"txn: writer '$writer' based on v$base which predates the vacuum " +
        s"horizon v$horizon — its snapshot cannot be re-validated; re-base")
    while (true) {
      val cur = head.get()
      require(base <= cur, s"txn: writer '$writer' based on unborn v$base")
      // re-validation: runs again on EVERY loop, against the new head
      var v = base + 1
      while (v <= cur) {
        val e = commits.get(v)
        require(e != null, s"txn: commit v$v missing from the manifest")
        val disjoint = (e.keys, keys) match {
          case (Some(a), Some(b)) => (a & b).isEmpty
          case _                  => false // a bulk side conflicts with all
        }
        if (!disjoint)
          throw new LostUpdateException(
            s"txn: lost update — writer '$writer' based on v$base, but " +
              s"v$v (writer '${e.writer}') touched its keys; re-base and retry")
        v += 1
      }
      val my = cur + 1
      if (commits.putIfAbsent(my, CommitEntry(writer, keys, dumpAt(my))) == null) {
        // single stager per version => the pointer is still at cur
        val swapped = head.compareAndSet(cur, my)
        assert(swapped, "txn: manifest pointer moved past a staged version")
        return my
      }
      // another writer staged cur+1 first: loop — re-read, RE-validate
    }
    throw new IllegalStateException("unreachable")
  }

  /** Latest-wins collapse that KEEPS the raw (doc_id, version, op, txt)
    * dump schema — the checkpoint writer ([[vacuum]] uses it; reads keep
    * going through [[Relational.mergeCompact]] so the duplicate-slot
    * loudness stays on every read path).
    */
  private[graft] def compactRaw(dumps: Seq[DataFrame]): DataFrame =
    dumps.reduce(_ unionByName _)
      .groupBy(col("doc_id"))
      .agg(max(struct(col("version"), col("op"), col("txt"))).as("s"))
      .select(col("doc_id"), col("s.version").as("version"),
        col("s.op").as("op"), col("s.txt").as("txt"))

  /** Collapse history <= `retain` into a checkpoint and drop its deltas.
    * Single-administrator operation (a real table format serializes it
    * through the same manifest swap); not safe under concurrent commits.
    */
  def vacuum(retain: Long): Unit = {
    require(retain >= horizon && retain <= head.get(),
      s"txn: vacuum retain=v$retain outside (horizon=$horizon, head=${head.get()}]")
    val kept = (horizon + 1) to retain
    val frames = checkpoint.toSeq ++
      kept.map(v => commits.get(v)).filter(_ != null).map(_.dump)
    // localCheckpoint: the collapsed frame must outlive the dropped deltas
    checkpoint = Some(compactRaw(frames).localCheckpoint())
    kept.foreach(v => commits.remove(v))
    horizon = retain
  }

  /** Snapshot-isolation read AS OF `v` (q228 semantics) through the
    * checkpoint + surviving deltas; REFUSES a vacuumed version.
    */
  def readAsOf(v: Long): DataFrame = {
    require(v >= horizon,
      s"txn: AS OF v$v predates the vacuum horizon v$horizon — the " +
        "history is gone; refusing a partial snapshot")
    require(v <= head.get(), s"txn: AS OF unborn v$v (head=${head.get()})")
    val frames = checkpoint.toSeq ++
      ((horizon + 1) to head.get()).map(commits.get(_)).filter(_ != null)
        .map(_.dump)
    Relational.mergeCompact(frames.map(_.filter(col("version") <= v)))
  }
}

/** q236 — the commit protocol exercised end to end as a registered,
  * oracle-checked query.
  */
object Txn extends QueryGroup {

  /** q240's column-envelope catalog over the dump log AS OF a version:
    * per audited column, the MAINTAINED stats a writer keeps beside the
    * manifest — value counts and a min/max ENVELOPE folded from the 'U'
    * rows of each dump (delta-sized log metadata, never a data rescan) —
    * beside the RESCAN truth from the compacted alive rows, with the
    * soundness law enforced IN-PLAN: envelope must contain truth, else
    * raise. `exact` is the honest flag: envelopes stay tight only while
    * the log is insert-only (no tombstones, no re-claimed keys); a
    * delete/update can strand the old extremum inside the envelope, so
    * the catalog widens rather than lies — and a planner pruning with a
    * too-wide envelope is still SOUND (no false skips), which is the
    * whole design.
    */
  private[graft] def statsCatalogAsOf(dumps: Seq[DataFrame],
      asOf: Long): DataFrame = {
    val log = dumps.reduce(_ unionByName _).filter(col("version") <= asOf)
    val u = log.filter(col("op") === "U")
      .select(col("doc_id"), octet_length(col("txt")).as("txt_octets"))
    // maintained leg: one fold over the log's U rows (delta-sized)
    val env = u.agg(
      min(col("doc_id")).as("env_min_id"), max(col("doc_id")).as("env_max_id"),
      min(col("txt_octets")).as("env_min_oct"),
      max(col("txt_octets")).as("env_max_oct"))
    // exactness: insert-only so far? (no tombstones, no re-claimed keys)
    val exactness = log.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("c"),
        sum(when(col("op") === "D", 1L).otherwise(0L)).as("d"))
      .agg((sum(when(col("c") > 1L, 1L).otherwise(0L)) === 0L &&
        sum(col("d")) === 0L).as("exact"))
    // rescan truth: the compacted alive rows
    val alive = Relational.mergeCompact(dumps.map(_.filter(col("version") <= asOf)))
      .filter(col("alive")).select(col("doc_id"))
    val aliveTxt = log.filter(col("op") === "U")
      .groupBy(col("doc_id"))
      .agg(max(struct(col("version"), octet_length(col("txt")).as("o")))
        .as("s"))
      .join(alive, Seq("doc_id"), "left_semi")
      .select(col("doc_id"), col("s.o").as("txt_octets"))
    val truth = aliveTxt.agg(
      count(lit(1)).as("n_alive"),
      min(col("doc_id")).as("true_min_id"), max(col("doc_id")).as("true_max_id"),
      min(col("txt_octets")).as("true_min_oct"),
      max(col("txt_octets")).as("true_max_oct"))
    val one = env.crossJoin(exactness).crossJoin(truth)
      .filter(when(
        col("env_min_id") > col("true_min_id") ||
          col("env_max_id") < col("true_max_id") ||
          col("env_min_oct") > col("true_min_oct") ||
          col("env_max_oct") < col("true_max_oct"),
        raise_error(lit("q240: catalog envelope excludes live values — " +
          "an unsound catalog causes FALSE SKIPS; refusing")))
        .otherwise(lit(true)))
    one.select(lit(asOf).as("as_of"), explode(array(
      struct(lit("doc_id").as("column"), col("n_alive"),
        col("env_min_id").as("env_min"), col("env_max_id").as("env_max"),
        col("exact"), col("true_min_id").as("true_min"),
        col("true_max_id").as("true_max")),
      struct(lit("txt_octets").as("column"), col("n_alive"),
        col("env_min_oct").cast("long").as("env_min"),
        col("env_max_oct").cast("long").as("env_max"),
        col("exact"), col("true_min_oct").cast("long").as("true_min"),
        col("true_max_oct").cast("long").as("true_max")))).as("x"))
      .select(col("as_of"), col("x.column"), col("x.n_alive"),
        col("x.env_min"), col("x.env_max"), col("x.exact"),
        col("x.true_min"), col("x.true_max"))
  }

  /** q241's CHANGE DATA FEED: the diff between two snapshot reads as CDC
    * rows — the inverse of q223 (which CONSUMES a changelog, this
    * PRODUCES one; Delta's readChangeFeed semantics): full-outer join
    * the compactions AS OF `from` and `to` on the key and classify —
    * absent/dead → alive = insert, alive → alive with a different
    * payload = update (pre+post images carried), alive → dead = delete;
    * unchanged keys and persisting tombstones emit nothing. One key
    * shuffle over two manifest-sized frames.
    */
  private[graft] def changeFeed(dumps: Seq[DataFrame], from: Long,
      to: Long): DataFrame = {
    require(from < to, s"q241: change feed needs from < to, got $from >= $to")
    val a = Relational.timeTravelRead(dumps, from).select(col("doc_id"),
      col("alive").as("a_alive"), col("text_md5").as("pre_md5"))
    val b = Relational.timeTravelRead(dumps, to).select(col("doc_id"),
      col("alive").as("b_alive"), col("text_md5").as("post_md5"))
    a.join(b, Seq("doc_id"), "full_outer")
      .withColumn("change",
        when(coalesce(col("a_alive"), lit(false)) && !col("b_alive"), "delete")
          .when(!coalesce(col("a_alive"), lit(false)) &&
            coalesce(col("b_alive"), lit(false)), "insert")
          .when(coalesce(col("a_alive"), lit(false)) && col("b_alive") &&
            col("pre_md5") =!= col("post_md5"), "update"))
      .filter(col("change").isNotNull)
      .select(lit(from).as("from_v"), col("doc_id"), col("change"),
        when(col("change") =!= "insert", col("pre_md5")).as("pre_md5"),
        when(col("change") =!= "delete", col("post_md5")).as("post_md5"))
      .orderBy("doc_id")
  }

  /** q247's scheduler arithmetic: per candidate retain version V, the
    * economics of `vacuum(V)` — the DECISION the q244 census exists for.
    * Bytes ride q234's plain-encoding model applied to the log schema
    * (8 doc_id + 8 version + 1 op + [4 + octets(txt)] for U rows):
    *  - reclaim = the rows/bytes versions ≤ V ship that a LATER version
    *    ≤ V has superseded (vacuum drops them);
    *  - rewrite = the rows/bytes the checkpoint must rewrite (latest per
    *    key, tombstones kept — q236's compactRaw contract);
    *  - compact_now iff 4·reclaim_bytes ≥ rewrite_bytes (reclaimable
    *    dead weight ≥ a quarter of the rewrite cost — the exact-integer
    *    threshold; below it the rewrite costs more than it frees for a
    *    long time).
    * Conservation (reclaim_rows + ckpt_rows = n_rows) is raised on
    * IN-PLAN (the q240 soundness discipline) — a scheduler that loses
    * rows between the two buckets advises garbage.
    *
    * Scale shape: the candidate-version frame is bounded manifest
    * metadata (≤ #versions rows, broadcast); the one corpus pass keys on
    * (retain_v, doc_id) with map-side partials — rows fan out by at most
    * the version count, which a real manifest bounds independently of
    * data volume.
    */
  private[graft] def compactionSchedule(dumps: Seq[DataFrame]): DataFrame = {
    val all = dumps.reduce(_ unionByName _)
    val vs = all.select(col("version").as("retain_v")).distinct()
    val w = all.join(broadcast(vs), col("version") <= col("retain_v"))
      .withColumn("bytes", lit(17L) +
        when(col("op") === "U", lit(4L) + octet_length(col("txt")))
          .otherwise(0L))
    val latest = w.groupBy(col("retain_v"), col("doc_id"))
      .agg(max(col("version")).as("lv"))
    w.join(latest, Seq("retain_v", "doc_id"))
      .groupBy(col("retain_v"))
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("version") === col("lv"), 1L).otherwise(0L))
          .as("ckpt_rows"),
        sum(when(col("version") < col("lv"), 1L).otherwise(0L))
          .as("reclaim_rows"),
        sum(when(col("version") < col("lv"), col("bytes")).otherwise(0L))
          .as("reclaim_bytes"),
        sum(when(col("version") === col("lv"), col("bytes")).otherwise(0L))
          .as("rewrite_bytes"))
      .filter(when(col("n_rows") =!= col("ckpt_rows") + col("reclaim_rows"),
        raise_error(lit("q247: conservation broken — rows lost between " +
          "the reclaim and rewrite buckets; the schedule would advise garbage")))
        .otherwise(lit(true)))
      .select(col("retain_v"), col("n_rows"), col("ckpt_rows"),
        col("reclaim_rows"), col("reclaim_bytes"), col("rewrite_bytes"),
        (col("reclaim_bytes") * 4L >= col("rewrite_bytes")).as("compact_now"))
      .orderBy("retain_v")
  }

  /** q248's advice rule — the CBO decision from catalog cardinalities:
    * broadcast the side at least 4× smaller than the other (the
    * exact-integer form of "small enough that shipping it everywhere
    * beats shuffling both"), else shuffle. Uniform across join sets so
    * the oracle states it once.
    */
  private[graft] def joinAdvice(estLeft: Long, estRight: Long): String =
    if (estLeft * 4L <= estRight) "broadcast_left"
    else if (estRight * 4L <= estLeft) "broadcast_right"
    else "shuffle"

  /** q248: STATS-CATALOG JOIN ADVISOR — the first CBO-shaped consumer of
    * the metadata tier (the r13 verdict's item #4): every estimate comes
    * from a CATALOG read (q239 footer stats for the base tables, q240's
    * published n_alive for the dump-log side — zero data scans in the
    * estimation leg), the advice (broadcast side + the greedy
    * smallest-first join order the `step` column encodes) follows
    * [[joinAdvice]], and the ACTUAL leg executes each join WITH the
    * advised strategy and counts — the q168/q243 self-validating-leg
    * discipline: a wrong estimate or advice lands as a red row against
    * the oracle, which recomputes both legs from the data.
    *
    * Cardinality model (exact-integer, each precondition VERIFIED from
    * the stats and refused loudly when absent):
    *  - PK–FK step (the chain + dim_probe): the parent key is provably
    *    DENSE-UNIQUE from its footer stats (n_values = max − min + 1,
    *    null-free) and the child FK range is CONTAINED in it — so
    *    est_out = child rows exactly (referential integrity the actual
    *    leg then confirms);
    *  - self-equi-join: the System-R form |L|²/V with V = the key's
    *    domain width from the parent table's catalog row (floor
    *    division — a documented model, not a theorem; actual diverges
    *    exactly by the key-frequency variance, which is the point of
    *    carrying both columns);
    *  - log ⋈ base on a shared unique key: est_out = min(n_alive,
    *    n_base) — the envelope-sound UPPER bound (never an
    *    under-estimate, the q240 soundness direction: a planner sizing
    *    buffers from it never under-provisions).
    */
  private[graft] def joinAdvisor(spark: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    def stats(tbl: String) = Footer.tableStats(dir, tbl)
    def denseUnique(tbl: String, key: String): Long = {
      val s = stats(tbl)(key)
      require(s.null_count == 0L &&
        s.n_values == s.max_value.toLong - s.min_value.toLong + 1L,
        s"q248: $tbl.$key is not provably dense-unique from its stats — " +
          "the PK-FK cardinality model does not apply; refusing")
      s.n_values
    }
    def contained(childTbl: String, fk: String, parentTbl: String,
        pk: String): Unit = {
      val c = stats(childTbl)(fk); val p = stats(parentTbl)(pk)
      require(c.min_value.toLong >= p.min_value.toLong &&
        c.max_value.toLong <= p.max_value.toLong,
        s"q248: $childTbl.$fk range escapes $parentTbl.$pk — referential " +
          "integrity unproven; refusing the containment estimate")
    }
    def rows(tbl: String, anyCol: String): Long = stats(tbl)(anyCol).n_values
    // r17 (guide §2.6 — overlap independent jobs): the actual legs are
    // SEVEN independent count jobs; executed sequentially each one's
    // stage tail left the box idle. `exec` now returns the advised plan
    // lazily and the counts run concurrently below — same plans, same
    // values, wall ≈ the slowest leg instead of the sum.
    def exec(l: DataFrame, r: DataFrame, cond: org.apache.spark.sql.Column,
        advice: String): DataFrame = advice match {
      case "broadcast_left"  => broadcast(l).join(r, cond)
      case "broadcast_right" => l.join(broadcast(r), cond)
      case _                 => l.join(r, cond)
    }
    def t(n: String) = graft.Tables(spark, dir, n)

    // ---- chain: greedy smallest-first over the star schema ----
    val chainSpec = Seq(
      // (child table, child FK, parent table already in the chain, its PK)
      ("nation", "n_regionkey", "region", "r_regionkey"),
      ("customer", "c_nationkey", "nation", "n_nationkey"),
      ("orders", "o_custkey", "customer", "c_custkey"),
      ("lineitem", "l_orderkey", "orders", "o_orderkey"))
    var acc: DataFrame = t("region")
    var accEst = denseUnique("region", "r_regionkey")
    // each pending row carries its advised ACTUAL leg unexecuted; the
    // construction loop is driver metadata only (catalog reads)
    val chainPending = chainSpec.zipWithIndex.map {
      case ((child, fk, parent, pk), i) =>
        denseUnique(parent, pk) // the model's precondition, checked
        contained(child, fk, parent, pk)
        val er = rows(child, fk)
        val advice = joinAdvice(accEst, er)
        val leg = exec(acc, t(child), col(pk) === col(fk), advice)
        acc = acc.join(t(child), col(pk) === col(fk))
        val row = (("chain", (i + 1).toLong, child, accEst, er, er, advice), leg)
        accEst = er
        row
    }

    // ---- dim_probe: a declared order with the DIM on the right ----
    val dpL = rows("customer", "c_custkey")
    val dpR = denseUnique("nation", "n_nationkey")
    contained("customer", "c_nationkey", "nation", "n_nationkey")
    val dpAdvice = joinAdvice(dpL, dpR)
    val dimProbe = (("dim_probe", 1L, "nation", dpL, dpR, dpL, dpAdvice),
      exec(t("customer"), t("nation"),
        col("c_nationkey") === col("n_nationkey"), dpAdvice))

    // ---- selfjoin: the System-R V-bounded estimate ----
    val sl = rows("lineitem", "l_orderkey")
    val v = denseUnique("orders", "o_orderkey")
    val sjAdvice = joinAdvice(sl, sl)
    val li = t("lineitem")
    val selfJoin = (("selfjoin", 1L, "lineitem", sl, sl, sl * sl / v, sjAdvice),
      exec(
        li.select(col("l_orderkey").as("ka"), col("l_linenumber").as("la")),
        li.select(col("l_orderkey").as("kb"), col("l_linenumber").as("lb")),
        col("ka") === col("kb"), sjAdvice))

    // ---- log_docs: the q240-catalog side ----
    val dumps = Relational.mergeDumps(spark, dir)
    val nAlive = statsCatalogAsOf(dumps, 3L)
      .filter(col("column") === "doc_id")
      .select(col("n_alive")).head().getLong(0)
    val nDocs = rows("documents", "doc_id")
    val ldAdvice = joinAdvice(nAlive, nDocs)
    val alive3 = Relational.timeTravelRead(dumps, 3L)
      .filter(col("alive")).select(col("doc_id"))
    val logDocs = (("log_docs", 1L, "documents", nAlive, nDocs,
      math.min(nAlive, nDocs), ldAdvice),
      exec(alive3,
        t("documents").select(col("doc_id").as("d_id")),
        col("doc_id") === col("d_id"), ldAdvice))

    // run the seven independent actual-leg counts CONCURRENTLY: FIFO
    // scheduling back-fills each leg's task tail with the next leg's
    // tasks (guide §2.6). 4 in flight saturates the box without
    // starving any single leg.
    val pending = chainPending :+ dimProbe :+ selfJoin :+ logDocs
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    val rowsOut = try {
      val futures = pending.map { case (meta, leg) =>
        scala.concurrent.Future((meta, leg.count()))
      }
      // finite (generous) wait, not Duration.Inf: a wedged leg fails
      // LOUD after 10 min instead of hanging the query forever, and the
      // shutdownNow below then interrupts the remaining legs (r17
      // advice)
      futures.map(f => scala.concurrent.Await.result(
        f, scala.concurrent.duration.Duration(10, "min")))
    } finally pool.shutdownNow()

    rowsOut
      .map { case ((js, step, bt, el, er, eo, adv), actual) =>
        (js, step, bt, el, er, eo, actual, adv)
      }
      .toDF("join_set", "step", "build_table", "est_left", "est_right",
        "est_out", "actual_out", "advice")
      .orderBy("join_set", "step")
  }

  /** The executed plan's base-table scan order, leftmost-deep first —
    * the observation leg of q267 (AQE is pinned OFF in its scope, so
    * the executed plan is the planned left-deep tree and pre-order
    * leaf collection IS the join order).
    */
  private[graft] def scanOrderOf(df: DataFrame): String = {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val names = plan.collect { case f: FileSourceScanExec =>
      val base = f.relation.location.rootPaths.head.getName
      if (base.endsWith(".parquet")) base.stripSuffix(".parquet") else base
    }
    require(names.nonEmpty, "q267: no base-table scans in the executed plan")
    names.mkString(",")
  }

  /** q267: JOIN ORDER driven by the catalog INSIDE Catalyst — the rule
    * form of q248's greedy smallest-first advice ([[
    * graft.plans.JoinReorderRule]], registered per-query via
    * `spark.experimental.extraOptimizations` with save/restore, the
    * q252 discipline). The user writes the chain LARGEST-FIRST (the
    * worst order: every intermediate result is corpus-sized) and the
    * planner rebuilds it smallest-first from footer row counts; the
    * `observed_order` column reads the EXECUTED plan's scan order, and
    * the oracle re-derives it from COUNT(*) arithmetic alone — the
    * q168 self-validating leg: a rule that reorders wrongly, fails to
    * fire, or fires on the hinted control lands as a red row. AQE and
    * both broadcast thresholds are pinned inside the scope so the
    * executed tree is the planned left-deep SMJ chain.
    */
  private[graft] def catalystJoinReorder(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def t(n: String) = graft.Tables(spark, dir, n)
    val catalog = graft.Tables.all
      .map(n => n -> Footer.tableStats(dir, n).values.map(_.n_values).max)
      .toMap
    val rule = graft.plans.JoinReorderRule(catalog)
    val exp = spark.experimental
    val prevRules = exp.extraOptimizations
    val pins = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = pins.map { case (k, _) =>
      k -> (try Option(spark.conf.get(k)) catch { case _: Exception => None })
    }
    val rows = try {
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      exp.extraOptimizations = prevRules :+ rule
      val cases = Seq(
        ("chain3", t("lineitem")
          .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
          .join(t("customer"), col("o_custkey") === col("c_custkey"))),
        ("chain4", t("orders")
          .join(t("customer"), col("o_custkey") === col("c_custkey"))
          .join(t("nation"), col("c_nationkey") === col("n_nationkey"))
          .join(t("region"), col("n_regionkey") === col("r_regionkey"))),
        // the CONTROL: a user hint anywhere in the chain is a user
        // decision — the rule must abstain and the user order executes
        ("hinted", t("lineitem")
          .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
          .hint("merge")
          .join(t("customer"), col("o_custkey") === col("c_custkey"))))
      cases.map { case (name, joined) =>
        val cdf = joined.groupBy().count()
        val n = cdf.head().getLong(0)
        (name, scanOrderOf(cdf), n)
      }
    } finally {
      exp.extraOptimizations = prevRules
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    rows.toDF("join_set", "observed_order", "n_out").orderBy("join_set")
  }

  /** q274: SELECTIVITY-AWARE JOIN ORDER — the r15 verdict's #5: raw
    * catalog counts order a large table LAST even when a highly
    * selective filter sits on it, so [[graft.plans.JoinReorderRule]]
    * now discounts each item by a bounded selectivity estimate from the
    * catalog's footer (min, max) envelopes (the q245 overlap arithmetic
    * lifted to the table level, exact rational floor — restated
    * verbatim by the oracle). The CONTROL chain is q267's chain3 (no
    * filters — raw counts, customer first at the fixture's counts);
    * the SELECTIVE chain puts `l_orderkey <= min + (max-min)/100` on
    * lineitem, whose effective count drops BELOW customer's, and the
    * EXECUTED plan must flip to lineitem-first — observed from the
    * executed scan order, derived by the oracle from COUNT(*)/MIN/MAX
    * arithmetic alone. Estimates only ORDER inner joins (an algebraic
    * identity), so a bad estimate can cost plan quality, never rows —
    * and the n_out legs prove the rewritten chains' results exact.
    */
  private[graft] def selectivityJoinReorder(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def t(n: String) = graft.Tables(spark, dir, n)
    val cat = graft.plans.PlannerRules.catalogStatsFor(dir)
    val rule = graft.plans.JoinReorderRule(cat.rows, cat.ranges)
    val (loK, hiK) = cat.ranges("lineitem")("l_orderkey")
    val cut = loK + (hiK - loK) / 100L
    val exp = spark.experimental
    val prevRules = exp.extraOptimizations
    // constraintPropagation is pinned OFF in this scope: Catalyst also
    // infers `o_orderkey <= cut` on ORDERS from the equi-join condition
    // (measured — the inferred filter discounted orders below lineitem
    // and the greedy started there), which is version-dependent
    // optimizer behavior the closed-form oracle must not have to
    // mirror. At scale the inference only discounts MORE (better
    // plans); the flip this query grades is the USER predicate's.
    val pins = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false",
      "spark.sql.constraintPropagation.enabled" -> "false")
    val prev = pins.map { case (k, _) =>
      k -> (try Option(spark.conf.get(k)) catch { case _: Exception => None })
    }
    val rows = try {
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      exp.extraOptimizations = prevRules :+ rule
      def chain(lineitem: DataFrame) = lineitem
        .join(t("orders"), col("l_orderkey") === col("o_orderkey"))
        .join(t("customer"), col("o_custkey") === col("c_custkey"))
      val cases = Seq(
        ("control", chain(t("lineitem"))),
        ("selective", chain(t("lineitem").filter(col("l_orderkey") <= cut))))
      cases.map { case (name, joined) =>
        val cdf = joined.groupBy().count()
        val n = cdf.head().getLong(0)
        (name, scanOrderOf(cdf), n)
      }
    } finally {
      exp.extraOptimizations = prevRules
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    rows.toDF("join_set", "observed_order", "n_out").orderBy("join_set")
  }

  /** Each table's designated key column — the numeric envelope leg the
    * q275 output (and its oracle) reports per catalog row.
    */
  private[graft] val TableKeyCols: Map[String, String] = Map(
    "region" -> "r_regionkey", "nation" -> "n_nationkey",
    "customer" -> "c_custkey", "supplier" -> "s_suppkey",
    "part" -> "p_partkey", "orders" -> "o_orderkey",
    "lineitem" -> "l_orderkey", "events" -> "event_id",
    "documents" -> "doc_id", "embeddings" -> "vec_id")

  /** q275: PLANNER CATALOG FROM A PERSISTED MANIFEST — the r15
    * verdict's #6: `catalogFor` re-walked every table's footers per JVM,
    * exactly the file-tail planning q268 retired at the layout level.
    * [[graft.plans.PlannerRules.catalogStatsFor]] now resolves memo →
    * persisted manifest (ZERO footer opens, honored only while every
    * table's on-disk file set still matches — q268's staleness stance)
    * → cold walk that writes the manifest for the next session. This
    * query exercises BOTH paths deterministically: delete the manifest,
    * clear the memo, resolve cold (footerReads must move), clear the
    * memo again, resolve warm (footerReads must NOT move — the
    * instrumented q268-style pin), require warm ≡ cold, then emit the
    * catalog itself — per table, the row count and the designated key
    * column's envelope — for the oracle to recompute from the raw data
    * (footer truth ≡ data truth, the q239 theorem, now read through
    * the manifest).
    */
  private[graft] def catalogManifestResolve(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val P = graft.plans.PlannerRules
    java.nio.file.Files.deleteIfExists(P.catalogManifestPath(dir))
    P.catalogCacheClear()
    val r0 = Footer.footerReads.get()
    val cold = P.catalogStatsFor(dir)
    require(Footer.footerReads.get() > r0,
      "q275: the cold catalog resolution must walk footers")
    P.catalogCacheClear()
    val r1 = Footer.footerReads.get()
    val warm = P.catalogStatsFor(dir)
    require(Footer.footerReads.get() == r1,
      "q275: warm catalog resolution opened footers — the zero-read claim broke")
    require(warm == cold,
      "q275: the manifest-resolved catalog diverges from the footer walk")
    TableKeyCols.toSeq.sortBy(_._1).map { case (t, k) =>
      val (lo, hi) = warm.ranges(t)(k)
      (t, warm.rows(t), lo, hi)
    }.toDF("tbl", "n_rows", "key_min", "key_max").orderBy("tbl")
  }

  /** q277: SELECTIVITY-BOUNDED BROADCAST — the q274 direction applied
    * to STRATEGY, with the estimator swapped for a SOUND one: order is
    * correctness-neutral so q274 may use the uniform-fraction estimate,
    * but a broadcast decision must never under-count a side (skew could
    * put most of the mass inside the selected range and the "small"
    * side OOMs the build). [[graft.plans.StatsBroadcastRule]] therefore
    * consumes the per-FILE overlap BOUND: a file whose stats envelope
    * is provably disjoint from a recognized filter conjunct cannot
    * contribute a row (q245's unit-overlap rule at the planner), so the
    * side is bounded by the surviving files' row-count sum — a true
    * upper bound from the layout's own manifest, zero data reads.
    *
    * Fixture: events clustered on (k, event_id) as an adaptive-unit
    * layout — the shape where the bound has resolving power — joined to
    * orders on user_id = o_custkey (raw ratio 1.5, inside the 4×
    * band → CONTROL plans sort_merge both directions). The BOUNDED
    * chain filters k to the first eighth of its envelope: the manifest
    * bound collapses to the overlapping units' rows, 4×bound clears
    * orders, and the EXECUTED plan must flip to broadcast_hash. The
    * oracle re-derives the unit geometry (ROW_NUMBER chunking), the
    * bound (groups overlapping the cut), the advice arithmetic, and
    * the physical mapping from COUNT(*)/MIN/MAX alone.
    */
  private[graft] def selectivityBroadcast(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val n = ev.count()
    val tag = "q277_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val units = Footer.writeUnits(ev, Seq(col("k"), col("event_id")), tag,
      Footer.adaptiveUnitRows(n))
    val layoutDir = Footer.layoutDirFor(tag)
    val layoutName = "graft_prune_" + tag
    val nOrders = Footer.tableStats(dir, "orders").values.map(_.n_values).max
    val rows = Map(layoutName -> n, "orders" -> nOrders)
    val fileStats = Map(layoutName -> units.map(u =>
      (u.nRows, u.lo.keys.map(c => c -> (u.lo(c), u.hi(c))).toMap)))
    val rule = graft.plans.StatsBroadcastRule(rows, fileStats)
    val loK = units.map(_.lo("k")).min
    val hiK = units.map(_.hi("k")).max
    val cut = loK + (hiK - loK) / 8L
    val bound = units.filter(_.lo("k") <= cut).map(_.nRows).sum
    val layout = spark.read.parquet(layoutDir)
    val orders = graft.Tables(spark, dir, "orders")
      .select(col("o_orderkey"), col("o_custkey"))
    val exp = spark.experimental
    val prevRules = exp.extraOptimizations
    val pins = Seq("spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.enabled" -> "false")
    val prev = pins.map { case (k, _) =>
      k -> (try Option(spark.conf.get(k)) catch { case _: Exception => None })
    }
    val out = try {
      pins.foreach { case (k, v) => spark.conf.set(k, v) }
      exp.extraOptimizations = prevRules :+ rule
      val cases = Seq(
        ("bounded", n, layout.filter(col("k") <= cut), bound),
        ("control", n, layout, n))
      cases.map { case (name, raw, side, est) =>
        val joined = side
          .join(orders, col("user_id") === col("o_custkey"))
          .groupBy().count()
        val nOut = joined.head().getLong(0)
        (name, est, nOrders, physicalJoinOf(joined), nOut)
      }
    } finally {
      exp.extraOptimizations = prevRules
      prev.foreach {
        case (k, Some(v)) => spark.conf.set(k, v)
        case (k, None)    => spark.conf.unset(k)
      }
    }
    out.toDF("join_set", "est_left", "est_right", "physical", "n_out")
      .orderBy("join_set")
  }

  /** The top join operator the executed plan actually ran — the
    * observation leg of q252 (AQE-aware: the final plan, not the
    * initial one).
    */
  private[graft] def physicalJoinOf(df: DataFrame): String = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.joins._
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case p => p
    }
    val names = plan.collect {
      case _: BroadcastHashJoinExec => "broadcast_hash"
      case _: SortMergeJoinExec => "sort_merge"
      case _: ShuffledHashJoinExec => "shuffled_hash"
      case _: BroadcastNestedLoopJoinExec => "broadcast_nested_loop"
    }
    require(names.nonEmpty, "q252: no join operator in the executed plan")
    names.head
  }

  /** q252: the stats catalog wired INTO Catalyst — see
    * [[graft.plans.StatsBroadcastRule]]. q248 executed its advice BY
    * HAND (`exec` picked the broadcast side imperatively); here the
    * user code is a stock un-hinted `l.join(r, cond)` and the RULE,
    * registered for the scope of this query via
    * `spark.experimental.extraOptimizations` (save/restore), makes the
    * planner pick the strategy from the q239 footer catalog. The
    * autoBroadcastJoinThreshold is pinned to -1 inside the scope — the
    * 100 TB posture where byte-size auto-broadcast guesses are off and
    * every broadcast must be justified by catalog stats — so every
    * `broadcast_hash` in the `physical` column is the rule's doing,
    * nothing else's (the spec pins the negative control: same joins,
    * same threshold, no rule → all sort_merge). The oracle derives
    * `physical` from the advice arithmetic alone — the q168
    * self-validating leg: Catalyst ignoring the hint, or the rule
    * hinting the wrong side, lands as a red row.
    */
  private[graft] def catalystAdvisedJoins(
      spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    def t(n: String) = graft.Tables(spark, dir, n)
    val catalog = graft.Tables.all
      .map(n => n -> Footer.tableStats(dir, n).values.map(_.n_values).max)
      .toMap
    val rule = graft.plans.StatsBroadcastRule(catalog)
    val exp = spark.experimental
    val prevRules = exp.extraOptimizations
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    // AQE's adaptive threshold only FALLS BACK to the non-adaptive conf
    // when unset (r14 ADVICE) — a session that set it explicitly would
    // let the final adaptive plan broadcast un-hinted joins; pin both.
    val adaptiveKey = "spark.sql.adaptive.autoBroadcastJoinThreshold"
    val prevAdaptive = // unset reads back as null, not an exception
      try Option(spark.conf.get(adaptiveKey)) catch { case _: Exception => None }
    val rows = try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set(adaptiveKey, "-1")
      exp.extraOptimizations = prevRules :+ rule
      val cases = Seq(
        ("chain_dim", "nation", "customer",
          t("nation").join(t("customer"),
            col("n_nationkey") === col("c_nationkey"))),
        ("dim_probe", "customer", "nation",
          t("customer").join(t("nation"),
            col("c_nationkey") === col("n_nationkey"))),
        ("selfjoin", "lineitem", "lineitem",
          t("lineitem").select(col("l_orderkey").as("ka"),
              col("l_linenumber").as("la"))
            .join(t("lineitem").select(col("l_orderkey").as("kb"),
              col("l_linenumber").as("lb")), col("ka") === col("kb"))))
      cases.map { case (name, lt, rt, joined) =>
        // count THROUGH the join plan, then read the final physical plan
        // of the executed count — the join node it contains is the one
        // that actually ran
        val cdf = joined.groupBy().count()
        val n = cdf.head().getLong(0)
        (name, catalog(lt), catalog(rt), joinAdvice(catalog(lt), catalog(rt)),
          physicalJoinOf(cdf), n)
      }
    } finally {
      exp.extraOptimizations = prevRules
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      prevAdaptive match {
        case Some(v) => spark.conf.set(adaptiveKey, v)
        case None    => spark.conf.unset(adaptiveKey)
      }
    }
    rows.toDF("join_set", "est_left", "est_right", "advice", "physical",
      "n_out").orderBy("join_set")
  }

  def queries: Map[String, Q] = Map(
    // q250 [north star, r14]: SCHEDULED VACUUM — the metric→decision→
    // ACTION chain in one registered query: q244 counted the dead
    // weight, q247 turned it into compact-now/defer, and this runs the
    // maintenance the schedule advises — load the q223 history through
    // the commit protocol, vacuum at the scheduler's advised version
    // (the max compact_now candidate — the latest point the economics
    // justify, exactly where q236 checkpoints by hand), and emit the
    // post-vacuum snapshot read THROUGH the checkpoint. The oracle
    // compacts the raw history directly, so the hash match is the
    // vacuum-transparency proof under a DERIVED retain point, not a
    // hand-picked one: a scheduler advising an unsafe version (or a
    // vacuum breaking reads) lands as a red row.
    "q250_scheduled_vacuum" -> ((spark, dir) => {
      val dumps = Relational.mergeDumps(spark, dir)
      val advisedRow = compactionSchedule(dumps)
        .filter(col("compact_now"))
        .agg(max(col("retain_v")).as("v")).head()
      require(!advisedRow.isNullAt(0),
        "q250: the schedule advises no compaction — nothing to vacuum " +
          "(the fixture must carry reclaimable mass; q247 pins it does)")
      val advised = advisedRow.getLong(0)
      val log = new TableLog
      def keysOf(df: DataFrame): Set[Long] =
        df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      require(log.commit("loader", 0L, None, _ => dumps(0)) == 1L)
      require(log.commit("delta1", 1L, Some(keysOf(dumps(1))),
        _ => dumps(1)) == 2L)
      val d3 = dumps(2).unionByName(dumps(3))
      require(log.commit("delta2", 2L, Some(keysOf(d3)), _ => d3) == 3L)
      require(advised <= log.snapshotVersion,
        s"q250: schedule advised v$advised past the head — unsound")
      log.vacuum(advised)
      log.readAsOf(log.snapshotVersion)
    }),

    // q252 [north star, r14]: CATALYST-INTEGRATED STATS BROADCAST —
    // see [[catalystAdvisedJoins]] / [[graft.plans.StatsBroadcastRule]].
    // q248's advice, consumed by the PLANNER itself: stock un-hinted
    // joins under autoBroadcastJoinThreshold=-1 plan as broadcast_hash
    // exactly where the footer catalog's 4x rule says so, sort_merge
    // elsewhere; the physical column is observed from the executed
    // plan, the oracle derives it from the arithmetic alone.
    // q267 [north star, r15]: CATALYST JOIN REORDER — q248's greedy
    // smallest-first join ORDER lifted into a Rule[LogicalPlan] beside
    // the q252 broadcast rule: an un-hinted largest-first chain plans
    // smallest-first from footer stats, the hinted control stays in
    // user order, and the oracle derives the expected order from
    // COUNT(*) arithmetic alone.
    "q267_catalyst_join_reorder" -> ((spark, dir) =>
      catalystJoinReorder(spark, dir)),

    // q274 [north star, r16]: SELECTIVITY-AWARE JOIN ORDER — the
    // reorder rule discounts items by footer-range selectivity, so a
    // selective filter on the LARGEST table flips the advised order;
    // observed from the executed plan, oracle re-derived from
    // COUNT(*)/MIN/MAX arithmetic with the estimate restated verbatim.
    "q274_selectivity_reorder" -> ((spark, dir) =>
      selectivityJoinReorder(spark, dir)),

    // q277 [north star, r16]: SELECTIVITY-BOUNDED BROADCAST — the
    // broadcast rule consumes the per-file overlap BOUND from the
    // layout manifest (a true upper bound, never the uniform estimate):
    // a ~1/8 range filter on the clustered big side flips the executed
    // join from sort_merge to broadcast_hash; geometry, bound, advice,
    // and physical all re-derived by the oracle.
    "q277_selectivity_broadcast" -> ((spark, dir) =>
      selectivityBroadcast(spark, dir)),

    // q275 [north star, r16]: CATALOG FROM A PERSISTED MANIFEST — the
    // planner's table catalog resolves manifest-first with zero footer
    // opens (instrumented), falls back to the q239 walk on staleness,
    // and the emitted catalog is oracle-checked per table against the
    // raw data.
    "q275_catalog_manifest" -> ((spark, dir) =>
      catalogManifestResolve(spark, dir)),

    "q252_catalyst_stats_broadcast" -> ((spark, dir) =>
      catalystAdvisedJoins(spark, dir)),

    // q248 [north star, r14]: STATS-CATALOG JOIN ADVISOR — see
    // [[joinAdvisor]]. All three advice classes fire on the fixture
    // (chain: broadcast_left at every step; dim_probe: broadcast_right;
    // selfjoin/log_docs: shuffle); est == actual wherever the dense-
    // unique + containment preconditions hold (the chain and dim_probe),
    // and the two model-bound rows carry their documented divergence.
    "q248_join_advisor" -> ((spark, dir) => joinAdvisor(spark, dir)),

    // q247 [north star, r14]: COMPACTION/VACUUM SCHEDULER — closes the
    // metric→action gap the r13 verdict named: q244 counted the dead
    // weight, q234/q243 priced bytes; this emits the DECISION (compact
    // at version V now vs defer) with exact-integer thresholds, and the
    // spec runs the episode where vacuuming at the advised version
    // reproduces q236's checkpoint transparency. On the fixture v1 has
    // nothing to reclaim (defer) while v2/v3 carry enough superseded
    // mass to clear the bar — both decision classes fire.
    "q247_compaction_scheduler" -> ((spark, dir) =>
      compactionSchedule(Relational.mergeDumps(spark, dir))),

    // q244 [north star, r13]: TABLE-DEBT CENSUS — the metric a
    // vacuum/compaction scheduler actually reads (when does q236's
    // vacuum PAY?): per log version, the rows it shipped, the
    // tombstones among them, how many of its rows a LATER version has
    // since superseded (dead weight a compaction reclaims), and how
    // many are still the key's current state. One key shuffle derives
    // per-key latest versions; the census is a version-keyed rollup
    // (bounded by the version count). Debt = superseded + tombstoned
    // mass; on the fixture v1 carries the bulk of it — exactly why the
    // q236 episode checkpoints at v3.
    "q244_table_debt_census" -> ((spark, dir) => {
      val all = Relational.mergeDumps(spark, dir).reduce(_ unionByName _)
      val latest = all.groupBy(col("doc_id"))
        .agg(max(col("version")).as("latest_v"))
      all.join(latest, Seq("doc_id"))
        .groupBy(col("version"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when(col("op") === "D", 1L).otherwise(0L)).as("n_tombstones"),
          sum(when(col("version") < col("latest_v"), 1L).otherwise(0L))
            .as("n_superseded"),
          sum(when(col("version") === col("latest_v"), 1L).otherwise(0L))
            .as("n_current"))
        .select(col("version"), col("n_rows"), col("n_tombstones"),
          col("n_superseded"), col("n_current"))
        .orderBy("version")
    }),

    // q241 [north star, r13]: CHANGE DATA FEED — versions → changelog,
    // closing the warehouse loop (q223 compacts a changelog into a
    // table; q241 diffs two table versions back into one). BOTH windows
    // register so every class fires on the fixture: v1→v3 carries the
    // v2 deletes, v3 updates, and delta-born inserts; v2→v3 carries the
    // v2-dead-then-v3-updated RESURRECTION (dead→alive IS an insert to
    // a feed consumer) and proves persisting v2 tombstones emit
    // nothing. A CDC-consistency law rides in the spec: applying an
    // emitted feed to its from-version compaction reproduces the
    // to-version exactly.
    "q241_change_feed" -> ((spark, dir) => {
      val dumps = Relational.mergeDumps(spark, dir)
      changeFeed(dumps, 1L, 3L)
        .unionByName(changeFeed(dumps, Relational.TimeTravelVersion, 3L))
        .orderBy("from_v", "doc_id")
    }),

    // q240 [north star, r13]: INCREMENTAL STATS CATALOG — the q239
    // footer facts as MAINTAINED state under the q236/q223 dump log (the
    // IVM family's warehouse-catalog member): envelopes fold from
    // delta-sized log metadata; truth rescans; soundness (envelope ⊇
    // truth) is raised on in-plan; `exact` honestly flips FALSE once the
    // log stops being insert-only (AS OF 1 = insert-only: exact, tight;
    // AS OF 3 = after deletes/updates: inexact, sound — both pinned).
    "q240_stats_catalog_ivm" -> ((spark, dir) => {
      val dumps = Relational.mergeDumps(spark, dir)
      statsCatalogAsOf(dumps, 1L)
        .unionByName(statsCatalogAsOf(dumps, 3L))
        .orderBy("as_of", "column")
    }),

    // q236 [north star, r13]: OPTIMISTIC COMMIT over the dump log — the
    // transaction tier q223's read-time refusal implies. One registered
    // episode, all deterministic: the q223 history (v1-v3) loads through
    // the protocol; writer X (point fix, keys gated cmx < '2' over the
    // v3-alive set) commits from snapshot v3 -> v4; writer Y (disjoint
    // by construction: cmx >= '2' AND cmy < '2') also based on the now-
    // STALE v3 — its commit re-validates against X's v4, proves
    // disjointness, and lands as v5 (the retry-with-re-validation path);
    // writer Z's keys (cmx < '1', a subset of X's) collide with v4 and
    // its commit MUST throw LostUpdateException — the episode refuses to
    // produce output if the lost update goes undetected. Then
    // vacuum(retain = 3) collapses v1-v3 into a checkpoint, and the
    // OUTPUT is readAsOf(5) THROUGH the checkpoint — while the oracle
    // compacts the raw five-dump history directly, so the hash match IS
    // the vacuum-transparency proof (a checkpointed read equals the
    // full-history read). Spec pins: AS OF 2 refuses post-vacuum, a
    // writer based below the horizon refuses, adversarial two-thread
    // races in StreamingSpec (exactly-one-winner + loud lost update).
    "q236_optimistic_commit" -> ((spark, dir) => {
      val log = new TableLog
      val dumps = Relational.mergeDumps(spark, dir)
      // history: bulk load (keys=None — nothing precedes it), two deltas.
      // The fixture dumps carry their version literals; sequential
      // commits assign the same numbers — asserted, not assumed.
      def keysOf(df: DataFrame): Set[Long] =
        df.select(col("doc_id")).collect().map(_.getLong(0)).toSet
      require(log.commit("loader", 0L, None, _ => dumps(0)) == 1L)
      require(log.commit("delta1", 1L, Some(keysOf(dumps(1))),
        _ => dumps(1)) == 2L)
      val d3 = dumps(2).unionByName(dumps(3))
      require(log.commit("delta2", 2L, Some(keysOf(d3)), _ => d3) == 3L)
      // the concurrent episode: X, Y, Z all snapshot v3
      val gx = substring(md5(concat(lit("cmx:"),
        col("doc_id").cast("string"))), 1, 1)
      val gy = substring(md5(concat(lit("cmy:"),
        col("doc_id").cast("string"))), 1, 1)
      val alive3 = log.readAsOf(3L).filter(col("alive")).select(col("doc_id"))
      def fixDump(who: String, sel: DataFrame)(v: Long): DataFrame =
        sel.select(col("doc_id"), lit(v).as("version"), lit("U").as("op"),
          concat(lit(s"$who fix "), col("doc_id").cast("string")).as("txt"))
      val xSel = alive3.filter(gx < "2")
      val ySel = alive3.filter(gx >= "2" && gy < "2")
      val zSel = alive3.filter(gx < "1") // subset of X: guaranteed conflict
      val vX = log.commit("x", 3L, Some(keysOf(xSel)), fixDump("x", xSel))
      require(vX == 4L, s"x landed at v$vX")
      // Y's snapshot is stale (head is 4): re-validation must PASS
      val vY = log.commit("y", 3L, Some(keysOf(ySel)), fixDump("y", ySel))
      require(vY == 5L, s"y landed at v$vY")
      // Z's snapshot is stale AND conflicting: the protocol must be loud
      val zKeys = keysOf(zSel)
      require(zKeys.nonEmpty, "fixture must give z a real conflict set")
      val zThrew =
        try { log.commit("z", 3L, Some(zKeys), fixDump("z", zSel)); false }
        catch { case _: LostUpdateException => true }
      require(zThrew, "q236: the lost update went UNDETECTED — protocol broken")
      // retention: collapse v1-v3; the output reads THROUGH the checkpoint
      log.vacuum(3L)
      log.readAsOf(5L)
    }))

  /** The shared q223-gate dump CTEs (base/d1/d2/born/u3), verbatim. */
  private def dumpCtes: String =
    s"""base AS (SELECT doc_id, 1 AS version, 'U' AS op, text AS txt
       |              FROM documents),
       |d1 AS (SELECT doc_id, 2 AS version,
       |         CASE WHEN substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
       |              THEN 'D' ELSE 'U' END AS op,
       |         CASE WHEN substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
       |              THEN NULL ELSE text || ' v2' END AS txt
       |       FROM documents
       |       WHERE substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
       |          OR substring(md5('mupd:'||CAST(doc_id AS VARCHAR)),1,1) < '4'),
       |d2 AS (SELECT doc_id, 3 AS version, 'U' AS op, text || ' v3' AS txt
       |       FROM documents
       |       WHERE substring(md5('mupd2:'||CAST(doc_id AS VARCHAR)),1,1) < '2'),
       |born AS (SELECT doc_id + ${Relational.MergeNewBase} AS doc_id,
       |           3 AS version, 'U' AS op,
       |           'new doc ' || CAST(doc_id AS VARCHAR) AS txt
       |         FROM documents
       |         WHERE substring(md5('mnew:'||CAST(doc_id AS VARCHAR)),1,1) < '1'),
       |u3 AS (SELECT * FROM base UNION ALL SELECT * FROM d1
       |       UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM born)""".stripMargin

  private def catalogBlock(v: Long): String =
    s"""uv$v AS (SELECT * FROM u3 WHERE version <= $v),
       |e$v AS (SELECT MIN(CASE WHEN op='U' THEN doc_id END) AS emni,
       |         MAX(CASE WHEN op='U' THEN doc_id END) AS emxi,
       |         MIN(CASE WHEN op='U' THEN strlen(txt) END) AS emno,
       |         MAX(CASE WHEN op='U' THEN strlen(txt) END) AS emxo
       |       FROM uv$v),
       |x$v AS (SELECT (SUM(CASE WHEN c > 1 THEN 1 ELSE 0 END) = 0
       |               AND SUM(d) = 0) AS exact
       |       FROM (SELECT doc_id, COUNT(*) AS c,
       |               SUM(CASE WHEN op='D' THEN 1 ELSE 0 END) AS d
       |             FROM uv$v GROUP BY doc_id) z),
       |a$v AS (SELECT doc_id, txt FROM (
       |         SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
       |           ORDER BY version DESC) AS rn FROM uv$v) z
       |       WHERE rn = 1 AND op = 'U'),
       |t$v AS (SELECT COUNT(*) AS n_alive,
       |         MIN(doc_id) AS tmni, MAX(doc_id) AS tmxi,
       |         MIN(strlen(txt)) AS tmno, MAX(strlen(txt)) AS tmxo
       |       FROM a$v)""".stripMargin

  private def catalogRows(v: Long): String =
    s"""SELECT CAST($v AS BIGINT) AS as_of, 'doc_id' AS "column",
       |  CAST(n_alive AS BIGINT) AS n_alive, CAST(emni AS BIGINT) AS env_min,
       |  CAST(emxi AS BIGINT) AS env_max, exact,
       |  CAST(tmni AS BIGINT) AS true_min, CAST(tmxi AS BIGINT) AS true_max
       |FROM e$v, x$v, t$v
       |UNION ALL
       |SELECT CAST($v AS BIGINT), 'txt_octets', CAST(n_alive AS BIGINT),
       |  CAST(emno AS BIGINT), CAST(emxo AS BIGINT), exact,
       |  CAST(tmno AS BIGINT), CAST(tmxo AS BIGINT)
       |FROM e$v, x$v, t$v""".stripMargin

  /** q248's advice rule as SQL (the one place the arithmetic is stated
    * for the oracle — mirrors [[joinAdvice]] exactly).
    */
  private def adviceSql(el: String, er: String): String =
    s"CASE WHEN $el * 4 <= $er THEN 'broadcast_left' " +
      s"WHEN $er * 4 <= $el THEN 'broadcast_right' ELSE 'shuffle' END"

  /** The chain3 greedy (l—o—c connectivity, user order l,o,c) as SQL,
    * parameterized on the three row-count expressions — mirrors
    * JoinReorderRule's full tie-break ((rows, user-order index): l wins
    * any tie it is in, o beats c on ties, c leads only when strictly
    * smallest, the second pick from o is l iff l <= c). Shared by q267
    * (raw counts) and q274 (selectivity-discounted counts) so the two
    * oracles cannot drift apart.
    */
  private def chain3OrderSql(l: String, o: String, c: String): String =
    s"""CASE
       |     WHEN $l <= $o AND $l <= $c THEN 'lineitem,orders,customer'
       |     WHEN $o <= $l AND $o <= $c THEN
       |       CASE WHEN $l <= $c THEN 'orders,lineitem,customer'
       |            ELSE 'orders,customer,lineitem' END
       |     ELSE 'customer,orders,lineitem' END""".stripMargin

  def oracles: Map[String, String] = Map(
    // q250: the raw three-version history compacted directly (latest-
    // wins off the q223 gate CTEs) — hash-equal to the engine's
    // checkpointed read at the ADVISED retain point = the transparency
    // proof under a derived decision.
    "q250_scheduled_vacuum" ->
      s"""WITH $dumpCtes,
         |l AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY version DESC) AS rn FROM u3)
         |SELECT doc_id, CAST(version AS BIGINT) AS version,
         |  op = 'U' AS alive,
         |  CASE WHEN op = 'U' THEN md5(txt) END AS text_md5
         |FROM l WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // q267: the advised order DERIVED from COUNT(*) arithmetic alone —
    // the engine reports the executed plan's actual scan order, so a
    // rule that reorders wrongly, fails to fire, or fires on the
    // hinted control diverges right here. The chain3 CASE mirrors the
    // engine's FULL greedy including its tie-break (JoinReorderRule.
    // best: min by (rows, USER-ORDER index), user order l(0),o(1),c(2)
    // — r15 ADVICE: the old CASE sent nc == nl ties to customer-first
    // while the engine starts from lineitem): lineitem wins any tie it
    // is in; orders beats customer on ties; customer leads only when
    // STRICTLY smallest; from orders the second pick is l iff nl <= nc.
    // chain4's strict count ladder (r<n<c<o) derived the same way; the
    // hinted control is the user order by the abstention contract.
    "q267_catalyst_join_reorder" ->
      s"""WITH n AS (SELECT
        |  (SELECT COUNT(*) FROM customer) AS nc,
        |  (SELECT COUNT(*) FROM orders) AS no_,
        |  (SELECT COUNT(*) FROM lineitem) AS nl,
        |  (SELECT COUNT(*) FROM nation) AS nn,
        |  (SELECT COUNT(*) FROM region) AS nr)
        |SELECT 'chain3' AS join_set,
        |  (SELECT ${chain3OrderSql("nl", "no_", "nc")} FROM n) AS observed_order,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        |     JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey) AS n_out
        |UNION ALL
        |SELECT 'chain4' AS join_set,
        |  (SELECT CASE WHEN nr < nn AND nn < nc AND nc < no_
        |     THEN 'region,nation,customer,orders'
        |     ELSE 'counts_out_of_model' END FROM n) AS observed_order,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM orders
        |     JOIN customer ON o_custkey = c_custkey
        |     JOIN nation ON c_nationkey = n_nationkey
        |     JOIN region ON n_regionkey = r_regionkey) AS n_out
        |UNION ALL
        |SELECT 'hinted' AS join_set,
        |  'lineitem,orders,customer' AS observed_order,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        |     JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey) AS n_out
        |ORDER BY join_set""".stripMargin,

    // q277: geometry, bound, advice, and physical re-derived from
    // scratch — ROW_NUMBER unit chunking on the (k, event_id) total
    // order, the overlap bound as the sum over groups whose min k
    // clears the cut, the 4x advice arithmetic, and the hint→physical
    // mapping; footer stats ≡ data stats by q239.
    "q277_selectivity_broadcast" -> {
      def phys(el: String, er: String) =
        s"CASE WHEN $el * 4 <= $er OR $er * 4 <= $el " +
          "THEN 'broadcast_hash' ELSE 'sort_merge' END"
      s"""WITH ev AS (SELECT event_id, user_id,
         |        CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |      FROM events),
         |n AS (SELECT (SELECT COUNT(*) FROM ev) AS ne,
         |             (SELECT COUNT(*) FROM orders) AS no_),
         |u AS (SELECT ${Footer.adaptiveUnitRowsSql(
              "SELECT COUNT(*) FROM ev")} AS ur),
         |r AS (SELECT k, (ROW_NUMBER() OVER (ORDER BY k, event_id) - 1)
         |        // (SELECT ur FROM u) AS grp FROM ev),
         |g AS (SELECT grp, COUNT(*) AS n_rows, MIN(k) AS mnk
         |      FROM r GROUP BY 1),
         |c AS (SELECT MIN(k) + (MAX(k) - MIN(k)) // 8 AS cut FROM ev),
         |b AS (SELECT CAST(SUM(n_rows) AS BIGINT) AS bound FROM g
         |      WHERE mnk <= (SELECT cut FROM c))
         |SELECT 'bounded' AS join_set,
         |  (SELECT bound FROM b) AS est_left,
         |  (SELECT CAST(no_ AS BIGINT) FROM n) AS est_right,
         |  (SELECT ${phys("bound", "no_")} FROM b, n) AS physical,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ev JOIN orders
         |     ON user_id = o_custkey
         |   WHERE k <= (SELECT cut FROM c)) AS n_out
         |UNION ALL
         |SELECT 'control',
         |  (SELECT CAST(ne AS BIGINT) FROM n),
         |  (SELECT CAST(no_ AS BIGINT) FROM n),
         |  (SELECT ${phys("ne", "no_")} FROM n),
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM ev JOIN orders
         |     ON user_id = o_custkey)
         |ORDER BY join_set""".stripMargin
    },

    // q275: the catalog the planner consumes, recomputed from the raw
    // tables — rows by COUNT(*), envelopes by MIN/MAX of each table's
    // designated key (generated from the same TableKeyCols map the
    // engine reports, so the two cannot drift).
    "q275_catalog_manifest" ->
      TableKeyCols.toSeq.sortBy(_._1).map { case (t, k) =>
        s"""SELECT '$t' AS tbl, CAST(COUNT(*) AS BIGINT) AS n_rows,
           |  CAST(MIN($k) AS BIGINT) AS key_min,
           |  CAST(MAX($k) AS BIGINT) AS key_max FROM $t""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl"),

    // q274: the selectivity-discounted order re-derived from scratch —
    // the cut literal, the uniform-overlap fraction, and the floored
    // rational effective count are the ENGINE's arithmetic restated
    // (JoinReorderRule.effectiveRows: eff = floor(n·num/den) clamped to
    // [0, n]; footer min/max ≡ data MIN/MAX by q239), then the shared
    // chain3 greedy CASE decides the order for both chains.
    "q274_selectivity_reorder" ->
      s"""WITH n AS (SELECT
        |  (SELECT COUNT(*) FROM customer) AS nc,
        |  (SELECT COUNT(*) FROM orders) AS no_,
        |  (SELECT COUNT(*) FROM lineitem) AS nl),
        |k AS (SELECT lo, hi, lo + (hi - lo) // 100 AS cut,
        |        hi - lo + 1 AS span
        |      FROM (SELECT MIN(l_orderkey) AS lo, MAX(l_orderkey) AS hi
        |            FROM lineitem)),
        |e AS (SELECT LEAST(nl, GREATEST(0,
        |        (nl * (LEAST(cut, hi) - lo + 1)) // span)) AS el
        |      FROM n, k)
        |SELECT 'control' AS join_set,
        |  (SELECT ${chain3OrderSql("nl", "no_", "nc")} FROM n)
        |    AS observed_order,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        |     JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey) AS n_out
        |UNION ALL
        |SELECT 'selective' AS join_set,
        |  (SELECT ${chain3OrderSql("el", "no_", "nc")} FROM n, e)
        |    AS observed_order,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem
        |     JOIN orders ON l_orderkey = o_orderkey
        |     JOIN customer ON o_custkey = c_custkey
        |     WHERE l_orderkey <= (SELECT cut FROM k)) AS n_out
        |ORDER BY join_set""".stripMargin,

    // q252: est legs recomputed from the data (q239 proved footer
    // n_values == COUNT(*)), advice by the shared arithmetic, and
    // physical DERIVED from the advice — the self-validating leg: the
    // engine reports what the executed plan actually ran, so Catalyst
    // ignoring the rule's hint (or the rule hinting the wrong side)
    // diverges right here.
    "q252_catalyst_stats_broadcast" -> {
      def row(set: String, el: String, er: String, ao: String) =
        s"""SELECT '$set' AS join_set, CAST($el AS BIGINT) AS est_left,
           |  CAST($er AS BIGINT) AS est_right,
           |  ${adviceSql(el, er)} AS advice,
           |  CASE WHEN ${adviceSql(el, er)} LIKE 'broadcast%'
           |    THEN 'broadcast_hash' ELSE 'sort_merge' END AS physical,
           |  CAST($ao AS BIGINT) AS n_out
           |FROM c, a""".stripMargin
      s"""WITH c AS (SELECT
         |  (SELECT COUNT(*) FROM nation) AS cn,
         |  (SELECT COUNT(*) FROM customer) AS cc,
         |  (SELECT COUNT(*) FROM lineitem) AS cl),
         |a AS (SELECT
         |  (SELECT COUNT(*) FROM nation n
         |     JOIN customer c2 ON n.n_nationkey = c2.c_nationkey) AS adp,
         |  (SELECT COUNT(*) FROM lineitem x
         |     JOIN lineitem y ON y.l_orderkey = x.l_orderkey) AS asj)
         |${row("chain_dim", "cn", "cc", "adp")}
         |UNION ALL
         |${row("dim_probe", "cc", "cn", "adp")}
         |UNION ALL
         |${row("selfjoin", "cl", "cl", "asj")}
         |ORDER BY join_set""".stripMargin
    },
    // q248: every leg recomputed from the data — table counts stand in
    // for the footer reads (q239 proved n_values == COUNT(*)), n_alive
    // via the q223 latest-wins CTE stands in for the q240 catalog row,
    // actuals are real joins, and est/advice use the identical
    // exact-integer models.
    "q248_join_advisor" -> {
      def row(set: String, step: Int, build: String, el: String, er: String,
          eo: String, ao: String) =
        s"""SELECT '$set' AS join_set, CAST($step AS BIGINT) AS step,
           |  '$build' AS build_table, CAST($el AS BIGINT) AS est_left,
           |  CAST($er AS BIGINT) AS est_right, CAST($eo AS BIGINT) AS est_out,
           |  CAST($ao AS BIGINT) AS actual_out,
           |  ${adviceSql(el, er)} AS advice
           |FROM c, a""".stripMargin
      s"""WITH $dumpCtes,
         |alive3 AS (SELECT doc_id FROM (
         |    SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |      ORDER BY version DESC) AS rn FROM u3) z
         |  WHERE rn = 1 AND op = 'U'),
         |c AS (SELECT
         |  (SELECT COUNT(*) FROM region) AS cr,
         |  (SELECT COUNT(*) FROM nation) AS cn,
         |  (SELECT COUNT(*) FROM customer) AS cc,
         |  (SELECT COUNT(*) FROM orders) AS co,
         |  (SELECT COUNT(*) FROM lineitem) AS cl,
         |  (SELECT COUNT(*) FROM documents) AS cd,
         |  (SELECT COUNT(*) FROM alive3) AS ca),
         |a AS (SELECT
         |  (SELECT COUNT(*) FROM region r
         |     JOIN nation n ON n.n_regionkey = r.r_regionkey) AS a1,
         |  (SELECT COUNT(*) FROM region r
         |     JOIN nation n ON n.n_regionkey = r.r_regionkey
         |     JOIN customer c2 ON c2.c_nationkey = n.n_nationkey) AS a2,
         |  (SELECT COUNT(*) FROM region r
         |     JOIN nation n ON n.n_regionkey = r.r_regionkey
         |     JOIN customer c2 ON c2.c_nationkey = n.n_nationkey
         |     JOIN orders o ON o.o_custkey = c2.c_custkey) AS a3,
         |  (SELECT COUNT(*) FROM region r
         |     JOIN nation n ON n.n_regionkey = r.r_regionkey
         |     JOIN customer c2 ON c2.c_nationkey = n.n_nationkey
         |     JOIN orders o ON o.o_custkey = c2.c_custkey
         |     JOIN lineitem li ON li.l_orderkey = o.o_orderkey) AS a4,
         |  (SELECT COUNT(*) FROM customer c2
         |     JOIN nation n ON c2.c_nationkey = n.n_nationkey) AS adp,
         |  (SELECT COUNT(*) FROM lineitem x
         |     JOIN lineitem y ON y.l_orderkey = x.l_orderkey) AS asj,
         |  (SELECT COUNT(*) FROM alive3 v
         |     JOIN documents d ON d.doc_id = v.doc_id) AS ald)
         |${row("chain", 1, "nation", "cr", "cn", "cn", "a1")}
         |UNION ALL
         |${row("chain", 2, "customer", "cn", "cc", "cc", "a2")}
         |UNION ALL
         |${row("chain", 3, "orders", "cc", "co", "co", "a3")}
         |UNION ALL
         |${row("chain", 4, "lineitem", "co", "cl", "cl", "a4")}
         |UNION ALL
         |${row("dim_probe", 1, "nation", "cc", "cn", "cc", "adp")}
         |UNION ALL
         |${row("selfjoin", 1, "lineitem", "cl", "cl", "cl * cl // co", "asj")}
         |UNION ALL
         |${row("log_docs", 1, "documents", "ca", "cd", "LEAST(ca, cd)", "ald")}
         |ORDER BY join_set, step""".stripMargin
    },
    // q247: the same per-(candidate, key) latest-version derivation and
    // byte model off the q223 gate CTEs; compact_now is the identical
    // 4x-threshold arithmetic.
    "q247_compaction_scheduler" ->
      s"""WITH $dumpCtes,
         |vs AS (SELECT DISTINCT version AS retain_v FROM u3),
         |w AS (SELECT u3.*, vs.retain_v,
         |        17 + CASE WHEN op = 'U' THEN 4 + strlen(txt) ELSE 0 END
         |          AS bytes
         |      FROM u3 JOIN vs ON u3.version <= vs.retain_v),
         |l AS (SELECT *, MAX(version) OVER (PARTITION BY retain_v, doc_id)
         |        AS lv FROM w)
         |SELECT CAST(retain_v AS BIGINT) AS retain_v,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN version = lv THEN 1 ELSE 0 END) AS BIGINT)
         |    AS ckpt_rows,
         |  CAST(SUM(CASE WHEN version < lv THEN 1 ELSE 0 END) AS BIGINT)
         |    AS reclaim_rows,
         |  CAST(SUM(CASE WHEN version < lv THEN bytes ELSE 0 END) AS BIGINT)
         |    AS reclaim_bytes,
         |  CAST(SUM(CASE WHEN version = lv THEN bytes ELSE 0 END) AS BIGINT)
         |    AS rewrite_bytes,
         |  SUM(CASE WHEN version < lv THEN bytes ELSE 0 END) * 4 >=
         |    SUM(CASE WHEN version = lv THEN bytes ELSE 0 END) AS compact_now
         |FROM l GROUP BY retain_v ORDER BY retain_v""".stripMargin,
    // q244: the same per-key latest-version derivation (window MAX) and
    // version rollup.
    "q244_table_debt_census" ->
      s"""WITH $dumpCtes,
         |lv AS (SELECT *, MAX(version) OVER (PARTITION BY doc_id) AS latest_v
         |       FROM u3)
         |SELECT CAST(version AS BIGINT) AS version,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(SUM(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_tombstones,
         |  CAST(SUM(CASE WHEN version < latest_v THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_superseded,
         |  CAST(SUM(CASE WHEN version = latest_v THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_current
         |FROM lv GROUP BY version ORDER BY version""".stripMargin,
    // q241: compactions at v1/v2/v3 via ROW_NUMBER, full-joined per
    // window and classified with the same alive-transition rules.
    "q241_change_feed" -> {
      def cw(v: Long) =
        s"""cw$v AS (SELECT doc_id, op = 'U' AS alive,
           |         CASE WHEN op = 'U' THEN md5(txt) END AS m
           |       FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
           |               ORDER BY version DESC) AS rn
           |             FROM u3 WHERE version <= $v) z
           |       WHERE rn = 1)""".stripMargin
      def feed(from: Long, to: Long) =
        s"""SELECT CAST($from AS BIGINT) AS from_v,
           |  COALESCE(a.doc_id, b.doc_id) AS doc_id,
           |  CASE WHEN COALESCE(a.alive, FALSE) AND NOT b.alive THEN 'delete'
           |       WHEN NOT COALESCE(a.alive, FALSE)
           |            AND COALESCE(b.alive, FALSE) THEN 'insert'
           |       WHEN COALESCE(a.alive, FALSE) AND b.alive
           |            AND a.m <> b.m THEN 'update'
           |  END AS change, a.m AS pre, b.m AS post
           |FROM cw$from a FULL OUTER JOIN cw$to b ON b.doc_id = a.doc_id""".stripMargin
      s"""WITH $dumpCtes,
         |${cw(1L)},
         |${cw(Relational.TimeTravelVersion)},
         |${cw(3L)},
         |g AS (${feed(1L, 3L)}
         |      UNION ALL
         |      ${feed(Relational.TimeTravelVersion, 3L)})
         |SELECT from_v, doc_id, change,
         |  CASE WHEN change <> 'insert' THEN pre END AS pre_md5,
         |  CASE WHEN change <> 'delete' THEN post END AS post_md5
         |FROM g WHERE change IS NOT NULL ORDER BY from_v, doc_id""".stripMargin
    },
    // q240: the same envelope fold / exactness rule / rescan truth off
    // the q223 gate CTEs, at both snapshots.
    "q240_stats_catalog_ivm" ->
      s"""WITH $dumpCtes,
         |${catalogBlock(1L)},
         |${catalogBlock(3L)}
         |${catalogRows(1L)}
         |UNION ALL
         |${catalogRows(3L)}
         |ORDER BY as_of, "column"""".stripMargin,
    // the raw five-dump history compacted directly (q223's CTEs + the x/y
    // point fixes over the v3-alive set) — hash-equal to the engine's
    // checkpointed read = the vacuum-transparency proof.
    "q236_optimistic_commit" ->
      s"""WITH base AS (SELECT doc_id, 1 AS version, 'U' AS op, text AS txt
         |              FROM documents),
         |d1 AS (SELECT doc_id, 2 AS version,
         |         CASE WHEN substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
         |              THEN 'D' ELSE 'U' END AS op,
         |         CASE WHEN substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
         |              THEN NULL ELSE text || ' v2' END AS txt
         |       FROM documents
         |       WHERE substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
         |          OR substring(md5('mupd:'||CAST(doc_id AS VARCHAR)),1,1) < '4'),
         |d2 AS (SELECT doc_id, 3 AS version, 'U' AS op, text || ' v3' AS txt
         |       FROM documents
         |       WHERE substring(md5('mupd2:'||CAST(doc_id AS VARCHAR)),1,1) < '2'),
         |born AS (SELECT doc_id + ${Relational.MergeNewBase} AS doc_id,
         |           3 AS version, 'U' AS op,
         |           'new doc ' || CAST(doc_id AS VARCHAR) AS txt
         |         FROM documents
         |         WHERE substring(md5('mnew:'||CAST(doc_id AS VARCHAR)),1,1) < '1'),
         |u3 AS (SELECT * FROM base UNION ALL SELECT * FROM d1
         |       UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM born),
         |l3 AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |         ORDER BY version DESC) AS rn FROM u3),
         |alive3 AS (SELECT doc_id FROM l3 WHERE rn = 1 AND op = 'U'),
         |x4 AS (SELECT doc_id, 4 AS version, 'U' AS op,
         |         'x fix ' || CAST(doc_id AS VARCHAR) AS txt
         |       FROM alive3
         |       WHERE substring(md5('cmx:'||CAST(doc_id AS VARCHAR)),1,1) < '2'),
         |y5 AS (SELECT doc_id, 5 AS version, 'U' AS op,
         |         'y fix ' || CAST(doc_id AS VARCHAR) AS txt
         |       FROM alive3
         |       WHERE substring(md5('cmx:'||CAST(doc_id AS VARCHAR)),1,1) >= '2'
         |         AND substring(md5('cmy:'||CAST(doc_id AS VARCHAR)),1,1) < '2'),
         |u AS (SELECT * FROM u3 UNION ALL SELECT * FROM x4
         |      UNION ALL SELECT * FROM y5),
         |l AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY version DESC) AS rn FROM u)
         |SELECT doc_id, CAST(version AS BIGINT) AS version,
         |  op = 'U' AS alive,
         |  CASE WHEN op = 'U' THEN md5(txt) END AS text_md5
         |FROM l WHERE rn = 1 ORDER BY doc_id""".stripMargin)
}
