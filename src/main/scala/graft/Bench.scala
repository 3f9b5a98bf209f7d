package graft

import graft.GraftSession.{checksum, median, medianOf, sample}

/** Benchmark main: runs every declared query at SPARK_GRAFT_SF_DIR and
  * prints one JSON line (driver contract).
  *
  * Each query is consumed through [[GraftSession.checksum]] (xxhash64 over
  * every output column, summed), NOT count(): under a bare count Catalyst
  * legitimately prunes unreferenced columns and whole provably-
  * cardinality-neutral joins — q69's entire rebuild stage, for example —
  * so count-based timings over-report. The checksum forces every output
  * cell to materialize; only the final presentation ORDER BY is still
  * elided (the checksum is order-insensitive), which matches how Verify
  * is the sorted-output path.
  *
  * The consumer is sampled SPARK_GRAFT_BENCH_SAMPLES times (default 3;
  * r17: 2 when the first sample costs >= 8 s — noise is proportionally
  * irrelevant on the heavy tail, and the tail was most of the r16 budget
  * overrun) and the MEDIAN is reported. A single sample is hostage to
  * one-time costs that are not the query's plan — codegen compilation of
  * fresh expression trees, a GC pause inherited from the previous query,
  * broadcast cleanup — and one contaminated sample then becomes the
  * official record (this exactly happened in round 2: six
  * custom-expression-heavy queries read 4-10x their reproducible times
  * in one driver sample). Each sample is one [[GraftSession.sample]]:
  * cache scope, cleared caches and an explicit System.gc() breather, so
  * each sample starts from the same heap state.
  *
  * A query whose sample throws is FAILED, never timed: it is named in
  * "failed", not sampled again, left out of "value", the file record's
  * "queries" map and its JSONL line, and its index-aligned "checksum_ms"
  * entry is -1 — a failure must never read as a fast query.
  *
  * r15 verdict #1 — the bench must TERMINATE inside the driver's wall
  * budget and FAIL OPEN when it can't (the r15 driver run was rc=124
  * with zero data):
  *  - deterministic fixture LAYOUTS are written once per bench, not
  *    once per sample ([[graft.operators.Footer]]'s bench-only layout
  *    memo, enabled here via system property — q261 alone materializes
  *    nine layouts per execution, ~2 min of the r15 suite);
  *  - each finished query immediately emits one incremental JSONL
  *    record (stdout + SPARK_GRAFT_BENCH_PARTIAL, default
  *    BENCH_PARTIAL.jsonl), so even a timed-out run leaves per-query
  *    data instead of nothing;
  *  - a soft wall budget (SPARK_GRAFT_BENCH_BUDGET_SEC, default 2100 s
  *    of bench wall) degrades remaining queries to ONE sample once
  *    crossed (recorded in "degraded"), and skips the post-suite
  *    isolated re-runs — the metric line always prints.
  */
object Bench {

  /** The stdout metric line, guaranteed to fit the driver's 2000-char
    * scrape window (r17 verdict #1: at 279 queries the old line — BOTH
    * ms arrays + named isolated/drift maps + a 130-char note — outgrew
    * the window and the fallback dropped BOTH arrays, leaving the
    * driver's PERF comparison empty). Fix: stdout carries ONLY the
    * checksum ms array plus the scalar fields; everything else
    * (isolated/drift triage, prior/anchor pointers) lives in the FILE
    * record, which survives any clipping. If the suite ever grows the
    * plain array past 1950 chars, the array degrades to a base-36
    * dot-separated string (≤ 4 chars per 6-digit-ms entry), never to
    * nothing — asserted against worst-case entries in PropertySpec.
    *
    * `times` holds one (name, median seconds) per query in ascii order,
    * None for a failed query: "value" sums the timed queries only,
    * "failed" names the rest, and their "checksum_ms" entries are -1.
    */
  private[graft] def stdoutRecord(times: Seq[(String, Option[Double])],
      queriesFile: String, nDegraded: Int, wallS: Double, sfDir: String,
      samples: Int): String = {
    val head = s"""{"metric":"total","value":${r3(times.flatMap(_._2).sum)},""" +
      s""""unit":"sec","consumer":"checksum","n_queries":${times.size},""" +
      s""""queries_file":"$queriesFile","""
    val tail = s""""failed":${failedJson(times)},"n_degraded":$nDegraded,""" +
      s""""bench_wall_s":${r3(wallS)},"sf":"$sfDir","samples":$samples}"""
    val ms = checksumMs(times)
    val plain = head + s""""checksum_ms":${ms.mkString("[", ",", "]")},""" + tail
    if (plain.length <= 1950) plain
    else {
      val b36 = head + s""""checksum_ms_b36":"${ms
          .map(java.lang.Long.toString(_, 36)).mkString(".")}",""" + tail
      if (b36.length <= 1950) b36 else head + tail
    }
  }

  private def r3(v: Double): String = "%.3f".formatLocal(java.util.Locale.ROOT, v)

  private def checksumMs(times: Seq[(String, Option[Double])]): Seq[Long] =
    times.map(_._2.fold(-1L)(t => math.round(t * 1000)))

  private def failedJson(times: Seq[(String, Option[Double])]): String =
    times.collect { case (n, None) => "\"" + n + "\"" }.mkString("[", ",", "]")

  def main(args: Array[String]): Unit = GraftSession.main { spark =>
    val wall0 = System.nanoTime()
    def wallSec: Double = (System.nanoTime() - wall0) / 1e9
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val samples = sys.env.getOrElse("SPARK_GRAFT_BENCH_SAMPLES", "3").toInt
    val budgetSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_BUDGET_SEC", "2100").toDouble
    // the bench-only layout memo: sound here because every query-path
    // layout builder is deterministic per (tag, sfDir) within one JVM
    System.setProperty(graft.operators.Footer.LayoutMemoProp, "true")
    // Untimed JVM/codegen/parquet-footer warmup so the alphabetically
    // first query doesn't absorb one-time session costs.
    Tables.all.foreach(t => Tables(spark, sfDir, t).count())

    // Optional comma-separated query-name filter for targeted local
    // iteration; the driver leaves it unset and benches everything.
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY")
      .map(_.split(",").map(_.trim).toSet)
    val selected = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.forall(_.contains(n)) }
    // ---- fail-open incremental record (r15 verdict #1b) ---------------
    // One JSONL line per FINISHED query, to stdout AND an append-only
    // sidecar file: a run the driver kills at its wall limit still
    // leaves every completed query's medians behind (r15 left nothing).
    val partialOut =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PARTIAL", "BENCH_PARTIAL.jsonl")
    try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(partialOut))
    catch { case _: Throwable => () }
    def emitPartial(line: String): Unit = {
      println(line)
      try java.nio.file.Files.write(java.nio.file.Paths.get(partialOut),
        (line + "\n").getBytes("UTF-8"),
        java.nio.file.StandardOpenOption.CREATE,
        java.nio.file.StandardOpenOption.APPEND)
      catch { case _: Throwable => () }
    }
    var degraded = List.empty[String]
    // r17 (r16 verdict #8): fit the driver budget WITH multi-sample
    // medians — the r16 run degraded 111/277 queries to 1 sample after
    // the 2100 s wall. A query whose FIRST sample costs >= HeavySampleSec
    // takes one confirming sample instead of two — the multi-sample
    // defense exists for contamination NOISE, which is proportionally
    // irrelevant at 10+ s, and the heavy tail was most of the r16
    // overrun; the budget degrade tier should stay the exception
    // (per-query "samples" in the JSONL record).
    val HeavySampleSec =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_HEAVY_SEC", "8").toDouble
    val results = selected.zipWithIndex.map { case ((name, fn), qi) =>
      // soft wall budget (r15 verdict #1c): past it, remaining queries
      // run ONE sample — a thinner but honest record beats a timeout
      // that yields nothing
      val over = wallSec > budgetSec
      if (over) degraded ::= name
      val taken = scala.collection.mutable.ArrayBuffer.empty[Double]
      def want: Int =
        if (over) 1
        else if (taken.headOption.exists(_ >= HeavySampleSec)) 2
        else samples
      var ok = true
      while (ok && taken.size < want)
        sample(fn(spark, sfDir))(checksum) match {
          case Some(t) => taken += t
          case None    => ok = false
        }
      // heavy tier (exactly 2 samples): report the MIN — the first
      // sample carries this composition's one-time codegen compile
      // (q174 measured 20.7 s cold vs 7.9 s for every warm sample),
      // which is exactly what the 3-sample MEDIAN discards for normal
      // queries; a 2-sample mean would bill half the compile to the
      // plan. Full-sample queries keep the median.
      val t =
        if (!ok) None
        else if (taken.size == 2) Some(taken.min)
        else Some(median(taken.toSeq))
      val timing = t.fold(""""failed":true,""")(v => s""""checksum_s":${r3(v)},""")
      emitPartial(s"""{"q":"$name",$timing"samples":${taken.size},""" +
        s""""done":${qi + 1},"of":${selected.size},"wall_s":${r3(wallSec)}}""")
      (name, t)
    }
    val timed = results.collect { case (n, Some(t)) => (n, t) }

    // ---- isolated-median re-run of round-over-round drifters ----------
    // In-suite totals inflate with suite SIZE (shared-JVM GC pressure:
    // the 234-query r12 suite read shared queries ~12% above r11, and
    // q58/q101 looked 2.2x "regressed" while their isolated medians sat
    // at r11 noise). Regression triage must read from ARTIFACTS, not
    // prose notes: against the prior round's per-query record
    // (BENCH_PRIOR.json — refreshed each round from the driver's
    // BENCH_LOCAL.json; override via SPARK_GRAFT_BENCH_PRIOR), every
    // same-SF query that drifted >= 1.5x in-suite (and costs >= 0.5 s)
    // is re-measured back-to-back AFTER the suite — cleared caches,
    // forced GC, same 3-sample median — and both columns land in the
    // file record, so the next reader separates plan regressions from
    // suite pressure without a footnote.
    def loadRecord(path: String): Map[String, Double] = try {
      val txt = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(path)), "UTF-8")
      val sfOk = """"sf":"([^"]*)"""".r.findFirstMatchIn(txt)
        .exists(_.group(1) == sfDir)
      if (!sfOk) Map.empty // cross-SF ratios are meaningless — skip
      else """"queries":\{([^}]*)\}""".r.findFirstMatchIn(txt)
        .map(_.group(1)).toSeq
        .flatMap(body => """"([^"]+)":([0-9.eE+-]+)""".r.findAllMatchIn(body)
          .map(m => m.group(1) -> m.group(2).toDouble))
        .toMap
    } catch { case _: Throwable => Map.empty }
    val priorPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_PRIOR", "BENCH_PRIOR.json")
    val prior = loadRecord(priorPath)
    // The OLDEST same-consumer record (BENCH_ANCHOR.json: per query, its
    // earliest checksum-consumer sf0.1 measurement). Round-over-round
    // triage alone has a blind spot: a query drifting 1.2x per round for
    // five rounds never trips the 1.5x prior gate yet sits 2.5x above
    // where it started — so queries >= 2x their anchor also re-measure.
    val anchorPath =
      sys.env.getOrElse("SPARK_GRAFT_BENCH_ANCHOR", "BENCH_ANCHOR.json")
    val anchor = loadRecord(anchorPath)
    def drifters(ref: Map[String, Double], gate: Double): Seq[(String, Double)] =
      timed
        .flatMap { case (name, tc) =>
          ref.get(name)
            .filter(p => p > 0 && tc >= 0.5 && tc / p >= gate)
            .map(p => (name, tc / p))
        }
        .sortBy(-_._2).take(10)
    val priorDrifters = drifters(prior, 1.5)
    val anchorDrifters = drifters(anchor, 2.0)
      .filterNot { case (n, _) => priorDrifters.exists(_._1 == n) }
    // past the wall budget the isolated re-runs are the first diagnostic
    // to shed — they are triage data, not the record (r15 verdict #1c)
    val toIsolate =
      if (wallSec > budgetSec) Seq.empty else priorDrifters ++ anchorDrifters
    val isolated = toIsolate.flatMap { case (name, ratio) =>
      // memoized registrations (q201/q214/q223/... via CachePool.memo)
      // would otherwise hand the isolated column a localCheckpoint READ
      // where the in-suite column measured a BUILD — clear memos so both
      // columns price the same work
      medianOf(samples) {
        CachePool.memoClear()
        sample(SparkEntry.queries(name)(spark, sfDir))(checksum)
      }.map(t => (name, t, ratio))
    }
    // The driver's stdout scrape keeps only the LAST 2000 chars of the
    // line, so a full named per-query map (8+ KB at 162 queries) gets
    // clipped. The stdout line is therefore GUARANTEED to fit the scrape
    // window (see stdoutRecord): totals + failures + the checksum column
    // as an integer-millisecond array index-aligned with the ascii-sorted
    // query names (~4 chars/query instead of ~30). The named
    // full-precision maps live in the FILE record below, which survives
    // any clipping.
    def json(kvs: Seq[(String, Double)]): String =
      kvs.map { case (k, v) => "\"" + k + "\":" + r3(v) }.mkString("{", ",", "}")
    // named full-precision isolated columns (small: <= 10 movers)
    val isolatedJson = json(isolated.map { case (n, t, _) => (n, t) })
    val driftJson = json(isolated.map { case (n, _, r) => (n, r) })
    val anchorDriftJson = json(anchorDrifters)
    // the stdout line must stay inside the scrape window — only the
    // degraded COUNT rides it; the full name list lands in the file
    val degradedJson =
      degraded.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val out = sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "BENCH_LOCAL.json")
    val stdoutLine =
      stdoutRecord(results, out, degraded.size, wallSec, sfDir, samples)
    val fileLine = s"""{"metric":"total","value":${timed.map(_._2).sum},""" +
      s""""unit":"sec","queries":${json(timed)},"degraded":$degradedJson,""" +
      s""""checksum_ms":${checksumMs(results).mkString("[", ",", "]")},""" +
      s""""note":"checksum_ms aligns with ascii-sorted query names; -1 marks a failed query",""" +
      s""""failed":${failedJson(results)},""" +
      s""""isolated":$isolatedJson,"drift_in_suite":$driftJson,""" +
      s""""drift_vs_anchor":$anchorDriftJson,""" +
      s""""prior":"${if (prior.isEmpty) "" else priorPath}",""" +
      s""""anchor":"${if (anchor.isEmpty) "" else anchorPath}",""" +
      s""""n_degraded":${degraded.size},"budget_sec":${r3(budgetSec)},""" +
      s""""bench_wall_s":${r3(wallSec)},""" +
      s""""sf":"$sfDir","samples":$samples,""" +
      s""""heavy_sample_sec":${r3(HeavySampleSec)}}"""
    println(stdoutLine)
    // Also land the FULL record in a file: a file survives any log
    // clipping. Default is cwd-relative — the record belongs to the
    // checkout the run came from, not a baked-in absolute path.
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(out), fileLine + "\n")
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $out: ${e.getMessage}")
    }
  }
}
