package graft.perfbench

/** Benchmark entry point, launched by `perfbench/run.py`.
  *
  *   Main fixture <dir> <sf>                 write the suites' tables
  *   Main characterize <fixtureDir> <out> [q1,q2,...]
  *                                           seed-commit query census
  *   Main selftest <work>                    generator and check self-test
  *   Main run --workload W --seed N --seconds S --trace 0|1
  *            --cores C --work DIR --fixture DIR --suites FILE
  *            --launch-ns NANOS --record FILE
  *
  * `run` prints one info line and then, as its last line, the result
  * object `{"correct","attempted","failed","metrics"}`.
  */
object Main {

  /** Every metric the benchmark reports, with its unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s", "records_per_s" -> "rec/s",
    "latency_p50_ms" -> "ms", "latency_p99_ms" -> "ms",
    "work_s" -> "s", "work_geomean_s" -> "s",
    "success_ratio" -> "ratio", "peak_rss_mb" -> "MB")

  val PerLayer: Seq[(String, String)] = Seq(
    "source.latest_offset_ms" -> "ms", "source.get_batch_ms" -> "ms",
    "source.records" -> "count", "source.lag_max_records" -> "count",
    "trigger.count" -> "count", "trigger.no_data_count" -> "count",
    "trigger.p50_ms" -> "ms", "trigger.query_planning_ms" -> "ms",
    "trigger.wal_commit_ms" -> "ms", "trigger.commit_offsets_ms" -> "ms",
    "trigger.add_batch_ms" -> "ms",
    "decode.rows_in" -> "count", "decode.errors" -> "count",
    "decode.url_rows" -> "count", "decode.filtered_out" -> "count",
    "decode.batch_ms" -> "ms",
    "dedup.state_rows" -> "count", "dedup.state_bytes" -> "bytes",
    "dedup.update_ms" -> "ms", "dedup.commit_ms" -> "ms",
    "dedup.dropped_rows" -> "count",
    "store.update_calls" -> "count", "store.update_ms" -> "ms",
    "store.update_p50_ms" -> "ms", "store.update_p99_ms" -> "ms",
    "store.http_requests" -> "count", "store.requests_per_update" -> "ratio",
    "store.conflict_retries" -> "count", "store.noop_writes" -> "count",
    "store.useful_write_ratio" -> "ratio", "store.parallelism" -> "ratio",
    "query.build_s" -> "s", "query.build_jobs" -> "count",
    "query.analysis_s" -> "s", "query.optimization_s" -> "s",
    "query.planning_s" -> "s",
    "query.exec_wall_s" -> "s", "query.task_s" -> "s",
    "query.core_util" -> "ratio", "query.jobs" -> "count",
    "query.stages" -> "count", "query.tasks" -> "count",
    "query.shuffle_mb" -> "MB", "query.gap_s" -> "s",
    "cache.release_s" -> "s",
    "gen.lateness_p99_ms" -> "ms", "gen.backlog_records" -> "count",
    "tag.latency_samples" -> "count", "editor.bumps" -> "count",
    "trace.work_s" -> "s", "trace.spans" -> "count")

  private def opts(args: Seq[String]): Map[String, String] =
    args.grouped(2).collect { case Seq(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap

  def main(args: Array[String]): Unit = {
    val code = try args.headOption match {
      case Some("fixture") =>
        val spark = Session.start(Runtime.getRuntime.availableProcessors,
          args(1) + ".work")
        Fixture.write(spark, args(1), args(2).toDouble)
        spark.stop()
        0
      case Some("characterize") =>
        val spark = Session.start(Runtime.getRuntime.availableProcessors,
          args(2) + ".work")
        Suite.characterize(spark, args(1), args(2),
          args.lift(3).map(_.split(",").toSet))
        spark.stop()
        0
      case Some("selftest") => SelfTest.run(args(1))
      case Some("run") => run(opts(args.toSeq.tail))
      case _ =>
        System.err.println("usage: Main fixture|characterize|selftest|run ...")
        2
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        1
    }
    System.out.flush()
    // the in-process HTTP stubs' dispatcher threads must not keep the
    // JVM alive after the record is out
    sys.exit(code)
  }

  private def run(o: Map[String, String]): Int = {
    val workload = o("workload")
    val seed = o("seed").toLong
    val seconds = o("seconds").toDouble
    val traced = o("trace") == "1"
    val cores = o("cores").toInt
    val work = o("work")
    val spans = new Spans(traced)
    val spark = Session.start(cores, work)
    val root = spans.open("workload", 0L)
    val wl: Workload = workload match {
      case "suite_fixed" | "suite_exec" => new Suite.Queries(spark,
        o("fixture"), Suite.loadList(o("suites"), workload), cores, spans)
      case "tag_drain_http" => new Drain(spark, work, seed, spans)
      case "tag_live_mem" => new Live(spark, work, seed, spans)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val sessionS = (spans.now - o("launch-ns").toLong) / 1e9
    wl.warmUp()
    val setupS = (spans.now - o("launch-ns").toLong) / 1e9
    val r = wl.measure(seed, seconds, root)
    spans.close(root, Map("workload" -> workload, "seed" -> seed))
    val attempted = math.max(1, r.attempted)
    val e2e = r.e2e ++ Map(
      "setup_s" -> setupS,
      "success_ratio" -> (1.0 - r.failed.toDouble / attempted),
      "peak_rss_mb" -> Stats.peakRssMb)
    val layers = r.layers ++ Map("trace.spans" -> spans.count.toDouble)
    val chosen = if (traced) PerLayer else EndToEnd
    val values = if (traced) layers else e2e
    val metrics = chosen.map { case (n, u) =>
      n -> Map("value" -> values.getOrElse(n, 0.0), "unit" -> u) }.toMap
    val info = Map("workload" -> workload, "seed" -> seed, "traced" -> traced,
      "session_s" -> sessionS,
      "env" -> Session.env(spark, cores), "end_to_end" -> e2e,
      "per_layer" -> layers, "detail" -> r.detail)
    o.get("record").foreach { path =>
      val w = new java.io.PrintWriter(path, "UTF-8")
      try w.println(Json(info)) finally w.close()
    }
    if (traced) spans.dump(s"$work/spans.jsonl")
    println(Json(Map("info" -> Map("workload" -> workload, "seed" -> seed,
      "env" -> Session.env(spark, cores), "session_s" -> sessionS,
      "failures" -> r.detail.getOrElse("failures", Nil)))))
    wl.close()
    spark.stop()
    println(Json(Map("correct" -> (r.failed == 0), "attempted" -> attempted,
      "failed" -> r.failed, "metrics" -> metrics)))
    0
  }
}
