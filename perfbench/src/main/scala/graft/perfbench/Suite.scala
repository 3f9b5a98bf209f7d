package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, sum, xxhash64}

import graft.{CachePool, SparkEntry}

/** The batch query suites: declared queries from `SparkEntry.queries`
  * consumed through `graft.Bench`'s checksum (xxhash64 over every output
  * column, summed), with a row count riding in the same aggregate.
  *
  * One sample = CachePool memos cleared, build the query, consume it,
  * all inside one `CachePool.scoped`; the scope's release is timed on
  * its own, outside the sample. A sample that throws, or whose checksum
  * (or, for queries listed as bit-unstable, whose row count) differs
  * from the frozen value, is failed: it gets no time.
  */
object Suite {

  final case class Expect(name: String, sum: Option[Long], rows: Long,
      rowsOnly: Boolean)

  final case class Sample(name: String, ok: Boolean, error: String,
      totalS: Double, releaseS: Double, sum: Option[Long], rows: Long,
      layers: Map[String, Double])

  def consume(df: DataFrame): DataFrame =
    df.select(xxhash64(df.columns.map(c => col(s"`$c`")): _*).as("h"))
      .agg(sum("h"), count(lit(1)))

  /** Run one sample of `name`; with `log` set, split it into layers. */
  def sample(spark: SparkSession, dir: String, name: String,
      expect: Option[Expect], log: Option[StageLog], spans: Spans,
      parent: Long): Sample = {
    val fn = SparkEntry.queries(name)
    CachePool.memoClear()
    log.foreach(_.clear())
    val t0 = spans.now
    var tBuild = t0
    var tEnd = t0
    var got: Option[(Option[Long], Long)] = None
    var error = ""
    var consumed: DataFrame = null
    CachePool.scoped {
      try {
        val df = fn(spark, dir)
        tBuild = spans.now
        consumed = consume(df)
        // collect, not head: head plans a Limit over a fresh
        // QueryExecution, and the Catalyst phases are read from this one
        val row = consumed.collect().head
        got = Some((if (row.isNullAt(0)) None else Some(row.getLong(0)),
          row.getLong(1)))
      } catch { case e: Throwable => error = e.toString.take(300) }
      tEnd = spans.now
    }
    val tRel = spans.now
    spark.catalog.clearCache()
    System.gc()
    val (gotSum, gotRows) = got.getOrElse((None, -1L))
    val ok = got.nonEmpty && expect.forall(e =>
      e.rows == gotRows && (e.rowsOnly || e.sum == gotSum))
    if (got.nonEmpty && !ok)
      error = s"checksum mismatch: got ($gotSum, $gotRows), " +
        s"expected (${expect.get.sum}, ${expect.get.rows})"
    val totalS = (tEnd - t0) / 1e9
    val sid = spans.add("query", parent, t0, tEnd,
      Map("query" -> name, "ok" -> ok))
    spans.add("build", sid, t0, tBuild)
    spans.add("cache.release", sid, tEnd, tRel)
    val layers = log match {
      case Some(l) if got.nonEmpty =>
        org.apache.spark.BusDrain(spark.sparkContext)
        layerSplit(l, consumed, t0, tBuild, tEnd, spark, sid, spans)
      case _ => Map.empty[String, Double]
    }
    Sample(name, ok, error, totalS, (tRel - tEnd) / 1e9, gotSum, gotRows,
      layers)
  }

  /** Build / Catalyst phases / stage execution / residual gap of one
    * sample. Execution counts cover the consume action; the builder's
    * eager jobs are inside `query.build_s` and counted in
    * `query.build_jobs`.
    */
  private def layerSplit(l: StageLog, consumed: DataFrame, t0: Long,
      tBuild: Long, tEnd: Long, spark: SparkSession, sid: Long,
      spans: Spans): Map[String, Double] = {
    val ms = (ns: Long) => ns / 1000000L
    val stages = l.stagesIn(ms(tBuild), ms(tEnd) + 1)
    val phases = consumed.queryExecution.tracker.phases
    def phaseS(p: String): Double =
      phases.get(p).map(_.durationMs / 1000.0).getOrElse(0.0)
    phases.foreach { case (p, s) =>
      spans.add(p, sid, s.startTimeMs * 1000000L, s.endTimeMs * 1000000L)
    }
    stages.foreach(s => spans.add("stage", sid, s.submitted * 1000000L,
      s.completed * 1000000L, Map("tasks" -> s.tasks)))
    val total = (tEnd - t0) / 1e9
    val build = (tBuild - t0) / 1e9
    val wall = l.unionMs(stages) / 1000.0
    val catalyst = Seq("analysis", "optimization", "planning").map(phaseS).sum
    Map(
      "query.build_s" -> build,
      "query.build_jobs" -> l.jobsIn(ms(t0), ms(tBuild) + 1).toDouble,
      "query.build_exec_wall_s" ->
        l.unionMs(l.stagesIn(ms(t0), ms(tBuild) + 1)) / 1000.0,
      "query.analysis_s" -> phaseS("analysis"),
      "query.optimization_s" -> phaseS("optimization"),
      "query.planning_s" -> phaseS("planning"),
      "query.exec_wall_s" -> wall,
      "query.task_s" -> stages.map(_.taskMs).sum / 1000.0,
      "query.jobs" -> l.jobsIn(ms(tBuild), ms(tEnd) + 1).toDouble,
      "query.stages" -> stages.size.toDouble,
      "query.tasks" -> stages.map(_.tasks).sum.toDouble,
      "query.shuffle_mb" -> stages.map(_.shuffleBytes).sum / 1048576.0,
      "query.gap_s" -> (total - build - catalyst - wall))
  }

  def loadList(path: String, workload: String): Seq[Expect] =
    Json.read(path).get("workloads").get(workload).get("queries")
      .elements().asScala.map { q =>
        Expect(q.get("name").asText(),
          Option(q.get("sum")).filterNot(_.isNull).map(_.asLong()),
          q.get("rows").asLong(), q.path("rows_only").asBoolean(false))
      }.toSeq

  /** The timed workload: one untimed warm-up pass (part of set-up),
    * then whole passes in a seed-permuted order until `seconds` elapse,
    * and at least [[MinPasses]], so each per-query median has samples
    * enough to shed one disturbed by the machine.
    */
  val MinPasses = 3

  final class Queries(spark: SparkSession, dir: String,
      list: Seq[Expect], cores: Int, spans: Spans) extends Workload {
    private val byName = list.map(e => e.name -> e).toMap
    private val log = if (spans.enabled) Some(new StageLog) else None
    log.foreach(spark.sparkContext.addSparkListener)

    def warmUp(): Unit = list.foreach(e =>
      sample(spark, dir, e.name, Some(e), None, spans, 0L))

    def measure(seed: Long, seconds: Double, root: Long): Result = {
      val rng = new scala.util.Random(seed)
      val samples = mutable.ArrayBuffer.empty[Sample]
      val start = System.nanoTime()
      var pass = 0
      while (pass < MinPasses || (System.nanoTime() - start) / 1e9 < seconds) {
        val pid = spans.open("pass", root)
        rng.shuffle(list.map(_.name)).foreach(n =>
          samples += sample(spark, dir, n, byName.get(n), log, spans, pid))
        spans.close(pid, Map("pass" -> pass))
        pass += 1
      }
      summarize(samples.toSeq, pass)
    }

    private def summarize(samples: Seq[Sample], passes: Int): Result = {
      val good = samples.filter(_.ok)
      val perQuery = good.groupBy(_.name)
      val medians = perQuery.map { case (n, ss) =>
        n -> Stats.median(ss.map(_.totalS)) }
      val rows = perQuery.map { case (n, ss) => ss.head.rows.toDouble }.sum
      val work = medians.values.sum
      val e2e = Map(
        "records_per_s" -> (if (work > 0) rows / work else 0.0),
        "latency_p50_ms" -> Stats.median(good.map(_.totalS)) * 1000,
        "latency_p99_ms" -> (if (medians.isEmpty) 0.0 else medians.values.max * 1000),
        "work_s" -> work,
        "work_geomean_s" -> Stats.geomean(medians.values.toSeq))
      // per layer: per-query median of each layer, summed over queries
      val layerNames = good.flatMap(_.layers.keys).distinct
      val layers = layerNames.map { k =>
        k -> perQuery.values.map(ss => Stats.median(ss.map(_.layers.getOrElse(k, 0.0)))).sum
      }.toMap
      val coreUtil = {
        val w = layers.getOrElse("query.exec_wall_s", 0.0)
        if (w > 0) layers.getOrElse("query.task_s", 0.0) / (w * cores) else 0.0
      }
      val release = perQuery.values.map(ss => Stats.median(ss.map(_.releaseS))).sum
      val failures = samples.filterNot(_.ok).map(s => s.name -> s.error)
        .distinct
      Result(samples.size, samples.count(!_.ok), e2e,
        layers ++ Map("query.core_util" -> coreUtil, "cache.release_s" -> release,
          "trace.work_s" -> work),
        Map("passes" -> passes,
          "per_query_median_s" -> medians.toSeq.sortBy(_._1).toMap,
          "per_query_layers" -> perQuery.map { case (n, ss) =>
            n -> layerNames.map(k =>
              k -> Stats.median(ss.map(_.layers.getOrElse(k, 0.0)))).toMap
          },
          "failures" -> failures.map { case (n, e) => Map("query" -> n, "error" -> e) }))
    }
  }

  /** Seed-commit characterization over every declared query: two traced
    * samples each, one JSON line per query appended to `out` (a rerun
    * skips queries already recorded). Two samples in one JVM also show
    * which queries' output bits vary between runs.
    */
  def characterize(spark: SparkSession, dir: String, out: String,
      only: Option[Set[String]]): Unit = {
    val done = {
      val f = new java.io.File(out)
      if (!f.exists()) Set.empty[String]
      else {
        val src = scala.io.Source.fromFile(f)
        try src.getLines().map(l =>
          "\"query\":\"([^\"]+)\"".r.findFirstMatchIn(l).map(_.group(1)).getOrElse(""))
          .toSet
        finally src.close()
      }
    }
    val log = new StageLog
    spark.sparkContext.addSparkListener(log)
    val spans = Spans.Off
    val names = SparkEntry.queries.keys.toSeq.sorted
      .filter(n => only.forall(_.contains(n)) && !done.contains(n))
    names.foreach { n =>
      val ss = Seq.fill(2)(sample(spark, dir, n, None, Some(log), spans, 0L))
      val line = Json(Map(
        "query" -> n,
        "ok" -> ss.forall(s => s.error.isEmpty),
        "error" -> ss.map(_.error).find(_.nonEmpty).getOrElse(""),
        "total_s" -> ss.map(_.totalS),
        "sum" -> ss.map(_.sum),
        "rows" -> ss.map(_.rows),
        "layers" -> ss.last.layers))
      val w = new java.io.FileWriter(out, true)
      try w.write(line + "\n") finally w.close()
      println(s"[characterize] $line")
    }
  }
}
