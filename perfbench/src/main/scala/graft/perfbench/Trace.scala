package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._

/** In-memory span log of a traced run: workload -> query sample or
  * trigger -> layer call, each with name, start, end (epoch nanos) and
  * parent. Nothing is written until [[dump]] at exit, so tracing adds no
  * I/O to the timed path.
  */
final class Spans(val enabled: Boolean) {
  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val cap = 200000

  /** Wall-clock nanos: one clock for the JVM and the listener events. */
  def now: Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def add(name: String, parent: Long, start: Long, end: Long,
      attrs: Map[String, Any] = Map.empty): Long = {
    if (!enabled) return 0L
    val id = ids.incrementAndGet()
    if (id <= cap)
      spans.add(Map("id" -> id, "parent" -> parent, "name" -> name,
        "start" -> start, "end" -> end) ++ attrs)
    id
  }

  private val starts =
    new java.util.concurrent.ConcurrentHashMap[Long, (String, Long, Long)]()

  /** Open a span now and return its id; [[close]] records it. */
  def open(name: String, parent: Long): Long = if (!enabled) 0L else {
    val id = ids.incrementAndGet()
    starts.put(id, (name, parent, now))
    id
  }

  def close(id: Long, attrs: Map[String, Any] = Map.empty): Unit =
    if (enabled) Option(starts.remove(id)).foreach { case (n, p, s) =>
      if (id <= cap)
        spans.add(Map("id" -> id, "parent" -> p, "name" -> n,
          "start" -> s, "end" -> now) ++ attrs)
    }

  def count: Long = spans.size.toLong

  def dump(path: String): Unit = if (enabled) {
    val f = new java.io.File(path)
    f.getParentFile.mkdirs()
    val w = new java.io.PrintWriter(f, "UTF-8")
    try spans.asScala.toSeq.sortBy(s => s("id").asInstanceOf[Long])
      .foreach(s => w.println(Json(s)))
    finally w.close()
  }
}

object Spans {
  val Off = new Spans(false)
}

/** Job, stage and task records from Spark's listener bus, for the
  * execution layer of a query sample: stage intervals (submission to
  * completion), task time, task and shuffle counts, and job starts.
  */
final class StageLog extends SparkListener {
  final case class Stage(submitted: Long, completed: Long, tasks: Int,
      taskMs: Long, shuffleBytes: Long)
  private val stages = new ConcurrentLinkedQueue[Stage]()
  private val jobs = new ConcurrentLinkedQueue[Long]()

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.time)

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val si = e.stageInfo
    for (a <- si.submissionTime; b <- si.completionTime) {
      val m = si.taskMetrics
      stages.add(Stage(a, b, si.numTasks, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten))
    }
  }

  def clear(): Unit = { stages.clear(); jobs.clear() }

  /** Jobs started in [from, until) (epoch millis). */
  def jobsIn(from: Long, until: Long): Int =
    jobs.asScala.count(t => t >= from && t < until)

  /** Stages submitted in [from, until) (epoch millis). */
  def stagesIn(from: Long, until: Long): Seq[Stage] =
    stages.asScala.filter(s => s.submitted >= from && s.submitted < until).toSeq

  /** Length of the union of the stages' intervals, in millis. */
  def unionMs(ss: Seq[Stage]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    ss.sortBy(_.submitted).foreach { s =>
      if (s.submitted > curE) {
        if (curE > curS) total += curE - curS
        curS = s.submitted; curE = s.completed
      } else curE = math.max(curE, s.completed)
    }
    if (curE > curS) total += curE - curS
    total
  }
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile; 0 for an empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.ceil(pos).toInt
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(math.log).sum / xs.size)

  /** Highest percentile (in whole percent, at most 99) that still has at
    * least `beyond` samples above it, and its value.
    */
  def tailPercentile(xs: Seq[Double], beyond: Int = 10): (Int, Double) = {
    val p = (99 to 50 by -1).find(p => xs.size * (100 - p) / 100.0 >= beyond)
      .getOrElse(50)
    (p, quantile(xs, p / 100.0))
  }

  /** Peak resident memory of this process, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}
