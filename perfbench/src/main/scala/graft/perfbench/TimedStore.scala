package graft.perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import graft.streaming.AnsModel.AnsDoc
import graft.streaming.DocumentStore

/** Timing decorator around the sink the pipeline is given: it sees every
  * `update` the tagger makes, how many times the tagger's modify
  * function ran (each re-run is a conflict retry), whether the committed
  * write changed the document, and when each id's commit returned.
  */
final class TimedStore(inner: DocumentStore, spans: Spans)
    extends DocumentStore {
  val calls = new AtomicLong
  val attempts = new AtomicLong
  val noops = new AtomicLong
  val busyNs = new AtomicLong
  val durationsNs = new ConcurrentLinkedQueue[java.lang.Long]()
  /** id -> wall-clock nanos when its first commit returned. */
  val committedAt = new ConcurrentHashMap[String, java.lang.Long]()

  def get(id: String): Option[AnsDoc] = inner.get(id)
  def upsert(doc: AnsDoc): Unit = inner.upsert(doc)
  def snapshot: Seq[AnsDoc] = inner.snapshot

  def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc = {
    val t0 = spans.now
    var noop = false
    val out = inner.update(id) { cur =>
      attempts.incrementAndGet()
      val next = f(cur)
      noop = cur.contains(next)
      next
    }
    val t1 = spans.now
    calls.incrementAndGet()
    if (noop) noops.incrementAndGet()
    busyNs.addAndGet(t1 - t0)
    durationsNs.add(t1 - t0)
    committedAt.putIfAbsent(id, t1)
    spans.add("store.update", 0L, t0, t1, Map("doc" -> id))
    out
  }

  def durationsMs: Seq[Double] = durationsNs.asScala.map(_ / 1e6).toSeq
}
