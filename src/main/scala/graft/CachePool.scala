package graft

import java.util.concurrent.ConcurrentLinkedQueue

import org.apache.spark.sql.DataFrame

/** Lifecycle registry for intermediates that query BUILDERS persist.
  *
  * Several dedup builders cache a frame that multiple branches of the
  * RETURNED plan consume (shingle pipelines, block indexes) — the
  * builder cannot unpersist it, because the caller's terminal action
  * hasn't run yet. Left alone, those cached blocks outlive the query:
  * harmless in a run-one-query process, a steady leak of executor
  * storage memory in a long-lived session running many queries (the
  * r5 audit's unbalanced-persist finding).
  *
  * Builders register such frames here instead of bare `.persist()`.
  * Release is SCOPED: a runner wraps one query's build-and-materialize
  * in [[scoped]], and only that query's frames are dropped when the
  * scope closes — two queries running concurrently (a multi-tenant
  * session, parallel test suites) cannot drop each other's caches,
  * which the previous drain-everything [[releaseAll]] did. Frames
  * tracked outside any scope keep the original serial-session
  * behavior: they accumulate until the next [[releaseAll]].
  */
object CachePool {

  /** One query's ledger of persisted intermediates; drained when its
    * [[scoped]] block closes.
    */
  final class Scope private[CachePool] () {
    private[CachePool] val tracked = new ConcurrentLinkedQueue[DataFrame]()
    private[CachePool] def release(): Unit = {
      // Non-blocking: block deletion proceeds asynchronously, the plans
      // stay valid (they recompute from lineage if re-run).
      var df = tracked.poll()
      while (df != null) {
        df.unpersist(blocking = false)
        df = tracked.poll()
      }
    }
  }

  // Frames tracked outside any scope land here and are dropped by the
  // next releaseAll() — the pre-scope serial-session contract.
  private val unscoped = new Scope
  private val current = new ThreadLocal[Scope] {
    override def initialValue(): Scope = unscoped
  }

  /** Persist `df` and register it with the scope bound to this thread
    * (the shared unscoped ledger if none).
    */
  private[graft] def track(df: DataFrame): DataFrame = {
    val p = df.persist()
    current.get().tracked.add(p)
    p
  }

  /** Run one query's build-and-materialize under its own cache scope:
    * frames tracked inside `body` (on this thread) are unpersisted when
    * `body` returns — and ONLY those, so concurrent queries in other
    * scopes keep their caches live. The terminal action must run inside
    * `body`; scope binding is thread-local, matching how builders call
    * [[track]] during plan construction on the caller's thread.
    */
  def scoped[A](body: => A): A = {
    val s = new Scope
    val prev = current.get()
    current.set(s)
    try body
    finally {
      current.set(prev)
      s.release()
    }
  }

  /** Unpersist every UNSCOPED builder-cached intermediate registered
    * since the last call — the serial-execution API for callers that
    * don't use [[scoped]]. (`spark.catalog.clearCache()` drops blocks
    * but not this ledger's references, hence the drain loop.)
    */
  def releaseAll(): Unit = unscoped.release()

  /** Session memo for BOUNDED audit/model frames shared across queries —
    * the NearDupCache stance generalized (r12 verdict item #7): the q229
    * release card re-executes six registered audits the suite also runs
    * standalone, and each is bounded audit output (class grids,
    * per-shard proofs, key censuses — never corpus-sized). Computing a
    * shared frame once per (key, sf-dir) and localCheckpointing it makes
    * the card and its components literally the same rows: safe across
    * [[scoped]] releases and `spark.catalog.clearCache()` because the
    * checkpoint blocks live outside the catalog's CacheManager, and the
    * storage held is a handful of audit-sized tables per session — the
    * deliberate cache-reuse contract, not a leak. Plan-shape pins for
    * memoized queries target the RAW builders (the memo's return is a
    * checkpoint scan; the pinned shape is the one the memo builds).
    */
  private val memos =
    new java.util.concurrent.ConcurrentHashMap[(String, String), DataFrame]()

  private[graft] def memo(key: String, dir: String)(
      build: => DataFrame): DataFrame =
    memos.computeIfAbsent((key, dir), _ => build.localCheckpoint())

  /** Drop every memoized frame. `Bench`'s isolated re-runs and the
    * `perfbench` suite workloads call this before each sample so they
    * time BUILDS, not cache reads: the amortization a memo buys is the
    * feature in a suite run and a measurement bug in a per-query timing.
    * Driver-side model memos (e.g. the q237 trained-cost table) register
    * a clear hook so one call resets every session memo class.
    */
  private val memoHooks =
    new java.util.concurrent.ConcurrentLinkedQueue[() => Unit]()

  private[graft] def onMemoClear(f: () => Unit): Unit = memoHooks.add(f)

  private[graft] def memoClear(): Unit = {
    memos.values.forEach(_.unpersist(blocking = false))
    memos.clear()
    memoHooks.forEach(_.apply())
  }
}
