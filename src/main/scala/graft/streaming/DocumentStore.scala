package graft.streaming

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import graft.streaming.AnsModel._

/** The document store the reference enriches against and writes back to
  * (Draft API: GET/PUT by `_id`, `tag.py:12-29`).
  *
  * Semantics preserved:
  *  - point lookup by id (`tag.py:12-17`);
  *  - upsert PUT, last-writer-wins, no locking (`README.md:250`);
  *  - the write path is IDEMPOTENT, so a redelivered batch is safe; that
  *    is guaranteed by the tag append being a set-insert (`tag.py:39-40`
  *    / TagOps.appendIfAbsent). Unlike the reference, which discards the
  *    PUT response (`tag.py:28`), a store must throw on a write it could
  *    not make rather than return as if it had.
  *
  * In production this is an HTTP client pooled per partition (or a keyed
  * Delta table); tests use [[InMemoryDocumentStore]]. The trait keeps the
  * pipeline source/sink-agnostic, the same way the Kinesis connector is a
  * config swap for MemoryStream.
  */
trait DocumentStore extends Serializable {
  def get(id: String): Option[AnsDoc]
  def upsert(doc: AnsDoc): Unit
  def snapshot: Seq[AnsDoc]

  /** Optimistic read-modify-write: apply `f` to the current document
    * (None if absent) and commit the result iff no other writer
    * committed in between; a losing writer re-reads and retries with
    * fresh state. The raw [[upsert]] stays last-writer-wins — the
    * reference's documented PUT (`README.md:250`) — which loses one
    * side of a concurrent tagger + editor race; flows that READ before
    * they write (the tag append, any field edit) go through here so
    * neither side's change is dropped (the fixed-semantics discipline
    * applied to the no-locking caveat). The in-memory, file and HTTP
    * stores throw [[DocumentConflict]] after
    * [[DocumentStore.MaxUpdateAttempts]] lost races instead of spinning
    * on a hot document.
    */
  def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc
}

/** An optimistic update lost the version race on every one of its
  * `attempts` reads: the write did not happen.
  */
class DocumentConflict(val id: String, val attempts: Int)
    extends RuntimeException(
      s"update of document '$id' lost the version race $attempts times")

/** Shared internals for the two JVM-local stores (typed AnsDoc and raw
  * JSON): ONE implementation of the optimistic read-modify-write loop
  * and of the executor-side registry, so a fix to either semantics
  * applies to both stores (extracted r12 after the raw store initially
  * copy-pasted them).
  *
  * The CAS: commit succeeds only if the entry still VALUE-equals the
  * snapshot `f` was computed from (an ABA with equal values is a no-op
  * by definition here, since `f` depends only on the value).
  */
private[streaming] class CasMap[V <: AnyRef] extends Serializable {
  private val m = new ConcurrentHashMap[String, V]()
  def get(id: String): Option[V] = Option(m.get(id))
  def put(id: String, v: V): Unit = m.put(id, v)
  def values: Seq[V] = m.values.asScala.toSeq
  def entries: Map[String, V] = m.asScala.toMap
  def size: Int = m.size
  def update(id: String)(f: Option[V] => V): V =
    DocumentStore.retryConflicts(id, 1L) {
      val cur = Option(m.get(id))
      val next = f(cur)
      val committed = cur match {
        case None    => m.putIfAbsent(id, next) == null
        case Some(c) => m.replace(id, c, next)
      }
      if (committed) Some(next) else None
    }
}

/** Executor-side store registry — task closures capture a KEY and
  * resolve it partition-locally (see [[DocumentStore.resolve]]'s
  * scaladoc for why stores must never ride a task closure).
  */
private[streaming] class StoreRegistry[S](what: String) {
  private val r = new ConcurrentHashMap[String, S]()
  def register(key: String, store: S): Unit = r.put(key, store)
  def resolve(key: String): S = {
    val s = r.get(key)
    require(s != null,
      s"no $what registered under '$key' in this JVM — on a real " +
        "cluster, register a connection-backed store in an executor plugin")
    s
  }
}

/** JVM-local store (driver + executors share the JVM under local[k], the
  * same reachability a foreachBatch HTTP client has on a cluster).
  */
class InMemoryDocumentStore extends DocumentStore {
  private val m = new CasMap[AnsDoc]
  def get(id: String): Option[AnsDoc] = m.get(id)
  def upsert(doc: AnsDoc): Unit = m.put(doc._id, doc)
  def snapshot: Seq[AnsDoc] = m.values
  def size: Int = m.size
  override def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc =
    m.update(id)(f)
}

/** Raw-JSON document store — the open-schema production shape: the
  * store holds the WHOLE ANS document as TEXT (fields the pipeline has
  * never heard of included), and the tagger edits it via [[RawAns]]'s
  * byte-preserving splice instead of a typed round trip (`tag.py:64`'s
  * "modify only what you understand, preserve the rest"; the
  * [[InMemoryDocumentStore]]'s typed AnsDoc model would silently drop
  * every undeclared field on write-back). Same CAS `update` contract.
  */
class InMemoryRawDocumentStore extends Serializable {
  private val m = new CasMap[String]
  def get(id: String): Option[String] = m.get(id)
  def upsert(id: String, doc: String): Unit = m.put(id, doc)
  def snapshot: Map[String, String] = m.entries
  def size: Int = m.size

  /** Optimistic read-modify-write, value-equality CAS (shared
    * [[CasMap]] semantics with the typed store).
    */
  def update(id: String)(f: Option[String] => String): String = m.update(id)(f)
}

object InMemoryRawDocumentStore {
  private val registry = new StoreRegistry[InMemoryRawDocumentStore](
    "raw document store")
  def register(key: String, store: InMemoryRawDocumentStore): Unit =
    registry.register(key, store)
  def resolve(key: String): InMemoryRawDocumentStore = registry.resolve(key)
}

/** Durable file-backed store: one file per document under `root`,
  * written temp-then-ATOMIC_MOVE so an upsert is all-or-nothing and
  * last-writer-wins — the durability half of the reference's PUT
  * semantics, testable across process restarts (the wire encoding is a
  * stand-in; a real deployment speaks to the Draft API or a keyed table,
  * but the atomic-rename-per-key upsert pattern is exactly this).
  * Filenames are the sha-256 of the id, so any id is path-safe.
  */
class FileDocumentStore(
    root: String,
    lockStaleMs: Long = FileDocumentStore.LockStaleMs) extends DocumentStore {
  import java.nio.file.{Files, Path, Paths, StandardCopyOption}

  private def rootPath: Path = {
    val p = Paths.get(root)
    Files.createDirectories(p)
    p
  }

  private def fileFor(id: String): Path = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val hex = md.digest(id.getBytes("UTF-8")).map("%02x".format(_)).mkString
    rootPath.resolve(hex + ".doc")
  }

  private def write(doc: AnsDoc, target: Path): Unit = {
    val tmp = Files.createTempFile(rootPath, ".tmp-", ".doc")
    val oos = new java.io.ObjectOutputStream(Files.newOutputStream(tmp))
    try oos.writeObject(doc) finally oos.close()
    Files.move(tmp, target, StandardCopyOption.ATOMIC_MOVE,
      StandardCopyOption.REPLACE_EXISTING)
  }

  private def read(p: Path): AnsDoc = {
    val ois = new java.io.ObjectInputStream(Files.newInputStream(p))
    try ois.readObject().asInstanceOf[AnsDoc] finally ois.close()
  }

  override def get(id: String): Option[AnsDoc] = {
    val f = fileFor(id)
    if (Files.exists(f)) Some(read(f)) else None
  }

  override def upsert(doc: AnsDoc): Unit = write(doc, fileFor(doc._id))

  /** Optimistic concurrency over files: rename cannot be made
    * conditional, so the validate-and-commit step runs under a per-key
    * lock FILE (Files.createFile is atomic) — but the read and the
    * (arbitrary) `f` run OUTSIDE the lock, and commit happens only if
    * the stored document still value-equals the snapshot `f` saw;
    * otherwise the writer retries against fresh state. The critical
    * section is one read + one atomic-rename write. A crash while
    * holding the lock orphans the lock file; waiters BREAK such a lock
    * once it is older than [[FileDocumentStore.LockStaleMs]] (the
    * critical section is microseconds, so a lock that old has no living
    * owner), and park briefly between attempts instead of busy-spinning
    * — a kill -9 therefore costs one stale-timeout, not a permanent
    * silent hang on that key. (A production Draft API does this
    * server-side with document revisions.)
    *
    * Locks are SELF-IDENTIFYING: the holder writes a per-acquire UUID
    * into its lock file and at release deletes the file only if it still
    * carries that UUID — so a holder whose lock was (wrongly) judged
    * stale mid-section (a >staleMs GC pause) cannot delete a successor's
    * fresh lock and admit a third writer. Residual honesty: file renames
    * cannot be made conditional, so if a LIVE lock is claimed inside the
    * stat→move window and the restore collides, the live owner and the
    * new holder briefly overlap in the critical section (double-hold).
    * The value-equality re-check before commit (`get(id) == before`)
    * turns that overlap into a retry, not a lost update, and the window
    * requires release+reacquire inside a single stat→move — accepted for
    * this test/streaming utility; a production store uses server-side
    * revisions instead of files.
    *
    * Lost races run on [[DocumentStore.retryConflicts]]: after
    * [[DocumentStore.MaxUpdateAttempts]] reads the update throws
    * [[DocumentConflict]] (a lock orphaned by a dead writer is broken
    * after the stale-lock timeout).
    */
  override def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc = {
    val lock = {
      val t = fileFor(id)
      t.resolveSibling(t.getFileName.toString + ".lock")
    }
    val ownerTag =
      java.util.UUID.randomUUID().toString.getBytes("UTF-8")
    DocumentStore.retryConflicts(id, 1L) {
      val before = get(id) // optimistic read, no lock held
      val next = f(before)
      var acquired = false
      while (!acquired) {
        try {
          Files.createFile(lock) // atomic claim; file is empty for an instant
          Files.write(lock, ownerTag) // stamp ownership
          acquired = true
        }
        catch {
          case _: java.nio.file.FileAlreadyExistsException =>
            try {
              val age = System.currentTimeMillis() -
                Files.getLastModifiedTime(lock).toMillis
              if (age > lockStaleMs) {
                // Break the orphan via an ATOMIC claim: rename the stale
                // lock to a waiter-unique name — exactly one waiter's move
                // succeeds; the rest hit NoSuchFileException and re-contend
                // through createFile. (Deleting in place was a race: two
                // waiters could both judge the lock stale, the first
                // delete-then-create, and the second's delete then removed
                // the first's FRESH lock — re-opening the lost-update
                // window this method exists to close.)
                val claim = lock.resolveSibling(lock.getFileName.toString +
                  s".claim-${java.util.UUID.randomUUID()}")
                Files.move(lock, claim, StandardCopyOption.ATOMIC_MOVE)
                // Re-judge staleness on the claimed file itself: if a LIVE
                // lock slid under us inside the stat→move window (owner
                // released + another waiter acquired), restore it rather
                // than break it; if the restore target is already occupied
                // the claim is moot either way — drop it.
                val claimedAge = System.currentTimeMillis() -
                  Files.getLastModifiedTime(claim).toMillis
                if (claimedAge > lockStaleMs)
                  Files.delete(claim)
                else
                  try Files.move(claim, lock, StandardCopyOption.ATOMIC_MOVE)
                  catch {
                    case _: java.nio.file.FileAlreadyExistsException =>
                      Files.delete(claim)
                  }
              } else Thread.sleep(1)
            } catch {
              // lock vanished between the existence check and the
              // stat/move — owner released it; retry immediately
              case _: java.nio.file.NoSuchFileException =>
            }
        }
      }
      try {
        if (get(id) == before) { // nobody committed since our read
          upsert(next)
          Some(next)
        } else None // lost the race: re-read, recompute
      } finally {
        // Release only a lock we still OWN. If ours was broken while we
        // ran, the file (if any) carries a successor's UUID — deleting it
        // would hand the key to a third writer. A vanished lock (broken,
        // successor already released) needs no action.
        try {
          if (java.util.Arrays.equals(Files.readAllBytes(lock), ownerTag))
            Files.delete(lock)
        } catch { case _: java.io.IOException => }
      }
    }
  }

  override def snapshot: Seq[AnsDoc] = {
    val s = Files.list(rootPath)
    try {
      import scala.jdk.CollectionConverters._
      s.iterator().asScala
        .filter(p => p.getFileName.toString.endsWith(".doc") &&
          !p.getFileName.toString.startsWith(".tmp-"))
        .map(read).toSeq
    } finally s.close()
  }

  def size: Int = snapshot.size
}

object FileDocumentStore {
  /** Age past which a waiter breaks another writer's lock file — the
    * crash-orphan bound. The held window is one read + one rename
    * (microseconds), so 10 s of slack is orders of magnitude above any
    * live owner's hold time.
    */
  private[streaming] val LockStaleMs = 10000L
}

object DocumentStore {

  /** Executor-side store handles. Task closures must not serialize a
    * store (each deserialized task would mutate its own private copy);
    * they capture a registry KEY and resolve it partition-locally — the
    * same pattern a production sink uses for per-executor HTTP/DB
    * connection pools. Local mode shares one JVM, so tests observe the
    * same instance the driver registered.
    */
  private val registry = new StoreRegistry[DocumentStore]("DocumentStore")

  def register(key: String, store: DocumentStore): Unit =
    registry.register(key, store)

  def resolve(key: String): DocumentStore = registry.resolve(key)

  /** Reads an optimistic update makes before it gives up with
    * [[DocumentConflict]]: without a bound, a document other writers
    * keep changing livelocks the task that updates it.
    */
  val MaxUpdateAttempts = 32

  /** The bounded conflict loop of the optimistic stores: runs `tryOnce`
    * (one read-modify-write; Some = committed, None = lost the race)
    * until it commits, and throws [[DocumentConflict]] after
    * [[MaxUpdateAttempts]] losses. The first re-read is immediate: the
    * conflict means a newer version is already there. Later ones wait
    * between half and all of `baseMs` · 2^(attempt-2) ms (capped at
    * 64 · `baseMs`), so writers that keep colliding fall out of step and
    * a loser outlasts another writer's burst of updates: while the
    * winner's PUT is in flight every read the loser makes is already
    * stale, so an unpaced loser can lose twenty races in a row.
    */
  @annotation.tailrec
  private[streaming] def retryConflicts[T](id: String, baseMs: Long,
      attempt: Int = 1)(tryOnce: => Option[T]): T = tryOnce match {
    case Some(v) => v
    case None if attempt == MaxUpdateAttempts =>
      throw new DocumentConflict(id, attempt)
    case None =>
      if (attempt > 1) {
        val d = baseMs << math.min(attempt - 2, 6)
        Thread.sleep(d / 2 +
          java.util.concurrent.ThreadLocalRandom.current().nextLong(d - d / 2 + 1))
      }
      retryConflicts(id, baseMs, attempt + 1)(tryOnce)
  }

  /** The reference's `modify_ans` with the intended (bug-fixed) semantics:
    * append `tag` iff absent; a missing taxonomy or missing tags list
    * initializes to `[tag]` (`tag.py:31-46`, intent per `README.md:241`;
    * NOT the KeyError at `tag.py:33-35` — SURVEY.md §0).
    * Idempotent: applying twice equals applying once.
    */
  def modifyAns(doc: AnsDoc, tag: Tag): AnsDoc = {
    val tags = doc.taxonomy.flatMap(_.tags).getOrElse(Seq.empty)
    if (tags.contains(tag)) doc
    else doc.copy(taxonomy = Some(Taxonomy(Some(tags :+ tag))))
  }
}
