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

/** JVM-local store (driver + executors share the JVM under local[k], the
  * same reachability a sink's HTTP client has on a cluster).
  *
  * Its [[update]] is a compare-and-set: the commit succeeds only if the
  * entry still VALUE-equals the snapshot `f` was computed from (an ABA
  * with equal values is a no-op by definition here, since `f` depends
  * only on the value).
  */
class InMemoryDocumentStore extends DocumentStore {
  private val m = new ConcurrentHashMap[String, AnsDoc]()
  def get(id: String): Option[AnsDoc] = Option(m.get(id))
  def upsert(doc: AnsDoc): Unit = m.put(doc._id, doc)
  def snapshot: Seq[AnsDoc] = m.values.asScala.toSeq
  def size: Int = m.size
  override def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc =
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

/** Durable file-backed store: one file per document under `root`,
  * written temp-then-ATOMIC_MOVE so an upsert is all-or-nothing and
  * last-writer-wins — the durability half of the reference's PUT
  * semantics, testable across process restarts (the wire encoding is a
  * stand-in; a real deployment speaks to the Draft API or a keyed table,
  * but the atomic-rename-per-key upsert pattern is exactly this).
  * Filenames are the sha-256 of the id, so any id is path-safe.
  */
class FileDocumentStore(root: String) extends DocumentStore {
  import java.nio.file.{Files, Path, Paths, StandardCopyOption}

  // created once per instance (and again after deserialization: a Path
  // is not serializable)
  @transient private lazy val rootPath: Path =
    Files.createDirectories(Paths.get(root))

  private def fileFor(id: String): Path = {
    val sha = java.security.MessageDigest.getInstance("SHA-256")
      .digest(id.getBytes("UTF-8"))
    rootPath.resolve(java.util.HexFormat.of().formatHex(sha) + ".doc")
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

  private def readIfExists(p: Path): Option[AnsDoc] =
    if (Files.exists(p)) Some(read(p)) else None

  override def get(id: String): Option[AnsDoc] = readIfExists(fileFor(id))

  override def upsert(doc: AnsDoc): Unit = write(doc, fileFor(doc._id))

  /** Optimistic concurrency over files: rename cannot be made
    * conditional, so the validate-and-commit step runs under a per-key
    * lock — but the read and the (arbitrary) `f` run OUTSIDE the lock,
    * and commit happens only if the stored document still value-equals
    * the snapshot `f` saw; otherwise the writer retries against fresh
    * state, at most [[DocumentStore.MaxUpdateAttempts]] times
    * ([[DocumentStore.retryConflicts]]). The critical section is one
    * read + one atomic-rename write. (A production Draft API does this
    * server-side with document revisions.)
    *
    * The lock is the kernel's: an exclusive `FileChannel.lock()` on the
    * key's `<sha>.doc.lock` file, taken under a JVM-wide monitor (see
    * [[FileDocumentStore.locked]]). Two processes never hold it at once,
    * and the kernel releases it when its holder dies, so a killed writer
    * never wedges the key. The lock file itself is never deleted.
    */
  override def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc = {
    val doc = fileFor(id)
    val lock = doc.resolveSibling(doc.getFileName.toString + ".lock")
    DocumentStore.retryConflicts(id, 1L) {
      val before = readIfExists(doc) // optimistic read, no lock held
      val next = f(before)
      FileDocumentStore.locked(lock) {
        if (readIfExists(doc) == before) { // nobody committed since our read
          upsert(next) // not write(): an overridden upsert sees the commit
          Some(next)
        } else None // lost the race: re-read, recompute
      }
    }
  }

  /** The stored documents' files: `.doc`, without temp files and locks. */
  private def docFiles[T](f: Iterator[Path] => T): T = {
    val s = Files.list(rootPath)
    try {
      import scala.jdk.CollectionConverters._
      f(s.iterator().asScala.filter { p =>
        val n = p.getFileName.toString
        n.endsWith(".doc") && !n.startsWith(".tmp-")
      })
    } finally s.close()
  }

  override def snapshot: Seq[AnsDoc] = docFiles(_.map(read).toSeq)

  def size: Int = docFiles(_.size)
}

object FileDocumentStore {
  import java.nio.channels.FileChannel
  import java.nio.file.{Path, StandardOpenOption}

  /** JVM-wide monitors, striped by the lock file's real path, so every
    * store instance over one root shares them. */
  private val stripes = Array.fill(64)(new Object)

  /** Runs `body` holding the kernel lock on `lock`, which is created on
    * first use and never deleted.
    *
    * Two POSIX rules shape this. (1) Closing ANY descriptor of a file
    * releases every lock the process holds on it, and a second lock on
    * the same file from inside this JVM throws
    * `OverlappingFileLockException` instead of waiting: so the file is
    * opened only under the stripe's monitor, which serializes the JVM's
    * threads before the kernel lock serializes processes. (2) The lock
    * belongs to an inode, not a name: deleting the file would let a
    * process that opened the old inode and one that created a new
    * inode under the same name lock at the same time. So one small
    * `.lock` file per document persists (`snapshot` skips it), and a
    * leftover one is reused.
    */
  private def locked[T](lock: Path)(body: => T): T = {
    val key = lock.getParent.toRealPath().resolve(lock.getFileName)
    stripes(Math.floorMod(key.hashCode, stripes.length)).synchronized {
      val ch = FileChannel.open(lock,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try { ch.lock(); body } finally ch.close()
    }
  }
}

object DocumentStore {

  /** Executor-side store handles. Task closures must not serialize a
    * store (each deserialized task would mutate its own private copy);
    * they capture a registry KEY and resolve it partition-locally — the
    * same pattern a production sink uses for per-executor HTTP/DB
    * connection pools. Local mode shares one JVM, so tests observe the
    * same instance the driver registered.
    */
  private val registry = new ConcurrentHashMap[String, DocumentStore]()

  def register(key: String, store: DocumentStore): Unit =
    registry.put(key, store)

  def resolve(key: String): DocumentStore = {
    val s = registry.get(key)
    require(s != null,
      s"no DocumentStore registered under '$key' in this JVM — on a real " +
        "cluster, register a connection-backed store in an executor plugin")
    s
  }

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
