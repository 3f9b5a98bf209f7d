package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

/** Bounded-retry HTTP send shared by [[HttpDocumentStore]] and
  * [[HttpBlobFetcher]]: 4xx returns to the caller (client errors are
  * semantic, not transient), 5xx and I/O faults retry with exponential
  * backoff until [[MaxAttempts]], then surface as IOException — failing
  * the task, which Spark then retries (at-least-once, safe under
  * idempotent consumers).
  */
private[graft] object HttpRetry {
  /** Daemon-thread pool for the in-process stub endpoints and
    * [[wirePool]]: the session holds them in lazy vals with no lifecycle
    * hook (the real endpoint is remote), so their worker threads must
    * never pin the JVM open after `main` returns — a non-daemon pool
    * here hangs every Verify/Bench run that touched a wire query.
    */
  def daemonPool(n: Int): java.util.concurrent.ExecutorService =
    java.util.concurrent.Executors.newFixedThreadPool(n, r => {
      val t = new Thread(r)
      t.setDaemon(true)
      t
    })

  /** The one per-JVM pool for overlapping wire round trips (ranged blob
    * fetches in `Multimodal.derefRanged`, the tag sink's document
    * updates in [[TagPipeline]]): a round trip is ~all wait, so a task
    * issuing them one at a time leaves the wire idle between requests.
    * Its fixed size is the JVM's in-flight bound. The JDK HttpClient is
    * thread-safe and pools connections, so concurrent senders share its
    * keep-alives.
    */
  lazy val wirePool: java.util.concurrent.ExecutorService = daemonPool(64)

  /** Attempts per request, the first one included. */
  val MaxAttempts = 4

  def send[T](client: HttpClient, req: HttpRequest,
      handler: HttpResponse.BodyHandler[T], backoffMs: Long): HttpResponse[T] = {
    var attempt = 0
    while (true) {
      attempt += 1
      val resp =
        try Some(client.send(req, handler))
        catch {
          case e: java.io.IOException =>
            if (attempt >= MaxAttempts)
              throw new java.io.IOException(
                s"endpoint unreachable after $attempt attempts: " +
                  s"${req.method()} ${req.uri()}", e)
            None
        }
      resp match {
        case Some(r) if r.statusCode() < 500 => return r
        case Some(r) if attempt >= MaxAttempts =>
          throw new java.io.IOException(
            s"endpoint failed after $attempt attempts: " +
              s"${req.method()} ${req.uri()} -> ${r.statusCode()}")
        case _ => // retry
      }
      Thread.sleep(backoffMs << (attempt - 1)) // 50, 100, 200, ...
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Pooled RANGED-GET blob client — the reference's >1 MB S3 side channel
  * (`app.py:43-46`) as real wire I/O rather than q55's synthetic deref:
  * a manifest row points at `(path, offset, length)` inside a packed
  * blob object (the WARC/packed-shard layout every crawl corpus uses at
  * 100 TB, where fetching whole objects for one record would multiply
  * egress by the pack factor), and the fetch asks the server for exactly
  * those bytes with a `Range` header.
  *
  * Distribution contract: the fetcher is a small serializable CONFIG;
  * the `HttpClient` is `@transient lazy`, so each executor builds one
  * pooled client on first use and every task on that executor shares its
  * keep-alive connections — tasks never serialize a client (the same
  * store-resolution stance as [[DocumentStore.resolve]]). Retry/backoff
  * is [[HttpRetry]], the exact policy the document store uses.
  */
class HttpBlobFetcher(
    baseUrl: String,
    backoffMs: Long = 50L,
    timeoutMs: Long = 5000L) extends Serializable {

  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(timeoutMs))
    .build()

  /** GET bytes `[offset, offset+length)` of `path`. A compliant server
    * answers 206 Partial Content with exactly the requested slice; a
    * server that ignores `Range` (legal per RFC 9110) answers 200 with
    * the full body, which is degraded to a local slice so the caller
    * sees identical bytes either way. Anything else — 404, 416, a
    * post-retry 5xx — surfaces as an error and fails the task loudly
    * (the error-continue decision belongs to the pipeline, not the
    * fetch; the reference's bare `except` at `app.py:71-75` silently
    * dropped the record instead).
    */
  def fetchRange(path: String, offset: Long, length: Long): Array[Byte] = {
    require(offset >= 0 && length > 0, s"bad range [$offset,+$length)")
    val req = HttpRequest.newBuilder(URI.create(s"$baseUrl$path"))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Range", s"bytes=$offset-${offset + length - 1}")
      .GET().build()
    val r = HttpRetry.send(client, req,
      HttpResponse.BodyHandlers.ofByteArray(), backoffMs)
    val bytes = r.statusCode() match {
      case 206 => r.body()
      case 200 =>
        val b = r.body()
        if (offset >= b.length) Array.emptyByteArray
        else b.slice(offset.toInt, math.min(b.length.toLong, offset + length).toInt)
      case c => throw new java.io.IOException(
        s"blob fetch failed: GET $baseUrl$path [$offset,+$length) -> $c")
    }
    // loud, not short: a manifest range must lie INSIDE the blob. A
    // server capping a partially-out-of-range 206 at EOF (or the
    // 200-degrade slicing short) would otherwise return fewer bytes and
    // corrupt md5s downstream silently — and the two paths would differ
    // on the error case (416 vs empty) where the contract says they are
    // byte-identical (r10 review finding).
    if (bytes.length != length)
      throw new java.io.IOException(
        s"short blob read: GET $baseUrl$path [$offset,+$length) returned " +
          s"${bytes.length} bytes — manifest range outside the blob?")
    bytes
  }
}

/** In-process Range-capable blob endpoint (JDK httpserver, no deps) —
  * the S3/media-store test double for [[HttpBlobFetcher]], with the same
  * failure injection the Draft-API stub has. `GET /blobs/{name}` serves
  * `payload(name)`; a `Range: bytes=a-b` request answers 206 with the
  * slice and a `Content-Range` header (416 past-EOF), unless
  * `honorRange` is false — then the full 200 body, the
  * server-ignores-Range case the fetcher must degrade around.
  */
class BlobApiStub(payload: String => Option[Array[Byte]]) {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import java.util.concurrent.atomic.AtomicInteger

  /** Requests that will 500 before service resumes (failure injection). */
  val failNext = new AtomicInteger(0)
  /** Total requests served (diagnostics). */
  val hits = new AtomicInteger(0)
  /** When false, Range headers are ignored and the full body is served. */
  @volatile var honorRange: Boolean = true

  private val server = HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/blobs", (x: HttpExchange) => handle(x))
  // sized for local[32] clients fetching concurrently — a starved pool
  // here would misread as fetch-stage slowness in the bench
  server.setExecutor(HttpRetry.daemonPool(32))
  server.start()

  def baseUrl: String = s"http://127.0.0.1:${server.getAddress.getPort}"
  def stop(): Unit = server.stop(0)

  private def reply(x: HttpExchange, code: Int, body: Array[Byte],
      headers: (String, String)*): Unit = {
    headers.foreach { case (k, v) => x.getResponseHeaders.set(k, v) }
    x.sendResponseHeaders(code, if (body.isEmpty) -1 else body.length)
    if (body.nonEmpty) x.getResponseBody.write(body)
    x.close()
  }

  private val RangeSpec = "bytes=(\\d+)-(\\d+)".r

  private def handle(x: HttpExchange): Unit = try {
    hits.incrementAndGet()
    if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      reply(x, 500, """{"error":"injected"}""".getBytes(UTF_8)); return
    }
    val name = java.net.URLDecoder.decode(
      x.getRequestURI.getPath.stripPrefix("/blobs").stripPrefix("/"), UTF_8)
    (x.getRequestMethod, payload(name)) match {
      case ("GET", Some(full)) =>
        Option(x.getRequestHeaders.getFirst("Range")).filter(_ => honorRange) match {
          case Some(RangeSpec(a, b)) =>
            val from = a.toLong
            val until = math.min(b.toLong + 1, full.length.toLong)
            if (from >= full.length)
              reply(x, 416, Array.emptyByteArray,
                "Content-Range" -> s"bytes */${full.length}")
            else
              reply(x, 206, full.slice(from.toInt, until.toInt),
                "Content-Range" -> s"bytes $from-${until - 1}/${full.length}",
                "Content-Type" -> "application/octet-stream")
          case _ =>
            reply(x, 200, full, "Content-Type" -> "application/octet-stream")
        }
      case ("GET", None) => reply(x, 404, Array.emptyByteArray)
      case _ => reply(x, 405, Array.emptyByteArray)
    }
  } catch {
    case e: Throwable =>
      // best-effort 500: if headers already went out (client hung up
      // mid-body-write), a second sendResponseHeaders would itself throw
      // inside the dispatcher — swallow that and just close the exchange
      // (r10 review finding)
      try reply(x, 500, s"""{"error":"${e.getMessage}"}""".getBytes(UTF_8))
      catch { case _: Throwable => x.close() }
  }
}
