package graft.streaming

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.time.Duration

import graft.streaming.AnsModel._

/** JSON wire codec for [[AnsModel.AnsDoc]] — the Draft API speaks JSON
  * (`tag.py:12-29` GETs/PUTs ANS documents), so the HTTP store does too,
  * unlike [[FileDocumentStore]]'s JVM-serialized stand-in. Both ways go
  * through jackson-databind (already on Spark's classpath) — no extra
  * dependency, no reflection modules.
  */
private[streaming] object AnsJson {
  import scala.jdk.CollectionConverters._
  import com.fasterxml.jackson.databind.node.ObjectNode
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** `doc`'s typed fields written over `stored` (a whole document as the
    * store served it; by default none): `_id`, `revision` (set or
    * removed) and `taxonomy.tags`. Every other member, at the top level
    * and inside `taxonomy`, stays as stored, and a stored tag element
    * that `doc` keeps (same slug and text) is written back unchanged —
    * the reference PUTs the whole fetched document back (`tag.py:64`).
    */
  def write(doc: AnsDoc, stored: String = "{}"): String = {
    val root = mapper.readTree(stored).asInstanceOf[ObjectNode]
    root.put("_id", doc._id)
    doc.revision.fold(root.remove("revision"))(root.put("revision", _))
    doc.taxonomy match {
      case None => root.remove("taxonomy")
      case Some(Taxonomy(None)) => root.withObjectProperty("taxonomy").remove("tags")
      case Some(Taxonomy(Some(tags))) =>
        val tax = root.withObjectProperty("taxonomy")
        val kept = tax.path("tags").elements.asScala
          .map(n => (n.path("slug").asText, n.path("text").asText) -> n).toMap
        val arr = tax.putArray("tags")
        tags.foreach(tg => arr.add(kept.getOrElse((tg.slug, tg.text),
          mapper.createObjectNode().put("slug", tg.slug).put("text", tg.text))))
    }
    mapper.writeValueAsString(root)
  }

  def read(body: String): AnsDoc = {
    val m = mapper.readValue(body, classOf[java.util.Map[String, Object]])
    val taxonomy = Option(m.get("taxonomy")).map { t =>
      val tm = t.asInstanceOf[java.util.Map[String, Object]]
      val tags = Option(tm.get("tags")).map { ts =>
        ts.asInstanceOf[java.util.List[Object]].asScala.toSeq.map { tg =>
          val g = tg.asInstanceOf[java.util.Map[String, Object]]
          Tag(g.get("slug").asInstanceOf[String],
            g.get("text").asInstanceOf[String])
        }
      }
      Taxonomy(tags)
    }
    AnsDoc(m.get("_id").asInstanceOf[String],
      Option(m.get("revision")).map(_.asInstanceOf[Number].longValue()),
      taxonomy)
  }
}

/** HTTP-backed [[DocumentStore]] — the production seam the reference's
  * Draft API calls model (`tag.py:12-17` GET by id, `tag.py:19-29` PUT),
  * which [[FileDocumentStore]] only simulated on disk. Semantics:
  *
  *  - one POOLED client per store instance (java.net.http keeps
  *    connections alive), resolved executor-locally through
  *    [[DocumentStore.resolve]] like every store — tasks never serialize
  *    a client;
  *  - bounded RETRY with exponential backoff on connect errors and 5xx
  *    (the reference has none — one flaky GET kills the record,
  *    `tag.py:54-57` via the bare except at `app.py:71-75`; here a
  *    TRANSIENT fault is absorbed and only a persistent one surfaces,
  *    failing the micro-batch, which Structured Streaming then retries
  *    from the checkpoint — at-least-once, safe under the idempotent tag
  *    append);
  *  - [[update]] is true server-side optimistic concurrency: GET carries
  *    an `ETag`, the write-back PUTs with `If-Match` (or `If-None-Match:
  *    *` for create), and a 412 re-reads and retries, at most
  *    [[DocumentStore.MaxUpdateAttempts]] reads with backoff, then
  *    throws [[DocumentConflict]] — the revision-check discipline
  *    `README.md:250` says the reference lacks, expressed in standard
  *    HTTP conditionals. An update that changes nothing (`f(cur) ==
  *    cur`, e.g. a tag the document already carries) sends no PUT;
  *  - a write is done only on a 2xx answer. Any other status below 500
  *    (except a conditional write's 412, or a GET's 404) throws
  *    [[DocumentWriteRejected]] naming the id, method and status, and a
  *    5xx that outlasts [[HttpRetry]]'s bound throws IOException: either
  *    way the micro-batch fails and no id is reported as tagged (the
  *    reference discards the PUT response, `tag.py:28`).
  *
  * Paths: `GET/PUT {base}/documents/{id}`, `GET {base}/documents`.
  */
class HttpDocumentStore(
    baseUrl: String,
    backoffMs: Long = 50L,
    timeoutMs: Long = 5000L) extends DocumentStore {

  @transient private lazy val client: HttpClient = HttpClient.newBuilder()
    .connectTimeout(Duration.ofMillis(timeoutMs))
    .build()

  private def docUri(id: String): URI = URI.create(
    s"$baseUrl/documents/" +
      java.net.URLEncoder.encode(id, UTF_8).replace("+", "%20"))

  /** Send with bounded retry + exponential backoff — [[HttpRetry]], the
    * policy shared with [[HttpBlobFetcher]]: 4xx returns to the caller
    * (client errors are semantic, not transient), 5xx and I/O faults
    * retry.
    */
  private def send(req: HttpRequest): HttpResponse[String] =
    HttpRetry.send(client, req, HttpResponse.BodyHandlers.ofString(), backoffMs)

  /** The stored document's body and ETag; None for a 404. Any other
    * status that is not 2xx throws [[DocumentWriteRejected]]: its body
    * is an error, not a document.
    */
  private def getWithTag(id: String): Option[(String, Option[String])] = {
    val r = send(HttpRequest.newBuilder(docUri(id))
      .timeout(Duration.ofMillis(timeoutMs)).GET().build())
    val code = r.statusCode()
    if (code == 404) None
    else if (code / 100 == 2)
      Some((r.body(), Option(r.headers().firstValue("ETag").orElse(null))))
    else throw new DocumentWriteRejected(id, code, "GET")
  }

  override def get(id: String): Option[AnsDoc] =
    getWithTag(id).map(g => AnsJson.read(g._1))

  /** Unconditional PUT — the reference's raw last-writer-wins write-back
    * (`tag.py:19-29`, no locking per `README.md:250`).
    */
  override def upsert(doc: AnsDoc): Unit = {
    val r = send(HttpRequest.newBuilder(docUri(doc._id))
      .timeout(Duration.ofMillis(timeoutMs))
      .header("Content-Type", "application/json")
      .PUT(HttpRequest.BodyPublishers.ofString(AnsJson.write(doc))).build())
    if (r.statusCode() / 100 != 2)
      throw new DocumentWriteRejected(doc._id, r.statusCode(), "PUT")
  }

  /** Conditional read-modify-write: `If-Match` on the GET's ETag (or
    * `If-None-Match: *` when creating): 2xx commits, 412 → re-read and
    * retry (bounded, see [[DocumentStore.retryConflicts]]; past the
    * bound it throws [[DocumentConflict]]), any other status throws
    * [[DocumentWriteRejected]]. When `f` returns the document it read,
    * the update returns after the GET alone: there is nothing to write.
    * The PUT carries the GET's document with `f`'s typed fields written
    * over it ([[AnsJson.write]]). A GET answered with neither 2xx nor 404
    * throws [[DocumentWriteRejected]] before `f` runs.
    * The server enforces the version check atomically, so the client
    * holds no lock.
    */
  override def update(id: String)(f: Option[AnsDoc] => AnsDoc): AnsDoc =
    DocumentStore.retryConflicts(id, backoffMs) {
      val stored = getWithTag(id)
      val cur = stored.map(g => AnsJson.read(g._1))
      val next = f(cur)
      if (cur.contains(next)) Some(next)
      else {
        val b = HttpRequest.newBuilder(docUri(id))
          .timeout(Duration.ofMillis(timeoutMs))
          .header("Content-Type", "application/json")
        val cond = stored.flatMap(_._2) match {
          case Some(t) => b.header("If-Match", t)
          case None    => b.header("If-None-Match", "*")
        }
        val body = AnsJson.write(next, stored.fold("{}")(_._1))
        val r = send(cond.PUT(HttpRequest.BodyPublishers.ofString(body)).build())
        val code = r.statusCode()
        if (code / 100 == 2) Some(next)
        else if (code == 412) None // lost the race — re-read, recompute
        else throw new DocumentWriteRejected(id, code, "PUT")
      }
    }

  override def snapshot: Seq[AnsDoc] = {
    val r = send(HttpRequest.newBuilder(URI.create(s"$baseUrl/documents"))
      .timeout(Duration.ofMillis(timeoutMs)).GET().build())
    if (r.statusCode() / 100 != 2)
      throw new java.io.IOException(
        s"GET $baseUrl/documents answered HTTP ${r.statusCode()}")
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    import scala.jdk.CollectionConverters._
    mapper.readValue(r.body(), classOf[java.util.List[Object]]).asScala.toSeq
      .map(o => AnsJson.read(mapper.writeValueAsString(o)))
  }

  def size: Int = snapshot.size
}

/** The Draft API answered a request for document `id` with a status the
  * store cannot act on: a PUT's that is neither 2xx nor (for a
  * conditional write) 412, or a GET's that is neither 2xx nor 404. The
  * write did not happen.
  */
class DocumentWriteRejected(val id: String, val status: Int, val method: String)
    extends RuntimeException(s"$method of document '$id' rejected with HTTP $status")

/** In-process Draft-API stub (JDK `com.sun.net.httpserver`, no deps):
  * versioned documents with atomic `If-Match`/`If-None-Match` PUT
  * semantics, plus failure injection for retry tests. Test double for
  * [[HttpDocumentStore]] — the real endpoint is config (`tag.py:9-10`
  * reads the API root + credentials from the environment; see README's
  * connector-config section).
  */
class DraftApiStub {
  import com.sun.net.httpserver.{HttpExchange, HttpServer}
  import java.util.concurrent.atomic.AtomicInteger

  private val docs =
    new java.util.LinkedHashMap[String, (Long, String)]() // id -> (version, json)
  /** Requests that will 500 before service resumes (failure injection). */
  val failNext = new AtomicInteger(0)
  /** Total requests served (diagnostics). */
  val hits = new AtomicInteger(0)

  private val server = HttpServer.create(
    new java.net.InetSocketAddress("127.0.0.1", 0), 0)
  server.createContext("/documents", (x: HttpExchange) => handle(x))
  server.setExecutor(HttpRetry.daemonPool(4))
  server.start()

  def baseUrl: String =
    s"http://127.0.0.1:${server.getAddress.getPort}"

  def stop(): Unit = server.stop(0)

  private def reply(x: HttpExchange, code: Int, body: String,
      headers: (String, String)*): Unit = {
    headers.foreach { case (k, v) => x.getResponseHeaders.set(k, v) }
    val bytes = body.getBytes(UTF_8)
    x.sendResponseHeaders(code, if (bytes.isEmpty) -1 else bytes.length)
    if (bytes.nonEmpty) x.getResponseBody.write(bytes)
    x.close()
  }

  private def handle(x: HttpExchange): Unit = try {
    hits.incrementAndGet()
    if (failNext.getAndUpdate(n => math.max(0, n - 1)) > 0) {
      reply(x, 500, """{"error":"injected"}"""); return
    }
    val path = x.getRequestURI.getPath
    val id = java.net.URLDecoder.decode(
      path.stripPrefix("/documents").stripPrefix("/"), UTF_8)
    (x.getRequestMethod, id) match {
      case ("GET", "") => docs.synchronized {
        import scala.jdk.CollectionConverters._
        reply(x, 200,
          docs.values().asScala.map(_._2).mkString("[", ",", "]"),
          "Content-Type" -> "application/json")
      }
      case ("GET", _) => docs.synchronized {
        Option(docs.get(id)) match {
          case Some((v, body)) => reply(x, 200, body,
            "Content-Type" -> "application/json", "ETag" -> s""""v$v"""")
          case None => reply(x, 404, "")
        }
      }
      case ("PUT", _) =>
        val body = new String(x.getRequestBody.readAllBytes(), UTF_8)
        val ifMatch = Option(x.getRequestHeaders.getFirst("If-Match"))
        val ifNone = Option(x.getRequestHeaders.getFirst("If-None-Match"))
        docs.synchronized { // version check + write are one atomic step
          val cur = Option(docs.get(id))
          val conflict =
            ifMatch.exists(t => !cur.exists(c => s""""v${c._1}"""" == t)) ||
              (ifNone.contains("*") && cur.isDefined)
          if (conflict) reply(x, 412, "")
          else {
            val v = cur.map(_._1 + 1).getOrElse(1L)
            docs.put(id, (v, body))
            reply(x, 200, "", "ETag" -> s""""v$v"""")
          }
        }
      case _ => reply(x, 405, "")
    }
  } catch {
    case e: Throwable => reply(x, 500, s"""{"error":"${e.getMessage}"}""")
  }
}
