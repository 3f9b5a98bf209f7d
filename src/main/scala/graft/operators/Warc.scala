package graft.operators

import java.io.ByteArrayOutputStream
import java.nio.charset.StandardCharsets.{US_ASCII, UTF_8}

/** WARC (ISO 28500) writer and streaming record parser for the
  * crawl-ingest tier (q169): the on-disk format a 100 TB web corpus
  * actually arrives in (CommonCrawl ships WARC), where each file packs
  * thousands of records and the unit of parallelism is the FILE — one
  * sequential streaming parse per task, Content-Length-driven, never a
  * whole-file regex.
  *
  * The writer emits a leading `warcinfo` record then one `response`
  * record per document (WARC headers + an HTTP/1.1 response payload +
  * HTML body), all fields deterministic. The parser is byte-level:
  * header block to the first CRLFCRLF, `Content-Length` bytes of
  * payload, the two record-separator CRLFs, repeat — malformed input
  * fails loudly (truncated payload, missing separator, bad magic).
  *
  * Encoding discipline (r11): the whole format runs on OCTETS, as the
  * WARC spec requires — every `Content-Length` counts UTF-8 bytes, the
  * payload slice is byte-addressed, and the HTTP body cross-check
  * compares byte counts, so non-ASCII documents (the overwhelming
  * majority of a real CommonCrawl dump) round-trip losslessly. The
  * record HEADER block stays ASCII by spec (field names, URIs, dates);
  * document text flows only through the byte-counted payload. The one
  * remaining loud refusal is an unpaired UTF-16 surrogate: Java's
  * `getBytes(UTF_8)` would silently substitute '?' for it (corrupting
  * the corpus while every Content-Length still lined up), so the writer
  * rejects malformed UTF-16 at the source instead.
  */
private[graft] object Warc {

  final case class WarcRecord(warcType: String, recordId: String,
      contentLength: Int, payload: Array[Byte],
      headers: Map[String, String])

  private val CRLF = "\r\n"

  /** Deterministic non-ASCII decoration the crawl-tier queries (q169,
    * q174) append to every document: em-dash + Latin-1 + CJK + a dingbat
    * cover 2- and 3-byte UTF-8 widths (all BMP, so Java UTF-16 length ≡
    * code-point count ≡ DuckDB `length`). The fixture corpus is ASCII;
    * a real CommonCrawl dump is overwhelmingly not — this makes every
    * crawl-tier hash match a proof that multi-byte text round-trips the
    * octet-counted format losslessly.
    */
  val NonAsciiProbe: String = " — naïve 東京 ✓"

  /** UTF-8 octet count of a string — the number every Content-Length in
    * the format carries (the oracle's `octet_length`).
    */
  def octets(s: String): Int = s.getBytes(UTF_8).length

  /** HTML entity-escaping for text embedded in the page body — without
    * it, document text containing '<x>' or '</main>' would be silently
    * eaten by the tag-stripping extractor (markup injection, the classic
    * round-trip corruption). The oracle applies the same three replaces
    * in SQL. Order matters: '&' first, or the escapes double-escape.
    */
  def escapeHtml(text: String): String =
    text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")

  private def unescapeHtml(s: String): String =
    s.replace("&gt;", ">").replace("&lt;", "<").replace("&amp;", "&")

  /** The deterministic HTML page for a doc — must stay byte-identical
    * to the SQL template in q169's oracle (which escapes the text with
    * the same replace chain).
    */
  def htmlFor(docId: Long, text: String): String =
    s"<html><head><title>doc $docId</title></head><body><nav>nav links" +
      s"</nav><main><p>${escapeHtml(text)}</p></main><footer>footer</footer></body></html>"

  /** Paragraph width of the q217 rich-page fixture (words per `<p>`). */
  val ParaWords = 25

  /** The boilerplate-heavy page for q217: the doc text (probe-suffixed
    * by the caller) chunked into [[ParaWords]]-word paragraphs inside
    * an `<article>`, surrounded by the chrome a real crawl page carries
    * — a nav of links, a thin header, a link-dense related rail, a
    * short note, a footer. Every chrome block is deterministically
    * classifiable (link-dense or under the word bar); paragraphs are
    * content iff they hold ≥ MinContentWords words — the tail chunk
    * often does not, so both classes stay populated (asserted in the
    * spec). The q217 oracle re-derives this structure arithmetically;
    * keep the two in lockstep.
    */
  def richPageFor(docId: Long, text: String): String = {
    val words = text.split(" ").filter(_.nonEmpty)
    val paras = words.grouped(ParaWords)
      .map(ws => s"<p>${escapeHtml(ws.mkString(" "))}</p>").mkString
    s"<html><head><title>doc $docId</title><style>body{margin:0}</style></head><body>" +
      s"""<nav><a href="/">home</a> <a href="/arch">archive $docId</a> <a href="/tags">tags</a></nav>""" +
      "<header>site banner</header>" +
      s"<article>$paras</article>" +
      """<aside>related: <a href="/r1">link one</a> <a href="/r2">link two</a> <a href="/r3">link three</a> promo</aside>""" +
      "<div><p>short note</p></div>" +
      """<footer>copyright footer <a href="/privacy">privacy</a> terms</footer></body></html>"""
  }

  /** The HTTP/1.1 response message wrapping the HTML (the WARC record's
    * payload; its length is the record's Content-Length). The HTTP
    * Content-Length counts the body's UTF-8 OCTETS (RFC 9110 §8.6 —
    * octets, never characters), matching `octet_length(html)` on the
    * oracle side.
    */
  def httpResponseFor(html: String): String =
    s"HTTP/1.1 200 OK${CRLF}Content-Type: text/html; charset=utf-8$CRLF" +
      s"Content-Length: ${octets(html)}$CRLF$CRLF$html"

  private def record(warcType: String, recordId: String,
      extraHeaders: Seq[(String, String)], payload: Array[Byte]): Array[Byte] = {
    val head = (Seq(
      "WARC/1.0",
      s"WARC-Type: $warcType",
      s"WARC-Record-ID: <$recordId>",
      "WARC-Date: 2026-01-01T00:00:00Z") ++
      extraHeaders.map { case (k, v) => s"$k: $v" } ++
      Seq(s"Content-Length: ${payload.length}", "", "")).mkString(CRLF)
    // the header BLOCK is ASCII by spec — but getBytes(US_ASCII) would
    // silently '?'-mangle a non-ASCII metadata value (e.g. a q174
    // sidecar header), the exact corruption class the octet discipline
    // exists to prevent; refuse loudly instead (r11 review finding)
    require(head.forall(_ < 128),
      s"record $recordId: non-ASCII in the WARC header block — header " +
        "values must be ASCII (encode metadata, don't mangle it)")
    val out = new ByteArrayOutputStream()
    out.write(head.getBytes(US_ASCII))
    out.write(payload)
    out.write(s"$CRLF$CRLF".getBytes(US_ASCII))
    out.toByteArray
  }

  /** One WARC file: warcinfo + a response record per (doc_id, text). */
  def build(docs: Seq[(Long, String)]): Array[Byte] =
    buildTagged(docs.map { case (id, t) => (id, t, Nil) })

  /** Loud, not lossy: `getBytes(UTF_8)` silently substitutes '?' for an
    * unpaired surrogate — the corpus would corrupt while every
    * byte-counted Content-Length kept lining up. Reject malformed UTF-16
    * at the write instead (the r10 ASCII-mangling stance, carried over
    * to the one case UTF-8 itself cannot represent).
    */
  private def requireEncodable(id: Long, text: String): Unit = {
    var i = 0
    while (i < text.length) {
      val c = text.charAt(i)
      if (Character.isHighSurrogate(c)) {
        require(i + 1 < text.length && Character.isLowSurrogate(text.charAt(i + 1)),
          s"doc $id: unpaired high surrogate at char $i cannot encode to UTF-8")
        i += 2
      } else {
        require(!Character.isLowSurrogate(c),
          s"doc $id: unpaired low surrogate at char $i cannot encode to UTF-8")
        i += 1
      }
    }
  }

  /** [[build]] with per-doc extra WARC headers — the metadata sidecar a
    * real crawl carries in the record header block (q174 threads lang
    * and source through `WARC-Graft-*` headers instead of re-joining
    * the corpus for them downstream).
    *
    * Takes an ITERATOR-compatible input and writes each record to the
    * output buffer as it streams (r12): the writer never holds the
    * shard's rows — only the one record in flight plus the file bytes
    * being produced, which ARE the artifact (a production pack writes
    * the same bytes to an output stream; the in-memory array is this
    * sandbox's stand-in for that file handle).
    */
  def buildTagged(
      docs: IterableOnce[(Long, String, Seq[(String, String)])]): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write(record("warcinfo", "urn:warcinfo:graft", Nil,
      s"software: graft$CRLF".getBytes(US_ASCII)))
    docs.iterator.foreach { case (id, text, extra) =>
      requireEncodable(id, text)
      val http = httpResponseFor(htmlFor(id, text))
      out.write(record("response", s"urn:doc:$id",
        Seq("WARC-Target-URI" -> s"http://example.org/doc/$id",
          "Content-Type" -> "application/http;msgtype=response") ++ extra,
        http.getBytes(UTF_8)))
    }
    out.toByteArray
  }

  /** One parsed response record, post-validation: doc id (from the
    * record id), the WARC Content-Length (octets), the HTML, the
    * extracted main text, and the raw record headers. The SINGLE
    * extraction loop shared by q169 and the q174 pipeline.
    */
  final case class Extracted(docId: Long, contentLength: Long,
      html: String, text: String, headers: Map[String, String])

  def responses(bytes: Array[Byte]): Seq[Extracted] =
    parse(bytes).filter(_.warcType == "response").map { r =>
      val html = httpBody(r.payload)
      Extracted(r.recordId.stripPrefix("urn:doc:").toLong,
        r.contentLength.toLong, html, extractMain(html), r.headers)
    }

  private def indexOfCrlfCrlf(b: Array[Byte], from: Int): Int = {
    var i = from
    while (i + 3 < b.length) {
      if (b(i) == '\r' && b(i + 1) == '\n' && b(i + 2) == '\r' && b(i + 3) == '\n')
        return i
      i += 1
    }
    -1
  }

  /** Streaming parse of a whole WARC file into its records. The header
    * block is ASCII by spec; Content-Length counts payload OCTETS, so
    * the payload slice is byte-addressed and UTF-8-agnostic.
    */
  def parse(bytes: Array[Byte]): Seq[WarcRecord] = {
    val records = Seq.newBuilder[WarcRecord]
    var p = 0
    while (p < bytes.length) {
      val hEnd = indexOfCrlfCrlf(bytes, p)
      require(hEnd >= 0, s"no header terminator after offset $p")
      val headerBlock = new String(bytes, p, hEnd - p, US_ASCII)
      val lines = headerBlock.split(CRLF)
      require(lines.headOption.contains("WARC/1.0"),
        s"bad WARC version line at offset $p: '${lines.headOption.getOrElse("")}'")
      val headers = lines.tail.map { l =>
        val i = l.indexOf(':')
        require(i > 0, s"malformed WARC header '$l'")
        l.substring(0, i).trim -> l.substring(i + 1).trim
      }.toMap
      val len = headers.getOrElse("Content-Length",
        sys.error(s"record at $p missing Content-Length")).toInt
      val payloadStart = hEnd + 4
      require(payloadStart + len <= bytes.length,
        s"truncated payload at offset $payloadStart (want $len bytes)")
      val payload =
        java.util.Arrays.copyOfRange(bytes, payloadStart, payloadStart + len)
      val sep = payloadStart + len
      require(sep + 4 <= bytes.length &&
        bytes(sep) == '\r' && bytes(sep + 1) == '\n' &&
        bytes(sep + 2) == '\r' && bytes(sep + 3) == '\n',
        s"missing record separator after payload at $sep")
      records += WarcRecord(
        headers.getOrElse("WARC-Type", "?"),
        headers.getOrElse("WARC-Record-ID", "?").stripPrefix("<").stripSuffix(">"),
        len, payload, headers)
      p = sep + 4
    }
    records.result()
  }

  /** Split an HTTP message into (status line, headers, body) and return
    * the body; validates the HTTP Content-Length (OCTETS, per RFC 9110)
    * against the actual body byte count (a real parser's cross-check,
    * not trust), then decodes the body as UTF-8.
    */
  def httpBody(payload: Array[Byte]): String = {
    val hEnd = indexOfCrlfCrlf(payload, 0)
    require(hEnd >= 0, "no HTTP header terminator")
    val head = new String(payload, 0, hEnd, US_ASCII)
    val lines = head.split(CRLF)
    require(lines.head.startsWith("HTTP/1.1 200"), s"unexpected status '${lines.head}'")
    val cl = lines.tail.collectFirst {
      case l if l.toLowerCase.startsWith("content-length:") =>
        l.substring(l.indexOf(':') + 1).trim.toInt
    }.getOrElse(sys.error("HTTP message missing Content-Length"))
    val bodyBytes = payload.length - hEnd - 4
    require(bodyBytes == cl,
      s"HTTP Content-Length $cl != body octet count $bodyBytes")
    new String(payload, hEnd + 4, bodyBytes, UTF_8)
  }

  /** Main-content extraction: the `<main>` subtree with tags stripped —
    * boilerplate (nav/footer/head) never reaches the corpus. Anchored,
    * not a generic boilerplate classifier: the synthetic pages are
    * regular; production swaps in a trafilatura-style extractor at the
    * same seam.
    */
  def extractMain(html: String): String = {
    val a = html.indexOf("<main>")
    val b = html.indexOf("</main>")
    require(a >= 0 && b > a, "no <main> element")
    unescapeHtml(html.substring(a + 6, b).replaceAll("<[^>]*>", ""))
  }
}
