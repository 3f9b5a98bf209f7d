package graft.streaming

import graft.streaming.AnsModel.Tag

/** Open-schema ("modify only what you understand, preserve the rest")
  * tag append over a RAW ANS JSON document — the reference's real
  * write-back contract (washingtonpost/arc-kinesis-tagging `tag.py:64`:
  * the fetched document goes back to the store WHOLE, with only
  * `taxonomy.tags` touched; SURVEY §1.3's raw-JSON passthrough). ANS
  * schemas evolve; a consumer that round-trips documents through a
  * typed model silently drops every field the model has never heard
  * of. This splicer edits the raw TEXT instead: it parses just enough
  * JSON to locate the `taxonomy.tags` subtree and inserts the tag as ONE
  * contiguous splice, leaving every other byte of the document untouched
  * (pinned byte-level in ReferenceSemanticsSpec, PropertySpec, and the
  * q189 oracle). q189's `JsonTagAppend` and `JsonSchemaProfile` run it;
  * the tag sink's HTTP write-back keeps undeclared members through
  * `AnsJson.write` instead, member for member rather than byte for byte.
  *
  * Splice contract (deterministic — the q189 oracle recomputes it):
  *  - tag already present (any `taxonomy.tags` element whose `slug`
  *    equals the tag's, compared UNESCAPED) → the input string itself
  *    is returned (reference identity; the idempotence `tag.py:39-40`
  *    intends);
  *  - `taxonomy.tags` is an array → insert the tag's canonical JSON
  *    immediately before the closing `]`, preceded by `,` iff the
  *    array has elements;
  *  - taxonomy object without `tags` → add `"tags":[tag]` before the
  *    taxonomy's closing `}` (comma iff non-empty); `tags: null`
  *    (an understood subtree) → replace the `null` with `[tag]`;
  *  - no `taxonomy` member (or `taxonomy: null`) → add
  *    `"taxonomy":{"tags":[tag]}` at the end of the top-level object;
  *  - anything structurally unexpected — a non-object document, a
  *    `tags` that is neither array nor null, malformed JSON — refuses
  *    LOUDLY: silently overwriting structure the tagger does not
  *    understand is exactly the data loss this contract exists to
  *    prevent. Only a TOP-LEVEL `taxonomy` is ever touched; identical
  *    keys nested deeper (or inside string values) are opaque bytes.
  */
object RawAns {

  private def err(msg: String): Nothing =
    throw new IllegalArgumentException(s"RawAns: $msg")

  private def skipWs(s: String, i0: Int): Int = {
    var i = i0
    while (i < s.length && (s.charAt(i) == ' ' || s.charAt(i) == '\t' ||
      s.charAt(i) == '\n' || s.charAt(i) == '\r')) i += 1
    i
  }

  /** `i0` at the opening quote; returns the index one past the closing
    * quote (escape-aware — a `\"` never terminates).
    */
  private def skipString(s: String, i0: Int): Int = {
    var i = i0 + 1
    while (i < s.length) {
      s.charAt(i) match {
        case '\\' => i += 2
        case '"'  => return i + 1
        case _    => i += 1
      }
    }
    err("unterminated string")
  }

  /** Value start → one past its end: strings, nested containers (with
    * strings inside them skipped whole), numbers and literals.
    */
  private def skipValue(s: String, i0: Int): Int = {
    val i = skipWs(s, i0)
    if (i >= s.length) err("truncated value")
    s.charAt(i) match {
      case '"' => skipString(s, i)
      case '{' | '[' =>
        var depth = 0
        var j = i
        while (j < s.length) {
          s.charAt(j) match {
            case '"' => j = skipString(s, j) - 1
            case '{' | '[' => depth += 1
            case '}' | ']' =>
              depth -= 1
              if (depth == 0) return j + 1
            case _ =>
          }
          j += 1
        }
        err("unbalanced container")
      case _ =>
        var j = i
        while (j < s.length &&
          "+-.eE0123456789truefalsn".indexOf(s.charAt(j)) >= 0) j += 1
        if (j == i) err(s"unexpected character '${s.charAt(i)}'")
        j
    }
  }

  /** JSON string-body unescape (for key/slug comparison — a document
    * may spell the same slug with `\uXXXX` escapes).
    */
  private def unescape(raw: String): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < raw.length) {
      val c = raw.charAt(i)
      if (c == '\\') {
        i += 1
        if (i >= raw.length) err("dangling escape")
        raw.charAt(i) match {
          case '"'  => sb += '"'
          case '\\' => sb += '\\'
          case '/'  => sb += '/'
          case 'b'  => sb += '\b'
          case 'f'  => sb += '\f'
          case 'n'  => sb += '\n'
          case 'r'  => sb += '\r'
          case 't'  => sb += '\t'
          case 'u' =>
            if (i + 4 >= raw.length) err("truncated \\u escape")
            sb += Integer.parseInt(raw.substring(i + 1, i + 5), 16).toChar
            i += 4
          case c2 => err(s"bad escape \\$c2")
        }
      } else sb += c
      i += 1
    }
    sb.toString
  }

  /** One object member: unescaped key + value span [vStart, vEnd). */
  private final case class Member(key: String, vStart: Int, vEnd: Int)

  /** Scan the object at `objStart` ('{'): members + closing-brace index. */
  private def scanObject(s: String, objStart: Int): (List[Member], Int) = {
    if (s.charAt(objStart) != '{') err("expected object")
    val members = List.newBuilder[Member]
    var i = skipWs(s, objStart + 1)
    if (i < s.length && s.charAt(i) == '}') return (members.result(), i)
    while (true) {
      if (i >= s.length || s.charAt(i) != '"') err("expected member key")
      val keyEnd = skipString(s, i)
      val key = unescape(s.substring(i + 1, keyEnd - 1))
      var j = skipWs(s, keyEnd)
      if (j >= s.length || s.charAt(j) != ':') err("expected ':' after key")
      val vStart = skipWs(s, j + 1)
      val vEnd = skipValue(s, vStart)
      members += Member(key, vStart, vEnd)
      j = skipWs(s, vEnd)
      if (j >= s.length) err("unterminated object")
      s.charAt(j) match {
        case ',' => i = skipWs(s, j + 1)
        case '}' => return (members.result(), j)
        case c   => err(s"unexpected '$c' in object")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Scan the array at `arrStart` ('['): element spans + closing-bracket
    * index.
    */
  private def scanArray(s: String, arrStart: Int): (List[(Int, Int)], Int) = {
    if (s.charAt(arrStart) != '[') err("expected array")
    val elems = List.newBuilder[(Int, Int)]
    var i = skipWs(s, arrStart + 1)
    if (i < s.length && s.charAt(i) == ']') return (elems.result(), i)
    while (true) {
      val vEnd = skipValue(s, i)
      elems += ((skipWs(s, i), vEnd))
      val j = skipWs(s, vEnd)
      if (j >= s.length) err("unterminated array")
      s.charAt(j) match {
        case ',' => i = skipWs(s, j + 1)
        case ']' => return (elems.result(), j)
        case c   => err(s"unexpected '$c' in array")
      }
    }
    throw new IllegalStateException("unreachable")
  }

  /** Minimal JSON string quoting for the inserted tag. */
  private def quote(v: String): String = {
    val sb = new StringBuilder("\"")
    v.foreach {
      case '"'          => sb.append("\\\"")
      case '\\'         => sb.append("\\\\")
      case c if c < ' ' => sb.append(f"\\u${c.toInt}%04x")
      case c            => sb.append(c)
    }
    sb.append('"').toString
  }

  /** The tag's canonical JSON form (`tag.py:60-61`'s two-field shape). */
  def tagJson(tag: Tag): String =
    s"""{"slug":${quote(tag.slug)},"text":${quote(tag.text)}}"""

  private def isNull(s: String, m: Member): Boolean =
    s.substring(m.vStart, m.vEnd) == "null"

  /** JSON type tag of the value starting at `i` (first non-ws char). */
  private def typeOf(s: String, i: Int): String = s.charAt(i) match {
    case '"' => "string"
    case '{' => "object"
    case '[' => "array"
    case 't' | 'f' => "boolean"
    case 'n' => "null"
    case _ => "number"
  }

  /** SCHEMA-DRIFT PROFILE of one raw document: (path, type) for every
    * top-level member and — one level down — every member of an
    * object-valued top-level member ("parent.child"). This is how an
    * open-schema consumer SEES an evolving producer (the q03/q04
    * declared read + q189 preserving write + this measuring profile are
    * the three legs of the open-schema discipline): a new field, a
    * removed field, or a type change shows up as a (path, type) row
    * appearing/disappearing/splitting in the corpus rollup. Keys are
    * UNESCAPED (the same comparison rule the splicer uses); malformed
    * documents refuse loudly.
    */
  def profile(json: String): Seq[(String, String)] = {
    val start = skipWs(json, 0)
    if (start >= json.length || json.charAt(start) != '{')
      err("document is not a JSON object")
    val (top, topClose) = scanObject(json, start)
    if (skipWs(json, topClose + 1) != json.length)
      err("trailing content after the document object")
    top.flatMap { m =>
      val t = typeOf(json, m.vStart)
      (m.key, t) +: (if (t == "object")
        scanObject(json, m.vStart)._1.map(c =>
          (m.key + "." + c.key, typeOf(json, c.vStart)))
      else Nil)
    }
  }

  /** Append `tag` to the raw document iff absent — see the object
    * scaladoc for the full splice contract. Returns the INPUT STRING
    * (reference-identical) when the tag is already present.
    */
  def appendTagIfAbsent(json: String, tag: Tag): String = {
    val start = skipWs(json, 0)
    if (start >= json.length || json.charAt(start) != '{')
      err("document is not a JSON object")
    val (top, topClose) = scanObject(json, start)
    if (skipWs(json, topClose + 1) != json.length)
      err("trailing content after the document object")
    val ins = tagJson(tag)
    def splice(at: Int, what: String): String =
      json.substring(0, at) + what + json.substring(at)
    top.find(_.key == "taxonomy") match {
      case None =>
        splice(topClose,
          (if (top.nonEmpty) "," else "") + "\"taxonomy\":{\"tags\":[" + ins + "]}")
      case Some(tax) if isNull(json, tax) =>
        json.substring(0, tax.vStart) + "{\"tags\":[" + ins + "]}" +
          json.substring(tax.vEnd)
      case Some(tax) =>
        if (json.charAt(tax.vStart) != '{')
          err("taxonomy is neither an object nor null — refusing to overwrite")
        val (taxMembers, taxClose) = scanObject(json, tax.vStart)
        taxMembers.find(_.key == "tags") match {
          case None =>
            splice(taxClose,
              (if (taxMembers.nonEmpty) "," else "") + "\"tags\":[" + ins + "]")
          case Some(tags) if isNull(json, tags) =>
            json.substring(0, tags.vStart) + "[" + ins + "]" +
              json.substring(tags.vEnd)
          case Some(tags) =>
            if (json.charAt(tags.vStart) != '[')
              err("taxonomy.tags is neither an array nor null — refusing to overwrite")
            val (elems, arrClose) = scanArray(json, tags.vStart)
            val present = elems.exists { case (a, _) =>
              json.charAt(a) == '{' && scanObject(json, a)._1.exists(m =>
                m.key == "slug" && json.charAt(m.vStart) == '"' &&
                  unescape(json.substring(m.vStart + 1, m.vEnd - 1)) == tag.slug)
            }
            if (present) json
            else splice(arrClose, (if (elems.nonEmpty) "," else "") + ins)
        }
    }
  }
}
