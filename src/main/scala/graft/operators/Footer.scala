package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Parquet FOOTER reader — the metadata surface a 100 TB table's query
  * planner actually consumes (row-group pruning, stats-based skipping,
  * size-based split planning all read the footer, never the data), as an
  * in-engine, pure-JDK implementation of the published format: the file
  * tail is `[FileMetaData (thrift compact protocol)] [len: 4-byte LE]
  * ["PAR1"]` (parquet-format THRIFT spec + the thrift compact-protocol
  * spec). The q220 USTAR / q169 WARC discipline applied to the engine's
  * OWN storage format: byte-level, loud on malformed input, verified
  * against an independent implementation — the DuckDB oracle recomputes
  * every data-derivable fact (value counts, null counts, min/max) from
  * the DATA, so the hash match proves the thrift walk AND that the
  * footers carry exact statistics.
  *
  * Scale shape: footers are read one ranged tail-read per file in a
  * distributed map (no data pages touched — the whole point; a 100 TB
  * table's planning reads MBs, not TBs), and the output is
  * schema-bounded (one row per leaf column).
  *
  * Audit scope: leaf columns at depth 1 whose physical type is
  * INT32/INT64 with no non-integer logical annotation, or BYTE_ARRAY
  * with the String logical type — the types whose statistics render
  * identically from the footer (plain-encoded LE ints / UTF-8 bytes)
  * and from SQL (`CAST(MIN(col) AS VARCHAR)`). DOUBLE/FLOAT (IEEE repr
  * drift) and TIMESTAMP/DATE (epoch-int vs rendered-string) are
  * excluded by the same predicate on BOTH sides, so scope itself is
  * part of the checked contract.
  */
object Footer extends QueryGroup {

  /** One audited column-chunk statistic, aggregated across row groups. */
  case class ColStat(tbl: String, column: String, physical: String,
      codec: String, n_values: Long, null_count: Long,
      min_value: String, max_value: String)

  // ---- thrift compact protocol ---------------------------------------

  /** Minimal compact-protocol reader: varints, zigzag, field headers,
    * and skip for every wire type — enough to walk any struct while
    * capturing only the fields the audit needs (unknown/new fields skip
    * cleanly, the format's own forward-compat contract).
    */
  private final class CompactReader(buf: Array[Byte]) {
    var p = 0
    def u8(): Int = { val b = buf(p) & 0xff; p += 1; b }
    def varint(): Long = {
      var x = 0L; var sh = 0; var b = 0
      do { b = u8(); x |= (b & 0x7fL) << sh; sh += 7 } while ((b & 0x80) != 0)
      x
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1L) }
    def bytes(): Array[Byte] = {
      val n = varint().toInt
      val a = java.util.Arrays.copyOfRange(buf, p, p + n); p += n; a
    }
    def str(): String = new String(bytes(), "UTF-8")
    def listHeader(): (Int, Int) = { // (elemType, size)
      val b = u8()
      val t = b & 0x0f
      val s0 = (b >>> 4) & 0x0f
      (t, if (s0 == 15) varint().toInt else s0)
    }
    def skip(tpe: Int): Unit = tpe match {
      case 1 | 2 => () // bool value rides the field-header type nibble
      case 3      => p += 1
      case 4 | 5 | 6 => zigzag()
      case 7      => p += 8
      case 8      => { val n = varint().toInt; p += n }
      case 9 | 10 =>
        val (et, n) = listHeader()
        // bool LIST elements (unlike struct-field bools, whose value
        // rides the field-header nibble) occupy one byte each in the
        // compact protocol — the generic skip(1|2)=0 would silently
        // desync the walk on a list<bool> field
        if (et == 1 || et == 2) p += n
        else { var i = 0; while (i < n) { skip(et); i += 1 } }
      case 11 =>
        val b = u8()
        if (b != 0) { // non-empty map: size was the varint before types
          // compact maps: varint size, then one byte (kt<<4|vt) — we read
          // the first byte already as part of size; re-read properly:
          // (maps never appear in parquet footers; loud is better)
          throw new IllegalStateException("parquet footer: unexpected thrift map")
        }
      case 12 => skipStruct()
      case t  => throw new IllegalStateException(s"thrift compact: bad type $t")
    }
    def skipStruct(): Unit = {
      var lastId = 0
      var b = u8()
      while (b != 0) {
        val t = b & 0x0f
        val delta = (b >>> 4) & 0x0f
        lastId = if (delta != 0) lastId + delta else zigzag().toInt
        skip(t)
        b = u8()
      }
    }
    /** Walk one struct, calling `f(fieldId, wireType)` per field; `f`
      * must consume the value (or call skip). */
    def struct(f: (Int, Int) => Unit): Unit = {
      var lastId = 0
      var b = u8()
      while (b != 0) {
        val t = b & 0x0f
        val delta = (b >>> 4) & 0x0f
        lastId = if (delta != 0) lastId + delta else zigzag().toInt
        f(lastId, t)
        b = u8()
      }
    }
  }

  // ---- footer model ---------------------------------------------------

  private[graft] case class SchemaLeaf(name: String, physical: Int,
      logicalUnion: Int, depth: Int, // logicalUnion: -1 none, else union id
      repetition: Int = 1, // 0 required, 1 optional, 2 repeated
      // Dremel level widths: optional/repeated ancestors + self (q258)
      maxDef: Int = 1, maxRep: Int = 0,
      // ancestor group names root-first, excluding the root and self —
      // the path_in_schema prefix that names WHICH list a depth-3
      // 'element' leaf belongs to (r14 ADVICE: first-match resolution
      // decoded the wrong column on multi-LIST files)
      path: Seq[String] = Seq.empty)

  private[graft] case class ChunkStats(codec: Int, numValues: Long,
      nullCount: Long, minV: Array[Byte], maxV: Array[Byte],
      encodings: Seq[Int], dataPageOffset: Long = -1L,
      dictPageOffset: Long = -1L, totalCompressedSize: Long = -1L,
      bloomOffset: Long = -1L, bloomLength: Int = -1,
      // q257: the page-index locations (fields of ColumnChunk, not
      // ColumnMetaData — parquet-mr writes both indexes by default)
      offsetIndexOffset: Long = -1L, offsetIndexLength: Int = -1,
      columnIndexOffset: Long = -1L, columnIndexLength: Int = -1)

  private val PhysicalNames = Map(0 -> "BOOLEAN", 1 -> "INT32", 2 -> "INT64",
    3 -> "INT96", 4 -> "FLOAT", 5 -> "DOUBLE", 6 -> "BYTE_ARRAY",
    7 -> "FIXED_LEN_BYTE_ARRAY")
  private val CodecNames = Map(0 -> "UNCOMPRESSED", 1 -> "SNAPPY", 2 -> "GZIP",
    3 -> "LZO", 4 -> "BROTLI", 5 -> "LZ4", 6 -> "ZSTD", 7 -> "LZ4_RAW")
  // LogicalType union field ids (parquet-format): 1 STRING ... 8 TIMESTAMP
  private val LogicalString = 1
  private val LogicalInteger = 10

  private def leLong(b: Array[Byte]): Long = {
    require(b.length == 8, s"INT64 stat must be 8 bytes, got ${b.length}")
    java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getLong
  }
  private def leInt(b: Array[Byte]): Int = {
    require(b.length == 4, s"INT32 stat must be 4 bytes, got ${b.length}")
    java.nio.ByteBuffer.wrap(b)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
  }

  /** Read + parse one file's footer into audited column stats. */
  private[graft] def readFooter(tbl: String, path: String): Seq[ColStat] =
    aggregate(tbl, path, parseFooter(path))

  /** The raw parse: schema leaves in DFS order + per-leaf column-chunk
    * stats, ONE inner list entry per row group — exposed so the spec can
    * pin the multi-row-group accumulation path on a parquet-mr-written
    * file (a different footer writer than the testdata's arrow one).
    */
  private[graft] def parseFooter(path: String)
      : (Seq[SchemaLeaf], Seq[Seq[ChunkStats]]) = {
    footerReads.incrementAndGet() // q268: the zero-reads-when-warm pin
    val raf = new java.io.RandomAccessFile(path, "r")
    val meta = try {
      val len = raf.length()
      require(len > 12, s"$path: too short to be parquet")
      val tail = new Array[Byte](8)
      raf.seek(len - 8); raf.readFully(tail)
      require(new String(tail, 4, 4, "US-ASCII") == "PAR1",
        s"$path: missing PAR1 tail magic")
      val fLen = java.nio.ByteBuffer.wrap(tail, 0, 4)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN).getInt
      require(fLen > 0 && fLen <= len - 12, s"$path: bad footer length $fLen")
      val buf = new Array[Byte](fLen)
      raf.seek(len - 8 - fLen); raf.readFully(buf)
      buf
    } finally raf.close()

    val r = new CompactReader(meta)
    val leaves = scala.collection.mutable.ArrayBuffer.empty[SchemaLeaf]
    // one entry per column chunk, accumulated across row groups by index
    val chunks = scala.collection.mutable.ArrayBuffer
      .empty[scala.collection.mutable.ArrayBuffer[ChunkStats]]

    // stack entry = remaining child slots of each open group; an element
    // consumes one slot of its parent, a group then opens its own count,
    // and exhausted groups pop as soon as their last DESCENDANT leaf lands
    def parseSchemaElement(
        stack: scala.collection.mutable.ArrayBuffer[Int],
        // parallel stack: (def level, rep level) accumulated by each
        // open group — optional adds 1 to def, repeated to both (Dremel)
        lvls: scala.collection.mutable.ArrayBuffer[(Int, Int)],
        // parallel stack of open group NAMES (root excluded) — each
        // leaf's ancestor path, so multi-LIST files resolve exactly
        names: scala.collection.mutable.ArrayBuffer[String],
        isRoot: Boolean): Unit = {
      var physical = -1; var name = ""; var nChildren = 0
      var logical = -1; var repetition = 1
      r.struct { (id, t) =>
        (id, t) match {
          case (1, _)  => physical = r.zigzag().toInt
          case (3, _)  => repetition = r.zigzag().toInt
          case (4, 8)  => name = r.str()
          case (5, _)  => nChildren = r.zigzag().toInt
          case (10, 12) => // LogicalType: a union — capture the member id
            r.struct { (uid, ut) => logical = uid; r.skip(ut) }
          case _       => r.skip(t)
        }
      }
      if (isRoot) {
        require(nChildren > 0, s"$path: schema root has no children")
        stack += nChildren
        lvls += ((0, 0))
      } else {
        val depth = stack.length
        require(depth > 0, s"$path: schema element '$name' outside the tree")
        stack(stack.length - 1) -= 1
        val (pd, pr) = lvls.last
        val d = pd + (if (repetition != 0) 1 else 0)
        val rep = pr + (if (repetition == 2) 1 else 0)
        if (nChildren > 0) { stack += nChildren; lvls += ((d, rep)); names += name }
        else {
          leaves += SchemaLeaf(name, physical, logical, depth, repetition,
            d, rep, names.toSeq)
          while (stack.nonEmpty && stack.last == 0) {
            stack.remove(stack.length - 1)
            lvls.remove(lvls.length - 1)
            if (names.nonEmpty) names.remove(names.length - 1)
          }
        }
      }
    }

    def parseStatistics(): (Long, Array[Byte], Array[Byte]) = {
      var nulls = 0L; var minV: Array[Byte] = null; var maxV: Array[Byte] = null
      r.struct { (id, t) =>
        (id, t) match {
          case (3, _) => nulls = r.zigzag()
          case (5, 8) => maxV = r.bytes()
          case (6, 8) => minV = r.bytes()
          case _      => r.skip(t)
        }
      }
      (nulls, minV, maxV)
    }

    def parseColumnMeta(): ChunkStats = {
      var codec = -1; var nv = -1L; var nulls = 0L
      var minV: Array[Byte] = null; var maxV: Array[Byte] = null
      var encs = Seq.empty[Int]
      var dataOff = -1L; var dictOff = -1L; var tcs = -1L
      var bloomOff = -1L; var bloomLen = -1
      r.struct { (id, t) =>
        (id, t) match {
          case (2, 9) => // encodings: list<Encoding enum>
            val (et, n) = r.listHeader()
            require(et == 5 || et == 6, s"$path: encodings list of type $et")
            encs = (0 until n).map(_ => r.zigzag().toInt)
          case (4, _)   => codec = r.zigzag().toInt
          case (5, _)   => nv = r.zigzag()
          case (7, _)   => tcs = r.zigzag()
          case (9, _)   => dataOff = r.zigzag()
          case (11, _)  => dictOff = r.zigzag()
          case (12, 12) =>
            val (n, mn, mx) = parseStatistics()
            nulls = n; minV = mn; maxV = mx
          case (14, _)  => bloomOff = r.zigzag() // q256: SBBF location
          case (15, _)  => bloomLen = r.zigzag().toInt
          case _        => r.skip(t)
        }
      }
      ChunkStats(codec, nv, nulls, minV, maxV, encs, dataOff, dictOff, tcs,
        bloomOff, bloomLen)
    }

    def parseColumnChunk(idx: Int): Unit = {
      var st: ChunkStats = null
      var oiOff = -1L; var oiLen = -1; var ciOff = -1L; var ciLen = -1
      r.struct { (id, t) =>
        (id, t) match {
          case (3, 12) => st = parseColumnMeta()
          case (4, _)  => oiOff = r.zigzag()
          case (5, _)  => oiLen = r.zigzag().toInt
          case (6, _)  => ciOff = r.zigzag()
          case (7, _)  => ciLen = r.zigzag().toInt
          case _       => r.skip(t)
        }
      }
      require(st != null, s"$path: column chunk $idx carries no metadata")
      while (chunks.length <= idx)
        chunks += scala.collection.mutable.ArrayBuffer.empty[ChunkStats]
      chunks(idx) += st.copy(offsetIndexOffset = oiOff,
        offsetIndexLength = oiLen, columnIndexOffset = ciOff,
        columnIndexLength = ciLen)
    }

    r.struct { (id, t) =>
      (id, t) match {
        case (2, 9) => // schema: list<SchemaElement>
          val (et, n) = r.listHeader()
          require(et == 12, s"$path: schema list of type $et")
          val stack = scala.collection.mutable.ArrayBuffer.empty[Int]
          val lvls = scala.collection.mutable.ArrayBuffer.empty[(Int, Int)]
          val names = scala.collection.mutable.ArrayBuffer.empty[String]
          var i = 0
          while (i < n) {
            parseSchemaElement(stack, lvls, names, isRoot = i == 0); i += 1
          }
        case (4, 9) => // row_groups: list<RowGroup>
          val (et, n) = r.listHeader()
          require(et == 12, s"$path: row_groups list of type $et")
          var g = 0
          while (g < n) {
            r.struct { (gid, gt) =>
              (gid, gt) match {
                case (1, 9) => // columns: list<ColumnChunk>
                  val (cet, cn) = r.listHeader()
                  require(cet == 12, s"$path: columns list of type $cet")
                  var c = 0
                  while (c < cn) { parseColumnChunk(c); c += 1 }
                case _ => r.skip(gt)
              }
            }
            g += 1
          }
        case _ => r.skip(t)
      }
    }

    require(leaves.nonEmpty, s"$path: footer carries no schema leaves")
    require(chunks.length == leaves.length,
      s"$path: ${chunks.length} chunk columns vs ${leaves.length} schema leaves")
    (leaves.toSeq, chunks.map(_.toSeq).toSeq)
  }

  private def aggregate(tbl: String, path: String,
      parsed: (Seq[SchemaLeaf], Seq[Seq[ChunkStats]])): Seq[ColStat] = {
    val (leaves, chunks) = parsed
    leaves.zipWithIndex.flatMap { case (leaf, i) =>
      val audited = leaf.depth == 1 && (leaf.physical match {
        case 1 | 2 => leaf.logicalUnion == -1 || leaf.logicalUnion == LogicalInteger
        case 6     => leaf.logicalUnion == LogicalString
        case _     => false
      })
      if (!audited) None
      else {
        val parts = chunks(i)
        require(parts.forall(p => p.minV != null && p.maxV != null),
          s"$path: column '${leaf.name}' missing min/max statistics — " +
            "a stats-blind audit would advise garbage")
        val codecs = parts.map(_.codec).distinct
        require(codecs.length == 1, s"$path: mixed codecs for '${leaf.name}'")
        def render(b: Array[Byte]): String = leaf.physical match {
          case 1 => leInt(b).toString
          case 2 => leLong(b).toString
          case 6 => new String(b, "UTF-8")
        }
        val (minS, maxS) = leaf.physical match {
          case 6 =>
            // cross-row-group extrema picked in UTF-8 UNSIGNED BYTE
            // order — the order each group's stats were written in
            // (the r15 statsKeep advice, applied at aggregation too:
            // Java String .min/.max compares UTF-16 code units and can
            // pick the wrong envelope across groups on supplementary
            // characters)
            def pick(bs: Seq[Array[Byte]], max: Boolean): Array[Byte] =
              bs.reduce { (a, b) =>
                val c = java.util.Arrays.compareUnsigned(a, b)
                if ((max && c >= 0) || (!max && c <= 0)) a else b
              }
            (render(pick(parts.map(_.minV), max = false)),
              render(pick(parts.map(_.maxV), max = true)))
          case 1 =>
            (parts.map(p => leInt(p.minV)).min.toString,
              parts.map(p => leInt(p.maxV)).max.toString)
          case _ =>
            (parts.map(p => leLong(p.minV)).min.toString,
              parts.map(p => leLong(p.maxV)).max.toString)
        }
        Some(ColStat(tbl, leaf.name, PhysicalNames(leaf.physical),
          CodecNames(codecs.head), parts.map(_.numValues).sum,
          parts.map(_.nullCount).sum, minS, maxS))
      }
    }.toSeq
  }

  /** The Encoding enum values that mark dictionary-encoded data pages
    * (parquet-format): 8 = RLE_DICTIONARY (v2 writers, e.g. arrow) and
    * 2 = PLAIN_DICTIONARY (the parquet-mr v1 writer Spark uses — a v1
    * dictionary page lists PLAIN_DICTIONARY even though the indices are
    * RLE/bit-packed, per the spec's deprecation note).
    */
  private val EncDictionary = Set(8, 2)

  /** Per depth-1 leaf, the writer's CHOSEN data encoding class in q234's
    * model vocabulary: "dict" if any chunk carries a dictionary encoding
    * (either writer generation's enum), else "plain". A driver-side
    * metadata read — exactly how a planner or a table-maintenance job
    * inspects a file's layout (one footer, no data pages). Used by
    * q243's writer-choice audit.
    */
  private[graft] def encodingClasses(path: String): Map[String, String] = {
    val (leaves, chunks) = parseFooter(path)
    leaves.zipWithIndex.collect {
      case (leaf, i) if leaf.depth == 1 =>
        leaf.name -> (if (chunks(i).exists(_.encodings.exists(EncDictionary)))
          "dict" else "plain")
    }.toMap
  }

  // ---- q249: pure-JDK data-PAGE decode ---------------------------------

  /** RLE/bit-packed hybrid reader (parquet-format Encodings.md) — the
    * encoding both definition levels and dictionary indices ride. Fills
    * `n` values of `bitWidth` bits into `out` starting at `buf(p0)` and
    * returns the position after the consumed runs. A bit-packed run may
    * carry padding values past `n` (groups of 8 by spec) — its bytes are
    * consumed, the padding discarded.
    */
  private def readHybrid(buf: Array[Byte], p0: Int, bitWidth: Int,
      n: Int, out: Array[Int]): Int = {
    var p = p0
    def varint(): Long = {
      var x = 0L; var sh = 0; var b = 0
      do { b = buf(p) & 0xff; p += 1; x |= (b & 0x7fL) << sh; sh += 7 }
      while ((b & 0x80) != 0)
      x
    }
    require(bitWidth >= 0 && bitWidth <= 32, s"q249: bad hybrid bit width $bitWidth")
    var filled = 0
    if (bitWidth == 0) { // all-zero indices occupy no run bytes
      java.util.Arrays.fill(out, 0, n, 0); return p
    }
    val byteW = (bitWidth + 7) / 8
    while (filled < n) {
      val h = varint()
      if ((h & 1L) == 0L) { // RLE run: count = h>>1, one fixed-width value
        val run = (h >>> 1).toInt
        require(run > 0, "q249: zero-length RLE run — malformed hybrid stream")
        var v = 0; var i = 0
        while (i < byteW) { v |= (buf(p) & 0xff) << (8 * i); p += 1; i += 1 }
        var k = 0
        while (k < run && filled < n) { out(filled) = v; filled += 1; k += 1 }
      } else { // bit-packed: h>>1 groups of 8 values, LSB-first
        val groups = (h >>> 1).toInt
        require(groups > 0, "q249: zero-length bit-packed run — malformed")
        val cnt = groups * 8
        var bit = 0; var k = 0
        while (k < cnt) {
          if (filled < n) {
            var v = 0; var j = 0
            while (j < bitWidth) {
              v |= ((buf(p + ((bit + j) >> 3)) >> ((bit + j) & 7)) & 1) << j
              j += 1
            }
            out(filled) = v; filled += 1
          }
          bit += bitWidth; k += 1
        }
        p += groups * bitWidth
      }
    }
    p
  }

  // ---- q255: the v2 writer generation's value encodings ----------------

  /** DELTA_BINARY_PACKED (parquet-format Encodings.md, encoding 5) — the
    * v2 writer's integer encoding: a ULEB128 header (block size,
    * miniblocks per block, total count, zigzag first value), then per
    * block a zigzag min-delta, one bit-width byte per miniblock, and the
    * deltas bit-packed LSB-first at each miniblock's width. Returns the
    * decoded values and the position after the stream. Loud on every
    * malformed shape; `expect` cross-checks the stream's own count
    * against the page header's (two sources that must agree).
    */
  private[graft] def readDeltaBinaryPacked(buf: Array[Byte], p0: Int,
      expect: Int): (Array[Long], Int) = {
    var p = p0
    def varint(): Long = {
      var x = 0L; var sh = 0; var b = 0
      do { b = buf(p) & 0xff; p += 1; x |= (b & 0x7fL) << sh; sh += 7 }
      while ((b & 0x80) != 0)
      x
    }
    def zigzag(): Long = { val v = varint(); (v >>> 1) ^ -(v & 1L) }
    val blockSize = varint().toInt
    val miniN = varint().toInt
    require(blockSize > 0 && miniN > 0 && blockSize % miniN == 0,
      s"q255: malformed delta header (block $blockSize / $miniN miniblocks)")
    val perMini = blockSize / miniN
    require(perMini % 8 == 0,
      s"q255: miniblock value count $perMini not a multiple of 8")
    val total = varint().toInt
    require(total == expect,
      s"q255: delta stream declares $total values, page header $expect")
    val out = new Array[Long](total)
    if (total == 0) return (out, p)
    out(0) = zigzag()
    var filled = 1
    while (filled < total) {
      val minDelta = zigzag()
      val widths = new Array[Int](miniN)
      var i = 0
      while (i < miniN) { widths(i) = buf(p) & 0xff; p += 1; i += 1 }
      var m = 0
      while (m < miniN && filled < total) {
        val w = widths(m)
        require(w <= 64, s"q255: delta bit width $w > 64 — malformed")
        var k = 0
        while (k < perMini) {
          if (filled < total) {
            var v = 0L; var j = 0
            val bit = k * w
            while (j < w) {
              v |= ((buf(p + ((bit + j) >> 3)) >> ((bit + j) & 7)) & 1L) << j
              j += 1
            }
            out(filled) = out(filled - 1) + minDelta + v
            filled += 1
          }
          k += 1
        }
        p += perMini * w / 8 // a started miniblock is written in full
        m += 1
      } // unstarted trailing miniblocks are NOT written — stop consuming
    }
    (out, p)
  }

  /** DELTA_LENGTH_BYTE_ARRAY (encoding 6): all lengths as one
    * DELTA_BINARY_PACKED stream, then the concatenated value bytes.
    */
  private[graft] def readDeltaLengthByteArray(buf: Array[Byte], p0: Int,
      n: Int): (Array[Array[Byte]], Int) = {
    val (lens, p1) = readDeltaBinaryPacked(buf, p0, n)
    var p = p1
    val out = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      val len = lens(i).toInt
      require(len >= 0 && p + len <= buf.length,
        s"q255: byte-array length $len overruns the values section")
      out(i) = java.util.Arrays.copyOfRange(buf, p, p + len)
      p += len; i += 1
    }
    (out, p)
  }

  /** DELTA_BYTE_ARRAY (encoding 7) — the v2 writer's string encoding
    * (incremental/front coding): shared-prefix lengths as one delta
    * stream, suffixes as DELTA_LENGTH_BYTE_ARRAY;
    * value(i) = value(i-1)(0 until prefix(i)) ++ suffix(i).
    */
  private[graft] def readDeltaByteArray(buf: Array[Byte], p0: Int,
      n: Int): Array[String] = {
    val (prefixes, p1) = readDeltaBinaryPacked(buf, p0, n)
    val (suffixes, _) = readDeltaLengthByteArray(buf, p1, n)
    val out = new Array[String](n)
    var prev: Array[Byte] = Array.emptyByteArray
    var i = 0
    while (i < n) {
      val pl = prefixes(i).toInt
      require(pl >= 0 && pl <= prev.length,
        s"q255: prefix length $pl escapes the previous value (${prev.length})")
      val v = new Array[Byte](pl + suffixes(i).length)
      System.arraycopy(prev, 0, v, 0, pl)
      System.arraycopy(suffixes(i), 0, v, pl, suffixes(i).length)
      out(i) = new String(v, "UTF-8")
      prev = v; i += 1
    }
    out
  }

  private def leInt4(buf: Array[Byte], off: Int): Int =
    (buf(off) & 0xff) | ((buf(off + 1) & 0xff) << 8) |
      ((buf(off + 2) & 0xff) << 16) | ((buf(off + 3) & 0xff) << 24)
  private def leLong8(buf: Array[Byte], off: Int): Long = {
    var v = 0L; var i = 0
    while (i < 8) { v |= (buf(off + i) & 0xffL) << (8 * i); i += 1 }
    v
  }

  /** One decoded column chunk: the values themselves, read by walking
    * page headers and decoding plain / dictionary pages — the level
    * below q239's footer walk, closing the format read loop footer→page.
    */
  private[graft] case class PageDecode(encClass: String, nValues: Long,
      nNulls: Long, longs: Seq[Long], strs: Seq[String])

  /** q253: inflate one v1 page body to its header-declared uncompressed
    * size. The audited codec scope is the production set Spark actually
    * writes — UNCOMPRESSED / SNAPPY (the default) / GZIP / ZSTD; anything
    * else (LZO, BROTLI, hadoop-framed LZ4, …) refuses loudly rather than
    * guessing at a frame format. Every branch re-verifies the inflated
    * length against the header's `uncompressed_page_size` — a codec that
    * "succeeds" with the wrong length is corruption, not success.
    * Reference: CompressionCodec ids per parquet-format Compression.md;
    * snappy-java / zstd-jni ride the Spark runtime classpath (the same
    * jars Spark's own reader uses — no new dependency).
    */
  private[graft] def inflatePage(codec: Int, raw: Array[Byte], ups: Int,
      path: String): Array[Byte] = {
    val out = codec match {
      case 0 =>
        require(raw.length == ups,
          s"q253: page sizes ${raw.length}/$ups inconsistent under " +
            s"UNCOMPRESSED in $path")
        raw
      case 1 => org.xerial.snappy.Snappy.uncompress(raw)
      case 2 =>
        val in = new java.util.zip.GZIPInputStream(
          new java.io.ByteArrayInputStream(raw))
        try in.readAllBytes() finally in.close()
      case 6 => com.github.luben.zstd.Zstd.decompress(raw, ups)
      case c => throw new IllegalStateException(
        s"q253: codec ${CodecNames.getOrElse(c, c.toString)} outside the " +
          "audited UNCOMPRESSED/SNAPPY/GZIP/ZSTD scope; refusing")
    }
    require(out.length == ups,
      s"q253: page inflated to ${out.length} bytes, header declared $ups " +
        s"in $path — corrupt page body")
    out
  }

  /** Decode every v1 data page of `column` in `path`. Codec scope is
    * [[inflatePage]]'s production set (UNCOMPRESSED / SNAPPY / GZIP /
    * ZSTD — q249 established the uncompressed walk, q253 widened it to
    * the codecs Spark actually writes); v2 pages or any encoding outside
    * PLAIN / PLAIN_DICTIONARY / RLE_DICTIONARY refuse LOUDLY, the q239
    * malformed-input discipline. Handles optional flat columns'
    * definition levels (RLE hybrid, bit width 1) and both writer
    * generations' dictionary index encodings.
    */
  private[graft] def decodeColumnChunk(path: String, column: String,
      dictOnly: Boolean = false): PageDecode = {
    val (leaves, chunks) = parseFooter(path)
    val li = leaves.indexWhere(_.name == column)
    require(li >= 0, s"q249: no column '$column' in $path")
    val leaf = leaves(li)
    require(leaf.depth == 1, s"q249: '$column' is nested — flat scope only")
    val isStr = leaf.physical == 6
    require(leaf.physical == 2 || isStr,
      s"q249: decode scope is INT64/BYTE_ARRAY, '$column' is ${leaf.physical}")
    val maxDef = if (leaf.repetition == 0) 0 else 1
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      val longs = scala.collection.mutable.ArrayBuffer.empty[Long]
      val strs = scala.collection.mutable.ArrayBuffer.empty[String]
      var nulls = 0L; var nVals = 0L; var usedDict = false
      var encDelta: String = null
      chunks(li).foreach { cs =>
        require(cs.dataPageOffset >= 0 && cs.totalCompressedSize > 0,
          s"q249: chunk offsets missing for '$column' in $path")
        val start = if (cs.dictPageOffset >= 0)
          math.min(cs.dictPageOffset, cs.dataPageOffset)
        else cs.dataPageOffset
        val win = new Array[Byte](cs.totalCompressedSize.toInt)
        raf.seek(start); raf.readFully(win)
        val r = new CompactReader(win)
        var dictLongs: Array[Long] = null
        var dictStrs: Array[String] = null
        var read = 0L
        while (read < cs.numValues) {
          var ptype = -1; var ups = -1; var cps = -1
          var dpNum = -1; var dpEnc = -1; var dlEnc = -1
          var dictNum = -1; var dictEnc = -1
          var v2Num = -1; var v2Nulls = -1; var v2Enc = -1
          var v2DefLen = -1; var v2RepLen = -1; var v2Compressed = true
          r.struct { (id, t) =>
            (id, t) match {
              case (1, _) => ptype = r.zigzag().toInt
              case (2, _) => ups = r.zigzag().toInt
              case (3, _) => cps = r.zigzag().toInt
              case (5, 12) => r.struct { (fid, ft) =>
                (fid, ft) match {
                  case (1, _) => dpNum = r.zigzag().toInt
                  case (2, _) => dpEnc = r.zigzag().toInt
                  case (3, _) => dlEnc = r.zigzag().toInt
                  case _      => r.skip(ft)
                }
              }
              case (7, 12) => r.struct { (fid, ft) =>
                (fid, ft) match {
                  case (1, _) => dictNum = r.zigzag().toInt
                  case (2, _) => dictEnc = r.zigzag().toInt
                  case _      => r.skip(ft)
                }
              }
              case (8, 12) => r.struct { (fid, ft) => // DataPageHeaderV2
                (fid, ft) match {
                  case (1, _) => v2Num = r.zigzag().toInt
                  case (2, _) => v2Nulls = r.zigzag().toInt
                  case (3, _) => r.zigzag() // num_rows — flat scope, unused
                  case (4, _) => v2Enc = r.zigzag().toInt
                  case (5, _) => v2DefLen = r.zigzag().toInt
                  case (6, _) => v2RepLen = r.zigzag().toInt
                  case (7, bt) if bt == 1 || bt == 2 => // bool rides the nibble
                    v2Compressed = bt == 1
                  case _      => r.skip(ft)
                }
              }
              case (_, wt) => r.skip(wt)
            }
          }
          require(ups > 0 && cps > 0,
            s"q249: page without declared sizes ($ups/$cps) in $path")
          val body = r.p
          require(body + cps <= win.length,
            s"q249: page body overruns the chunk window in $path")
          // v1 pages compress the WHOLE body (levels + values together);
          // inflate once per page, decode against the inflated buffer
          def page: Array[Byte] = inflatePage(cs.codec,
            java.util.Arrays.copyOfRange(win, body, body + cps), ups, path)
          ptype match {
            case 2 => // DICTIONARY_PAGE: PLAIN(-dictionary) values
              require(dictEnc == 0 || dictEnc == 2,
                s"q249: dictionary page encoding $dictEnc — not PLAIN; refusing")
              require(dictNum >= 0, "q249: dictionary page without a count")
              val pg = page
              if (isStr) {
                val a = new Array[String](dictNum)
                var p = 0; var i = 0
                while (i < dictNum) {
                  val len = leInt4(pg, p); p += 4
                  a(i) = new String(pg, p, len, "UTF-8"); p += len; i += 1
                }
                dictStrs = a
              } else {
                val a = new Array[Long](dictNum)
                var i = 0
                while (i < dictNum) { a(i) = leLong8(pg, 8 * i); i += 1 }
                dictLongs = a
              }
              if (dictOnly) // q254: the dictionary IS the answer — zero
                return PageDecode("dict", 0L, 0L, // data pages touched
                  Option(dictLongs).map(_.toSeq).getOrElse(Nil),
                  Option(dictStrs).map(_.toSeq).getOrElse(Nil))
            case 0 => // DATA_PAGE v1
              require(dpNum >= 0, "q249: data page without a value count")
              val pg = page
              var p = 0
              var nNonNull = dpNum
              if (maxDef == 1) {
                require(dlEnc == 3,
                  s"q249: def-level encoding $dlEnc — v1 pages carry RLE; refusing")
                val dlLen = leInt4(pg, p); p += 4
                val defs = new Array[Int](dpNum)
                val consumed = readHybrid(pg, p, 1, dpNum, defs) - p
                require(consumed <= dlLen,
                  s"q249: def levels overran their length prefix in $path")
                p += dlLen
                var i = 0; var nn = 0
                while (i < dpNum) { if (defs(i) == 1) nn += 1; i += 1 }
                nNonNull = nn
                nulls += dpNum - nn
              }
              dpEnc match {
                case 0 => // PLAIN
                  if (isStr) {
                    var i = 0
                    while (i < nNonNull) {
                      val len = leInt4(pg, p); p += 4
                      strs += new String(pg, p, len, "UTF-8"); p += len; i += 1
                    }
                  } else {
                    var i = 0
                    while (i < nNonNull) { longs += leLong8(pg, p); p += 8; i += 1 }
                  }
                case 2 | 8 => // PLAIN_DICTIONARY / RLE_DICTIONARY indices
                  require(dictLongs != null || dictStrs != null,
                    s"q249: dictionary-encoded page before its dictionary in $path")
                  usedDict = true
                  val bw = pg(p) & 0xff; p += 1
                  val idx = new Array[Int](nNonNull)
                  readHybrid(pg, p, bw, nNonNull, idx)
                  var i = 0
                  while (i < nNonNull) {
                    if (isStr) strs += dictStrs(idx(i)) else longs += dictLongs(idx(i))
                    i += 1
                  }
                case e => throw new IllegalStateException(
                  s"q249: data page encoding $e outside the audited " +
                    "PLAIN/dictionary scope; refusing")
              }
              read += dpNum; nVals += dpNum
            case 3 => // DATA_PAGE_V2 (q255): levels ride UNCOMPRESSED and
              // UNPREFIXED at the body's head; only the values section
              // honors is_compressed — the structural difference from v1
              require(v2Num >= 0 && v2Enc >= 0 && v2DefLen >= 0 &&
                v2RepLen >= 0 && v2Nulls >= 0,
                s"q255: v2 page header incomplete in $path")
              require(v2RepLen == 0,
                s"q255: repetition levels on a flat column in $path — malformed")
              require(v2Nulls <= v2Num,
                s"q255: null count $v2Nulls exceeds value count $v2Num")
              if (maxDef == 0) require(v2Nulls == 0,
                s"q255: nulls on a required column in $path — malformed")
              val lvlLen = v2RepLen + v2DefLen
              require(lvlLen <= cps && lvlLen <= ups,
                s"q255: level section $lvlLen overruns the page in $path")
              val nNonNull = v2Num - v2Nulls
              val vraw = java.util.Arrays.copyOfRange(
                win, body + lvlLen, body + cps)
              val vals =
                if (v2Compressed) inflatePage(cs.codec, vraw, ups - lvlLen, path)
                else {
                  require(cps == ups,
                    s"q255: sizes $cps/$ups inconsistent with is_compressed=false")
                  vraw
                }
              v2Enc match {
                case 5 => // DELTA_BINARY_PACKED
                  require(!isStr,
                    s"q255: DELTA_BINARY_PACKED on string column '$column'")
                  longs ++= readDeltaBinaryPacked(vals, 0, nNonNull)._1
                  encDelta = "delta_binpack"
                case 6 => // DELTA_LENGTH_BYTE_ARRAY
                  require(isStr,
                    s"q255: DELTA_LENGTH_BYTE_ARRAY on int column '$column'")
                  strs ++= readDeltaLengthByteArray(vals, 0, nNonNull)._1
                    .map(new String(_, "UTF-8"))
                  encDelta = "delta_length"
                case 7 => // DELTA_BYTE_ARRAY
                  require(isStr,
                    s"q255: DELTA_BYTE_ARRAY on int column '$column'")
                  strs ++= readDeltaByteArray(vals, 0, nNonNull)
                  encDelta = "delta_byte_array"
                case 0 => // PLAIN
                  var p = 0
                  if (isStr) {
                    var i = 0
                    while (i < nNonNull) {
                      val len = leInt4(vals, p); p += 4
                      strs += new String(vals, p, len, "UTF-8"); p += len; i += 1
                    }
                  } else {
                    var i = 0
                    while (i < nNonNull) { longs += leLong8(vals, p); p += 8; i += 1 }
                  }
                case 2 | 8 => // dictionary indices, same stream shape as v1
                  require(dictLongs != null || dictStrs != null,
                    s"q255: dictionary-encoded v2 page before its dictionary in $path")
                  usedDict = true
                  val bw = vals(0) & 0xff
                  val idx = new Array[Int](nNonNull)
                  readHybrid(vals, 1, bw, nNonNull, idx)
                  var i = 0
                  while (i < nNonNull) {
                    if (isStr) strs += dictStrs(idx(i)) else longs += dictLongs(idx(i))
                    i += 1
                  }
                case e => throw new IllegalStateException(
                  s"q255: v2 data page encoding $e outside the audited " +
                    "PLAIN/dictionary/DELTA scope; refusing")
              }
              nulls += v2Nulls; read += v2Num; nVals += v2Num
            case t => throw new IllegalStateException(
              s"q249: unexpected page type $t in $path")
          }
          r.p = body + cps
        }
      }
      PageDecode(
        if (usedDict) "dict"
        else if (encDelta != null) encDelta
        else "plain",
        nVals, nulls, longs.toSeq, strs.toSeq)
    } finally raf.close()
  }

  /** 60-bit md5 fold of a value's string form — the engine-side twin of
    * the oracle's `('0x' || substring(md5(v), 1, 15))::BIGINT`. */
  private[graft] def md5Fold60(s: String): Long = {
    val hex = java.security.MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** q249's engine: write the probe layouts (uncompressed; dictionary
    * on/off — the writer self-check: the emitted enc_class is a format
    * literal the oracle pins, so a writer-option that silently failed to
    * propagate lands as a red row), then decode every value back through
    * the page walker and aggregate — equality with the SQL truth proves
    * the whole chain footer→page-header→levels→values.
    */
  private[graft] def pageDecodeProbe(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val rows = Seq(("dict", true), ("plain", false)).flatMap {
      case (mode, dictOn) =>
        val out = System.getProperty("java.io.tmpdir") +
          s"/graft_q249_${mode}_" + dir.replaceAll("[^A-Za-z0-9]", "_")
        graft.Tables(spark, dir, "documents")
          .select(col("doc_id"), col("source"))
          .repartition(1).sortWithinPartitions(col("doc_id"))
          .write.mode("overwrite")
          .option("compression", "uncompressed")
          .option("parquet.enable.dictionary", dictOn.toString)
          .parquet(out)
        val file = new java.io.File(out).listFiles()
          .filter(f => f.getName.startsWith("part-") &&
            f.getName.endsWith(".parquet")).map(_.getPath).sorted.headOption
          .getOrElse(throw new IllegalStateException(s"q249: no part file in $out"))
        Seq("doc_id", "source").map { c =>
          val d = decodeColumnChunk(file, c)
          val (sumLeg, nDist, xor) =
            if (c == "doc_id")
              (d.longs.sum, d.longs.distinct.size.toLong,
                d.longs.map(v => md5Fold60(v.toString)).foldLeft(0L)(_ ^ _))
            else
              (d.strs.map(_.getBytes("UTF-8").length.toLong).sum,
                d.strs.distinct.size.toLong,
                d.strs.map(md5Fold60).foldLeft(0L)(_ ^ _))
          (mode, c, d.encClass, d.nValues, d.nNulls, sumLeg, nDist, xor)
        }
    }
    rows.toDF("mode", "column", "enc_class", "n_values", "n_nulls",
      "sum_leg", "n_distinct", "content_xor")
      .orderBy("mode", "column")
  }

  /** q253's engine: the q249 probe under every production CODEC — write
    * the (doc_id, source) layout compressed with snappy (Spark's
    * default), gzip, and zstd, then decode every value back through the
    * page walker (each page body inflated by [[inflatePage]], length
    * re-verified against the header) and aggregate to the SQL truth. The
    * (codec, enc_class) pair is the pinned format-literal leg: a codec
    * option that silently failed to propagate, or a dictionary decision
    * that changed under compression, lands as a red row. Same truth legs
    * as q249 — count / nulls / sum / distinct / md5-xor per column.
    */
  private[graft] def compressedDecodeProbe(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val rows = Seq("snappy", "gzip", "zstd").flatMap { codecName =>
      val out = System.getProperty("java.io.tmpdir") +
        s"/graft_q253_${codecName}_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"))
        .repartition(1).sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite")
        .option("compression", codecName)
        .parquet(out)
      val file = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).map(_.getPath).sorted.headOption
        .getOrElse(throw new IllegalStateException(s"q253: no part file in $out"))
      Seq("doc_id", "source").map { c =>
        val d = decodeColumnChunk(file, c)
        val (sumLeg, nDist, xor) =
          if (c == "doc_id")
            (d.longs.sum, d.longs.distinct.size.toLong,
              d.longs.map(v => md5Fold60(v.toString)).foldLeft(0L)(_ ^ _))
          else
            (d.strs.map(_.getBytes("UTF-8").length.toLong).sum,
              d.strs.distinct.size.toLong,
              d.strs.map(md5Fold60).foldLeft(0L)(_ ^ _))
        (codecName, c, d.encClass, d.nValues, d.nNulls, sumLeg, nDist, xor)
      }
    }
    rows.toDF("codec", "column", "enc_class", "n_values", "n_nulls",
      "sum_leg", "n_distinct", "content_xor")
      .orderBy("codec", "column")
  }

  /** q255's engine: the probe under the SECOND writer generation —
    * parquet v2 data pages, where levels ride uncompressed and
    * unprefixed at the body's head and the value encodings change
    * family entirely: DELTA_BINARY_PACKED for integers (the dictionary
    * fallback target too — unique doc_id lands here even with
    * dictionaries on), DELTA_BYTE_ARRAY front coding for strings, and
    * RLE_DICTIONARY where the dictionary wins. Three layouts exercise
    * all of it — v2 + dictionary (dict/fallback split), v2 + dictionary
    * off (both delta families), v2 + snappy (the is_compressed
    * values-only inflate path). Truth legs identical to q249/q253.
    */
  private[graft] def pageDecodeProbeV2(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val modes = Seq(("v2dict", "uncompressed", true),
      ("v2delta", "uncompressed", false),
      ("v2snappy", "snappy", false))
    val rows = modes.flatMap { case (mode, codecName, dictOn) =>
      val out = System.getProperty("java.io.tmpdir") +
        s"/graft_q255_${mode}_" + dir.replaceAll("[^A-Za-z0-9]", "_")
      graft.Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"))
        .repartition(1).sortWithinPartitions(col("doc_id"))
        .write.mode("overwrite")
        .option("compression", codecName)
        .option("parquet.writer.version", "v2")
        .option("parquet.enable.dictionary", dictOn.toString)
        .parquet(out)
      val file = new java.io.File(out).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet")).map(_.getPath).sorted.headOption
        .getOrElse(throw new IllegalStateException(s"q255: no part file in $out"))
      Seq("doc_id", "source").map { c =>
        val d = decodeColumnChunk(file, c)
        val (sumLeg, nDist, xor) =
          if (c == "doc_id")
            (d.longs.sum, d.longs.distinct.size.toLong,
              d.longs.map(v => md5Fold60(v.toString)).foldLeft(0L)(_ ^ _))
          else
            (d.strs.map(_.getBytes("UTF-8").length.toLong).sum,
              d.strs.distinct.size.toLong,
              d.strs.map(md5Fold60).foldLeft(0L)(_ ^ _))
        (mode, c, d.encClass, d.nValues, d.nNulls, sumLeg, nDist, xor)
      }
    }
    rows.toDF("mode", "column", "enc_class", "n_values", "n_nulls",
      "sum_leg", "n_distinct", "content_xor")
      .orderBy("mode", "column")
  }

  // ---- pruned scan EXECUTION (q245 by_length, q251 z-order) ------------

  /** One pruning unit's footer stats — the q238 overlap rule's inputs,
    * read from the REAL footer the layout writer produced (never the
    * data). With the house layout writer each unit is one
    * [[Relational.PruneGroupRows]]-row row group in its own part file,
    * so "skip a unit" = "never open the file" — the file-level form of
    * row-group skipping (Delta/Iceberg manifests prune the same way:
    * per-file min/max, whole files never touched). Numeric leaves land
    * in (lo, hi), string leaves in (loS, hiS).
    */
  private[graft] case class UnitStats(path: String, nRows: Long,
      lo: Map[String, Long], hi: Map[String, Long],
      loS: Map[String, String], hiS: Map[String, String])

  /** Footer tail-read counter — q268's instrument: planning a pruned
    * scan from a WARM manifest must not move it (the zero-footer-reads
    * pin). Incremented by every [[parseFooter]].
    */
  private[graft] val footerReads = new java.util.concurrent.atomic.AtomicLong

  private[graft] def unitStatsOf(path: String): UnitStats = {
    val ss = readFooter("layout", path)
    require(ss.nonEmpty, s"pruned scan: no audited stats in $path - " +
      "a stats-blind planner cannot prune soundly; refusing")
    val num = ss.filter(s => s.physical == "INT64" || s.physical == "INT32")
    val str = ss.filter(_.physical == "BYTE_ARRAY")
    UnitStats(path, ss.map(_.n_values).max,
      num.map(s => s.column -> s.min_value.toLong).toMap,
      num.map(s => s.column -> s.max_value.toLong).toMap,
      str.map(s => s.column -> s.min_value).toMap,
      str.map(s => s.column -> s.max_value).toMap)
  }

  /** The pruned scans' target unit count under ADAPTIVE sizing: unit
    * rows = max(PruneGroupRows, ceil(n / PruneTargetUnits)), so small
    * fixtures keep their 64-row geometry (the oracle-pinned shapes at
    * sf0.001) while a growing corpus converges to a CONSTANT number of
    * units instead of a linearly growing file count. This is the
    * scale-honest row-group shape: production row groups are sized in
    * megabytes (so their count grows slowly), and a 64-row unit at 1M
    * rows is a miniaturization artifact — measured the hard way: the
    * fixed-64 first cut cost 160 s PER LAYOUT at 1M rows in pure file
    * creation. Both engines derive the divisor from the row count with
    * exact integer arithmetic, so the oracle chunks identically.
    */
  private[graft] val PruneTargetUnits = 16L

  private[graft] def adaptiveUnitRows(n: Long): Long =
    math.max(Relational.PruneGroupRows,
      (n + PruneTargetUnits - 1L) / PruneTargetUnits)

  /** The adaptive divisor as DuckDB SQL over a row-count expression. */
  private[graft] def adaptiveUnitRowsSql(cntExpr: String): String =
    s"GREATEST(${Relational.PruneGroupRows}, " +
      s"(($cntExpr) + ${PruneTargetUnits - 1L}) // $PruneTargetUnits)"

  /** The final write stage's physical plan, recorded by [[writeUnits]]
    * for the spec's RangePartitioning pin (q263).
    */
  @volatile private[graft] var lastLayoutPlan: String = ""

  /** BENCH-ONLY layout memo of both writers (r15 verdict #1: the bench
    * outgrew its wall budget rebuilding deterministic fixture layouts 6×
    * per query — q261 alone materializes nine layouts per execution). Keyed by the FULL write identity (writer + tag + unit
    * size + sort + write options); a hit is honored only after
    * re-validating the on-disk manifest still names exactly the memoized
    * units (an IVM append or external delete fails the check and falls
    * through to a fresh write — fail-safe, never fail-wrong). Gated by a
    * system property only the bench mains set: every query-path builder
    * is deterministic per (tag, sf-dir) within one bench JVM, which is
    * the soundness premise; Verify/tests/production never set it, so
    * their writes stay real. A value is the units and the writer-task
    * count (0 from [[writeUnits]], which does not count its tasks).
    */
  private val layoutMemo =
    new java.util.concurrent.ConcurrentHashMap[String, (Seq[UnitStats], Int)]()

  private[graft] val LayoutMemoProp = "graft.bench.layoutMemo"

  private def memoized(key: String, layoutDir: String)(
      write: => (Seq[UnitStats], Int)): (Seq[UnitStats], Int) =
    if (!java.lang.Boolean.getBoolean(LayoutMemoProp)) write
    else {
      val hit = layoutMemo.get(key)
      if (hit != null && readManifest(layoutDir).contains(hit._1)) hit
      else { val out = write; layoutMemo.put(key, out); out }
    }

  /** r17 (retiring the carried r15/r16 design note): the layout tier's
    * ROOT directory is a parameter, not a baked-in tmpdir. Resolution:
    * the session conf `spark.graft.layoutRoot` when a session is
    * active, else the system property `graft.layoutRoot`, else
    * `java.io.tmpdir` (the local[32] default — unchanged behavior).
    * On a real cluster the conf points at a SHARED POSIX mount
    * (NFS/Lustre/EFS): the whole tier is `java.io`/NIO-based by
    * design (pure-JDK byte kernels), so an object-store root would
    * need a Hadoop-FS port of the I/O seam — stated here, not implied
    * away. Every layout writer AND reader resolves through this one
    * function, so the setting cannot half-apply.
    */
  private[graft] def layoutRoot: String = {
    val fromConf =
      try Option(org.apache.spark.sql.SparkSession.active.conf
        .get("spark.graft.layoutRoot", null))
      catch { case _: Exception => None }
    fromConf.filter(_.nonEmpty)
      .orElse(Option(System.getProperty("graft.layoutRoot")).filter(_.nonEmpty))
      .getOrElse(System.getProperty("java.io.tmpdir"))
  }

  private[graft] def layoutDirFor(tag: String): String =
    layoutRoot + "/graft_prune_" + tag

  /** q263: DISTRIBUTED CLUSTERED UNITS — the clustering both layout
    * writers share. Orders `df` into `rowsPerUnit`-row units and hands
    * `stage` the rows with a trailing `__unit` id, so a writer's final
    * stage only has to emit one file per unit. Executed in PARALLEL
    * (retiring the r14 `repartition(1)` weak mark — a clustering write
    * you cannot parallelize is not a clustering write at 100 TB):
    *
    *  1. range-shuffle + per-partition sort on the cluster key — the
    *     stock global-sort mechanics (RangePartitioning exchange, every
    *     task sorts its slice), persisted while the stages below run;
    *  2. EXACT global ranks from the two-pass count (per-partition
    *     sizes collected — P integers, not data — then prefix-summed
    *     into per-partition starting ranks; the q151 prefix-scan
    *     discipline), so unit = rank / rowsPerUnit is BIT-IDENTICAL to
    *     the oracle's ROW_NUMBER chunking. This is why plain
    *     `repartitionByRange` alone isn't enough: sampled boundaries
    *     land anywhere, rank-derived ones land exactly at unit edges;
    *  3. a second range shuffle ON THE UNIT ID (co-locates whole units,
    *     keeps unit ranges contiguous per task) + per-partition sort
    *     with `__unit` LEADING (r16 ADVICE): `sortCols` alone keeps a
    *     unit's rows contiguous only for a TOTAL order — under ties,
    *     adjacent units' rows could interleave, so a parquet file cut
    *     by `maxRecordsPerFile` would straddle two units and the house
    *     kernel would flush one unit twice (the second flush
    *     overwriting the first). Within a unit the tail keeps rank
    *     order.
    *
    * The oracle's chunking is deterministic only for a TOTAL-order
    * `sortCols` (every registered caller ends with a unique key). A
    * keys-only boundary pass could replace shuffle #2 at extreme scale;
    * both shuffles here are linear, parallel, and Tungsten-backed.
    * Gives `stage`'s result and both shuffles' executed plans.
    */
  private def clusteredUnits[T](df: DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column], rowsPerUnit: Long,
      layoutDir: String)(stage: DataFrame => T): (T, String) = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    val sorted = df.repartitionByRange(sortCols: _*)
      .sortWithinPartitions(sortCols: _*)
    val rdd = sorted.rdd
    rdd.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val counts = rdd
        .mapPartitionsWithIndex((pid, it) => Iterator((pid, it.size.toLong)))
        .collect().sortBy(_._1).map(_._2)
      val offsets = counts.scanLeft(0L)(_ + _)
      val n = if (offsets.isEmpty) 0L else offsets.last
      require(n > 0L, s"layout write got no rows for $layoutDir")
      val numUnits = (n + rowsPerUnit - 1L) / rowsPerUnit
      val targetPar = math.max(1L, math.min(32L, numUnits)).toInt
      val bOffsets = spark.sparkContext.broadcast(offsets)
      val withUnit = rdd.mapPartitionsWithIndex { (pid, it) =>
        var rank = bOffsets.value(pid)
        it.map { row =>
          val u = rank / rowsPerUnit; rank += 1L
          Row.fromSeq(row.toSeq :+ u)
        }
      }
      val clustered = spark
        .createDataFrame(withUnit,
          sorted.schema.add("__unit", LongType, nullable = false))
        .repartitionByRange(targetPar, col("__unit"))
        .sortWithinPartitions(col("__unit") +: sortCols: _*)
      val out = stage(clustered)
      (out, sorted.queryExecution.executedPlan.toString() +
        clustered.queryExecution.executedPlan.toString())
    } finally rdd.unpersist(blocking = false)
  }

  /** q263: DISTRIBUTED CLUSTERED WRITE. Materialize a sorted layout in
    * `rowsPerUnit`-row units (one row group per part file) and return
    * the units' footer stats - the PLAN inputs. The write is the
    * layout-materialization cost a clustering key always pays once;
    * planning then reads one footer tail per unit and zero data pages.
    * The final stage of [[clusteredUnits]] is a parquet write with
    * `maxRecordsPerFile`: every file split falls exactly at a unit
    * boundary because each task's rows start at one and interior units
    * are full. One sorted file per unit, many tasks writing.
    */
  private[graft] def writeUnits(df: DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column], tag: String,
      rowsPerUnit: Long = Relational.PruneGroupRows,
      writeOptions: Map[String, String] = Map.empty): Seq[UnitStats] = {
    val layoutDir = layoutDirFor(tag)
    memoized(tag + "|" + rowsPerUnit + "|" + sortCols.mkString(",") + "|" +
        writeOptions.toSeq.sorted.mkString(","), layoutDir) {
      lastLayoutPlan = clusteredUnits(df, sortCols, rowsPerUnit, layoutDir) {
        _.drop("__unit").write.mode("overwrite")
          .option("maxRecordsPerFile", rowsPerUnit)
          .options(writeOptions)
          .parquet(layoutDir)
      }._2
      val files = new java.io.File(layoutDir).listFiles()
        .filter(f => f.getName.startsWith("part-") &&
          f.getName.endsWith(".parquet") && f.length() > 0)
        .map(_.getPath).sorted.toSeq
      require(files.nonEmpty, s"pruned scan: layout write produced no units in $layoutDir")
      val stats = files.map(unitStatsOf)
      // q268: persist the stats as the layout's MANIFEST — built once at
      // write time (this walk), planned from thereafter with zero footer
      // opens (the q240 catalog direction made code)
      writeManifest(layoutDir, stats)
      (stats, 0)
    }._1
  }

  /** The house-write stage's physical plan + distinct writer-task
    * count, recorded by [[writeUnitsHouse]] for PlanSpec's
    * many-tasks pin (q272).
    */
  @volatile private[graft] var lastHouseWrite: (String, Int) = ("", 0)

  /** q272: the DISTRIBUTED HOUSE WRITE — [[HouseWriter]]'s per-task
    * composition, retiring the r15 structural debt that every house
    * emission ran on the driver from a collected probe: the units of
    * [[clusteredUnits]], but the final stage is `mapPartitions` running
    * the pure-JDK house KERNEL per unit — each task slices its
    * contiguous, sorted rows at unit boundaries and emits one complete
    * house file (snappy pages, SBBF blooms, statistics footer) per
    * unit, plus that unit's footer-walked [[UnitStats]]. Only O(units)
    * bookkeeping rows return to the driver (id, task, stats — never
    * data); the driver's sole write is the q268 manifest. No parquet-mr
    * anywhere: the writer, the stats, and the manifest are all house
    * bytes, produced by as many tasks as the layout has unit ranges.
    *
    * Scope: the house kernel's audited column types (INT64 / UTF8
    * BYTE_ARRAY, non-null) — anything else refuses loudly BEFORE the
    * shuffle. Unit-id-keyed file names are globally unique, so task
    * retries rewrite their own files idempotently.
    */
  private[graft] def writeUnitsHouse(df: DataFrame,
      sortCols: Seq[org.apache.spark.sql.Column], tag: String,
      rowsPerUnit: Long,
      spec: HouseWriter.HouseSpec): (Seq[UnitStats], Int) = {
    import org.apache.spark.sql.types.{LongType, StringType}
    val layoutDir = layoutDirFor(tag)
    memoized("house|" + tag + "|" + rowsPerUnit + "|" + sortCols.mkString(",") +
        "|" + spec.toString, layoutDir) {
      val schema = df.schema
      schema.fields.foreach(f => require(
        f.dataType == LongType || f.dataType == StringType,
        s"q272: column '${f.name}' is ${f.dataType.simpleString} — the house " +
          "kernel's audited scope is INT64/UTF8; refusing before the shuffle"))
      val names: Array[(String, Boolean)] =
        schema.fields.map(f => (f.name, f.dataType == LongType))
      val dirF = new java.io.File(layoutDir)
      if (dirF.exists()) dirF.listFiles().foreach(_.delete())
      dirF.mkdirs()
      val (written, plan) = clusteredUnits(df, sortCols, rowsPerUnit, layoutDir) {
        _.rdd.mapPartitions { it =>
          // rows arrive whole-unit (shuffle #2 ranges on the unit id) and
          // in unit order (the per-partition sort leads with it), so one
          // forward pass cuts exactly at unit boundaries
          val done = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, UnitStats)]
          val bufs: Array[scala.collection.mutable.ArrayBuffer[Any]] =
            names.map(_ => scala.collection.mutable.ArrayBuffer.empty[Any])
          var cur = -1L
          def flush(): Unit = if (cur >= 0L && bufs.head.nonEmpty) {
            val cols: Seq[HouseWriter.HCol] = names.toIndexedSeq.zipWithIndex.map {
              case ((nm, isLong), i) =>
                if (isLong) HouseWriter.LongCol(nm,
                  bufs(i).map(_.asInstanceOf[Long]).toSeq)
                else HouseWriter.StrCol(nm,
                  bufs(i).map(_.asInstanceOf[String]).toSeq)
            }
            val path = new java.io.File(layoutDir,
              f"part-$cur%05d-house.parquet").getPath
            HouseWriter.write(path, cols, spec)
            done += ((cur, org.apache.spark.TaskContext.getPartitionId(),
              unitStatsOf(path)))
            bufs.foreach(_.clear())
          }
          it.foreach { row =>
            val u = row.getLong(row.length - 1)
            if (u != cur) { flush(); cur = u }
            var i = 0
            while (i < names.length) {
              require(!row.isNullAt(i),
                s"q272: null in '${names(i)._1}' — outside the audited scope")
              bufs(i) += row.get(i)
              i += 1
            }
          }
          flush()
          done.iterator
        }.collect()
      }
      val nTasks = written.map(_._2).distinct.length
      lastHouseWrite = (plan, nTasks)
      val stats = written.sortBy(_._1).map(_._3).toSeq
      require(stats.nonEmpty, s"q272: no house units written in $layoutDir")
      writeManifest(layoutDir, stats)
      (stats, nTasks)
    }
  }

  // ---- q268: the unit-stats MANIFEST — plan without touching footers --

  private val ManifestName = "_graft_manifest.tsv"
  private def urlEnc(s: String) = java.net.URLEncoder.encode(s, "UTF-8")
  private def urlDec(s: String) = java.net.URLDecoder.decode(s, "UTF-8")

  private def manifestLine(u: UnitStats): String = {
    def m(mp: Map[String, Long]) = mp.toSeq.sorted
      .map { case (k, v) => s"$k=$v" }.mkString(",")
    def ms(mp: Map[String, String]) = mp.toSeq.sorted
      .map { case (k, v) => s"$k=${urlEnc(v)}" }.mkString(",")
    Seq(urlEnc(u.path), u.nRows.toString, m(u.lo), m(u.hi),
      ms(u.loS), ms(u.hiS)).mkString("\t")
  }

  /** Persist the layout's per-unit stats beside its files (leading
    * underscore — Spark's readers ignore it as a hidden file). The
    * manifest is what a warehouse catalog stores per table: the q239
    * footer facts, readable without opening a single footer.
    */
  private[graft] def writeManifest(layoutDir: String,
      units: Seq[UnitStats]): Unit =
    java.nio.file.Files.write(
      java.nio.file.Paths.get(layoutDir, ManifestName),
      (units.map(manifestLine).mkString("\n") + "\n").getBytes("UTF-8"))

  /** q268's IVM append: a NEW unit's stats land as one appended line.
    * Appends never rewrite existing entries, so readers see the old
    * units unchanged plus the new one (envelope soundness under appends
    * is per-unit locality).
    */
  private[graft] def appendManifest(layoutDir: String,
      units: Seq[UnitStats]): Unit =
    // CREATE alongside APPEND (r15 ADVICE): an IVM append into a layout
    // whose manifest was never written (or was deleted as stale) must
    // create it, not throw NoSuchFileException.
    java.nio.file.Files.write(
      java.nio.file.Paths.get(layoutDir, ManifestName),
      (units.map(manifestLine).mkString("\n") + "\n").getBytes("UTF-8"),
      java.nio.file.StandardOpenOption.CREATE,
      java.nio.file.StandardOpenOption.APPEND)

  /** Read the layout's manifest WITHOUT opening any footer — None when
    * absent or STALE (the manifest must name exactly the part files on
    * disk: a rewritten layout carries fresh part-file UUIDs, so a
    * dangling manifest fails this check and the caller falls back to
    * the footer walk — soundness over convenience).
    */
  private def parseManifest(layoutDir: String,
      f: java.io.File): Seq[UnitStats] =
    scala.io.Source.fromFile(f, "UTF-8").getLines()
      .filter(_.nonEmpty).map { ln =>
        val p = ln.split("\t", -1)
        require(p.length == 6, s"q268: malformed manifest line in $layoutDir")
        def pm(s: String): Map[String, Long] =
          if (s.isEmpty) Map.empty
          else s.split(",").map { kv =>
            val i = kv.indexOf('=')
            kv.substring(0, i) -> kv.substring(i + 1).toLong
          }.toMap
        def pms(s: String): Map[String, String] =
          if (s.isEmpty) Map.empty
          else s.split(",").map { kv =>
            val i = kv.indexOf('=')
            kv.substring(0, i) -> urlDec(kv.substring(i + 1))
          }.toMap
        UnitStats(urlDec(p(0)), p(1).toLong, pm(p(2)), pm(p(3)),
          pms(p(4)), pms(p(5)))
      }.toSeq

  private[graft] def readManifest(layoutDir: String): Option[Seq[UnitStats]] = {
    val f = new java.io.File(layoutDir, ManifestName)
    if (!f.exists()) return None
    val units = parseManifest(layoutDir, f)
    val disk = new java.io.File(layoutDir).listFiles()
      .filter(x => x.getName.startsWith("part-") &&
        x.getName.endsWith(".parquet") && x.length() > 0)
      .map(_.getPath).sorted.toSeq
    if (units.map(_.path).sorted == disk) Some(units) else None
  }

  // ---- r17 (q279): VERSIONED manifests — snapshot reads on disk -----

  private def versionedManifestName(v: Long) = s"_graft_manifest.v$v.tsv"

  /** Versions present on disk for a house table, ascending — derived
    * from the `_graft_manifest.v<N>.tsv` file names, NOT a JVM counter,
    * so the sequence survives process restarts (the OCC log arbitrates
    * concurrency within a JVM; the DISK carries the history).
    */
  private[graft] def manifestVersions(layoutDir: String): Seq[Long] = {
    val fs = Option(new java.io.File(layoutDir).listFiles())
      .getOrElse(Array.empty)
    val re = """_graft_manifest\.v(\d+)\.tsv""".r
    fs.flatMap(f => f.getName match {
      case re(v) => Some(v.toLong)
      case _     => None
    }).sorted.toSeq
  }

  /** Append the next snapshot: the CURRENT committed unit list written
    * as `_graft_manifest.v<next>.tsv` beside the latest-pointer
    * manifest. Returns the assigned version. TRUNCATE passes
    * `reset = true` — the old generation's data files are deleted by
    * the commit, so every prior snapshot would be DANGLING; deleting
    * the stale snapshot manifests keeps "a version you can name is a
    * version you can read" true (a truncate is a history reset, stated
    * loudly in the q279 scaladoc, not silent corruption).
    */
  private[graft] def writeVersionedManifest(layoutDir: String,
      units: Seq[UnitStats], reset: Boolean): Long = {
    if (reset)
      manifestVersions(layoutDir).foreach(v =>
        new java.io.File(layoutDir, versionedManifestName(v)).delete())
    val next = manifestVersions(layoutDir).lastOption.getOrElse(0L) + 1L
    java.nio.file.Files.write(
      java.nio.file.Paths.get(layoutDir, versionedManifestName(next)),
      (units.map(manifestLine).mkString("\n") + "\n").getBytes("UTF-8"))
    next
  }

  /** The unit list AS OF `version` — None when that snapshot does not
    * exist; a loud IllegalStateException when it exists but names a
    * deleted file (a dangling snapshot must refuse, never silently
    * serve a partial table — the q228 pre-horizon stance on disk).
    */
  private[graft] def committedUnitsAsOf(layoutDir: String,
      version: Long): Option[Seq[UnitStats]] = {
    val f = new java.io.File(layoutDir, versionedManifestName(version))
    if (!f.exists()) return None
    val units = parseManifest(layoutDir, f)
    val gone = units.filter(u => new java.io.File(u.path).length() == 0)
    if (gone.nonEmpty) throw new IllegalStateException(
      s"q279: snapshot v$version of $layoutDir names deleted files " +
        s"(${gone.map(_.path).take(2).mkString(", ")}...) — the history " +
        "was reset by a truncate or vacuum; refusing a partial read")
    Some(units)
  }

  /** The COMMITTED file membership of a house table (r17, the DSv2
    * read gate): the manifest's unit list, honored as long as every
    * named file still EXISTS — a SUBSET check, deliberately weaker
    * than [[readManifest]]'s exact file-set identity. The difference
    * is the point: an orphan part file from a task attempt that died
    * after flushing but before delivering its commit message sits on
    * disk BESIDE the committed generation, makes the strict check
    * read "stale", and a glob would serve it as phantom rows — the
    * Delta/Iceberg failure the log exists to prevent. Membership
    * comes from the commit record; extra on-disk bytes are invisible.
    * None when the manifest is absent or DANGLING (names a deleted
    * file) — then the caller's only sound option is the glob.
    */
  private[graft] def committedUnits(layoutDir: String): Option[Seq[UnitStats]] = {
    val f = new java.io.File(layoutDir, ManifestName)
    if (!f.exists()) return None
    val units = parseManifest(layoutDir, f)
    if (units.forall(u => new java.io.File(u.path).length() > 0)) Some(units)
    else None
  }

  /** q268: MANIFEST-PLANNED PRUNED SCAN — retiring the per-run footer
    * re-walk the r14 verdict flagged: [[writeUnits]] now persists each
    * layout's unit stats as an on-disk manifest (built once, at write
    * time, from the real footers — the audit), and planning reads the
    * MANIFEST with zero footer opens (instrumented: [[footerReads]]
    * must not move during warm planning — a 100 TB table's planner
    * reads one catalog row set, not a million file tails). The warm
    * plan must equal the cold walk exactly (require), staleness is
    * detected by filename (a rewritten layout's fresh UUIDs fail the
    * manifest's file-set check → fall back to the walk), and the
    * executed scan carries q245's in-plan pruned≡full xor proof — so a
    * wrong manifest CANNOT silently drop rows; it either refuses at
    * planning or raises in-plan. Output and oracle are q245's
    * verbatim: only the planning source changed, which is exactly what
    * identical legs prove.
    */
  private[graft] def manifestPlannedScan(spark: SparkSession, dir: String)
      : DataFrame = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val tag = "q268_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val cold = writeUnits(docs, Seq(col("n_chars"), col("doc_id")), tag,
      adaptiveUnitRows(docs.count()))
    val layoutDir = layoutDirFor(tag)
    val before = footerReads.get()
    val warm = readManifest(layoutDir).getOrElse(throw new IllegalStateException(
      s"q268: no warm manifest in $layoutDir right after writeUnits"))
    require(footerReads.get() == before,
      "q268: warm manifest planning opened footers — the zero-read claim broke")
    require(warm == cold,
      "q268: manifest-planned stats diverge from the footer walk")
    executePruned(spark, "q268", warm,
      Seq("doc_id", "source", "lang", "n_chars"), prunePredicates)
  }

  /** The plan-execute-prove core shared by q245/q251: per predicate,
    * decide surviving units from FOOTER stats alone (the sound overlap
    * rule - never skip a possibly-matching unit), execute the scan over
    * ONLY those files, and prove the skip lossless IN-PLAN - the pruned
    * scan's (match count, sentinel-canon content xor over `hashCols`)
    * is cross-checked against the unpruned scan's and a divergence
    * raises rather than returning a silently-partial answer. Emits the
    * counts a planner is graded on: groups_total vs groups_read vs
    * rows_read.
    */
  private[graft] def executePruned(spark: SparkSession, qtag: String,
      units: Seq[UnitStats], hashCols: Seq[String],
      preds: Seq[(String, UnitStats => Boolean, org.apache.spark.sql.Column)])
      : DataFrame = {
    val allFiles = units.map(_.path)
    // sentinel-separated canon (the q195 auditRow discipline: an
    // unseparated concat would let ("1","2x") and ("12","x") collide);
    // the sentinel is spelled as a unicode escape per the house policy
    val sep = lit("\u0001")
    val rowHash = conv(substring(md5(concat(
      hashCols.flatMap(c => Seq(sep, col(c).cast("string"))): _*)),
      1, 15), 16, 10).cast("long")
    // one footer read on the driver: an inferring read would start a
    // schema job per scan over units whose schema is already on disk
    val schema = graft.Tables.footerSchema(spark, allFiles.head)
    def scanAgg(paths: Seq[String], pred: org.apache.spark.sql.Column,
        nCol: String, xCol: String): DataFrame = {
      val base =
        if (paths.isEmpty)
          spark.createDataFrame(new java.util.ArrayList[org.apache.spark.sql.Row](),
            schema)
        else spark.read.schema(schema).parquet(paths: _*)
      base.filter(pred)
        .agg(count(lit(1)).as(nCol), coalesce(bit_xor(rowHash), lit(0L)).as(xCol))
    }
    preds.map { case (name, keep, pred) =>
      val surviving = units.filter(keep)
      val pruned = scanAgg(surviving.map(_.path), pred, "n_match", "match_xor")
      val full = scanAgg(allFiles, pred, "f_n", "f_x")
      pruned.crossJoin(full)
        .filter(when(col("n_match") =!= col("f_n") ||
            col("match_xor") =!= col("f_x"),
          raise_error(lit(s"$qtag: pruned scan diverged from the full scan " +
            s"on '$name' - an unsound skip dropped matching rows; refusing")))
          .otherwise(lit(true)))
        .select(lit(name).as("predicate"),
          lit(units.size.toLong).as("groups_total"),
          lit(surviving.size.toLong).as("groups_read"),
          lit(surviving.map(_.nRows).sum).as("rows_read"),
          col("n_match"), col("match_xor"))
    }.reduce(_ unionByName _)
  }

  /** The q238 predicate workload over documents, each as (name,
    * footer-stats overlap test, row-level predicate).
    */
  private[graft] def prunePredicates
      : Seq[(String, UnitStats => Boolean, org.apache.spark.sql.Column)] = Seq(
    ("lang_eq_en", u => u.loS("lang") <= "en" && u.hiS("lang") >= "en",
      col("lang") === "en"),
    ("nchars_100_199", u => u.lo("n_chars") <= 199L && u.hi("n_chars") >= 100L,
      col("n_chars").between(100L, 199L)),
    ("docid_100_149", u => u.lo("doc_id") <= 149L && u.hi("doc_id") >= 100L,
      col("doc_id").between(100L, 149L)),
    ("source_eq_src3", u => u.loS("source") <= "src3" && u.hiS("source") >= "src3",
      col("source") === "src3"))

  /** q245's layout: q238's advised by_length order over documents,
    * in [[adaptiveUnitRows]]-sized units.
    */
  private[graft] def pruneLayout(spark: SparkSession, dir: String)
      : Seq[UnitStats] = {
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    writeUnits(docs, Seq(col("n_chars"), col("doc_id")),
      "q245_" + dir.replaceAll("[^A-Za-z0-9]", "_"),
      adaptiveUnitRows(docs.count()))
  }

  /** q245's engine - see [[executePruned]]. */
  private[graft] def prunedScan(spark: SparkSession, dir: String,
      preds: Seq[(String, UnitStats => Boolean, org.apache.spark.sql.Column)]
        = null): DataFrame =
    executePruned(spark, "q245", pruneLayout(spark, dir),
      Seq("doc_id", "source", "lang", "n_chars"),
      Option(preds).getOrElse(prunePredicates))
      .orderBy("predicate")

  /** q251's 1-D-vs-2-D predicate workload over events (user_id, k). */
  private[graft] def zorderPredicates
      : Seq[(String, UnitStats => Boolean, org.apache.spark.sql.Column)] = Seq(
    ("u_0_3", u => u.lo("user_id") <= 3L && u.hi("user_id") >= 0L,
      col("user_id").between(0L, 3L)),
    ("k_0_24", u => u.lo("k") <= 24L && u.hi("k") >= 0L,
      col("k").between(0L, 24L)),
    ("uk_box", u => u.lo("user_id") <= 3L && u.hi("user_id") >= 0L &&
        u.lo("k") <= 24L && u.hi("k") >= 0L,
      col("user_id").between(0L, 3L) && col("k").between(0L, 24L)))

  /** q251's per-dimension bucket width: both dims normalize to 4 bits. */
  private[graft] val ZNormBits = 4

  /** q251's engine: the SAME plan-execute-prove core under TWO layouts
    * of events - by_user (1-D clustering) and a NORMALIZED Z-ORDER key -
    * so the advisory claim behind Z-ordering becomes an executed,
    * counted fact: the 1-D layout cannot prune the second dimension's
    * predicate at all (every unit's k envelope spans the full range),
    * while the z-order layout prunes BOTH dimensions and dominates the
    * 2-D box.
    *
    * Normalization is LOAD-BEARING, measured the hard way: interleaving
    * the RAW values (q127's key verbatim) lets the wider dimension's
    * high bits own the top of the key - on events (user 4 bits, k 7
    * bits) the layout degenerated to k-clustering and the user
    * predicate pruned NOTHING. Production z-ordering (Delta/Iceberg)
    * range-buckets each dimension to equal width first; here each dim
    * maps to its [[ZNormBits]]-bit bucket by exact-integer min/max
    * scaling ((v - min) * 16 div span - both engines derive min/max
    * from the data), then q127's interleave runs on the buckets.
    * Sort keys need not be stored: the z-value orders the write and the
    * pruning reads the REAL columns' footer stats.
    */
  private[graft] def zorderPrunedScan(spark: SparkSession, dir: String)
      : DataFrame = {
    val ev = graft.Tables(spark, dir, "events")
      .select(col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val st = ev.agg(min(col("user_id")), max(col("user_id")),
      min(col("k")), max(col("k"))).head()
    val (umn, umx, kmn, kmx) =
      (st.getLong(0), st.getLong(1), st.getLong(2), st.getLong(3))
    val w = 1L << ZNormBits
    val ub = expr(s"((user_id - $umn) * $w) div ${umx - umn + 1L}")
    val kb = expr(s"((k - $kmn) * $w) div ${kmx - kmn + 1L}")
    val san = dir.replaceAll("[^A-Za-z0-9]", "_")
    val unitRows = adaptiveUnitRows(ev.count())
    val layouts = Seq(
      ("by_user", Seq(col("user_id"), col("event_id"))),
      ("zorder", Seq(Layout.zorderKey(ub, kb, ZNormBits),
        col("user_id"), col("k"), col("event_id"))))
    layouts.map { case (name, sortCols) =>
      executePruned(spark, "q251",
        writeUnits(ev, sortCols, s"q251_${name}_$san", unitRows),
        Seq("event_id", "user_id", "k"), zorderPredicates)
        .select(lit(name).as("layout"), col("*"))
    }.reduce(_ unionByName _).orderBy("layout", "predicate")
  }

  /** q254's unit size. 128 rows makes the k-dictionary's completeness a
    * THEOREM, not a measurement: k's domain is at most 100 values, so a
    * unit's dictionary is ≤ 800 bytes and its bit-packed indices ≤ 112
    * + headers — always under the 1024-byte plain encoding, so
    * parquet-mr's fallback ratio check can never abandon the dictionary
    * (the guaranteed-margin stance of the q191 fixture lesson: a
    * marginal 64-row unit COULD fall back on an unlucky distinct draw).
    */
  private[graft] val DictPruneRows = 128L

  /** The complete value domain of `column` in one unit file, read from
    * its DICTIONARY PAGE ONLY — zero data pages touched. Loud
    * preconditions: the chunk's footer encodings must prove the
    * dictionary is a COMPLETE membership set (a dictionary encoding
    * present, PLAIN absent — parquet-mr lists PLAIN exactly when some
    * data page fell back, after which the dictionary no longer covers
    * the chunk and membership pruning would be UNSOUND).
    */
  private[graft] def dictDomain(path: String, column: String): Set[Long] = {
    val (leaves, chunks) = parseFooter(path)
    val li = leaves.indexWhere(_.name == column)
    require(li >= 0, s"q254: no column '$column' in $path")
    chunks(li).foreach { cs =>
      require(cs.encodings.exists(EncDictionary),
        s"q254: '$column' in $path carries no dictionary encoding — " +
          "nothing to prune by; refusing (a stats-only planner must not " +
          "silently masquerade as a dictionary planner)")
      require(!cs.encodings.contains(0),
        s"q254: '$column' in $path lists PLAIN among its data encodings " +
          "— the writer fell back mid-chunk, the dictionary is not a " +
          "complete membership set; membership pruning would be unsound")
    }
    decodeColumnChunk(path, column, dictOnly = true).longs.toSet
  }

  /** q254's point-predicate workload: four INTERIOR k values (domain
    * edges excluded deliberately — an edge value can sit outside a
    * unit's [min,max] envelope, letting stats prune it and muddying the
    * structural claim; for interior values the envelope covers them
    * with probability ~1, so the stats leg is provably blind and every
    * skip below is the dictionary's alone).
    */
  private[graft] val DictPruneValues = Seq(25L, 37L, 60L, 80L)

  /** q254: DICTIONARY-PAGE PRUNED SCAN — the pruning min/max stats
    * CANNOT do. Under the by_user layout, k is scattered: every unit's
    * [min,max] envelope covers the whole domain, so the q245 overlap
    * rule reads all of them (`groups_read_stats` = groups_total — the
    * pinned structural fact). But each 128-row unit holds only ~72 of
    * k's 100 values, and the unit's dictionary page lists EXACTLY which
    * — so membership in the dictionary is a sound, exact skip test for
    * a point predicate (parquet-mr's own "dictionary filtering"; the
    * same decision an Iceberg reader makes from a value-set manifest).
    * Per unit the planner reads ONE dictionary page (≤ 800 bytes), zero
    * data pages; the executed scan opens only dictionary-positive units
    * and the q245 xor proof pins the skip lossless. Both planning legs
    * are emitted side by side — the report card is groups_read_dict <
    * groups_read_stats at equal (n_match, match_xor).
    */
  /** q254's fixture bound: the base user population. Dictionary pruning
    * is INTRINSICALLY a small-unit technique (128 rows keeps ~28% of a
    * 100-value domain absent per unit; a scale-honest 62k-row unit
    * misses nothing), so the miniaturized layout is part of the
    * operator's contract — but materializing it over an ever-growing
    * corpus only measures single-threaded file creation, not membership
    * pruning (22 s of the suite's wall at sf0.1, measured). The bounded
    * fixture keeps the corpus ~constant across SFs (a dimension-table
    * bound, the house stance for intrinsically bounded tiers) while the
    * operator's real per-unit work — ONE ≤800-byte dictionary page —
    * stays exactly what it is at any scale.
    */
  private[graft] val DictPruneUsers = 15L

  private[graft] def dictPrunedScan(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val ev = graft.Tables(spark, dir, "events")
      .filter(col("user_id") < DictPruneUsers)
      .select(col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val units = writeUnits(ev, Seq(col("user_id"), col("event_id")),
      "q254_" + dir.replaceAll("[^A-Za-z0-9]", "_"), DictPruneRows)
    val domains = units.map(u => u.path -> dictDomain(u.path, "k")).toMap
    val preds = DictPruneValues.map { v =>
      (s"k_eq_$v", (u: UnitStats) => domains(u.path).contains(v),
        col("k") === v)
    }
    val base = executePruned(spark, "q254", units,
      Seq("event_id", "user_id", "k"), preds)
    val statsLeg = DictPruneValues.map { v =>
      (s"k_eq_$v",
        units.count(u => u.lo("k") <= v && u.hi("k") >= v).toLong)
    }.toDF("p", "groups_read_stats")
    base.join(statsLeg, base("predicate") === col("p"))
      .select(col("predicate"), col("groups_total"),
        col("groups_read_stats"), col("groups_read").as("groups_read_dict"),
        col("rows_read"), col("n_match"), col("match_xor"))
      .orderBy("predicate")
  }

  // ---- q256: split-block bloom filters — point pruning past stats ------

  /** XXH64 (xxHash 64-bit, public algorithm/spec by Yann Collet), the
    * hash parquet split-block bloom filters key on. Pure JDK, seed 0 —
    * input is the value's PLAIN encoding (8-byte LE for INT64).
    */
  private[graft] def xxh64(data: Array[Byte], seed: Long = 0L): Long = {
    val P1 = -7046029288634856825L // 0x9E3779B185EBCA87
    val P2 = -4417276706812531889L // 0xC2B2AE3D27D4EB4F
    val P3 = 1609587929392839161L  // 0x165667B19E3779F9
    val P4 = -8796714831421723037L // 0x85EBCA77C2B2AE63
    val P5 = 2870177450012600261L  // 0x27D4EB2F165667C5
    val len = data.length
    def rotl(x: Long, r: Int): Long = java.lang.Long.rotateLeft(x, r)
    def round(acc: Long, x: Long): Long = rotl(acc + x * P2, 31) * P1
    var p = 0
    var h =
      if (len >= 32) {
        var v1 = seed + P1 + P2; var v2 = seed + P2
        var v3 = seed; var v4 = seed - P1
        while (p + 32 <= len) {
          v1 = round(v1, leLong8(data, p))
          v2 = round(v2, leLong8(data, p + 8))
          v3 = round(v3, leLong8(data, p + 16))
          v4 = round(v4, leLong8(data, p + 24))
          p += 32
        }
        var acc = rotl(v1, 1) + rotl(v2, 7) + rotl(v3, 12) + rotl(v4, 18)
        acc = (acc ^ round(0L, v1)) * P1 + P4
        acc = (acc ^ round(0L, v2)) * P1 + P4
        acc = (acc ^ round(0L, v3)) * P1 + P4
        (acc ^ round(0L, v4)) * P1 + P4
      } else seed + P5
    h += len
    while (p + 8 <= len) {
      h ^= round(0L, leLong8(data, p))
      h = rotl(h, 27) * P1 + P4
      p += 8
    }
    if (p + 4 <= len) {
      h ^= (leInt4(data, p) & 0xffffffffL) * P1
      h = rotl(h, 23) * P2 + P3
      p += 4
    }
    while (p < len) {
      h ^= (data(p) & 0xffL) * P5
      h = rotl(h, 11) * P1
      p += 1
    }
    h ^= h >>> 33; h *= P2; h ^= h >>> 29; h *= P3; h ^= h >>> 32
    h
  }

  /** The eight SBBF salt constants (parquet-format BloomFilter.md). */
  private val BloomSalt = Array(0x47b6137b, 0x44974d91, 0x8824ad5b,
    0xa2b7289d.toInt, 0x705495c7, 0x2df1424b, 0x9efc4947.toInt, 0x5c6bfb31)

  /** One column chunk's split-block bloom filter: 32-byte blocks of
    * eight 32-bit words; a value sets one salt-derived bit per word in
    * one hash-selected block. Membership = all eight bits set — no
    * false negatives (the soundness direction pruning rides), bounded
    * false positives (which only cost a read, never a wrong answer).
    */
  private[graft] final class SplitBlockBloom(bits: Array[Byte]) {
    require(bits.length >= 32 && bits.length % 32 == 0,
      s"q256: SBBF bitset of ${bits.length} bytes is not whole 32-byte blocks")
    private val numBlocks = bits.length / 32
    def mightContain(h: Long): Boolean = {
      val block = (((h >>> 32) * numBlocks.toLong) >>> 32).toInt
      val key = h.toInt
      var i = 0
      while (i < 8) {
        val bit = (key * BloomSalt(i)) >>> 27
        if (((leInt4(bits, block * 32 + i * 4) >>> bit) & 1) == 0)
          return false
        i += 1
      }
      true
    }
  }

  /** Read `column`'s SBBF from `path`'s footer-recorded offset. Loud
    * preconditions throughout: the chunk must record both bloom fields,
    * and the BloomFilterHeader must spell the one audited combination
    * (BLOCK algorithm, XXHASH, UNCOMPRESSED) — anything else refuses
    * rather than probing bits under the wrong scheme.
    */
  private[graft] def readBloom(path: String, column: String): SplitBlockBloom = {
    val (leaves, chunks) = parseFooter(path)
    val li = leaves.indexWhere(_.name == column)
    require(li >= 0, s"q256: no column '$column' in $path")
    val cs = chunks(li).head
    require(cs.bloomOffset >= 0 && cs.bloomLength > 0,
      s"q256: '$column' in $path carries no bloom filter (offset/length " +
        "absent) — a planner cannot point-prune it; refusing")
    val raf = new java.io.RandomAccessFile(path, "r")
    val win = new Array[Byte](cs.bloomLength)
    try { raf.seek(cs.bloomOffset); raf.readFully(win) } finally raf.close()
    val r = new CompactReader(win)
    var numBytes = -1; var algo = -1; var hash = -1; var comp = -1
    r.struct { (id, t) =>
      (id, t) match {
        case (1, _)  => numBytes = r.zigzag().toInt
        case (2, 12) => r.struct { (fid, ft) => algo = fid; r.skip(ft) }
        case (3, 12) => r.struct { (fid, ft) => hash = fid; r.skip(ft) }
        case (4, 12) => r.struct { (fid, ft) => comp = fid; r.skip(ft) }
        case (_, wt) => r.skip(wt)
      }
    }
    require(numBytes > 0, s"q256: bloom header without numBytes in $path")
    require(algo == 1 && hash == 1 && comp == 1,
      s"q256: bloom header (algo=$algo hash=$hash comp=$comp) outside the " +
        "audited BLOCK/XXHASH/UNCOMPRESSED scope; refusing")
    require(r.p + numBytes <= win.length,
      s"q256: bloom bitset overruns its recorded length in $path")
    new SplitBlockBloom(java.util.Arrays.copyOfRange(win, r.p, r.p + numBytes))
  }

  /** An INT64's plain encoding — the bytes parquet bloom filters hash. */
  private def plainLong(v: Long): Array[Byte] = {
    val b = new Array[Byte](8)
    var i = 0
    while (i < 8) { b(i) = ((v >>> (8 * i)) & 0xff).toByte; i += 1 }
    b
  }

  /** q256's point-lookup workload: interior doc_ids (same stance as
    * q254's interior values — a 64-row unit's doc_id envelope covers an
    * interior point with probability ~1, so the stats leg is provably
    * blind and every skip is the bloom filter's).
    */
  private[graft] val BloomProbeIds = Seq(166L, 250L, 333L, 417L)

  /** q256: BLOOM-FILTER PRUNED SCAN — the pruning NOTHING else in the
    * metadata tier can make. A point lookup on a high-cardinality
    * UNSORTED key defeats both prior planners: the unit's [min,max]
    * envelope is full-width (q245's rule reads everything — emitted as
    * groups_read_stats), and the dictionary does not exist (parquet-mr
    * falls back on unique values — exactly the refusal q254 pins on
    * event_id). The production answer is the split-block bloom filter
    * the writer embeds per chunk (Iceberg/Delta carry the same
    * structure): ~2 bytes/value of metadata answers "is doc_id = v
    * possibly here?" with no false negatives. The planner probes ONE
    * bloom per unit (zero data pages), opens only bloom-positive units,
    * and the q245 xor proof pins the skip lossless.
    *
    * Output carries only SQL-derivable columns (groups_nonempty = units
    * truly containing the id — on this dense fixture the bloom's
    * resolving power; the engine-side bloom-positive count is withheld
    * from the contract because a false positive, while sound and
    * byte-deterministic, is not SQL-expressible — the q19/q172
    * statistical-bound stance; the spec pins the measured FP count
    * instead). In-engine, the aggregate effectiveness guard raises if
    * the blooms prune nothing.
    */
  private[graft] def bloomPrunedScan(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    // adaptive units; the bloom NDV hint must track the unit size (a
    // filter sized for 64 values saturates at 31k inserts and stops
    // pruning — the in-engine effectiveness guard below would raise)
    val unitRows = adaptiveUnitRows(docs.count())
    val units = writeUnits(docs, Seq(col("n_chars"), col("doc_id")),
      "q256_" + dir.replaceAll("[^A-Za-z0-9]", "_"), unitRows,
      writeOptions = Map(
        "parquet.bloom.filter.enabled#doc_id" -> "true",
        "parquet.bloom.filter.expected.ndv#doc_id" -> unitRows.toString))
    val blooms = units.map(u => u.path -> readBloom(u.path, "doc_id")).toMap
    val preds = BloomProbeIds.map { v =>
      val h = xxh64(plainLong(v))
      (s"docid_eq_$v", (u: UnitStats) => blooms(u.path).mightContain(h),
        col("doc_id") === v)
    }
    require(preds.map { case (_, keep, _) => units.count(keep) }.sum <
      units.size * preds.size,
      "q256: the blooms pruned nothing across the whole workload — " +
        "either the writer ignored the bloom options or the probe is wrong")
    val base = executePruned(spark, "q256", units,
      Seq("doc_id", "source", "lang", "n_chars"), preds)
    val legs = BloomProbeIds.map { v =>
      val stats = units.count(u => u.lo("doc_id") <= v && u.hi("doc_id") >= v)
      val surviving = units.filter { u => blooms(u.path).mightContain(xxh64(plainLong(v))) }
      val nonEmpty =
        if (surviving.isEmpty) 0L
        else spark.read.parquet(surviving.map(_.path): _*)
          .filter(col("doc_id") === v)
          .select(input_file_name()).distinct().count()
      (s"docid_eq_$v", stats.toLong, nonEmpty)
    }.toDF("p", "groups_read_stats", "groups_nonempty")
    base.join(legs, base("predicate") === col("p"))
      .select(col("predicate"), col("groups_total"),
        col("groups_read_stats"), col("groups_nonempty"),
        col("n_match"), col("match_xor"))
      .orderBy("predicate")
  }

  // ---- q258: nested LIST decode — Dremel rep/def assembly --------------

  /** Decode a standard 3-level LIST-of-BYTE_ARRAY column (the shape
    * Spark writes for `array<string>`: optional group (LIST) > repeated
    * group list > optional element) back into per-record string arrays
    * — the Dremel assembly the flat decoder (q249) deliberately
    * scoped out. Per v1 page the body is [4-byte-len repetition levels]
    * [4-byte-len definition levels] [values], level widths DERIVED from
    * the real schema (a non-nullable array writes a required outer
    * group — maxDef 2; a nullable one maxDef 3; both audited): rep = 0
    * starts a new record, def = maxDef carries an element, def =
    * maxDef-2 is an empty list; null lists/elements are outside the
    * audited scope and refuse loudly. Records may span pages (the
    * assembly never resets at a page boundary). Dictionary and plain
    * value encodings both handled, pages inflated per [[inflatePage]].
    */
  private[graft] def decodeListStrChunk(path: String, column: String)
      : Seq[Seq[String]] = {
    val (leaves, chunks) = parseFooter(path)
    // resolve by the ANCESTOR PATH, not first-match (r14 ADVICE): the
    // standard 3-level shape is column > list > element, so the leaf
    // whose outermost group is `column` is the one requested — on a
    // file with several LIST columns first-match silently decoded the
    // wrong one while error messages cited the requested name
    val lis = leaves.zipWithIndex.filter { case (l, _) =>
      l.name == "element" && l.depth == 3 && l.path.headOption.contains(column)
    }.map(_._2)
    require(lis.size == 1,
      s"q258: expected exactly one 3-level list leaf under '$column' in " +
        s"$path, found ${lis.size}")
    val li = lis.head
    require(leaves(li).physical == 6,
      s"q258: list decode scope is BYTE_ARRAY elements, got ${leaves(li).physical}")
    // Dremel widths from the REAL schema (a non-nullable array writes a
    // required outer group — maxDef 2; a nullable one maxDef 3)
    val maxDef = leaves(li).maxDef
    val maxRep = leaves(li).maxRep
    require(maxRep == 1 && (maxDef == 2 || maxDef == 3),
      s"q258: unexpected level widths (maxDef=$maxDef maxRep=$maxRep) — " +
        "only the standard 3-level list shape is audited")
    val bwDef = 32 - Integer.numberOfLeadingZeros(maxDef)
    val rows = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    var current: scala.collection.mutable.ArrayBuffer[String] = null
    def closeRow(): Unit =
      if (current != null) { rows += current.toSeq; current = null }
    val raf = new java.io.RandomAccessFile(path, "r")
    try {
      chunks(li).foreach { cs =>
        require(cs.dataPageOffset >= 0 && cs.totalCompressedSize > 0,
          s"q258: chunk offsets missing for '$column' in $path")
        val start = if (cs.dictPageOffset >= 0)
          math.min(cs.dictPageOffset, cs.dataPageOffset)
        else cs.dataPageOffset
        val win = new Array[Byte](cs.totalCompressedSize.toInt)
        raf.seek(start); raf.readFully(win)
        val r = new CompactReader(win)
        var dict: Array[String] = null
        var read = 0L
        while (read < cs.numValues) {
          var ptype = -1; var ups = -1; var cps = -1
          var dpNum = -1; var dpEnc = -1; var dlEnc = -1; var rlEnc = -1
          var dictNum = -1; var dictEnc = -1
          r.struct { (id, t) =>
            (id, t) match {
              case (1, _) => ptype = r.zigzag().toInt
              case (2, _) => ups = r.zigzag().toInt
              case (3, _) => cps = r.zigzag().toInt
              case (5, 12) => r.struct { (fid, ft) =>
                (fid, ft) match {
                  case (1, _) => dpNum = r.zigzag().toInt
                  case (2, _) => dpEnc = r.zigzag().toInt
                  case (3, _) => dlEnc = r.zigzag().toInt
                  case (4, _) => rlEnc = r.zigzag().toInt
                  case _      => r.skip(ft)
                }
              }
              case (7, 12) => r.struct { (fid, ft) =>
                (fid, ft) match {
                  case (1, _) => dictNum = r.zigzag().toInt
                  case (2, _) => dictEnc = r.zigzag().toInt
                  case _      => r.skip(ft)
                }
              }
              case (_, wt) => r.skip(wt)
            }
          }
          require(ups > 0 && cps > 0 && r.p + cps <= win.length,
            s"q258: malformed page at offset ${r.p} in $path")
          val body = r.p
          val pg = inflatePage(cs.codec,
            java.util.Arrays.copyOfRange(win, body, body + cps), ups, path)
          ptype match {
            case 2 =>
              require(dictEnc == 0 || dictEnc == 2,
                s"q258: dictionary page encoding $dictEnc — not PLAIN")
              require(dictNum >= 0, "q258: dictionary page without a count")
              val a = new Array[String](dictNum)
              var p = 0; var i = 0
              while (i < dictNum) {
                val len = leInt4(pg, p); p += 4
                a(i) = new String(pg, p, len, "UTF-8"); p += len; i += 1
              }
              dict = a
            case 0 =>
              require(dpNum > 0, "q258: data page without a value count")
              require(rlEnc == 3 && dlEnc == 3,
                s"q258: level encodings ($rlEnc/$dlEnc) — v1 pages carry RLE")
              var p = 0
              val reps = new Array[Int](dpNum)
              val rlLen = leInt4(pg, p); p += 4
              readHybrid(pg, p, maxRep, dpNum, reps); p += rlLen
              val defs = new Array[Int](dpNum)
              val dlLen = leInt4(pg, p); p += 4
              readHybrid(pg, p, bwDef, dpNum, defs); p += dlLen
              val nVals = defs.count(_ == maxDef)
              val vals: Array[String] = dpEnc match {
                case 0 =>
                  val a = new Array[String](nVals)
                  var i = 0
                  while (i < nVals) {
                    val len = leInt4(pg, p); p += 4
                    a(i) = new String(pg, p, len, "UTF-8"); p += len; i += 1
                  }
                  a
                case 2 | 8 =>
                  require(dict != null,
                    s"q258: dictionary-encoded page before its dictionary")
                  val bw = pg(p) & 0xff; p += 1
                  val idx = new Array[Int](nVals)
                  readHybrid(pg, p, bw, nVals, idx)
                  idx.map(dict)
                case e => throw new IllegalStateException(
                  s"q258: data page encoding $e outside the audited scope")
              }
              var i = 0; var vi = 0
              while (i < dpNum) {
                if (reps(i) == 0) { closeRow(); current =
                  scala.collection.mutable.ArrayBuffer.empty[String] }
                defs(i) match {
                  case d if d == maxDef => current += vals(vi); vi += 1
                  case d if d == maxDef - 2 => // empty list: the record
                    // exists, no elements (defined down to the LIST
                    // group but no repeated entry)
                  case d => throw new IllegalStateException(
                    s"q258: definition level $d (null list/element) outside " +
                      "the audited non-null scope; refusing")
                }
                i += 1
              }
              read += dpNum
            case t => throw new IllegalStateException(
              s"q258: unexpected page type $t in $path")
          }
          r.p = body + cps
        }
      }
    } finally raf.close()
    closeRow()
    rows.toSeq
  }

  /** q258: NESTED LIST DECODE — the flat-scope boundary retired. The
    * probe writes documents as (doc_id, words = split(text)) — a real
    * repeated column — then reassembles every record's array from
    * repetition/definition levels and proves the reconstruction
    * TOKEN-EXACT per row: the decoded list's sentinel-joined md5 must
    * equal the oracle's md5 of the original text with spaces replaced
    * by the sentinel. One red row anywhere = a mis-assembled record.
    */
  private[graft] def listDecodeProbe(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val out = System.getProperty("java.io.tmpdir") + "/graft_q258_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("words"))
      .repartition(1).sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite").parquet(out)
    val file = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).map(_.getPath).sorted.headOption
      .getOrElse(throw new IllegalStateException(s"q258: no part file in $out"))
    val ids = decodeColumnChunk(file, "doc_id").longs
    val lists = decodeListStrChunk(file, "words")
    require(ids.size == lists.size,
      s"q258: ${ids.size} ids vs ${lists.size} reassembled records")
    val rows = ids.zip(lists).map { case (id, ws) =>
      (id, ws.size.toLong, md5Fold60(ws.mkString("\u0001")))
    }
    rows.toDF("doc_id", "n_words", "words_md5").orderBy("doc_id")
  }

  // ---- q257: page-level pruning via the parquet page indexes ----------

  private[graft] case class PageLoc(offset: Long, compressedSize: Int,
      firstRow: Long)

  /** OffsetIndex: where each data page of `column`'s first chunk lives
    * (offset, compressed size, first row index) — parquet-mr writes it
    * by default; its whole purpose is exactly this read pattern.
    */
  private[graft] def readOffsetIndex(path: String, column: String)
      : Seq[PageLoc] = {
    val (leaves, chunks) = parseFooter(path)
    val li = leaves.indexWhere(_.name == column)
    require(li >= 0, s"q257: no column '$column' in $path")
    val cs = chunks(li).head
    require(cs.offsetIndexOffset >= 0 && cs.offsetIndexLength > 0,
      s"q257: '$column' in $path carries no OffsetIndex; refusing")
    val win = new Array[Byte](cs.offsetIndexLength)
    val raf = new java.io.RandomAccessFile(path, "r")
    try { raf.seek(cs.offsetIndexOffset); raf.readFully(win) }
    finally raf.close()
    val r = new CompactReader(win)
    val locs = scala.collection.mutable.ArrayBuffer.empty[PageLoc]
    r.struct { (id, t) =>
      (id, t) match {
        case (1, 9) => // page_locations: list<PageLocation>
          val (et, n) = r.listHeader()
          require(et == 12, s"q257: page_locations of element type $et")
          var i = 0
          while (i < n) {
            var off = -1L; var size = -1; var first = -1L
            r.struct { (fid, ft) =>
              (fid, ft) match {
                case (1, _) => off = r.zigzag()
                case (2, _) => size = r.zigzag().toInt
                case (3, _) => first = r.zigzag()
                case _      => r.skip(ft)
              }
            }
            require(off >= 0 && size > 0 && first >= 0,
              s"q257: incomplete PageLocation in $path")
            locs += PageLoc(off, size, first)
            i += 1
          }
        case (_, wt) => r.skip(wt)
      }
    }
    require(locs.nonEmpty, s"q257: empty OffsetIndex in $path")
    locs.toSeq
  }

  /** ColumnIndex for an INT64 column's first chunk: per-page
    * (null_page, min, max) plus the boundary order — the page-granular
    * twin of the q239 footer stats. Bool list elements occupy one byte
    * each in thrift compact (the r13 ADVICE lesson, here on the READ
    * path): values 1/2, anything else refuses.
    */
  private[graft] def readColumnIndex(path: String, column: String)
      : (Seq[Boolean], Seq[Long], Seq[Long], Int) = {
    val (leaves, chunks) = parseFooter(path)
    val li = leaves.indexWhere(_.name == column)
    require(li >= 0, s"q257: no column '$column' in $path")
    require(leaves(li).physical == 2,
      s"q257: page-index scope is INT64, '$column' is ${leaves(li).physical}")
    val cs = chunks(li).head
    require(cs.columnIndexOffset >= 0 && cs.columnIndexLength > 0,
      s"q257: '$column' in $path carries no ColumnIndex; refusing")
    val win = new Array[Byte](cs.columnIndexLength)
    val raf = new java.io.RandomAccessFile(path, "r")
    try { raf.seek(cs.columnIndexOffset); raf.readFully(win) }
    finally raf.close()
    val r = new CompactReader(win)
    var nullPages = Seq.empty[Boolean]
    var mins = Seq.empty[Long]; var maxs = Seq.empty[Long]
    var boundary = -1
    r.struct { (id, t) =>
      (id, t) match {
        case (1, 9) => // null_pages: list<bool> — one byte per element
          val (et, n) = r.listHeader()
          require(et == 1 || et == 2, s"q257: null_pages of element type $et")
          nullPages = (0 until n).map { _ =>
            val v = r.u8()
            require(v == 1 || v == 2,
              s"q257: bool list element $v outside the 1/2 encoding")
            v == 1
          }
        case (2, 9) =>
          val (et, n) = r.listHeader()
          require(et == 8, s"q257: min_values of element type $et")
          mins = (0 until n).map(_ => leLong(r.bytes()))
        case (3, 9) =>
          val (et, n) = r.listHeader()
          require(et == 8, s"q257: max_values of element type $et")
          maxs = (0 until n).map(_ => leLong(r.bytes()))
        case (4, _) => boundary = r.zigzag().toInt
        case (_, wt) => r.skip(wt)
      }
    }
    require(nullPages.size == mins.size && mins.size == maxs.size &&
      mins.nonEmpty, s"q257: ragged ColumnIndex lists in $path")
    require(boundary >= 0, s"q257: ColumnIndex without boundary_order")
    (nullPages, mins, maxs, boundary)
  }

  /** Decode ONE v1 data page of a PLAIN INT64 column at `loc` — the
    * targeted read page pruning exists for: seek straight to the
    * surviving page, never touch the others.
    */
  private[graft] def decodeLongPage(path: String, loc: PageLoc, codec: Int,
      maxDef: Int): Seq[Long] = {
    val win = new Array[Byte](loc.compressedSize)
    val raf = new java.io.RandomAccessFile(path, "r")
    try { raf.seek(loc.offset); raf.readFully(win) } finally raf.close()
    val r = new CompactReader(win)
    var ptype = -1; var ups = -1; var cps = -1
    var dpNum = -1; var dpEnc = -1; var dlEnc = -1
    r.struct { (id, t) =>
      (id, t) match {
        case (1, _) => ptype = r.zigzag().toInt
        case (2, _) => ups = r.zigzag().toInt
        case (3, _) => cps = r.zigzag().toInt
        case (5, 12) => r.struct { (fid, ft) =>
          (fid, ft) match {
            case (1, _) => dpNum = r.zigzag().toInt
            case (2, _) => dpEnc = r.zigzag().toInt
            case (3, _) => dlEnc = r.zigzag().toInt
            case _      => r.skip(ft)
          }
        }
        case (_, wt) => r.skip(wt)
      }
    }
    require(ptype == 0, s"q257: expected a v1 data page at ${loc.offset}, " +
      s"got page type $ptype")
    require(dpEnc == 0, s"q257: targeted page decode scope is PLAIN, " +
      s"got encoding $dpEnc")
    require(dpNum > 0 && ups > 0 && cps > 0 && r.p + cps <= win.length,
      s"q257: malformed page at ${loc.offset} in $path")
    val pg = inflatePage(codec,
      java.util.Arrays.copyOfRange(win, r.p, r.p + cps), ups, path)
    var p = 0
    var nNonNull = dpNum
    if (maxDef == 1) {
      require(dlEnc == 3, s"q257: def-level encoding $dlEnc — not RLE")
      val dlLen = leInt4(pg, p); p += 4
      val defs = new Array[Int](dpNum)
      readHybrid(pg, p, 1, dpNum, defs)
      p += dlLen
      nNonNull = defs.count(_ == 1)
    }
    val out = new Array[Long](nNonNull)
    var i = 0
    while (i < nNonNull) { out(i) = leLong8(pg, p + 8 * i); i += 1 }
    out.toSeq
  }

  /** q257's page geometry: the writer flushes a page every PageRows
    * rows (`parquet.page.row.count.limit`), making the oracle's
    * chunk arithmetic exact.
    */
  private[graft] val PageRows = 64L

  private[graft] val PagePredicates: Seq[(String, Long, Long)] = Seq(
    ("id_100_149", 100L, 149L),
    ("id_250_250", 250L, 250L),
    ("id_300_499", 300L, 499L))

  /** q257: PAGE-LEVEL PRUNED SCAN — the pruning granularity BELOW
    * q245's row groups, driven by the parquet PAGE INDEXES (ColumnIndex
    * min/max + OffsetIndex locations, both written by parquet-mr by
    * default): per range predicate on the sort key, decide surviving
    * PAGES from the index alone, seek straight to each surviving page
    * and decode ONLY it, and prove the skip lossless against the full
    * chunk decode (raise on divergence — the q245 discipline one level
    * down). This is where page skipping actually runs in production —
    * INSIDE a scan task, after file/row-group pruning (q245) has done
    * the distributed part; the emitted counts price the same arithmetic
    * at page granularity (pages_total vs pages_read vs rows_read).
    */
  private[graft] def pagePrunedScan(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val out = System.getProperty("java.io.tmpdir") + "/graft_q257_" +
      dir.replaceAll("[^A-Za-z0-9]", "_")
    graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"))
      .repartition(1).sortWithinPartitions(col("doc_id"))
      .write.mode("overwrite")
      .option("parquet.page.row.count.limit", PageRows)
      // the writer's first page-size check defaults to row 100, which
      // would make page 0 a 100-row page and break the oracle's uniform
      // chunk arithmetic — check from the first row so the limit binds
      .option("parquet.page.size.row.check.min", "1")
      .parquet(out)
    val file = new java.io.File(out).listFiles()
      .filter(f => f.getName.startsWith("part-") &&
        f.getName.endsWith(".parquet")).map(_.getPath).sorted.headOption
      .getOrElse(throw new IllegalStateException(s"q257: no part file in $out"))
    val (leaves, chunks) = parseFooter(file)
    val li = leaves.indexWhere(_.name == "doc_id")
    val cs = chunks(li).head
    val maxDef = if (leaves(li).repetition == 0) 0 else 1
    val locs = readOffsetIndex(file, "doc_id")
    val (nullPages, mins, maxs, boundary) = readColumnIndex(file, "doc_id")
    require(locs.size == mins.size,
      s"q257: OffsetIndex (${locs.size}) and ColumnIndex (${mins.size}) disagree")
    require(locs.size > 1,
      "q257: the fixture must produce multiple pages or pruning is vacuous")
    require(boundary == 1, // ASCENDING — the layout is sorted on doc_id
      s"q257: expected ASCENDING boundary order on the sorted key, got $boundary")
    val pageRowsOf: Seq[Long] = locs.zipWithIndex.map { case (l, i) =>
      (if (i + 1 < locs.size) locs(i + 1).firstRow else cs.numValues) - l.firstRow
    }
    // the full-chunk decode is the in-engine truth the skip is proven
    // against (and itself proven against SQL by the oracle's match legs)
    val full = decodeColumnChunk(file, "doc_id").longs
    val rows = PagePredicates.map { case (name, lo, hi) =>
      val keep = locs.indices.filter(i =>
        !nullPages(i) && maxs(i) >= lo && mins(i) <= hi)
      val vals = keep.flatMap(i => decodeLongPage(file, locs(i), cs.codec, maxDef))
      val matches = vals.filter(v => v >= lo && v <= hi).sorted
      val fullMatches = full.filter(v => v >= lo && v <= hi).sorted
      require(matches == fullMatches,
        s"q257: page-pruned scan diverged from the full chunk on '$name' " +
          "— an unsound page skip dropped matching rows; refusing")
      val xor = matches.map(v => md5Fold60(v.toString)).foldLeft(0L)(_ ^ _)
      (name, locs.size.toLong, keep.size.toLong,
        keep.map(pageRowsOf).sum, matches.size.toLong, xor)
    }
    rows.toDF("predicate", "pages_total", "pages_read", "rows_read",
      "n_match", "match_xor")
      .orderBy("predicate")
  }

  // ---- q259: the house decoder as a DISTRIBUTED scan -------------------

  /** q259: HOUSE SCAN — the format tier composed into distributed
    * execution. Every prior format query decoded on the driver (the
    * probe stance); this one is the shape of a real reader: the unit
    * files are a Dataset of paths, each PARTITION decodes its files
    * with the same pure-JDK chunk decoder (executor-side — the closure
    * ships only the static Footer methods), the decoded columns zip
    * into rows, and a stock DataFrame aggregation runs on top with
    * map-side partials. The oracle never sees the house reader — it
    * recomputes the aggregate from the raw table, so every byte the
    * decoder mis-read would land as a red row THROUGH the aggregation.
    * This is a DataSource-v2 reader without the ceremony: partition =
    * file, task = decode, everything above is ordinary Catalyst.
    */
  private[graft] def houseScanRows(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val units = writeUnits(docs, Seq(col("doc_id")),
      "q259_" + dir.replaceAll("[^A-Za-z0-9]", "_"),
      adaptiveUnitRows(docs.count()))
    val paths = units.map(_.path)
    spark.createDataset(paths)
      .repartition(math.min(paths.size, 32))
      .mapPartitions { it =>
        it.flatMap { p =>
          val ids = decodeColumnChunk(p, "doc_id").longs
          val src = decodeColumnChunk(p, "source").strs
          val lng = decodeColumnChunk(p, "lang").strs
          val nch = decodeColumnChunk(p, "n_chars").longs
          require(ids.size == src.size && src.size == lng.size &&
            lng.size == nch.size,
            s"q259: ragged column lengths decoding $p — refusing to zip")
          ids.indices.iterator
            .map(i => (ids(i), src(i), lng(i), nch(i)))
        }
      }
      .toDF("doc_id", "source", "lang", "n_chars")
  }

  private[graft] def houseScan(spark: SparkSession, dir: String): DataFrame = {
    val decoded = houseScanRows(spark, dir)
    val sep = lit("\u0001")
    val rowHash = conv(substring(md5(concat(
      Seq("doc_id", "source", "lang", "n_chars")
        .flatMap(c => Seq(sep, col(c).cast("string"))): _*)),
      1, 15), 16, 10).cast("long")
    decoded.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("sum_chars"),
        countDistinct(col("lang")).as("n_langs"),
        bit_xor(rowHash).as("content_xor"))
      .orderBy("source")
  }

  // ---- q260: the pushdown house scan — pruning composed in one read ----

  /** Distributed house read of SELECTED columns from unit files: one
    * task per path, each decoding ONLY the requested columns (column
    * pruning at the decoder — unneeded chunks are never touched).
    * `cols` carries (name, isLong); ragged lengths refuse.
    */
  private[graft] def houseRead(spark: SparkSession, paths: Seq[String],
      cols: Seq[(String, Boolean)]): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(cols.map { case (n, isLong) =>
      StructField(n, if (isLong) LongType else StringType, nullable = false)
    })
    val rdd = spark.sparkContext
      .parallelize(paths, math.max(1, math.min(paths.size, 32)))
      .flatMap { p =>
        val decoded: Seq[IndexedSeq[Any]] = cols.map { case (n, isLong) =>
          val d = decodeColumnChunk(p, n)
          if (isLong) d.longs.toIndexedSeq else d.strs.toIndexedSeq
        }
        val sz = decoded.head.size
        require(decoded.forall(_.size == sz),
          s"q260: ragged column lengths decoding $p — refusing to zip")
        (0 until sz).iterator
          .map(i => org.apache.spark.sql.Row(decoded.map(_(i)): _*))
      }
    spark.createDataFrame(rdd, schema)
  }

  /** q260: PUSHDOWN HOUSE SCAN — the round's pruning structures
    * COMPOSED inside one distributed read. The driver plans from
    * metadata alone (footer min/max per unit + the doc_id bloom
    * filters: one tail-read + one ≤tens-of-bytes bloom per unit, zero
    * data pages), the executors then decode ONLY the surviving units
    * and ONLY the predicate's needed columns, and the whole thing is
    * proven lossless in-plan against Spark's own full read of the same
    * files (count + sentinel-canon xor over the same column subset —
    * raise on divergence). Three predicate classes: the sort-key range
    * (stats prune), the scattered point lookup (blooms prune where
    * stats are blind — the q256 fact, now inside a real scan), and
    * their CONJUNCTION (the surviving set is the intersection — the
    * composition a production reader performs on every query).
    * `units_stats_bound` (min/max arithmetic only) is the emitted,
    * oracle-checkable planning bound; the bloom-tightened read set
    * stays out of the contract for the q256 FP reason and is bounded
    * in-engine instead.
    */
  private[graft] def housePushdownScan(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val unitRows = adaptiveUnitRows(docs.count())
    val units = writeUnits(docs, Seq(col("n_chars"), col("doc_id")),
      "q260_" + dir.replaceAll("[^A-Za-z0-9]", "_"), unitRows,
      writeOptions = Map(
        "parquet.bloom.filter.enabled#doc_id" -> "true",
        "parquet.bloom.filter.expected.ndv#doc_id" -> unitRows.toString))
    val blooms = units.map(u => u.path -> readBloom(u.path, "doc_id")).toMap
    def statsRange(u: UnitStats) =
      u.lo("n_chars") <= 199L && u.hi("n_chars") >= 100L
    def statsPoint(u: UnitStats) =
      u.lo("doc_id") <= 250L && u.hi("doc_id") >= 250L
    def bloomPoint(u: UnitStats) =
      blooms(u.path).mightContain(xxh64(plainLong(250L)))
    val cases = Seq(
      ("nchars_100_199", Seq(("doc_id", true), ("n_chars", true)),
        (u: UnitStats) => statsRange(u),
        (u: UnitStats) => statsRange(u),
        col("n_chars").between(100L, 199L)),
      ("docid_eq_250", Seq(("doc_id", true), ("source", false)),
        (u: UnitStats) => statsPoint(u),
        (u: UnitStats) => statsPoint(u) && bloomPoint(u),
        col("doc_id") === 250L),
      ("conj", Seq(("doc_id", true), ("n_chars", true)),
        (u: UnitStats) => statsRange(u) && statsPoint(u),
        (u: UnitStats) => statsRange(u) && statsPoint(u) && bloomPoint(u),
        col("n_chars").between(100L, 199L) && col("doc_id") === 250L))
    val sep = lit("\u0001")
    cases.map { case (name, cols0, statsKeep, keep, cond) =>
      val surviving = units.filter(keep)
      require(surviving.size <= units.count(statsKeep),
        s"q260: bloom tightening must never widen the stats bound on $name")
      val rowHash0 = conv(substring(md5(concat(
        cols0.flatMap(c => Seq(sep, col(c._1).cast("string"))): _*)),
        1, 15), 16, 10).cast("long")
      val pruned = houseRead(spark, surviving.map(_.path), cols0)
        .filter(cond)
        .agg(count(lit(1)).as("n_match"),
          coalesce(bit_xor(rowHash0), lit(0L)).as("match_xor"))
      val full = spark.read.parquet(units.map(_.path): _*)
        .filter(cond)
        .agg(count(lit(1)).as("f_n"),
          coalesce(bit_xor(rowHash0), lit(0L)).as("f_x"))
      pruned.crossJoin(full)
        .filter(when(col("n_match") =!= col("f_n") ||
            col("match_xor") =!= col("f_x"),
          raise_error(lit(s"q260: pushdown scan diverged from the full " +
            s"read on '$name' — unsound prune or mis-decoded bytes; refusing")))
          .otherwise(lit(true)))
        .select(lit(name).as("predicate"),
          lit(units.size.toLong).as("units_total"),
          lit(units.count(statsKeep).toLong).as("units_stats_bound"),
          col("n_match"), col("match_xor"))
    }.reduce(_ unionByName _).orderBy("predicate")
  }

  // ---- q261: layout OPTIMIZE — re-clustering interleaved ingest runs ---

  /** q261's deterministic ingest simulation: the table arrives as this
    * many batches (batch = doc_id mod [[OptimizeBatches]] — both engines
    * re-derive it), each clustered LOCALLY on the sort key.
    */
  private[graft] val OptimizeBatches = 8L

  private[graft] val OptimizePredicates: Seq[(String, Long, Long)] = Seq(
    ("nchars_100_199", 100L, 199L),
    ("nchars_300_399", 300L, 399L),
    ("nchars_500_599", 500L, 599L))

  /** q261: LAYOUT OPTIMIZE — the compaction an append-per-batch
    * clustered ingest needs, executed and priced: per-batch clustering
    * leaves the table as interleaved batch-LOCAL sort runs (at the fixture's
    * fragmentation each run is a single unit spanning the key's WHOLE
    * range, so every range predicate reads every unit — the fully
    * fragmented state; at larger batch sizes the same effect appears
    * as units-opened multiplying by the run count), and
    * OPTIMIZE rewrites them into one GLOBAL clustered layout. Both
    * layouts execute the same predicate workload under the q245 xor
    * proof (both are SOUND — the overlap rule never false-skips on
    * either geometry; what changes is how many units survive), and the
    * output prices the rewrite: units_read_pre vs units_read_post at
    * identical (n_match, match_xor). This is the layout half of the
    * maintenance loop — q247/q250 reclaim dead ROWS, q261 reclaims
    * scattered CLUSTERING; a scheduler triggers it from exactly the
    * units_read regression this query measures.
    */
  private[graft] def optimizeCompaction(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val san = dir.replaceAll("[^A-Za-z0-9]", "_")
    val pre = (0L until OptimizeBatches).flatMap { b =>
      val part = docs.filter(pmod(col("doc_id"), lit(OptimizeBatches)) === b)
      writeUnits(part, Seq(col("n_chars"), col("doc_id")),
        s"q261_pre${b}_$san", adaptiveUnitRows(part.count()))
    }
    val post = writeUnits(docs, Seq(col("n_chars"), col("doc_id")),
      s"q261_post_$san", adaptiveUnitRows(docs.count()))
    val preds = OptimizePredicates.map { case (name, lo, hi) =>
      (name,
        (u: UnitStats) => u.lo("n_chars") <= hi && u.hi("n_chars") >= lo,
        col("n_chars").between(lo, hi))
    }
    // both geometries run the executed, xor-proven scan; the emitted
    // row splices their unit counts around the SHARED match legs
    val preScan = executePruned(spark, "q261", pre,
      Seq("doc_id", "source", "lang", "n_chars"), preds)
      .select(col("predicate").as("p1"),
        col("groups_total").as("units_pre"),
        col("groups_read").as("units_read_pre"))
    val postScan = executePruned(spark, "q261", post,
      Seq("doc_id", "source", "lang", "n_chars"), preds)
      .select(col("predicate"), col("groups_total").as("units_post"),
        col("groups_read").as("units_read_post"),
        col("n_match"), col("match_xor"))
    postScan.join(preScan, col("predicate") === col("p1"))
      .select(col("predicate"), col("units_pre"), col("units_read_pre"),
        col("units_post"), col("units_read_post"),
        col("n_match"), col("match_xor"))
      .orderBy("predicate")
  }

  // ---- q266: the house DSv2 source — pushdown through Catalyst --------

  /** q266: q260's pushdown workload reproduced through the STOCK read
    * path — `spark.read.format(classOf[HouseSource].getName).load(dir)`
    * — so Catalyst owns the pushdown contract the hand-built scan only
    * imitated: required-column analysis drives which chunks the house
    * decoder touches, translated `sources.Filter`s drive plan-time unit
    * pruning from footer stats (+ bloom tightening on the point
    * lookup), and every leg is proven lossless against Spark's own
    * parquet read of the same files (count + sentinel-canon xor over
    * the same column subset — a divergence refuses loudly). The emitted
    * `units_stats_bound` is the source's recorded stats-surviving count
    * — the oracle re-derives it from ROW_NUMBER chunk arithmetic, so a
    * source that plans from wrong stats lands red; the bloom-tightened
    * planned count stays out of the contract (q256's FP stance) and is
    * bounded in the spec.
    */
  private[graft] def dsv2PushdownScan(spark: SparkSession, dir: String)
      : DataFrame = {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val unitRows = adaptiveUnitRows(docs.count())
    val tag = "q266_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    writeUnits(docs, Seq(col("n_chars"), col("doc_id")), tag, unitRows,
      writeOptions = Map(
        "parquet.bloom.filter.enabled#doc_id" -> "true",
        "parquet.bloom.filter.expected.ndv#doc_id" -> unitRows.toString))
    val layoutDir = layoutDirFor(tag)
    val house = spark.read
      .format(classOf[graft.sources.HouseSource].getName).load(layoutDir)
    val cases = Seq(
      ("nchars_100_199", Seq("doc_id", "n_chars"),
        col("n_chars").between(100L, 199L)),
      ("docid_eq_250", Seq("doc_id", "source"), col("doc_id") === 250L),
      ("conj", Seq("doc_id", "n_chars"),
        col("n_chars").between(100L, 199L) && col("doc_id") === 250L))
    val sep = lit("\u0001")
    val rows = cases.map { case (name, cols0, cond) =>
      val rowHash = conv(substring(md5(concat(
        cols0.flatMap(c => Seq(sep, col(c).cast("string"))): _*)),
        1, 15), 16, 10).cast("long")
      def agg(df: DataFrame) = df
        .select(cols0.map(col): _*).filter(cond)
        .agg(count(lit(1)).as("n"),
          coalesce(bit_xor(rowHash), lit(0L)).as("x"))
        .as[(Long, Long)].head()
      val (nM, xM) = agg(house) // executes → the source records its plan
      val (total, statsBound, planned) = graft.sources.HouseSource.lastPlan
      require(planned <= statsBound && statsBound <= total,
        s"q266: bloom tightening widened the plan on $name " +
          s"($planned/$statsBound/$total)")
      val (fN, fX) = agg(spark.read.parquet(layoutDir))
      require(nM == fN && xM == fX,
        s"q266: the DSv2 house read diverged from Spark's parquet read " +
          s"on '$name' ($nM/$fN, $xM/$fX) — unsound prune or mis-decoded " +
          "bytes; refusing")
      (name, total, statsBound, nM, xM)
    }
    rows.toDF("predicate", "units_total", "units_stats_bound",
      "n_match", "match_xor")
      .orderBy("predicate")
  }

  // ---- q263: distributed clustered write — the geometry as rows -------

  /** q263: the DISTRIBUTED CLUSTERED WRITE surfaced as its own contract
    * row — the operator the whole pruned-scan tier (q245/q251/q254/
    * q256/q257/q259/q260/q261) rides
    * through [[writeUnits]], now executed as a range-partitioned
    * PARALLEL write with exact rank-derived unit boundaries. The query
    * emits one row per unit: its index, row count, and per-column
    * min/max read from the REAL footers the parallel write produced;
    * the oracle re-derives the identical geometry from ROW_NUMBER
    * chunking over the sort key — a file split landing anywhere but an
    * exact rank multiple, a unit out of order across tasks, or a wrong
    * footer statistic all land as red rows. The distribution facts
    * themselves (>1 write task, RangePartitioning exchanges) are
    * spec-pinned — not SQL-expressible.
    */
  private[graft] def distributedLayoutStats(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val units = writeUnits(docs, Seq(col("n_chars"), col("doc_id")),
      "q263_" + dir.replaceAll("[^A-Za-z0-9]", "_"),
      adaptiveUnitRows(docs.count()))
    units.zipWithIndex.map { case (u, i) =>
      (i.toLong, u.nRows, u.lo("n_chars"), u.hi("n_chars"),
        u.lo("doc_id"), u.hi("doc_id"))
    }.toDF("unit", "n_rows", "mn_nc", "mx_nc", "mn_id", "mx_id")
      .orderBy("unit")
  }

  /** q272: the DISTRIBUTED HOUSE WRITE registered — [[writeUnitsHouse]]
    * emits the all-house clustered layout (snappy pages + doc_id SBBF
    * blooms + manifest) from MANY tasks, and the output is q263's
    * geometry shape derived from the HOUSE files' own footer stats, so
    * the oracle's ROW_NUMBER chunking grades the distributed kernel's
    * exact rank alignment byte-for-byte. In-code proof legs (the q270
    * discipline): the multi-task pin (single-task layouts refuse when
    * more than one unit exists), and the full-content + point-lookup
    * reads must agree between the house DSv2 source and Spark's own
    * parquet reader over the same files — a wrong house byte from ANY
    * writer task diverges loudly rather than landing in the record.
    */
  private[graft] def distributedHouseWriteStats(spark: SparkSession,
      dir: String): DataFrame = {
    import spark.implicits._
    val docs = graft.Tables(spark, dir, "documents")
      .select(col("doc_id"), col("source"), col("lang"), col("n_chars"))
    val tag = "q272_" + dir.replaceAll("[^A-Za-z0-9]", "_")
    val (units, nTasks) = writeUnitsHouse(docs,
      Seq(col("n_chars"), col("doc_id")), tag,
      adaptiveUnitRows(docs.count()),
      HouseWriter.HouseSpec(snappy = true, bloomCols = Set("doc_id")))
    require(units.size <= 1 || nTasks > 1,
      s"q272: ${units.size} units written by $nTasks task(s) — the " +
        "distributed house write collapsed to a single writer")
    val layoutDir = layoutDirFor(tag)
    val house = spark.read
      .format(classOf[graft.sources.HouseSource].getName).load(layoutDir)
    val sparkRead = spark.read.parquet(units.map(_.path): _*)
    val sep = lit("\u0001")
    def legs(df: DataFrame): (Long, Long, Long) = {
      val rowHash = conv(substring(md5(concat(
        Seq("doc_id", "source", "lang", "n_chars")
          .flatMap(c => Seq(sep, col(c).cast("string"))): _*)),
        1, 15), 16, 10).cast("long")
      val (n, x) = df
        .agg(count(lit(1)), coalesce(bit_xor(rowHash), lit(0L)))
        .as[(Long, Long)].head()
      val p = df.filter(col("doc_id") === 250L).count()
      (n, x, p)
    }
    require(legs(house) == legs(sparkRead),
      "q272: the house read diverged from Spark's read of the " +
        "task-written layout — a house-written byte is wrong")
    units.zipWithIndex.map { case (u, i) =>
      (i.toLong, u.nRows, u.lo("n_chars"), u.hi("n_chars"),
        u.lo("doc_id"), u.hi("doc_id"))
    }.toDF("unit", "n_rows", "mn_nc", "mx_nc", "mn_id", "mx_id")
      .orderBy("unit")
  }

  /** Merged footer stats for one table that may be a single file (the
    * testdata layout) or a directory of part files (any Spark-written
    * table): one ranged tail-read per file, stats folded per column
    * (counts sum, min/max extremize — numerically for ints,
    * lexicographically for strings). The metadata read a catalog
    * maintains per table; used by q248's join advisor.
    */
  private[graft] def tableStats(dir: String, tbl: String): Map[String, ColStat] = {
    val root = new java.io.File(s"$dir/$tbl.parquet")
    val files =
      if (root.isDirectory)
        root.listFiles()
          .filter(f => f.getName.endsWith(".parquet") && f.length() > 0)
          .map(_.getPath).sorted.toSeq
      else Seq(root.getPath)
    require(files.nonEmpty, s"q248: no parquet files under $dir/$tbl.parquet")
    files.flatMap(p => readFooter(tbl, p))
      .groupBy(_.column)
      .map { case (c, ss) =>
        val h = ss.head
        require(ss.forall(_.physical == h.physical),
          s"q248: mixed physical types for $tbl.$c across part files")
        val (mn, mx) =
          if (h.physical == "BYTE_ARRAY")
            (ss.map(_.min_value).min, ss.map(_.max_value).max)
          else (ss.map(_.min_value.toLong).min.toString,
            ss.map(_.max_value.toLong).max.toString)
        c -> ColStat(tbl, c, h.physical, h.codec, ss.map(_.n_values).sum,
          ss.map(_.null_count).sum, mn, mx)
      }
  }

  /** The distributed footer scan: one ranged tail-read per file. */
  private[graft] def footerStats(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val files = graft.Tables.all.map(t => (t, s"$dir/$t.parquet"))
    spark.createDataset(files)
      .repartition(files.size)
      .mapPartitions(_.flatMap { case (t, p) => readFooter(t, p) })
      .toDF()
      .orderBy("tbl", "column")
  }

  /** The (table, column, select-expr) audit scope the ORACLE re-derives
    * from data — engine scope comes from the footer schema walk, oracle
    * scope from this list; a drift between the two fails the row-count
    * gate, so the inclusion predicate is itself checked.
    */
  private val OracleScope: Seq[(String, String, String)] = Seq(
    ("customer", "c_custkey", "INT64"),
    ("customer", "c_name", "BYTE_ARRAY"),
    ("customer", "c_nationkey", "INT32"),
    ("customer", "c_mktsegment", "BYTE_ARRAY"),
    ("documents", "doc_id", "INT64"),
    ("documents", "text", "BYTE_ARRAY"),
    ("documents", "lang", "BYTE_ARRAY"),
    ("documents", "source", "BYTE_ARRAY"),
    ("documents", "n_chars", "INT64"),
    ("embeddings", "vec_id", "INT64"),
    ("embeddings", "label", "INT32"),
    ("events", "event_id", "INT64"),
    ("events", "user_id", "INT64"),
    ("events", "event_type", "BYTE_ARRAY"),
    ("events", "props", "BYTE_ARRAY"),
    ("lineitem", "l_orderkey", "INT64"),
    ("lineitem", "l_partkey", "INT64"),
    ("lineitem", "l_suppkey", "INT64"),
    ("lineitem", "l_linenumber", "INT32"),
    ("lineitem", "l_returnflag", "BYTE_ARRAY"),
    ("lineitem", "l_linestatus", "BYTE_ARRAY"),
    ("nation", "n_nationkey", "INT32"),
    ("nation", "n_name", "BYTE_ARRAY"),
    ("nation", "n_regionkey", "INT32"),
    ("orders", "o_orderkey", "INT64"),
    ("orders", "o_custkey", "INT64"),
    ("orders", "o_orderstatus", "BYTE_ARRAY"),
    ("orders", "o_orderpriority", "BYTE_ARRAY"),
    ("part", "p_partkey", "INT64"),
    ("part", "p_name", "BYTE_ARRAY"),
    ("part", "p_brand", "BYTE_ARRAY"),
    ("part", "p_type", "BYTE_ARRAY"),
    ("part", "p_size", "INT32"),
    ("region", "r_regionkey", "INT32"),
    ("region", "r_name", "BYTE_ARRAY"),
    ("supplier", "s_suppkey", "INT64"),
    ("supplier", "s_name", "BYTE_ARRAY"),
    ("supplier", "s_nationkey", "INT32"))

  def queries: Map[String, Q] = Map(
    // q278 [north star, r17]: STOCK WRITE API AT FULL KERNEL SCOPE —
    // the write-side twin of q273's read closure (r16 verdict #6):
    // an array<string> column through df.write.format("house") routes
    // each task to q271's Dremel list kernel (distributed, manifest-
    // committed, DSv2-read token-exact vs Spark's read — in-code), and
    // option generation=v2 routes the flat kernel to q269's DELTA
    // pages (decode classes proven delta, house-read ≡ Spark-read).
    // Output is q271's token-exact shape off the DSv2 read of the
    // stock-API-written list table; oracle verbatim q271's.
    "q278_dsv2_list_write" -> ((spark, dir) =>
      HouseWriter.dsv2ListWriteRoundtrip(spark, dir)),

    // q279 [north star, r17]: HOUSE SNAPSHOT READS — q228's time
    // travel as a TABLE property: every DSv2 commit lands an immutable
    // versioned manifest (monotonic from the disk, surviving JVMs),
    // option("version", N) reads the table exactly as committed at N,
    // truncate resets history rather than leaving dangling versions,
    // and unknown/dangling versions refuse loudly. One aggregate row
    // per snapshot; oracle recomputes the generations from documents.
    "q279_house_snapshot_read" -> ((spark, dir) =>
      HouseWriter.houseSnapshotRead(spark, dir)),

    // q272 [north star, r16]: DISTRIBUTED HOUSE WRITE — the house
    // kernel leaves the driver: writeUnitsHouse runs the pure-JDK
    // writer PER TASK inside the exact-rank clustered write (one
    // snappy+bloom house file per unit, many tasks), the manifest is
    // the only driver write, and the output is q263's geometry derived
    // from the HOUSE files' own stats; house-read ≡ Spark-read proof
    // legs and the multi-task pin ride in-code.
    "q272_distributed_house_write" -> ((spark, dir) =>
      distributedHouseWriteStats(spark, dir)),

    // q273 [north star, r16]: LIST THROUGH THE STOCK API — the DSv2
    // scope gap closed: HouseSource's schema inference maps the
    // audited 3-level list-of-UTF8 shape to array<string> and its
    // reader rides the q258 Dremel assembler, so the q271 house-written
    // list file LOADS via spark.read.format(HouseSource); doc_id
    // pushdown proven count-equal against Spark's own read, output is
    // q271's token-exact shape off the DSv2 read, oracle verbatim.
    "q273_house_list_scan" -> ((spark, dir) =>
      HouseWriter.listScanDsv2(spark, dir)),

    // q276 [north star, r16]: THE STOCK WRITE API — df.write.format(
    // HouseSource) through a real DSv2 SupportsWrite: per-task house
    // kernels, stats-only commit messages, the manifest as the driver's
    // one write; overwrite TRUNCATEs the prior generation, append
    // merges its manifest zero-open; every leg house-read ≡ Spark-read.
    "q276_house_dsv2_write" -> ((spark, dir) =>
      HouseWriter.dsv2WriteRoundtrip(spark, dir)),

    // q239 [north star, r13]: REAL parquet footer statistics, read by
    // the engine's own byte-level thrift-compact walker and checked
    // against the DATA — the metadata a planner prunes by, proven to
    // say the truth. The codec column is the format-literal leg (the
    // q168 self-validating discipline); everything else is recomputed
    // from the rows by the oracle.
    "q239_parquet_footer_stats" -> ((spark, dir) => footerStats(spark, dir)),

    // q245 [north star, r14]: ROW-GROUP-PRUNED SCAN EXECUTION — the one
    // thing a 100 TB planner exists to do, turned from advice (q238
    // priced layouts, q239 proved the stats truthful) into an EXECUTED
    // read: materialize the advised by_length layout in PruneGroupRows
    // units, decide per predicate which units to open from FOOTER STATS
    // ALONE (the sound overlap rule — never skip a possibly-matching
    // unit), scan only those files, and prove the skip lossless IN-PLAN
    // (pruned (count, content-xor) must equal the unpruned scan's, else
    // raise). The emitted counts are the planner's report card:
    // groups_read < groups_total on the sort key's predicate, rows_read
    // bounds the I/O the skip saved. Oracle: the q238 overlap arithmetic
    // over ROW_NUMBER groups + the match legs straight off documents.
    "q245_pruned_scan" -> ((spark, dir) => prunedScan(spark, dir)),

    // q251 [north star, r14]: Z-ORDER PRUNED SCAN — the q127/q238
    // advisory claim behind Z-ordering turned into an executed, counted
    // fact through the q245 core: under the by_user layout the k-range
    // predicate cannot skip a single unit (every unit's k envelope
    // spans the full range — pinned), while the z-order layout prunes
    // BOTH dimensions and dominates on the 2-D box. Oracle re-derives
    // both layouts' groups via ROW_NUMBER over the exact sort keys
    // (q127's bit-interleave spelled in DuckDB) + the overlap
    // arithmetic + match legs off events.
    "q251_zorder_pruned_scan" -> ((spark, dir) => zorderPrunedScan(spark, dir)),

    // q271 [north star, r15]: HOUSE DREMEL WRITE — the q258 reader's
    // dual: a nested LIST column emitted with REAL repetition/
    // definition level streams (rep 0 starts a record, def 3 carries
    // an element, def 1 marks an empty list), read back through
    // Spark's own reader as array<string> and proven token-exact per
    // row; the house list reader re-reads the file in-code.
    "q271_house_list_write" -> ((spark, dir) =>
      HouseWriter.roundtripList(spark, dir)),

    // q270 [north star, r15]: THE FULL HOUSE LOOP — write with the
    // house writer (snappy units + SBBF blooms + manifest), plan with
    // Catalyst pushdown over house footers/blooms, decode with the
    // house decoder, all through stock spark.read.format(); every leg
    // proven lossless against Spark's own read of the same files.
    "q270_full_house_roundtrip" -> ((spark, dir) =>
      HouseWriter.fullHouseRoundtrip(spark, dir)),

    // q269 [north star, r15]: HOUSE WRITER V2 GENERATION — the second
    // writer generation closed in the WRITE direction: DataPageHeaderV2
    // pages with DELTA_BINARY_PACKED integers and DELTA_BYTE_ARRAY
    // front-coded strings (values-only snappy), two row groups,
    // proven by Spark's own reader with the decode classes as
    // self-validating literals.
    "q269_house_write_v2" -> ((spark, dir) =>
      HouseWriter.roundtripV2(spark, dir)),

    // q268 [north star, r15]: MANIFEST-PLANNED PRUNED SCAN — the
    // per-run footer re-walk retired: writeUnits persists each layout's
    // unit stats as an on-disk manifest at write time, planning reads
    // it with ZERO footer opens (instrumented), staleness falls back
    // loudly, and the executed scan keeps q245's xor proof. Output and
    // oracle are q245's verbatim — only the planning source changed.
    "q268_manifest_planned_scan" -> ((spark, dir) =>
      manifestPlannedScan(spark, dir)),

    // q266 [north star, r15]: HOUSE DSv2 SOURCE — the ceremony added:
    // a real TableProvider/Scan with SupportsPushDownFilters +
    // SupportsPushDownRequiredColumns, so a stock spark.read.format()
    // reaches the house decoder and Catalyst owns pushdown; q260's
    // three predicate classes reproduce through it, proven lossless
    // against Spark's own parquet read per leg.
    "q266_house_dsv2_source" -> ((spark, dir) =>
      dsv2PushdownScan(spark, dir)),

    // q265 [north star, r15]: HOUSE PAGE-INDEX + BLOOM WRITE — the
    // q257 page-pruned core executed on a house-written file: the
    // ColumnIndex/OffsetIndex planning the skips, the snappy pages
    // skipped, and the SBBF bloom are all house-emitted; the oracle's
    // ROW_NUMBER page arithmetic and the in-plan pruned≡full proof are
    // q257's verbatim.
    "q265_house_page_index_scan" -> ((spark, dir) =>
      HouseWriter.pageIndexScan(spark, dir)),

    // q264 [north star, r15]: HOUSE WRITER TIER 1 — the write side
    // widened to what every real corpus file has: dictionary pages,
    // snappy-compressed bodies, multiple row groups with per-group
    // statistics. Spark's own reader proves the bytes by independence;
    // the writer's format CHOICES ride as self-validating legs
    // (n_groups from the house footer walk, codec from the declared
    // compression, enc_class from the house decoder's actual path).
    "q264_house_write_tier1" -> ((spark, dir) =>
      HouseWriter.roundtripTier1(spark, dir)),

    // q263 [north star, r15]: DISTRIBUTED CLUSTERED WRITE — the layout
    // write the whole pruned-scan tier rides, executed by MANY tasks
    // (range shuffle on the cluster key, exact rank-derived unit
    // boundaries, one sorted file per unit) and proven geometry-exact:
    // every unit's (rows, min/max) must equal the oracle's ROW_NUMBER
    // chunking. Retires the r14 repartition(1) weak mark.
    "q263_distributed_clustered_write" -> ((spark, dir) =>
      distributedLayoutStats(spark, dir)),

    // q262 [north star, r14]: HOUSE PARQUET WRITER — the format tier's
    // WRITE side ([[HouseWriter]]): a complete parquet file assembled
    // pure-JDK (thrift-compact footer, v1 plain pages, statistics),
    // proven by INDEPENDENCE — Spark's own reader (code-disjoint from
    // the writer) reads it back and aggregates to the oracle's truth.
    "q262_house_write_roundtrip" -> ((spark, dir) =>
      HouseWriter.roundtrip(spark, dir)),

    // q261 [north star, r14]: LAYOUT OPTIMIZE — the maintenance loop's
    // layout half: interleaved batch-local sort runs (an append-per-batch
    // ingest's honest state) re-clustered into one global layout, both
    // geometries executed under the xor proof, the rewrite priced as
    // units_read_pre vs units_read_post at identical match legs.
    "q261_layout_optimize" -> ((spark, dir) =>
      optimizeCompaction(spark, dir)),

    // q260 [north star, r14]: PUSHDOWN HOUSE SCAN — the capstone
    // composition: plan from metadata (footer stats + blooms, zero
    // data pages), decode only surviving units and only needed
    // columns on the executors, prove the whole read lossless in-plan
    // against Spark's own full read. Stats, bloom, and their
    // conjunction each fire as a predicate class.
    "q260_pushdown_house_scan" -> ((spark, dir) =>
      housePushdownScan(spark, dir)),

    // q259 [north star, r14]: HOUSE SCAN — the format tier composed
    // into DISTRIBUTED execution: paths → per-partition pure-JDK
    // decode → rows → a stock Catalyst aggregation with map-side
    // partials. The oracle recomputes from the raw table, so any
    // mis-read byte lands red through the aggregate.
    "q259_house_scan" -> ((spark, dir) => houseScan(spark, dir)),

    // q258 [north star, r14]: NESTED LIST DECODE — the Dremel
    // repetition/definition assembly, retiring the decoder's flat-only
    // scope: a real repeated column (words = split(text)) reassembled
    // record-by-record from levels, proven TOKEN-EXACT against the
    // original text per row (sentinel-joined md5).
    "q258_list_decode" -> ((spark, dir) => listDecodeProbe(spark, dir)),

    // q257 [north star, r14]: PAGE-LEVEL PRUNED SCAN — the granularity
    // BELOW q245's row groups, driven by the parquet page indexes
    // (ColumnIndex min/max + OffsetIndex locations): surviving PAGES
    // decided from the index alone, each decoded by a targeted seek
    // (never touching the others), proven lossless against the full
    // chunk decode. Where production page skipping actually runs:
    // inside the scan task, after file/group pruning did the
    // distributed part.
    "q257_page_pruned_scan" -> ((spark, dir) => pagePrunedScan(spark, dir)),

    // q256 [north star, r14]: BLOOM-FILTER PRUNED SCAN — the point
    // lookup neither min/max stats (envelope full-width on a scattered
    // key) nor dictionaries (fall back on unique values — the q254
    // refusal) can prune: the writer-embedded split-block bloom filter
    // answers it from ~2 bytes/value of metadata, read by the house
    // XXH64 + SBBF probe, with the q245 xor proof pinning every skip.
    "q256_bloom_pruned_scan" -> ((spark, dir) => bloomPrunedScan(spark, dir)),

    // q255 [north star, r14]: V2 DATA-PAGE DECODE — the SECOND writer
    // generation closed: DataPageHeaderV2 walk (unprefixed uncompressed
    // levels, values-only is_compressed), DELTA_BINARY_PACKED integers,
    // DELTA_BYTE_ARRAY front-coded strings, v2 RLE_DICTIONARY, and the
    // dictionary fallback (unique doc_id lands on delta even with
    // dictionaries requested — the decoder proves what the writer
    // CHOSE, the q249 stance). Truth legs identical to q249/q253.
    "q255_v2_page_decode" -> ((spark, dir) => pageDecodeProbeV2(spark, dir)),

    // q254 [north star, r14]: DICTIONARY-PAGE PRUNED SCAN — the skip
    // min/max stats cannot make: a point predicate on a SCATTERED
    // column sits inside every unit's [min,max] envelope (the stats leg
    // reads everything — emitted beside the dict leg as the report
    // card), while the unit's dictionary page lists exactly which
    // values exist, an exact membership skip. Soundness is layered:
    // footer encodings must PROVE the dictionary complete (fallback →
    // loud refusal), and the executed skip carries the q245 xor proof.
    "q254_dict_pruned_scan" -> ((spark, dir) => dictPrunedScan(spark, dir)),

    // q253 [north star, r14]: COMPRESSED-PAGE DECODE — q249 closed the
    // format read loop footer→page on uncompressed layouts; this widens
    // the decoder to the codecs Spark ACTUALLY writes (snappy — the
    // default the whole testdata corpus ships in — plus gzip and zstd),
    // each page body inflated through the runtime's own codec jars and
    // length-verified against the header before any value decode. The
    // (codec, enc_class) pair is the format-literal leg; the value legs
    // must equal the SQL truth — a wrong inflate cannot hide.
    "q253_compressed_page_decode" -> ((spark, dir) =>
      compressedDecodeProbe(spark, dir)),

    // q249 [north star, r14]: PURE-JDK DATA-PAGE DECODE — the format
    // read loop closed end to end (q239 walked the footer; this walks
    // page headers and decodes plain + dictionary v1 pages, definition
    // levels included) and verified against the SQL truth: the decoded
    // values' count/sum/distinct/md5-xor must equal the table's. The
    // enc_class column is a format literal (q243's self-validating-leg
    // discipline): dictionary-mode doc_id reads 'plain' because
    // parquet-mr's first-page fallback abandons a dictionary that beats
    // nothing on unique values — the decoder proving WHAT the writer
    // chose, not what was asked.
    "q249_page_decode" -> ((spark, dir) => pageDecodeProbe(spark, dir)))

  /** q245's per-predicate oracle legs: (name, group-overlap SQL over the
    * per-group min/max CTE, row-predicate SQL over documents).
    */
  private val OraclePreds: Seq[(String, String, String)] = Seq(
    ("docid_100_149", "mn_id <= 149 AND mx_id >= 100",
      "doc_id BETWEEN 100 AND 149"),
    ("lang_eq_en", "mn_lang <= 'en' AND mx_lang >= 'en'", "lang = 'en'"),
    ("nchars_100_199", "mn_nc <= 199 AND mx_nc >= 100",
      "n_chars BETWEEN 100 AND 199"),
    ("source_eq_src3", "mn_src <= 'src3' AND mx_src >= 'src3'",
      "source = 'src3'"))

  /** q266's oracle SQL — shared VERBATIM by q270 (same chunking, same
    * predicate classes; q270 swaps every byte on the engine path to
    * house-written/house-decoded, which identical legs prove).
    */
  private def dsv2OracleSql: String = {
      def md5Of(cols: Seq[String]) =
        "md5(" + cols.map(c => s"chr(1) || CAST($c AS VARCHAR)")
          .mkString(" || ") + ")"
      def leg(name: String, cols: Seq[String], gcond: String,
          rcond: String) =
        s"""SELECT '$name' AS predicate,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS units_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE $gcond)
           |    AS units_stats_bound,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE $rcond)
           |    AS n_match,
           |  (SELECT CAST(COALESCE(bit_xor(CAST(('0x' ||
           |      substring(${md5Of(cols)}, 1, 15)) AS BIGINT)), 0) AS BIGINT)
           |   FROM documents WHERE $rcond) AS match_xor""".stripMargin
      val range = "n_chars BETWEEN 100 AND 199"
      val point = "doc_id = 250"
      val gRange = "mn_nc <= 199 AND mx_nc >= 100"
      val gPoint = "mn_id <= 250 AND mx_id >= 250"
      s"""WITH u AS (SELECT ${adaptiveUnitRowsSql(
             "SELECT COUNT(*) FROM documents")} AS ur),
         |r AS (SELECT doc_id, n_chars,
         |        (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1)
         |          // (SELECT ur FROM u) AS grp
         |      FROM documents),
         |g AS (SELECT grp,
         |        MIN(n_chars) AS mn_nc, MAX(n_chars) AS mx_nc,
         |        MIN(doc_id) AS mn_id, MAX(doc_id) AS mx_id
         |      FROM r GROUP BY 1)
         |${leg("nchars_100_199", Seq("doc_id", "n_chars"), gRange, range)}
         |UNION ALL
         |${leg("docid_eq_250", Seq("doc_id", "source"), gPoint, point)}
         |UNION ALL
         |${leg("conj", Seq("doc_id", "n_chars"),
           s"$gRange AND $gPoint", s"$range AND $point")}
         |ORDER BY predicate""".stripMargin
    }

  /** q245's oracle SQL — shared VERBATIM by q268 (same geometry, same
    * legs; only the engine's planning source differs).
    */
  private def prunedScanOracleSql: String = {
    val rowMd5 = "md5(chr(1) || CAST(doc_id AS VARCHAR) || chr(1) || " +
      "source || chr(1) || lang || chr(1) || CAST(n_chars AS VARCHAR))"
    val legs = OraclePreds.map { case (name, gcond, rcond) =>
        s"""SELECT '$name' AS predicate,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS groups_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE $gcond)
           |    AS groups_read,
           |  (SELECT CAST(COALESCE(SUM(n_rows), 0) AS BIGINT) FROM g
           |   WHERE $gcond) AS rows_read,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE $rcond)
           |    AS n_match,
           |  (SELECT CAST(COALESCE(bit_xor(CAST(('0x' ||
           |      substring($rowMd5, 1, 15)) AS BIGINT)), 0) AS BIGINT)
           |   FROM documents WHERE $rcond) AS match_xor""".stripMargin
      }
      s"""WITH u AS (SELECT ${adaptiveUnitRowsSql(
             "SELECT COUNT(*) FROM documents")} AS ur),
         |r AS (SELECT doc_id, source, lang, n_chars,
         |             ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) AS rn
         |           FROM documents),
         |g AS (SELECT (rn - 1) // (SELECT ur FROM u) AS grp,
         |        COUNT(*) AS n_rows,
         |        MIN(lang) AS mn_lang, MAX(lang) AS mx_lang,
         |        MIN(n_chars) AS mn_nc, MAX(n_chars) AS mx_nc,
         |        MIN(doc_id) AS mn_id, MAX(doc_id) AS mx_id,
         |        MIN(source) AS mn_src, MAX(source) AS mx_src
         |      FROM r GROUP BY 1)
         |${legs.mkString("\nUNION ALL\n")}
         |ORDER BY predicate""".stripMargin
  }

  /** The exact-rank clustered-write geometry, re-derived from scratch:
    * adaptive unit size, ROW_NUMBER chunking on the (n_chars, doc_id)
    * total order, per-unit count and extrema. Shared by q263 (parquet
    * task files) and q272 (house task files) — same geometry contract,
    * different emitted bytes.
    */
  private def clusteredGeometryOracle: String =
    s"""WITH u AS (SELECT ${adaptiveUnitRowsSql(
          "SELECT COUNT(*) FROM documents")} AS ur),
       |r AS (SELECT doc_id, n_chars,
       |        (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1)
       |          // (SELECT ur FROM u) AS grp
       |      FROM documents)
       |SELECT grp AS unit, CAST(COUNT(*) AS BIGINT) AS n_rows,
       |  MIN(n_chars) AS mn_nc, MAX(n_chars) AS mx_nc,
       |  MIN(doc_id) AS mn_id, MAX(doc_id) AS mx_id
       |FROM r GROUP BY 1 ORDER BY 1""".stripMargin

  def oracles: Map[String, String] = Map(
    // q278: q271's oracle VERBATIM — the write path changed (stock
    // df.write.format("house") per-task list kernels instead of one
    // driver-side kernel call); token-exact n_words + sentinel-joined
    // md5 cannot tell, which is the point.
    "q278_dsv2_list_write" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(('0x' || substring(md5(replace(text, ' ', chr(1))), 1, 15))
        |    AS BIGINT) AS words_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q279: the three committed generations recomputed from scratch —
    // snapshot v reads generations 1..v, so each row's aggregate is
    // documents UNION ALL its shifted twins up to that version; a
    // snapshot that leaked a later generation's rows (or lost an
    // earlier one's) lands as a different count/sum/xor.
    "q279_house_snapshot_read" ->
      """WITH g AS (
        |  SELECT doc_id, source, 1 AS gen FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000, source, 2 FROM documents
        |  UNION ALL
        |  SELECT doc_id + 20000000, source, 3 FROM documents)
        |SELECT v.as_of,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(bit_xor(CAST(('0x' || substring(md5(chr(1) ||
        |    CAST(doc_id AS VARCHAR) || chr(1) || source), 1, 15))
        |    AS BIGINT)) AS BIGINT) AS content_xor
        |FROM (VALUES ('v1', 1), ('v2', 2), ('v3', 3)) v(as_of, upto)
        |JOIN g ON g.gen <= v.upto
        |GROUP BY v.as_of
        |ORDER BY v.as_of""".stripMargin,

    // q271: q258's oracle VERBATIM — n_words and the sentinel-joined
    // md5 recomputed straight off the raw text; a mis-assembled level
    // stream anywhere in the written file lands as a red row.
    "q271_house_list_write" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(('0x' || substring(md5(replace(text, ' ', chr(1))), 1, 15))
        |    AS BIGINT) AS words_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q276: the two-generation table recomputed from scratch — the
    // overwrite generation is documents verbatim, the append generation
    // its shifted-id twin; any wrong byte from any task, a truncate
    // that left old files, or an append that dropped the merge lands
    // as a different aggregate.
    "q276_house_dsv2_write" ->
      """WITH t AS (SELECT doc_id, source, lang, n_chars FROM documents
        |           UNION ALL
        |           SELECT doc_id + 10000000, source, lang, n_chars
        |           FROM documents)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(strlen(source)) AS BIGINT) AS sum_src_len,
        |  CAST(bit_xor(CAST(('0x' || substring(md5(chr(1) ||
        |    CAST(doc_id AS VARCHAR) || chr(1) || source || chr(1) ||
        |    lang || chr(1) || CAST(n_chars AS VARCHAR)), 1, 15))
        |    AS BIGINT)) AS BIGINT) AS content_xor
        |FROM t""".stripMargin,

    // q273: q271's oracle VERBATIM — the read path changed (house
    // decoder behind the stock DSv2 API instead of Spark's reader);
    // token-exact n_words + sentinel-joined md5 cannot tell, which is
    // the point.
    "q273_house_list_scan" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(('0x' || substring(md5(replace(text, ' ', chr(1))), 1, 15))
        |    AS BIGINT) AS words_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q269: the aggregate recomputed from the raw table; the writer's
    // v2 choices as LITERALS — two row groups, snappy, and the house
    // decoder actually taking the delta paths on both columns.
    "q269_house_write_v2" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(strlen(source)) AS BIGINT) AS sum_src_len,
        |  CAST(bit_xor(CAST(('0x' || substring(md5(chr(1) ||
        |    CAST(doc_id AS VARCHAR) || chr(1) || source), 1, 15))
        |    AS BIGINT)) AS BIGINT) AS content_xor,
        |  CAST(2 AS BIGINT) AS n_groups,
        |  'SNAPPY' AS codec,
        |  'delta_binpack' AS enc_ints,
        |  'delta_byte_array' AS enc_strs
        |FROM documents""".stripMargin,

    // q266: q260's oracle verbatim — the adaptive (n_chars, doc_id)
    // chunking gives the stats bound, match legs recomputed per
    // predicate over exactly the columns the pushdown read decoded;
    // only the ENGINE PATH changed (hand-built scan → Catalyst-owned
    // DSv2), which is precisely what identical legs prove.
    "q266_house_dsv2_source" -> dsv2OracleSql,
    // q270: q266's oracle VERBATIM — the layout bytes and the scan
    // path changed to all-house; the arithmetic cannot tell, which is
    // the point.
    "q270_full_house_roundtrip" -> dsv2OracleSql,

    // q265: q257's page arithmetic verbatim — sorted doc_id, 64-row
    // pages, overlap rule, md5-fold xor match legs — the house file
    // must produce the exact same geometry parquet-mr's did.
    "q265_house_page_index_scan" -> {
      val legs = PagePredicates.map { case (name, lo, hi) =>
        s"""SELECT '$name' AS predicate,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS pages_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g
           |   WHERE mx >= $lo AND mn <= $hi) AS pages_read,
           |  (SELECT CAST(COALESCE(SUM(n_rows), 0) AS BIGINT) FROM g
           |   WHERE mx >= $lo AND mn <= $hi) AS rows_read,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
           |   WHERE doc_id BETWEEN $lo AND $hi) AS n_match,
           |  (SELECT CAST(COALESCE(bit_xor(CAST(('0x' ||
           |      substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)),
           |      0) AS BIGINT)
           |   FROM documents WHERE doc_id BETWEEN $lo AND $hi) AS match_xor""".stripMargin
      }
      s"""WITH r AS (SELECT doc_id,
         |        (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // $PageRows
         |          AS pg
         |      FROM documents),
         |g AS (SELECT pg, COUNT(*) AS n_rows,
         |        MIN(doc_id) AS mn, MAX(doc_id) AS mx
         |      FROM r GROUP BY 1)
         |${legs.mkString("\nUNION ALL\n")}
         |ORDER BY predicate""".stripMargin
    },

    // q264: the aggregate recomputed from the raw table (any wrong byte
    // through dictionary/snappy/multi-group = different rows through
    // Spark's reader = red), with the writer's choices as LITERALS:
    // exactly 3 row groups, SNAPPY declared, the decoder actually
    // taking the dictionary path.
    "q264_house_write_tier1" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(strlen(source)) AS BIGINT) AS sum_src_len,
        |  CAST(bit_xor(CAST(('0x' || substring(md5(chr(1) ||
        |    CAST(doc_id AS VARCHAR) || chr(1) || source), 1, 15))
        |    AS BIGINT)) AS BIGINT) AS content_xor,
        |  CAST(3 AS BIGINT) AS n_groups,
        |  'SNAPPY' AS codec,
        |  'dict' AS enc_class
        |FROM documents""".stripMargin,

    // q263: the parallel write's geometry re-derived exactly — adaptive
    // unit size, ROW_NUMBER chunking on the (n_chars, doc_id) total
    // order, per-unit count and extrema. Any misaligned file split or
    // wrong emitted statistic is a red row.
    "q263_distributed_clustered_write" -> clusteredGeometryOracle,

    // q272: q263's oracle VERBATIM — the write path changed from
    // parquet-mr tasks to house-kernel tasks; the rank-chunked geometry
    // (now read off HOUSE footer stats) must not be able to tell.
    "q272_distributed_house_write" -> clusteredGeometryOracle,

    // q251: both layouts re-derived by ROW_NUMBER over the exact sort
    // keys (z = q127's interleave), 64-row chunking, the overlap rule,
    // and the shared sentinel-canon xor match legs.
    "q251_zorder_pruned_scan" -> {
      val z = Relational.zorderSql("ub", "kb", ZNormBits)
      val rowMd5 = "md5(chr(1) || CAST(event_id AS VARCHAR) || chr(1) || " +
        "CAST(user_id AS VARCHAR) || chr(1) || CAST(k AS VARCHAR))"
      val preds = Seq(
        ("k_0_24", "mnk <= 24 AND mxk >= 0", "k BETWEEN 0 AND 24"),
        ("u_0_3", "mnu <= 3 AND mxu >= 0", "user_id BETWEEN 0 AND 3"),
        ("uk_box", "mnu <= 3 AND mxu >= 0 AND mnk <= 24 AND mxk >= 0",
          "user_id BETWEEN 0 AND 3 AND k BETWEEN 0 AND 24"))
      val legs = for {
        (layout, g) <- Seq(("by_user", "gu"), ("zorder", "gz"))
        (name, gcond, rcond) <- preds
      } yield
        s"""SELECT '$layout' AS layout, '$name' AS predicate,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $g) AS groups_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM $g WHERE $gcond)
           |    AS groups_read,
           |  (SELECT CAST(COALESCE(SUM(n_rows), 0) AS BIGINT) FROM $g
           |   WHERE $gcond) AS rows_read,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE $rcond)
           |    AS n_match,
           |  (SELECT CAST(COALESCE(bit_xor(CAST(('0x' ||
           |      substring($rowMd5, 1, 15)) AS BIGINT)), 0) AS BIGINT)
           |   FROM e WHERE $rcond) AS match_xor""".stripMargin
      s"""WITH e AS (SELECT event_id, user_id,
         |             CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events),
         |st AS (SELECT MIN(user_id) AS umn, MAX(user_id) AS umx,
         |         MIN(k) AS kmn, MAX(k) AS kmx FROM e),
         |eb AS (SELECT e.*,
         |         ((user_id - st.umn) * ${1L << ZNormBits})
         |           // (st.umx - st.umn + 1) AS ub,
         |         ((k - st.kmn) * ${1L << ZNormBits})
         |           // (st.kmx - st.kmn + 1) AS kb
         |       FROM e, st),
         |uu AS (SELECT ${adaptiveUnitRowsSql("SELECT COUNT(*) FROM e")}
         |         AS ur),
         |rz AS (SELECT event_id, user_id, k,
         |         ROW_NUMBER() OVER (ORDER BY ($z), user_id, k, event_id)
         |           AS rn
         |       FROM eb),
         |ru AS (SELECT *, ROW_NUMBER() OVER (ORDER BY user_id, event_id) AS rn
         |       FROM e),
         |gz AS (SELECT (rn - 1) // (SELECT ur FROM uu) AS grp,
         |         COUNT(*) AS n_rows, MIN(user_id) AS mnu, MAX(user_id) AS mxu,
         |         MIN(k) AS mnk, MAX(k) AS mxk
         |       FROM rz GROUP BY 1),
         |gu AS (SELECT (rn - 1) // (SELECT ur FROM uu) AS grp,
         |         COUNT(*) AS n_rows, MIN(user_id) AS mnu, MAX(user_id) AS mxu,
         |         MIN(k) AS mnk, MAX(k) AS mxk
         |       FROM ru GROUP BY 1)
         |${legs.mkString("\nUNION ALL\n")}
         |ORDER BY layout, predicate""".stripMargin
    },
    // q262: the aggregate recomputed from the raw table — if any byte
    // the house writer emitted (page body, level run, footer field,
    // statistic) were wrong, Spark's reader would return different rows
    // (or refuse) and the legs would land red.
    "q262_house_write_roundtrip" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(SUM(doc_id) AS BIGINT) AS sum_ids,
        |  CAST(COUNT(DISTINCT source) AS BIGINT) AS n_sources,
        |  CAST(SUM(strlen(source)) AS BIGINT) AS sum_src_len,
        |  CAST(bit_xor(CAST(('0x' || substring(md5(chr(1) ||
        |    CAST(doc_id AS VARCHAR) || chr(1) || source), 1, 15))
        |    AS BIGINT)) AS BIGINT) AS content_xor
        |FROM documents""".stripMargin,

    // q261: the pre geometry re-derived per batch (doc_id mod 3, each
    // batch row-numbered on the sort key with its OWN adaptive unit
    // size), the post geometry globally; overlap arithmetic and match
    // legs shared with q245's oracle style.
    "q261_layout_optimize" -> {
      val rowMd5 = "md5(chr(1) || CAST(doc_id AS VARCHAR) || chr(1) || " +
        "source || chr(1) || lang || chr(1) || CAST(n_chars AS VARCHAR))"
      val legs = OptimizePredicates.map { case (name, lo, hi) =>
        s"""SELECT '$name' AS predicate,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM gpre) AS units_pre,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM gpre
           |   WHERE mx >= $lo AND mn <= $hi) AS units_read_pre,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM gpost) AS units_post,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM gpost
           |   WHERE mx >= $lo AND mn <= $hi) AS units_read_post,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
           |   WHERE n_chars BETWEEN $lo AND $hi) AS n_match,
           |  (SELECT CAST(COALESCE(bit_xor(CAST(('0x' ||
           |      substring($rowMd5, 1, 15)) AS BIGINT)), 0) AS BIGINT)
           |   FROM documents WHERE n_chars BETWEEN $lo AND $hi) AS match_xor""".stripMargin
      }
      s"""WITH b AS (SELECT doc_id, n_chars, doc_id % $OptimizeBatches AS bt
         |           FROM documents),
         |bu AS (SELECT bt, ${adaptiveUnitRowsSql("COUNT(*)")} AS ur
         |       FROM b GROUP BY bt),
         |rpre AS (SELECT b.bt, b.n_chars,
         |           (ROW_NUMBER() OVER (PARTITION BY b.bt
         |              ORDER BY b.n_chars, b.doc_id) - 1) // bu.ur AS grp
         |         FROM b JOIN bu ON b.bt = bu.bt),
         |gpre AS (SELECT bt, grp, MIN(n_chars) AS mn, MAX(n_chars) AS mx
         |         FROM rpre GROUP BY bt, grp),
         |u AS (SELECT ${adaptiveUnitRowsSql(
             "SELECT COUNT(*) FROM documents")} AS ur),
         |rpost AS (SELECT n_chars,
         |            (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1)
         |              // (SELECT ur FROM u) AS grp
         |          FROM documents),
         |gpost AS (SELECT grp, MIN(n_chars) AS mn, MAX(n_chars) AS mx
         |          FROM rpost GROUP BY 1)
         |${legs.mkString("\nUNION ALL\n")}
         |ORDER BY predicate""".stripMargin
    },

    // q260: the adaptive (n_chars, doc_id) chunking gives the stats
    // bound; match legs recomputed per predicate over EXACTLY the
    // columns the pushdown scan decoded (hash parity proves both the
    // prune and the column pruning read the right bytes).
    "q260_pushdown_house_scan" -> {
      def md5Of(cols: Seq[String]) =
        "md5(" + cols.map(c => s"chr(1) || CAST($c AS VARCHAR)")
          .mkString(" || ") + ")"
      def leg(name: String, cols: Seq[String], gcond: String,
          rcond: String) =
        s"""SELECT '$name' AS predicate,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS units_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g WHERE $gcond)
           |    AS units_stats_bound,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents WHERE $rcond)
           |    AS n_match,
           |  (SELECT CAST(COALESCE(bit_xor(CAST(('0x' ||
           |      substring(${md5Of(cols)}, 1, 15)) AS BIGINT)), 0) AS BIGINT)
           |   FROM documents WHERE $rcond) AS match_xor""".stripMargin
      val range = "n_chars BETWEEN 100 AND 199"
      val point = "doc_id = 250"
      val gRange = "mn_nc <= 199 AND mx_nc >= 100"
      val gPoint = "mn_id <= 250 AND mx_id >= 250"
      s"""WITH u AS (SELECT ${adaptiveUnitRowsSql(
             "SELECT COUNT(*) FROM documents")} AS ur),
         |r AS (SELECT doc_id, n_chars,
         |        (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1)
         |          // (SELECT ur FROM u) AS grp
         |      FROM documents),
         |g AS (SELECT grp,
         |        MIN(n_chars) AS mn_nc, MAX(n_chars) AS mx_nc,
         |        MIN(doc_id) AS mn_id, MAX(doc_id) AS mx_id
         |      FROM r GROUP BY 1)
         |${leg("nchars_100_199", Seq("doc_id", "n_chars"), gRange, range)}
         |UNION ALL
         |${leg("docid_eq_250", Seq("doc_id", "source"), gPoint, point)}
         |UNION ALL
         |${leg("conj", Seq("doc_id", "n_chars"),
           s"$gRange AND $gPoint", s"$range AND $point")}
         |ORDER BY predicate""".stripMargin
    },

    // q259: the aggregate recomputed straight off the raw table with
    // the shared sentinel-canon row hash — the house reader never
    // appears on this side, which is the point.
    "q259_house_scan" -> {
      val rowMd5 = "md5(chr(1) || CAST(doc_id AS VARCHAR) || chr(1) || " +
        "source || chr(1) || lang || chr(1) || CAST(n_chars AS VARCHAR))"
      s"""SELECT source,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
         |  CAST(bit_xor(CAST(('0x' || substring($rowMd5, 1, 15)) AS BIGINT))
         |    AS BIGINT) AS content_xor
         |FROM documents
         |GROUP BY source
         |ORDER BY source""".stripMargin
    },

    // q258: per document, the reassembled array must BE the tokenized
    // text — length and sentinel-joined content both recomputed from
    // the raw text (replace stands in for the join: split then join on
    // the sentinel IS replace(' ' -> sentinel) for space-free tokens).
    "q258_list_decode" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |  CAST(('0x' || substring(md5(replace(text, ' ', chr(1))), 1, 15))
        |    AS BIGINT) AS words_md5
        |FROM documents
        |ORDER BY doc_id""".stripMargin,

    // q257: pages re-derived by the doc_id total order in exact
    // PageRows chunks (the writer is pinned to that geometry by
    // page.row.count.limit + size.row.check.min=1); page overlap, page
    // row counts, and match legs all recomputed from the rows.
    "q257_page_pruned_scan" -> {
      val legs = PagePredicates.map { case (name, lo, hi) =>
        s"""SELECT '$name' AS predicate,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS pages_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g
           |   WHERE mx >= $lo AND mn <= $hi) AS pages_read,
           |  (SELECT CAST(COALESCE(SUM(n_rows), 0) AS BIGINT) FROM g
           |   WHERE mx >= $lo AND mn <= $hi) AS rows_read,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
           |   WHERE doc_id BETWEEN $lo AND $hi) AS n_match,
           |  (SELECT CAST(COALESCE(bit_xor(CAST(('0x' ||
           |      substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)),
           |      0) AS BIGINT)
           |   FROM documents WHERE doc_id BETWEEN $lo AND $hi) AS match_xor""".stripMargin
      }
      s"""WITH r AS (SELECT doc_id,
         |        (ROW_NUMBER() OVER (ORDER BY doc_id) - 1) // $PageRows
         |          AS pg
         |      FROM documents),
         |g AS (SELECT pg, COUNT(*) AS n_rows,
         |        MIN(doc_id) AS mn, MAX(doc_id) AS mx
         |      FROM r GROUP BY 1)
         |${legs.mkString("\nUNION ALL\n")}
         |ORDER BY predicate""".stripMargin
    },
    // q256: groups re-derived by the (n_chars, doc_id) chunking; the
    // stats leg by the overlap rule, groups_nonempty by containment,
    // match legs off the rows. The engine's bloom-positive read set is
    // deliberately NOT in the contract (false positives are sound and
    // byte-deterministic but not SQL-expressible); its losslessness is
    // enforced in-plan and its measured size pinned in the spec.
    "q256_bloom_pruned_scan" -> {
      val rowMd5 = "md5(chr(1) || CAST(doc_id AS VARCHAR) || chr(1) || " +
        "source || chr(1) || lang || chr(1) || CAST(n_chars AS VARCHAR))"
      val legs = BloomProbeIds.map { v =>
        s"""SELECT 'docid_eq_$v' AS predicate,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS groups_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g
           |   WHERE mn_id <= $v AND mx_id >= $v) AS groups_read_stats,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g
           |   WHERE grp IN (SELECT grp FROM r WHERE doc_id = $v))
           |    AS groups_nonempty,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM documents
           |   WHERE doc_id = $v) AS n_match,
           |  (SELECT CAST(COALESCE(bit_xor(CAST(('0x' ||
           |      substring($rowMd5, 1, 15)) AS BIGINT)), 0) AS BIGINT)
           |   FROM documents WHERE doc_id = $v) AS match_xor""".stripMargin
      }
      s"""WITH u AS (SELECT ${adaptiveUnitRowsSql(
             "SELECT COUNT(*) FROM documents")} AS ur),
         |r AS (SELECT doc_id,
         |        (ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1)
         |          // (SELECT ur FROM u) AS grp
         |      FROM documents),
         |g AS (SELECT grp, MIN(doc_id) AS mn_id, MAX(doc_id) AS mx_id
         |      FROM r GROUP BY 1)
         |${legs.mkString("\nUNION ALL\n")}
         |ORDER BY predicate""".stripMargin
    },
    // q255: q249's truth legs under the v2 writer generation; the
    // (mode, enc_class) literals pin which encoding family the writer
    // actually chose per layout (dict fallback included).
    "q255_v2_page_decode" -> {
      def leg(mode: String, c: String, enc: String, sumExpr: String) =
        s"""SELECT '$mode' AS mode, '$c' AS "column", '$enc' AS enc_class,
           |  CAST(COUNT(*) AS BIGINT) AS n_values,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           |  CAST($sumExpr AS BIGINT) AS sum_leg,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(bit_xor(CAST(('0x' ||
           |    substring(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT))
           |    AS BIGINT) AS content_xor
           |FROM documents""".stripMargin
      Seq(
        leg("v2delta", "doc_id", "delta_binpack", "SUM(doc_id)"),
        leg("v2delta", "source", "delta_byte_array", "SUM(strlen(source))"),
        leg("v2dict", "doc_id", "delta_binpack", "SUM(doc_id)"),
        leg("v2dict", "source", "dict", "SUM(strlen(source))"),
        leg("v2snappy", "doc_id", "delta_binpack", "SUM(doc_id)"),
        leg("v2snappy", "source", "delta_byte_array", "SUM(strlen(source))"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY mode, \"column\"")
    },
    // q254: groups re-derived by the same (user_id, event_id) total
    // order and 128-row chunking; groups_read_stats = the overlap rule,
    // groups_read_dict = groups that genuinely CONTAIN the value (the
    // dictionary is exact, so membership pruning must land exactly on
    // containment); match legs off the rows with the sentinel-canon xor.
    "q254_dict_pruned_scan" -> {
      val rowMd5 = "md5(chr(1) || CAST(event_id AS VARCHAR) || chr(1) || " +
        "CAST(user_id AS VARCHAR) || chr(1) || CAST(k AS VARCHAR))"
      val legs = DictPruneValues.map { v =>
        s"""SELECT 'k_eq_$v' AS predicate,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g) AS groups_total,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g
           |   WHERE mnk <= $v AND mxk >= $v) AS groups_read_stats,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM g
           |   WHERE grp IN (SELECT grp FROM r WHERE k = $v))
           |    AS groups_read_dict,
           |  (SELECT CAST(COALESCE(SUM(n_rows), 0) AS BIGINT) FROM g
           |   WHERE grp IN (SELECT grp FROM r WHERE k = $v)) AS rows_read,
           |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e WHERE k = $v)
           |    AS n_match,
           |  (SELECT CAST(COALESCE(bit_xor(CAST(('0x' ||
           |      substring($rowMd5, 1, 15)) AS BIGINT)), 0) AS BIGINT)
           |   FROM e WHERE k = $v) AS match_xor""".stripMargin
      }
      s"""WITH e AS (SELECT event_id, user_id,
         |             CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
         |           FROM events
         |           WHERE user_id < $DictPruneUsers),
         |r AS (SELECT e.*,
         |        (ROW_NUMBER() OVER (ORDER BY user_id, event_id) - 1)
         |          // $DictPruneRows AS grp
         |      FROM e),
         |g AS (SELECT grp, COUNT(*) AS n_rows,
         |        MIN(k) AS mnk, MAX(k) AS mxk
         |      FROM r GROUP BY 1)
         |${legs.mkString("\nUNION ALL\n")}
         |ORDER BY predicate""".stripMargin
    },
    // q253: q249's truth legs under every production codec — the decoded
    // values must BE the column whatever the page bodies were compressed
    // with; (codec, enc_class) are the pinned format literals (dictionary
    // stays on by default: source dict-encodes, doc_id falls back to
    // plain exactly as q249 documented).
    "q253_compressed_page_decode" -> {
      def leg(codec: String, c: String, enc: String, sumExpr: String) =
        s"""SELECT '$codec' AS codec, '$c' AS "column", '$enc' AS enc_class,
           |  CAST(COUNT(*) AS BIGINT) AS n_values,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           |  CAST($sumExpr AS BIGINT) AS sum_leg,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(bit_xor(CAST(('0x' ||
           |    substring(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT))
           |    AS BIGINT) AS content_xor
           |FROM documents""".stripMargin
      Seq("gzip", "snappy", "zstd").flatMap(codec => Seq(
        leg(codec, "doc_id", "plain", "SUM(doc_id)"),
        leg(codec, "source", "dict", "SUM(strlen(source))")))
        .mkString("", "\nUNION ALL\n", "\nORDER BY codec, \"column\"")
    },
    // q249: the decoded values must BE the column — every leg recomputed
    // from the rows; enc_class rows are the pinned format literals.
    "q249_page_decode" -> {
      def leg(mode: String, c: String, enc: String, sumExpr: String) =
        s"""SELECT '$mode' AS mode, '$c' AS "column", '$enc' AS enc_class,
           |  CAST(COUNT(*) AS BIGINT) AS n_values,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS n_nulls,
           |  CAST($sumExpr AS BIGINT) AS sum_leg,
           |  CAST(COUNT(DISTINCT $c) AS BIGINT) AS n_distinct,
           |  CAST(bit_xor(CAST(('0x' ||
           |    substring(md5(CAST($c AS VARCHAR)), 1, 15)) AS BIGINT))
           |    AS BIGINT) AS content_xor
           |FROM documents""".stripMargin
      Seq(
        leg("dict", "doc_id", "plain", "SUM(doc_id)"),
        leg("dict", "source", "dict", "SUM(strlen(source))"),
        leg("plain", "doc_id", "plain", "SUM(doc_id)"),
        leg("plain", "source", "plain", "SUM(strlen(source))"))
        .mkString("", "\nUNION ALL\n", "\nORDER BY mode, \"column\"")
    },
    // q245: groups re-derived by the same (n_chars, doc_id) total order
    // and 64-row chunking (q238's oracle arithmetic), overlap rule
    // verbatim; match legs recomputed from the rows with the shared
    // sentinel-canon 60-bit xor.
    "q245_pruned_scan" -> prunedScanOracleSql,
    // q268: q245's oracle VERBATIM — the manifest changed where the
    // plan's stats come from, not what they are.
    "q268_manifest_planned_scan" -> prunedScanOracleSql,
    "q239_parquet_footer_stats" -> (
      OracleScope.map { case (t, c, phys) =>
        s"""SELECT '$t' AS tbl, '$c' AS "column", '$phys' AS physical,
           |  'SNAPPY' AS codec, CAST(COUNT(*) AS BIGINT) AS n_values,
           |  CAST(COUNT(*) - COUNT($c) AS BIGINT) AS null_count,
           |  CAST(MIN($c) AS VARCHAR) AS min_value,
           |  CAST(MAX($c) AS VARCHAR) AS max_value
           |FROM $t""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY tbl, \"column\"")))
}
