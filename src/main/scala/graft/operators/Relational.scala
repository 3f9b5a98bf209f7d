package graft.operators

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.Tables
import graft.functions.{Codec, TagOps}

/** Scans, decode, filters, projections, sorts, limits, set ops —
  * SURVEY.md §2.1, §2.2, §2.6, §2.7 (q00–q08, q27–q31).
  *
  * Scale notes: every query here is scan → narrow transforms (no shuffle
  * except the final presentation sort); filters and projections are plain
  * Catalyst expressions so predicate pushdown and column pruning reach the
  * parquet reader (verified via .explain: PushedFilters / ReadSchema).
  */
object Relational extends QueryGroup {

  /** q00 — the reference's whole dataflow in batch form (SURVEY.md §7 M0):
    * filter (`app.py:56`) → JSON projection (`app.py:57-67`) → broadcast
    * enrichment join against the document store (`tag.py:12-17`) →
    * idempotent tag append (`tag.py:31-46`).
    *
    * The tag array is emitted comma-joined (nulls from the outer join
    * mapped to a sentinel) — the driver's pandas compare cannot sort/hash
    * raw array cells, and a flat string carries the same information.
    */
  val flagship: Q = (spark, dir) => {
    val e = Tables(spark, dir, "events")
      .filter(col("event_type") === "signup" && col("value") > 50.0)
      .select(
        col("event_id"), col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("k"))
    val d = Tables(spark, dir, "documents")
    e.join(broadcast(d), e("user_id") === d("doc_id"), "left")
      .select(
        col("event_id"), col("user_id"), col("k"), col("doc_id"),
        substring(col("text"), 1, 30).as("headline"),
        array_join(transform(
          TagOps.appendIfAbsent(array(col("lang"), col("source")),
            lit("kinesis-autotag")),
          x => coalesce(x, lit("<null>"))), ",").as("tags"))
      .orderBy("event_id")
  }

  /** q223's synthetic NEW-key offset (delta-introduced doc ids). */
  private[graft] val MergeNewBase = 10000000L

  /** The q223/q228 fixture dump set: base (v1, all docs), delta 1 (v2
    * — md5-gated deletes and " v2" updates), delta 2 (v3 — " v3"
    * updates plus delta-born keys above [[MergeNewBase]]). Shared by
    * the compaction and the time-travel read so the two queries cannot
    * drift apart; the oracles re-derive the same gates.
    */
  private[graft] def mergeDumps(spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[org.apache.spark.sql.DataFrame] = {
    val docs = Tables(spark, dir, "documents")
    def gate(prefix: String) = substring(md5(concat(lit(prefix),
      col("doc_id").cast("string"))), 1, 1)
    val base = docs.select(col("doc_id"), lit(1L).as("version"),
      lit("U").as("op"), col("text").as("txt"))
    val d1 = docs.filter(gate("mdel:") < "2" || gate("mupd:") < "4")
      .select(col("doc_id"), lit(2L).as("version"),
        when(gate("mdel:") < "2", "D").otherwise("U").as("op"),
        when(gate("mdel:") < "2", lit(null).cast("string"))
          .otherwise(concat(col("text"), lit(" v2"))).as("txt"))
    val d2 = docs.filter(gate("mupd2:") < "2")
      .select(col("doc_id"), lit(3L).as("version"), lit("U").as("op"),
        concat(col("text"), lit(" v3")).as("txt"))
    val born = docs.filter(gate("mnew:") < "1")
      .select((col("doc_id") + MergeNewBase).as("doc_id"),
        lit(3L).as("version"), lit("U").as("op"),
        concat(lit("new doc "), col("doc_id").cast("string")).as("txt"))
    Seq(base, d1, d2, born)
  }

  /** LSM/Delta-style MERGE compaction over versioned dumps with
    * tombstones — the warehouse upsert-compaction the release surface
    * reads its dumps through (Delta/Iceberg's MERGE INTO semantics,
    * O'Neil's LSM merge rule): each dump carries (doc_id, version, op,
    * txt) rows, op 'U' upserts, 'D' tombstones; compaction keeps the
    * LATEST version per key, tombstoned keys stay in the manifest as
    * dead (`alive` false) — dropping them silently would un-delete on
    * the next merge with an older dump.
    *
    * Loudness: two rows with the same (doc_id, version) mean two
    * writers claimed one version slot — exactly the concurrent-commit
    * corruption a table format's optimistic protocol exists to prevent
    * — so compaction REFUSES (`raise_error`) rather than letting the
    * struct-max tiebreak pick a winner arbitrarily.
    *
    * Scale shape: ONE key shuffle (groupBy doc_id, struct-max partial-
    * aggregates map-side); the writer-conflict guard rides the same
    * pass as a (key, version) count reduced to one broadcast row.
    * Associativity/idempotence (compact(compact(A,B),C) ≡
    * compact(A,B,C) — the law leveled compaction leans on) is pinned
    * in OperatorSpec.
    */
  private[graft] def mergeCompact(dumps: Seq[org.apache.spark.sql.DataFrame])
      : org.apache.spark.sql.DataFrame = {
    val all = dumps.reduce(_ unionByName _)
    val guard = all.groupBy(col("doc_id"), col("version"))
      .agg(count(lit(1)).as("c")).filter(col("c") > 1L)
      .agg(count(lit(1)).as("n_dup"))
    all.groupBy(col("doc_id"))
      .agg(max(struct(col("version"), col("op"), col("txt"))).as("s"))
      .crossJoin(broadcast(guard))
      .filter(when(col("n_dup") > 0L,
        raise_error(lit("q223: two writers claimed the same (key, version) " +
          "slot — refusing an arbitrary winner; fix the commit protocol")))
        .otherwise(lit(true)))
      .select(col("doc_id"), col("s.version").as("version"),
        (col("s.op") === lit("U")).as("alive"),
        when(col("s.op") === lit("U"), md5(col("s.txt"))).as("text_md5"))
      .orderBy("doc_id")
  }

  /** q228's snapshot version (reads the q223 dump set AS OF v2). */
  private[graft] val TimeTravelVersion = 2L

  /** Snapshot-isolation read of the versioned dump set AS OF a version
    * — the time-travel query every table format pairs with MERGE
    * (q223): rows with version > V simply don't exist yet, so the read
    * is the SAME latest-wins collapse over the filtered history. Two
    * laws ride on this (both pinned): AS OF the maximum version ≡ the
    * q223 compaction verbatim, and a key born after V is ABSENT (not
    * dead — nonexistence and tombstones are different facts).
    */
  private[graft] def timeTravelRead(dumps: Seq[org.apache.spark.sql.DataFrame],
      asOf: Long): org.apache.spark.sql.DataFrame =
    mergeCompact(dumps.map(_.filter(col("version") <= asOf)))

  /** q234's byte-aligned encoding size model (documented MODEL, not any
    * writer's wire format — the decision function is what matters):
    *  - plain:  strings Σ(4 + octets), int64s 8·n
    *  - dict:   Σ_distinct(4 + octets) [ints: 8·card] + n·idxBytes,
    *            idxBytes = ⌈⌈log₂ max(card,2)⌉ / 8⌉
    *  - rle:    per run (in doc_id order): value bytes + a 4-byte length
    *  - delta:  (ints, doc_id order) 8 + Σ varint(zigzag(Δ)),
    *            varint = 1..5 bytes by 7-bit thresholds (guarded)
    * Rows with NULL in an audited column are refused loudly (a size
    * model with silent null handling advises garbage).
    */
  /** q238's row-group size: small enough that sf0.001's 500 rows still
    * make 8 groups, large enough that pruning is non-trivial.
    */
  private[graft] val PruneGroupRows = 64L

  /** The candidate layouts and predicate workload of [[pruningAdvisor]] —
    * every order ends in doc_id so ranks are total (hash-portable).
    */
  private[graft] val PruneLayouts: Seq[(String, Seq[String])] = Seq(
    ("as_written", Seq("doc_id")),
    ("by_length", Seq("n_chars", "doc_id")),
    ("by_source", Seq("source", "doc_id")))

  private[graft] def pruningAdvisor(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val perLayout = PruneLayouts.map { case (name, ord) =>
      val groups = Curation.scanRank(docs, ord.map(col))
        .withColumn("grp", ((col("rank") - 1L) / PruneGroupRows).cast("long"))
        .groupBy(col("grp"))
        .agg(count(lit(1)).as("n_rows"),
          min(col("source")).as("mn_src"), max(col("source")).as("mx_src"),
          min(col("lang")).as("mn_lang"), max(col("lang")).as("mx_lang"),
          min(col("n_chars")).as("mn_nc"), max(col("n_chars")).as("mx_nc"),
          min(col("doc_id")).as("mn_id"), max(col("doc_id")).as("mx_id"))
      // a group is SCANNED iff its [min, max] overlaps the predicate —
      // the exact footer-stats pruning rule (no false skips, the only
      // sound direction)
      val preds = Seq(
        ("lang_eq_en",
          col("mn_lang") <= lit("en") && col("mx_lang") >= lit("en")),
        ("nchars_100_199",
          col("mn_nc") <= lit(199L) && col("mx_nc") >= lit(100L)),
        ("docid_100_149",
          col("mn_id") <= lit(149L) && col("mx_id") >= lit(100L)),
        ("source_eq_src3",
          col("mn_src") <= lit("src3") && col("mx_src") >= lit("src3")))
      val one = groups.agg(
        count(lit(1)).as("n_groups"),
        (preds.flatMap { case (p, cond) =>
          Seq(sum(when(cond, 1L).otherwise(0L)).as(s"g_$p"),
            sum(when(cond, col("n_rows")).otherwise(0L)).as(s"r_$p"))
        }): _*)
      one.select(lit(name).as("layout"), col("n_groups"),
        explode(array(preds.map { case (p, _) =>
          struct(lit(p).as("predicate"), col(s"g_$p").as("groups_scanned"),
            col(s"r_$p").as("rows_scanned"))
        }: _*)).as("x"))
        .select(col("layout"), col("x.predicate"), col("n_groups"),
          col("x.groups_scanned"), col("x.rows_scanned"))
    }.reduce(_ unionByName _)
    // advised = strict (rows_scanned, groups_scanned, layout) minimum per
    // predicate; the window runs over the |layouts|x|predicates| advisory
    // frame (12 rows), never the corpus
    val w = org.apache.spark.sql.expressions.Window.partitionBy(col("predicate"))
    perLayout
      .withColumn("best", min(struct(col("rows_scanned"),
        col("groups_scanned"), col("layout"))).over(w))
      .withColumn("advised",
        col("best.rows_scanned") === col("rows_scanned") &&
          col("best.groups_scanned") === col("groups_scanned") &&
          col("best.layout") === col("layout"))
      .drop("best")
      .orderBy("predicate", "layout")
  }

  private[graft] def idxBytes(card: Long): Long = {
    val bits = 64 - java.lang.Long.numberOfLeadingZeros(
      math.max(card, 2L) - 1L)
    (bits + 7L) / 8L
  }

  /** The per-column encoding audit over (source, lang, doc_id, n_chars):
    * one scanRank pass gives each row its predecessor (rank equi-join —
    * no corpus window), one aggregate collapses every size model to a
    * handful of scalars, and the advisor emits (column, encoding,
    * model_bytes, advised) with `advised` = the strict minimum
    * (ties broken by encoding name — deterministic, documented).
    */
  private[graft] def encodingAdvisor(spark: org.apache.spark.sql.SparkSession,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val checked = docs.select(
      Seq("doc_id", "source", "lang", "n_chars").map { c =>
        when(col(c).isNull, raise_error(lit(
          s"q234: NULL in audited column '$c' — the size model does not " +
            "define null encoding; scrub or model it explicitly")))
          .otherwise(col(c)).as(c)
      }: _*)
    val ranked = Curation.scanRank(checked, Seq(col("doc_id")))
    val prev = ranked.select((col("rank") + 1L).as("rank"),
      col("source").as("p_source"), col("lang").as("p_lang"),
      col("doc_id").as("p_doc_id"), col("n_chars").as("p_n_chars"))
    val j = ranked.join(prev, Seq("rank"), "left")
    def boundary(c: String) = col("rank") === 1L || !(col(c) <=> col(s"p_$c"))
    def zigzag(d: org.apache.spark.sql.Column) =
      when(d >= 0L, d * 2L).otherwise(-d * 2L - 1L)
    def varint(u: org.apache.spark.sql.Column) = {
      val guarded = when(u >= (1L << 35),
        raise_error(lit("q234: delta outside the 5-byte varint model")))
        .otherwise(u)
      lit(1L) + (guarded >= (1L << 7)).cast("long") +
        (guarded >= (1L << 14)).cast("long") +
        (guarded >= (1L << 21)).cast("long") +
        (guarded >= (1L << 28)).cast("long")
    }
    val agg = j.agg(
      count(lit(1)).as("n"),
      sum(lit(4L) + octet_length(col("source"))).as("src_plain"),
      sum(lit(4L) + octet_length(col("lang"))).as("lang_plain"),
      sum(when(boundary("source"),
        lit(8L) + octet_length(col("source"))).otherwise(0L)).as("src_rle"),
      sum(when(boundary("lang"),
        lit(8L) + octet_length(col("lang"))).otherwise(0L)).as("lang_rle"),
      sum(when(boundary("n_chars"), 12L).otherwise(0L)).as("nch_rle"),
      sum(when(boundary("doc_id"), 12L).otherwise(0L)).as("did_rle"),
      sum(when(col("rank") === 1L, 8L)
        .otherwise(varint(zigzag(col("doc_id") - col("p_doc_id")))))
        .as("did_delta"),
      sum(when(col("rank") === 1L, 8L)
        .otherwise(varint(zigzag(col("n_chars") - col("p_n_chars")))))
        .as("nch_delta"))
    val dict = j.agg(
      countDistinct(col("source")).as("src_card"),
      countDistinct(col("lang")).as("lang_card"),
      countDistinct(col("doc_id")).as("did_card"),
      countDistinct(col("n_chars")).as("nch_card"))
    val dictOct = checked.select(col("source")).distinct()
      .agg(sum(lit(4L) + octet_length(col("source"))).as("src_dict_oct"))
      .crossJoin(checked.select(col("lang")).distinct()
        .agg(sum(lit(4L) + octet_length(col("lang"))).as("lang_dict_oct")))
    // bounded audit state: a handful of scalars -> 14 advisory rows
    val s = agg.crossJoin(dict).crossJoin(dictOct).head()
    def g(name: String): Long = s.getLong(s.fieldIndex(name))
    val n = g("n")
    val rows: Seq[(String, String, Long)] = Seq(
      ("source", "plain", g("src_plain")),
      ("source", "dict", g("src_dict_oct") + n * idxBytes(g("src_card"))),
      ("source", "rle", g("src_rle")),
      ("lang", "plain", g("lang_plain")),
      ("lang", "dict", g("lang_dict_oct") + n * idxBytes(g("lang_card"))),
      ("lang", "rle", g("lang_rle")),
      ("doc_id", "plain", 8L * n),
      ("doc_id", "dict", 8L * g("did_card") + n * idxBytes(g("did_card"))),
      ("doc_id", "rle", g("did_rle")),
      ("doc_id", "delta", g("did_delta")),
      ("n_chars", "plain", 8L * n),
      ("n_chars", "dict", 8L * g("nch_card") + n * idxBytes(g("nch_card"))),
      ("n_chars", "rle", g("nch_rle")),
      ("n_chars", "delta", g("nch_delta")))
    val advised = rows.groupBy(_._1).map { case (c, g0) =>
      c -> g0.minBy(t => (t._3, t._2))._2
    }
    import spark.implicits._
    rows.map { case (c, e, b) => (c, e, b, advised(c) == e) }
      .toDF("column", "encoding", "model_bytes", "advised")
      .orderBy("column", "encoding")
  }

  def queries: Map[String, Q] = Map(
    "q00_flagship" -> flagship,

    // q234 [north star, r12]: columnar ENCODING ADVISOR — the decision
    // a Parquet-class writer makes per column, as an auditable query:
    // exact byte-size models for plain/dictionary/RLE/delta-varint over
    // (source, lang, doc_id, n_chars), advised = the minimum. One
    // scanRank pass + one aggregate; the 14-row advisory is assembled
    // from bounded scalars.
    "q234_encoding_advisor" -> ((spark, dir) =>
      encodingAdvisor(spark, Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars")))),

    // q243 [north star, r13]: WRITER-CHOICE AUDIT — q234's exact size
    // models turned on the REAL writer: q239's footer walk reads the
    // encodings the arrow writer actually chose per column (all four
    // audited columns: dictionary), and the audit prices that choice
    // with q234's own byte models against the advised minimum — per
    // column: (actual encoding, its model bytes, advised encoding,
    // advised bytes, wasted bytes). The footer read is one driver-side
    // metadata fetch (how table maintenance inspects layout); everything
    // else is the q234 scanRank pass. Oracle: q234's oracle VERBATIM as
    // a subquery (the q229 discipline) joined against the actual
    // encodings as format literals (the q168 self-validating leg — a
    // writer change would land as a red row, which is the point).
    "q243_writer_choice_audit" -> ((spark, dir) => {
      import spark.implicits._
      val adv = encodingAdvisor(spark, Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars")))
      val audited = Set("doc_id", "source", "lang", "n_chars")
      val actual = Footer.encodingClasses(s"$dir/documents.parquet")
        .filter { case (c, _) => audited(c) }.toSeq
        .toDF("c", "actual_encoding")
      val a = adv.join(actual,
          adv("column") === col("c") &&
            adv("encoding") === col("actual_encoding"))
        .select(adv("column").as("column"), col("actual_encoding"),
          adv("model_bytes").as("actual_bytes"))
      val b = adv.filter(col("advised"))
        .select(col("column").as("bc"),
          col("encoding").as("advised_encoding"),
          col("model_bytes").as("advised_bytes"))
      a.join(b, col("column") === col("bc"))
        .select(col("column"), col("actual_encoding"), col("actual_bytes"),
          col("advised_encoding"), col("advised_bytes"),
          (col("actual_bytes") - col("advised_bytes")).as("wasted_bytes"))
        .orderBy("column")
    }),

    // q238 [north star, r13]: SORT-LAYOUT PRUNING ADVISOR — the OTHER
    // decision a Parquet-class writer makes (q234 chose encodings; this
    // chooses the sort order): for each candidate layout, partition the
    // table into row groups of PruneGroupRows under that order, take
    // per-group min/max (exactly what the writer would put in the q239
    // footer), and count the groups/rows a representative predicate
    // workload CANNOT prune — the real cost model behind Z-ordering and
    // clustering keys. `advised` = the strict (rows_scanned, layout)
    // minimum per predicate. Scale: one scanRank pass per layout (range
    // partition + local windows + broadcast offsets — zero global
    // windows over the corpus), then everything is group-count-bounded;
    // the windows below run over the 12-row advisory frame.
    "q238_layout_pruning_advisor" -> ((spark, dir) =>
      pruningAdvisor(Tables(spark, dir, "documents")
        .select(col("doc_id"), col("source"), col("lang"), col("n_chars")))),

    // q228 [north star, r12]: TIME-TRAVEL read — the q223 dump set AS
    // OF version 2: later updates/births don't exist yet, v2
    // tombstones already do. Same latest-wins collapse over the
    // filtered history; oracle filters the same md5-gated dumps.
    "q228_time_travel" -> ((spark, dir) =>
      timeTravelRead(mergeDumps(spark, dir), TimeTravelVersion)),

    // q223 [north star, r12]: MERGE compaction — versioned dumps with
    // updates, tombstones, and delta-introduced keys collapse to the
    // latest-version view; dead keys stay in the manifest (silently
    // dropping them would un-delete on the next merge), and a
    // double-claimed (key, version) slot refuses loudly. Dump gates
    // are md5-derived (the q188 pattern), mirrored by the oracle.
    // memoized per sf-dir (CachePool.memo): the q229 release card's merge
    // census consumes the same rows; the PlanSpec pin targets the raw
    // mergeCompact(mergeDumps(...)) build.
    "q223_merge_compaction" -> ((spark, dir) =>
      graft.CachePool.memo("q223_merge_compaction", dir)(
        mergeCompact(mergeDumps(spark, dir)))),

    // q210 [north star, r12]: RFC 4180 CSV line codec — the wire format
    // the codec tier lacked (gzip q02, JSON q03/q04, WARC q169). Both
    // directions are native codegen expressions (CsvEncode/CsvSplit);
    // the decoder is a STRICT state machine that refuses malformed
    // input loudly (a reader that "recovers" from a stray quote
    // silently mis-shifts every following column). NULL ↔ empty
    // unquoted field and "" ↔ quoted empty keep the codec a bijection,
    // and the round-trip identity is enforced IN-PLAN by raise_error —
    // every output row is a proven lossless encode/decode. The fixture
    // md5-gates six arms (plain, comma, quote, newline, empty, NULL) so
    // every quoting rule is exercised; the oracle re-derives the same
    // lines from the same arms with SQL CASE quoting — byte-exact.
    "q210_csv_roundtrip" -> ((spark, dir) =>
      csvRoundtrip(Tables(spark, dir, "documents"))),

    // q211 [north star, r12]: URL canonicalization (RFC 3986 §6) — the
    // crawl-frontier key beside WARC ingest (q169): frontiers dedup on
    // CANONICAL urls or they re-crawl case/dot/port variants as
    // distinct pages. The UrlCanonicalize codegen expression applies
    // the six documented rules (lowercase scheme+host, default-port
    // strip, §5.2.4 dot-segment resolution, %HH uppercasing with loud
    // validation, fragment strip, empty path → /); six md5-gated
    // fixture arms exercise each rule; the oracle re-derives the same
    // rules in SQL (a recursive-CTE segment stack for rule 3, a
    // generated hex-pair replace chain for rule 4). Output pairs the
    // raw and canonical forms with the per-host frontier key.
    "q211_url_canonicalize" -> ((spark, dir) =>
      urlCanonicalize(Tables(spark, dir, "documents"))),

    // q212 [north star, r12]: robots.txt rule evaluation (RFC 9309) —
    // the POLITENESS leg completing the crawl trio (WARC ingest q169,
    // frontier key q211, fetch permission here): per canonical URL,
    // the most-specific matching rule decides fetchability — longest
    // pattern wins, allow wins length ties, no match means allowed.
    // Patterns support `*` and the `$` end anchor via the RobotsMatch
    // codegen expression; the rule set is a dictionary-sized literal
    // (the QueryTerms stance) so evaluation is pure map-side work with
    // NO rules join. The fixture's seven rules exercise longest-match
    // override, the allow-wins tie, star, anchor, escaped-path and
    // query-string matching, and the default-allow path.
    "q212_robots_eval" -> ((spark, dir) =>
      robotsEval(urlCanonicalize(Tables(spark, dir, "documents")))),

    // q224 [north star, r12]: crawl-frontier POLITENESS SCHEDULING —
    // the crawl tier's last stage (ingest → frontier key → permission
    // → schedule): canonical dedup (keeper = min doc_id), withheld
    // URLs reported with NULL slots, per-host serialization into
    // delay-spaced fetch slots. The per-host window IS the schedule —
    // politeness is serial per host by definition.
    "q224_frontier_schedule" -> ((spark, dir) =>
      frontierSchedule(urlCanonicalize(Tables(spark, dir, "documents")))),

    // q01 [CLOSURE of app.py:16-30]: bounded scan + projection.
    "q01_scan_project" -> ((spark, dir) =>
      Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"), col("l_quantity"),
          col("l_extendedprice"))
        .orderBy(col("l_orderkey"), col("l_linenumber"))),

    // q02 [REF app.py:36]: gzip decode; verified by round-trip identity.
    // r17: spread before the deflate/inflate chain — one row group of
    // events fused the whole round trip into a single scan task (A/B at
    // sf0.1: 2.8s fused vs 1.0s spread).
    "q02_gzip_roundtrip" -> ((spark, dir) =>
      graft.Tables.spread(Tables(spark, dir, "events")
        .select(col("event_id"), col("props")))
        .select(col("event_id"),
          Codec.gunzip(Codec.gzip(col("props"))).as("decoded"))
        .orderBy("event_id")),

    // q03 [REF app.py:40-46]: JSON payload -> typed struct (PERMISSIVE).
    // Open-schema note: from_json DECLARES only the fields the pipeline
    // reads (the reference's .get() probes) — unknown fields are
    // invisible here by design, which is fine for the READ side. The
    // WRITE-BACK side must not round-trip through this schema (it would
    // drop everything undeclared): q189 / RawAns is the passthrough
    // discipline — the raw JSON string is the source of truth and edits
    // are byte-preserving splices (tag.py:64, SURVEY §1.3).
    "q03_json_parse" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .select(col("event_id"),
          from_json(col("props"), StructType.fromDDL("k LONG"))
            .getField("k").as("k"))
        .orderBy("event_id")),

    // q04 [REF tag.py:21-27]: struct -> JSON for the writeback body.
    // to_json re-serializes only DECLARED fields — the open-schema
    // write-back (preserving fields the pipeline does not understand)
    // is q189's splice, not a parse/re-serialize round trip.
    "q04_json_serialize" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .select(col("event_id"),
          to_json(struct(col("event_id"), col("event_type"))).as("js"))
        .orderBy("event_id")),

    // q189 [REF tag.py:64, r12]: OPEN-SCHEMA tag append — the
    // reference's real write-back contract: the stored ANS document
    // goes back WHOLE with only taxonomy.tags touched, so fields the
    // consumer has never heard of (ANS schemas evolve weekly) survive
    // byte-level. A typed parse → modify → re-serialize round trip
    // CANNOT honor this (it drops/reorders everything undeclared);
    // the engine edits the raw text with a single contiguous splice
    // (RawAns, fused via the JsonTagAppend codegen expression — zero
    // UDFs). The fixture exercises all five splice arms — no taxonomy,
    // taxonomy without tags, populated tags, already-tagged (returns
    // the input object itself), tags:null — with an unknown subtree
    // whose string values contain decoy braces/brackets/escaped quotes
    // and the word "taxonomy". The oracle constructs the EXPECTED
    // post-splice bytes independently per arm, so the hash match pins
    // the splice contract byte-for-byte cross-engine.
    "q189_raw_tag_append" -> ((spark, dir) => {
      val id = col("doc_id").cast("string")
      val m = col("doc_id") % 5
      val unknown = concat(
        lit("\"extra\":{\"note\":\"skip \\\" taxonomy {[\",\"n\":"), id,
        lit("}"))
      val pre = concat(lit("{\"_id\":\"d"), id, lit("\","))
      val tagLit = "{\"slug\":\"kinesis-autotag\",\"text\":\"kinesis autotag\"}"
      val raw =
        when(m === 0, concat(pre, unknown, lit("}")))
          .when(m === 1, concat(pre, lit("\"taxonomy\":{\"version\":"), id,
            lit("},"), unknown, lit("}")))
          .when(m === 2, concat(pre,
            lit("\"taxonomy\":{\"tags\":[{\"slug\":\"other\",\"text\":\"o\"}]},"),
            unknown, lit("}")))
          .when(m === 3, concat(pre,
            lit("\"taxonomy\":{\"tags\":[" + tagLit + "]},"), unknown, lit("}")))
          .otherwise(concat(pre, lit("\"taxonomy\":{\"tags\":null,\"note\":1},"),
            unknown, lit("}")))
      Tables(spark, dir, "documents")
        .select(col("doc_id"), raw.as("raw"))
        .withColumn("tagged", TagOps.appendTagRaw(col("raw"),
          "kinesis-autotag", "kinesis autotag"))
        .select(col("doc_id"), col("tagged"),
          (col("tagged") =!= col("raw")).as("changed"))
        .orderBy("doc_id")
    }),

    // q197 [north star, r12]: SCHEMA-DRIFT PROFILE — the measurement
    // leg of the open-schema discipline (q03/q04 read declared fields,
    // q189 writes preserving unknowns, this is how the consumer SEES
    // the producer evolve): per (path, JSON type), how many documents
    // carry it — a new field, a removed field, or a type change shows
    // up as a row appearing/disappearing/splitting, which is the
    // dashboard a real ANS consumer checks in week one. The fixture
    // evolves the event payload across four arms (legacy / added field
    // / type change + nested addition / deprecation + null). Engine
    // side is the JsonSchemaProfile codegen expression (RawAns's
    // scanner — unescaped keys, loud on malformed docs) + one
    // partial-aggregating rollup; oracle = DuckDB's independent JSON
    // implementation (json_keys/json_type over pointer paths; its
    // dynamic-path json_type conflates JSON null with missing, but
    // keys from json_keys always exist, so COALESCE(…,'NULL') is
    // exact).
    "q197_schema_drift_profile" -> ((spark, dir) => {
      val id = col("event_id").cast("string")
      val kv = (col("event_id") % 100).cast("string")
      val m = col("event_id") % 4
      val js = when(m === 0, concat(lit("{\"k\":"), kv, lit("}")))
        .when(m === 1, concat(lit("{\"k\":"), kv,
          lit(",\"ref\":\"r"), id, lit("\"}")))
        .when(m === 2, concat(lit("{\"k\":\""), kv,
          lit("\",\"meta\":{\"v\":2,\"tags\":[1,2]}}")))
        .otherwise(lit("{\"ref\":null,\"meta\":{\"v\":true}}"))
      Tables(spark, dir, "events")
        .select(explode(TagOps.schemaProfile(js)).as("e"))
        .select(split(col("e"), "\u0001").getItem(0).as("path"),
          split(col("e"), "\u0001").getItem(1).as("jtype"))
        .groupBy(col("path"), col("jtype"))
        .agg(count(lit(1)).as("n"))
        .orderBy("path", "jtype")
    }),

    // q05 [REF app.py:56]: conjunctive equality/range filter.
    "q05_filter_conjunctive" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .filter(col("event_type") === "signup" && col("value") > 100.0 &&
          col("user_id") < 100)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("props"))
        .orderBy("event_id")),

    // q06 [REF app.py:57-67]: nested projection with null-guarded access —
    // Spark's null propagation on absent struct fields reproduces the
    // `if record.get('trigger')` guard at app.py:64.
    "q06_nested_projection" -> ((spark, dir) => {
      val j = from_json(col("props"),
        StructType.fromDDL("k LONG, missing STRUCT<x: LONG>"))
      Tables(spark, dir, "events")
        .withColumn("j", j)
        .select(col("event_id"), col("j.k").as("k"),
          col("j.missing.x").as("missing_x"))
        .orderBy("event_id")
    }),

    // q07 [REF app.py:56-66, tag.py:33]: .get()-style defaulting.
    "q07_defaulting" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .select(col("event_id"),
          coalesce(when(col("event_type") === "error", lit(null))
            .otherwise(col("event_type")), lit("unknown")).as("et"),
          when(col("value") >= 100.0, lit("high")).otherwise(lit("low"))
            .as("band"))
        .orderBy("event_id")),

    // q08 [CLOSURE of app.py:56; README.md:232 "other criteria"].
    "q08_range_in" -> ((spark, dir) =>
      Tables(spark, dir, "orders")
        .filter(col("o_totalprice").between(1000.0, 5000.0) &&
          col("o_orderpriority").isin("1-URGENT", "2-HIGH"))
        .select(col("o_orderkey"), col("o_totalprice"),
          col("o_orderpriority"))
        .orderBy("o_orderkey")),

    // q27 [CLOSURE]: global sort (range-partitioned exchange at scale).
    "q27_sort" -> ((spark, dir) =>
      Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))),

    // q28 [REF-adjacent app.py:22 Limit=20]: top-k — Spark plans
    // TakeOrderedAndProject (no global sort materialization).
    "q28_topk_limit" -> ((spark, dir) =>
      Tables(spark, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
        .limit(100)),

    // q29–q31 [CLOSURE; set semantics anchor tag.py:39].
    "q29_union_all" -> ((spark, dir) => {
      val e = Tables(spark, dir, "events")
      e.filter(col("event_type") === "signup")
        .select(col("event_id"), col("event_type"))
        .unionByName(
          e.filter(col("value") > 150.0)
            .select(col("event_id"), col("event_type")))
        .orderBy("event_id", "event_type")
    }),

    "q30_intersect" -> ((spark, dir) => {
      val e = Tables(spark, dir, "events")
      e.filter(col("event_type") === "signup").select(col("user_id"))
        .intersect(
          e.filter(col("event_type") === "purchase").select(col("user_id")))
        .orderBy("user_id")
    }),

    "q31_except" -> ((spark, dir) => {
      val e = Tables(spark, dir, "events")
      e.filter(col("event_type") === "view").select(col("user_id"))
        .except(
          e.filter(col("event_type") === "error").select(col("user_id")))
        .orderBy("user_id")
    }),

    // q61 [CLOSURE]: pivot — event counts per user, one column per type.
    // Explicit value list keeps the schema static (a dynamic pivot would
    // need a values scan first — same API, one extra job).
    "q61_pivot" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("signup", "purchase", "view", "error"))
        .count()
        .na.fill(0L)
        .select(col("user_id"), col("signup"), col("purchase"), col("view"),
          col("error"))
        .orderBy("user_id")),

    // q100 [CLOSURE]: unpivot/melt — q61's wide per-user counts back to
    // long (user_id, event_type, n) form, the inverse reshape (feature
    // tables -> tidy rows). Spark's native unpivot generates the
    // stack-style expand without a shuffle beyond q61's own aggregation;
    // values are BIGINT counts so the compare is integer-exact.
    "q100_unpivot" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .groupBy(col("user_id"))
        .pivot("event_type", Seq("signup", "purchase", "view", "error"))
        .count()
        .na.fill(0L)
        .unpivot(Array(col("user_id")),
          Array(col("signup"), col("purchase"), col("view"), col("error")),
          "event_type", "n")
        .orderBy("user_id", "event_type")),

    // q64 [REF app.py:51-54]: the commented-out first-publish variant —
    // wire-format event JSON rebuilt from the batch table, parsed through
    // the REAL EventDecoder.parseEvent path, then filtered on
    // created == true (the reference's "find first publishes" predicate).
    // `created`/`published` are derived deterministically from `value` so
    // the oracle can mirror the predicate without a JSON round-trip.
    "q64_first_publish" -> ((spark, dir) => {
      val payload = to_json(struct(
        col("event_id").cast("string").as("id"),
        when(col("event_type") === "signup", lit("insert-story"))
          .otherwise(lit("update-story")).as("operation"),
        (col("value") > 100.0).as("created"),
        lit("story").as("type"),
        (col("value") > 50.0).as("published")))
      Tables(spark, dir, "events")
        .withColumn("ev", graft.streaming.EventDecoder.parseEvent(payload))
        .filter(graft.streaming.EventDecoder.firstPublishFilter(
          col("ev.operation"), col("ev.published"), col("ev.created")))
        .select(col("event_id"),
          col("ev.id").as("id"),
          col("ev.operation").as("operation"),
          col("ev.created").as("created"))
        .orderBy("event_id")
    }),

    // q62 [CLOSURE]: SQL-text path — correlated EXISTS + scalar subquery
    // through spark.sql over registered views (the engine's full
    // parse→analyze→optimize lifecycle, not just the DataFrame builder).
    "q62_sql_subquery" -> ((spark, dir) => {
      Tables(spark, dir, "orders").createOrReplaceTempView("v_orders")
      Tables(spark, dir, "lineitem").createOrReplaceTempView("v_lineitem")
      spark.sql(
        """SELECT o_orderkey, o_totalprice
          |FROM v_orders o
          |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM v_orders)
          |  AND EXISTS (SELECT 1 FROM v_lineitem l
          |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
          |ORDER BY o_orderkey""".stripMargin)
    }),

    // q127 [CLOSURE]: Z-ORDER layout key — the Morton interleave of
    // (user_id, props.k) that multi-dimensional data skipping sorts by
    // (see Layout.zorderKey: one file envelope stays tight on BOTH
    // dimensions). Pure codegen'd bit arithmetic, no UDF; the oracle
    // evaluates the identical shifts in DuckDB so the key is pinned
    // bit-for-bit. LayoutSpec measures the envelope shrinkage that makes
    // this worth sorting 100 TB by.
    "q127_zorder_key" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .select(col("event_id"), col("user_id"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .withColumn("z",
          Layout.zorderKey(col("user_id"), col("k"), ZOrderBits))
        .select(col("event_id"), col("user_id"), col("k"), col("z"))
        .orderBy("event_id")),
  )

  private[graft] val ZOrderBits = 12

  // q127 mirror: the identical interleave, spelled with DuckDB's bit
  // operators (precedence differs from Spark's builder — every term is
  // fully parenthesized).
  private[graft] def zorderSql(x: String, y: String, bits: Int): String =
    (0 until bits).map { i =>
      s"((($x >> $i) & 1) << ${2 * i}) | ((($y >> $i) & 1) << ${2 * i + 1})"
    }.map(t => s"($t)").mkString(" | ")

  /** q210's operator over a `(doc_id, source, text)`-shaped frame. */
  private[graft] def csvRoundtrip(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val g = substring(md5(concat(lit("csv:"), col("doc_id").cast("string"))), 1, 1)
    val w1 = element_at(split(col("text"), " "), 1)
    val w2 = coalesce(element_at(split(col("text"), " "), 2), lit("y"))
    val dirty = when(g < "3", w1)
      .when(g < "6", concat(w1, lit(","), w2))
      .when(g < "9", concat(w1, lit("\""), w2))
      .when(g < "c", concat(w1, lit("\n"), w2))
      .when(g < "e", lit(""))
      .otherwise(lit(null).cast("string"))
    val base = docs.select(col("doc_id"), g.as("arm"),
      array(col("doc_id").cast("string"), col("source"), dirty).as("fields"))
    val enc = base.select(col("doc_id"), col("arm"), col("fields"),
      toColumn(graft.expressions.CsvEncode(toExpression(col("fields"))))
        .as("line"))
    val dec = enc.select(col("doc_id"), col("arm"), col("fields"), col("line"),
      toColumn(graft.expressions.CsvSplit(toExpression(col("line"))))
        .as("back"))
    dec
      // the round-trip identity, stated in-plan: any field that fails
      // to survive encode→decode is a silent data-corruption bug, never
      // to be returned as data
      .filter(when(size(col("back")) =!= size(col("fields")) ||
          !forall(zip_with(col("fields"), col("back"), (a, b) => a <=> b),
            x => x),
        raise_error(concat(lit("q210: CSV round-trip broke on doc "),
          col("doc_id").cast("string"), lit(" line <"), col("line"), lit(">"))))
        .otherwise(lit(true)))
      .select(col("doc_id"), col("arm"), col("line"),
        octet_length(col("line")).cast("long").as("n_bytes"))
      .orderBy("doc_id")
  }

  /** q211's operator over a `(doc_id, text)`-shaped frame. */
  private[graft] def urlCanonicalize(
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val g = substring(md5(concat(lit("url:"), col("doc_id").cast("string"))), 1, 1)
    val w1 = coalesce(element_at(split(col("text"), " "), 1), lit("page"))
    val w2 = coalesce(element_at(split(col("text"), " "), 2), lit("item"))
    // len = Int.MaxValue ≡ the oracle's unbounded substring(w1, 2) —
    // a finite cap would silently truncate long first tokens and
    // desynchronize the two engines' raw_url fixtures
    val host = concat(upper(substring(w1, 1, 1)), substring(w1, 2, Int.MaxValue),
      lit(".Example.COM"))
    val raw = when(g < "3", concat(lit("HTTP://"), host, lit("/"), w1, lit("/"), w2))
      .when(g < "6", concat(lit("http://"), lower(host), lit(":80/"), w1))
      .when(g < "9", concat(lit("https://"), lower(host), lit(":443/"), w1,
        lit("/../"), w2, lit("/./end")))
      .when(g < "c", concat(lit("http://"), lower(host), lit("/p%2fq/"), w1,
        lit("?x=%3a&y="), w2))
      .when(g < "e", concat(lit("http://"), lower(host), lit("/"), w1,
        lit("#sec"), w2))
      .otherwise(concat(lit("http://"), host))
    docs.select(col("doc_id"), g.as("arm"), raw.as("raw_url"))
      .withColumn("canon",
        toColumn(graft.expressions.UrlCanonicalize(
          toExpression(col("raw_url")))))
      .withColumn("host_key",
        element_at(split(element_at(split(col("canon"), "://"), 2), "/"), 1))
      .select(col("doc_id"), col("arm"), col("raw_url"), col("canon"),
        col("host_key"))
      .orderBy("doc_id")
  }

  /** q212's rule set: (allow, raw REP pattern). Specificity = raw
    * pattern octet length (metachars included — Google's documented
    * tie metric); allow wins equal lengths; pattern string breaks any
    * residual tie deterministically.
    */
  private[graft] val RobotsRules: Seq[(Boolean, String)] = Seq(
    (false, "/scan"),
    (true, "/scan/column$"),
    (false, "*/end"),
    (false, "/p%2Fq/"),
    (true, "/big"),
    (false, "/big"),
    (false, "*&y="))

  /** q212's operator over a q211-shaped `(doc_id, canon, host_key)`
    * frame.
    */
  private[graft] def robotsEval(
      urls: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val withPath = urls
      .withColumn("rest", element_at(split(col("canon"), "://"), 2))
      .withColumn("path", expr("substring(rest, length(host_key) + 1)"))
    val ruleArr = array(RobotsRules.map { case (allow, pat) =>
      struct(lit(allow).as("al"), lit(pat).as("pt"),
        lit(pat.length.toLong).as("ln"),
        toColumn(graft.expressions.RobotsMatch(
          toExpression(col("path")), pat)).as("m"))
    }: _*)
    val matched = withPath
      .select(col("doc_id"), explode(ruleArr).as("r"))
      .filter(col("r.m"))
      .groupBy(col("doc_id"))
      // lexicographic struct max = (longest, then allow, then pattern)
      .agg(max(struct(col("r.ln").as("ln"),
        when(col("r.al"), 1L).otherwise(0L).as("aw"),
        col("r.pt").as("pt"))).as("w"))
    withPath.select(col("doc_id"), col("path"))
      .join(matched, Seq("doc_id"), "left")
      .select(col("doc_id"), col("path"),
        coalesce(col("w.aw") === 1L, lit(true)).as("allowed"),
        col("w.pt").as("rule"),
        coalesce(col("w.ln"), lit(-1L)).as("rule_len"))
      .orderBy("doc_id")
  }

  /** q224: the politeness SCHEDULE over the canonical frontier — the
    * stage between fetch permission (q212) and the fetcher itself,
    * completing the crawl tier end to end (ingest q169 → frontier key
    * q211 → permission q212 → schedule here): frontier URLs dedup on
    * their canonical form (keeper = min doc_id — q211's whole point),
    * robots-disallowed URLs are REPORTED as withheld (NULL slot —
    * dropping them would hide exactly what politeness is costing the
    * crawl), and each host's allowed URLs serialize into fetch slots
    * spaced by that host's crawl delay (deterministic here: 1 +
    * len(host) mod 5 seconds — production reads it from q212's rule
    * source).
    *
    * Scale shape: the per-host window IS the schedule — politeness is
    * serial per host BY DEFINITION, so a hot host's long partition is
    * the semantics, not a skew accident; hosts are the parallel unit.
    * Everything upstream is map-side expression work + one
    * canon-keyed dedup shuffle.
    */
  private[graft] def frontierSchedule(
      urls: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val verdicts = robotsEval(urls).select(col("doc_id"), col("allowed"))
    val keeper = urls.select(col("doc_id"), col("canon"), col("host_key"))
      .join(verdicts, Seq("doc_id"))
      .groupBy(col("canon"), col("host_key"), col("allowed"))
      .agg(min(col("doc_id")).as("doc_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("host_key")).orderBy(col("canon"))
    val sched = keeper.filter(col("allowed"))
      .withColumn("rank_in_host", row_number().over(w).cast("long") - 1L)
      .select(col("doc_id"), col("canon"), col("host_key"), col("allowed"),
        col("rank_in_host"),
        (col("rank_in_host") *
          (lit(1L) + length(col("host_key")).cast("long") % 5L))
          .as("fetch_at_s"))
    val withheld = keeper.filter(!col("allowed"))
      .select(col("doc_id"), col("canon"), col("host_key"), col("allowed"),
        lit(null).cast("long").as("rank_in_host"),
        lit(null).cast("long").as("fetch_at_s"))
    sched.unionByName(withheld).orderBy("doc_id")
  }

  /** The ≤1-star closed-form SQL translation of a REP pattern — the
    * oracle's independent road (the general matcher lives engine-side;
    * the translator refuses patterns outside its closed form LOUDLY at
    * oracle-build time rather than mis-translating).
    */
  private def robotsMatchSql(pat0: String): String = {
    val anchored = pat0.endsWith("$")
    val pat = if (anchored) pat0.dropRight(1) else pat0
    if (!pat.contains("*")) {
      if (anchored) s"path = '$pat'" else s"starts_with(path, '$pat')"
    } else {
      val parts = pat.split("\\*", -1)
      require(parts.length == 2 && parts(0).isEmpty && !anchored,
        s"q212 oracle translator covers leading-star unanchored patterns only, got $pat0")
      s"contains(path, '${parts(1)}')"
    }
  }

  /** q234's oracle, factored so q243 can reuse it verbatim as a subquery
    * (the q229 discipline).
    */
  private def q234OracleSql: String = {
      def ib(card: String) =
        s"(CASE WHEN $card <= 256 THEN 1 WHEN $card <= 65536 THEN 2 " +
          s"WHEN $card <= 16777216 THEN 3 ELSE 4 END)"
      def zz(v: String) = s"(CASE WHEN ($v) >= 0 THEN ($v)*2 ELSE -($v)*2 - 1 END)"
      def vint(u: String) =
        s"(1 + CASE WHEN ($u) >= 128 THEN 1 ELSE 0 END" +
          s" + CASE WHEN ($u) >= 16384 THEN 1 ELSE 0 END" +
          s" + CASE WHEN ($u) >= 2097152 THEN 1 ELSE 0 END" +
          s" + CASE WHEN ($u) >= 268435456 THEN 1 ELSE 0 END)"
      s"""WITH o AS (SELECT doc_id, source, lang, n_chars,
         |    LAG(source) OVER w AS p_source, LAG(lang) OVER w AS p_lang,
         |    LAG(doc_id) OVER w AS p_doc_id, LAG(n_chars) OVER w AS p_n_chars,
         |    ROW_NUMBER() OVER w AS rk
         |  FROM documents WINDOW w AS (ORDER BY doc_id)),
         |agg AS (SELECT COUNT(*) AS n,
         |    SUM(4 + strlen(source)) AS src_plain,
         |    SUM(4 + strlen(lang)) AS lang_plain,
         |    SUM(CASE WHEN rk = 1 OR source IS DISTINCT FROM p_source
         |        THEN 8 + strlen(source) ELSE 0 END) AS src_rle,
         |    SUM(CASE WHEN rk = 1 OR lang IS DISTINCT FROM p_lang
         |        THEN 8 + strlen(lang) ELSE 0 END) AS lang_rle,
         |    SUM(CASE WHEN rk = 1 OR n_chars IS DISTINCT FROM p_n_chars
         |        THEN 12 ELSE 0 END) AS nch_rle,
         |    SUM(CASE WHEN rk = 1 OR doc_id IS DISTINCT FROM p_doc_id
         |        THEN 12 ELSE 0 END) AS did_rle,
         |    SUM(CASE WHEN rk = 1 THEN 8
         |        ELSE ${vint(zz("doc_id - p_doc_id"))} END) AS did_delta,
         |    SUM(CASE WHEN rk = 1 THEN 8
         |        ELSE ${vint(zz("n_chars - p_n_chars"))} END) AS nch_delta,
         |    COUNT(DISTINCT source) AS src_card,
         |    COUNT(DISTINCT lang) AS lang_card,
         |    COUNT(DISTINCT doc_id) AS did_card,
         |    COUNT(DISTINCT n_chars) AS nch_card
         |  FROM o),
         |ds AS (SELECT SUM(4 + strlen(source)) AS src_dict_oct
         |       FROM (SELECT DISTINCT source FROM documents)),
         |dl AS (SELECT SUM(4 + strlen(lang)) AS lang_dict_oct
         |       FROM (SELECT DISTINCT lang FROM documents)),
         |r AS (
         |  SELECT 'source' AS col, 'plain' AS encoding, src_plain AS b FROM agg
         |  UNION ALL SELECT 'source', 'dict',
         |    (SELECT src_dict_oct FROM ds) + n * ${ib("src_card")} FROM agg
         |  UNION ALL SELECT 'source', 'rle', src_rle FROM agg
         |  UNION ALL SELECT 'lang', 'plain', lang_plain FROM agg
         |  UNION ALL SELECT 'lang', 'dict',
         |    (SELECT lang_dict_oct FROM dl) + n * ${ib("lang_card")} FROM agg
         |  UNION ALL SELECT 'lang', 'rle', lang_rle FROM agg
         |  UNION ALL SELECT 'doc_id', 'plain', 8 * n FROM agg
         |  UNION ALL SELECT 'doc_id', 'dict',
         |    8 * did_card + n * ${ib("did_card")} FROM agg
         |  UNION ALL SELECT 'doc_id', 'rle', did_rle FROM agg
         |  UNION ALL SELECT 'doc_id', 'delta', did_delta FROM agg
         |  UNION ALL SELECT 'n_chars', 'plain', 8 * n FROM agg
         |  UNION ALL SELECT 'n_chars', 'dict',
         |    8 * nch_card + n * ${ib("nch_card")} FROM agg
         |  UNION ALL SELECT 'n_chars', 'rle', nch_rle FROM agg
         |  UNION ALL SELECT 'n_chars', 'delta', nch_delta FROM agg),
         |adv AS (SELECT col, encoding, b,
         |    ROW_NUMBER() OVER (PARTITION BY col ORDER BY b, encoding) AS rn
         |  FROM r)
         |SELECT col AS "column", encoding, CAST(b AS BIGINT) AS model_bytes,
         |  rn = 1 AS advised
         |FROM adv ORDER BY "column", encoding""".stripMargin
    }

  def oracles: Map[String, String] = {
    // q211's canonicalization chain (ending in `cn`), factored so the
    // q212 politeness oracle evaluates rules over EXACTLY the frontier
    // keys q211 produces: the six RFC 3986 rules re-derived in SQL —
    // scheme/host/port/fragment via string ops, dot-segment resolution
    // as a recursive-CTE segment stack (the q198/q206 proof shape),
    // %HH uppercasing as a generated lower→upper hex-pair replace chain
    val urlChain: String = {
      val hexL = "0123456789abcdef"
      // DuckDB caps expression-binder recursion at 128 — chunk the 156
      // hex-pair replaces into chained CTE stages of 50
      val chunks = (for { a <- hexL; b <- hexL
          pl = s"$a$b"
          pu = pl.toUpperCase if pl != pu } yield (pl, pu))
        .grouped(50).toSeq
      val replCtes = chunks.zipWithIndex.map { case (ps, idx) =>
        val i = idx + 1
        val chain = ps.foldLeft(s"pq${i - 1}")((acc, p) =>
          s"replace($acc, '%${p._1}', '%${p._2}')")
        s"u$i AS (SELECT doc_id, $chain AS pq$i FROM u${i - 1})"
      }
      val uFirst =
        """u0 AS (SELECT s5.doc_id, pth.path||s5.query AS pq0
          |  FROM s5 JOIN pth ON pth.doc_id = s5.doc_id)""".stripMargin
      val uLast = s"u${chunks.size}"
      val pqLast = s"pq${chunks.size}"
      s"""a AS (
         |  SELECT doc_id,
         |    substring(md5('url:'||CAST(doc_id AS VARCHAR)),1,1) AS arm,
         |    COALESCE(string_split(text,' ')[1],'page') AS w1,
         |    COALESCE(string_split(text,' ')[2],'item') AS w2
         |  FROM documents),
         |hh AS (SELECT *,
         |    upper(substring(w1,1,1))||substring(w1,2)||'.Example.COM' AS host
         |  FROM a),
         |r AS (SELECT doc_id, arm,
         |    CASE WHEN arm < '3' THEN 'HTTP://'||host||'/'||w1||'/'||w2
         |         WHEN arm < '6' THEN 'http://'||lower(host)||':80/'||w1
         |         WHEN arm < '9' THEN 'https://'||lower(host)||':443/'||w1||'/../'||w2||'/./end'
         |         WHEN arm < 'c' THEN 'http://'||lower(host)||'/p%2fq/'||w1||'?x=%3a&y='||w2
         |         WHEN arm < 'e' THEN 'http://'||lower(host)||'/'||w1||'#sec'||w2
         |         ELSE 'http://'||host END AS raw_url
         |  FROM hh),
         |s1 AS (SELECT doc_id, arm, raw_url,
         |    lower(string_split(raw_url,'://')[1]) AS scheme,
         |    string_split(raw_url,'://')[2] AS rest0 FROM r),
         |s2 AS (SELECT *, string_split(rest0,'#')[1] AS rest FROM s1),
         |s3 AS (SELECT *,
         |    CASE WHEN strpos(rest,'/')=0 AND strpos(rest,'?')=0 THEN length(rest)+1
         |         WHEN strpos(rest,'/')=0 THEN strpos(rest,'?')
         |         WHEN strpos(rest,'?')=0 THEN strpos(rest,'/')
         |         ELSE LEAST(strpos(rest,'/'), strpos(rest,'?')) END AS ps
         |  FROM s2),
         |s4 AS (SELECT doc_id, arm, raw_url, scheme,
         |    CASE WHEN scheme='http' AND ends_with(lower(substring(rest,1,ps-1)),':80')
         |           THEN substring(lower(substring(rest,1,ps-1)),1,length(substring(rest,1,ps-1))-3)
         |         WHEN scheme='https' AND ends_with(lower(substring(rest,1,ps-1)),':443')
         |           THEN substring(lower(substring(rest,1,ps-1)),1,length(substring(rest,1,ps-1))-4)
         |         ELSE lower(substring(rest,1,ps-1)) END AS auth,
         |    substring(rest, ps) AS tail
         |  FROM s3),
         |s5 AS (SELECT *,
         |    CASE WHEN strpos(tail,'?')=0 THEN (CASE WHEN tail='' THEN '/' ELSE tail END)
         |         ELSE (CASE WHEN substring(tail,1,strpos(tail,'?')-1)=''
         |               THEN '/' ELSE substring(tail,1,strpos(tail,'?')-1) END) END AS path0,
         |    CASE WHEN strpos(tail,'?')=0 THEN '' ELSE substring(tail,strpos(tail,'?')) END AS query
         |  FROM s4),
         |seg AS (SELECT doc_id, CAST(i AS INT) AS i, sp[CAST(i AS INT)] AS seg, len(sp) AS n
         |  FROM (SELECT doc_id, string_split(path0,'/') AS sp FROM s5),
         |       UNNEST(generate_series(2, len(sp))) t(i)),
         |st AS (
         |  SELECT doc_id, 1 AS i, CAST([] AS VARCHAR[]) AS stack, false AS tr
         |  FROM s5
         |  UNION ALL
         |  SELECT st.doc_id, st.i + 1,
         |    CASE WHEN g.seg = '.' THEN st.stack
         |         WHEN g.seg = '..' THEN st.stack[1:len(st.stack)-1]
         |         ELSE list_append(st.stack, g.seg) END,
         |    CASE WHEN g.seg = '.' OR g.seg = '..' THEN true
         |         ELSE g.seg = '' END
         |  FROM st JOIN seg g ON g.doc_id = st.doc_id AND g.i = st.i + 1),
         |fin AS (SELECT st.doc_id AS doc_id, st.stack AS stack, st.tr AS tr
         |  FROM st JOIN (SELECT doc_id, MAX(i) AS mi FROM st GROUP BY doc_id) m
         |    ON m.doc_id = st.doc_id AND st.i = m.mi),
         |pth AS (SELECT doc_id,
         |    CASE WHEN tr AND NOT ends_with(p,'/') THEN p||'/' ELSE p END AS path
         |  FROM (SELECT doc_id, '/'||array_to_string(stack,'/') AS p, tr FROM fin) z),
         |$uFirst,
         |${replCtes.mkString(",\n")},
         |cn AS (SELECT s5.doc_id, s5.arm, s5.raw_url,
         |    s5.scheme||'://'||s5.auth||$uLast.$pqLast AS canon
         |  FROM s5 JOIN $uLast ON $uLast.doc_id = s5.doc_id)""".stripMargin
    }
    val robotsRuleRows = RobotsRules.map { case (allow, pat) =>
      s"""SELECT pw.doc_id, pw.path, $allow AS al, '$pat' AS pt,
         |      CAST(${pat.length} AS BIGINT) AS ln, ${robotsMatchSql(pat)} AS m
         |    FROM pw""".stripMargin
    }.mkString("\n    UNION ALL\n    ")
    Map(
    // q234: the same size models via LAG windows; idxBytes as threshold
    // CASEs (log-free), varint via 7-bit thresholds, advised = the
    // (bytes, encoding)-min row per column.
    // q238: the same group/min-max/overlap arithmetic via ROW_NUMBER per
    // layout; advised = rank 1 under (rows, groups, layout) — unique
    // because layout is a tiebreak, so it equals the engine's strict-min
    // struct equality.
    "q238_layout_pruning_advisor" ->
      s"""WITH rk AS (
         |  SELECT doc_id, source, lang, n_chars,
         |    ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS r0,
         |    ROW_NUMBER() OVER (ORDER BY n_chars, doc_id) - 1 AS r1,
         |    ROW_NUMBER() OVER (ORDER BY source, doc_id) - 1 AS r2
         |  FROM documents),
         |lay AS (
         |  SELECT 'as_written' AS layout, r0 // $PruneGroupRows AS grp,
         |         source, lang, n_chars, doc_id FROM rk
         |  UNION ALL
         |  SELECT 'by_length', r1 // $PruneGroupRows,
         |         source, lang, n_chars, doc_id FROM rk
         |  UNION ALL
         |  SELECT 'by_source', r2 // $PruneGroupRows,
         |         source, lang, n_chars, doc_id FROM rk),
         |g AS (SELECT layout, grp, COUNT(*) AS n_rows,
         |        MIN(source) AS mns, MAX(source) AS mxs,
         |        MIN(lang) AS mnl, MAX(lang) AS mxl,
         |        MIN(n_chars) AS mnn, MAX(n_chars) AS mxn,
         |        MIN(doc_id) AS mni, MAX(doc_id) AS mxi
         |      FROM lay GROUP BY layout, grp),
         |p AS (
         |  SELECT layout, 'lang_eq_en' AS predicate, COUNT(*) AS n_groups,
         |    SUM(CASE WHEN mnl <= 'en' AND mxl >= 'en' THEN 1 ELSE 0 END) AS gs,
         |    SUM(CASE WHEN mnl <= 'en' AND mxl >= 'en' THEN n_rows ELSE 0 END) AS rs
         |  FROM g GROUP BY layout
         |  UNION ALL
         |  SELECT layout, 'nchars_100_199', COUNT(*),
         |    SUM(CASE WHEN mnn <= 199 AND mxn >= 100 THEN 1 ELSE 0 END),
         |    SUM(CASE WHEN mnn <= 199 AND mxn >= 100 THEN n_rows ELSE 0 END)
         |  FROM g GROUP BY layout
         |  UNION ALL
         |  SELECT layout, 'docid_100_149', COUNT(*),
         |    SUM(CASE WHEN mni <= 149 AND mxi >= 100 THEN 1 ELSE 0 END),
         |    SUM(CASE WHEN mni <= 149 AND mxi >= 100 THEN n_rows ELSE 0 END)
         |  FROM g GROUP BY layout
         |  UNION ALL
         |  SELECT layout, 'source_eq_src3', COUNT(*),
         |    SUM(CASE WHEN mns <= 'src3' AND mxs >= 'src3' THEN 1 ELSE 0 END),
         |    SUM(CASE WHEN mns <= 'src3' AND mxs >= 'src3' THEN n_rows ELSE 0 END)
         |  FROM g GROUP BY layout),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY predicate
         |        ORDER BY rs, gs, layout) AS rn FROM p)
         |SELECT layout, predicate, CAST(n_groups AS BIGINT) AS n_groups,
         |  CAST(gs AS BIGINT) AS groups_scanned,
         |  CAST(rs AS BIGINT) AS rows_scanned, rn = 1 AS advised
         |FROM r ORDER BY predicate, layout""".stripMargin,
    "q234_encoding_advisor" -> q234OracleSql,
    // q243: q234's oracle verbatim as the advice subquery, joined
    // against the actual encodings as format literals.
    "q243_writer_choice_audit" ->
      s"""WITH a234 AS ($q234OracleSql),
         |act AS (SELECT 'doc_id' AS c, 'dict' AS e
         |        UNION ALL SELECT 'lang', 'dict'
         |        UNION ALL SELECT 'n_chars', 'dict'
         |        UNION ALL SELECT 'source', 'dict'),
         |aa AS (SELECT a."column" AS "column", act.e AS actual_encoding,
         |         a.model_bytes AS actual_bytes
         |       FROM a234 a JOIN act ON a."column" = act.c AND a.encoding = act.e),
         |bb AS (SELECT "column" AS bc, encoding AS advised_encoding,
         |         model_bytes AS advised_bytes
         |       FROM a234 WHERE advised)
         |SELECT aa."column", aa.actual_encoding,
         |  CAST(aa.actual_bytes AS BIGINT) AS actual_bytes,
         |  bb.advised_encoding, CAST(bb.advised_bytes AS BIGINT) AS advised_bytes,
         |  CAST(aa.actual_bytes - bb.advised_bytes AS BIGINT) AS wasted_bytes
         |FROM aa JOIN bb ON bb.bc = aa."column"
         |ORDER BY aa."column"""".stripMargin,
    // q228: the q223 dump CTEs filtered to version ≤ 2 — rows after the
    // snapshot don't exist yet; the collapse is identical.
    "q228_time_travel" ->
      s"""WITH base AS (SELECT doc_id, 1 AS version, 'U' AS op, text AS txt
         |              FROM documents),
         |d1 AS (SELECT doc_id, 2 AS version,
         |         CASE WHEN substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
         |              THEN 'D' ELSE 'U' END AS op,
         |         CASE WHEN substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
         |              THEN NULL ELSE text || ' v2' END AS txt
         |       FROM documents
         |       WHERE substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
         |          OR substring(md5('mupd:'||CAST(doc_id AS VARCHAR)),1,1) < '4'),
         |u AS (SELECT * FROM base UNION ALL SELECT * FROM d1),
         |l AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY version DESC) AS rn FROM u)
         |SELECT doc_id, CAST(version AS BIGINT) AS version,
         |  op = 'U' AS alive,
         |  CASE WHEN op = 'U' THEN md5(txt) END AS text_md5
         |FROM l WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    // q223: the same md5-gated dump construction, latest row per key
    // via ROW_NUMBER over version DESC (the duplicate-slot guard is
    // engine-side loudness; the fixture never trips it).
    "q223_merge_compaction" ->
      s"""WITH base AS (SELECT doc_id, 1 AS version, 'U' AS op, text AS txt
         |              FROM documents),
         |d1 AS (SELECT doc_id, 2 AS version,
         |         CASE WHEN substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
         |              THEN 'D' ELSE 'U' END AS op,
         |         CASE WHEN substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
         |              THEN NULL ELSE text || ' v2' END AS txt
         |       FROM documents
         |       WHERE substring(md5('mdel:'||CAST(doc_id AS VARCHAR)),1,1) < '2'
         |          OR substring(md5('mupd:'||CAST(doc_id AS VARCHAR)),1,1) < '4'),
         |d2 AS (SELECT doc_id, 3 AS version, 'U' AS op, text || ' v3' AS txt
         |       FROM documents
         |       WHERE substring(md5('mupd2:'||CAST(doc_id AS VARCHAR)),1,1) < '2'),
         |born AS (SELECT doc_id + $MergeNewBase AS doc_id, 3 AS version,
         |           'U' AS op, 'new doc ' || CAST(doc_id AS VARCHAR) AS txt
         |         FROM documents
         |         WHERE substring(md5('mnew:'||CAST(doc_id AS VARCHAR)),1,1) < '1'),
         |u AS (SELECT * FROM base UNION ALL SELECT * FROM d1
         |      UNION ALL SELECT * FROM d2 UNION ALL SELECT * FROM born),
         |l AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
         |        ORDER BY version DESC) AS rn FROM u)
         |SELECT doc_id, CAST(version AS BIGINT) AS version,
         |  op = 'U' AS alive,
         |  CASE WHEN op = 'U' THEN md5(txt) END AS text_md5
         |FROM l WHERE rn = 1 ORDER BY doc_id""".stripMargin,
    "q211_url_canonicalize" ->
      s"""WITH RECURSIVE $urlChain
         |SELECT doc_id, arm, raw_url, canon,
         |  string_split(string_split(canon,'://')[2],'/')[1] AS host_key
         |FROM cn ORDER BY doc_id""".stripMargin,
    // q212: rules over the q211 chain verbatim; the winner is
    // row_number over (length DESC, allow DESC, pattern DESC) — the
    // same lexicographic order as the engine's struct max
    "q212_robots_eval" ->
      s"""WITH RECURSIVE $urlChain,
         |pw AS (SELECT doc_id,
         |    substring(string_split(canon,'://')[2],
         |      length(string_split(string_split(canon,'://')[2],'/')[1]) + 1) AS path
         |  FROM cn),
         |rm AS (SELECT * FROM (
         |    $robotsRuleRows
         |  ) z WHERE m),
         |w AS (SELECT doc_id, al, pt, ln,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY ln DESC, al DESC, pt DESC) AS rk
         |  FROM rm)
         |SELECT pw.doc_id, pw.path,
         |  COALESCE(w.al, true) AS allowed, w.pt AS rule,
         |  COALESCE(w.ln, -1) AS rule_len
         |FROM pw LEFT JOIN w ON w.doc_id = pw.doc_id AND w.rk = 1
         |ORDER BY pw.doc_id""".stripMargin,
    // q224: the q212 verdict chain verbatim, then canonical-dedup,
    // per-host ROW_NUMBER slots, and the same delay arithmetic.
    "q224_frontier_schedule" ->
      s"""WITH RECURSIVE $urlChain,
         |pw AS (SELECT doc_id,
         |    substring(string_split(canon,'://')[2],
         |      length(string_split(string_split(canon,'://')[2],'/')[1]) + 1) AS path
         |  FROM cn),
         |rm AS (SELECT * FROM (
         |    $robotsRuleRows
         |  ) z WHERE m),
         |w AS (SELECT doc_id, al,
         |    row_number() OVER (PARTITION BY doc_id
         |      ORDER BY ln DESC, al DESC, pt DESC) AS rk
         |  FROM rm),
         |v AS (SELECT cn.doc_id, cn.canon,
         |        string_split(string_split(cn.canon,'://')[2],'/')[1] AS host_key,
         |        COALESCE(w.al, true) AS allowed
         |      FROM cn LEFT JOIN w ON w.doc_id = cn.doc_id AND w.rk = 1),
         |k AS (SELECT canon, host_key, allowed, MIN(doc_id) AS doc_id
         |      FROM v GROUP BY canon, host_key, allowed),
         |s AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY host_key
         |        ORDER BY canon) - 1 AS BIGINT) AS rank_in_host
         |      FROM k WHERE allowed)
         |SELECT doc_id, canon, host_key, allowed, rank_in_host,
         |  rank_in_host * (1 + length(host_key) % 5) AS fetch_at_s
         |FROM s
         |UNION ALL
         |SELECT doc_id, canon, host_key, allowed,
         |  CAST(NULL AS BIGINT), CAST(NULL AS BIGINT)
         |FROM k WHERE NOT allowed
         |ORDER BY doc_id""".stripMargin,
    // q210: the same six arms and the same RFC 4180 quoting rule as SQL
    // CASE expressions — the LINES are compared byte-for-byte; the
    // decode direction is engine-side self-validated in-plan
    "q210_csv_roundtrip" -> {
      val q = (f: String) =>
        s"""CASE WHEN $f IS NULL THEN ''
           |     WHEN $f = '' OR contains($f, ',') OR contains($f, '"')
           |          OR contains($f, chr(10)) OR contains($f, chr(13))
           |     THEN '"' || replace($f, '"', '""') || '"'
           |     ELSE $f END""".stripMargin
      s"""WITH a AS (
         |  SELECT doc_id,
         |    substring(md5('csv:'||CAST(doc_id AS VARCHAR)),1,1) AS arm,
         |    CAST(doc_id AS VARCHAR) AS f1, source AS f2,
         |    string_split(text,' ')[1] AS w1,
         |    COALESCE(string_split(text,' ')[2], 'y') AS w2
         |  FROM documents),
         |d AS (SELECT doc_id, arm, f1, f2,
         |        CASE WHEN arm < '3' THEN w1
         |             WHEN arm < '6' THEN w1 || ',' || w2
         |             WHEN arm < '9' THEN w1 || '"' || w2
         |             WHEN arm < 'c' THEN w1 || chr(10) || w2
         |             WHEN arm < 'e' THEN ''
         |             ELSE NULL END AS f3
         |      FROM a),
         |l AS (SELECT doc_id, arm,
         |        ${q("f1")} || ',' || ${q("f2")} || ',' || ${q("f3")} AS line
         |      FROM d)
         |SELECT doc_id, arm, line, CAST(strlen(line) AS BIGINT) AS n_bytes
         |FROM l ORDER BY doc_id""".stripMargin
    },
    "q127_zorder_key" ->
      s"""SELECT event_id, user_id,
         |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k,
         |  CAST(${zorderSql("user_id", "CAST(json_extract_string(props, '$.k') AS BIGINT)", ZOrderBits)} AS BIGINT) AS z
         |FROM events ORDER BY event_id""".stripMargin,
    "q00_flagship" ->
      """SELECT e.event_id, e.user_id, CAST(json_extract(e.props,'$.k') AS BIGINT) AS k,
        | d.doc_id, substring(d.text,1,30) AS headline,
        | array_to_string(list_transform(
        |   CASE WHEN list_contains([d.lang,d.source],'kinesis-autotag') THEN [d.lang,d.source]
        |        ELSE list_append([d.lang,d.source],'kinesis-autotag') END,
        |   x -> coalesce(x, '<null>')), ',') AS tags
        |FROM events e LEFT JOIN documents d ON e.user_id = d.doc_id
        |WHERE e.event_type = 'signup' AND e.value > 50.0
        |ORDER BY e.event_id""".stripMargin,
    "q01_scan_project" ->
      "SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice FROM lineitem ORDER BY l_orderkey, l_linenumber",
    "q02_gzip_roundtrip" ->
      "SELECT event_id, props AS decoded FROM events ORDER BY event_id",
    "q03_json_parse" ->
      "SELECT event_id, CAST(json_extract(props,'$.k') AS BIGINT) AS k FROM events ORDER BY event_id",
    "q04_json_serialize" ->
      """SELECT event_id, '{"event_id":' || event_id || ',"event_type":"' || event_type || '"}' AS js FROM events ORDER BY event_id""",
    // q197: DuckDB's own JSON implementation enumerates keys and types
    // over the same constructed payloads — an independent profiler the
    // engine's scanner must agree with. Pointer paths ('/k'): the
    // dotted '$.k' dynamic-path form also conflates JSON null with
    // missing; keys from json_keys always exist, so COALESCE(…,'NULL')
    // recovers the JSON-null type exactly.
    "q197_schema_drift_profile" ->
      """WITH r AS (SELECT event_id,
        |        CASE event_id % 4
        |          WHEN 0 THEN '{"k":' || CAST(event_id % 100 AS VARCHAR) || '}'
        |          WHEN 1 THEN '{"k":' || CAST(event_id % 100 AS VARCHAR)
        |                      || ',"ref":"r' || CAST(event_id AS VARCHAR) || '"}'
        |          WHEN 2 THEN '{"k":"' || CAST(event_id % 100 AS VARCHAR)
        |                      || '","meta":{"v":2,"tags":[1,2]}}'
        |          ELSE '{"ref":null,"meta":{"v":true}}'
        |        END AS js
        |      FROM events),
        |tk AS (SELECT js, unnest(json_keys(js)) AS k FROM r),
        |t1 AS (SELECT js, k, COALESCE(json_type(js, '/' || k), 'NULL') AS jt FROM tk),
        |top AS (SELECT k AS path,
        |         CASE jt WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
        |           WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
        |           WHEN 'NULL' THEN 'null' ELSE 'number' END AS jtype FROM t1),
        |n1 AS (SELECT js, k, unnest(json_keys(js, '/' || k)) AS ck
        |       FROM t1 WHERE jt = 'OBJECT'),
        |nested AS (SELECT k || '.' || ck AS path,
        |         CASE COALESCE(json_type(js, '/' || k || '/' || ck), 'NULL')
        |           WHEN 'OBJECT' THEN 'object' WHEN 'ARRAY' THEN 'array'
        |           WHEN 'VARCHAR' THEN 'string' WHEN 'BOOLEAN' THEN 'boolean'
        |           WHEN 'NULL' THEN 'null' ELSE 'number' END AS jtype FROM n1),
        |allp AS (SELECT * FROM top UNION ALL SELECT * FROM nested)
        |SELECT path, jtype, CAST(COUNT(*) AS BIGINT) AS n
        |FROM allp GROUP BY path, jtype ORDER BY path, jtype""".stripMargin,
    // q189: the oracle constructs the EXPECTED post-splice document per
    // arm by string concatenation — it never parses JSON, so agreement
    // with the engine's scanner-driven splice is a genuine cross-check
    // of the contract (insert at the end of the understood container,
    // comma iff non-empty, untouched bytes identical). Arm m=3 is
    // already tagged: expected output == the input bytes.
    "q189_raw_tag_append" ->
      """WITH b AS (
        |  SELECT doc_id, doc_id % 5 AS m, CAST(doc_id AS VARCHAR) AS id,
        |    '"extra":{"note":"skip \" taxonomy {[","n":'
        |      || CAST(doc_id AS VARCHAR) || '}' AS unk,
        |    '{"_id":"d' || CAST(doc_id AS VARCHAR) || '",' AS pre,
        |    '{"slug":"kinesis-autotag","text":"kinesis autotag"}' AS tag
        |  FROM documents)
        |SELECT doc_id,
        |  CASE m
        |    WHEN 0 THEN pre || unk || ',"taxonomy":{"tags":[' || tag || ']}}'
        |    WHEN 1 THEN pre || '"taxonomy":{"version":' || id
        |                || ',"tags":[' || tag || ']},' || unk || '}'
        |    WHEN 2 THEN pre || '"taxonomy":{"tags":[{"slug":"other","text":"o"},'
        |                || tag || ']},' || unk || '}'
        |    WHEN 3 THEN pre || '"taxonomy":{"tags":[' || tag || ']},' || unk || '}'
        |    ELSE pre || '"taxonomy":{"tags":[' || tag || '],"note":1},' || unk || '}'
        |  END AS tagged,
        |  m <> 3 AS changed
        |FROM b ORDER BY doc_id""".stripMargin,
    "q05_filter_conjunctive" ->
      "SELECT event_id, user_id, event_type, value, props FROM events WHERE event_type = 'signup' AND value > 100.0 AND user_id < 100 ORDER BY event_id",
    "q06_nested_projection" ->
      "SELECT event_id, CAST(json_extract(props,'$.k') AS BIGINT) AS k, CAST(NULL AS BIGINT) AS missing_x FROM events ORDER BY event_id",
    "q07_defaulting" ->
      """SELECT event_id,
        | COALESCE(CASE WHEN event_type = 'error' THEN NULL ELSE event_type END, 'unknown') AS et,
        | CASE WHEN value >= 100.0 THEN 'high' ELSE 'low' END AS band
        |FROM events ORDER BY event_id""".stripMargin,
    "q08_range_in" ->
      "SELECT o_orderkey, o_totalprice, o_orderpriority FROM orders WHERE o_totalprice BETWEEN 1000.0 AND 5000.0 AND o_orderpriority IN ('1-URGENT','2-HIGH') ORDER BY o_orderkey",
    "q27_sort" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey",
    "q28_topk_limit" ->
      "SELECT o_orderkey, o_totalprice FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 100",
    "q29_union_all" ->
      """SELECT event_id, event_type FROM events WHERE event_type = 'signup'
        |UNION ALL
        |SELECT event_id, event_type FROM events WHERE value > 150.0
        |ORDER BY event_id, event_type""".stripMargin,
    "q30_intersect" ->
      "SELECT user_id FROM events WHERE event_type = 'signup' INTERSECT SELECT user_id FROM events WHERE event_type = 'purchase' ORDER BY user_id",
    "q31_except" ->
      "SELECT user_id FROM events WHERE event_type = 'view' EXCEPT SELECT user_id FROM events WHERE event_type = 'error' ORDER BY user_id",
    "q61_pivot" ->
      """SELECT user_id,
        | CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS BIGINT) AS signup,
        | CAST(SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS BIGINT) AS purchase,
        | CAST(SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS BIGINT) AS view,
        | CAST(SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS BIGINT) AS error
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q100_unpivot" ->
      """WITH p AS (SELECT user_id,
        |   SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END) AS signup,
        |   SUM(CASE WHEN event_type='purchase' THEN 1 ELSE 0 END) AS purchase,
        |   SUM(CASE WHEN event_type='view' THEN 1 ELSE 0 END) AS view,
        |   SUM(CASE WHEN event_type='error' THEN 1 ELSE 0 END) AS error
        | FROM events GROUP BY user_id)
        |SELECT user_id, event_type, CAST(n AS BIGINT) AS n FROM (
        |  SELECT user_id, 'signup' AS event_type, signup AS n FROM p
        |  UNION ALL SELECT user_id, 'purchase', purchase FROM p
        |  UNION ALL SELECT user_id, 'view', view FROM p
        |  UNION ALL SELECT user_id, 'error', error FROM p) u
        |ORDER BY user_id, event_type""".stripMargin,
    "q64_first_publish" ->
      """SELECT event_id, CAST(event_id AS VARCHAR) AS id,
        | 'insert-story' AS operation, TRUE AS created
        |FROM events WHERE event_type = 'signup' AND value > 100.0
        |ORDER BY event_id""".stripMargin,
    "q62_sql_subquery" ->
      """SELECT o_orderkey, o_totalprice
        |FROM orders o
        |WHERE o_totalprice > (SELECT AVG(o_totalprice) FROM orders)
        |  AND EXISTS (SELECT 1 FROM lineitem l
        |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity >= 45)
        |ORDER BY o_orderkey""".stripMargin,
  )}
}
