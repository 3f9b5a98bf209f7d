package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextOps

/** The whole training-data pipeline as ONE composed dataflow — the
  * "could a user run their pipeline on this library" demonstration:
  *
  *   crawl (WARC files, metadata in record headers)
  *     → streaming record parse + HTTP validation + main-content extract
  *     → language/length gate
  *     → exact dedup (content hash, keep-lowest)
  *     → benchmark holdout split + Bloom DECONTAMINATION (q158's
  *       geometry at the published 13-gram width: the val split leaves
  *       the corpus and any train doc sharing a 13-gram with it drops)
  *     → ERASURE scrub (q155's Bloom deny-list mechanism keyed on
  *       doc_id: sketch gate → exact anti-join verify)
  *     → BPE tokenizer TRAINED ON THE CURATED CORPUS
  *     → whole-corpus tokenization
  *     → 512-token sequence packing per source
  *
  * Each stage is the already-proven operator (q169 WARC loop, q42's
  * dedup discipline, q158's sketch-gate-then-verify, q155's deny-list
  * split, q166/q167 BPE, q82's packing formula) — what q174 adds is the
  * COMPOSITION: stage boundaries carry exactly the columns the next
  * stage needs (lang/source ride the WARC record headers, the real
  * crawl's metadata sidecar, instead of re-joining the corpus), and the
  * oracle is the same composition in SQL. q180 publishes the funnel's
  * per-source attrition table — the data-card shape q145 established
  * for the dedup cascade, here over the FULL curation funnel, sharing
  * the staged dataflow with q174 so audit and detail cannot drift.
  *
  * Scale: the WARC pack is test scaffolding (production reads existing
  * dumps; parallelism = file count); the gate and tokenize are
  * map-only; dedup is one hash-keyed shuffle; decon keeps the corpus
  * side map-only behind the Bloom gate (only the flagged sliver
  * explodes); erasure is a broadcast-sketch gate + anti-join on the
  * tiny might-set; BPE training is one word-frequency shuffle + driver
  * greedy; packing is one source-keyed window (the q82-vs-q151 trade is
  * documented there — at a hot-source 100 TB the q151 scan
  * decomposition replaces the window verbatim).
  */
object Pipeline extends QueryGroup {

  val MinChars = 200
  val Langs = Seq("en", "de")
  val SeqLen = 512
  /** Benchmark holdout split gate (q158's): md5('split:'||doc_id) ≥ this
    * hex prefix → the doc is HOLDOUT (benchmark), not training data.
    */
  val ValGate = "cd"
  /** Decontamination n-gram width: the published 13-gram overlap rule
    * (GPT-3 appx C / PaLM decontamination). Trigrams — q158's benchmark
    * fixture width — are far too aggressive for a whole-corpus drop
    * stage: on this small-vocabulary corpus every train doc shares some
    * trigram with the holdout and the funnel empties (measured — 401 of
    * 401 train docs flagged); 13-gram collisions mean real leakage.
    */
  val DeconGram = 13
  /** Erasure deny gate: md5('erase:'||doc_id) < this prefix → the doc is
    * on the (fixture-derived) right-to-be-forgotten deny list, ~3%.
    */
  val EraseGate = "08"

  /** The staged dataflow shared by q174 and q180. Every frame carries
    * (doc_id, text, lang, source).
    */
  private[graft] final case class Stages(parsed: DataFrame, gated: DataFrame,
      dd: DataFrame, train: DataFrame, decon: DataFrame, clean: DataFrame)

  private[graft] def stages(spark: org.apache.spark.sql.SparkSession,
      dir: String): Stages = {
    import spark.implicits._
    // crawl scaffolding: pack into 16 WARC shards, metadata in headers.
    // r11: every doc carries the non-ASCII probe suffix (the q169
    // stance) so the end-to-end composition is proven on the multi-byte
    // text a real crawl ships, not just ASCII. Metadata completeness is
    // a PACK precondition: a NULL lang or source would interpolate as
    // the literal string "null" in the WARC header and come back as a
    // real string — diverging from the oracle's SQL NULL (r10 review
    // finding). Records missing their sidecar are quarantined at the
    // pack, mirrored in the oracle's WHERE.
    val files = Tables(spark, dir, "documents")
      .select(col("doc_id"),
        concat(col("text"), lit(Warc.NonAsciiProbe)).as("text"),
        col("lang"), col("source"))
      .filter(col("text").isNotNull && col("lang").isNotNull &&
        col("source").isNotNull)
      .withColumn("shard", pmod(col("doc_id"), lit(16)))
      // ITERATOR-TO-ITERATOR pack (r12, replacing groupByKey.mapGroups
      // + it.toArray — the one whole-shard task buffering in a
      // registered path): the shuffle does the clustering (repartition
      // by shard) and the ORDERING (sortWithinPartitions — Spark's
      // external sort, spillable), so the task just streams contiguous
      // runs of equal shard into the record writer, holding one record
      // in flight, never the shard's rows. Same bytes: runs are sorted
      // by doc_id exactly as the old in-task sortBy was.
      .repartition(16, col("shard"))
      .sortWithinPartitions(col("shard"), col("doc_id"))
      .as[(Long, String, String, String, Long)]
      .mapPartitions { it =>
        val buf = it.buffered
        new Iterator[Array[Byte]] {
          def hasNext: Boolean = buf.hasNext
          def next(): Array[Byte] = {
            val shard = buf.head._5
            val run = new Iterator[(Long, String, Seq[(String, String)])] {
              def hasNext: Boolean = buf.hasNext && buf.head._5 == shard
              def next(): (Long, String, Seq[(String, String)]) = {
                val t = buf.next()
                (t._1, t._2, Seq("WARC-Graft-Lang" -> t._3,
                  "WARC-Graft-Source" -> t._4))
              }
            }
            Warc.buildTagged(run)
          }
        }
      }
    // ingest: parse records, validate HTTP, extract main content,
    // read the metadata sidecar off the record headers
    // cached: the pack+parse chain is the costliest stage and BOTH
    // consumers re-read it (q174's dedup input via gated, q180's
    // n_parsed/n_gated rollups) — uncached, each q180 rollup would
    // re-run the whole WARC loop
    val parsed = graft.CachePool.track(
      files.flatMap { bytes =>
        Warc.responses(bytes).map { e =>
          (e.docId, e.text,
            e.headers.getOrElse("WARC-Graft-Lang", "?"),
            e.headers.getOrElse("WARC-Graft-Source", "?"))
        }
      }.toDF("doc_id", "text", "lang", "source"))
    // curation gate
    val gated = parsed.filter(length(col("text")) >= MinChars &&
      col("lang").isin(Langs.map(l => l: Any): _*))
    // exact dedup: content hash, keep the lowest doc_id
    val dw = Window.partitionBy(md5(col("text"))).orderBy(col("doc_id"))
    val dd = graft.CachePool.track(
      gated.withColumn("rn", row_number().over(dw))
        .filter(col("rn") === 1).drop("rn"))
    // decontamination (q158's Bloom geometry on the deduped stage): the
    // holdout split is the benchmark — it leaves the corpus — and any
    // surviving train doc sharing a 13-gram with it is contaminated.
    // Corpus side stays map-only behind the no-false-negative sketch
    // gate; only the flagged sliver explodes into the exact verify join.
    val isVal = substring(md5(concat(lit("split:"),
      col("doc_id").cast("string"))), 1, 2) >= ValGate
    val withSh = dd.withColumn("is_val", isVal)
      .withColumn("sh", TextOps.shingleHashes(TextOps.tokens(col("text")), DeconGram))
      .localCheckpoint()
    val holdout = graft.CachePool.track(
      withSh.filter(col("is_val")).select(explode(col("sh")).as("g")).distinct())
    val bits = TextOps.bloomBits(holdout, "g")
    val train = withSh.filter(!col("is_val"))
    val contaminated = train
      .filter(TextOps.bloomAnyContain(col("sh"), bits))
      .select(col("doc_id"), explode(col("sh")).as("g"))
      .join(holdout, "g")
      .select(col("doc_id")).distinct()
    // r17 (guide §5 caching): decon is read FIVE times downstream — the
    // deny count, deny's bloom build, both tagged branches of the
    // erasure union, and q180's n_decon rollup — and its contaminated-
    // subtree (explode + join) was recomputed by each; track it like the
    // other stage boundaries.
    val decon = graft.CachePool.track(
      train.join(contaminated, Seq("doc_id"), "left_anti"))
    // erasure (q155's mechanism keyed on doc_id): broadcast Bloom over
    // the deny list gates the corpus; the might-set verifies against
    // the exact list with an anti-join, the rest passes through — same
    // sketch, same split-verify shape, one Bloom code path engine-wide.
    val deny = decon.select(col("doc_id"))
      .filter(substring(md5(concat(lit("erase:"),
        col("doc_id").cast("string"))), 1, 2) < EraseGate)
    val dbits = TextOps.bloomBits(deny, "doc_id")
    val tagged = decon.withColumn("might",
      TextOps.bloomAnyContain(col("doc_id"), dbits))
    val clean = tagged.filter(col("might") <=> true)
      .join(deny, Seq("doc_id"), "left_anti")
      .unionByName(tagged.filter(!(col("might") <=> true)))
      .drop("might")
    def strip(df: DataFrame): DataFrame =
      df.select(col("doc_id"), col("text"), col("lang"), col("source"))
    // r17 (guide §5 — the driver is part of the budget): `clean` ends a
    // six-boundary funnel whose logical plan is ~0.5 MB; every one of
    // the MANY downstream jobs (wordDictOf collect, tokenize pass, the
    // scan-pack totals/offsets sequence, q180's rollup) re-canonicalized
    // and re-planned that whole lineage — profiled at ~3.5 s of
    // between-stage driver gaps on q185 against 5.1 s of stage wall.
    // localCheckpoint materializes the same rows ONCE (a cache would
    // too) and TRUNCATES the plan for everything above — the
    // connectedComponents lesson applied to the funnel seam.
    // Scale caveat (r17 verdict): localCheckpoint blocks are
    // UNREPLICATED executor state — on a cluster with executor loss /
    // dynamic allocation the truncated lineage cannot recompute (job
    // retry instead); acceptable for a 5-reader boundary, and
    // checkpoint() to reliable storage is the same seam if not. Note
    // the seams are EAGER: constructing the funnel runs them (so q174/
    // q180/q185 plan dumps execute these jobs — PlanDump documents it).
    Stages(parsed, gated, strip(dd), strip(train), strip(decon),
      strip(clean).localCheckpoint())
  }

  /** The funnel stages as chained SQL CTEs ending in `clean` — shared
    * verbatim by the q174 and q180 oracles so the two cannot drift.
    * Trigram strings mirror the engine's shingle HASHES (q158's
    * hash-identity stance); the Bloom gates are pure pre-filters
    * (no false negatives + exact verify), so the SQL is the plain
    * predicate form — exactly how q155/q158 oracle themselves.
    */
  private def funnelCtes: String =
    s"""src AS MATERIALIZED (
       |  SELECT doc_id, text || '${Warc.NonAsciiProbe}' AS text, lang, source
       |  FROM documents
       |  WHERE text IS NOT NULL AND lang IS NOT NULL AND source IS NOT NULL),
       |gated AS MATERIALIZED (
       |  SELECT doc_id, text, lang, source FROM src
       |  WHERE length(text) >= $MinChars
       |    AND lang IN (${Langs.map(l => s"'$l'").mkString(", ")})),
       |dd AS MATERIALIZED (
       |  SELECT doc_id, text, lang, source FROM (
       |    SELECT g.*, row_number() OVER (PARTITION BY md5(text)
       |      ORDER BY doc_id) AS rn FROM gated g) t
       |  WHERE rn = 1),
       |tri AS MATERIALIZED (
       |  SELECT doc_id,
       |    substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) >= '$ValGate' AS is_val,
       |    unnest(list_distinct(list_transform(
       |      range(1, greatest(len(string_split(text,' '))-${DeconGram - 1},0)+1),
       |      i -> array_to_string(string_split(text,' ')[i:i+${DeconGram - 1}], ' ')))) AS g
       |  FROM dd),
       |hold AS MATERIALIZED (SELECT DISTINCT g FROM tri WHERE is_val),
       |train AS MATERIALIZED (
       |  SELECT * FROM dd
       |  WHERE substring(md5('split:' || CAST(doc_id AS VARCHAR)), 1, 2) < '$ValGate'),
       |cont AS MATERIALIZED (
       |  SELECT DISTINCT t.doc_id FROM tri t JOIN hold USING (g)
       |  WHERE NOT t.is_val),
       |decon AS MATERIALIZED (
       |  SELECT * FROM train WHERE doc_id NOT IN (SELECT doc_id FROM cont)),
       |clean AS MATERIALIZED (
       |  SELECT * FROM decon
       |  WHERE substring(md5('erase:' || CAST(doc_id AS VARCHAR)), 1, 2) >= '$EraseGate')""".stripMargin

  /** The funnel's tokenized pack input, shared by q174 and q185:
    * tokenizer trained on the FULLY CURATED corpus (the production
    * order — training the tokenizer on pre-curation text bakes
    * boilerplate, benchmark leakage, and erased content into the
    * vocab), then map-only tokenization, joined back to the survivor
    * metadata. Output: (doc_id, source, lang, n_bpe).
    */
  private def packInput(st: Stages): DataFrame = {
    val merges = Tokenizer.bpeTrain(Tokenizer.wordDictOf(st.clean))
    val toks = Tokenizer.tokenized(st.clean, merges)
      .select(col("doc_id"), col("n_bpe"))
    st.clean.select(col("doc_id"), col("source"), col("lang"))
      .join(toks, "doc_id")
  }

  /** q195's per-artifact audit row: canonicalize each artifact row to a
    * sentinel-separated string (every column explicitly
    * coalesced+stringified — concat_ws's NULL-skipping would let
    * (null, x) and (x) collide), md5→60-bit, then the q183
    * order-independent xor + a row count.
    */
  private def auditRow(name: String, df: DataFrame,
      cols: Seq[org.apache.spark.sql.Column]): DataFrame =
    df.select(conv(substring(md5(concat(cols.flatMap(c =>
        Seq(lit("\u0001"), coalesce(c.cast("string"), lit("<null>")))): _*)),
        1, 15), 16, 10).cast("long").as("rh"))
      .agg(count(lit(1)).as("n_rows"), bit_xor(col("rh")).as("content_xor"))
      .select(lit(name).as("artifact"), col("n_rows"), col("content_xor"))

  def queries: Map[String, Q] = Map(
    // q229 [north star, r12]: the RELEASE AUDIT CARD — one frame a
    // data card ships, composing the r12 audit surface: the privacy
    // triad's chosen generalization rungs (q201/q202/q214), the
    // contamination census (q222), the erasure durability proof
    // (q225), and the merge-state census (q223). Every value is the
    // REGISTERED operator's own output reduced to (check, metric,
    // value) — and the oracle REUSES those operators' oracle SQL
    // verbatim as subqueries, so the card provably composes the same
    // audited facts (the q174/q180 shared-stage stance, applied across
    // query families). Each component is bounded audit output; the
    // card adds only single-row reductions.
    "q229_release_audit_card" -> ((spark, dir) => {
      def card(check: String, metric: String, v: org.apache.spark.sql.Column,
          from: org.apache.spark.sql.DataFrame) =
        from.agg(v.cast("long").as("value"))
          .select(lit(check).as("check"), lit(metric).as("metric"),
            col("value"))
      // every component arrives through its registration's per-sf-dir
      // CachePool.memo (r12 verdict item #7), so the card and the
      // standalone audits are literally the same checkpointed rows — the
      // suite builds each component once, and composition fidelity is
      // physical, not just structural
      val k = Privacy.kAnonMemo(spark, dir).filter(col("chosen"))
      val l = Privacy.lDivMemo(spark, dir).filter(col("chosen"))
      val t = Privacy.tCloseMemo(spark, dir).filter(col("chosen"))
      val contam = Dedup.queries("q222_contamination_score")(spark, dir)
      val parity = Erasure.queries("q225_erasure_parity")(spark, dir)
      val merged = Relational.queries("q223_merge_compaction")(spark, dir)
      Seq(
        card("k_anonymity", "chosen_level", min(col("level")), k),
        card("l_diversity", "chosen_level", min(col("level")), l),
        card("t_closeness", "chosen_level", min(col("level")), t),
        card("contamination", "dirty_docs",
          sum(when(col("dirty"), 1L).otherwise(0L)), contam),
        card("contamination", "eval_docs", count(lit(1)), contam),
        card("erasure", "shards_proven",
          sum(when(col("recon_ok"), 1L).otherwise(0L)), parity),
        card("merge", "live_keys",
          sum(when(col("alive"), 1L).otherwise(0L)), merged),
        card("merge", "dead_keys",
          sum(when(!col("alive"), 1L).otherwise(0L)), merged))
        .reduce(_ unionByName _)
        .orderBy("check", "metric")
    }),
    // q195 [north star, r12]: the RELEASE POINT FIX as one operation —
    // the IVM family's composition capstone: one shared dump/retraction
    // gate drives ALL FOUR maintained release artifacts (q183 manifest,
    // q186 dedup survivor state, q188 vocab frequencies, q192 IVF index
    // inventory), each updated via its incremental combine from stored
    // partials, and the output is the release AUDIT a data card ships:
    // per artifact, the row count and an order-independent content
    // checksum over canonicalized rows. The oracle recomputes every
    // artifact via its RESCAN road (q42 rollup, q183 rollup, the
    // frozen-vocab re-segmentation, the unrolled-Lloyd assignment) and
    // derives the same checksums — one hash match proving the whole
    // point fix coheres across the release surface. Tokenizer and
    // coarse quantizer stay FROZEN (trained on the full corpus — the
    // q188/q192 stance).
    "q195_release_point_fix" -> ((spark, dir) => {
      def gateDoc(prefix: String) = substring(md5(concat(lit(prefix),
        col("doc_id").cast("string"))), 1, 2)
      def gateVec(prefix: String) = substring(md5(concat(lit(prefix),
        col("vec_id").cast("string"))), 1, 2)
      val docs = Tables(spark, dir, "documents")
      // r18 (guide §2.2 project early / §5 cache multi-read boundaries):
      // the three signed release slices (old +1, retract −1, new +1) are
      // GATES over the same corpus, but each artifact family used to run
      // its whole per-row pass once per slice — the text md5 (manifest),
      // the sha2 (dedup state), the tokenize+BPE explode (vocab freq) and
      // the ADC cell assignment (IVF) each ran 3×. Compute each per-row
      // derivation ONCE over the corpus with the gate flags as columns,
      // cache the narrow derived rows, and aggregate every slice from the
      // cache: each partial is the same aggregate over the same values
      // (integer sums re-associated; the gates are total — md5 of a
      // non-null string — so the flag complement is exactly the >= gate).
      val der = graft.CachePool.track(docs.select(col("doc_id"),
        col("source"),
        col("text").isNull.as("is_null_text"),
        octet_length(col("text")).cast("long").as("octets"),
        conv(substring(md5(col("text")), 1, 15), 16, 10)
          .cast("long").as("mx"),
        sha2(col("text"), 256).as("h"),
        (gateDoc("rdump:") < "cd").as("is_old"),
        (gateDoc("rretract:") < "10").as("is_rem")))
      val oldP = der.filter(col("is_old"))
      val remP = oldP.filter(col("is_rem"))
      val newP = der.filter(!col("is_old"))
      val manifest = TextAnalysis.combineManifestPartials(Seq(
        (TextAnalysis.manifestPartialsFromDerived(oldP), 1L),
        (TextAnalysis.manifestPartialsFromDerived(remP), -1L),
        (TextAnalysis.manifestPartialsFromDerived(newP), 1L)))
      val dedup = Dedup.combineDedupState(Seq(
        (oldP.select(col("h"), col("doc_id")), 1L),
        (remP.select(col("h"), col("doc_id")), -1L),
        (newP.select(col("h"), col("doc_id")), 1L)))
      // doc frames for the tokenize passes: the per-doc-token
      // restructure (tokenFreqByDoc cached, slices folded from counts)
      // was A/B'd and REVERTED — 5.1-5.4 s vs 4.1-4.8 s at sf0.1: the
      // (doc_id, token)-grain shuffle + cache it adds costs more than
      // the three fused map-side slice passes it saves (the q188/q58
      // lesson a third time). The md5/sha2/ADC derivations above stay
      // single-pass — they add no shuffle, only a narrow cache.
      val oldD = docs.filter(gateDoc("rdump:") < "cd")
      val remD = oldD.filter(gateDoc("rretract:") < "10")
      val newD = docs.filter(gateDoc("rdump:") >= "cd")
      val (dict, alphabet) = Tokenizer.vocabInputs(docs)
      val merges = Tokenizer.bpeTrain(dict)
      val vocab = Tokenizer.vocabTable(spark, alphabet, merges)
        .join(Tokenizer.combineTokenFreq(Seq(
          (Tokenizer.tokenFreqPartials(oldD, merges, spread = false), 1L),
          (Tokenizer.tokenFreqPartials(remD, merges, spread = false), -1L),
          (Tokenizer.tokenFreqPartials(newD, merges, spread = false), 1L))),
          Seq("token"), "left")
        .select(col("token_id"), col("token"),
          coalesce(col("freq"), lit(0L)).as("freq"))
      val base = graft.CachePool.track(
        Similarity.withQuantized(Tables(spark, dir, "embeddings")))
      val coarse = Pq.trainSlice(base, 1, Pq.SubSpaces * Pq.SubDim, Pq.CoarseK)
      // cached: the 2-long assignment rows feed all three signed slices —
      // the per-vector nearest-cell scan (the ADC distance loop) ran 3×
      val assigned = graft.CachePool.track(Pq.ivfAssign(base, coarse))
      val oldV = assigned.filter(gateVec("rdump:") < "cd")
      val remV = oldV.filter(gateVec("rretract:") < "10")
      val newV = assigned.filter(gateVec("rdump:") >= "cd")
      val ivf = Pq.combineIvfState(Seq(
        (oldV, 1L), (remV, -1L), (newV, 1L)))
      auditRow("dedup_state", dedup,
        Seq(col("h"), col("keep_id"), col("n_dups")))
        .unionByName(auditRow("ivf_index", ivf,
          Seq(col("cell"), col("n_vecs"), col("min_vec"), col("id_xor"))))
        .unionByName(auditRow("manifest", manifest,
          Seq(col("source"), col("n_docs"), col("n_null_text"),
            col("total_octets"), col("content_xor"))))
        .unionByName(auditRow("vocab", vocab,
          Seq(col("token_id"), col("token"), col("freq"))))
        .orderBy("artifact")
    }),
    "q174_crawl_to_training" -> ((spark, dir) => {
      val st = stages(spark, dir)
      // 512-token sequence packing per source (q82's formula over BPE
      // counts instead of whitespace counts); the q82-vs-q151 trade is
      // this window — q185 is the same composition with the hot-source-
      // proof q151 scan swapped in
      val pw = Window.partitionBy(col("source")).orderBy(col("doc_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      packInput(st)
        .withColumn("cum", sum(col("n_bpe")).over(pw))
        .select(col("doc_id"), col("source"), col("lang"), col("n_bpe"),
          floor((col("cum") - col("n_bpe")).cast("double") / SeqLen.toDouble)
            .cast("long").as("seq_id"))
        .orderBy("doc_id")
    }),

    // q185 [north star, r12]: the composed pipeline PACKED AT SCALE —
    // q174's funnel with the final packing done by q151's distributed
    // prefix scan instead of the source-keyed window (r11 verdict item
    // 2: at a real 100 TB crawl one hot source makes q174's window
    // partition corpus-sized; the scan's window partitions are ~n/P
    // rows regardless of source skew). Same packing rule, same values —
    // the oracle is VERBATIM q174's, so the membership identity is
    // hash-proven, and the plan shape (range partition + (pid,source)
    // local windows + broadcast offsets) is PlanSpec-pinned.
    "q185_crawl_to_training_scan" -> ((spark, dir) => {
      val st = stages(spark, dir)
      Curation.scanPack(packInput(st), "n_bpe", SeqLen)
        .select(col("doc_id"), col("source"), col("lang"), col("n_bpe"),
          col("seq_id"))
        .orderBy("doc_id")
    }),

    // q180 [north star, r11]: the PIPELINE ATTRITION AUDIT — q145's
    // data-card shape over the full curation funnel: per source, how
    // many docs survive each gate (parsed → lang/length gate → exact
    // dedup → holdout split → decontamination → erasure). Shares the
    // staged dataflow with q174, so the audit and the per-doc detail
    // are structurally the same computation (reconciliation pinned in
    // OperatorSpec: q180's n_clean per source == q174's row counts).
    // Six partial-aggregating rollups to |sources| rows + broadcast
    // joins — the audit costs one pass per stage boundary, never a
    // corpus-sized join.
    "q180_pipeline_audit" -> ((spark, dir) => {
      val st = stages(spark, dir)
      def cnt(df: DataFrame, name: String): DataFrame =
        df.groupBy(col("source")).agg(count(lit(1)).as(name))
      cnt(st.parsed, "n_parsed")
        .join(cnt(st.gated, "n_gated"), Seq("source"), "left")
        .join(cnt(st.dd, "n_dedup"), Seq("source"), "left")
        .join(cnt(st.train, "n_train"), Seq("source"), "left")
        .join(cnt(st.decon, "n_decon"), Seq("source"), "left")
        .join(cnt(st.clean, "n_clean"), Seq("source"), "left")
        .select(col("source"),
          col("n_parsed"),
          coalesce(col("n_gated"), lit(0L)).as("n_gated"),
          coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
          coalesce(col("n_train"), lit(0L)).as("n_train"),
          coalesce(col("n_decon"), lit(0L)).as("n_decon"),
          coalesce(col("n_clean"), lit(0L)).as("n_clean"))
        .orderBy("source")
    }))

  /** The composed funnel+tokenize+pack oracle — shared VERBATIM by q174
    * and q185 (same rule, different physical packing strategy), so the
    * two variants' equivalence is itself hash-proven.
    */
  private def crawlToTrainingOracle: String =
    s"""WITH RECURSIVE $funnelCtes,
       |${Tokenizer.oracleMergeCtes("clean")},
       |${Tokenizer.oracleApplyCtes("clean")},
       |packed AS (
       |  SELECT d.doc_id, d.source, d.lang, p.n_bpe,
       |    SUM(p.n_bpe) OVER (PARTITION BY d.source ORDER BY d.doc_id
       |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
       |  FROM clean d JOIN perdoc p USING (doc_id))
       |SELECT doc_id, source, lang, CAST(n_bpe AS BIGINT) AS n_bpe,
       |  CAST(floor(CAST(cum - n_bpe AS DOUBLE) / $SeqLen.0) AS BIGINT) AS seq_id
       |FROM packed ORDER BY doc_id""".stripMargin

  /** q195's oracle: every artifact recomputed via its RESCAN road —
    * q42/q183 rollups over the final corpus, the frozen-vocab
    * re-segmentation (q188's shape), the unrolled-Lloyd assignment
    * (q192's shape) — then the same canonical-row md5 → 60-bit → xor
    * audit. chr(1) is the engine side's \\u0001 separator; every
    * column is explicitly stringified (NULLs to '<null>') so column
    * boundaries can never collide.
    */
  private def releasePointFixOracle: String = {
    def canon(cols: Seq[String]): String =
      cols.map(c => s"chr(1) || COALESCE(CAST($c AS VARCHAR), '<null>')")
        .mkString(" || ")
    def aud(name: String, src: String, cols: Seq[String]): String =
      s"""SELECT '$name' AS artifact, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(bit_xor(CAST('0x' || substring(md5(${canon(cols)}), 1, 15)
         |    AS BIGINT)) AS BIGINT) AS content_xor
         |FROM $src""".stripMargin
    s"""WITH RECURSIVE ${Tokenizer.oracleMergeCtes("documents")},
       |fin AS (
       |  SELECT * FROM documents
       |  WHERE (substring(md5('rdump:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
       |         AND substring(md5('rretract:' || CAST(doc_id AS VARCHAR)), 1, 2) >= '10')
       |     OR substring(md5('rdump:' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'cd'),
       |${Tokenizer.oracleApplyCtes("fin")},
       |tf AS (SELECT tok, COUNT(*) AS freq FROM (
       |         SELECT unnest(list_filter(string_split(trim(s),' '), x -> x <> '')) AS tok
       |         FROM ap WHERE r = ${Tokenizer.MergeRounds}) t GROUP BY tok),
       |alpha AS (SELECT DISTINCT unnest(list_filter(
       |            string_split(regexp_replace(w,'(.)','\\1 ','g'),' '),
       |            x -> x <> '')) AS ch
       |          FROM (SELECT unnest(string_split(text,' ')) AS w
       |                FROM documents WHERE text IS NOT NULL) ww),
       |vbase AS (SELECT ch AS token,
       |            row_number() OVER (ORDER BY ch) - 1 AS token_id FROM alpha),
       |nb AS (SELECT COUNT(*) AS n FROM vbase),
       |vocab AS (SELECT token, token_id FROM vbase
       |          UNION ALL
       |          SELECT a||b AS token, (SELECT n FROM nb) + rank - 1 FROM m),
       |vrows AS (SELECT v.token_id, v.token, COALESCE(tf.freq, 0) AS freq
       |          FROM vocab v LEFT JOIN tf ON tf.tok = v.token),
       |ddr AS (SELECT sha256(text) AS h, MIN(doc_id) AS keep_id,
       |          CAST(COUNT(*) AS BIGINT) AS n_dups FROM fin GROUP BY 1),
       |man AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |          CAST(SUM(CASE WHEN text IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_null_text,
       |          CAST(SUM(strlen(text)) AS BIGINT) AS total_octets,
       |          CAST(bit_xor(CAST('0x' || substring(md5(text), 1, 15) AS BIGINT)) AS BIGINT) AS content_xor
       |        FROM fin GROUP BY source),
       |${Pq.chain("c", 1, Pq.SubSpaces * Pq.SubDim, Pq.CoarseK)},
       |ii AS (SELECT CAST(cluster AS BIGINT) AS cell,
       |         CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |         CAST(MIN(vec_id) AS BIGINT) AS min_vec,
       |         CAST(bit_xor(vec_id) AS BIGINT) AS id_xor
       |       FROM fin_c
       |       WHERE (substring(md5('rdump:' || CAST(vec_id AS VARCHAR)), 1, 2) < 'cd'
       |              AND substring(md5('rretract:' || CAST(vec_id AS VARCHAR)), 1, 2) >= '10')
       |          OR substring(md5('rdump:' || CAST(vec_id AS VARCHAR)), 1, 2) >= 'cd'
       |       GROUP BY cluster),
       |aud AS (
       |  ${aud("dedup_state", "ddr", Seq("h", "keep_id", "n_dups"))}
       |  UNION ALL
       |  ${aud("ivf_index", "ii", Seq("cell", "n_vecs", "min_vec", "id_xor"))}
       |  UNION ALL
       |  ${aud("manifest", "man",
            Seq("source", "n_docs", "n_null_text", "total_octets", "content_xor"))}
       |  UNION ALL
       |  ${aud("vocab", "vrows", Seq("token_id", "token", "freq"))})
       |SELECT artifact, n_rows, content_xor FROM aud ORDER BY artifact""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    // q229: the component oracles REUSED VERBATIM as subqueries — the
    // card and the audits it cites cannot drift apart.
    "q229_release_audit_card" -> {
      def sub(check: String, metric: String, expr: String, of: String) =
        s"""SELECT '$check' AS "check", '$metric' AS metric,
           |  CAST($expr AS BIGINT) AS value
           |FROM ($of)""".stripMargin
      Seq(
        sub("k_anonymity", "chosen_level", "MIN(level)",
          Privacy.oracles("q201_k_anonymity")) + " WHERE chosen",
        sub("l_diversity", "chosen_level", "MIN(level)",
          Privacy.oracles("q202_l_diversity")) + " WHERE chosen",
        sub("t_closeness", "chosen_level", "MIN(level)",
          Privacy.oracles("q214_t_closeness")) + " WHERE chosen",
        sub("contamination", "dirty_docs",
          "SUM(CASE WHEN dirty THEN 1 ELSE 0 END)",
          Dedup.oracles("q222_contamination_score")),
        sub("contamination", "eval_docs", "COUNT(*)",
          Dedup.oracles("q222_contamination_score")),
        sub("erasure", "shards_proven",
          "SUM(CASE WHEN recon_ok THEN 1 ELSE 0 END)",
          Erasure.oracles("q225_erasure_parity")),
        sub("merge", "live_keys",
          "SUM(CASE WHEN alive THEN 1 ELSE 0 END)",
          Relational.oracles("q223_merge_compaction")),
        sub("merge", "dead_keys",
          "SUM(CASE WHEN NOT alive THEN 1 ELSE 0 END)",
          Relational.oracles("q223_merge_compaction")))
        .mkString("", "\nUNION ALL\n", "\nORDER BY \"check\", metric")
    },
    "q195_release_point_fix" -> releasePointFixOracle,
    // the same composition in SQL: the shared funnel CTEs feeding the
    // parameterized q166/q167 CTE builders, then the q82 packing window.
    "q174_crawl_to_training" -> crawlToTrainingOracle,
    "q185_crawl_to_training_scan" -> crawlToTrainingOracle,
    "q180_pipeline_audit" ->
      s"""WITH $funnelCtes
         |SELECT p.source,
         |  CAST(p.n AS BIGINT) AS n_parsed,
         |  CAST(COALESCE(g.n, 0) AS BIGINT) AS n_gated,
         |  CAST(COALESCE(d.n, 0) AS BIGINT) AS n_dedup,
         |  CAST(COALESCE(t.n, 0) AS BIGINT) AS n_train,
         |  CAST(COALESCE(dc.n, 0) AS BIGINT) AS n_decon,
         |  CAST(COALESCE(c.n, 0) AS BIGINT) AS n_clean
         |FROM      (SELECT source, count(*) AS n FROM src   GROUP BY source) p
         |LEFT JOIN (SELECT source, count(*) AS n FROM gated GROUP BY source) g USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM dd    GROUP BY source) d USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM train GROUP BY source) t USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM decon GROUP BY source) dc USING (source)
         |LEFT JOIN (SELECT source, count(*) AS n FROM clean GROUP BY source) c USING (source)
         |ORDER BY p.source""".stripMargin)
}
