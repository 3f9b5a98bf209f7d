package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.TextOps

/** Subword-tokenizer surface: corpus-level BPE merge training and
  * whole-corpus tokenization — the "train the tokenizer, then tokenize
  * the corpus" step every LLM data pipeline runs between curation and
  * packing (Sennrich et al., ACL'16).
  *
  * Scale shape (the part that must survive 100 TB):
  *  - the ONLY corpus-sized work in training is the word-frequency
  *    aggregation — one `groupBy(word).count` with map-side partial
  *    aggregation, the same shuffle q44 does. BPE training proper runs
  *    on the word-TYPE frequency dict, never on the corpus: the dict is
  *    capped to the top-`VocabCap` types (frequency-desc, word-asc —
  *    deterministic), collected as bounded MODEL STATE (the kmeansCore /
  *    q154 discipline), and the `MergeRounds` greedy rounds are pure
  *    driver arithmetic over ≤ VocabCap short strings. This is how
  *    production BPE trainers work too — the type dict, not the token
  *    stream, is the training input.
  *  - tokenization (q167) is MAP-ONLY: the learned merge table is
  *    embedded as k literal `replace` steps in a per-word expression
  *    chain (whole-stage codegen'd, no UDF), so the corpus pass has no
  *    shuffle at all — per-doc outputs come straight off the scan. At a
  *    real vocab size the per-occurrence chain would be replaced by a
  *    broadcast word→segment-count map for the capped types (covering
  *    the frequency mass) with the chain as the open-vocab fallback;
  *    at k = MergeRounds the direct chain is the simpler honest form.
  *
  * Merge semantics, identical on both engines by construction: a word is
  * the space-joined character sequence wrapped in sentinel spaces
  * (" h e l l o "); applying merge (a, b) is the non-overlapping
  * left-to-right string replace of " a b " with " ab " — Java
  * `String.replace` and DuckDB `replace` share exactly that contract
  * (verified on the overlapping " a a a " case), and the wrapping spaces
  * make token boundaries unambiguous even after multi-character merges.
  * Tie-breaks are total: best pair = highest weighted count, then
  * lexicographically smallest (left, right); dict cap = highest
  * frequency, then smallest word.
  *
  * Reference scope: the reference's pipeline (washingtonpost/
  * arc-kinesis-tagging app.py:33-41) tokenizes headlines naively before
  * tagging; this is that step grown into the trainable-subword form a
  * training-data pipeline needs.
  */
object Tokenizer extends QueryGroup {

  /** Word-type dict cap — top-V by (freq desc, word asc). */
  val VocabCap = 24
  /** Greedy merge rounds learned / applied. */
  val MergeRounds = 12

  /** One learned merge: rank (1-based), pair, concatenation, weighted
    * pair count at selection time.
    */
  final case class Merge(rank: Long, left: String, right: String,
      merged: String, count: Long)

  /** " h e l l o " — the sentinel-wrapped spaced character form.
    *
    * The supported alphabet (r11): any BMP character that is not a
    * space, a C0/C1 control (incl. \r, \n, NEL), DEL, a Unicode line
    * separator, or a surrogate half. On that alphabet the three
    * splitting paths agree exactly — this per-UTF-16-char split, Java
    * regex '(.)' (skips line terminators, one match per code point),
    * and DuckDB RE2 '.' (skips \n, one match per code point) — because
    * every allowed char is one UTF-16 unit AND one code point AND
    * matched by both engines' '.'. Outside it they diverge ('.' skips
    * \r on Java but not RE2; astral chars are 2 UTF-16 units here but 1
    * RE2 match), so out-of-alphabet input fails LOUDLY rather than
    * silently learning a merge table the engine's own tokenization
    * disagrees with. The `OutOfAlphabetRe` rlike gate in [[tokenized]]
    * enforces the SAME contract on the whole-corpus tokenize path (r11 —
    * previously only dict words were gated, leaving the corpus side a
    * silent divergence surface).
    */
  private[graft] def inAlphabet(c: Char): Boolean =
    c > ' ' && c != '\u007f' && !(c >= '\u0080' && c <= '\u009f') &&
      c != '\u2028' && c != '\u2029' && !Character.isSurrogate(c)

  private def spaced(w: String): String = {
    require(w.forall(inAlphabet),
      s"BPE dict word outside the supported alphabet: '$w'")
    " " + w.map(_.toString).mkString(" ") + " "
  }

  /** Java-regex form of the [[inAlphabet]] complement (plus astral code
    * points), applied per DOC on the tokenize path: one `rlike` per row,
    * loud `raise_error` naming the doc on a hit. Space is allowed at
    * the doc level (it is the word separator).
    */
  private val OutOfAlphabetRe =
    "[\\x00-\\x1f\\x7f-\\x9f\\u2028\\u2029]|[\\x{10000}-\\x{10FFFF}]"

  /** Greedy BPE over a word-type frequency dict (driver model state,
    * ≤ [[VocabCap]] entries). Runs exactly [[MergeRounds]] rounds and
    * fails loudly if the dict runs out of pairs first — a silent short
    * merge table would diverge from the unrolled oracle.
    */
  private[graft] def bpeTrain(dict: Seq[(String, Long)],
      rounds: Int = MergeRounds): Seq[Merge] = {
    var d = dict.map { case (w, f) => (spaced(w), f) }
    val merges = Seq.newBuilder[Merge]
    var r = 1
    while (r <= rounds) {
      val counts = scala.collection.mutable.Map.empty[(String, String), Long]
      d.foreach { case (s, f) =>
        val toks = s.split(" ").filter(_.nonEmpty)
        var i = 0
        while (i < toks.length - 1) {
          counts((toks(i), toks(i + 1))) =
            counts.getOrElse((toks(i), toks(i + 1)), 0L) + f
          i += 1
        }
      }
      require(counts.nonEmpty,
        s"BPE dict ran out of adjacent pairs at round $r/$rounds")
      val ((a, b), c) = counts.toSeq.minBy { case ((a, b), c) => (-c, a, b) }
      merges += Merge(r.toLong, a, b, a + b, c)
      d = d.map { case (s, f) => (s.replace(s" $a $b ", s" $a$b "), f) }
      r += 1
    }
    merges.result()
  }

  /** The distributed trainer front half: corpus → word-type frequency
    * dict, capped to [[VocabCap]] (one map-side-combining shuffle; the
    * orderBy+limit is a TakeOrdered over word TYPES, not corpus rows).
    */
  private[graft] def wordDict(spark: SparkSession, dir: String): Seq[(String, Long)] =
    wordDictOf(Tables(spark, dir, "documents"))

  /** [[wordDict]] over an arbitrary (doc_id, text) frame — q174 trains
    * on its gated+deduped pipeline stage.
    */
  private[graft] def wordDictOf(docs: DataFrame): Seq[(String, Long)] =
    docs
      .select(explode(TextOps.tokens(col("text"))).as("word"))
      .groupBy(col("word")).agg(count(lit(1)).as("f"))
      .orderBy(col("f").desc, col("word"))
      .limit(VocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq

  /** Per-word BPE token count as a codegen'd expression chain: spaced
    * chars, then the k learned merges as literal replaces, then count
    * surviving tokens. `w` is a lambda variable — everything else in the
    * chain is literal, so per-element re-evaluation does exactly the
    * intended per-word work (the q159 HOF lesson).
    */
  private def bpeTokenCount(w: Column, merges: Seq[Merge]): Column =
    size(bpeSegments(w, merges)).cast("long")

  /** The per-word segmentation itself (array of surviving tokens) —
    * [[bpeTokenCount]] is its size; q181's vocab export explodes it for
    * corpus-wide token frequencies.
    */
  private def bpeSegments(w: Column, merges: Seq[Merge]): Column = {
    val sp = concat(lit(" "), regexp_replace(w, "(.)", "$1 "))
    val applied = merges.foldLeft(sp) { (acc, m) =>
      call_function("replace", acc,
        lit(s" ${m.left} ${m.right} "), lit(s" ${m.merged} "))
    }
    filter(split(trim(applied), " "), t => t =!= "")
  }

  /** The BPE segment count of one word, driver-side — the SAME spaced/
    * replace/count pipeline the expression chain runs, in plain Scala.
    * Precomputes the vocab-map entries for [[tokenizedVocab]] (model
    * state: ≤ VocabCap small longs).
    */
  private[graft] def segmentCount(w: String, merges: Seq[Merge]): Long = {
    var s = spaced(w)
    merges.foreach(m => s = s.replace(s" ${m.left} ${m.right} ", s" ${m.merged} "))
    s.split(" ").count(_.nonEmpty).toLong
  }

  def queries: Map[String, Q] = Map(
    // q166 [north star, r10]: BPE merge-table training. Corpus work =
    // one word-frequency shuffle; the greedy itself runs over the capped
    // type dict as driver model state. Output = the ordered merge table
    // (all-integer/string → bit-deterministic).
    "q166_bpe_train" -> ((spark, dir) => {
      import spark.implicits._
      bpeTrain(wordDict(spark, dir))
        .toDF("rank", "pair_left", "pair_right", "merged", "pair_count")
        .orderBy("rank")
    }),

    // q167 [north star, r10]: whole-corpus BPE tokenization with the
    // freshly trained merges — MAP-ONLY over the scan (the merge chain
    // is embedded literals; no join, no shuffle, per-doc row out).
    // NULL text → NULL counts (wsTokenCount discipline).
    "q167_bpe_tokenize" -> ((spark, dir) => {
      val merges = bpeTrain(wordDict(spark, dir))
      tokenized(Tables(spark, dir, "documents"), merges).orderBy("doc_id")
    }),

    // q178 [north star, r11]: the PRODUCTION-vocab apply shape q167's
    // scaladoc names — at a 50k vocab a per-occurrence replace chain is
    // 50k string passes per word, so production tokenizers look each
    // known word up in a broadcast word→segment-count map (the capped
    // type dict covers the corpus's frequency mass) and run the chain
    // only as the OPEN-VOCAB fallback for tail words. Here the map is a
    // literal (driver-precomputed by the same spaced/replace/count
    // pipeline), the lookup is `element_at` + `coalesce` to the chain —
    // still map-only, still zero joins. The oracle is VERBATIM q167's:
    // the two strategies must be semantically indistinguishable, and
    // the hash match proves the fast path computes exactly what the
    // reference chain computes.
    "q178_bpe_tokenize_vocab" -> ((spark, dir) => {
      val dict = wordDict(spark, dir)
      val merges = bpeTrain(dict)
      tokenizedVocab(Tables(spark, dir, "documents"), merges, dict)
        .orderBy("doc_id")
    }),

    // q181 [north star, r11]: VOCAB EXPORT — the artifact a tokenizer
    // actually ships (what a user hands the training job): the token
    // inventory with ids (base alphabet in binary order, then merged
    // tokens in merge-rank order — the standard BPE id assignment) plus
    // each token's CORPUS-WIDE frequency under the real segmentation
    // (the statistic vocab-truncation and sampling decisions read).
    // Scale shape: the alphabet is bounded driver model state (loud cap);
    // frequencies are one map-only segmentation pass (the q167 chain
    // returning the token ARRAY) + one token-keyed partial-aggregating
    // shuffle; the vocab table itself is a broadcast-sized join probe.
    // Exactness: Σ freq ≡ Σ q167.n_bpe by construction — pinned in
    // OperatorSpec as a cross-query conservation law.
    "q181_vocab_export" -> ((spark, dir) => {
      val merges = bpeTrain(wordDict(spark, dir))
      val docs = Tables(spark, dir, "documents")
      vocabTable(spark, docs, merges)
        .join(tokenFreqPartials(docs, merges), Seq("token"), "left")
        .select(col("token_id"), col("token"),
          coalesce(col("freq"), lit(0L)).as("freq"))
        .orderBy("token_id")
    }),

    // q188 [north star, r12]: INCREMENTAL vocab-frequency maintenance —
    // the q184/q186 signed-partial IVM discipline applied to the shipped
    // vocab artifact, completing the release-surface IVM triad
    // (manifest, dedup state, vocab). The production scenario: the
    // tokenizer is FROZEN (vocab/merges trained before the fix — the
    // contract every downstream consumer depends on), and when the
    // release takes a point fix the per-token corpus frequencies update
    // from STORED per-dump token partials plus the delta's — counts add
    // signed, the old corpus is never re-segmented (at 100 TB the
    // map-only tokenize pass is the expensive part; IVM makes a point
    // fix cost |delta|, not |corpus|). The oracle takes the OTHER road
    // (re-segment the FINAL corpus with the same frozen vocab), so the
    // hash match proves combine ≡ rescan exactly; OperatorSpec freezes
    // the partials to driver rows before combining.
    "q188_vocab_incremental" -> ((spark, dir) => {
      val merges = bpeTrain(wordDict(spark, dir))
      val docs = Tables(spark, dir, "documents")
      def gate(prefix: String) =
        substring(md5(concat(lit(prefix), col("doc_id").cast("string"))), 1, 2)
      val old = docs.filter(gate("vdump:") < "cd")
      val removed = old.filter(gate("vretract:") < "10")
      val delta = docs.filter(gate("vdump:") >= "cd")
      val net = combineTokenFreq(Seq(
        (tokenFreqPartials(old, merges, spread = false), 1L),
        (tokenFreqPartials(removed, merges, spread = false), -1L),
        (tokenFreqPartials(delta, merges, spread = false), 1L)))
      vocabTable(spark, docs, merges)
        .join(net, Seq("token"), "left")
        .select(col("token_id"), col("token"),
          coalesce(col("freq"), lit(0L)).as("freq"))
        .orderBy("token_id")
    }),

    // q198 [north star, r12]: UNIGRAM-LM VITERBI segmentation — the
    // OTHER production tokenizer family (SentencePiece's unigram model,
    // Kudo ACL'18): where BPE applies a fixed merge program, unigram
    // inference picks, per word, the GLOBALLY min-cost segmentation
    // into vocab tokens by dynamic programming. The vocab here is the
    // q181 artifact (base alphabet + merged tokens) with a frozen
    // exact-integer cost table (frequency rank — the monotone −log p
    // surrogate, the q83/q153 log-free stance); per doc the output is
    // Σ best-cost and Σ optimal-path-count over words — both canonical
    // DP outputs, uniquely defined under cost ties, so the surface
    // needs zero tie-break rules to hash cross-engine. `ways` pins the
    // whole DP structure (every optimal path counted exactly), not
    // just the optimum. Scale shape: the cost table is the TRAINED
    // q237 artifact ([[trainedUnigram]] — r13: two exact-integer
    // Viterbi-EM rounds over the q181 seed, memoized per sf-dir; in
    // production it is a SHIPPED artifact, loaded not retrained);
    // segmentation is then MAP-ONLY via the UnigramViterbi codegen
    // expression (model = |vocab| rows as an executor reference object;
    // O(len·maxTok) integer DP per word; zero joins, zero shuffles over
    // the corpus). Oracle: DuckDB re-derives vocab + the EM-trained
    // costs from the same chained CTEs and runs the SAME DP as a
    // recursive CTE carrying the best/ways arrays as lists — two
    // independent implementations of training AND inference, one hash.
    "q198_unigram_viterbi" -> ((spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      unigramSegmented(docs, trainedUnigram(spark, dir)._1)
        .orderBy("doc_id")
    }),

    // q237 [north star, r13]: UNIGRAM-LM EM TRAINING — the training
    // half q198 froze (the q166 of q198; r12 verdict item #6): from the
    // q181 frequency-rank seed, run two VITERBI-EM rounds in exact
    // integers — E-step: per distinct word, hard-EM expected token
    // counts over ALL min-cost segmentations (forward×suffix path-count
    // products via the UnigramEdgeCounts codegen expression — tie-
    // complete, so no tie-break rules exist to drift cross-engine),
    // weighted by corpus word frequency; M-step: re-rank by (count
    // desc, token asc), the same monotone −log p surrogate the seed
    // uses (soft EM's real-valued posteriors cannot hash — the q83
    // log-free stance; Viterbi training is the standard hard-EM
    // alternative in the same literature). Output = the trained table
    // (token, cost, em_count). Oracle: the ENTIRE chain — vocab, seed
    // costs, and per round a forward DP + a suffix DP as recursive CTEs
    // carrying list state, the on-optimal-edge condition fb[j] + cost +
    // sb[e] = opt, frequency-weighted counts, and the re-rank — then
    // hash-matched against the engine's expression-based trainer.
    // q198 consumes exactly this table, so its (also re-derived) hash
    // staying green proves trainer ≡ trainer across engines twice.
    "q237_unigram_em_train" -> ((spark, dir) => {
      import spark.implicits._
      val (costs, cnts) = trainedUnigram(spark, dir)
      costs.map { case (t, c) => (t, c, cnts(t)) }
        .sortBy(_._1).toDF("token", "cost", "em_count")
        .orderBy("token")
    }),

    // q215 [north star, r12]: WORDPIECE greedy segmentation — the THIRD
    // production subword family (Wu et al. 2016; BERT's tokenizer),
    // completing the inference-strategy triangle the tier now spans:
    // BPE applies a fixed MERGE PROGRAM (q167/q178), unigram picks the
    // GLOBAL OPTIMUM by DP (q198), WordPiece walks GREEDY
    // longest-match-first — the published algorithm, including its
    // all-or-nothing [UNK] rule (an unmatched cursor discards the whole
    // word's pieces) and the max_input_chars_per_word=200 UNK cap. The
    // vocab is the SAME q181 inventory (base alphabet + merged tokens)
    // registered on both sides (word-initial and "##" continuation) —
    // single-char base coverage means [UNK] cannot fire on the gated
    // corpus (pinned; the spec exercises UNK and greedy-vs-optimal
    // suboptimality on restricted toy vocabs, where the behavior
    // lives). Scale shape: the vocab ships as executor model state on
    // the WordpieceGreedy codegen expression; the corpus pass is
    // MAP-ONLY (zero joins/shuffles — q198's shape). Oracle: the same
    // greedy walk as a recursive CTE over a precomputed
    // longest-match-per-cursor table — an independent implementation of
    // the same deterministic walk, one hash.
    "q215_wordpiece" -> ((spark, dir) => {
      val docs = Tables(spark, dir, "documents")
      val merges = bpeTrain(wordDict(spark, dir))
      val inv = vocabTable(spark, docs, merges)
        .orderBy("token_id").collect().map(_.getString(0)).toSeq
      wordpieceSegmented(docs, inv, inv).orderBy("doc_id")
    }))

  /** The per-dump token-frequency PARTIALS a release stores beside each
    * dump (q181 without the vocab join): one map-only segmentation pass
    * over the dump + one token-keyed partial-aggregating rollup — the
    * state q188's incremental combine maintains. Every output token is
    * in the vocab by construction: a surviving segment is either a
    * single corpus char (base alphabet) or a string only a merge can
    * produce.
    */
  private[graft] def tokenFreqPartials(docs: DataFrame,
      merges: Seq[Merge], spread: Boolean = true): DataFrame =
    // r17: spread floors the segmentation pass at session parallelism
    // (one-row-group corpora fuse it into a single scan task). Callers
    // that segment several SMALL SLICES of the corpus (q188/q180's
    // signed-partial IVM: three sub-50%-selectivity passes) pass
    // spread=false — three extra exchanges cost more than the slices'
    // fused compute (A/B at sf0.1: q188 2.61s with, 2.24s without).
    (if (spread) graft.Tables.spread(docs.filter(col("text").isNotNull)
        .select(col("text")))
     else docs.filter(col("text").isNotNull).select(col("text")))
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .select(explode(bpeSegments(col("w"), merges)).as("token"))
      .groupBy(col("token")).agg(count(lit(1)).as("freq"))

  /** Combine signed per-dump token partials into net corpus frequencies.
    * Counts add with their sign (an insertion and its retraction
    * cancel); touches ONLY the |vocab|-sized partial frames — the
    * incremental-view-maintenance contract.
    */
  private[graft] def combineTokenFreq(
      parts: Seq[(DataFrame, Long)]): DataFrame =
    parts.map { case (p, sgn) =>
      p.select(col("token"), (col("freq") * sgn).as("freq"))
    }.reduce(_ unionByName _)
      .groupBy(col("token")).agg(sum(col("freq")).as("freq"))

  /** q198's frozen cost table: every vocab token (q181's inventory)
    * costed by its frequency RANK — 1 = most frequent. Rank is the
    * exact-integer monotone surrogate of −log p (libm logs are not
    * bit-portable cross-engine; rank preserves the order structure the
    * DP's preferences read). Bounded model state: |alphabet| + merge
    * count rows, collected once on the driver. Tie-freeness: tokens
    * are distinct (vocabTable's loud guards), so (freq desc, token asc)
    * is a total order on BOTH engines — BMP-only tokens make Scala's
    * UTF-16 compareTo, Spark's UTF8String byte order, and DuckDB's
    * VARCHAR byte order all agree with code-point order.
    */
  private[graft] def unigramCosts(spark: SparkSession, docs: DataFrame,
      merges: Seq[Merge]): Seq[(String, Long)] = {
    val withFreq = vocabTable(spark, docs, merges)
      .join(tokenFreqPartials(docs, merges), Seq("token"), "left")
      .select(col("token"), coalesce(col("freq"), lit(0L)).as("freq"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    withFreq.sortBy { case (t, f) => (-f, t) }
      .zipWithIndex.map { case ((t, _), i) => (t, i + 1L) }
  }

  /** One exact-integer VITERBI-EM round (q237): E-step = per distinct
    * word, hard-EM expected token counts over ALL min-cost segmentations
    * (the UnigramEdgeCounts expression — forward×suffix path-count
    * products, exact under ties), weighted by corpus word frequency;
    * M-step = re-rank the vocab by (count desc, token asc), the same
    * monotone −log p surrogate as [[unigramCosts]] (the q83/q153
    * log-free stance: soft EM's real-valued posteriors cannot hash
    * cross-engine). Scale shape: one word-frequency shuffle + one
    * map-only DP pass over DISTINCT words + a |vocab|-bounded rollup
    * collected as model state — the q166 trainer discipline.
    * Returns (re-ranked costs, the E-step counts that produced them).
    */
  private[graft] def unigramEmRound(docs: DataFrame,
      costs: Seq[(String, Long)]): (Seq[(String, Long)], Map[String, Long]) = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val toks = costs.map(_._1).toArray
    val cs = costs.map(_._2).toArray
    val wordFreq = docs.filter(col("text").isNotNull)
      .select(explode(filter(TextOps.tokens(gatedText), w => w =!= "")).as("w"))
      .groupBy(col("w")).agg(count(lit(1)).as("f"))
    val counts = wordFreq
      .select(col("f"),
        explode(toColumn(graft.expressions.UnigramEdgeCounts(
          toExpression(col("w")), toks, cs))).as("e"))
      .groupBy(col("e.tid").as("tid"))
      .agg(sum(col("e.cnt") * col("f")).as("cnt"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val counted = toks.indices.map(i => (toks(i), counts.getOrElse(i, 0L)))
    val ranked = counted.sortBy { case (t, c) => (-c, t) }
      .zipWithIndex.map { case ((t, _), i) => (t, i + 1L) }
    (ranked, counted.toMap)
  }

  /** q237's trained artifact, memoized per sf-dir (driver-held
    * |vocab|-sized rows — the NearDupCache stance): costs after
    * [[UnigramEmRounds]] EM rounds from the [[unigramCosts]] seed, plus
    * the final round's counts. q198 consumes the costs (a tokenizer's
    * cost table IS a trained, shipped artifact — memoizing training is
    * the contract, and its bench row measures inference, q237's
    * measures training).
    */
  private[graft] val UnigramEmRounds = 2
  private val emMemo = new java.util.concurrent.ConcurrentHashMap[
    String, (Seq[(String, Long)], Map[String, Long])]()
  graft.CachePool.onMemoClear(() => emMemo.clear())
  private[graft] def trainedUnigram(spark: SparkSession,
      dir: String): (Seq[(String, Long)], Map[String, Long]) =
    emMemo.computeIfAbsent(dir, _ => {
      val docs = Tables(spark, dir, "documents")
      val merges = bpeTrain(wordDict(spark, dir))
      var cur = unigramCosts(spark, docs, merges)
      var cnts = Map.empty[String, Long]
      (1 to UnigramEmRounds).foreach { _ =>
        val (next, c) = unigramEmRound(docs, cur)
        cur = next; cnts = c
      }
      (cur, cnts)
    })

  /** The map-only corpus pass of q198: per word (same whitespace split
    * and loud alphabet gate as the BPE path, empties dropped), the
    * UnigramViterbi expression computes struct(cost, ways); per doc the
    * two are summed by one `aggregate` fold. The struct lands behind a
    * non-cheap alias in its own projection so CollapseProject cannot
    * inline it twice (SPARK-36718) — the DP runs once per word. Docs
    * with NULL text or zero non-empty words yield NULL cost/ways (the
    * wsTokenCount discipline; the oracle's per-doc join misses the same
    * rows).
    */
  private[graft] def unigramSegmented(docs: DataFrame,
      vocabCosts: Seq[(String, Long)]): DataFrame = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val toks = vocabCosts.map(_._1).toArray
    val cs = vocabCosts.map(_._2).toArray
    def vit(w: Column): Column =
      toColumn(graft.expressions.UnigramViterbi(toExpression(w), toks, cs))
    val words = filter(TextOps.tokens(gatedText), w => w =!= "")
    val agg = aggregate(
      transform(words, w => vit(w)),
      struct(lit(0L).as("c"), lit(0L).as("w")),
      (acc, x) => struct(
        (acc.getField("c") + x.getField("cost")).as("c"),
        (acc.getField("w") + x.getField("ways")).as("w")))
    graft.Tables.spread(docs)
      .select(col("doc_id"), TextOps.wsTokenCount(col("text")).as("n_ws"),
        when(col("text").isNotNull && size(words) > 0, agg).as("v"))
      .select(col("doc_id"), col("n_ws"),
        col("v.c").as("vit_cost"), col("v.w").as("vit_ways"))
  }

  /** The map-only corpus pass of q215: per word (same whitespace split
    * and loud alphabet gate as the BPE/unigram paths, empties dropped),
    * the WordpieceGreedy expression computes struct(pieces, unk); per
    * doc both are summed by one `aggregate` fold. Same SPARK-36718
    * projection discipline and NULL-text contract as
    * [[unigramSegmented]].
    */
  private[graft] def wordpieceSegmented(docs: DataFrame,
      initial: Seq[String], continuation: Seq[String]): DataFrame = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val ini = initial.toArray
    val con = continuation.toArray
    def wp(w: Column): Column =
      toColumn(graft.expressions.WordpieceGreedy(toExpression(w), ini, con))
    val words = filter(TextOps.tokens(gatedText), w => w =!= "")
    val agg = aggregate(
      transform(words, w => wp(w)),
      struct(lit(0L).as("p"), lit(0L).as("u")),
      (acc, x) => struct(
        (acc.getField("p") + x.getField("pieces")).as("p"),
        (acc.getField("u") + x.getField("unk")).as("u")))
    graft.Tables.spread(docs)
      .select(col("doc_id"), TextOps.wsTokenCount(col("text")).as("n_ws"),
        when(col("text").isNotNull && size(words) > 0, agg).as("v"))
      .select(col("doc_id"), col("n_ws"),
        col("v.p").as("n_wp"), col("v.u").as("n_unk"))
  }

  /** The token→id inventory (base alphabet in binary order, then merged
    * tokens in merge-rank order — the standard BPE id assignment), with
    * the loud ambiguity guards. Shared by q181 and q188 (the frozen
    * vocab a point fix must NOT retrain).
    */
  private[graft] def vocabTable(spark: SparkSession, docs: DataFrame,
      merges: Seq[Merge]): DataFrame = {
    // LOUD guard (r11 advisory): the export's token→id map and the
    // Σfreq≡Σn_bpe conservation law both assume merged token STRINGS
    // are distinct — two merges CAN produce the same string (a+bc and
    // ab+c), and the freq join would then double-count that token under
    // both ids, a silent divergence. Engine-side refusal, not just a
    // fixture assert.
    require(merges.map(_.merged).distinct.size == merges.size,
      "vocab export: duplicate merged token strings in the merge " +
        s"table (${merges.map(_.merged).mkString(", ")}) — token ids " +
        "would be ambiguous and corpus freqs double-joined")
    // base alphabet: distinct chars over corpus words via the SAME
    // '(.)' split the chain uses, binary-sorted; bounded model state
    val alphabet = docs
      .filter(col("text").isNotNull)
      .select(explode(TextOps.tokens(col("text"))).as("w"))
      .select(explode(filter(
        split(regexp_replace(col("w"), "(.)", "$1 "), " "),
        c => c =!= "")).as("ch"))
      .distinct().orderBy("ch")
      .collect().map(_.getString(0)).toSeq
    require(alphabet.size <= 4096,
      s"alphabet of ${alphabet.size} chars exceeds the model-state cap — " +
        "a byte-level base vocab is the production answer past this")
    // base/merged disjointness: structurally guaranteed (merged =
    // left+right, both nonempty ⇒ length ≥ 2; alphabet entries are
    // single chars) — asserted loudly anyway, same discipline as the
    // distinctness guard above
    require(merges.forall(m => !alphabet.contains(m.merged)),
      "vocab export: a merged token collides with a base-alphabet " +
        "char — token ids would be ambiguous")
    val ids: Seq[(String, Long)] =
      alphabet.zipWithIndex.map { case (c, i) => (c, i.toLong) } ++
        merges.map(m => (m.merged, alphabet.size + m.rank - 1))
    spark.createDataFrame(ids).toDF("token", "token_id")
  }

  /** The tokenize projection itself (q167's corpus pass). The text
    * feeding the BPE chain passes the loud alphabet gate first (one
    * rlike per doc; NULL text sails through to the NULL-count path) —
    * the corpus side now enforces the same contract the dict side
    * always did, instead of silently diverging on \r/astral input.
    */
  private def gatedText: Column =
    when(col("text").rlike(OutOfAlphabetRe),
      raise_error(concat(
        lit("BPE tokenize: doc "), col("doc_id").cast("string"),
        lit(" contains out-of-alphabet characters (control/line-separator/" +
          "astral) — per-char splits diverge cross-engine on them"))))
      .otherwise(col("text"))

  // The corpus passes below are MAP-ONLY expression chains (12 replaces
  // per word / a DP per word): everything fuses into the scan stage, so
  // a one-row-group local corpus runs them on ONE task. Tables.spread
  // (r17) floors the stage at session parallelism; at production row
  // group counts it is the identity.
  private[graft] def tokenized(docs: DataFrame, merges: Seq[Merge]): DataFrame =
    graft.Tables.spread(docs)
      .select(col("doc_id"), TextOps.wsTokenCount(col("text")).as("n_ws"),
      aggregate(
        transform(TextOps.tokens(gatedText), w => bpeTokenCount(w, merges)),
        lit(0L), (acc, x) => acc + x).as("n_bpe"))

  /** q178's projection: per word, a literal-map lookup of the
    * precomputed segment count with the replace chain as the open-vocab
    * fallback. Same loud alphabet gate, same NULL discipline, same
    * output contract as [[tokenized]] — only the physical strategy for
    * in-vocab words differs.
    */
  private[graft] def tokenizedVocab(docs: DataFrame, merges: Seq[Merge],
      dict: Seq[(String, Long)]): DataFrame = {
    val vocabMap = map(dict.flatMap { case (w, _) =>
      Seq(lit(w), lit(segmentCount(w, merges)))
    }: _*)
    docs.select(col("doc_id"), TextOps.wsTokenCount(col("text")).as("n_ws"),
      aggregate(
        transform(TextOps.tokens(gatedText), w =>
          coalesce(element_at(vocabMap, w), bpeTokenCount(w, merges))),
        lit(0L), (acc, x) => acc + x).as("n_bpe"))
  }

  /** The q166 chain as DuckDB CTEs: d0 = the capped dict in spaced form,
    * then per round r: pair counts (lateral unnest over adjacent index
    * pairs) → best pair (count desc, pair asc) → dict with the merge
    * applied. MATERIALIZED is load-bearing: each d_r is referenced twice
    * (next round's pair count + next round's replace), so inlined CTEs
    * would re-evaluate the whole prefix exponentially.
    */
  private def oracleMergeCtes: String = oracleMergeCtes("documents")

  /** The trainer chain over an arbitrary (doc_id, text) CTE/table —
    * q174's composed pipeline trains on its gated+deduped stage.
    */
  private[graft] def oracleMergeCtes(src: String): String = {
    val rounds = (1 to MergeRounds).map { r =>
      val prev = s"d${r - 1}"
      s"""p$r AS MATERIALIZED (
         |  SELECT a, b, SUM(f) AS c FROM (
         |    SELECT dd.f, dd.l[i] AS a, dd.l[i+1] AS b
         |    FROM (SELECT f, list_filter(string_split(s,' '), x -> x <> '') AS l FROM $prev) dd,
         |         UNNEST(generate_series(1, len(dd.l)-1)) AS t(i))
         |  GROUP BY a, b),
         |b$r AS MATERIALIZED (SELECT a, b, c FROM p$r ORDER BY c DESC, a, b LIMIT 1),
         |d$r AS MATERIALIZED (SELECT replace(d.s, ' '||b.a||' '||b.b||' ', ' '||b.a||b.b||' ') AS s, d.f
         |       FROM $prev d CROSS JOIN b$r b)""".stripMargin
    }.mkString(",\n")
    val union = (1 to MergeRounds)
      .map(r => s"SELECT $r AS rank, a, b, c FROM b$r").mkString(" UNION ALL ")
    s"""wf AS MATERIALIZED (
       |  SELECT word, COUNT(*) AS f
       |  FROM (SELECT unnest(string_split(text,' ')) AS word FROM $src) t
       |  GROUP BY word ORDER BY f DESC, word LIMIT $VocabCap),
       |d0 AS MATERIALIZED (SELECT ' ' || regexp_replace(word, '(.)', '\\1 ', 'g') AS s, f FROM wf),
       |$rounds,
       |m AS MATERIALIZED ($union)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q166_bpe_train" ->
      s"""WITH RECURSIVE $oracleMergeCtes
         |SELECT CAST(rank AS BIGINT) AS rank, a AS pair_left, b AS pair_right,
         |  a||b AS merged, CAST(c AS BIGINT) AS pair_count
         |FROM m ORDER BY rank""".stripMargin,
    // q167: the merge chain re-derived, then applied to every word via a
    // rank-indexed recursive CTE (step r applies merge r); per-doc sum of
    // surviving token counts; LEFT JOIN restores NULL-text docs as NULL.
    "q167_bpe_tokenize" ->
      s"""WITH RECURSIVE $oracleMergeCtes,
         |${oracleApplyCtes("documents")}
         |SELECT d.doc_id, CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_ws,
         |  CAST(p.n_bpe AS BIGINT) AS n_bpe
         |FROM documents d LEFT JOIN perdoc p USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // q178: verbatim the q167 oracle — the vocab-map strategy must be
    // semantically indistinguishable from the reference chain; only the
    // physical plan differs.
    "q178_bpe_tokenize_vocab" ->
      s"""WITH RECURSIVE $oracleMergeCtes,
         |${oracleApplyCtes("documents")}
         |SELECT d.doc_id, CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_ws,
         |  CAST(p.n_bpe AS BIGINT) AS n_bpe
         |FROM documents d LEFT JOIN perdoc p USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // q181: token frequencies from the SAME recursive apply chain's
    // final segmentations (ap at r = MergeRounds); ids = binary-ordered
    // base chars then merge-rank order; LEFT JOIN keeps never-used
    // vocab entries at freq 0.
    // q188: the oracle re-segments the FINAL corpus (old minus
    // retractions plus delta) with the SAME frozen vocab (merges and
    // alphabet both trained on the full documents table) — the road the
    // engine's signed-partial combine must agree with exactly.
    "q188_vocab_incremental" ->
      s"""WITH RECURSIVE $oracleMergeCtes,
         |fin AS (
         |  SELECT * FROM documents
         |  WHERE (substring(md5('vdump:' || CAST(doc_id AS VARCHAR)), 1, 2) < 'cd'
         |         AND substring(md5('vretract:' || CAST(doc_id AS VARCHAR)), 1, 2) >= '10')
         |     OR substring(md5('vdump:' || CAST(doc_id AS VARCHAR)), 1, 2) >= 'cd'),
         |${oracleApplyCtes("fin")},
         |$oracleVocabCtes
         |SELECT CAST(v.token_id AS BIGINT) AS token_id, v.token,
         |  CAST(COALESCE(tf.freq, 0) AS BIGINT) AS freq
         |FROM vocab v LEFT JOIN tf ON tf.tok = v.token
         |ORDER BY token_id""".stripMargin,
    "q181_vocab_export" ->
      s"""WITH RECURSIVE $oracleMergeCtes,
         |${oracleApplyCtes("documents")},
         |$oracleVocabCtes
         |SELECT CAST(v.token_id AS BIGINT) AS token_id, v.token,
         |  CAST(COALESCE(tf.freq, 0) AS BIGINT) AS freq
         |FROM vocab v LEFT JOIN tf ON tf.tok = v.token
         |ORDER BY token_id""".stripMargin,
    // q198: vocab + costs re-derived from the same recursive merge
    // chain (rank over (freq desc, token asc) — byte order ≡ code-point
    // order on the BMP-only alphabet), then the Viterbi DP itself as a
    // recursive CTE: per word, iteration i appends best[i]/ways[i] to
    // carried LIST state; candidate edges (start j, cost) per end
    // position are pre-grouped so the recursive step is pure list
    // expressions (list_min / filtered list_sum — no aggregates in the
    // recursive member). An INDEPENDENT implementation of the same DP,
    // matched hash-for-hash against the engine's codegen expression.
    "q198_unigram_viterbi" ->
      s"""WITH RECURSIVE $oracleMergeCtes,
         |${oracleApplyCtes("documents")},
         |$oracleVocabCtes,
         |$oracleUnigramEmCtes,
         |costs AS (SELECT token, cost FROM c$UnigramEmRounds),
         |edges AS (
         |  SELECT p.word, p.e, CAST(j.j AS INT) AS j, c.cost
         |  FROM pos p,
         |       UNNEST(generate_series(GREATEST(0, p.e - (SELECT mx FROM mt)), p.e - 1)) AS j(j),
         |       costs c
         |  WHERE c.token = substring(p.word, CAST(j.j AS INT) + 1, p.e - CAST(j.j AS INT))),
         |el AS (SELECT word, e, list(struct_pack(j := j, cost := cost)) AS lst
         |       FROM edges GROUP BY word, e),
         |dp AS (
         |  SELECT word, 0 AS i, [CAST(0 AS BIGINT)] AS bests, [CAST(1 AS BIGINT)] AS ways
         |  FROM wordsq
         |  UNION ALL
         |  SELECT d.word, d.i + 1,
         |    list_append(d.bests, list_min([d.bests[s.j+1] + s.cost FOR s IN e.lst])),
         |    list_append(d.ways, CAST(list_sum(
         |      [d.ways[s.j+1] FOR s IN e.lst
         |       IF d.bests[s.j+1] + s.cost = list_min([d.bests[x.j+1] + x.cost FOR x IN e.lst])]) AS BIGINT))
         |  FROM dp d JOIN el e ON e.word = d.word AND e.e = d.i + 1),
         |wres AS (SELECT word, bests[length(word)+1] AS best, ways[length(word)+1] AS ways
         |         FROM dp WHERE i = length(word)),
         |occ AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
         |        FROM documents WHERE text IS NOT NULL) t WHERE w <> ''),
         |pd AS (SELECT o.doc_id, SUM(r.best) AS vc, SUM(r.ways) AS vw
         |       FROM occ o JOIN wres r ON r.word = o.w GROUP BY o.doc_id)
         |SELECT d.doc_id, CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_ws,
         |  CAST(pd.vc AS BIGINT) AS vit_cost, CAST(pd.vw AS BIGINT) AS vit_ways
         |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id""".stripMargin,
    // q237: the WHOLE training chain re-derived — vocab, seed costs,
    // two rounds of (forward DP + suffix DP + on-optimal-edge counts +
    // re-rank) as chained recursive CTEs — then the trained table
    // itself is the output.
    "q237_unigram_em_train" ->
      s"""WITH RECURSIVE $oracleMergeCtes,
         |${oracleApplyCtes("documents")},
         |$oracleVocabCtes,
         |$oracleUnigramEmCtes
         |SELECT cf.token, cf.cost, CAST(COALESCE(n.cnt, 0) AS BIGINT) AS em_count
         |FROM c$UnigramEmRounds cf
         |LEFT JOIN cnt$UnigramEmRounds n ON n.token = cf.token
         |ORDER BY cf.token""".stripMargin,
    // q215: the same greedy walk, independently — vocab inventory from
    // the recursive merge chain (both WordPiece sides carry the same
    // inventory here, so the longest-match table `lm` is
    // cursor-position-independent), then the deterministic
    // longest-match-first walk as a recursive CTE stepping one emitted
    // piece per iteration; an unmatched cursor (lm LEFT JOIN miss) or a
    // >200-char word collapses the word to [UNK] exactly like the
    // engine's all-or-nothing rule.
    "q215_wordpiece" ->
      s"""WITH RECURSIVE $oracleMergeCtes,
         |$oracleVocabOnlyCtes,
         |wtok AS (SELECT DISTINCT w AS word
         |  FROM (SELECT unnest(string_split(text,' ')) AS w
         |        FROM documents WHERE text IS NOT NULL) t WHERE w <> ''),
         |pos0 AS (SELECT word, CAST(j AS INT) AS j
         |  FROM wtok, UNNEST(generate_series(0, length(word)-1)) AS t(j)),
         |lm AS (SELECT p.word, p.j, MAX(length(v.token)) AS l
         |       FROM pos0 p JOIN vocab v
         |         ON substring(p.word, p.j + 1, length(v.token)) = v.token
         |       GROUP BY p.word, p.j),
         |walk AS (
         |  SELECT word, 0 AS pos, CAST(0 AS BIGINT) AS n_p, FALSE AS unk
         |  FROM wtok WHERE length(word) <= 200
         |  UNION ALL
         |  SELECT w.word,
         |    CASE WHEN l.l IS NULL THEN length(w.word)
         |         ELSE w.pos + CAST(l.l AS INT) END,
         |    CASE WHEN l.l IS NULL THEN CAST(1 AS BIGINT) ELSE w.n_p + 1 END,
         |    l.l IS NULL
         |  FROM walk w LEFT JOIN lm l ON l.word = w.word AND l.j = w.pos
         |  WHERE w.pos < length(w.word) AND NOT w.unk),
         |wres AS (SELECT word, n_p, unk FROM walk WHERE pos = length(word)
         |         UNION ALL
         |         SELECT word, CAST(1 AS BIGINT) AS n_p, TRUE AS unk
         |         FROM wtok WHERE length(word) > 200),
         |occ AS (SELECT doc_id, w FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
         |        FROM documents WHERE text IS NOT NULL) t WHERE w <> ''),
         |pd AS (SELECT o.doc_id, SUM(r.n_p) AS wp,
         |         SUM(CASE WHEN r.unk THEN 1 ELSE 0 END) AS uk
         |       FROM occ o JOIN wres r ON r.word = o.w GROUP BY o.doc_id)
         |SELECT d.doc_id, CAST(len(string_split(d.text,' ')) AS BIGINT) AS n_ws,
         |  CAST(pd.wp AS BIGINT) AS n_wp, CAST(pd.uk AS BIGINT) AS n_unk
         |FROM documents d LEFT JOIN pd USING (doc_id) ORDER BY d.doc_id""".stripMargin)

  /** The vocab-artifact CTE block shared by the q181/q188/q198 oracles:
    * `tf` (token frequencies from `ap`'s final segmentations) and
    * `vocab` (token→id — binary-ordered base chars, then merge-rank
    * order). Assumes `m` (the merge chain) and `ap` (the recursive
    * apply) are already in scope; the alphabet is always derived from
    * the full `documents` table (the FROZEN vocab a point fix must not
    * retrain — q188 pairs it with an `ap` over the post-fix corpus).
    */
  private[graft] def oracleVocabCtes: String =
    s"""tf AS (SELECT tok, COUNT(*) AS freq FROM (
       |         SELECT unnest(list_filter(string_split(trim(s),' '), x -> x <> '')) AS tok
       |         FROM ap WHERE r = $MergeRounds) t GROUP BY tok),
       |$oracleVocabOnlyCtes""".stripMargin

  /** The vocab INVENTORY alone (`alpha` → `vocab`), without `tf` — for
    * oracles that need the token set but not corpus frequencies (q215's
    * WordPiece walk); needs only `m` in scope, not `ap`.
    */
  private[graft] def oracleVocabOnlyCtes: String =
    s"""alpha AS (SELECT DISTINCT unnest(list_filter(
       |            string_split(regexp_replace(w,'(.)','\\1 ','g'),' '),
       |            x -> x <> '')) AS ch
       |          FROM (SELECT unnest(string_split(text,' ')) AS w
       |                FROM documents WHERE text IS NOT NULL) ww),
       |base AS (SELECT ch AS token,
       |           row_number() OVER (ORDER BY ch) - 1 AS token_id FROM alpha),
       |nb AS (SELECT COUNT(*) AS n FROM base),
       |vocab AS (SELECT token, token_id FROM base
       |          UNION ALL
       |          SELECT a||b AS token, (SELECT n FROM nb) + rank - 1 FROM m)""".stripMargin

  /** The q237 EM-training chain as DuckDB CTEs (assumes `vocab` + `tf`
    * in scope): seed costs `c0` (the q181 frequency rank), shared
    * `mt`/`wordsq`/`wfq`/`pos`, then per round r: token edges under
    * c{r-1}, a FORWARD best/ways DP and a SUFFIX best/ways DP (both
    * recursive CTEs carrying list state — the suffix lists are indexed
    * from the word's END, entry m holding sb[len-m+1]), the
    * on-optimal-edge condition fb[j] + cost + sb[e] = fb[len],
    * frequency-weighted tie-complete counts `cnt{r}`, and the re-ranked
    * `c{r}`. MATERIALIZED everywhere a CTE is read twice (the
    * oracleMergeCtes lesson).
    */
  private[graft] def oracleUnigramEmCtes: String = {
    def round(r: Int, prev: String): String =
      s"""edges$r AS MATERIALIZED (
         |  SELECT p.word, p.e, CAST(j.j AS INT) AS j, c.token, c.cost
         |  FROM pos p,
         |       UNNEST(generate_series(GREATEST(0, p.e - (SELECT mx FROM mt)), p.e - 1)) AS j(j),
         |       $prev c
         |  WHERE c.token = substring(p.word, CAST(j.j AS INT) + 1, p.e - CAST(j.j AS INT))),
         |elf$r AS MATERIALIZED (SELECT word, e, list(struct_pack(j := j, cost := cost)) AS lst
         |       FROM edges$r GROUP BY word, e),
         |els$r AS MATERIALIZED (SELECT word, j, list(struct_pack(e := e, cost := cost)) AS lst
         |       FROM edges$r GROUP BY word, j),
         |dpf$r AS (
         |  SELECT word, 0 AS i, [CAST(0 AS BIGINT)] AS bests, [CAST(1 AS BIGINT)] AS ways
         |  FROM wordsq
         |  UNION ALL
         |  SELECT d.word, d.i + 1,
         |    list_append(d.bests, list_min([d.bests[s.j+1] + s.cost FOR s IN e.lst])),
         |    list_append(d.ways, CAST(list_sum(
         |      [d.ways[s.j+1] FOR s IN e.lst
         |       IF d.bests[s.j+1] + s.cost = list_min([d.bests[x.j+1] + x.cost FOR x IN e.lst])]) AS BIGINT))
         |  FROM dpf$r d JOIN elf$r e ON e.word = d.word AND e.e = d.i + 1),
         |dps$r AS (
         |  SELECT word, 0 AS i, [CAST(0 AS BIGINT)] AS bests, [CAST(1 AS BIGINT)] AS ways
         |  FROM wordsq
         |  UNION ALL
         |  SELECT d.word, d.i + 1,
         |    list_append(d.bests,
         |      list_min([d.bests[length(d.word) - s.e + 1] + s.cost FOR s IN e.lst])),
         |    list_append(d.ways, CAST(list_sum(
         |      [d.ways[length(d.word) - s.e + 1] FOR s IN e.lst
         |       IF d.bests[length(d.word) - s.e + 1] + s.cost =
         |          list_min([d.bests[length(d.word) - x.e + 1] + x.cost FOR x IN e.lst])]) AS BIGINT))
         |  FROM dps$r d JOIN els$r e ON e.word = d.word AND e.j = length(d.word) - d.i - 1),
         |fin$r AS MATERIALIZED (SELECT word, bests, ways FROM dpf$r WHERE i = length(word)),
         |sfin$r AS MATERIALIZED (SELECT word, bests AS sbests, ways AS sways
         |        FROM dps$r WHERE i = length(word)),
         |cnt$r AS MATERIALIZED (
         |  SELECT e.token,
         |    SUM(q.f * f.ways[e.j + 1] * s.sways[length(e.word) - e.e + 1]) AS cnt
         |  FROM edges$r e
         |  JOIN fin$r f ON f.word = e.word
         |  JOIN sfin$r s ON s.word = e.word
         |  JOIN wfq q ON q.word = e.word
         |  WHERE f.bests[e.j + 1] + e.cost + s.sbests[length(e.word) - e.e + 1]
         |        = f.bests[length(e.word) + 1]
         |  GROUP BY e.token),
         |c$r AS MATERIALIZED (SELECT v.token,
         |    CAST(row_number() OVER (ORDER BY COALESCE(n.cnt, 0) DESC, v.token) AS BIGINT) AS cost
         |  FROM vocab v LEFT JOIN cnt$r n ON n.token = v.token)""".stripMargin
    s"""c0 AS MATERIALIZED (SELECT v.token,
       |    CAST(row_number() OVER (ORDER BY COALESCE(tf.freq, 0) DESC, v.token) AS BIGINT) AS cost
       |  FROM vocab v LEFT JOIN tf ON tf.tok = v.token),
       |mt AS (SELECT MAX(length(token)) AS mx FROM vocab),
       |wordsq AS MATERIALIZED (SELECT DISTINCT w AS word
       |  FROM (SELECT unnest(string_split(text,' ')) AS w
       |        FROM documents WHERE text IS NOT NULL) t WHERE w <> ''),
       |wfq AS MATERIALIZED (SELECT w AS word, COUNT(*) AS f
       |  FROM (SELECT unnest(string_split(text,' ')) AS w
       |        FROM documents WHERE text IS NOT NULL) t WHERE w <> '' GROUP BY w),
       |pos AS MATERIALIZED (SELECT word, CAST(i AS INT) AS e
       |  FROM wordsq, UNNEST(generate_series(1, length(word))) AS t(i)),
       |${(1 to UnigramEmRounds).map(r => round(r, s"c${r - 1}")).mkString(",\n")}""".stripMargin
  }

  /** The tokenize-application CTEs (`dw` → recursive `ap` → `perdoc`)
    * over an arbitrary source, ending in perdoc(doc_id, n_bpe). Assumes
    * the merge CTE chain (`m`) is already in scope.
    */
  private[graft] def oracleApplyCtes(src: String): String =
    s"""dw AS (
       |  SELECT doc_id, ' ' || regexp_replace(w, '(.)', '\\1 ', 'g') AS s
       |  FROM (SELECT doc_id, unnest(string_split(text,' ')) AS w
       |        FROM $src WHERE text IS NOT NULL) t),
       |ap AS (
       |  SELECT doc_id, s, 0 AS r FROM dw
       |  UNION ALL
       |  SELECT a.doc_id, replace(a.s, ' '||m.a||' '||m.b||' ', ' '||m.a||m.b||' ') AS s, a.r + 1
       |  FROM ap a JOIN m ON m.rank = a.r + 1),
       |perdoc AS (
       |  SELECT doc_id, SUM(len(list_filter(string_split(trim(s),' '), x -> x <> ''))) AS n_bpe
       |  FROM ap WHERE r = $MergeRounds GROUP BY doc_id)""".stripMargin
}
