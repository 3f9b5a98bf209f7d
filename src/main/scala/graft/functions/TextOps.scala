package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis primitives for the LLM-pipeline operators (SURVEY.md §2.10).
  *
  * Everything here is Catalyst expressions (higher-order functions over
  * arrays), so it stays inside whole-stage codegen and scales linearly with
  * data — no UDF boundary, no shuffle.
  */
object TextOps {

  /** Whitespace tokenization (documents.text is space-separated words). */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count with explicit NULL propagation: NULL text →
    * NULL count, matching DuckDB's `len(string_split(NULL, ' '))`. Without
    * the guard, legacy `size(NULL) = -1` (the ANSI-off behavior this engine
    * runs under for hash-wraparound arithmetic) would inject −1 into
    * cumulative sums exactly where the oracle yields NULL — a latent
    * cross-engine divergence on NULL-text corpora.
    */
  def wsTokenCount(text: Column): Column =
    when(text.isNull, lit(null).cast("long"))
      .otherwise(size(split(text, " ")).cast("long"))

  /** Exact Jaccard similarity of two `array<long>` shingle-hash sets in
    * one native pass — see [[graft.expressions.JaccardSim]] for why the
    * `array_intersect`-twice formulation was replaced (no codegen CSE in
    * join conditions). Integer intersection/union counts divided once —
    * deterministic, bit-identical to the old formula.
    */
  def jaccard(a: Column, b: Column): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.JaccardSim(toExpression(a), toExpression(b)))
  }

  /** Unicode NFC normalization in one codegen'd native pass — see
    * [[graft.expressions.NfcNormalize]] for why this must run before
    * any hash-keyed stage on multilingual corpora.
    */
  def nfc(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.NfcNormalize(toExpression(text)))
  }

  /** English stopwords used by the language-ID heuristic. */
  val EnStopwords: Seq[String] =
    Seq("the", "a", "of", "and", "to", "in", "is")

  /** Count of tokens that are stopwords (with multiplicity). */
  def stopwordCount(ws: Column): Column =
    size(filter(ws, t => t.isin(EnStopwords.map(x => x: Any): _*)))

  /** Distinct n-gram shingle HASHES (not strings) in one native pass —
    * see [[graft.expressions.ShingleHashes]]. Downstream MinHash and
    * Jaccard verification only need shingle identity.
    */
  def shingleHashes(ws: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.ShingleHashes(toExpression(ws), n))
  }

  /** Positional (non-deduplicated) n-gram shingle hashes — element i is
    * the hash of the shingle starting at token i. The span-level shape:
    * multiplicity is the signal (q90 duplicated-span fraction).
    */
  def shingleHashesAll(ws: Column, n: Int): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.ShingleHashes(toExpression(ws), n,
      distinct = false))
  }

  /** Document-level Bloom candidate gate: true iff ANY element of the
    * `array<bigint>` shingle-hash column might be in the broadcast
    * filter — see [[graft.expressions.BloomAnyProbe]]. No false
    * negatives, so `filter(bloomAnyContain(...))` keeps a SUPERSET of
    * the docs an exact set-membership join would flag.
    */
  def bloomAnyContain(keys: Column,
      bits: org.apache.spark.broadcast.Broadcast[Array[Byte]]): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.BloomAnyProbe(toExpression(keys), bits))
  }

  /** THE build side of every Bloom gate in the engine (q155 erasure,
    * q158 decontamination, q144 cross-dump near-dup): tree-aggregate
    * `keys.(column)` into a `spark.util.sketch.BloomFilter` sized
    * m ≈ 10 bits/key (fpp = 1%) and ship its serialized form as ONE
    * broadcast — the probe side rides [[bloomAnyContain]]. Callers pass
    * an already-distinct key frame (every deny/holdout builder is), so
    * no extra dedup shuffle is paid here; duplicate keys would only
    * oversize the filter, never break the no-false-negative contract.
    */
  def bloomBits(keys: org.apache.spark.sql.DataFrame, column: String,
      fpp: Double = 0.01)
      : org.apache.spark.broadcast.Broadcast[Array[Byte]] = {
    val n = keys.count()
    // zero keys: stat.bloomFilter's tree aggregate yields a null buffer
    // (NPE); an empty filter — all probes false — is the correct gate
    // for an empty reference set (everything prunes, nothing verifies)
    val bf =
      if (n == 0L) org.apache.spark.util.sketch.BloomFilter.create(1L, fpp)
      else keys.stat.bloomFilter(column, n, fpp)
    val bos = new java.io.ByteArrayOutputStream()
    bf.writeTo(bos)
    keys.sparkSession.sparkContext.broadcast(bos.toByteArray)
  }

  /** MinHash signature over pre-hashed shingles: all permutations `a*h+b`
    * (wraparound) min-reduced in one codegen'd pass — see
    * [[graft.expressions.MinHashSig]] for the scale rationale.
    */
  def minhashSignature(shingleHashes: Column, perms: Seq[(Long, Long)]): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.MinHashSig(toExpression(shingleHashes), perms))
  }

  /** 64-bit SimHash of a token array — one xxhash64 per token, 64 bit
    * votes in one native pass; see [[graft.expressions.SimHash64]].
    */
  def simhash(ws: Column): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.SimHash64(toExpression(ws)))
  }

  /** Cross-engine-mirrorable SimHash: per-token hash = the first 15 md5
    * hex chars parsed as BIGINT (a 60-bit hash both Spark's
    * `conv(substring(md5(w),1,15),16,10)` and DuckDB's
    * `CAST('0x'||substring(md5(w),1,15) AS BIGINT)` compute
    * bit-identically), votes in the same native SimHash64 pass
    * (pre-hashed mode). The hashing is codegen'd column work; only the
    * 64-bit vote loop is the fallback expression — same cost shape as
    * [[simhash]], plus one md5 per token instead of one xxhash64.
    */
  def simhashMd5(ws: Column): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    val hashes = transform(ws, w =>
      conv(substring(md5(w), 1, 15), 16, 10).cast("long"))
    toColumn(graft.expressions.SimHash64(toExpression(hashes)))
  }

  /** Rolling polynomial fingerprint over the characters of `text`:
    * h = fold(h * 31 + codepoint) mod 1e9+7, one native pass — see
    * [[graft.expressions.FingerprintHash]]. Stays in BIGINT range at
    * every step so it is portable to engines with overflow-checked
    * arithmetic.
    */
  def fingerprint(text: Column): Column = {
    import org.apache.spark.sql.graftbridge.{toColumn, toExpression}
    toColumn(graft.expressions.FingerprintHash(toExpression(text)))
  }
}
