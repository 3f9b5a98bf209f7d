package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.functions._

import graft.Tables

/** Distinct-count sketches with SET OPERATIONS — the KMV/theta tier of
  * the sketch family (SURVEY.md §2 north star). Membership has Bloom
  * (q143/q158), point frequency has count-min (q199), cardinality has
  * HLL (q19) — but none of those COMPOSE: release engineering asks
  * "how many distinct tokens does dump A share with dump B?" and the
  * only sketch that answers set algebra is the k-minimum-values /
  * theta sketch (Bar-Yossef et al. RANDOM'02; Dasgupta et al., the
  * DataSketches theta paper).
  *
  * Synopsis = the k smallest distinct 60-bit token hashes (md5-derived,
  * the q111/q199 integer trick). Estimator: n̂ = (k−1)·H/θ with θ = the
  * k-th smallest hash, H = 2^60. Union: θ_U = min(θ_A, θ_B), sample =
  * distinct synopsis values < θ_U. Intersection: sample = synopsis
  * values in BOTH < θ_U — for h < θ_U every set hash is present in its
  * side's sample, which is what makes the set algebra sound. The whole
  * estimator is deterministic given the hash, so the DuckDB oracle
  * re-derives it value-for-value — the estimate itself hashes, not
  * just a bound verdict.
  *
  * Exactness stance: θ and sample sizes are exact BIGINTs; the only
  * doubles are the final (m·H)/θ — the same three IEEE ops in the same
  * order on both engines (the bm25 discipline). The output carries the
  * EXACT distinct counts beside each estimate (the q199 stance:
  * production reads the sketch alone — the exact legs exist to state
  * the verdict in the verified artifact).
  *
  * Scale shape (100 TB): min-k over a multiset is idempotent (dedup
  * lives inside [[graft.functions.MinKAgg]]), so the sketch consumes
  * the RAW token stream — no distinct shuffle, map-side partials carry
  * ≤ k longs, the global agg reduces ≤ k per partition. The exact legs
  * are the one linear token-keyed rollup the VERIFIED artifact pays;
  * the set algebra itself runs on two ≤k-element arrays in one row.
  */
object Sketches extends QueryGroup {

  /** Synopsis size (error ≈ 1/√k ≈ 9%) and the hash domain 2^60. */
  private[graft] val KmvK = 128
  private[graft] val HashDomain = 1L << 60

  private[graft] def h60(c: Column): Column = salted60("kmv:", c)

  private[graft] def salted60(salt: String, c: Column): Column =
    graft.functions.Hashing.md5Long60(concat(lit(salt), c))

  /** The dump gate: first md5 hex of the doc id splits the corpus into
    * the two "dumps" whose token overlap the sketch measures.
    */
  private def inA: Column =
    substring(md5(concat(lit("kmvdump:"), col("doc_id").cast("string"))),
      1, 1) < "8"

  /** Raw (in_a, shingle) stream — word 3-grams, the cross-dump overlap
    * unit (the q46/q101 shingle universe; the corpus's ~31-word token
    * vocabulary is far below k, but its shingle space is ~16k).
    * Deliberately NOT deduplicated: min-k idempotence makes the
    * distinct shuffle unnecessary for the sketch.
    */
  private[graft] def tokenStream(docs: DataFrame): DataFrame =
    docs.filter(col("text").isNotNull)
      .select(inA.as("in_a"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("in_a"), explode(transform(
        sequence(lit(1), size(col("ws")) - 2),
        i => concat_ws(" ", slice(col("ws"), i, lit(3))))).as("token"))

  /** The synopsis builder over a (h: bigint) frame. */
  private[graft] def kmvSynopsis(hashes: DataFrame): DataFrame = {
    val mink = udaf(new graft.functions.MinKAgg(KmvK), Encoders.scalaLong)
    hashes.agg(mink(col("h")).as("synopsis"))
  }

  /** n̂ = m·H/θ — the only doubles in the operator, same op order as the
    * oracle SQL.
    */
  private def estCol(m: Column, theta: Column): Column =
    floor((m.cast("double") * lit(HashDomain.toDouble)) / theta.cast("double"))
      .cast("long")

  private[graft] def kmvOverlap(docs: DataFrame): DataFrame = {
    // the shingle explode is the operator's dominant map work and three
    // legs consume it (two synopses + the exact verdict) — persist once
    // (the annLsh CachePool shape), don't re-scan the corpus per leg
    val ts = graft.CachePool.track(tokenStream(docs))
    val synA = kmvSynopsis(ts.filter(col("in_a"))
      .select(h60(col("token")).as("h"))).select(col("synopsis").as("syn_a"))
    val synB = kmvSynopsis(ts.filter(!col("in_a"))
      .select(h60(col("token")).as("h"))).select(col("synopsis").as("syn_b"))
    val exact = ts.groupBy(col("token"))
      .agg(max(col("in_a")).as("a"), max(!col("in_a")).as("b"))
      .agg(sum(when(col("a"), 1L).otherwise(0L)).as("exact_a"),
        sum(when(col("b"), 1L).otherwise(0L)).as("exact_b"),
        count(lit(1)).as("exact_u"),
        sum(when(col("a") && col("b"), 1L).otherwise(0L)).as("exact_i"))
    val m127 = lit((KmvK - 1).toLong)
    synA.crossJoin(synB).crossJoin(exact)
      // below k distinct hashes the sketch is in EXACT mode and the
      // (k-1)·H/θ contract does not hold — refuse, never extrapolate
      .filter(when(size(col("syn_a")) < KmvK || size(col("syn_b")) < KmvK,
        raise_error(lit(s"q203: a side holds fewer than k=$KmvK distinct " +
          "hashes — exact mode; the KMV estimator contract does not apply")))
        .otherwise(lit(true)))
      .select(
        element_at(col("syn_a"), KmvK).as("theta_a"),
        slice(col("syn_a"), 1, KmvK - 1).as("samp_a"),
        element_at(col("syn_b"), KmvK).as("theta_b"),
        slice(col("syn_b"), 1, KmvK - 1).as("samp_b"),
        col("exact_a"), col("exact_b"), col("exact_u"), col("exact_i"))
      .withColumn("theta_u", least(col("theta_a"), col("theta_b")))
      .withColumn("samp_u",
        filter(array_distinct(concat(col("samp_a"), col("samp_b"))),
          x => x < col("theta_u")))
      .withColumn("samp_i",
        filter(array_intersect(col("samp_a"), col("samp_b")),
          x => x < col("theta_u")))
      .select(explode(array(
        struct(lit("a").as("measure"), col("theta_a").as("theta"),
          m127.as("sample_n"), estCol(m127, col("theta_a")).as("est"),
          col("exact_a").as("exact")),
        struct(lit("b").as("measure"), col("theta_b").as("theta"),
          m127.as("sample_n"), estCol(m127, col("theta_b")).as("est"),
          col("exact_b").as("exact")),
        struct(lit("union").as("measure"), col("theta_u").as("theta"),
          size(col("samp_u")).cast("long").as("sample_n"),
          estCol(size(col("samp_u")).cast("long"), col("theta_u")).as("est"),
          col("exact_u").as("exact")),
        struct(lit("intersect").as("measure"), col("theta_u").as("theta"),
          size(col("samp_i")).cast("long").as("sample_n"),
          estCol(size(col("samp_i")).cast("long"), col("theta_u")).as("est"),
          col("exact_i").as("exact")))).as("r"))
      .select(col("r.*"))
      .orderBy("measure")
  }

  /** HLL register count (p = 8 ⇒ m = 256; standard error 1.04/√m ≈ 6.5%)
    * and the derived constants. The 60-bit hash splits top-8 → bucket,
    * low-52 → rho material, so rho ∈ [1, 53] (w = 0 ⇒ 53).
    */
  private[graft] val HllM = 256
  private[graft] val HllWBits = 52

  /** The register build — q207's state: per bucket, max(rho). Max is
    * a commutative, associative, IDEMPOTENT monoid (the q203 stance), so
    * the build consumes the raw stream and partials carry ≤ m rows.
    */
  private[graft] def hllRegisters(hashes: DataFrame): DataFrame = {
    val w = pmod(col("h"), lit(1L << HllWBits))
    // rho = leading zeros in the 52-bit w, plus 1 = 53 − bitlength(w);
    // bitlength via the binary-string length — exact integers only
    // (log2 is a libm call, exactly what this operator exists to avoid)
    val rho = when(w === 0L, lit(HllWBits + 1))
      .otherwise(lit(HllWBits + 1) - length(conv(w, 10, 2)))
    hashes
      .select(expr(s"h div ${1L << HllWBits}").as("bucket"),
        rho.cast("long").as("rho"))
      .groupBy(col("bucket")).agg(max(col("rho")).as("m_j"))
  }

  /** q207: the full estimator over the register table. Z is the exact
    * BIGINT Σ 2^(53−M_j) (empty buckets contribute 2^53); the estimate
    * is the classic α_m·m²/Z with α_256 = 0.7213·256/257.079 kept as
    * the literal rational 1846528/2570790 and the final arithmetic a
    * FIXED double op sequence over exact integer inputs (the q203/bm25
    * discipline — both engines run the identical IEEE ops). The
    * small-range regime (V > 0 and raw ≤ 2.5m) needs linear counting's
    * ln() — not bit-portable — so the operator REFUSES it loudly rather
    * than estimating with unverifiable floats.
    */
  private[graft] def hllEstimate(docs: DataFrame): DataFrame = {
    // shared shingle explode: the register build and the exact-verdict
    // leg both consume it — persist once (the kmvOverlap stance)
    val ts = graft.CachePool.track(tokenStream(docs))
    val regs = hllRegisters(ts.select(salted60("hll:", col("token")).as("h")))
    val folded = regs.agg(
      count(lit(1)).as("used"),
      sum(expr(s"shiftleft(cast(1 as bigint), cast(${HllWBits + 1} - m_j as int))"))
        .as("z_used"))
    val exact = ts.select(col("token")).distinct()
      .agg(count(lit(1)).as("exact"))
    folded.crossJoin(exact)
      .select(col("used"),
        (col("z_used") +
          (lit(HllM.toLong) - col("used")) * lit(1L << (HllWBits + 1)))
          .as("z"),
        col("exact"))
      .select(col("used"), col("z"),
        // est = α·m²·2^53/Z with α = 1846528/2570790 and m² = 65536 —
        // the exact op sequence mirrored in the oracle SQL
        floor(((lit(1846528.0) * lit(65536.0)) / lit(2570790.0)) *
          (lit((1L << (HllWBits + 1)).toDouble) / col("z").cast("double")))
          .cast("long").as("est"),
        col("exact"))
      // the raw-estimator contract: outside its regime, refuse — never
      // fall back to linear counting's ln() behind the caller's back.
      // est isNull (zero registers — an empty shingle stream) must hit
      // the SAME refusal: when(NULL, raise) would silently fall through
      // to otherwise(true) and emit a non-verdict row
      .filter(when(col("est").isNull ||
          (col("used") < HllM && col("est") <= lit(5L * HllM / 2)),
        raise_error(lit("q207: small-range regime (empty buckets and raw " +
          "estimate <= 2.5m) — linear counting is not bit-portable; refusing")))
        .otherwise(lit(true)))
      .select(lit(HllM.toLong).as("m"), col("used"), col("z"),
        col("est"), col("exact"))
      .orderBy("m")
  }

  def queries: Map[String, Q] = Map(
    // q203 [north star, r12]: KMV/theta distinct sketch with set
    // operations — cross-dump token overlap, estimate + exact verdict.
    "q203_kmv_theta" -> ((spark, dir) =>
      kmvOverlap(Tables(spark, dir, "documents"))),

    // q207 [north star, r12]: exact-arithmetic HyperLogLog — the
    // cardinality sketch REBUILT so the estimate itself hashes
    // cross-engine (q19 could only verdict-check Spark's built-in HLL
    // against a bound; here registers, Z, and the estimate are all
    // deterministic and oracle-matched value-for-value).
    "q207_hll_exact" -> ((spark, dir) =>
      hllEstimate(Tables(spark, dir, "documents"))))

  def oracles: Map[String, String] = {
    val h = (c: String) => s"('0x'||substring(md5('kmv:'||$c),1,15))::BIGINT"
    val hd = "1152921504606846976.0" // 2^60, exact in binary
    val est = (m: String, th: String) =>
      s"CAST(floor((CAST($m AS DOUBLE) * $hd) / CAST($th AS DOUBLE)) AS BIGINT)"
    Map(
      // q207: registers, Z, and the estimate re-derived — same bucket
      // split, same binary-string rho, same BIGINT Z, same double op
      // sequence (the raw-regime guard lives engine-side; the corpus
      // is deep in the raw regime on both SFs)
      "q207_hll_exact" ->
        s"""WITH raw AS (
           |  SELECT ws[i]||' '||ws[i+1]||' '||ws[i+2] AS token
           |  FROM (SELECT string_split(text,' ') AS ws
           |        FROM documents WHERE text IS NOT NULL) d,
           |       UNNEST(generate_series(1, len(ws)-2)) AS t(i)),
           |h AS (SELECT ('0x'||substring(md5('hll:'||token),1,15))::BIGINT AS h
           |      FROM raw),
           |b AS (SELECT h // ${1L << HllWBits} AS bucket,
           |        CASE WHEN h % ${1L << HllWBits} = 0 THEN ${HllWBits + 1}
           |             ELSE ${HllWBits + 1} - length(bin(h % ${1L << HllWBits}))
           |        END AS rho
           |      FROM h),
           |regs AS (SELECT bucket, MAX(rho) AS m_j FROM b GROUP BY bucket),
           |f AS (SELECT COUNT(*) AS used,
           |        SUM((CAST(1 AS BIGINT) << CAST(${HllWBits + 1} - m_j AS INT))) AS z_used
           |      FROM regs),
           |ex AS (SELECT COUNT(DISTINCT token) AS exact FROM raw),
           |z AS (SELECT used,
           |        z_used + ($HllM - used) * (CAST(1 AS BIGINT) << ${HllWBits + 1}) AS z
           |      FROM f)
           |SELECT CAST($HllM AS BIGINT) AS m, CAST(used AS BIGINT) AS used,
           |  CAST(z AS BIGINT) AS z,
           |  CAST(floor(((1846528.0 * 65536.0) / 2570790.0)
           |             * (${(1L << (HllWBits + 1)).toDouble} / CAST(z AS DOUBLE))) AS BIGINT) AS est,
           |  CAST(exact AS BIGINT) AS exact
           |FROM z, ex ORDER BY m""".stripMargin,
      "q203_kmv_theta" ->
      s"""WITH raw AS (
         |  SELECT substring(md5('kmvdump:'||CAST(doc_id AS VARCHAR)),1,1) < '8' AS in_a,
         |         ws[i]||' '||ws[i+1]||' '||ws[i+2] AS token
         |  FROM (SELECT doc_id, string_split(text,' ') AS ws
         |        FROM documents WHERE text IS NOT NULL) d,
         |       UNNEST(generate_series(1, len(ws)-2)) AS t(i)),
         |tok AS (SELECT token, max(in_a) AS a, max(NOT in_a) AS b
         |        FROM raw GROUP BY token),
         |th AS (SELECT token, a, b, ${h("token")} AS h FROM tok),
         |ra AS (SELECT h, row_number() OVER (ORDER BY h) AS rk
         |       FROM (SELECT DISTINCT h FROM th WHERE a) x),
         |rb AS (SELECT h, row_number() OVER (ORDER BY h) AS rk
         |       FROM (SELECT DISTINCT h FROM th WHERE b) x),
         |ta AS (SELECT h AS theta_a FROM ra WHERE rk = $KmvK),
         |tb AS (SELECT h AS theta_b FROM rb WHERE rk = $KmvK),
         |tu AS (SELECT LEAST(theta_a, theta_b) AS theta_u FROM ta, tb),
         |sa AS (SELECT h FROM ra WHERE rk < $KmvK),
         |sb AS (SELECT h FROM rb WHERE rk < $KmvK),
         |mu AS (SELECT COUNT(*) AS m FROM
         |         (SELECT h FROM sa UNION SELECT h FROM sb) u, tu
         |       WHERE u.h < tu.theta_u),
         |mi AS (SELECT COUNT(*) AS m FROM
         |         (SELECT h FROM sa INTERSECT SELECT h FROM sb) i, tu
         |       WHERE i.h < tu.theta_u),
         |ex AS (SELECT SUM(CASE WHEN a THEN 1 ELSE 0 END) AS ea,
         |              SUM(CASE WHEN b THEN 1 ELSE 0 END) AS eb,
         |              COUNT(*) AS eu,
         |              SUM(CASE WHEN a AND b THEN 1 ELSE 0 END) AS ei
         |       FROM tok)
         |SELECT * FROM (
         |  SELECT 'a' AS measure, theta_a AS theta,
         |    CAST(${KmvK - 1} AS BIGINT) AS sample_n,
         |    ${est((KmvK - 1).toString, "theta_a")} AS est,
         |    CAST(ea AS BIGINT) AS exact FROM ta, ex
         |  UNION ALL
         |  SELECT 'b', theta_b, CAST(${KmvK - 1} AS BIGINT),
         |    ${est((KmvK - 1).toString, "theta_b")}, CAST(eb AS BIGINT)
         |  FROM tb, ex
         |  UNION ALL
         |  SELECT 'union', theta_u, CAST(m AS BIGINT),
         |    ${est("m", "theta_u")}, CAST(eu AS BIGINT) FROM tu, mu, ex
         |  UNION ALL
         |  SELECT 'intersect', theta_u, CAST(m AS BIGINT),
         |    ${est("m", "theta_u")}, CAST(ei AS BIGINT) FROM tu, mi, ex
         |) z ORDER BY measure""".stripMargin)
  }
}
