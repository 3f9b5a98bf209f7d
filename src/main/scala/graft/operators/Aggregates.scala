package graft.operators

import org.apache.spark.sql.functions._

import graft.Tables

/** Aggregation closure — SURVEY.md §2.4 (q17–q22).
  *
  * All stock `groupBy().agg()`: Catalyst plans partial (map-side) +
  * final HashAggregate automatically, so at 100 TB each group-by is one
  * shuffle of pre-combined partials, spilling to sort-based aggregation
  * under memory pressure. Determinism vs the oracle: double sums rounded
  * to 2dp, averages to 4dp (summation-order noise ≪ rounding step);
  * counts cast to BIGINT; collect_set sorted in-query.
  */
object Aggregates extends QueryGroup {

  def queries: Map[String, Q] = Map(
    // q17 [CLOSURE]: TPC-H Q1 shape — hash group-by with multiple aggs.
    "q17_agg_tpch_q1" -> ((spark, dir) =>
      Tables(spark, dir, "lineitem")
        .filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
            .as("sum_disc"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
            (lit(1) + col("l_tax"))), 2).as("sum_charge"),
          round(avg(col("l_quantity")), 4).as("avg_qty"),
          round(avg(col("l_extendedprice")), 4).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy("l_returnflag", "l_linestatus")),

    // q18 [CLOSURE]: exact distinct count per group.
    "q18_distinct_count" -> ((spark, dir) =>
      Tables(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          countDistinct(col("l_partkey")).as("nd_parts"),
          countDistinct(col("l_suppkey")).as("nd_supp"))
        .orderBy("l_returnflag")),

    // q19 [CLOSURE]: approx distinct (HLL). DuckDB's HLL parameters
    // differ, so the raw estimate can never hash-match — instead the
    // output is SELF-VALIDATING (r9 verdict item 9): each group carries
    // the exact distinct count plus `within_bound` = |apx − exact| ≤
    // 3·rsd·exact, computed from Spark's own HLL estimate in-plan. Both
    // output columns are engine-independent (the oracle emits literal
    // TRUE), so the row hash-matches exactly when the approx machinery
    // honors its error contract and goes red the day it doesn't —
    // machine-checkable evidence in the driver record, not just a
    // scalatest assertion.
    "q19_approx_distinct" -> ((spark, dir) =>
      Tables(spark, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("apx"),
          countDistinct(col("l_partkey")).as("nd_exact"))
        .select(col("l_returnflag"), col("nd_exact"),
          (abs(col("apx") - col("nd_exact")).cast("double") <=
            lit(3 * 0.02) * col("nd_exact").cast("double")).as("within_bound"))
        .orderBy("l_returnflag")),

    // q20 [CLOSURE]: global aggregate, no grouping.
    "q20_global_agg" -> ((spark, dir) =>
      Tables(spark, dir, "orders")
        .agg(
          count(lit(1)).as("n"),
          round(sum(col("o_totalprice")), 2).as("total_price"),
          round(avg(col("o_totalprice")), 4).as("avg_price"),
          min(col("o_totalprice")).as("min_price"),
          max(col("o_totalprice")).as("max_price"))),

    // q21 [CLOSURE]: rollup (grouping sets family).
    "q21_rollup" -> ((spark, dir) =>
      Tables(spark, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // q73 [CLOSURE]: cube — all four grouping-set combinations of the
    // q21 pair in one pass (Catalyst expands the cube into an Expand node
    // feeding a single partial+final hash aggregate, so at 100 TB this is
    // still one shuffle, of 4x-expanded pre-combined partials).
    // grouping_id disambiguates aggregated-away NULLs from data NULLs and
    // gives both engines a stable sort key; Spark's grouping_id() and
    // DuckDB's GROUPING(a, b) use the same bit order (first column =
    // most significant bit).
    "q73_cube" -> ((spark, dir) =>
      Tables(spark, dir, "lineitem")
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("long").as("gid"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // q74 [CLOSURE]: explicit GROUPING SETS — per-dimension marginals
    // ((l_returnflag), (l_linestatus)) in one aggregation, a shape
    // neither rollup nor cube expresses (no grand total, no pair cell).
    // Same Expand-then-aggregate plan as q73, 2x expansion.
    "q74_grouping_sets" -> ((spark, dir) =>
      Tables(spark, dir, "lineitem")
        .groupingSets(
          Seq(Seq(col("l_returnflag")), Seq(col("l_linestatus"))),
          col("l_returnflag"), col("l_linestatus"))
        .agg(
          grouping_id().cast("long").as("gid"),
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n"))
        .orderBy(col("gid"), col("l_returnflag").asc_nulls_first,
          col("l_linestatus").asc_nulls_first)),

    // q22 [REF tag.py:37-44 rebuilt as aggregation]: set accumulation —
    // sorted in-query because collect_set order is nondeterministic, and
    // comma-joined because the driver compare cannot hash raw array cells.
    "q22_collect_set" -> ((spark, dir) =>
      Tables(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(array_join(array_sort(collect_set(col("o_orderpriority"))), ",")
          .as("prios"))
        .orderBy("o_orderstatus")),

    // q60 [CLOSURE]: discrete percentiles per group via the quantile
    // sketch (KLL/GK-style). accuracy=1e6 makes the sketch EXACT below a
    // million rows per group (the oracle domain: quantile_disc picks the
    // same actual element); at 100 TB you lower accuracy and trade exact
    // ranks for O(accuracy) memory — the operator and plan are unchanged.
    "q60_percentile" -> ((spark, dir) =>
      Tables(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          expr("percentile_approx(o_totalprice, 0.5, 1000000)").as("p50"),
          expr("percentile_approx(o_totalprice, 0.95, 1000000)").as("p95"))
        .orderBy("o_orderstatus")),

    // q57 [REF tag.py:37-44 as a custom typed Aggregator, SURVEY §2.11]:
    // tag-set accumulation as a distributive UDAF — partial-aggregates
    // map-side, merges in any order (set union), idempotent under
    // redelivery by construction. Invoked through the UNTYPED udaf()
    // wrapper (two plain columns in, Tungsten rows throughout) rather
    // than groupByKey on a typed Dataset — same Aggregator, same result,
    // minus the tuple-encoder exchange of the typed path.
    "q57_tag_udaf" -> ((spark, dir) => {
      import graft.streaming.AnsModel.Tag
      val tagAgg = udaf(graft.functions.TagSetAgg,
        org.apache.spark.sql.Encoders.product[Tag])
      Tables(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(tagAgg(
          graft.functions.TagOps.slugify(col("o_orderpriority")),
          col("o_orderpriority")).as("tags"))
        .orderBy("o_orderstatus")
    }),

    // q121 [CLOSURE]: EXACT percentiles per group — the other tier next
    // to q60's sketch: `percentile` sorts each group's values and
    // interpolates the true (n-1)·p rank (DuckDB's quantile_cont — the
    // same R-7 convention), where percentile_approx reads a bounded
    // sketch. Exact is the small-group/audit tier: per-group memory is
    // O(group); at 100 TB you keep the sketch for corpus-wide quantiles
    // and reserve exact for bounded groups (here: 3 order statuses).
    // The interpolation arithmetic may associate differently across
    // engines, so outputs follow the rounded-aggregate rule (4dp).
    "q121_exact_percentile" -> ((spark, dir) =>
      Tables(spark, dir, "orders")
        .groupBy(col("o_orderstatus"))
        .agg(
          round(expr("percentile(o_totalprice, 0.25)"), 4).as("p25"),
          round(expr("percentile(o_totalprice, 0.5)"), 4).as("p50"),
          round(expr("percentile(o_totalprice, 0.75)"), 4).as("p75"),
          round(expr("percentile(o_totalprice, 0.9)"), 4).as("p90"))
        .orderBy("o_orderstatus")),

    // q172 [r10]: QUANTILE SKETCH, self-validating (the q19 discipline,
    // completing the sketch family: HLL q19, Bloom q155/q158, quantiles
    // here). Spark's percentile_approx is a KLL-style mergeable sketch
    // whose contract is a RANK guarantee: with accuracy a, the returned
    // element's exact rank is within n/a of the target rank. The raw
    // estimate is engine-specific and can never hash-match, so what
    // hashes is the contract itself: the estimate's exact rank interval
    // [count(<apx)+1, count(<=apx)], recomputed against the true data
    // in-plan, must intersect target ± n/a (+1 slack for the discrete
    // boundary). Oracle emits literal TRUE; the row goes red the day the
    // sketch breaks its published bound. One pass builds the sketches
    // (map-side partial merge — the mergeability IS the 100 TB story,
    // same as every production quantile monitor), one broadcast-join
    // pass ranks the estimates.
    "q172_quantile_sketch" -> ((spark, dir) => {
      val ev = Tables(spark, dir, "events")
        .select(col("event_type"), col("value"))
        .filter(col("value").isNotNull)
      val apx = ev.groupBy(col("event_type"))
        .agg(percentile_approx(col("value"),
          array(lit(0.5), lit(0.9)), lit(1000)).as("apx"),
          count(lit(1)).as("n"))
      val eps = 1.0 / 1000
      def ok(p: Double, idx: Int): org.apache.spark.sql.Column = {
        val target = lit(p) * col("n").cast("double")
        val slack = lit(eps) * col("n").cast("double") + lit(1.0)
        val lo = col(s"r_lt$idx").cast("double") + lit(1.0) // rank interval lower
        val hi = col(s"r_le$idx").cast("double")            // rank interval upper
        lo <= target + slack && hi >= target - slack
      }
      ev.join(broadcast(apx), "event_type")
        .groupBy(col("event_type"))
        .agg(
          first(col("n")).as("n"),
          sum(when(col("value") < element_at(col("apx"), 1), 1L)
            .otherwise(0L)).as("r_lt0"),
          sum(when(col("value") <= element_at(col("apx"), 1), 1L)
            .otherwise(0L)).as("r_le0"),
          sum(when(col("value") < element_at(col("apx"), 2), 1L)
            .otherwise(0L)).as("r_lt1"),
          sum(when(col("value") <= element_at(col("apx"), 2), 1L)
            .otherwise(0L)).as("r_le1"))
        .select(col("event_type"), col("n"),
          ok(0.5, 0).as("p50_within_bound"), ok(0.9, 1).as("p90_within_bound"))
        .orderBy("event_type")
    }),

    // q126 [CLOSURE]: statistical CO-MOMENTS per group — Pearson
    // correlation and sample covariance between the event value and its
    // JSON payload's k field (the "are these two metrics related"
    // audit). Both engines accumulate co-moments in merge-safe
    // single-pass form whose low bits differ by association order, so
    // outputs follow the rounded-aggregate rule (4dp) — same stance as
    // avg. Partial-aggregating by construction (corr/covar merge like
    // sum); one (event_type)-keyed shuffle.
    "q126_correlation" -> ((spark, dir) =>
      comoments(Tables(spark, dir, "events")
        .select(col("event_type"), col("value"),
          get_json_object(col("props"), "$.k").cast("double").as("k")))),

    // q128 [CLOSURE]: grouped LINEAR REGRESSION — the SQL:2003 regr_*
    // family (slope/intercept/r²) per brand over the part catalog
    // ("does price scale with size, per brand"), completing the
    // statistical aggregates next to q126's co-moments. Same single-pass
    // merge-safe co-moment machinery, same rounded-aggregate rule; one
    // (brand)-keyed partial agg. Exercises the otherwise-unused
    // p_brand/p_size/p_retailprice columns.
    "q128_regression" -> ((spark, dir) =>
      Tables(spark, dir, "part")
        .groupBy(col("p_brand"))
        .agg(
          round(expr("regr_slope(p_retailprice, p_size)"), 4).as("slope"),
          round(expr("regr_intercept(p_retailprice, p_size)"), 4).as("intercept"),
          round(expr("regr_r2(p_retailprice, p_size)"), 4).as("r2"),
          count(lit(1)).as("n_parts"))
        .orderBy("p_brand")),

    // q114 [CLOSURE]: column PROFILING — the ANALYZE/df.summary() shape:
    // one pass computes per-column row count, null count, exact distinct
    // count, and lexicographic min/max, then the wide aggregate row is
    // reshaped to one row per column (inline explode of literal structs —
    // no second scan, no shuffle beyond the global agg's partials).
    // Profiled columns are pre-cast to string so min/max compare the same
    // way on both engines (doubles are excluded: their string rendering
    // is engine-specific; profile them with q20/q60's typed aggregates
    // instead). The `ref` column is a json-extract of an absent key —
    // the all-null edge every profiler must survive (distinct = 0,
    // min/max coalesced to '').
    "q114_profile" -> ((spark, dir) => {
      val src = Tables(spark, dir, "events")
        .select(col("event_type"),
          col("user_id").cast("string").as("user_id"),
          col("props"),
          get_json_object(col("props"), "$.ref").as("ref"))
      val cols = Seq("event_type", "user_id", "props", "ref")
      val aggs = count(lit(1)).as("n") +: cols.flatMap { c =>
        Seq(sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}__nulls"),
          countDistinct(col(c)).as(s"${c}__nd"),
          min(col(c)).as(s"${c}__min"),
          max(col(c)).as(s"${c}__max"))
      }
      src.agg(aggs.head, aggs.tail: _*)
        .select(explode(array(cols.map(c => struct(
          lit(c).as("col_name"), col("n").as("n_rows"),
          col(s"${c}__nulls").as("n_null"),
          col(s"${c}__nd").as("n_distinct"),
          coalesce(col(s"${c}__min"), lit("")).as("min_s"),
          coalesce(col(s"${c}__max"), lit("")).as("max_s"))): _*))
          .as("p"))
        .select(col("p.*"))
        .orderBy("col_name")
    }),

    // q199 [north star, r12]: COUNT-MIN SKETCH heavy hitters (Cormode &
    // Muthukrishnan '05) — the sub-linear-memory frequency tier between
    // the exact token rollup (q44) and membership/cardinality sketches
    // (Bloom q143/q158, HLL q19): d×w = 4×64 counters summarize the
    // whole token stream, estimates read as min over d hashed cells,
    // and CM's one-sided theorem (est ≥ true, always — every occurrence
    // lands in all d probed cells) is enforced IN-PLAN by a raise_error
    // filter, the self-validating-sketch discipline. Output = tokens
    // whose CM estimate clears the total/32 heavy-hitter bar, with the
    // exact count beside the estimate — the fixture deliberately keeps
    // w small enough that collisions OVERestimate some tokens (the
    // is_exact=false rows), so the hash pins CM's collision behavior,
    // not just its happy path. Scale shape: the sketch build is one
    // map-side-combining rollup to d·w = 256 cells (shuffle carries
    // ≤256 rows per mapper, constant in corpus size); the probe joins
    // the BROADCAST sketch. The exact-count leg exists to state the
    // verdict — production probes arbitrary query tokens map-only
    // against the broadcast sketch with no exact pass (the q143 Bloom
    // stance); here the exact rollup is the same token-keyed linear
    // shuffle q44 already pays.
    "q199_countmin_heavy" -> ((spark, dir) =>
      countMinHeavy(Tables(spark, dir, "documents"))),
  )

  /** Count-min geometry: depth (independent hash rows), width (counters
    * per row), and the heavy-hitter bar denominator (est ≥ total/32).
    * Width is deliberately small at fixture scale so collisions are
    * exercised; in deployment w scales with 1/ε at constant sketch
    * size (256 → a few million cells is still broadcast-trivial).
    */
  private[graft] val CmDepth = 4
  private[graft] val CmWidth = 64L
  private[graft] val CmHeavyDenom = 32L

  /** Row-s hash of a token: exact integer on both engines — Spark
    * conv(hex,16,10), DuckDB ('0x'||hex)::BIGINT (the q111 trick); 15
    * hex chars = 60 bits keeps the BIGINT positive, so % ≡ pmod.
    */
  private def cmBucket(token: org.apache.spark.sql.Column,
      seed: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(graft.functions.Hashing.md5Long60(concat(lit("cm"),
      seed.cast("string"), lit(":"), token)), lit(CmWidth))

  /** The whole-corpus token stream (the q44 universe: whitespace split,
    * empties dropped).
    */
  private def cmTokens(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    // r17: spread before the explode×CmDepth md5 fan-out — one row group
    // fused ~1M md5 computations into a single scan task (A/B at sf0.1:
    // 3.2s fused vs 1.8s spread)
    graft.Tables.spread(docs.filter(col("text").isNotNull)
        .select(col("text")))
      .select(explode(split(col("text"), " ")).as("token"))
      .filter(col("token") =!= "")

  /** The d×w cell counts — the SKETCH, and the only state the operator
    * keeps: one partial-aggregating rollup to ≤ CmDepth·CmWidth rows.
    */
  private def cmCells(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame =
    cmTokens(docs)
      .select(col("token"), explode(array(
        (0 until CmDepth).map(s => lit(s)): _*)).as("seed"))
      .groupBy(col("seed"), cmBucket(col("token"), col("seed")).as("bucket"))
      .agg(count(lit(1)).as("c"))

  private[graft] def countMinHeavy(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val toks = cmTokens(docs)
    val cells = cmCells(docs)
    val truec = toks.groupBy(col("token")).agg(count(lit(1)).as("true_cnt"))
    val tot = toks.agg(count(lit(1)).as("n"))
    val probed = truec
      .select(col("token"), col("true_cnt"), explode(array(
        (0 until CmDepth).map(s => lit(s)): _*)).as("seed"))
      .select(col("token"), col("true_cnt"), col("seed"),
        cmBucket(col("token"), col("seed")).as("bucket"))
      .join(broadcast(cells), Seq("seed", "bucket"))
      .groupBy(col("token"))
      .agg(min(col("c")).as("est"), min(col("true_cnt")).as("true_cnt"))
    probed.crossJoin(broadcast(tot))
      .filter(col("est") >= expr(s"n div $CmHeavyDenom"))
      // CM's theorem, stated loudly in-plan: an estimate BELOW the true
      // count means the hash rows disagree between build and probe —
      // a silent wrong sketch, never to be returned as data
      .filter(when(col("est") < col("true_cnt"),
        raise_error(concat(lit("q199: count-min estimate below true count for token '"),
          col("token"), lit("' — build/probe hash drift")))).otherwise(lit(true)))
      .select(col("token"), col("est"), col("true_cnt"),
        (col("est") === col("true_cnt")).as("is_exact"))
      .orderBy(col("est").desc, col("token"))
  }

  /** q126's operator over a `(event_type, value, k)` frame. Degenerate
    * groups (zero variance, or fewer than 2 non-null pairs) make Spark's
    * corr/covar_samp/stddev_samp return NaN where DuckDB returns NULL —
    * the NaN is normalized to NULL so both engines state "undefined" the
    * same way (a zero-variance group has no correlation to report).
    */
  private[graft] def comoments(df: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    def nanToNull(c: org.apache.spark.sql.Column) =
      when(isnan(c), lit(null)).otherwise(c)
    df.groupBy(col("event_type"))
      .agg(nanToNull(round(corr(col("value"), col("k")), 4)).as("corr_vk"),
        nanToNull(round(covar_samp(col("value"), col("k")), 4)).as("covar_vk"),
        nanToNull(round(stddev_samp(col("value")), 4)).as("sd_value"))
      .orderBy("event_type")
  }

  def oracles: Map[String, String] = Map(
    // q199: the identical sketch construction — same md5 row hashes,
    // same min-over-rows estimate, same total/32 bar — re-derived
    // independently; the engine's in-plan est≥true guard means any
    // cross-engine hash drift fails LOUDLY before it can mis-hash
    "q199_countmin_heavy" ->
      s"""WITH toks AS (
         |  SELECT w AS token FROM (SELECT unnest(string_split(text,' ')) AS w
         |    FROM documents WHERE text IS NOT NULL) t WHERE w <> ''),
         |tot AS (SELECT COUNT(*) AS n FROM toks),
         |seeds AS (SELECT unnest(generate_series(0, ${CmDepth - 1})) AS seed),
         |cells AS (
         |  SELECT seed,
         |    ('0x'||substring(md5('cm' || CAST(seed AS VARCHAR) || ':' || token),1,15))::BIGINT % $CmWidth AS bucket,
         |    COUNT(*) AS c
         |  FROM toks, seeds GROUP BY 1, 2),
         |truec AS (SELECT token, COUNT(*) AS true_cnt FROM toks GROUP BY token),
         |est AS (
         |  SELECT t.token, MIN(c.c) AS est, MIN(t.true_cnt) AS true_cnt
         |  FROM truec t, seeds s
         |  JOIN cells c ON c.seed = s.seed
         |   AND c.bucket = ('0x'||substring(md5('cm' || CAST(s.seed AS VARCHAR) || ':' || t.token),1,15))::BIGINT % $CmWidth
         |  GROUP BY t.token)
         |SELECT token, CAST(est AS BIGINT) AS est,
         |  CAST(true_cnt AS BIGINT) AS true_cnt, est = true_cnt AS is_exact
         |FROM est WHERE est >= (SELECT n // $CmHeavyDenom FROM tot)
         |ORDER BY est DESC, token""".stripMargin,
    // q19: the estimate itself is engine-specific, so the CONTRACT is
    // what hashes — exact distinct + the literal bound verdict Spark
    // computes from its own HLL. A red row here means Spark's
    // approx_count_distinct broke its 3-rsd promise.
    // TRIAGE (r11, deliberate design caveat): 3·rsd is a ~3-sigma
    // CONFIDENCE bound, not a hard contract — a correctly-functioning
    // sketch can land outside it as a statistical tail event (or after a
    // Spark version changes HLL internals). If this row (or q172's) goes
    // red: first check whether the miss is a tail event / new fixture /
    // new Spark before filing it as an engine regression. The fixture +
    // Spark version in use have wide measured margin (OperatorSpec).
    "q19_approx_distinct" ->
      """SELECT l_returnflag,
        | CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_exact,
        | TRUE AS within_bound
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q17_agg_tpch_q1" ->
      """SELECT l_returnflag, l_linestatus,
        | ROUND(SUM(l_quantity),2) AS sum_qty,
        | ROUND(SUM(l_extendedprice),2) AS sum_base,
        | ROUND(SUM(l_extendedprice*(1-l_discount)),2) AS sum_disc,
        | ROUND(SUM(l_extendedprice*(1-l_discount)*(1+l_tax)),2) AS sum_charge,
        | ROUND(AVG(l_quantity),4) AS avg_qty,
        | ROUND(AVG(l_extendedprice),4) AS avg_price,
        | CAST(COUNT(*) AS BIGINT) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q18_distinct_count" ->
      """SELECT l_returnflag, CAST(COUNT(DISTINCT l_partkey) AS BIGINT) AS nd_parts,
        | CAST(COUNT(DISTINCT l_suppkey) AS BIGINT) AS nd_supp
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q20_global_agg" ->
      """SELECT CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(o_totalprice),2) AS total_price,
        | ROUND(AVG(o_totalprice),4) AS avg_price, MIN(o_totalprice) AS min_price,
        | MAX(o_totalprice) AS max_price
        |FROM orders""".stripMargin,
    "q21_rollup" ->
      """SELECT l_returnflag, l_linestatus, ROUND(SUM(l_quantity),2) AS sum_qty,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)
        |ORDER BY l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q73_cube" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | ROUND(SUM(l_quantity),2) AS sum_qty,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q74_grouping_sets" ->
      """SELECT l_returnflag, l_linestatus,
        | CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid,
        | ROUND(SUM(l_quantity),2) AS sum_qty,
        | CAST(COUNT(*) AS BIGINT) AS n
        |FROM lineitem GROUP BY GROUPING SETS ((l_returnflag), (l_linestatus))
        |ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST""".stripMargin,
    "q22_collect_set" ->
      """SELECT o_orderstatus,
        | array_to_string(list_sort(list_distinct(list(o_orderpriority))), ',') AS prios
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q60_percentile" ->
      """SELECT o_orderstatus, quantile_disc(o_totalprice, 0.5) AS p50,
        | quantile_disc(o_totalprice, 0.95) AS p95
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q57_tag_udaf" ->
      """SELECT o_orderstatus,
        | list_aggregate(list_sort(list_distinct(list(
        |   replace(lower(o_orderpriority),' ','-') || '|' || o_orderpriority))), 'string_agg', ',') AS tags
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q128_regression" ->
      """SELECT p_brand,
        | ROUND(regr_slope(p_retailprice, p_size), 4) AS slope,
        | ROUND(regr_intercept(p_retailprice, p_size), 4) AS intercept,
        | ROUND(regr_r2(p_retailprice, p_size), 4) AS r2,
        | CAST(count(*) AS BIGINT) AS n_parts
        |FROM part GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q126_correlation" ->
      """SELECT event_type,
        | ROUND(corr(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS corr_vk,
        | ROUND(covar_samp(value, CAST(json_extract_string(props, '$.k') AS DOUBLE)), 4) AS covar_vk,
        | ROUND(stddev_samp(value), 4) AS sd_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q172: the contract is what hashes — group sizes plus the literal
    // bound verdicts Spark computes by ranking its own sketch estimates
    // against the true data (q19's discipline for the quantile sketch).
    // TRIAGE: percentile_approx's rank bound IS published as a hard
    // guarantee (GK/KLL accuracy parameter), but the +1 discrete slack
    // and any future sketch swap make a red row worth the same
    // tail-event-vs-regression triage as q19 — see the q19 note above.
    "q172_quantile_sketch" ->
      """SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
        | TRUE AS p50_within_bound, TRUE AS p90_within_bound
        |FROM events WHERE value IS NOT NULL
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q121_exact_percentile" ->
      """SELECT o_orderstatus,
        | ROUND(quantile_cont(o_totalprice, 0.25), 4) AS p25,
        | ROUND(quantile_cont(o_totalprice, 0.5), 4) AS p50,
        | ROUND(quantile_cont(o_totalprice, 0.75), 4) AS p75,
        | ROUND(quantile_cont(o_totalprice, 0.9), 4) AS p90
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    "q114_profile" ->
      """WITH s AS (SELECT event_type, CAST(user_id AS VARCHAR) AS user_id, props,
        |             json_extract_string(props, '$.ref') AS ref
        |           FROM events),
        |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |  CAST(count(*) FILTER (WHERE event_type IS NULL) AS BIGINT) AS et_nulls,
        |  CAST(count(DISTINCT event_type) AS BIGINT) AS et_nd,
        |  COALESCE(min(event_type), '') AS et_min, COALESCE(max(event_type), '') AS et_max,
        |  CAST(count(*) FILTER (WHERE user_id IS NULL) AS BIGINT) AS ui_nulls,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS ui_nd,
        |  COALESCE(min(user_id), '') AS ui_min, COALESCE(max(user_id), '') AS ui_max,
        |  CAST(count(*) FILTER (WHERE props IS NULL) AS BIGINT) AS pr_nulls,
        |  CAST(count(DISTINCT props) AS BIGINT) AS pr_nd,
        |  COALESCE(min(props), '') AS pr_min, COALESCE(max(props), '') AS pr_max,
        |  CAST(count(*) FILTER (WHERE ref IS NULL) AS BIGINT) AS rf_nulls,
        |  CAST(count(DISTINCT ref) AS BIGINT) AS rf_nd,
        |  COALESCE(min(ref), '') AS rf_min, COALESCE(max(ref), '') AS rf_max
        |  FROM s)
        |SELECT 'event_type' AS col_name, n AS n_rows, et_nulls AS n_null,
        |       et_nd AS n_distinct, et_min AS min_s, et_max AS max_s FROM a
        |UNION ALL
        |SELECT 'user_id', n, ui_nulls, ui_nd, ui_min, ui_max FROM a
        |UNION ALL
        |SELECT 'props', n, pr_nulls, pr_nd, pr_min, pr_max FROM a
        |UNION ALL
        |SELECT 'ref', n, rf_nulls, rf_nd, rf_min, rf_max FROM a
        |ORDER BY col_name""".stripMargin,
  )
}
