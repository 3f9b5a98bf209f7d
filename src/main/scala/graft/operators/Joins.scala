package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Join closure — SURVEY.md §2.3 (q09–q16).
  *
  * The reference's enrichment (`tag.py:12-17`: per-record GET of the full
  * document by `_id`) is a point-lookup join of the stream against the
  * document store; everything here generalizes that.
  *
  * Scale notes:
  *  - q09 broadcasts the dimension (document store fits executor memory at
  *    any realistic doc count; at 100 TB of *events* the stream side never
  *    shuffles).
  *  - q10 forces sort-merge for the large×large case: both sides shuffle on
  *    the join key once, and AQE converts to broadcast at runtime if a side
  *    turns out small.
  *  - q15 implements as-of with the union + last(ignoreNulls) window trick:
  *    ONE shuffle on (user_id) instead of an O(n²) inequality join.
  *  - q16's interval self-join keys the shuffle on user_id (equi part), so
  *    the time-range predicate evaluates only within co-partitioned groups.
  */
object Joins extends QueryGroup {

  def queries: Map[String, Q] = Map(
    // q09 [REF tag.py:12-17]: broadcast (map-side) equi join.
    "q09_broadcast_join" -> ((spark, dir) => {
      val e = Tables(spark, dir, "events")
      val d = Tables(spark, dir, "documents")
      e.join(broadcast(d), e("user_id") === d("doc_id"))
        .select(col("event_id"), col("user_id"), col("lang"), col("source"))
        .orderBy("event_id")
    }),

    // q10 [CLOSURE]: shuffled sort-merge join, large × large.
    "q10_sortmerge_join" -> ((spark, dir) => {
      val li = Tables(spark, dir, "lineitem").hint("merge")
      val o = Tables(spark, dir, "orders")
      li.join(o, li("l_orderkey") === o("o_orderkey"))
        .select(col("l_orderkey"), col("l_linenumber"), col("o_totalprice"),
          col("o_orderstatus"))
        .orderBy("l_orderkey", "l_linenumber")
    }),

    // q11 [REF-adjacent app.py:71-75]: enrichment must not drop unmatched.
    "q11_left_outer_join" -> ((spark, dir) => {
      val e = Tables(spark, dir, "events")
      val c = Tables(spark, dir, "customer")
      e.join(broadcast(c), e("user_id") === c("c_custkey"), "left_outer")
        .select(col("event_id"), col("user_id"), col("c_name"),
          col("c_mktsegment"))
        .orderBy("event_id")
    }),

    // q78 [CLOSURE]: full outer join — both unmatched sides survive
    // (customers with no orders AND orders with dangling custkeys).
    // Full outer can't broadcast (both sides must emit unmatched rows),
    // so Spark correctly plans a sort-merge join — the right shape at
    // scale too. Sort keys: both ids, nulls first, unique per row
    // (c_custkey is unique on the customer side, o_orderkey on the
    // orders side).
    "q78_full_outer_join" -> ((spark, dir) => {
      val c = Tables(spark, dir, "customer")
      val o = Tables(spark, dir, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "full_outer")
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          col("o_totalprice"))
        .orderBy(col("c_custkey").asc_nulls_first,
          col("o_orderkey").asc_nulls_first)
    }),

    // q12 [CLOSURE]: semi join — "documents that have events".
    "q12_semi_join" -> ((spark, dir) => {
      val d = Tables(spark, dir, "documents")
      val e = Tables(spark, dir, "events")
      d.join(e, d("doc_id") === e("user_id"), "left_semi")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // q13 [CLOSURE of app.py:74 failure branch]: anti join.
    "q13_anti_join" -> ((spark, dir) => {
      val d = Tables(spark, dir, "documents")
      val e = Tables(spark, dir, "events")
      d.join(e, d("doc_id") === e("user_id"), "left_anti")
        .select(col("doc_id"), col("lang"))
        .orderBy("doc_id")
    }),

    // q14 [CLOSURE]: theta/band join — small side broadcast keeps it a
    // BroadcastNestedLoop instead of a cartesian shuffle.
    "q14_band_join" -> ((spark, dir) => {
      val e = Tables(spark, dir, "events")
      val r = Tables(spark, dir, "region")
      e.join(broadcast(r),
          e("value") >= r("r_regionkey") * 50.0 &&
            e("value") < (r("r_regionkey") + 1) * 50.0)
        .select(col("event_id"), col("r_regionkey"), col("r_name"))
        .orderBy("event_id", "r_regionkey")
    }),

    // q15 [REF-adjacent tag.py:14 "latest revision"]: as-of join — for each
    // event, the user's most recent purchase value at-or-before its time.
    // Union + last(ignoreNulls) over one (user_id) shuffle.
    "q15_asof_join" -> ((spark, dir) => {
      val e = Tables(spark, dir, "events")
      val left = e.select(col("user_id"), col("ts"), col("event_id"),
        lit(1).as("side"), lit(null).cast("double").as("pval"))
      val right = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), col("event_id"),
          lit(0).as("side"), col("value").as("pval"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts"), col("side"), col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      left.unionByName(right)
        .withColumn("asof_value", last(col("pval"), ignoreNulls = true).over(w))
        .filter(col("side") === 1)
        .select(col("event_id"), col("asof_value"))
        .orderBy("event_id")
    }),

    // q16 [CLOSURE]: interval self-join (batch form of the stream-stream
    // time-range join).
    "q16_interval_join" -> ((spark, dir) => {
      val e = Tables(spark, dir, "events").alias("e")
      val s = Tables(spark, dir, "events").alias("s")
      e.join(s,
          col("e.user_id") === col("s.user_id") &&
            col("s.ts") <= col("e.ts") &&
            col("s.ts") >= col("e.ts") - expr("INTERVAL 5 MINUTES") &&
            col("s.event_id") =!= col("e.event_id"))
        .select(col("e.event_id").as("event_id"),
          col("s.event_id").as("prior_event_id"))
        .orderBy("event_id", "prior_event_id")
    }),

    // q118 [CLOSURE]: the STAR-SCHEMA analytics shape (TPC-H Q5): revenue
    // by nation within one region-year, six tables in one query. The
    // snowflake arm region→nation→supplier collapses to a ~100-row
    // broadcast BEFORE touching any fact table (the region filter prunes
    // at the smallest relation), so the only big work is
    // lineitem⋈orders⋈customer — each equi-keyed on its FK, each
    // shuffle-partitioned once, with the order-date filter pushed into
    // the orders scan. The colocation condition c_nationkey = s_nationkey
    // rides the broadcast join as a residual predicate — no extra
    // shuffle. This is the query shape Catalyst's join reorder + AQE
    // exist for; nothing here is hand-scheduled.
    "q118_regional_revenue" -> ((spark, dir) => {
      val asiaNations = Tables(spark, dir, "nation")
        .join(broadcast(Tables(spark, dir, "region")
          .filter(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val sup = Tables(spark, dir, "supplier")
        .join(broadcast(asiaNations),
          col("s_nationkey") === col("n_nationkey"))
        .select(col("s_suppkey"), col("s_nationkey"), col("n_name"))
      val ord = Tables(spark, dir, "orders")
        .filter(col("o_orderdate") >= "1996-01-01" &&
          col("o_orderdate") < "1997-01-01")
        .select(col("o_orderkey"), col("o_custkey"))
      Tables(spark, dir, "lineitem")
        .select(col("l_orderkey"), col("l_suppkey"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(ord, col("l_orderkey") === col("o_orderkey"))
        .join(Tables(spark, dir, "customer")
          .select(col("c_custkey"), col("c_nationkey")),
          col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup),
          col("l_suppkey") === col("s_suppkey") &&
            col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(round(sum(col("rev")), 2).as("revenue"),
          count(lit(1)).as("n_items"))
        .orderBy("n_name")
    }),

    // q119 [CLOSURE]: promotion-share trend (TPC-H Q14 widened to every
    // month): per ship-month, promo-part revenue next to total revenue.
    // The part dimension broadcasts (it is a dimension by construction);
    // the fact side is one scan + one (month)-keyed partial aggregation.
    // The share itself is left to the reader (a division of the two
    // rounded sums) so the output stays within the determinism rules.
    "q119_promo_share" -> ((spark, dir) =>
      Tables(spark, dir, "lineitem")
        .select(col("l_partkey"), date_format(col("l_shipdate"), "yyyy-MM").as("month"),
          (col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("rev"))
        .join(broadcast(Tables(spark, dir, "part")
          .select(col("p_partkey"), col("p_type"))),
          col("l_partkey") === col("p_partkey"))
        .groupBy(col("month"))
        .agg(
          round(sum(when(col("p_type") === "PROMO", col("rev"))
            .otherwise(lit(0.0))), 2).as("promo_rev"),
          round(sum(col("rev")), 2).as("total_rev"),
          count(lit(1)).as("n_items"))
        .orderBy("month")),
  )

  def oracles: Map[String, String] = Map(
    "q09_broadcast_join" ->
      "SELECT e.event_id, e.user_id, d.lang, d.source FROM events e JOIN documents d ON e.user_id = d.doc_id ORDER BY e.event_id",
    "q10_sortmerge_join" ->
      "SELECT l.l_orderkey, l.l_linenumber, o.o_totalprice, o.o_orderstatus FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey ORDER BY l.l_orderkey, l.l_linenumber",
    "q11_left_outer_join" ->
      "SELECT e.event_id, e.user_id, c.c_name, c.c_mktsegment FROM events e LEFT JOIN customer c ON e.user_id = c.c_custkey ORDER BY e.event_id",
    "q78_full_outer_join" ->
      """SELECT c.c_custkey, c.c_name, o.o_orderkey, o.o_totalprice
        |FROM customer c FULL OUTER JOIN orders o ON c.c_custkey = o.o_custkey
        |ORDER BY c.c_custkey NULLS FIRST, o.o_orderkey NULLS FIRST""".stripMargin,
    "q12_semi_join" ->
      "SELECT d.doc_id, d.lang FROM documents d WHERE EXISTS (SELECT 1 FROM events e WHERE e.user_id = d.doc_id) ORDER BY d.doc_id",
    "q13_anti_join" ->
      "SELECT d.doc_id, d.lang FROM documents d WHERE NOT EXISTS (SELECT 1 FROM events e WHERE e.user_id = d.doc_id) ORDER BY d.doc_id",
    "q14_band_join" ->
      """SELECT e.event_id, r.r_regionkey, r.r_name FROM events e JOIN region r
        | ON e.value >= r.r_regionkey * 50.0 AND e.value < (r.r_regionkey + 1) * 50.0
        |ORDER BY e.event_id, r.r_regionkey""".stripMargin,
    "q15_asof_join" ->
      """SELECT e.event_id, p.value AS asof_value
        |FROM events e ASOF LEFT JOIN (SELECT user_id, ts, value FROM events WHERE event_type = 'purchase') p
        | ON e.user_id = p.user_id AND e.ts >= p.ts
        |ORDER BY e.event_id""".stripMargin,
    "q16_interval_join" ->
      """SELECT e.event_id, s.event_id AS prior_event_id
        |FROM events e JOIN events s ON e.user_id = s.user_id
        | AND s.ts <= e.ts AND s.ts >= e.ts - INTERVAL 5 MINUTE AND s.event_id <> e.event_id
        |ORDER BY e.event_id, prior_event_id""".stripMargin,
    "q118_regional_revenue" ->
      """SELECT n.n_name,
        |  ROUND(SUM(l.l_extendedprice * (1.0 - l.l_discount)), 2) AS revenue,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM customer c, orders o, lineitem l, supplier s, nation n, region r
        |WHERE c.c_custkey = o.o_custkey AND l.l_orderkey = o.o_orderkey
        |  AND l.l_suppkey = s.s_suppkey AND c.c_nationkey = s.s_nationkey
        |  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
        |  AND r.r_name = 'ASIA'
        |  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o.o_orderdate < TIMESTAMP '1997-01-01'
        |GROUP BY n.n_name ORDER BY n.n_name""".stripMargin,
    "q119_promo_share" ->
      """SELECT strftime(l_shipdate, '%Y-%m') AS month,
        |  ROUND(SUM(CASE WHEN p_type = 'PROMO'
        |    THEN l_extendedprice * (1.0 - l_discount) ELSE 0.0 END), 2) AS promo_rev,
        |  ROUND(SUM(l_extendedprice * (1.0 - l_discount)), 2) AS total_rev,
        |  CAST(COUNT(*) AS BIGINT) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY strftime(l_shipdate, '%Y-%m')
        |ORDER BY month""".stripMargin,
  )
}
