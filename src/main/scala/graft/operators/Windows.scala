package graft.operators

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Window functions and batch-form time windows — SURVEY.md §2.5, §2.9
  * (q23–q26, q39–q41).
  *
  * Anchor semantic: the reference processes records in sequence order
  * within a shard (`app.py:16-30`) ≙ `partitionBy(shard) orderBy(seq)`.
  *
  * q39–q41 are the streaming windows declared in batch form over
  * `events.parquet` so the DuckDB oracle applies (the same expressions
  * run unchanged on a stream: batch≡stream unification, Structured
  * Streaming SIGMOD'18).
  *
  * Timestamp discipline: event ts is nanosecond parquet that Spark
  * truncates to µs on read, so queries never output raw ts — only epoch
  * seconds (window starts) or epoch micros (session starts), and window
  * ordering uses event_id (unique, time-correlated) rather than raw ts.
  *
  * Scale: each window query is ONE hash-partition shuffle on its partition
  * key; skewed users are AQE's problem (skew thresholds left default).
  */
object Windows extends QueryGroup {

  def queries: Map[String, Q] = Map(
    // q23 [CLOSURE]: ranking family.
    "q23_window_rank" -> ((spark, dir) => {
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value").desc, col("event_id"))
      Tables(spark, dir, "events")
        .select(col("event_id"),
          row_number().over(w).cast("long").as("rn"),
          rank().over(w).cast("long").as("rnk"),
          dense_rank().over(w).cast("long").as("drnk"))
        .orderBy("event_id")
    }),

    // q24 [CLOSURE]: analytic lag/lead (previous/next event per user).
    "q24_lag_lead" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables(spark, dir, "events")
        .select(col("event_id"),
          lag(col("value"), 1).over(w).as("prev_value"),
          lead(col("value"), 1).over(w).as("next_value"))
        .orderBy("event_id")
    }),

    // q106 [CLOSURE]: value-position analytics — first/last/nth over the
    // whole partition, the remaining §2.5 analytic family next to q24's
    // lag/lead (user journeys: entry event, exit event, second touch).
    // The unbounded-following frame is required for last/nth to see the
    // whole partition (the default frame stops at CURRENT ROW).
    "q106_value_windows" -> ((spark, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("event_id"))
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.unboundedFollowing)
      Tables(spark, dir, "events")
        .select(col("event_id"),
          first(col("event_type")).over(w).as("first_type"),
          last(col("event_type")).over(w).as("last_type"),
          nth_value(col("event_type"), 2).over(w).as("second_type"))
        .orderBy("event_id")
    }),

    // q25 [CLOSURE]: frame-spec aggregates — running sum + moving average.
    "q25_running_agg" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables(spark, dir, "events")
        .select(col("event_id"),
          round(sum(col("value"))
            .over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)), 2)
            .as("running_sum"),
          round(avg(col("value"))
            .over(w.rowsBetween(-3, Window.currentRow)), 4)
            .as("moving_avg"))
        .orderBy("event_id")
    }),

    // q75 [CLOSURE]: time-based RANGE frame — trailing 5-minute sum/count
    // per user. The frame is over VALUES of the ordering key (epoch
    // micros), not row offsets: all events within the last 300 s of the
    // current event's timestamp are in frame, duplicates-as-peers
    // included, regardless of how many rows that is. Same single
    // hash-partition shuffle as every window query; Spark evaluates the
    // moving frame with two pointers over the sorted partition, so frame
    // width costs nothing extra at scale.
    "q75_range_frame" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(unix_micros(col("ts")))
        .rangeBetween(-300000000L, Window.currentRow)
      Tables(spark, dir, "events")
        .select(col("event_id"),
          round(sum(col("value")).over(w), 2).as("trail_sum_5m"),
          count(lit(1)).over(w).as("n_5m"))
        .orderBy("event_id")
    }),

    // q79 [CLOSURE]: distribution-rank analytics — ntile / percent_rank /
    // cume_dist complete q23's ranking family. All three are exact
    // integer ratios ((rank−1)/(n−1), peers/n), so the doubles are
    // deterministic across engines; event_id is unique per partition so
    // the order is total.
    "q79_rank_distribution" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id"))
      Tables(spark, dir, "events")
        .select(col("event_id"), col("user_id"),
          ntile(4).over(w).cast("long").as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"))
        .orderBy("event_id")
    }),

    // q26 [REF-adjacent tag.py:14 latest-revision]: top-k per group.
    "q26_topk_per_group" -> ((spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("event_id").desc)
      Tables(spark, dir, "events")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("user_id"), col("event_id"), col("value"))
        .orderBy("user_id", "event_id")
    }),

    // q39 [CLOSURE]: tumbling window count/sum per event_type.
    "q39_tumbling_window" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .groupBy(window(col("ts"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy("win_start", "event_type")),

    // q40 [CLOSURE]: sliding window (1 hour every 15 minutes).
    "q40_sliding_window" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .groupBy(window(col("ts"), "1 hour", "15 minutes"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .select(unix_timestamp(col("window.start")).as("win_start"),
          col("event_type"), col("n"))
        .orderBy("win_start", "event_type")),

    // q41 [CLOSURE]: session window per user, 30-minute gap.
    "q41_session_window" -> ((spark, dir) =>
      Tables(spark, dir, "events")
        .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("sess_start"),
          col("n"), col("sum_value"))
        .orderBy("user_id", "sess_start")),
  )

  def oracles: Map[String, String] = Map(
    "q23_window_rank" ->
      """SELECT event_id,
        | CAST(row_number() OVER w AS BIGINT) AS rn,
        | CAST(rank() OVER w AS BIGINT) AS rnk,
        | CAST(dense_rank() OVER w AS BIGINT) AS drnk
        |FROM events WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id)
        |ORDER BY event_id""".stripMargin,
    "q24_lag_lead" ->
      """SELECT event_id, lag(value) OVER w AS prev_value, lead(value) OVER w AS next_value
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,
    "q106_value_windows" ->
      """SELECT event_id,
        | first_value(event_type) OVER w AS first_type,
        | last_value(event_type) OVER w AS last_type,
        | nth_value(event_type, 2) OVER w AS second_type
        |FROM events
        |WINDOW w AS (PARTITION BY user_id ORDER BY event_id
        |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
        |ORDER BY event_id""".stripMargin,
    "q25_running_agg" ->
      """SELECT event_id,
        | ROUND(SUM(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),2) AS running_sum,
        | ROUND(AVG(value) OVER (PARTITION BY user_id ORDER BY event_id ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),4) AS moving_avg
        |FROM events ORDER BY event_id""".stripMargin,
    "q75_range_frame" ->
      """SELECT event_id,
        | ROUND(SUM(value) OVER w, 2) AS trail_sum_5m,
        | CAST(COUNT(*) OVER w AS BIGINT) AS n_5m
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
        |  RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW)
        |ORDER BY event_id""".stripMargin,
    "q79_rank_distribution" ->
      """SELECT event_id, user_id,
        | CAST(ntile(4) OVER w AS BIGINT) AS quartile,
        | percent_rank() OVER w AS pct_rank,
        | cume_dist() OVER w AS cume
        |FROM events WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
        |ORDER BY event_id""".stripMargin,
    "q26_topk_per_group" ->
      """SELECT user_id, event_id, value FROM (
        | SELECT user_id, event_id, value,
        |  row_number() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
        | FROM events) t
        |WHERE rn <= 3 ORDER BY user_id, event_id""".stripMargin,
    "q39_tumbling_window" ->
      """SELECT (epoch_us(ts)//3600000000)*3600 AS win_start, event_type,
        | CAST(COUNT(*) AS BIGINT) AS n, ROUND(SUM(value),2) AS sum_value
        |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q40_sliding_window" ->
      """SELECT ws AS win_start, event_type, CAST(COUNT(*) AS BIGINT) AS n FROM (
        | SELECT (epoch_us(ts)//900000000)*900 - 900*s.k AS ws, event_type
        | FROM events, generate_series(0,3) s(k)) t
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q41_session_window" ->
      """WITH b AS (SELECT user_id, event_id, epoch_us(ts) AS us, value FROM events),
        |m AS (SELECT user_id, us, value,
        |  CASE WHEN lag(us) OVER w IS NULL THEN 1
        |       WHEN us - lag(us) OVER w >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM b WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id)),
        |g AS (SELECT user_id, us, value,
        |  SUM(brk) OVER (PARTITION BY user_id ORDER BY us ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM m)
        |SELECT user_id, MIN(us) AS sess_start, CAST(COUNT(*) AS BIGINT) AS n,
        | ROUND(SUM(value),2) AS sum_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin,
  )
}
