package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The query suites' input tables, generated from a fixed seed.
  *
  * The tables have the names, schemas and value domains the library's
  * `graft.Tables` reads (TPC-H-ish star schema plus `events`,
  * `documents` and `embeddings`, row counts proportional to the scale
  * factor: lineitem = 6M x sf). Every column is a pure function of its
  * row index and [[Seed]], so a generation is bit-identical on any
  * machine, and the per-query checksums frozen in `suites.json` hold for
  * every run. Each table is written as one parquet file (one row group),
  * the layout the library's scan-parallelism code is written against.
  *
  * The seed is deliberately NOT the run's `--seed`: the suites' frozen
  * checksums are the correctness check, so the tables must not move;
  * the run's seed permutes the query order instead.
  */
object Fixture {
  val Seed = 42L

  private def h(salt: String, cols: Column*): Column =
    xxhash64((lit(Seed) +: lit(salt) +: cols): _*)
  /** Uniform integer in [0, n) for row `id`. */
  private def uni(salt: String, n: Long, cols: Column*): Column =
    pmod(h(salt, (col("id") +: cols): _*), lit(n))
  /** Uniform double in [0, 1). */
  private def unit(salt: String): Column =
    uni(salt, 1000000L).cast(DoubleType) / 1e6
  private def pick(salt: String, xs: Seq[String]): Column =
    element_at(array(xs.map(lit): _*), (uni(salt, xs.size) + 1).cast(IntegerType))
  private def money(salt: String, lo: Double, hi: Double): Column =
    round(lit(lo) + unit(salt) * (hi - lo), 2)
  private def day(salt: String, from: String, days: Int): Column =
    to_timestamp(date_add(lit(from).cast(DateType),
      uni(salt, days.toLong).cast(IntegerType)))

  private val Vocab = Seq("a", "agg", "batch", "big", "column", "customer",
    "data", "dup", "fast", "filter", "group", "hash", "join", "key", "line",
    "merge", "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")

  def tables(spark: SparkSession, sf: Double): Seq[(String, DataFrame)] = {
    def n(base: Long): Long = math.max(1L, math.round(base * sf))
    def rows(count: Long): DataFrame = spark.range(0, count, 1, 1).toDF()
    val nCust = n(150000)
    val nSupp = n(10000)
    val nPart = n(200000)
    val nOrders = n(1500000)
    val nUsers = n(15000)
    val nEvents = n(1000000)
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val region = rows(5).select(col("id").cast(IntegerType).as("r_regionkey"),
      element_at(array(regions.map(lit): _*), (col("id") + 1).cast(IntegerType))
        .as("r_name"))
    val nation = rows(25).select(col("id").cast(IntegerType).as("n_nationkey"),
      concat(lit("NATION_"), col("id")).as("n_name"),
      (col("id") % 5).cast(IntegerType).as("n_regionkey"))
    val customer = rows(nCust).select(col("id").as("c_custkey"),
      format_string("Customer#%09d", col("id")).as("c_name"),
      uni("c_nation", 25).cast(IntegerType).as("c_nationkey"),
      money("c_acctbal", -999.99, 9999.99).as("c_acctbal"),
      pick("c_seg", Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
        "MACHINERY")).as("c_mktsegment"))
    val supplier = rows(nSupp).select(col("id").as("s_suppkey"),
      format_string("Supplier#%09d", col("id")).as("s_name"),
      uni("s_nation", 25).cast(IntegerType).as("s_nationkey"),
      money("s_acctbal", -999.99, 9999.99).as("s_acctbal"))
    val part = rows(nPart).select(col("id").as("p_partkey"),
      concat_ws(" ",
        pick("p_adj", Seq("blue", "cold", "hot", "large", "new", "old", "red",
          "small")),
        pick("p_noun", Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring",
          "rod", "widget"))).as("p_name"),
      concat(lit("Brand#"), uni("p_brand", 25) + 1).as("p_brand"),
      pick("p_type", Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL",
        "STANDARD")).as("p_type"),
      (uni("p_size", 50) + 1).cast(IntegerType).as("p_size"),
      round(lit(900.0) + (col("id") % 1000) / 10.0, 2).as("p_retailprice"))
    val orders = rows(nOrders).select(col("id").as("o_orderkey"),
      uni("o_cust", nCust).as("o_custkey"),
      pick("o_status", Seq("F", "O", "P")).as("o_orderstatus"),
      money("o_total", 1000.0, 500000.0).as("o_totalprice"),
      day("o_date", "1995-01-01", 2404).as("o_orderdate"),
      pick("o_prio", Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED",
        "5-LOW")).as("o_orderpriority"))
    val lineitem = rows(n(6000000)).select(
      uni("l_order", nOrders).as("l_orderkey"),
      uni("l_part", nPart).as("l_partkey"),
      uni("l_supp", nSupp).as("l_suppkey"),
      (uni("l_line", 7) + 1).cast(IntegerType).as("l_linenumber"),
      (uni("l_qty", 50) + 1).cast(DoubleType).as("l_quantity"),
      money("l_price", 900.0, 105000.0).as("l_extendedprice"),
      (uni("l_disc", 11) / 100.0).as("l_discount"),
      (uni("l_tax", 9) / 100.0).as("l_tax"),
      pick("l_rf", Seq("A", "N", "R")).as("l_returnflag"),
      pick("l_ls", Seq("F", "O")).as("l_linestatus"),
      day("l_ship", "1995-01-02", 2498).as("l_shipdate"))
    // ordered-ish event time over January 2024, on microsecond boundaries
    val spanUs = 30L * 86400L * 1000000L
    val events = rows(nEvents).select(col("id").as("event_id"),
      timestamp_micros(lit(1704067200000000L) +
        (col("id") * (spanUs / nEvents)) + uni("e_jitter", spanUs / nEvents))
        .as("ts"),
      uni("e_user", nUsers).as("user_id"),
      pick("e_type", Seq("click", "error", "purchase", "signup", "view"))
        .as("event_type"),
      money("e_value", 0.0, 560.0).as("value"),
      format_string("{\"k\": %d}", uni("e_k", 100)).as("props"))
    val nDocs = n(50000)
    val words = transform(
      sequence(lit(1), (uni("d_len", 73) + 8).cast(IntegerType)),
      i => element_at(array(Vocab.map(lit): _*),
        (uni("d_word", Vocab.size, i) + 1).cast(IntegerType)))
    // every 625th document repeats its predecessor's text: planted exact
    // duplicates. Text and language hash the TEXT id, so a duplicate
    // matches its source row.
    val documents = rows(nDocs)
      .select(col("id").as("doc_id"),
        when(col("id") % 625 === 624, col("id") - 1).otherwise(col("id"))
          .as("id"))
      .select(col("doc_id"), array_join(words, " ").as("text"),
        pick("d_lang", Seq("en", "en", "en", "en", "es", "zh", "de", "fr",
          "es", "zh", "de", "fr", "en")).as("lang"),
        concat(lit("src"), col("doc_id") % 20).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
    val embeddings = rows(n(20000)).select(col("id").as("vec_id"),
      array((0 until 64).map(j =>
        ((unit(s"v$j") + unit(s"w$j") + unit(s"x$j") - 1.5) * 0.35)
          .cast(FloatType)): _*).as("embedding"),
      uni("label", 10).cast(IntegerType).as("label"))
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write every table to the single parquet file `dir/<name>.parquet`
    * (a file, not a directory: some queries open the file itself).
    */
  def write(spark: SparkSession, dir: String, sf: Double): Unit = {
    import java.nio.file.{Files, Paths}
    tables(spark, sf).foreach { case (name, df) =>
      val tmp = Paths.get(dir, s".tmp-$name")
      df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      val part = Files.list(tmp).filter(_.getFileName.toString.endsWith(".parquet"))
        .findFirst().get()
      Files.move(part, Paths.get(dir, s"$name.parquet"))
      org.apache.commons.io.FileUtils.deleteDirectory(tmp.toFile)
    }
  }
}
