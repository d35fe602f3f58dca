package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Input generator. Every value is a hash of a salt and the row key, so
  * any round's expected state can be recomputed from its number alone,
  * without reading what the program under test wrote. Table contents are
  * the same for every seed; the seed drives what changes between runs
  * ([[u]]): which rows a sync round touches, which keys a CDC pull updates
  * or deletes, how documents split into files, and the query order.
  *
  * Table shapes follow the TPC-H-like star schema plus the `events` and
  * `documents` tables that graft's graded queries read;
  * row counts scale with `sf` the way the sf0.1 data set does (600k
  * lineitems at sf 0.1). */
final class Gen(val spark: SparkSession, val seed: Long) {

  /** Uniform integer in [0, m) keyed by the seed, `salt` and the columns. */
  def u(salt: String, m: Long, keys: Column*): Column =
    pmod(xxhash64((lit(seed) +: lit(salt) +: keys): _*), lit(m))

  /** The same draw without the seed, for table contents. */
  private def c(salt: String, m: Long, keys: Column*): Column =
    pmod(xxhash64((lit(salt) +: keys): _*), lit(m))

  private def money(salt: String, lo: Double, hi: Double, k: Column): Column =
    (lit(lo) + c(salt, ((hi - lo) * 100).toLong, k) / 100.0).cast(DoubleType)

  private def pick(salt: String, k: Column, values: Seq[String]): Column =
    element_at(typedLit(values), (c(salt, values.size, k) + 1).cast(IntegerType))

  private def ntz(epochSeconds: Column): Column =
    timestamp_seconds(epochSeconds).cast(TimestampNTZType)

  /** 1992-01-01 .. 1998-12-31, the TPC-H date range. */
  private def tpchStamp(salt: String, k: Column): Column =
    ntz(lit(694224000L) + c(salt, 7L * 365 * 86400, k))

  def rows(sf: Double, base: Long): Long = math.max(1L, math.round(base * sf / 0.1))

  def nation: DataFrame = spark.range(25).select(
    col("id").cast(IntegerType).as("n_nationkey"),
    concat(lit("NATION_"), col("id")).as("n_name"),
    (col("id") % 5).cast(IntegerType).as("n_regionkey"))

  def customer(from: Long, until: Long): DataFrame = spark.range(from, until).select(
    col("id").as("c_custkey"),
    concat(lit("Customer#"), lpad(col("id").cast(StringType), 9, "0")).as("c_name"),
    c("c_nation", 25, col("id")).cast(IntegerType).as("c_nationkey"),
    money("c_acctbal", -999.99, 9999.99, col("id")).as("c_acctbal"),
    pick("c_seg", col("id"),
      Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")).as("c_mktsegment"))

  def orders(from: Long, until: Long, customers: Long): DataFrame = spark.range(from, until).select(
    col("id").as("o_orderkey"),
    (c("o_cust", customers, col("id")) + 1).as("o_custkey"),
    pick("o_status", col("id"), Seq("F", "O", "P")).as("o_orderstatus"),
    money("o_price", 800.0, 500000.0, col("id")).as("o_totalprice"),
    tpchStamp("o_date", col("id")).as("o_orderdate"),
    pick("o_prio", col("id"), Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")).as("o_orderpriority"))

  /** Four lines per order: line `id` is (l_orderkey - 1) * 4 + l_linenumber - 1. */
  def lineitem(from: Long, until: Long, parts: Long, suppliers: Long): DataFrame = spark.range(from, until).select(
    (col("id") / 4 + 1).cast(LongType).as("l_orderkey"),
    (c("l_part", parts, col("id")) + 1).as("l_partkey"),
    (c("l_supp", suppliers, col("id")) + 1).as("l_suppkey"),
    (col("id") % 4 + 1).cast(IntegerType).as("l_linenumber"),
    (c("l_qty", 50, col("id")) + 1).cast(DoubleType).as("l_quantity"),
    money("l_ext", 900.0, 100000.0, col("id")).as("l_extendedprice"),
    (c("l_disc", 11, col("id")) / 100.0).as("l_discount"),
    (c("l_tax", 9, col("id")) / 100.0).as("l_tax"),
    pick("l_rf", col("id"), Seq("A", "N", "R")).as("l_returnflag"),
    pick("l_ls", col("id"), Seq("F", "O")).as("l_linestatus"),
    tpchStamp("l_ship", col("id")).as("l_shipdate"))

  /** Events, one every ~30 s from 2024-01-01, keyed by `event_id`. */
  def events(from: Long, until: Long): DataFrame = spark.range(from, until).select(
    col("id").as("event_id"),
    ntz(lit(1704067200L) + col("id") * 30 + c("e_ts", 30, col("id"))).as("ts"),
    c("e_user", 2000, col("id")).as("user_id"),
    pick("e_type", col("id"), Seq("click", "view", "purchase", "signup", "error")).as("event_type"),
    money("e_val", 0.0, 200.0, col("id")).as("value"),
    concat(lit("{\"k\": "), c("e_k", 100, col("id")), lit("}")).as("props"))

  /** Word-soup documents over a small technical vocabulary. One document
    * in 50 repeats its predecessor's words with the last one changed, so
    * the near-duplicate queries have pairs to find. `lineEvery` > 0 breaks
    * the text into lines of that many words (the line index's input). */
  def documents(from: Long, until: Long, lineEvery: Int = 0): DataFrame = {
    val id = col("id")
    val isDup = id % 50 === 49
    val src = when(isDup, id - 1).otherwise(id)
    val nWords = (c("d_len", 80, src) + 8).cast(IntegerType)
    val vocab = typedLit(Vocab)
    def word(j: Column): Column = element_at(vocab,
      (when(isDup && j === nWords - 1, c("d_last", Vocab.size, id))
        .otherwise(c("d_word", Vocab.size, src, j)) + 1).cast(IntegerType))
    def sep(j: Column): Column =
      if (lineEvery > 0) when(j === nWords - 1, "").when(pmod(j, lit(lineEvery)) === lineEvery - 1, "\n").otherwise(" ")
      else when(j === nWords - 1, "").otherwise(" ")
    val text = concat_ws("", transform(sequence(lit(0), nWords - 1), j => concat(word(j), sep(j))))
    spark.range(from, until).select(
      id.as("doc_id"), text.as("text"),
      pick("d_lang", id, Seq("en", "en", "en", "de", "es", "fr", "zh")).as("lang"),
      concat(lit("src"), c("d_src", 20, id)).as("source"))
      .withColumn("n_chars", length(col("text")).cast(LongType))
  }

  val Vocab: Seq[String] = Seq("a", "the", "data", "spark", "stream", "batch", "table",
    "row", "column", "query", "scan", "filter", "join", "sort", "hash", "group", "agg",
    "merge", "window", "key", "value", "order", "line", "part", "customer", "vector",
    "fast", "slow", "big", "small")
}
