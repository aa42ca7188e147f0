package perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic input generator. Every value is a hash of (seed, row id,
  * column tag), so a table is the same bytes for the same seed whatever the
  * partitioning, and nothing is read from outside the working directory.
  *
  * The fixture tables follow the shapes and value domains of the program's
  * sf0.1 test tables (`region` … `embeddings`): same column names and types,
  * same row counts, uniform draws over the same ranges.
  */
object Gen {

  /** Uniform double in [0, 1) drawn from (seed, id, tag). */
  def u(seed: Long, id: Column, tag: Int): Column =
    pmod(xxhash64(lit(seed), id, lit(tag)), lit(1L << 40)).cast("double") / lit((1L << 40).toDouble)

  /** Uniform long in [lo, hi]. */
  def ui(seed: Long, id: Column, tag: Int, lo: Long, hi: Long): Column =
    (lit(lo) + floor(u(seed, id, tag) * lit((hi - lo + 1).toDouble))).cast("long")

  def money(seed: Long, id: Column, tag: Int, lo: Double, hi: Double): Column =
    round(lit(lo) + u(seed, id, tag) * lit(hi - lo), 2)

  def pick(seed: Long, id: Column, tag: Int, values: Seq[String]): Column =
    element_at(array(values.map(lit): _*), ui(seed, id, tag, 1, values.size).cast("int"))

  private def day(seed: Long, id: Column, tag: Int, from: String, days: Long): Column =
    date_add(to_date(lit(from)), ui(seed, id, tag, 0, days).cast("int"))
      .cast("timestamp_ntz")

  val Words: Seq[String] = Seq("a", "agg", "batch", "big", "column", "customer", "data", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order", "part", "query", "row",
    "scan", "slow", "small", "sort", "spark", "stream", "table", "the", "value", "vector", "window")

  /** The ten fixture tables at sf0.1 row counts, written as parquet under `dir`. */
  def fixtures(spark: SparkSession, seed: Long, dir: String): Unit = {
    def rows(n: Long): DataFrame = spark.range(0, n, 1, 4).withColumnRenamed("id", "k")
    val k = col("k")
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$dir/$name.parquet")

    write("region", rows(5).select(k.cast("int").as("r_regionkey"),
      element_at(array(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST").map(lit): _*),
        (k + 1).cast("int")).as("r_name")))
    write("nation", rows(25).select(k.cast("int").as("n_nationkey"),
      concat(lit("NATION_"), k.cast("string")).as("n_name"), (k % 5).cast("int").as("n_regionkey")))
    write("customer", rows(15000).select(k.as("c_custkey"),
      format_string("Customer#%09d", k).as("c_name"),
      ui(seed, k, 1, 0, 24).cast("int").as("c_nationkey"),
      money(seed, k, 2, -999.99, 9999.99).as("c_acctbal"),
      pick(seed, k, 3, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))
        .as("c_mktsegment")))
    write("supplier", rows(1000).select(k.as("s_suppkey"),
      format_string("Supplier#%09d", k).as("s_name"),
      ui(seed, k, 4, 0, 24).cast("int").as("s_nationkey"),
      money(seed, k, 5, -999.99, 9999.99).as("s_acctbal")))
    val adjectives = Seq("blue", "hot", "large", "red", "green", "small", "cold", "shiny")
    val nouns = Seq("ring", "bolt", "nut", "gear", "pipe", "valve", "screw", "spring")
    write("part", rows(20000).select(k.as("p_partkey"),
      concat(pick(seed, k, 6, adjectives), lit(" "), pick(seed, k, 7, nouns)).as("p_name"),
      concat(lit("Brand#"), ui(seed, k, 8, 1, 25).cast("string")).as("p_brand"),
      pick(seed, k, 9, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")).as("p_type"),
      ui(seed, k, 10, 1, 50).cast("int").as("p_size"),
      round(lit(900.0) + (k % 1000) / 10.0, 2).as("p_retailprice")))
    write("orders", rows(150000).select(k.as("o_orderkey"),
      ui(seed, k, 11, 0, 14999).as("o_custkey"),
      pick(seed, k, 12, Seq("F", "O", "P")).as("o_orderstatus"),
      money(seed, k, 13, 1000.0, 500000.0).as("o_totalprice"),
      day(seed, k, 14, "1995-01-01", 2403).as("o_orderdate"),
      pick(seed, k, 15, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))
        .as("o_orderpriority")))
    write("lineitem", rows(600000).select(
      ui(seed, k, 16, 0, 149999).as("l_orderkey"),
      ui(seed, k, 17, 0, 19999).as("l_partkey"),
      ui(seed, k, 18, 0, 999).as("l_suppkey"),
      ui(seed, k, 19, 1, 7).cast("int").as("l_linenumber"),
      ui(seed, k, 20, 1, 50).cast("double").as("l_quantity"),
      money(seed, k, 21, 900.0, 105000.0).as("l_extendedprice"),
      (ui(seed, k, 22, 0, 10) / 100.0).as("l_discount"),
      (ui(seed, k, 23, 0, 8) / 100.0).as("l_tax"),
      pick(seed, k, 24, Seq("A", "N", "R")).as("l_returnflag"),
      pick(seed, k, 25, Seq("F", "O")).as("l_linestatus"),
      day(seed, k, 26, "1995-01-02", 2498).as("l_shipdate")))
    write("events", events(spark, seed, 0L, 100000L, 4))
    // every 600th document repeats its predecessor's text: exact duplicates
    // for the dedup operators, as in the program's own fixtures
    val textKey = when(k % 600 === 599, k - 1).otherwise(k)
    val docs = rows(5000).select(k.as("doc_id"), textKey.as("tk"))
      .select(col("doc_id"), array_join(transform(
        sequence(lit(1), ui(seed, col("tk"), 30, 15, 100).cast("int")),
        i => element_at(array(Words.map(lit): _*),
          (pmod(xxhash64(lit(seed), col("tk"), i), lit(Words.size.toLong)) + 1).cast("int"))),
        " ").as("text"),
        when(u(seed, col("doc_id"), 31) < 0.4, "en").otherwise(
          pick(seed, col("doc_id"), 32, Seq("de", "es", "fr", "zh"))).as("lang"),
        concat(lit("src"), (col("doc_id") % 20).cast("string")).as("source"))
      .withColumn("n_chars", length(col("text")).cast("long"))
    write("documents", docs)
    // a sum of four uniforms is close enough to a normal for vector search
    write("embeddings", rows(2000).select(k.as("vec_id"),
      transform(sequence(lit(0), lit(63)), i =>
        ((Seq(0, 1, 2, 3).map(j => pmod(xxhash64(lit(seed), k, i, lit(j)), lit(1L << 24))
          .cast("double")).reduce(_ + _) / lit((1L << 24).toDouble) - lit(2.0)) * lit(0.25))
          .cast("float")).as("embedding"),
      ui(seed, k, 33, 0, 9).cast("int").as("label")))
  }

  val EventTypes: Seq[String] = Seq("click", "error", "purchase", "signup", "view")
  val Epoch2024Us: Long = 1704067200000000L

  /** `events` rows with ids in [from, until): 30 days of event time spread
    * evenly over 100k ids, 1,500 users, five event types.
    */
  def events(spark: SparkSession, seed: Long, from: Long, until: Long, parts: Int): DataFrame = {
    val k = col("id")
    spark.range(from, until, 1, parts).select(k.as("event_id"),
      timestamp_micros(lit(Epoch2024Us) + (k % 100000) * 25920000L + ui(seed, k, 40, 0, 25919999))
        .cast("timestamp_ntz").as("ts"),
      ui(seed, k, 41, 0, 1499).as("user_id"),
      pick(seed, k, 42, EventTypes).as("event_type"),
      money(seed, k, 43, 0.0, 560.0).as("value"),
      format_string("{\"k\": %d}", ui(seed, k, 44, 0, 99)).as("props"))
  }

  /** CDF change rows for commits [from, to], `perCommit` rows each, with
    * `_commit_version` as a column (the catalog's partition column) so a
    * whole history prefix can be written in one partitioned job. Change
    * types: 70% insert, 10% each of update_preimage, update_postimage and
    * delete; the commit timestamp is one minute per version.
    */
  def changes(spark: SparkSession, seed: Long, from: Long, to: Long, perCommit: Int): DataFrame = {
    val n = (to - from + 1) * perCommit
    val parts = math.max(1, math.min(16, (n / 20000).toInt + 1))
    spark.range(from * perCommit, (to + 1) * perCommit, 1, parts).select(
      col("id").as("event_id"),
      (col("id") / perCommit).cast("long").as("_commit_version"),
      ui(seed, col("id"), 50, 0, 1499).as("user_id"),
      pick(seed, col("id"), 51, EventTypes).as("event_type"),
      money(seed, col("id"), 52, 0.0, 560.0).as("value"),
      format_string("{\"k\": %d}", ui(seed, col("id"), 53, 0, 99)).as("props"),
      u(seed, col("id"), 54).as("r"))
      .withColumn("_change_type",
        when(col("r") < 0.7, "insert").when(col("r") < 0.8, "update_preimage")
          .when(col("r") < 0.9, "update_postimage").otherwise("delete"))
      .withColumn("_commit_timestamp",
        timestamp_micros(lit(Epoch2024Us) + col("_commit_version") * 60000000L))
      .drop("r")
  }
}
