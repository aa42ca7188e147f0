package graft.queries


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.engine.{CdcFilter, CdcMaterialize, JobSpec, SqlRewrite, Unload, VersionedCatalog, VoidScrub}
import graft.engine.JobSpec.{JobConfig, ParquetFormat, TableVersionRange}

/** Relational-parity query surface (SURVEY.md §2.3-§2.7, §6 build-plan step 6).
  *
  * Each query is one [[Query]] record in [[ParityQueries.records]]: the
  * Spark implementation here and an equivalent DuckDB oracle — the driver
  * hash-compares both at sf0.01. Aggregated doubles are rounded on BOTH sides so that
  * engine-specific summation order can't flip the last ulp.
  *
  * Scale notes per query are inline; the common themes: small dims are
  * broadcast (no shuffle for the probe side), aggregations are partial
  * (map-side combine) by construction, and every scan prunes columns +
  * pushes filters (asserted on the physical plans in PlanSpec).
  */
object ParityQueries {

  import Tables._

  /** q01: TPC-H Q1-shaped pricing summary — wide-row scan, 6 aggregates over
    * 2 grouping keys. At 100 TB: pure map-side-combine hash agg; the shuffle
    * carries only |groups| × partial-agg rows, so it is scan-bound (the ideal).
    */
  def q01PricingSummary(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_base_price"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("sum_disc_price"),
        round(avg("l_quantity"), 4).as("avg_qty"),
        round(avg("l_discount"), 4).as("avg_disc"),
        count(lit(1)).as("count_order")
      )

  /** q02: star-schema revenue rollup lineitem⋈orders⋈customer⋈nation⋈region.
    * nation/region/customer are broadcast (hinted; at real scale customer
    * might tip past the threshold — then AQE decides, and the orders⋈lineitem
    * join shuffles on the shared orderkey).
    */
  def q02StarJoin(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(orders(spark, dir), col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("line_count")
      )

  /** q03: window rank — top-3 orders per customer by totalprice (unique
    * orderkey tiebreak keeps ranks deterministic). One shuffle on o_custkey;
    * rank + filter happen within partitions, no second exchange.
    */
  def q03WindowTopOrders(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    orders(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
  }

  /** q04: global top-100 by price (take-ordered: per-partition top-k then a
    * single driver merge of k×partitions rows — never a full sort at scale).
    */
  def q04TopK(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_extendedprice")
      .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
      .limit(100)

  /** q05: set operations — UNION (distinct) then EXCEPT (distinct). */
  def q05SetOps(spark: SparkSession, dir: String): DataFrame = {
    val c = customer(spark, dir)
    c.filter(col("c_mktsegment") === "BUILDING").select("c_custkey")
      .union(c.filter(col("c_acctbal") > 5000).select("c_custkey"))
      .distinct()
      .except(c.filter(col("c_nationkey") === 3).select("c_custkey"))
  }

  /** q06: rollup with a distinct aggregate — grouping-set expansion +
    * two-phase distinct count.
    */
  def q06Rollup(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .rollup("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("line_count"),
        countDistinct(col("l_partkey")).as("distinct_parts"),
        round(sum("l_quantity"), 2).as("sum_qty")
      )

  /** q07: export-envelope build (canary SQL shape,
    * `unload_databricks_data_to_s3.py:411`) — fixed timestamp instead of
    * `current_timestamp()` so the oracle can match (SURVEY §7.3 hard part #3);
    * the nested user_properties struct is serialized through an explicit
    * printf-style template so both engines emit byte-identical strings.
    */
  def q07Envelope(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir)
      .select(
        lit(1704067200000L).as("time"),
        col("c_custkey").as("user_id"),
        lit("databricks_import_canary_test_event").as("event_type"),
        format_string("""{"name":"%s","nation":%d,"segment":"%s"}""",
          col("c_name"), col("c_nationkey"), col("c_mktsegment")).as("user_properties")
      )

  // Synthetic CDC decoration shared by q08/q09 — the same expression appears
  // verbatim in the DuckDB oracle, so the CDC semantics themselves (the
  // null-safe filter + metadata drop in CdcFilter) are what's under test.
  private val SyntheticChangeType =
    """CASE WHEN event_id % 10 < 6 THEN 'insert'
      |     WHEN event_id % 10 < 8 THEN 'update_postimage'
      |     WHEN event_id % 10 = 8 THEN 'update_preimage'
      |     ELSE 'delete' END""".stripMargin

  private def syntheticCdc(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn(CdcFilter.ChangeTypeCol, expr(SyntheticChangeType))
      .withColumn("_commit_version", (col("event_id") % 5).cast("long"))
      .withColumn("_commit_timestamp", col("ts"))

  /** q08: CDC EVENT semantics — inserts only, metadata dropped (P1+P2). */
  def q08CdcEvent(spark: SparkSession, dir: String): DataFrame =
    CdcFilter
      .filterData(syntheticCdc(spark, dir), JobSpec.Event)
      .select("event_id", "user_id", "event_type", "value")

  /** q09: CDC property semantics — inserts + update post-images (upsert). */
  def q09CdcProperty(spark: SparkSession, dir: String): DataFrame =
    CdcFilter
      .filterData(syntheticCdc(spark, dir), JobSpec.UserProperty)
      .select("event_id", "user_id", "event_type", "value")

  /** q10: VOID scrub observable behavior (P3) — null-typed columns at
    * several nesting depths are pruned; surviving struct fields are then
    * flattened so the oracle stays plain-relational.
    */
  def q10VoidScrub(spark: SparkSession, dir: String): DataFrame = {
    val decorated = lineitem(spark, dir).select(
      col("l_orderkey"),
      col("l_linenumber"),
      lit(null).as("void_col"),                                  // top-level VOID → dropped
      array(lit(null)).as("void_array"),                         // Array[Void] → dropped
      map_from_arrays(array(lit("k")), array(lit(null))).as("void_map"), // Map[_,Void] → dropped
      struct(col("l_quantity").as("q"), lit(null).as("v")).as("s")       // struct pruned to {q}
    )
    val scrubbed = VoidScrub.dropVoidFields(decorated)
    require(scrubbed.columns.sameElements(Array("l_orderkey", "l_linenumber", "s")),
      s"void scrub produced unexpected columns: ${scrubbed.columns.mkString(",")}")
    scrubbed.select(col("l_orderkey"), col("l_linenumber"), col("s.q").as("s_q"))
  }

  /** q11: identifier-aware SQL rewrite (S3, reference quirk FIXED) — the
    * customer SQL references a dotted table name that also appears inside a
    * string literal and as a prefix of another identifier; only the real
    * identifier occurrence is rewritten to the temp view.
    */
  def q11SqlRewrite(spark: SparkSession, dir: String): DataFrame = {
    val view = SqlRewrite.tempViewName("main.tpch.lineitem", 0L)
    lineitem(spark, dir).createOrReplaceTempView(view)
    val customerSql =
      """SELECT l_returnflag, 'main.tpch.lineitem' AS src_table, count(*) AS cnt
        |FROM main.tpch.lineitem
        |WHERE l_quantity > 10
        |GROUP BY l_returnflag""".stripMargin
    val rewritten = SqlRewrite.rewrite(customerSql, Map("main.tpch.lineitem" -> view))
    require(rewritten.contains("'main.tpch.lineitem'"), "string literal must survive the rewrite")
    spark.sql(rewritten)
  }

  /** q342: SQL PIPE syntax — Spark 4's `|>` operator chain (SPARK-49555),
    * the FROM-first composable query form: scan |> filter |> extend
    * |> aggregate, each stage lowering onto the same Catalyst logical
    * operators orthodox SQL produces. The gate's point is exactly that
    * lowering: the oracle is the orthodox formulation, so pipe-frontend
    * semantics (stage order, EXTEND column scoping, AGGREGATE's
    * keys-then-aggregates output) are machine-checked against the
    * classical plan rather than taken on faith. Cents arithmetic keeps
    * the comparison integer-exact.
    *
    * Scale shape: identical to the orthodox query — one scan with the
    * filter pushed down, one map-side-combined aggregate; the pipe syntax
    * is frontend sugar, not a different plan.
    */
  def q342PipeSyntax(spark: SparkSession, dir: String): DataFrame = {
    lineitem(spark, dir).createOrReplaceTempView("q342_lineitem")
    spark.sql(
      """FROM q342_lineitem
        ||> WHERE l_quantity > 10
        ||> EXTEND CAST(floor(l_extendedprice * 100) AS BIGINT) AS cents
        ||> AGGREGATE count(*) AS n, sum(cents) AS sum_cents
        |   GROUP BY l_returnflag, l_linestatus""".stripMargin)
  }

  private val q342Oracle =
    """SELECT l_returnflag, l_linestatus, count(*)::BIGINT AS n,
      |       sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT AS sum_cents
      |FROM lineitem
      |WHERE l_quantity > 10
      |GROUP BY 1, 2""".stripMargin

  /** q343: correlated LATERAL subquery — per nation, the account-balance
    * maximum and the count of positive-balance customers via a LATERAL
    * derived table referencing the outer row (the SQL:1999 form Spark
    * decorrelates into a join+aggregate; DuckDB executes it natively).
    * The gate pins Spark's decorrelation OUTPUT, not its mechanics: both
    * engines must land on the identical per-nation aggregates, including
    * nations with zero qualifying customers (the LEFT-lateral NULL/zero
    * contract the decorrelator must preserve).
    *
    * Scale shape: the decorrelated plan is a pre-aggregated customer
    * contraction joined to the 25-row nation table — no per-outer-row
    * re-execution survives optimization; that collapse is exactly what
    * the gate certifies.
    */
  def q343LateralAgg(spark: SparkSession, dir: String): DataFrame = {
    nation(spark, dir).createOrReplaceTempView("q343_nation")
    customer(spark, dir).createOrReplaceTempView("q343_customer")
    spark.sql(
      """SELECT n_name,
        |       coalesce(l.max_bal_cents, 0) AS max_bal_cents,
        |       coalesce(l.n_pos, 0) AS n_pos
        |FROM q343_nation
        |LEFT JOIN LATERAL (
        |  SELECT CAST(max(floor(c_acctbal * 100)) AS BIGINT) AS max_bal_cents,
        |         count(CASE WHEN c_acctbal > 0 THEN 1 END) AS n_pos
        |  FROM q343_customer
        |  WHERE c_nationkey = n_nationkey
        |) l ON TRUE""".stripMargin)
  }

  private val q343Oracle =
    """SELECT n_name,
      |       coalesce(l.max_bal_cents, 0)::BIGINT AS max_bal_cents,
      |       coalesce(l.n_pos, 0)::BIGINT AS n_pos
      |FROM nation
      |LEFT JOIN LATERAL (
      |  SELECT max(floor(c_acctbal * 100))::BIGINT AS max_bal_cents,
      |         count(CASE WHEN c_acctbal > 0 THEN 1 END)::BIGINT AS n_pos
      |  FROM customer
      |  WHERE c_nationkey = n_nationkey
      |) l ON TRUE""".stripMargin

  /** q19: CUBE with grouping() indicators — completes the grouping-set
    * family next to q06's ROLLUP (SURVEY §2.5): all four grouping sets are
    * produced in one pass, and `grouping()` disambiguates genuine NULL keys
    * from subtotal rows.
    */
  def q19Cube(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .cube("o_orderpriority", "o_orderstatus")
      .agg(
        grouping(col("o_orderpriority")).cast("int").as("g_pri"),
        grouping(col("o_orderstatus")).cast("int").as("g_st"),
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total")
      )

  /** q82: explicit GROUPING SETS — the third member of the grouping-set
    * family next to q06's ROLLUP and q19's CUBE (SURVEY §2.5), with an
    * ASYMMETRIC set list ((priority, status), (status), ()) that neither
    * rollup nor cube can express. Same one-pass Expand shape: the scan is
    * read once and each row fans out to its grouping sets before the single
    * aggregation shuffle.
    */
  def q82GroupingSets(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .groupingSets(
        Seq(Seq(col("o_orderpriority"), col("o_orderstatus")),
          Seq(col("o_orderstatus")), Seq()),
        col("o_orderpriority"), col("o_orderstatus"))
      .agg(
        grouping(col("o_orderpriority")).cast("int").as("g_pri"),
        grouping(col("o_orderstatus")).cast("int").as("g_st"),
        count(lit(1)).as("n"),
        round(sum("o_totalprice"), 2).as("total"))

  private val q82Oracle =
    """SELECT o_orderpriority, o_orderstatus,
      |       grouping(o_orderpriority)::INT AS g_pri,
      |       grouping(o_orderstatus)::INT AS g_st,
      |       count(*)::BIGINT AS n,
      |       round(sum(o_totalprice), 2) AS total
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderpriority, o_orderstatus),
      |                        (o_orderstatus), ())""".stripMargin

  /** q84: correlated scalar subquery — orders priced above twice their own
    * customer's average (SURVEY §2.5's embedded-SQL surface exercising
    * Catalyst's subquery DECORRELATION: the correlated aggregate rewrites
    * to one per-customer aggregation joined back, not a per-row re-scan —
    * the only plan that survives at 100 TB). Runs through `spark.sql` like
    * the reference's customer SQL would.
    */
  def q84AboveCustomerAvg(spark: SparkSession, dir: String): DataFrame = {
    orders(spark, dir).createOrReplaceTempView("orders_q84")
    spark.sql(
      """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
        |FROM orders_q84 o
        |WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice)
        |                          FROM orders_q84 o2
        |                          WHERE o2.o_custkey = o.o_custkey)""".stripMargin)
  }

  private val q84Oracle =
    """SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS price
      |FROM orders o
      |WHERE o_totalprice > 2 * (SELECT avg(o2.o_totalprice)
      |                          FROM orders o2
      |                          WHERE o2.o_custkey = o.o_custkey)""".stripMargin

  /** q94: exact DECIMAL money arithmetic — prices quantized to
    * DECIMAL(18,2) per row, then summed EXACTLY (decimal aggregation is
    * associative-exact, so no per-engine summation-order rounding and no
    * `round()` crutch on the output — the financial-reporting contract a
    * double sum cannot give). Same two-phase hash-agg shape as q01.
    */
  def q94DecimalMoney(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .select(col("l_returnflag"),
        col("l_extendedprice").cast("decimal(18,2)").as("price"),
        col("l_discount").cast("decimal(18,4)").as("disc"))
      .groupBy("l_returnflag")
      .agg(
        sum("price").as("tp"),
        sum(col("price") * (lit(java.math.BigDecimal.ONE).cast("decimal(18,4)") - col("disc")))
          .as("td"),
        count(lit(1)).as("n"))
      // the AGGREGATION is exact decimal; the final cast to double is one
      // identical rounding of the same exact value on both engines (the
      // driver's comparator reads parquet decimals and DuckDB decimals
      // through different dtypes, so the exact types can't cross directly)
      .select(col("l_returnflag"),
        col("tp").cast("double").as("total_price"),
        col("td").cast("double").as("total_discounted"),
        col("n"))

  private val q94Oracle =
    """SELECT l_returnflag,
      |       sum(l_extendedprice::DECIMAL(18,2))::DOUBLE AS total_price,
      |       sum(l_extendedprice::DECIMAL(18,2) * (1 - l_discount::DECIMAL(18,4)))::DOUBLE
      |         AS total_discounted,
      |       count(*)::BIGINT AS n
      |FROM lineitem GROUP BY 1""".stripMargin

  /** q18: left-semi / left-anti joins (SURVEY §2.4 — reachable through the
    * embedded SQL surface, demonstrated natively here). Per order priority:
    * orders that DO have a big-quantity line (semi) vs orders that don't
    * (anti). Scale shape: the probe side is the distinct-orderkey set of the
    * filtered lineitem scan; semi/anti never materialize matched rows, so
    * the exchange carries join keys only.
    */
  def q18SemiAnti(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir)
    val big = lineitem(spark, dir).filter(col("l_quantity") > 45)
    val semi = o.join(big, col("o_orderkey") === col("l_orderkey"), "left_semi")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_semi"))
    val anti = o.join(big, col("o_orderkey") === col("l_orderkey"), "left_anti")
      .groupBy("o_orderpriority").agg(count(lit(1)).as("n_anti"))
    semi.join(anti, Seq("o_orderpriority"))
  }

  /** q16: versioned snapshot time travel (S1). Authors a two-version history
    * from `events` through [[VersionedCatalog]] (v1 = even event_ids,
    * v2 = all rows), then reads **v1** back via the `fetch_data` dispatch
    * (`start == 0` ⇒ snapshot at `end`) and aggregates. The oracle
    * recomputes the same v1 predicate from the raw table, so a wrong
    * version resolution (e.g. reading v2) flips every group's counts.
    */
  def q16SnapshotTravel(spark: SparkSession, dir: String): DataFrame = {
    val work = Scratch.stableDir("q16-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    val catalog = VersionedCatalog(s"$work/catalog")
    val table = "main.graft.events_snap"
    val ev = events(spark, dir)
    catalog.commitSnapshot(ev.filter(col("event_id") % 2 === 0), table, 1L)
    catalog.commitSnapshot(ev, table, 2L)
    catalog
      .fetchData(spark, TableVersionRange(table, 0L, 1L))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_id"),
        min(col("event_id")).as("min_id"),
        max(col("event_id")).as("max_id"))
  }

  /** q63: timestamp-based time travel (TIMESTAMP AS OF analogue). Authors
    * snapshots v1/v2 plus commits carrying commit timestamps, resolves a
    * timestamp between commit 1 and 2 → version 1 → the v1 snapshot. The
    * oracle recomputes the same v1 membership (even event ids) directly.
    *
    * The authored history is IMMUTABLE per sf dir, so it is built once per
    * JVM (same memoization shape as the streaming-gate staging and the q34
    * prebuilt index): bench trials then time what time travel costs a user
    * — manifest resolution + snapshot read + aggregate — not four rewrites
    * of the events table per trial.
    */
  def q63TimestampTravel(spark: SparkSession, dir: String): DataFrame = {
    val table = "main.graft.events_ts"
    val root = Staging.dir("q63", dir) { root =>
      val catalog = VersionedCatalog(root)
      val ev = events(spark, dir)
      catalog.commitSnapshot(ev.filter(col("event_id") % 2 === 0), table, 1L)
      catalog.commitSnapshot(ev, table, 2L)
      Seq(1L, 2L).foreach { v =>
        catalog.commitChanges(
          ev.filter(col("event_id") % 2 === lit(v % 2))
            .withColumn("_change_type", lit("insert"))
            .withColumn("_commit_timestamp", lit(s"2024-06-0$v 00:00:00")),
          table, v)
      }
    }
    VersionedCatalog(root)
      .snapshotAsOf(spark, table, java.sql.Timestamp.valueOf("2024-06-01 12:00:00"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
  }

  /** q64: CDC state materialization — snapshot + change window compacted to
    * current state, last-writer-wins with deletes (the consumer half of the
    * upsert data-type contract; see [[graft.engine.CdcMaterialize]]).
    * Fixture: base = ids ≡ 0 (mod 3); commit 2 inserts ids ≡ 1 (mod 3);
    * commit 3 post-images ids ≡ 0 (mod 6) with value+1000 and deletes even
    * ids ≡ 1 (mod 3). The oracle replays the same arithmetic relationally.
    */
  private val CdcPropsTable = "main.graft.props"

  /** Author the q64/q99 upsert history once per JVM per sf dir (immutable
    * fixture; same memo shape as q63): snapshot v1 = ids ≡ 0 (mod 3),
    * commit 2 inserts ids ≡ 1 (mod 3), commit 3 updates ids ≡ 0 (mod 6)
    * (+1000) and deletes even ids ≡ 1 (mod 3).
    */
  private def q64CatalogRoot(spark: SparkSession, dir: String): String =
    Staging.dir("q64", dir) { root =>
      val catalog = VersionedCatalog(root)
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      catalog.commitSnapshot(ev.filter(col("event_id") % 3 === 0), CdcPropsTable, 1L)
      catalog.commitChanges(
        ev.filter(col("event_id") % 3 === 1)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_timestamp", lit("2024-06-02 00:00:00")),
        CdcPropsTable, 2L)
      catalog.commitChanges(
        ev.filter(col("event_id") % 6 === 0)
          .withColumn("value", col("value") + 1000)
          .withColumn("_change_type", lit("update_postimage"))
          .union(
            ev.filter(col("event_id") % 3 === 1 && col("event_id") % 2 === 0)
              .withColumn("_change_type", lit("delete")))
          .withColumn("_commit_timestamp", lit("2024-06-03 00:00:00")),
        CdcPropsTable, 3L)
    }

  def q64CdcMaterialize(spark: SparkSession, dir: String): DataFrame = {
    val catalog = VersionedCatalog(q64CatalogRoot(spark, dir))
    CdcMaterialize.currentState(
      catalog.snapshot(spark, CdcPropsTable, 1L),
      catalog.changes(spark, CdcPropsTable, 2L, 3L),
      keyCols = Seq("event_id"),
      snapshotVersion = 1L)
  }

  /** q99: STREAMING incremental materialization via `foreachBatch` — the
    * sixth streaming gate, covering the one streaming API the others don't
    * ([[graft.streaming.CdcStream.materializeStream]]). Commits 2 and 3 are
    * staged as mtime-ordered files, consumed one per micro-batch
    * (`maxFilesPerTrigger=1`), each folded into the parquet state snapshot
    * with the SAME last-writer-wins compaction as batch q64 — so the final
    * state is gated by q64's oracle verbatim: the per-commit fold must
    * reach exactly what one batch compaction of the full history reaches.
    */
  def q99StreamMaterialize(spark: SparkSession, dir: String): DataFrame = {
    val catalog = VersionedCatalog(q64CatalogRoot(spark, dir))
    val inDir = Staging.streamInput("q99", dir)(
      Seq(2L, 3L).map(v => catalog.changes(spark, CdcPropsTable, v, v)))
    val work = Scratch.stableDir("q99-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    val schema = catalog.changes(spark, CdcPropsTable, 2L, 3L).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.CdcStream.drain(
      graft.streaming.CdcStream.materializeStream(
        stream,
        initialState = catalog.snapshot(spark, CdcPropsTable, 1L),
        stateDir = s"$work/state",
        keyCols = Seq("event_id")),
      s"$work/ckpt")
    graft.streaming.CdcStream.currentMaterializedState(spark, s"$work/state")
  }

  /** q123: INCREMENTAL aggregate maintenance
    * ([[graft.engine.CdcMaterialize.incrementalAgg]]) — a per-type
    * (count, integer-cents sum) aggregate kept current by folding each CDC
    * commit at delta cost, never rescanning history. Own fixture (the
    * q64 history carries no pre-images — [[CdcMaterialize.currentState]]
    * ignores them, but sums cannot): commit 3 ships update_preimage +
    * update_postimage PAIRS, so an update nets 0 rows and (post − pre)
    * value. The oracle reconstructs the final state relationally and
    * aggregates it — the folded aggregate must land exactly there.
    */
  private val Q123Table = "main.graft.ivm"
  private def q123CatalogRoot(spark: SparkSession, dir: String): String =
    Staging.dir("q123", dir) { root =>
      val catalog = VersionedCatalog(root)
      val ev = events(spark, dir).select("event_id", "event_type", "value")
      catalog.commitSnapshot(ev.filter(col("event_id") % 3 === 0), Q123Table, 1L)
      catalog.commitChanges(
        ev.filter(col("event_id") % 3 === 1)
          .withColumn("_change_type", lit("insert"))
          .withColumn("_commit_timestamp", lit("2024-06-02 00:00:00")),
        Q123Table, 2L)
      catalog.commitChanges(
        ev.filter(col("event_id") % 6 === 0)
          .withColumn("_change_type", lit("update_preimage"))
          .union(
            ev.filter(col("event_id") % 6 === 0)
              .withColumn("value", col("value") + 1000)
              .withColumn("_change_type", lit("update_postimage")))
          .union(
            ev.filter(col("event_id") % 3 === 1 && col("event_id") % 2 === 0)
              .withColumn("_change_type", lit("delete")))
          .withColumn("_commit_timestamp", lit("2024-06-03 00:00:00")),
        Q123Table, 3L)
    }

  def q123IncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val catalog = VersionedCatalog(q123CatalogRoot(spark, dir))
    def cents(df: DataFrame): DataFrame =
      df.withColumn("cents", floor(col("value") * 100).cast("long"))
    val agg0 = cents(catalog.snapshot(spark, Q123Table, 1L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    // one fold per commit — each at delta cost, the IVM contract
    Seq(2L, 3L).foldLeft(agg0) { (acc, v) =>
      CdcMaterialize.incrementalAgg(acc,
        cents(catalog.changes(spark, Q123Table, v, v)),
        groupCols = Seq("event_type"), valueCol = "cents",
        nCol = "n", sumCol = "sum_cents")
    }
  }

  private val q123Oracle =
    """WITH e AS (SELECT event_id, event_type, value FROM events),
      |state AS (
      |  SELECT event_type,
      |         CASE WHEN event_id % 6 = 0 THEN value + 1000 ELSE value END AS v
      |  FROM e
      |  WHERE event_id % 3 = 0 OR (event_id % 3 = 1 AND event_id % 2 = 1))
      |SELECT event_type, count(*)::BIGINT AS n,
      |       sum(floor(v * 100)::BIGINT)::BIGINT AS sum_cents
      |FROM state GROUP BY event_type""".stripMargin

  /** q130: STREAMING incremental aggregate maintenance — the EIGHTH
    * streaming gate, covering [[graft.streaming.CdcStream.aggregateStream]]:
    * q123's per-commit (count, integer-cents sum) fold run as a
    * `foreachBatch` stream, commits 2 and 3 consumed one per micro-batch
    * from mtime-ordered staged files. The final persisted aggregate is
    * gated by q123's oracle verbatim — the streaming fold must land exactly
    * where the batch fold (and a full re-aggregation) lands.
    */
  def q130StreamIncrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val catalog = VersionedCatalog(q123CatalogRoot(spark, dir))
    val inDir = Staging.streamInput("q130", dir)(
      Seq(2L, 3L).map(v => catalog.changes(spark, Q123Table, v, v)))
    val work = Scratch.stableDir("q130-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    def cents(df: DataFrame): DataFrame =
      df.withColumn("cents", floor(col("value") * 100).cast("long"))
    val agg0 = cents(catalog.snapshot(spark, Q123Table, 1L))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    val schema = catalog.changes(spark, Q123Table, 2L, 3L).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.CdcStream.drain(
      graft.streaming.CdcStream.aggregateStream(
        cents(stream),
        initialAgg = agg0,
        stateDir = s"$work/state",
        groupCols = Seq("event_type"), valueCol = "cents",
        nCol = "n", sumCol = "sum_cents"),
      s"$work/ckpt")
    graft.streaming.CdcStream.currentMaterializedState(spark, s"$work/state")
  }

  /** q181: STREAMING incremental join maintenance — the NINTH streaming
    * gate, covering [[graft.streaming.CdcStream.joinStream]]: the events
    * stream (split `event_id % 3` into an initial base plus two staged
    * micro-batches) is joined to the customer dimension on
    * `user_id = c_custkey`, and each batch extends the persisted
    * materialization by its delta arm only (`J ∪ ΔA⋈B` — the insert-only
    * leg of q179's identity run continuously). The final state is gated
    * by the DEFINITIONAL full join: the streamed materialization must
    * land exactly where one batch join lands.
    */
  def q181StreamIncrementalJoin(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(col("event_id"), col("user_id"), col("event_type"))
    val b = customer(spark, dir)
      .select(col("c_custkey").as("user_id"), col("c_mktsegment"), col("c_nationkey"))
    val inDir = Staging.streamInput("q181", dir)(
      Seq(1L, 2L).map(m => e.filter(col("event_id") % 3 === m)))
    val work = Scratch.stableDir("q181-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    val initial = e.filter(col("event_id") % 3 === 0).join(b, Seq("user_id"))
    val stream = spark.readStream.schema(e.schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    graft.streaming.CdcStream.drain(
      graft.streaming.CdcStream.joinStream(
        stream, staticB = b, initialJ = initial,
        stateDir = s"$work/state", keys = Seq("user_id")),
      s"$work/ckpt")
    graft.streaming.CdcStream.currentMaterializedState(spark, s"$work/state")
  }

  private val q181Oracle =
    """SELECT e.user_id, e.event_id, e.event_type, c.c_mktsegment, c.c_nationkey
      |FROM events e JOIN customer c ON e.user_id = c.c_custkey""".stripMargin

  /** q124: SCD TYPE-2 history ([[CdcMaterialize.scd2History]]) — the full
    * `[valid_from, valid_to)` version timeline per key from the same CDC
    * fixture as q123 (memoized — no second build): snapshot v1 opens,
    * commit 2 inserts, commit 3 updates (closing v1 images at 3, opening
    * the +1000 image) and deletes (closing without opening). The oracle
    * reconstructs every interval relationally from the fixture's residue
    * arithmetic — each (image, valid_from, valid_to) row must match
    * exactly, nullable `valid_to` = current.
    */
  def q124Scd2History(spark: SparkSession, dir: String): DataFrame = {
    val catalog = VersionedCatalog(q123CatalogRoot(spark, dir))
    CdcMaterialize.scd2History(
        catalog.snapshot(spark, Q123Table, 1L),
        catalog.changes(spark, Q123Table, 2L, 3L),
        keyCols = Seq("event_id"), snapshotVersion = 1L)
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        col("valid_from"), col("valid_to"))
  }

  private val q124Oracle =
    """WITH e AS (SELECT event_id, event_type, value FROM events)
      |SELECT event_id, event_type, floor(value * 100)::BIGINT AS cents,
      |       1::BIGINT AS valid_from,
      |       (CASE WHEN event_id % 6 = 0 THEN 3 END)::BIGINT AS valid_to
      |FROM e WHERE event_id % 3 = 0
      |UNION ALL
      |SELECT event_id, event_type, floor((value + 1000) * 100)::BIGINT,
      |       3::BIGINT, NULL::BIGINT
      |FROM e WHERE event_id % 6 = 0
      |UNION ALL
      |SELECT event_id, event_type, floor(value * 100)::BIGINT, 2::BIGINT,
      |       (CASE WHEN event_id % 2 = 0 THEN 3 END)::BIGINT
      |FROM e WHERE event_id % 3 = 1""".stripMargin

  /** q316: POINT-IN-TIME join against SCD2 history — the feature-store
    * lookup q124's timeline exists to serve: each fact row carries an
    * as-of version (deterministic `1 + event_id % 3`) and joins to the
    * ONE image valid at it (`valid_from ≤ v < valid_to`, open `valid_to`
    * = current) — the leakage-free "dimension as it was" join that
    * training-data builds require (q61's as-of join over event time, here
    * over COMMIT time against a versioned dimension). Keys whose as-of
    * version precedes their first image (commit-2 inserts probed at v=1)
    * drop out of the inner join — exactly the rows a feature store must
    * NOT fabricate. SCD2 interval disjointness guarantees ≤ 1 match per
    * fact row; Scd2PitSpec-style checks ride the oracle hash.
    *
    * Scale shape: equi-join on the key with the interval test as a
    * residual predicate — never a range-only join; the history side is
    * the |keys × versions| contraction of the CDC log.
    */
  def q316PitJoin(spark: SparkSession, dir: String): DataFrame = {
    val catalog = VersionedCatalog(q123CatalogRoot(spark, dir))
    val hist = CdcMaterialize.scd2History(
        catalog.snapshot(spark, Q123Table, 1L),
        catalog.changes(spark, Q123Table, 2L, 3L),
        keyCols = Seq("event_id"), snapshotVersion = 1L)
      .select(col("event_id").as("h_event_id"),
        floor(col("value") * 100).cast("long").as("cents"),
        col("valid_from"), col("valid_to"))
    val facts = events(spark, dir)
      .select(col("event_id"), (lit(1) + col("event_id") % 3).cast("long").as("asof_v"))
    facts.join(hist,
        col("event_id") === col("h_event_id") &&
          col("valid_from") <= col("asof_v") &&
          (col("valid_to").isNull || col("asof_v") < col("valid_to")))
      .select(col("event_id"), col("asof_v"), col("cents"))
  }

  private val q316Oracle =
    """WITH e AS (SELECT event_id, value FROM events),
      |hist AS (
      |  SELECT event_id, floor(value * 100)::BIGINT AS cents,
      |         1::BIGINT AS valid_from,
      |         (CASE WHEN event_id % 6 = 0 THEN 3 END)::BIGINT AS valid_to
      |  FROM e WHERE event_id % 3 = 0
      |  UNION ALL
      |  SELECT event_id, floor((value + 1000) * 100)::BIGINT, 3::BIGINT, NULL::BIGINT
      |  FROM e WHERE event_id % 6 = 0
      |  UNION ALL
      |  SELECT event_id, floor(value * 100)::BIGINT, 2::BIGINT,
      |         (CASE WHEN event_id % 2 = 0 THEN 3 END)::BIGINT
      |  FROM e WHERE event_id % 3 = 1),
      |f AS (SELECT event_id, (1 + event_id % 3)::BIGINT AS asof_v FROM events)
      |SELECT f.event_id, f.asof_v, h.cents
      |FROM f JOIN hist h ON h.event_id = f.event_id
      |  AND h.valid_from <= f.asof_v
      |  AND (h.valid_to IS NULL OR f.asof_v < h.valid_to)""".stripMargin

  /** q135: snapshot DIFF ([[CdcMaterialize.diffSnapshots]]) — CDC
    * GENERATION: the exact change set between the q123 fixture's snapshot
    * and its fully-materialized final state. The oracle derives every
    * emitted row (inserts for surviving commit-2 keys, pre+post pairs for
    * the +1000 updates; the fixture deletes no snapshot key, so no delete
    * rows) from the residue arithmetic — and because the diff carries real
    * pre-images, it is the round-trip input [[CdcMaterialize
    * .incrementalAgg]] can fold (CdcMaterializeSpec proves the identity).
    */
  def q135SnapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val catalog = VersionedCatalog(q123CatalogRoot(spark, dir))
    val before = catalog.snapshot(spark, Q123Table, 1L)
    val after = CdcMaterialize.currentState(
      before, catalog.changes(spark, Q123Table, 2L, 3L),
      keyCols = Seq("event_id"), snapshotVersion = 1L)
    CdcMaterialize.diffSnapshots(before, after, keyCols = Seq("event_id"))
      .select(col("event_id"), col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"),
        col("_change_type"))
  }

  private val q135Oracle =
    """WITH e AS (SELECT event_id, event_type, value FROM events)
      |SELECT event_id, event_type, floor(value * 100)::BIGINT AS cents,
      |       'insert' AS _change_type
      |FROM e WHERE event_id % 3 = 1 AND event_id % 2 = 1
      |UNION ALL
      |SELECT event_id, event_type, floor(value * 100)::BIGINT,
      |       'update_preimage'
      |FROM e WHERE event_id % 6 = 0
      |UNION ALL
      |SELECT event_id, event_type, floor((value + 1000) * 100)::BIGINT,
      |       'update_postimage'
      |FROM e WHERE event_id % 6 = 0""".stripMargin

  /** q132: fixed-point integer PageRank ([[graft.ext.Graph
    * .pageRankIntFixed]]) over the customer→supplier trade graph (distinct
    * (o_custkey, l_suppkey) pairs, ids disjointly namespaced as 2k / 2k+1)
    * — 3 rounds, damping 1/2, scale 2^20. Every arithmetic step is integer
    * (multiply, floor-divide, sum), so the oracle unrolls the identical
    * three iterations in SQL and the scores must match bit-for-bit —
    * the hash-gateable formulation of an operator that is float-fuzzy
    * everywhere else.
    */
  def q132PageRank(spark: SparkSession, dir: String): DataFrame = {
    // shared staged edge relation — see GraphFixtures.tradeEdges
    val edges = GraphFixtures.tradeEdges(spark, dir)
    graft.ext.Graph.pageRankIntFixed(edges, iters = 3)
  }

  private val q132Oracle = {
    def iter(prev: String, name: String): String =
      s"""$name AS (
         |  SELECT n.node,
         |         (524288 + coalesce(sum(s.score // (2 * d.outdeg)), 0))::BIGINT AS score
         |  FROM nodes n
         |  LEFT JOIN edges e ON e.dst = n.node
         |  LEFT JOIN $prev s ON e.src = s.node
         |  LEFT JOIN deg d ON e.src = d.src
         |  GROUP BY n.node)""".stripMargin
    s"""WITH edges AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |nodes AS (SELECT src AS node FROM edges UNION SELECT dst FROM edges),
       |deg AS (SELECT src, count(*)::BIGINT AS outdeg FROM edges GROUP BY 1),
       |s0 AS (SELECT node, 1048576::BIGINT AS score FROM nodes),
       |${iter("s0", "it1")},
       |${iter("it1", "it2")},
       |${iter("it2", "it3")}
       |SELECT node, score FROM it3""".stripMargin
  }

  /** q154: per-node triangle counts over the supplier co-order graph
    * ([[graft.ext.Graph.triangleCounts]] — degree-oriented, O(m^1.5)).
    *
    * The raw co-order graph (suppliers sharing an order) saturates toward
    * a clique as sf grows — at sf0.01 it IS complete — so the graph is
    * first sparsified with the deterministic md5 edge gate at p = 1/10:
    * DOULION's (Tsourakakis et al., KDD'09) sparsify-then-count estimator,
    * with the engine's standard 60-bit hash gate standing in for the coin
    * flips ([[graft.ext.Sampling.hashGate]] — same arithmetic as q44, so
    * the oracle replays it and the result stays hash-exact; a real run
    * scales the global triangle total by p⁻³ for the unbiased estimate).
    * The gate runs BEFORE the distinct — the kept pair set, its degrees,
    * and all wedges are 10× smaller, and the per-order pair fan-out
    * (≤ C(lines-per-order, 2), a constant) is the only pre-gate cost.
    */
  def q154Triangles(spark: SparkSession, dir: String): DataFrame = {
    // fanOut before the self-join: the 60-bit md5 edge gate + pair fan-out
    // is per-row CPU work, and an 11 MB parquet arrives as 3 input splits —
    // without the spread the whole gate stage runs on 3 of 32 cores
    // (r15 stage profile: 3.5 s of the query's 5.1 s in that one stage).
    // At real scale the scan already has ≥ parallelism splits and fanOut
    // is a no-op (guide §2.5 input-parallelism, §2.6 idle capacity).
    val li = fanOut(lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey")))
    val pairs = li.as("a")
      .join(li.as("b"),
        col("a.l_orderkey") === col("b.l_orderkey") &&
          col("a.l_suppkey") < col("b.l_suppkey"))
      .select(col("a.l_suppkey").as("src"), col("b.l_suppkey").as("dst"))
    val kept = pairs.filter(
      graft.ext.Sampling.hashGate(concat_ws("_", col("src"), col("dst")), 0.1))
    graft.ext.Graph.triangleCounts(kept)
  }

  private val q154Oracle = {
    val thr = (0.1 * (1L << 60).toDouble).toLong // same literal as hashGate(_, 0.1)
    s"""WITH raw AS (
       |  SELECT DISTINCT a.l_suppkey AS lo, b.l_suppkey AS hi
       |  FROM lineitem a JOIN lineitem b
       |    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey),
       |e AS (SELECT lo, hi FROM raw
       |      WHERE ('0x' || substr(md5(lo::VARCHAR || '_' || hi::VARCHAR), 1, 15))::BIGINT < $thr),
       |deg AS (SELECT node, count(*)::BIGINT AS deg
       |        FROM (SELECT lo AS node FROM e UNION ALL SELECT hi FROM e)
       |        GROUP BY 1),
       |o AS (SELECT CASE WHEN dl.deg <= dh.deg THEN e.lo ELSE e.hi END AS s,
       |             CASE WHEN dl.deg <= dh.deg THEN e.hi ELSE e.lo END AS d,
       |             CASE WHEN dl.deg <= dh.deg THEN dh.deg ELSE dl.deg END AS dd
       |      FROM e JOIN deg dl ON dl.node = e.lo
       |             JOIN deg dh ON dh.node = e.hi),
       |w AS (SELECT e1.s, e1.d AS b, e2.d AS c
       |      FROM o e1 JOIN o e2 ON e1.s = e2.s
       |       AND (e1.dd < e2.dd OR (e1.dd = e2.dd AND e1.d < e2.d))),
       |tri AS (SELECT w.s AS a, w.b, w.c
       |        FROM w JOIN o ON o.s = w.b AND o.d = w.c),
       |pn AS (SELECT node, count(*)::BIGINT AS n_tri
       |       FROM (SELECT a AS node FROM tri
       |             UNION ALL SELECT b FROM tri
       |             UNION ALL SELECT c FROM tri)
       |       GROUP BY 1)
       |SELECT deg.node, deg.deg, coalesce(pn.n_tri, 0)::BIGINT AS n_tri
       |FROM deg LEFT JOIN pn ON pn.node = deg.node""".stripMargin
  }

  /** q100/q101: sink→source ROUND TRIPS for the two other columnar/text
    * formats in the image (the reference exports JSON + parquet — K1/K2;
    * CSV and ORC complete the portability story). Each writes the events
    * table once per JVM per sf dir (memoized like every immutable fixture),
    * reads it back through the corresponding source, and aggregates; the
    * oracle aggregates the ORIGINAL parquet — so a row lost, duplicated or
    * mangled in either direction of the round trip cannot hash-match.
    * CSV carries integer/string columns only (float→text→float is not
    * bit-stable); ORC is binary columnar, so doubles ride along.
    */
  def q100CsvRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Staging.dir("q100-csv", dir) { p =>
      events(spark, dir).select(col("event_id"), col("user_id"), col("event_type"))
        .write.mode("overwrite").option("header", "true").csv(p)
    }
    spark.read.option("header", "true")
      .schema("event_id LONG, user_id LONG, event_type STRING")
      .csv(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_id"),
        countDistinct(col("user_id")).as("n_users"))
  }

  private val q100Oracle =
    """SELECT event_type, count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_id,
      |       count(DISTINCT user_id)::BIGINT AS n_users
      |FROM events GROUP BY 1""".stripMargin

  /** q191: partitioned-layout write + pruned read — events written
    * `partitionBy(day)` (the Hive-style layout every lake table uses for
    * time partitioning), read back through a partition-column predicate.
    * The predicate must land in the scan's `PartitionFilters`
    * (PlanSpec-asserted): whole directories are skipped BEFORE any
    * footer is opened — coarse-grained pruning above q171's file-level
    * zone maps. The aggregate is q100's roundtrip gate shape, so the
    * layout cannot silently drop or duplicate rows.
    */
  def q191PartitionedWrite(spark: SparkSession, dir: String): DataFrame = {
    val path = Staging.dir("q191-part", dir) { p =>
      events(spark, dir)
        .withColumn("day", Tables.tsDay)
        .select(col("event_id"), col("user_id"), col("event_type"), col("day"))
        .write.mode("overwrite").partitionBy("day").parquet(p)
    }
    spark.read.parquet(path)
      .filter(col("day") % 2 === 0)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        countDistinct(col("day")).as("n_days"))
  }

  private val q191Oracle =
    """SELECT event_type, count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_id,
      |       count(DISTINCT epoch_us(ts) // 86400000000)::BIGINT AS n_days
      |FROM events WHERE (epoch_us(ts) // 86400000000) % 2 = 0
      |GROUP BY 1""".stripMargin

  def q101OrcRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Staging.dir("q101-orc", dir) { p =>
      events(spark, dir).select(col("event_id"), col("event_type"), col("value"))
        .write.mode("overwrite").orc(p)
    }
    spark.read.orc(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_id"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  private val q101Oracle =
    """SELECT event_type, count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_id,
      |       round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  /** JSON-lines round trip — the READ side of the K1 JSON writer family
    * (the reference's primary sink format): write a projection as
    * newline-delimited JSON, read it back under an explicit schema (schema
    * inference would re-scan the data — never at 100 TB), and aggregate.
    * The hash match against the source-table oracle proves write→read
    * fidelity including long integers and the double `value` column.
    */
  def q153JsonlRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val path = Staging.dir("q153-jsonl", dir) { p =>
      events(spark, dir).select(col("event_id"), col("user_id"),
          col("event_type"), col("value"))
        .write.mode("overwrite").json(p)
    }
    spark.read
      .schema("event_id LONG, user_id LONG, event_type STRING, value DOUBLE")
      .json(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("event_id")).as("sum_id"),
        countDistinct(col("user_id")).as("n_users"),
        round(sum(col("value")), 4).as("sum_value"))
  }

  private val q153Oracle =
    """SELECT event_type, count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_id,
      |       count(DISTINCT user_id)::BIGINT AS n_users,
      |       round(sum(value), 4) AS sum_value
      |FROM events GROUP BY 1""".stripMargin

  private val q64Oracle =
    """WITH rows_ AS (
      |  SELECT event_id, event_type, value, 1 AS v, 'insert' AS ct
      |  FROM events WHERE event_id % 3 = 0
      |  UNION ALL
      |  SELECT event_id, event_type, value, 2, 'insert'
      |  FROM events WHERE event_id % 3 = 1
      |  UNION ALL
      |  SELECT event_id, event_type, value + 1000, 3, 'update_postimage'
      |  FROM events WHERE event_id % 6 = 0
      |  UNION ALL
      |  SELECT event_id, event_type, value, 3, 'delete'
      |  FROM events WHERE event_id % 3 = 1 AND event_id % 2 = 0),
      |latest AS (
      |  SELECT *, row_number() OVER (PARTITION BY event_id ORDER BY v DESC) AS rn
      |  FROM rows_)
      |SELECT event_id, event_type, value FROM latest
      |WHERE rn = 1 AND ct <> 'delete'""".stripMargin

  /** q17: CDF range scan (S2) + CDC EVENT filter (P1/P2). Authors commits
    * 1..3 (commit v holds the `event_id % 3 == v-1` slice, decorated with
    * the synthetic `_change_type`), reads the **[2, 3] window** through the
    * partition-pruned CDF path, applies EVENT semantics (inserts only,
    * metadata dropped) and aggregates. The oracle recomputes the window +
    * filter from the raw table: a mis-pruned commit or a wrong CDC
    * predicate changes the numbers.
    */
  def q17CdfWindow(spark: SparkSession, dir: String): DataFrame = {
    val work = Scratch.stableDir("q17-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    val catalog = VersionedCatalog(s"$work/catalog")
    val table = "main.graft.events_cdf"
    val ev = events(spark, dir)
    (1L to 3L).foreach { v =>
      val changes = ev
        .filter(col("event_id") % 3 === lit(v - 1))
        .withColumn(CdcFilter.ChangeTypeCol, expr(SyntheticChangeType))
        .withColumn("_commit_timestamp", col("ts"))
      catalog.commitChanges(changes, table, v)
    }
    CdcFilter
      .filterData(catalog.fetchData(spark, TableVersionRange(table, 2L, 3L)), JobSpec.Event)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"))
  }

  /** q68: mutability-mode bypass (P5, `unload_databricks_data_to_s3.py:301-302,
    * 434-438`). Runs the FULL unload pipeline — view build, SQL rewrite,
    * partition sizing, parquet write — with `mutabilityMode = true` over a
    * synthetic CDF window, then reads the written files back. The bypass
    * must skip the CDC filter entirely even though `dataType = Event`:
    * preimage/delete rows and the `_change_type` / `_commit_version`
    * metadata columns all reach the output. The oracle recomputes the raw
    * window rows + metadata from the base table, so a regression that
    * re-applies EVENT semantics (dropping non-inserts or metadata) is a
    * hash mismatch, not just a row-count change.
    */
  def q68MutabilityBypass(spark: SparkSession, dir: String): DataFrame = {
    val work = Scratch.stableDir("q68-" + Scratch.md5Hex(dir)) // sf-keyed: q400 rule
    val catalog = VersionedCatalog(s"$work/catalog")
    val table = "main.graft.events_mut"
    val ev = events(spark, dir)
    (1L to 3L).foreach { v =>
      catalog.commitChanges(
        ev.filter(col("event_id") % 3 === lit(v - 1))
          .withColumn(CdcFilter.ChangeTypeCol, expr(SyntheticChangeType))
          .withColumn("_commit_timestamp", lit(s"2024-07-0$v 00:00:00")),
        table, v)
    }
    val cfg = JobConfig(
      tables = Seq(TableVersionRange(table, 2L, 3L)),
      dataType = JobSpec.Event, // would drop preimages/deletes — the bypass must win
      sql = s"""SELECT event_id, user_id, event_type, value, _change_type,
               |       CAST(_commit_version AS BIGINT) AS _commit_version
               |FROM $table""".stripMargin,
      outputPath = s"$work/out",
      format = ParquetFormat,
      mutabilityMode = true)
    Unload.run(spark, catalog, cfg)
    spark.read.parquet(s"$work/out")
  }

  /** q173: TPC-H Q5-shaped "local supplier" revenue — the 6-way star join
    * with the STRUCTURAL constraint q02 lacks: the supplier must sit in
    * the customer's own nation (`s_nationkey = c_nationkey` rides the
    * supplier join as a residual), plus a 2-year date window on orders.
    *
    * Scale shape: the only data-sized shuffle is lineitem⋈orders on the
    * shared orderkey; customer/supplier/nation/region broadcast (hinted —
    * at a scale where customer outgrows the threshold AQE demotes it).
    * The year filter prunes the orders scan before the join.
    */
  def q173LocalSupplierRevenue(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(orders(spark, dir).filter(expr("year(o_orderdate) BETWEEN 1996 AND 1997")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(supplier(spark, dir)),
        col("l_suppkey") === col("s_suppkey") && col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2).as("revenue"),
        count(lit(1)).as("n_lines"))

  private val q173Oracle =
    """SELECT r_name, n_name,
      |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
      |       count(*)::BIGINT AS n_lines
      |FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN supplier ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey
      |  JOIN nation ON s_nationkey = n_nationkey
      |  JOIN region ON n_regionkey = r_regionkey
      |WHERE year(o_orderdate) BETWEEN 1996 AND 1997
      |GROUP BY 1, 2""".stripMargin

  /** q177: TPC-H Q11-shaped "important stock" — per-part total quantity
    * kept only when it clears a GLOBAL threshold (1.2× the mean per-part
    * share), the uncorrelated-scalar-subquery HAVING pattern. Quantities
    * are floored to BIGINT so every sum and the threshold comparison are
    * integer-exact; the share is integer ppm.
    *
    * Scale shape: one shuffle to |parts| rows; the grand total and part
    * count are a 1-row aggregate broadcast back (never a driver value),
    * and the threshold is an integer cross-multiplication —
    * `total·n_parts·10 > grand·12` — no float share per row.
    */
  def q177ImportantParts(spark: SparkSession, dir: String): DataFrame = {
    val perPart = lineitem(spark, dir)
      .withColumn("qty", floor(col("l_quantity")).cast("long"))
      .groupBy("l_partkey").agg(sum(col("qty")).as("total_qty"))
    val global = perPart.agg(sum(col("total_qty")).as("grand_qty"),
      count(lit(1)).as("n_parts"))
    perPart.crossJoin(broadcast(global))
      .filter(col("total_qty") * col("n_parts") * 10 > col("grand_qty") * 12)
      .select(col("l_partkey"), col("total_qty"),
        expr("(1000000 * total_qty) div grand_qty").as("share_ppm"))
  }

  private val q177Oracle =
    """WITH pp AS (SELECT l_partkey, sum(floor(l_quantity)::BIGINT)::BIGINT AS total_qty
      |            FROM lineitem GROUP BY 1),
      |g AS (SELECT sum(total_qty)::BIGINT AS grand_qty, count(*)::BIGINT AS n_parts FROM pp)
      |SELECT l_partkey, total_qty, (1000000 * total_qty) // grand_qty AS share_ppm
      |FROM pp CROSS JOIN g
      |WHERE total_qty * n_parts * 10 > grand_qty * 12""".stripMargin

  /** q213: TPC-H Q7-shaped volume shipping — bilateral trade volume between
    * two fixed nations, by supplier-nation/customer-nation direction and
    * ship year. The fact table joins out to BOTH a supplier dimension chain
    * and a customer dimension chain, then filters to the 2×2 nation pairs
    * minus the diagonal (reference surface: cross-entity star joins,
    * `unload_databricks_data_to_s3.py` §table-join config).
    *
    * Scale shape: supplier/customer/nation are broadcast (probe side never
    * shuffles); the orders join is the one big shuffle, keyed l_orderkey —
    * the same key q02/q173 shuffle on, so at 100 TB a shared orderkey
    * bucketing amortizes all three. The nation filter is pushed below the
    * join via the broadcast dim, so non-qualifying rows die at the scan.
    */
  def q213VolumeShipping(spark: SparkSession, dir: String): DataFrame = {
    val suppNation = supplier(spark, dir)
      .join(nation(spark, dir).withColumnRenamed("n_name", "supp_nation"),
        col("s_nationkey") === col("n_nationkey"))
      .select("s_suppkey", "supp_nation")
    val custNation = customer(spark, dir)
      .join(nation(spark, dir).withColumnRenamed("n_name", "cust_nation"),
        col("c_nationkey") === col("n_nationkey"))
      .select("c_custkey", "cust_nation")
    lineitem(spark, dir)
      .join(orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(suppNation), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(custNation), col("o_custkey") === col("c_custkey"))
      .filter(
        (col("supp_nation") === "NATION_3" && col("cust_nation") === "NATION_7") ||
        (col("supp_nation") === "NATION_7" && col("cust_nation") === "NATION_3"))
      .groupBy(col("supp_nation"), col("cust_nation"),
        year(col("l_shipdate")).cast("long").as("l_year"))
      .agg(round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 2)
        .as("revenue"))
  }

  private val q213Oracle =
    """SELECT supp_nation, cust_nation, l_year,
      |       round(sum(volume), 2) AS revenue
      |FROM (
      |  SELECT ns.n_name AS supp_nation, nc.n_name AS cust_nation,
      |         year(l_shipdate) AS l_year,
      |         l_extendedprice * (1 - l_discount) AS volume
      |  FROM lineitem
      |    JOIN orders   ON l_orderkey = o_orderkey
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation ns ON s_nationkey = ns.n_nationkey
      |    JOIN nation nc ON c_nationkey = nc.n_nationkey
      |  WHERE (ns.n_name = 'NATION_3' AND nc.n_name = 'NATION_7')
      |     OR (ns.n_name = 'NATION_7' AND nc.n_name = 'NATION_3'))
      |GROUP BY 1, 2, 3""".stripMargin

  /** q214: TPC-H Q8-shaped market share — the share of ASIA-region revenue
    * on STANDARD-type parts captured by suppliers from one nation, per
    * order year. The classic conditional-aggregate-over-join pattern:
    * `sum(CASE WHEN supplier is ours THEN volume END) / sum(volume)`.
    * Revenue is summed as DECIMAL (exact — float summation ORDER differs
    * between engines and a 2-dp round can land on a half-cent boundary;
    * it did, at sf0.01) and published as floor-cents BIGINT; the share is
    * integer ppm over the cents. Bit-exact on both engines by arithmetic,
    * not by tolerance.
    *
    * Scale shape: part is the selective dim — STANDARD prunes ~5/6 of the
    * fact early via the broadcast-hash join; customer-region and
    * supplier-nation are broadcast flags folded into the aggregate, so the
    * whole query is one shuffle to |years| rows.
    */
  def q214MarketShare(spark: SparkSession, dir: String): DataFrame = {
    val stdParts = part(spark, dir)
      .filter(col("p_type") === "STANDARD").select("p_partkey")
    val asiaCust = customer(spark, dir)
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir).filter(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select("c_custkey")
    val suppFlag = supplier(spark, dir)
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), (col("n_name") === "NATION_5").cast("long").as("is_ours"))
    lineitem(spark, dir)
      .join(broadcast(stdParts), col("l_partkey") === col("p_partkey"))
      .join(orders(spark, dir).select("o_orderkey", "o_custkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(asiaCust), col("o_custkey") === col("c_custkey"), "left_semi")
      .join(broadcast(suppFlag), col("l_suppkey") === col("s_suppkey"))
      .withColumn("volume",
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(30,10)"))
      .groupBy(year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(
        floor(sum(when(col("is_ours") === 1L, col("volume"))
          .otherwise(lit(0).cast("decimal(30,10)"))) * 100).cast("long").as("ours_cents"),
        floor(sum(col("volume")) * 100).cast("long").as("total_cents"))
      .select(col("o_year"), col("ours_cents"), col("total_cents"),
        expr("(1000000 * ours_cents) div total_cents").as("share_ppm"))
  }

  private val q214Oracle =
    """WITH vol AS (
      |  SELECT year(o_orderdate) AS o_year,
      |         (l_extendedprice * (1 - l_discount))::DECIMAL(30,10) AS volume,
      |         (n2.n_name = 'NATION_5')::BIGINT AS is_ours
      |  FROM lineitem
      |    JOIN part     ON l_partkey = p_partkey AND p_type = 'STANDARD'
      |    JOIN orders   ON l_orderkey = o_orderkey
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation n2 ON s_nationkey = n2.n_nationkey
      |  WHERE o_custkey IN (
      |    SELECT c_custkey FROM customer
      |      JOIN nation ON c_nationkey = n_nationkey
      |      JOIN region ON n_regionkey = r_regionkey
      |    WHERE r_name = 'ASIA')),
      |a AS (SELECT o_year,
      |        floor(sum(CASE WHEN is_ours = 1 THEN volume
      |                       ELSE 0::DECIMAL(30,10) END) * 100)::BIGINT AS ours_cents,
      |        floor(sum(volume) * 100)::BIGINT AS total_cents
      |      FROM vol GROUP BY 1)
      |SELECT o_year, ours_cents, total_cents,
      |       (1000000 * ours_cents) // total_cents AS share_ppm
      |FROM a""".stripMargin

  /** q215: TPC-H Q21-shaped waiting-supplier audit — suppliers who were the
    * SOLE late shipper on a finished multi-supplier order. "Late" is
    * `l_shipdate > o_orderdate + 60 days` (this schema has no
    * receipt/commit dates; the lateness predicate is the only adaptation —
    * the join algebra is Q21's exactly: one big-big self semi-join, one
    * big-big self anti-join, both on l_orderkey).
    *
    * Scale shape: the two self-joins reuse the SAME l_orderkey
    * partitioning — Catalyst plans one Exchange and chains both joins on
    * it; supplier is broadcast. The `.filter` on lateness runs before
    * either self-join, shrinking the left side first. Top-100 via the
    * bounded CollectTopK sort-limit.
    */
  def q215WaitingSupplier(spark: SparkSession, dir: String): DataFrame = {
    val li = lineitem(spark, dir).select("l_orderkey", "l_suppkey", "l_shipdate")
    val late = li
      .join(orders(spark, dir)
          .filter(col("o_orderstatus") === "F").select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
      .select("l_orderkey", "l_suppkey")
    val l2 = li.select(col("l_orderkey").as("o2"), col("l_suppkey").as("s2"))
    val lateOther = late.select(col("l_orderkey").as("o3"), col("l_suppkey").as("s3"))
    late
      .join(l2, col("l_orderkey") === col("o2") && col("l_suppkey") =!= col("s2"),
        "left_semi")
      .join(lateOther,
        col("l_orderkey") === col("o3") && col("l_suppkey") =!= col("s3"),
        "left_anti")
      .join(broadcast(supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .groupBy("s_name")
      .agg(count(lit(1)).as("numwait"))
      .orderBy(col("numwait").desc, col("s_name"))
      .limit(100)
  }

  private val q215Oracle =
    """SELECT s_name, count(*)::BIGINT AS numwait
      |FROM lineitem l1
      |  JOIN orders ON l1.l_orderkey = o_orderkey AND o_orderstatus = 'F'
      |  JOIN supplier ON l1.l_suppkey = s_suppkey
      |WHERE date_diff('day', o_orderdate::DATE, l1.l_shipdate::DATE) > 60
      |  AND EXISTS (SELECT 1 FROM lineitem l2
      |              WHERE l2.l_orderkey = l1.l_orderkey
      |                AND l2.l_suppkey <> l1.l_suppkey)
      |  AND NOT EXISTS (
      |    SELECT 1 FROM lineitem l3
      |      JOIN orders o3 ON l3.l_orderkey = o3.o_orderkey AND o3.o_orderstatus = 'F'
      |    WHERE l3.l_orderkey = l1.l_orderkey
      |      AND l3.l_suppkey <> l1.l_suppkey
      |      AND date_diff('day', o3.o_orderdate::DATE, l3.l_shipdate::DATE) > 60)
      |GROUP BY s_name
      |ORDER BY numwait DESC, s_name
      |LIMIT 100""".stripMargin

  /** q223: functional-dependency profile — for candidate column pairs
    * det→dep, how many determinant values map to MORE than one dependent
    * value (violations), plus the worst fan-out. The schema-inference pass
    * a pipeline runs before trusting a column as a join/partition key or
    * declaring an FD for layout decisions (q178's per-column profile is
    * the unary sibling; this is the binary structure). o_orderkey→o_custkey
    * HOLDS (a real key); the lineitem candidates are all violated — the
    * report proves both directions.
    *
    * Scale shape: per candidate, one det-keyed shuffle with partial
    * distinct, re-aggregated to ONE row; the union is 4 rows total.
    */
  def q223FdProfile(spark: SparkSession, dir: String): DataFrame = {
    def fd(df: DataFrame, det: String, dep: String): DataFrame =
      df.groupBy(col(det))
        .agg(countDistinct(col(dep)).as("ndv"))
        .agg(count(lit(1)).as("n_det"),
          sum((col("ndv") > 1).cast("long")).as("n_violating"),
          max(col("ndv")).as("max_fanout"))
        .select(lit(s"$det->$dep").as("fd"), col("n_det"), col("n_violating"),
          expr("(1000000 * n_violating) div n_det").as("violation_ppm"),
          col("max_fanout"))
    val li = lineitem(spark, dir)
    val o = orders(spark, dir)
    fd(li, "l_orderkey", "l_suppkey")
      .unionByName(fd(li, "l_partkey", "l_suppkey"))
      .unionByName(fd(o, "o_orderkey", "o_custkey"))
      .unionByName(fd(o, "o_custkey", "o_orderpriority"))
  }

  private val q223Oracle = {
    def fd(table: String, det: String, dep: String) =
      s"""SELECT '$det->$dep' AS fd, count(*)::BIGINT AS n_det,
         |       sum((ndv > 1)::BIGINT)::BIGINT AS n_violating,
         |       ((1000000 * sum((ndv > 1)::BIGINT)) // count(*))::BIGINT AS violation_ppm,
         |       max(ndv)::BIGINT AS max_fanout
         |FROM (SELECT $det, count(DISTINCT $dep)::BIGINT AS ndv
         |      FROM $table GROUP BY 1)""".stripMargin
    Seq(fd("lineitem", "l_orderkey", "l_suppkey"),
      fd("lineitem", "l_partkey", "l_suppkey"),
      fd("orders", "o_orderkey", "o_custkey"),
      fd("orders", "o_custkey", "o_orderpriority")).mkString("\nUNION ALL\n")
  }

  /** q236: integer eigenvector centrality on the part co-purchase graph —
    * 3 rounds of power iteration in the same fixed-point integer
    * discipline as q132's PageRank: v′(u) = Σ_{(u,v)} v(v), then
    * renormalize `v′·scale div max(v′)` (the max is a 1-row broadcast,
    * never a driver value). Importance WITHOUT damping/out-degree
    * normalization — a hub's weight flows whole to its neighbors, the
    * centrality variant retail/risk graphs usually want next to PageRank.
    * Bit-exact across engines and cluster sizes by construction.
    *
    * Scale shape per round: one edge⋈score join keyed on the node id, one
    * map-side-combined sum, one broadcast of the 1-row max. Overflow
    * headroom: score ≤ 2²⁰, degree ≤ 2¹⁰ at this corpus, renorm product
    * ≤ 2⁵⁰ — long-safe.
    */
  def q236Eigencentrality(spark: SparkSession, dir: String): DataFrame = {
    val scale = 1L << 20
    // staged symmetrized pair relation (r15) — replaces the per-trial
    // union + localCheckpoint of the staged pair set with a staged read;
    // every round reads the materialized relation either way
    val sym = GraphFixtures.coPurchasePairsSym(spark, dir)
    val nodes = sym.select(col("u").as("node")).distinct()
    // rounds chain LAZILY over the materialized edge relation: `raw` is
    // read twice per round (its own max + the renorm join) but both reads
    // are vocabulary-sized aggregations over checkpointed `sym`, and
    // keeping the chain in ONE job lets Spark reuse the round's exchange
    // for both branches (checkpointing every round was measured slower —
    // it splits the reuse across jobs)
    var score = nodes.withColumn("s", lit(scale))
    (1 to 3).foreach { _ =>
      val raw = sym.join(score.withColumnRenamed("node", "v"), "v")
        .groupBy(col("u").as("node")).agg(sum(col("s")).as("raw"))
      val mx = raw.agg(max(col("raw")).as("mx"))
      score = raw.crossJoin(broadcast(mx))
        .select(col("node"), expr(s"(raw * $scale) div mx").as("s"))
    }
    score.withColumnRenamed("s", "score")
  }

  private def q236Oracle: String = {
    val scale = 1L << 20
    val head =
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |     FROM lp a JOIN lp b
        |       ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |sym AS MATERIALIZED (SELECT u, v FROM e UNION ALL SELECT v, u FROM e),
        |s0 AS (SELECT DISTINCT u AS node, %d::BIGINT AS s FROM sym)"""
        .stripMargin.format(scale)
    val rounds = (1 to 3).map { r =>
      s"""r$r AS MATERIALIZED (SELECT sym.u AS node, sum(s)::BIGINT AS raw
         |     FROM sym JOIN s${r - 1} ON sym.v = s${r - 1}.node GROUP BY 1),
         |s$r AS MATERIALIZED (SELECT node,
         |       (raw * $scale) // (SELECT max(raw) FROM r$r) AS s FROM r$r)""".stripMargin
    }.mkString(",\n")
    s"$head,\n$rounds\nSELECT node, s AS score FROM s3"
  }

  /** q238: HITS hubs & authorities on the customer→part purchase
    * bipartite graph — 2 rounds of the mutual-reinforcement iteration
    * (authority(p) = Σ hub(c) over buyers; hub(c) = Σ authority(p) over
    * basket), in the q132/q236 fixed-point integer discipline: renormalize
    * `·scale div max` against a 1-row broadcast after every half-step.
    * Hubs (broad, influential buyers) and authorities (widely-bought
    * parts) answer different questions than either centrality on the
    * projected co-purchase graph — the projection destroys the
    * bipartite structure HITS exploits.
    *
    * Scale shape: each half-step is one edge⋈score join on its side's key
    * + one map-side-combined sum; edges are distinct (customer, part)
    * pairs. Output is both sides, tagged by role.
    */
  def q238Hits(spark: SparkSession, dir: String): DataFrame = {
    val scale = 1L << 20
    // materialized once — all four half-steps read it (q236's lesson)
    val edges = lineitem(spark, dir)
      .join(orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_custkey").as("c"), col("l_partkey").as("p")).distinct()
      .localCheckpoint()
    def renorm(df: DataFrame, valCol: String): DataFrame = {
      val mx = df.agg(max(col(valCol)).as("mx"))
      df.crossJoin(broadcast(mx))
        .select(df.columns.filterNot(_ == valCol).map(col) :+
          expr(s"($valCol * $scale) div mx").as(valCol): _*)
    }
    // localCheckpoint the RAW aggregate of each half-step, renorm LAZILY
    // over the materialized relation (r16, §2.4/§5): checkpointing
    // renorm's output executed the edge⋈score SortMergeJoin + sum twice
    // per half-step — once in the main arm and once inside the max's
    // BroadcastExchange subtree (`Inspect plans`: no ReusedExchange
    // fires across the two). With the raw score relation checkpointed
    // first, the expensive join-agg runs exactly once per half-step and
    // the renorm re-evaluations the next half-step/output trigger are a
    // |nodes|-row scan + 1-row broadcast crossJoin — renormalized values
    // are bit-identical, only the materialization boundary moves.
    var hub = edges.select(col("c")).distinct().withColumn("h", lit(scale))
      .localCheckpoint()
    var auth: DataFrame = null
    (1 to 2).foreach { _ =>
      auth = renorm(
        edges.join(hub, "c").groupBy("p").agg(sum(col("h")).as("a"))
          .localCheckpoint(), "a")
      hub = renorm(
        edges.join(auth, "p").groupBy("c").agg(sum(col("a")).as("h"))
          .localCheckpoint(), "h")
    }
    hub.select(lit("hub").as("role"), col("c").as("id"), col("h").as("score"))
      .unionByName(auth.select(lit("authority").as("role"), col("p").as("id"),
        col("a").as("score")))
  }

  private def q238Oracle: String = {
    val scale = 1L << 20
    s"""WITH e AS MATERIALIZED (
       |  SELECT DISTINCT o_custkey AS c, l_partkey AS p
       |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
       |h0 AS (SELECT DISTINCT c, $scale::BIGINT AS h FROM e),
       |a1r AS MATERIALIZED (SELECT p, sum(h)::BIGINT AS a FROM e JOIN h0 USING (c) GROUP BY 1),
       |a1 AS MATERIALIZED (SELECT p, (a * $scale) // (SELECT max(a) FROM a1r) AS a FROM a1r),
       |h1r AS MATERIALIZED (SELECT c, sum(a)::BIGINT AS h FROM e JOIN a1 USING (p) GROUP BY 1),
       |h1 AS MATERIALIZED (SELECT c, (h * $scale) // (SELECT max(h) FROM h1r) AS h FROM h1r),
       |a2r AS MATERIALIZED (SELECT p, sum(h)::BIGINT AS a FROM e JOIN h1 USING (c) GROUP BY 1),
       |a2 AS MATERIALIZED (SELECT p, (a * $scale) // (SELECT max(a) FROM a2r) AS a FROM a2r),
       |h2r AS MATERIALIZED (SELECT c, sum(a)::BIGINT AS h FROM e JOIN a2 USING (p) GROUP BY 1),
       |h2 AS MATERIALIZED (SELECT c, (h * $scale) // (SELECT max(h) FROM h2r) AS h FROM h2r)
       |SELECT 'hub' AS role, c AS id, h AS score FROM h2
       |UNION ALL
       |SELECT 'authority' AS role, p AS id, a AS score FROM a2""".stripMargin
  }

  /** q234: TPC-H Q15-shaped top supplier — suppliers whose 1996 revenue
    * equals the GLOBAL maximum (the uncorrelated-scalar-subquery-on-a-
    * grouped-view shape; ties all surface, which is why Q15 can't be a
    * LIMIT 1). Revenue summed as DECIMAL and published in floor-cents
    * BIGINT (q214's float-safety posture).
    *
    * Scale shape: one shuffle to |suppliers| rows; the max is a 1-row
    * aggregate broadcast back (never a driver value).
    */
  def q234TopSupplier(spark: SparkSession, dir: String): DataFrame = {
    val rev = lineitem(spark, dir)
      .filter(expr("year(l_shipdate) = 1996"))
      .withColumn("volume",
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(30,10)"))
      .groupBy("l_suppkey")
      .agg(floor(sum(col("volume")) * 100).cast("long").as("revenue_cents"))
    val mx = rev.agg(max(col("revenue_cents")).as("max_cents"))
    rev.crossJoin(broadcast(mx))
      .filter(col("revenue_cents") === col("max_cents"))
      .join(broadcast(supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("revenue_cents"))
  }

  private val q234Oracle =
    """WITH rev AS (
      |  SELECT l_suppkey,
      |         floor(sum(((l_extendedprice * (1 - l_discount))::DECIMAL(30,10))) * 100)::BIGINT
      |           AS revenue_cents
      |  FROM lineitem WHERE year(l_shipdate) = 1996 GROUP BY 1)
      |SELECT s_suppkey, s_name, revenue_cents
      |FROM rev JOIN supplier ON l_suppkey = s_suppkey
      |WHERE revenue_cents = (SELECT max(revenue_cents) FROM rev)""".stripMargin

  /** q235: TPC-H Q18-shaped large-quantity orders — orders whose total
    * line quantity clears a threshold, re-joined to customer detail: the
    * grouped-HAVING-feeding-an-IN shape (the aggregate DEFINES the key
    * set; the detail join must not re-aggregate). Quantities and price
    * floored to BIGINT/cents for exactness; top-100 by quantity with full deterministic
    * tie-break.
    *
    * Scale shape: the HAVING side is one l_orderkey shuffle collapsing to
    * qualifying keys only (a tiny relation — AQE broadcasts it back as a
    * semi-join), so the orders/customer detail never shuffles on the
    * aggregate's account; top-100 is the bounded heap.
    */
  def q235BigOrders(spark: SparkSession, dir: String): DataFrame = {
    val bigKeys = lineitem(spark, dir)
      .withColumn("qty", floor(col("l_quantity")).cast("long"))
      .groupBy("l_orderkey").agg(sum(col("qty")).as("total_qty"))
      .filter(col("total_qty") > 150)
    orders(spark, dir)
      .join(bigKeys, col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .select(col("c_name"), col("c_custkey"), col("o_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("price_cents"),
        col("total_qty"))
      .orderBy(col("total_qty").desc, col("o_orderkey").asc)
      .limit(100)
  }

  private val q235Oracle =
    """SELECT c_name, c_custkey, o_orderkey,
      |       floor(o_totalprice * 100)::BIGINT AS price_cents, total_qty
      |FROM orders
      |  JOIN (SELECT l_orderkey, sum(floor(l_quantity)::BIGINT)::BIGINT AS total_qty
      |        FROM lineitem GROUP BY 1 HAVING sum(floor(l_quantity)::BIGINT) > 150) b
      |    ON o_orderkey = b.l_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |ORDER BY total_qty DESC, o_orderkey ASC
      |LIMIT 100""".stripMargin

  /** q228: k-core decomposition of the part co-purchase graph (edges =
    * part pairs sharing an order; per-order pair expansion is bounded by
    * order size²). Bounded-round peel at k=80 — see
    * [[graft.ext.Graph.kCorePeel]]; at sf0.01 the cascade converges in 6
    * rounds (97→25→13→7→1→0 peeled) leaving an 1857-node core. The oracle
    * replays the SAME fixed 8 round-synchronous peels as chained CTEs, so
    * the comparison is exact whether or not the cascade finished.
    */
  def q228KCore(spark: SparkSession, dir: String): DataFrame = {
    // shared staged pair relation — see GraphFixtures.coPurchasePairs
    val edges = GraphFixtures.coPurchasePairs(spark, dir)
    graft.ext.Graph.kCorePeel(edges, k = 80, rounds = 8)
      .withColumnRenamed("node", "part")
  }

  private def q228Oracle: String = {
    val k = 80
    val rounds = 8
    val head =
      """WITH lp AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
        |e0 AS MATERIALIZED (SELECT DISTINCT a.l_partkey AS u, b.l_partkey AS v
        |       FROM lp a JOIN lp b
        |         ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey),
        |n0 AS MATERIALIZED (SELECT u AS node FROM e0 UNION SELECT v FROM e0)""".stripMargin
    val roundCtes = (1 to rounds).map { r =>
      s"""d$r AS MATERIALIZED (SELECT node, count(*)::BIGINT AS deg FROM
         |  (SELECT u AS node FROM e${r - 1} UNION ALL SELECT v FROM e${r - 1}) GROUP BY 1),
         |p$r AS MATERIALIZED (SELECT n.node FROM n${r - 1} n LEFT JOIN d$r USING (node)
         |        WHERE coalesce(deg, 0) < $k),
         |n$r AS MATERIALIZED (SELECT node FROM n${r - 1}
         |        WHERE node NOT IN (SELECT node FROM p$r)),
         |e$r AS MATERIALIZED (SELECT u, v FROM e${r - 1}
         |        WHERE u IN (SELECT node FROM n$r) AND v IN (SELECT node FROM n$r))""".stripMargin
    }.mkString(",\n")
    val peelUnion = (1 to rounds)
      .map(r => s"SELECT node, $r AS peeled_round FROM p$r").mkString(" UNION ALL ")
    s"""$head,
       |$roundCtes,
       |fd AS (SELECT node, count(*)::BIGINT AS deg FROM
       |  (SELECT u AS node FROM e$rounds UNION ALL SELECT v FROM e$rounds) GROUP BY 1),
       |pr AS ($peelUnion)
       |SELECT n.node AS part, coalesce(pr.peeled_round, 0)::BIGINT AS peeled_round,
       |       coalesce(fd.deg, 0)::BIGINT AS core_degree
       |FROM n0 n LEFT JOIN pr USING (node) LEFT JOIN fd USING (node)""".stripMargin
  }

  /** q178: per-column data profile of the events table — row count,
    * non-null count, exact distinct count and null ppm per column, the
    * export-QA pass a consumer runs on every delivered batch (the
    * relational sibling of q47's per-document text profile). One `stack`
    * unpivot keeps it a SINGLE scan (the oracle's four-scan UNION is the
    * definitional form); values are stringified through injective
    * integer/string casts only — no double formatting, whose rendering
    * differs across engines.
    *
    * Scale shape: scan → unpivot (row-local) → one aggregation keyed by
    * (column, value) partials via Expand for the distinct; output is 4
    * rows.
    */
  def q178ColumnProfile(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(expr(
        """stack(4,
          |  'event_id', cast(event_id AS string),
          |  'user_id', cast(user_id AS string),
          |  'event_type', event_type,
          |  'props', props) AS (cname, v)""".stripMargin))
      .groupBy("cname")
      .agg(count(lit(1)).as("n_rows"), count(col("v")).as("n_nonnull"),
        countDistinct(col("v")).as("n_distinct"))
      .withColumn("null_ppm", expr("(1000000 * (n_rows - n_nonnull)) div n_rows"))

  private val q178Oracle =
    """SELECT 'event_id' AS cname, count(*)::BIGINT AS n_rows,
      |       count(event_id)::BIGINT AS n_nonnull,
      |       count(DISTINCT event_id)::BIGINT AS n_distinct,
      |       (1000000 * (count(*) - count(event_id))) // count(*) AS null_ppm
      |FROM events
      |UNION ALL
      |SELECT 'user_id', count(*)::BIGINT, count(user_id)::BIGINT,
      |       count(DISTINCT user_id)::BIGINT,
      |       (1000000 * (count(*) - count(user_id))) // count(*) FROM events
      |UNION ALL
      |SELECT 'event_type', count(*)::BIGINT, count(event_type)::BIGINT,
      |       count(DISTINCT event_type)::BIGINT,
      |       (1000000 * (count(*) - count(event_type))) // count(*) FROM events
      |UNION ALL
      |SELECT 'props', count(*)::BIGINT, count(props)::BIGINT,
      |       count(DISTINCT props)::BIGINT,
      |       (1000000 * (count(*) - count(props))) // count(*) FROM events""".stripMargin

  /** q179: incremental join maintenance gated against the definitional
    * join — orders⋈lineitem is split into base + append batches on both
    * sides, rebuilt via [[CdcMaterialize.incrementalJoin]]'s delta
    * identity (ΔJ = ΔA⋈(B∪ΔB) ∪ A⋈ΔB), and the oracle is the PLAIN full
    * join: hash equality proves the algebra emits every joined pair
    * exactly once. The JOIN-shaped materialized-view-maintenance
    * pattern (q123 maintains aggregates; this maintains joins).
    */
  def q179IncrementalJoin(spark: SparkSession, dir: String): DataFrame = {
    val o = orders(spark, dir).select(col("o_orderkey"), col("o_totalprice"))
    val l = lineitem(spark, dir)
      .select(col("l_orderkey").as("o_orderkey"), col("l_linenumber"), col("l_quantity"))
    CdcMaterialize.incrementalJoin(
      baseA = o.filter(col("o_orderkey") % 7 =!= 0),
      deltaA = o.filter(col("o_orderkey") % 7 === 0),
      baseB = l.filter(col("l_linenumber") < 4),
      deltaB = l.filter(col("l_linenumber") >= 4),
      keys = Seq("o_orderkey"))
  }

  private val q179Oracle =
    """SELECT o_orderkey, o_totalprice, l_linenumber, l_quantity
      |FROM orders JOIN lineitem ON o_orderkey = l_orderkey""".stripMargin

  /** q194: join-cardinality profile — the planning diagnostic behind every
    * join-order/skew decision: per-key frequency histograms of both sides
    * give the EXACT join output size as Σ f_A(k)·f_B(k) without
    * materializing the join, plus the heaviest key's contribution (the
    * skew planner's input, q65/q122's "should I salt?" number). The query
    * is self-proving: the oracle computes the same sum AND the definitional
    * `count(*)` of the actual join — they must agree.
    *
    * Scale shape: two per-key aggregates (map-side combined) + one
    * |keys|-sized join — never the |A⋈B| row stream. This is how you cost
    * a 100 TB join for 0.1 % of its price.
    */
  def q194JoinSizeProfile(spark: SparkSession, dir: String): DataFrame = {
    val co = orders(spark, dir).groupBy(col("o_custkey").as("k"))
      .agg(count(lit(1)).as("fa"))
    val cl = customer(spark, dir).groupBy(col("c_custkey").as("k"))
      .agg(count(lit(1)).as("fb"))
    co.join(cl, "k")
      .select(col("k"), (col("fa") * col("fb")).as("contrib"))
      .agg(sum(col("contrib")).as("predicted_rows"),
        count(lit(1)).as("n_join_keys"),
        max(col("contrib")).as("max_key_contrib"))
  }

  private val q194Oracle =
    """WITH co AS (SELECT o_custkey AS k, count(*)::BIGINT AS fa FROM orders GROUP BY 1),
      |cl AS (SELECT c_custkey AS k, count(*)::BIGINT AS fb FROM customer GROUP BY 1),
      |prof AS (SELECT sum(fa * fb)::BIGINT AS predicted_rows,
      |                count(*)::BIGINT AS n_join_keys,
      |                max(fa * fb)::BIGINT AS max_key_contrib
      |         FROM co JOIN cl USING (k)),
      |actual AS (SELECT count(*)::BIGINT AS n FROM orders
      |           JOIN customer ON o_custkey = c_custkey)
      |SELECT predicted_rows, n_join_keys, max_key_contrib
      |FROM prof, actual
      |WHERE predicted_rows = actual.n""".stripMargin

  /** q199: malformed-record handling — a staged CSV where every 17th row
    * is garbage, read back in PERMISSIVE mode with a
    * `columnNameOfCorruptRecord` column: corrupt rows are COUNTED and
    * quarantined, clean rows aggregate normally, and nothing crashes the
    * job — the ingestion-robustness contract of a production pipeline
    * (the reference inherits it from Delta; a raw-file engine must prove
    * it). The oracle replays the counts closed-form from the residue
    * that decided which rows were staged broken.
    */
  def q199CorruptRecords(spark: SparkSession, dir: String): DataFrame = {
    val path = Staging.dir("q199-csv", dir) { p =>
      documents(spark, dir)
        .select(when(col("doc_id") % 17 === 0, lit("not,a,number,at,all"))
          .otherwise(concat(col("doc_id").cast("string"), lit(","),
            col("n_chars").cast("string"))).as("value"))
        .write.mode("overwrite").text(p)
    }
    spark.read
      .schema("doc_id LONG, n_chars LONG, _corrupt STRING")
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .csv(path)
      .agg(count(lit(1)).as("n_total"),
        sum(col("_corrupt").isNotNull.cast("long")).as("n_corrupt"),
        sum(when(col("_corrupt").isNull, col("n_chars")).otherwise(0L)).as("clean_chars"))
  }

  private val q199Oracle =
    """SELECT count(*)::BIGINT AS n_total,
      |       sum((doc_id % 17 = 0)::BIGINT)::BIGINT AS n_corrupt,
      |       sum(CASE WHEN doc_id % 17 <> 0 THEN n_chars ELSE 0 END)::BIGINT AS clean_chars
      |FROM documents""".stripMargin

  /** q244: TPC-H Q4-shaped order-priority check — orders from one year that
    * had at least one LATE line (`l_shipdate > o_orderdate + 30 d` — this
    * schema has no commit/receipt dates, same adaptation as q215), counted
    * per priority class. The correlated-EXISTS shape: the lateness
    * predicate references BOTH sides, so it rides the semi-join as a
    * residual condition, never a post-join filter.
    *
    * Scale shape: one big-big semi-join on the shared orderkey (the same
    * exchange family as q02/q173/q215 — bucketing amortizes all of them at
    * 100 TB); the year filter prunes the orders scan first, and the
    * semi-join emits each order at most once regardless of line fan-out.
    */
  def q244PriorityCheck(spark: SparkSession, dir: String): DataFrame =
    orders(spark, dir)
      .filter(expr("year(o_orderdate) = 1997"))
      .join(lineitem(spark, dir).select("l_orderkey", "l_shipdate"),
        col("o_orderkey") === col("l_orderkey") &&
          datediff(col("l_shipdate"), col("o_orderdate")) > 30,
        "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("order_count"))

  private val q244Oracle =
    """SELECT o_orderpriority, count(*)::BIGINT AS order_count
      |FROM orders
      |WHERE year(o_orderdate) = 1997
      |  AND EXISTS (SELECT 1 FROM lineitem
      |              WHERE l_orderkey = o_orderkey
      |                AND date_diff('day', o_orderdate::DATE, l_shipdate::DATE) > 30)
      |GROUP BY 1""".stripMargin

  /** q245: TPC-H Q9-shaped product-type profit — per supplier-nation ×
    * order-year profit on parts whose name contains "red". This schema has
    * no partsupp, so cost is the stated proxy `l_quantity × p_retailprice
    * / 10`; the JOIN ALGEBRA is Q9's exactly (fact out to part + orders +
    * supplier + nation with a name filter on part). Both legs are summed
    * as DECIMAL — denominators cleared by computing `10·volume − cost` so
    * no decimal division ever runs — and published as floor milli-dollars
    * BIGINT: bit-exact on both engines by arithmetic.
    *
    * Scale shape: the `%red%` part filter prunes ~the fact early through a
    * broadcast-hash join; orders is the one big shuffle (shared orderkey
    * family); supplier/nation broadcast; the aggregate is |nations×years|.
    */
  def q245ProductProfit(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(broadcast(part(spark, dir)
          .filter(col("p_name").contains("red"))
          .select("p_partkey", "p_retailprice")),
        col("l_partkey") === col("p_partkey"))
      .join(orders(spark, dir).select("o_orderkey", "o_orderdate"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .withColumn("volume",
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(30,10)"))
      .withColumn("cost",
        (col("l_quantity") * col("p_retailprice")).cast("decimal(30,10)"))
      .groupBy(col("n_name"), year(col("o_orderdate")).cast("long").as("o_year"))
      .agg(floor(sum(col("volume") * 10 - col("cost")) * 100).cast("long")
        .as("profit_milli"))

  private val q245Oracle =
    """SELECT n_name, year(o_orderdate)::BIGINT AS o_year,
      |       floor(sum(volume * 10 - cost) * 100)::BIGINT AS profit_milli
      |FROM (
      |  SELECT n_name, o_orderdate,
      |         (l_extendedprice * (1 - l_discount))::DECIMAL(30,10) AS volume,
      |         (l_quantity * p_retailprice)::DECIMAL(30,10) AS cost
      |  FROM lineitem
      |    JOIN part     ON l_partkey = p_partkey AND p_name LIKE '%red%'
      |    JOIN orders   ON l_orderkey = o_orderkey
      |    JOIN supplier ON l_suppkey = s_suppkey
      |    JOIN nation   ON s_nationkey = n_nationkey)
      |GROUP BY 1, 2""".stripMargin

  /** q246: TPC-H Q12-shaped lateness-by-priority — among LATE lines
    * (`ship > order + 60 d`, q215's predicate), the split between
    * critical-priority orders (1-URGENT/2-HIGH) and the rest, per ship
    * year. Q12's signature CASE-sum pivot: both counters come out of ONE
    * pass over the joined fact — never two scans.
    *
    * Scale shape: one orderkey shuffle (the shared family); the CASE-sums
    * are partial-aggregated map-side, so the exchange carries
    * |ship-years| × 2 counters.
    */
  def q246LatenessByPriority(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir).select("l_orderkey", "l_shipdate")
      .join(orders(spark, dir).select("o_orderkey", "o_orderdate", "o_orderpriority"),
        col("l_orderkey") === col("o_orderkey"))
      .filter(datediff(col("l_shipdate"), col("o_orderdate")) > 60)
      .groupBy(year(col("l_shipdate")).cast("long").as("ship_year"))
      .agg(
        sum(col("o_orderpriority").isin("1-URGENT", "2-HIGH").cast("long"))
          .as("high_line_count"),
        sum((!col("o_orderpriority").isin("1-URGENT", "2-HIGH")).cast("long"))
          .as("low_line_count"))

  private val q246Oracle =
    """SELECT year(l_shipdate)::BIGINT AS ship_year,
      |       sum((o_orderpriority IN ('1-URGENT','2-HIGH'))::BIGINT)::BIGINT AS high_line_count,
      |       sum((o_orderpriority NOT IN ('1-URGENT','2-HIGH'))::BIGINT)::BIGINT AS low_line_count
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE date_diff('day', o_orderdate::DATE, l_shipdate::DATE) > 60
      |GROUP BY 1""".stripMargin

  /** q247: TPC-H Q13-shaped customer order-count distribution — how many
    * customers placed 0, 1, 2, … orders. The signature LEFT OUTER join
    * (customers with no orders must survive as c_count = 0 — `count(col)`
    * counts non-nulls only, which is exactly the semantics that keeps the
    * zero bucket honest; 257 such customers exist at sf0.01) followed by a
    * second aggregation over the first's output.
    *
    * Scale shape: first aggregate shuffles on custkey to |customers| rows;
    * the second shuffles |customers| rows to |distinct counts| — a
    * two-level contraction, each stage strictly smaller. No distinct, no
    * window, no skew risk beyond the custkey fan-out AQE handles.
    */
  def q247OrderCountDist(spark: SparkSession, dir: String): DataFrame =
    customer(spark, dir).select("c_custkey")
      .join(orders(spark, dir).select("o_custkey", "o_orderkey"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .groupBy("c_custkey")
      .agg(count(col("o_orderkey")).as("c_count"))
      .groupBy("c_count")
      .agg(count(lit(1)).as("custdist"))

  private val q247Oracle =
    """WITH c_orders AS (
      |  SELECT c_custkey, count(o_orderkey)::BIGINT AS c_count
      |  FROM customer LEFT JOIN orders ON c_custkey = o_custkey
      |  GROUP BY 1)
      |SELECT c_count, count(*)::BIGINT AS custdist
      |FROM c_orders GROUP BY 1""".stripMargin

  /** q248: TPC-H Q14-shaped promo revenue share — the fraction of each ship
    * month's revenue earned on PROMO-type parts, as integer ppm over exact
    * DECIMAL floor-cents (Q14 publishes a float percentage; the ppm form is
    * this engine's cross-engine-exact discipline, q214's).
    *
    * Scale shape: part projects to two columns and broadcasts; one
    * orderkey-free scan-side aggregate — the shuffle carries |months| × 2
    * decimal partials. The conditional sum folds the promo flag into the
    * aggregate, so there is exactly one pass.
    */
  def q248PromoShare(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(broadcast(part(spark, dir).select("p_partkey", "p_type")),
        col("l_partkey") === col("p_partkey"))
      .withColumn("volume",
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).cast("decimal(30,10)"))
      .groupBy((year(col("l_shipdate")) * 100 + month(col("l_shipdate")))
        .cast("long").as("ship_month"))
      .agg(
        floor(sum(when(col("p_type") === "PROMO", col("volume"))
          .otherwise(lit(0).cast("decimal(30,10)"))) * 100).cast("long").as("promo_cents"),
        floor(sum(col("volume")) * 100).cast("long").as("total_cents"))
      .select(col("ship_month"), col("promo_cents"), col("total_cents"),
        expr("(1000000 * promo_cents) div total_cents").as("promo_ppm"))

  private val q248Oracle =
    """WITH v AS (
      |  SELECT (year(l_shipdate) * 100 + month(l_shipdate))::BIGINT AS ship_month,
      |         (l_extendedprice * (1 - l_discount))::DECIMAL(30,10) AS volume,
      |         p_type
      |  FROM lineitem JOIN part ON l_partkey = p_partkey),
      |a AS (
      |  SELECT ship_month,
      |         floor(sum(CASE WHEN p_type = 'PROMO' THEN volume
      |                        ELSE 0::DECIMAL(30,10) END) * 100)::BIGINT AS promo_cents,
      |         floor(sum(volume) * 100)::BIGINT AS total_cents
      |  FROM v GROUP BY 1)
      |SELECT ship_month, promo_cents, total_cents,
      |       (1000000 * promo_cents) // total_cents AS promo_ppm
      |FROM a""".stripMargin

  /** q249: TPC-H Q16-shaped supplier variety — distinct suppliers actually
    * shipping each (brand, type, size) combo for four target sizes,
    * excluding blacklisted suppliers (negative account balance stands in
    * for Q16's complaint-comment pattern). The NOT-IN-subquery becomes an
    * ANTI join (s_suppkey is non-null, so the semantics coincide — the
    * null-trap NOT IN carries doesn't arise).
    *
    * Scale shape: the size/type filter prunes part before its broadcast;
    * the blacklist is a broadcast anti-join (model-sized); the one shuffle
    * is the distinct-count on (brand, type, size) — count(DISTINCT)
    * expands partial-agg-side, carrying (group, suppkey) pairs, which is
    * the fact's own cardinality upper bound.
    */
  def q249SupplierVariety(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(part(spark, dir)
          .filter(col("p_size").isin(1, 14, 23, 45) && col("p_type") =!= "PROMO")
          .select("p_partkey", "p_brand", "p_type", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier(spark, dir)
          .filter(col("s_acctbal") < 0).select("s_suppkey")),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))

  private val q249Oracle =
    """SELECT p_brand, p_type, p_size,
      |       count(DISTINCT l_suppkey)::BIGINT AS supplier_cnt
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE p_size IN (1, 14, 23, 45) AND p_type <> 'PROMO'
      |  AND l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
      |GROUP BY 1, 2, 3""".stripMargin

  /** q250: TPC-H Q17-shaped small-quantity revenue — lines of one brand
    * whose quantity is below 20 % of that part's own average. The
    * correlated-scalar-subquery becomes a join against the per-part
    * grouped view, and the threshold is the integer cross-multiplication
    * `5·qty·n < total` (quantities are integral in this corpus, so every
    * side is BIGINT — no float average exists anywhere).
    *
    * Scale shape: the per-part aggregate and the join back both key on
    * l_partkey — ONE exchange family, reused (at 100 TB, bucketing
    * lineitem by partkey makes both legs co-located). The brand filter
    * applies to the probe side only: the grouped view must average over
    * ALL lines of the part (Q17's semantics), so it aggregates the
    * unfiltered fact — the classic subtlety.
    */
  def q250SmallQtyRevenue(spark: SparkSession, dir: String): DataFrame = {
    val perPart = lineitem(spark, dir)
      .groupBy(col("l_partkey").as("pk"))
      .agg(sum(col("l_quantity").cast("long")).as("tot_qty"),
        count(lit(1)).as("n_lines"))
    lineitem(spark, dir)
      .join(broadcast(part(spark, dir).filter(col("p_brand") === "Brand#3")
          .select("p_partkey")),
        col("l_partkey") === col("p_partkey"))
      .join(perPart, col("l_partkey") === col("pk"))
      .filter(col("l_quantity").cast("long") * col("n_lines") * 5 < col("tot_qty"))
      .agg(count(lit(1)).as("n_small"),
        floor(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,10)")) * 100).cast("long").as("revenue_cents"))
  }

  private val q250Oracle =
    """WITH pq AS (
      |  SELECT l_partkey AS pk, sum(l_quantity::BIGINT)::BIGINT AS tot_qty,
      |         count(*)::BIGINT AS n_lines
      |  FROM lineitem GROUP BY 1)
      |SELECT count(*)::BIGINT AS n_small,
      |       floor(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,10)) * 100)::BIGINT
      |         AS revenue_cents
      |FROM lineitem
      |  JOIN part ON l_partkey = p_partkey AND p_brand = 'Brand#3'
      |  JOIN pq ON l_partkey = pk
      |WHERE l_quantity::BIGINT * n_lines * 5 < tot_qty""".stripMargin

  /** q251: TPC-H Q19-shaped disjunctive-predicate revenue — revenue over an
    * OR of three (brand × size-range × quantity-range) conjunctions. Q19
    * exists to prove the optimizer splits a disjunction: the common
    * `l_partkey = p_partkey` join survives, and the per-branch part
    * predicates (`p_size BETWEEN …`) reach the part SCAN as a single ORed
    * pushed filter instead of evaluating post-join.
    *
    * Scale shape: part filters to the union of the three branches before
    * broadcast; the quantity conjuncts prune the probe scan. One
    * broadcast join, one 1-row aggregate — scan-bound.
    */
  def q251DisjunctRevenue(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .join(broadcast(part(spark, dir).select("p_partkey", "p_brand", "p_size")),
        col("l_partkey") === col("p_partkey"))
      .filter(
        (col("p_brand") === "Brand#1" && col("p_size").between(1, 10) &&
          col("l_quantity").between(1, 15)) ||
        (col("p_brand") === "Brand#2" && col("p_size").between(10, 25) &&
          col("l_quantity").between(10, 30)) ||
        (col("p_brand") === "Brand#3" && col("p_size").between(20, 50) &&
          col("l_quantity").between(20, 50)))
      .agg(count(lit(1)).as("n_lines"),
        floor(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
          .cast("decimal(30,10)")) * 100).cast("long").as("revenue_cents"))

  private val q251Oracle =
    """SELECT count(*)::BIGINT AS n_lines,
      |       floor(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,10)) * 100)::BIGINT
      |         AS revenue_cents
      |FROM lineitem JOIN part ON l_partkey = p_partkey
      |WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10 AND l_quantity BETWEEN 1 AND 15)
      |   OR (p_brand = 'Brand#2' AND p_size BETWEEN 10 AND 25 AND l_quantity BETWEEN 10 AND 30)
      |   OR (p_brand = 'Brand#3' AND p_size BETWEEN 20 AND 50 AND l_quantity BETWEEN 20 AND 50)""".stripMargin

  /** q253: TPC-H Q22-shaped lapsed high-balance customers — customers with
    * NO RECENT orders (none since 2000-01-01; every customer in this
    * corpus has *some* order, so Q22's "never ordered" arm would be
    * vacuous — the lapsed-customer reading keeps the anti-join load-bearing)
    * whose balance beats the average POSITIVE balance, counted per nation
    * (standing in for Q22's phone country code). The two Q22 mechanics
    * survive intact: an uncorrelated scalar subquery as the threshold, and
    * a NOT-EXISTS anti-join. The average never materializes as a float:
    * `cents·n > total` cross-multiplied in BIGINT over floor-cents.
    *
    * Scale shape: the global is a 1-row broadcast; the date filter prunes
    * the orders side of the anti-join at the scan; the anti-join shuffles
    * customer vs orders on custkey (big-big, the shared custkey family);
    * final aggregate is |nations|.
    */
  def q253IdleCustomers(spark: SparkSession, dir: String): DataFrame = {
    val cents = floor(col("c_acctbal") * 100).cast("long")
    val global = customer(spark, dir).filter(col("c_acctbal") > 0)
      .agg(sum(cents).as("pos_cents"), count(lit(1)).as("n_pos"))
    customer(spark, dir)
      .crossJoin(broadcast(global))
      .filter(cents * col("n_pos") > col("pos_cents"))
      .join(orders(spark, dir)
          .filter(col("o_orderdate") >= lit("2000-01-01").cast("timestamp"))
          .select("o_custkey"),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_nationkey")
      .agg(count(lit(1)).as("numcust"), sum(cents).as("idle_cents"))
  }

  private val q253Oracle =
    """WITH g AS (
      |  SELECT sum(floor(c_acctbal * 100)::BIGINT)::BIGINT AS pos_cents,
      |         count(*)::BIGINT AS n_pos
      |  FROM customer WHERE c_acctbal > 0)
      |SELECT c_nationkey, count(*)::BIGINT AS numcust,
      |       sum(floor(c_acctbal * 100)::BIGINT)::BIGINT AS idle_cents
      |FROM customer CROSS JOIN g
      |WHERE floor(c_acctbal * 100)::BIGINT * n_pos > pos_cents
      |  AND NOT EXISTS (SELECT 1 FROM orders
      |                  WHERE o_custkey = c_custkey
      |                    AND o_orderdate >= TIMESTAMP '2000-01-01')
      |GROUP BY 1""".stripMargin

  /** q254: TPC-H Q2-shaped minimum-cost supplier — for every ECONOMY-type
    * part, the cheapest supplier that actually shipped it (best observed
    * line price in floor-cents stands in for ps_supplycost; this schema
    * has no partsupp). Q2's correlated-MIN subquery becomes a per-part
    * window rank with a deterministic suppkey tie-break — ties in the
    * minimum don't make the result engine-dependent.
    *
    * Scale shape: the (part, supplier) aggregate and the per-part window
    * both key on l_partkey — one exchange family; the window input is
    * pre-contracted to |part × supplier| rows, never raw lines, and the
    * rank-1 filter runs inside WindowGroupLimit (top-1 per key, bounded
    * state). Dimensions broadcast after the contraction.
    */
  def q254MinCostSupplier(spark: SparkSession, dir: String): DataFrame = {
    val offers = lineitem(spark, dir)
      .groupBy("l_partkey", "l_suppkey")
      .agg(min(floor(col("l_extendedprice") * 100).cast("long")).as("offer_cents"))
    val w = Window.partitionBy(col("l_partkey"))
      .orderBy(col("offer_cents").asc, col("l_suppkey").asc)
    offers
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .join(broadcast(part(spark, dir).filter(col("p_type") === "ECONOMY")
          .select("p_partkey", "p_name")),
        col("l_partkey") === col("p_partkey"))
      .join(broadcast(supplier(spark, dir)), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .select(col("p_partkey"), col("p_name"), col("s_name"), col("n_name"),
        col("offer_cents"))
  }

  private val q254Oracle =
    """WITH offers AS (
      |  SELECT l_partkey, l_suppkey,
      |         min(floor(l_extendedprice * 100)::BIGINT)::BIGINT AS offer_cents
      |  FROM lineitem GROUP BY 1, 2),
      |best AS (
      |  SELECT l_partkey, l_suppkey, offer_cents
      |  FROM offers
      |  QUALIFY row_number() OVER (PARTITION BY l_partkey
      |                             ORDER BY offer_cents ASC, l_suppkey ASC) = 1)
      |SELECT p_partkey, p_name, s_name, n_name, offer_cents
      |FROM best
      |  JOIN part ON l_partkey = p_partkey AND p_type = 'ECONOMY'
      |  JOIN supplier ON l_suppkey = s_suppkey
      |  JOIN nation ON s_nationkey = n_nationkey""".stripMargin

  /** q255: label-propagation communities ([[graft.ext.Graph
    * .labelPropagation]]) on the customer↔supplier trade graph (q132's
    * bipartite edge set, treated undirected) — 2 deterministic synchronous
    * rounds, count ties broken by smallest label. Completes the graph
    * family's QUESTION coverage: PageRank ranks importance, triangles
    * measure local clustering, CC answers reachability, k-core finds dense
    * regions — LPA assigns every node a COMMUNITY. The oracle unrolls the
    * two identical rounds as chained CTEs with a QUALIFY argmax — the
    * integer tie-break makes the labeling hash-gateable.
    */
  def q255LabelCommunities(spark: SparkSession, dir: String): DataFrame = {
    // shared staged edge relation — see GraphFixtures.tradeEdges
    val edges = GraphFixtures.tradeEdges(spark, dir)
    graft.ext.Graph.labelPropagation(edges, rounds = 2)
  }

  private val q255Oracle = {
    def round(prev: String, name: String): String =
      s"""$name AS (
         |  SELECT u AS node, lab FROM (
         |    SELECT und.u, l.lab, count(*)::BIGINT AS cnt
         |    FROM und JOIN $prev l ON und.v = l.node
         |    GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (PARTITION BY u
         |                             ORDER BY cnt DESC, lab ASC) = 1)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |und AS (SELECT src AS u, dst AS v FROM e0
       |        UNION SELECT dst, src FROM e0),
       |nodes AS (SELECT DISTINCT u AS node FROM und),
       |l0 AS (SELECT node, node AS lab FROM nodes),
       |${round("l0", "r1")},
       |${round("r1", "r2")}
       |SELECT node, lab FROM r2""".stripMargin
  }

  /** q390: Newman modularity of the q255 label-propagation communities
    * (Newman, PNAS 2006) — the graph family's missing QUALITY number:
    * q255 assigns communities, this scores them, exactly.
    * `Q = Σ_c (e_c/m − (d_c/2m)²)` cross-multiplied to
    * `q_ppm = 10⁶·Σ_c(4m·e_c − d_c²) div 4m²` — all BIGINT with a
    * headroom BOUND, not unconditional safety: |num| ≤ 4m², so the
    * 10⁶·num numerator needs 4·10⁶·m² < 2⁶³ ⇒ m ≲ 1.5·10⁶ distinct
    * cust–supp edges (~sf1; Spark wraps silently past it while DuckDB
    * errors — the q379 headroom-documentation discipline). Beyond that,
    * divide num by 4m BEFORE the ppm multiply. The one
    * possibly-negative division is spelled out truncation-toward-zero on
    * both engines. Two machine-checks:
    * `beats_bipartite_split` — on this customer↔supplier graph every
    * edge crosses sides and each side holds exactly half the degree
    * mass, so the side partition scores EXACTLY −½ (−500000 ppm), and
    * LPA can only do better by merging across sides; and
    * `top_share_ppm` — the largest community's node share, quantifying
    * the known LPA failure mode on dense bipartite graphs (label
    * collapse into a giant community) instead of hiding it.
    *
    * Scale shape: the edge set builds once (localCheckpoint — it feeds
    * LP, the degree fold and the intra-edge count); modularity is two
    * equi-joins onto the |nodes| label table, per-community folds, a
    * 1-row statistic. No all-pairs anywhere.
    */
  def q390Modularity(spark: SparkSession, dir: String): DataFrame = {
    // shared staged edge relation (already materialized/staged — the
    // query-local localCheckpoint it replaced is redundant on top)
    val e0 = GraphFixtures.tradeEdges(spark, dir)
    val labels = graft.ext.Graph.labelPropagation(e0, rounds = 2).localCheckpoint()
    // degree arm reads the staged symmetrized relation (r15) — same rows
    // as the per-trial union it replaces
    val deg = GraphFixtures.tradeEdgesSym(spark, dir)
      .groupBy(col("u").as("node")).agg(count(lit(1)).as("d"))
    val m = e0.agg(count(lit(1)).as("m"))
    val dc = labels.join(deg, "node").groupBy("lab").agg(sum("d").as("d_c"))
    val ec = e0
      .join(labels.select(col("node").as("src"), col("lab").as("lab_a")), "src")
      .join(labels.select(col("node").as("dst"), col("lab").as("lab_b")), "dst")
      .filter(col("lab_a") === col("lab_b"))
      .groupBy(col("lab_a").as("lab")).agg(count(lit(1)).as("e_c"))
    val top = labels.groupBy("lab").agg(count(lit(1)).as("sz"))
      .crossJoin(broadcast(labels.agg(count(lit(1)).as("n_nodes"))))
      .agg(max(col("n_nodes")).as("n_nodes"),
        expr("(1000000L * max(sz)) div max(n_nodes)").as("top_share_ppm"))
    dc.join(ec, Seq("lab"), "left")
      .crossJoin(broadcast(m))
      .agg(count(lit(1)).as("n_communities"),
        max(col("m")).as("n_edges"),
        sum(expr("4L * m * coalesce(e_c, 0L) - d_c * d_c")).as("num"))
      .crossJoin(broadcast(top))
      .select(col("n_nodes"), col("n_edges"), col("n_communities"),
        expr("(1000000L * num) div (4L * n_edges * n_edges)").as("q_ppm"),
        col("top_share_ppm"))
      .withColumn("beats_bipartite_split",
        expr("CASE WHEN q_ppm >= -500000L THEN 1L ELSE 0L END"))
  }

  private val q390Oracle = {
    def round(prev: String, name: String): String =
      s"""$name AS (
         |  SELECT u AS node, lab FROM (
         |    SELECT und.u, l.lab, count(*)::BIGINT AS cnt
         |    FROM und JOIN $prev l ON und.v = l.node
         |    GROUP BY 1, 2)
         |  QUALIFY row_number() OVER (PARTITION BY u
         |                             ORDER BY cnt DESC, lab ASC) = 1)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |und AS (SELECT src AS u, dst AS v FROM e0
       |        UNION SELECT dst, src FROM e0),
       |nodes AS (SELECT DISTINCT u AS node FROM und),
       |l0 AS (SELECT node, node AS lab FROM nodes),
       |${round("l0", "r1")},
       |${round("r1", "r2")},
       |m AS (SELECT count(*)::BIGINT AS m FROM e0),
       |deg AS (SELECT u AS node, count(*)::BIGINT AS d FROM und GROUP BY 1),
       |dc AS (SELECT r2.lab, sum(deg.d)::BIGINT AS d_c
       |       FROM r2 JOIN deg USING (node) GROUP BY 1),
       |ec AS (SELECT a.lab, count(*)::BIGINT AS e_c
       |       FROM e0 JOIN r2 a ON e0.src = a.node
       |              JOIN r2 b ON e0.dst = b.node
       |       WHERE a.lab = b.lab GROUP BY 1),
       |tp AS (SELECT (SELECT count(*)::BIGINT FROM nodes) AS n_nodes,
       |         ((1000000 * max(sz)) // (SELECT count(*) FROM nodes))::BIGINT
       |           AS top_share_ppm
       |       FROM (SELECT lab, count(*)::BIGINT AS sz FROM r2 GROUP BY 1) s),
       |nsum AS (SELECT count(*)::BIGINT AS n_communities, max(m.m) AS n_edges,
       |           sum(4 * m.m * coalesce(ec.e_c, 0)
       |               - dc.d_c * dc.d_c)::BIGINT AS num
       |         FROM dc LEFT JOIN ec USING (lab) CROSS JOIN m)
       |SELECT tp.n_nodes, nsum.n_edges, nsum.n_communities,
       |       (CASE WHEN num >= 0
       |          THEN (1000000 * num) // (4 * n_edges * n_edges)
       |          ELSE -((1000000 * (-num)) // (4 * n_edges * n_edges)) END)
       |         ::BIGINT AS q_ppm,
       |       tp.top_share_ppm,
       |       (CASE WHEN (CASE WHEN num >= 0
       |            THEN (1000000 * num) // (4 * n_edges * n_edges)
       |            ELSE -((1000000 * (-num)) // (4 * n_edges * n_edges)) END)
       |          >= -500000 THEN 1 ELSE 0 END)::BIGINT AS beats_bipartite_split
       |FROM nsum CROSS JOIN tp""".stripMargin
  }

  /** q260: TPC-H Q3-shaped shipping-priority top-10 — unshipped revenue
    * (ordered before, shipped after the cut date) for one market segment,
    * top 10 orders by revenue. The canonical filter→join→agg→top-k
    * pipeline; revenue is DECIMAL floor-cents so the ordering key is
    * BIGINT (a float revenue sort can flip equal-cent neighbors per
    * engine), the date rides as an integer yyyymmdd key, and the
    * orderkey tie-break pins ties.
    *
    * Scale shape: both date predicates prune their scans; customer is a
    * broadcast semi-join; one orderkey shuffle; the top-10 runs as the
    * bounded TakeOrderedAndProject heap, never a global sort.
    */
  def q260ShippingPriority(spark: SparkSession, dir: String): DataFrame = {
    val cut = "1997-06-01"
    lineitem(spark, dir)
      .filter(col("l_shipdate") > lit(cut).cast("timestamp"))
      .join(orders(spark, dir)
          .filter(col("o_orderdate") < lit(cut).cast("timestamp")),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(spark, dir)
          .filter(col("c_mktsegment") === "BUILDING").select("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_semi")
      .groupBy(col("l_orderkey"),
        (year(col("o_orderdate")) * 10000 + month(col("o_orderdate")) * 100 +
          dayofmonth(col("o_orderdate"))).cast("long").as("order_ymd"),
        col("o_orderpriority"))
      .agg(floor(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(30,10)")) * 100).cast("long").as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("l_orderkey").asc)
      .limit(10)
  }

  private val q260Oracle =
    """SELECT l_orderkey,
      |       (year(o_orderdate) * 10000 + month(o_orderdate) * 100
      |          + day(o_orderdate))::BIGINT AS order_ymd,
      |       o_orderpriority,
      |       floor(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,10)) * 100)::BIGINT
      |         AS revenue_cents
      |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |WHERE l_shipdate > TIMESTAMP '1997-06-01'
      |  AND o_orderdate < TIMESTAMP '1997-06-01'
      |  AND o_custkey IN (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING')
      |GROUP BY 1, 2, 3
      |ORDER BY revenue_cents DESC, l_orderkey ASC
      |LIMIT 10""".stripMargin

  /** q261: TPC-H Q6-shaped forecast-revenue delta — one year, a discount
    * band, small quantities, `sum(extendedprice × discount)`. Q6 exists
    * as the PURE SCAN benchmark: no join, no window — the whole query is
    * predicate pushdown + a 1-row aggregate, the shape where a columnar
    * scan's filter/decode rate is the only cost at 100 TB.
    */
  def q261ForecastRevenue(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir)
      .filter(expr("year(l_shipdate) = 1997") &&
        col("l_discount").between(0.02, 0.06) && col("l_quantity") < 25)
      .agg(count(lit(1)).as("n_lines"),
        floor(sum((col("l_extendedprice") * col("l_discount"))
          .cast("decimal(30,10)")) * 100).cast("long").as("revenue_cents"))

  private val q261Oracle =
    """SELECT count(*)::BIGINT AS n_lines,
      |       floor(sum((l_extendedprice * l_discount)::DECIMAL(30,10)) * 100)::BIGINT
      |         AS revenue_cents
      |FROM lineitem
      |WHERE year(l_shipdate) = 1997
      |  AND l_discount BETWEEN 0.02 AND 0.06 AND l_quantity < 25""".stripMargin

  /** q262: TPC-H Q10-shaped returned-item report — the 20 customers losing
    * the most revenue to returns (`l_returnflag = 'R'`) in a two-quarter
    * window, with their nation. Floor-cents BIGINT ordering key +
    * custkey tie-break, q260's discipline.
    *
    * Scale shape: the return-flag and date filters prune the fact scan;
    * one orderkey shuffle, then a custkey contraction to |customers|;
    * customer/nation broadcast onto the contracted aggregate (never onto
    * raw lines); top-20 via the bounded heap.
    */
  def q262ReturnedItems(spark: SparkSession, dir: String): DataFrame =
    lineitem(spark, dir).filter(col("l_returnflag") === "R")
      .join(orders(spark, dir)
          .filter(expr("year(o_orderdate) = 1998 AND month(o_orderdate) <= 6"))
          .select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(floor(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(30,10)")) * 100).cast("long").as("lost_cents"))
      .join(broadcast(customer(spark, dir).select("c_custkey", "c_name", "c_nationkey")),
        col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"), col("lost_cents"))
      .orderBy(col("lost_cents").desc, col("c_custkey").asc)
      .limit(20)

  private val q262Oracle =
    """SELECT c_custkey, c_name, n_name,
      |       floor(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,10)) * 100)::BIGINT
      |         AS lost_cents
      |FROM lineitem
      |  JOIN orders ON l_orderkey = o_orderkey
      |  JOIN customer ON o_custkey = c_custkey
      |  JOIN nation ON c_nationkey = n_nationkey
      |WHERE l_returnflag = 'R'
      |  AND year(o_orderdate) = 1998 AND month(o_orderdate) <= 6
      |GROUP BY 1, 2, 3
      |ORDER BY lost_cents DESC, c_custkey ASC
      |LIMIT 20""".stripMargin

  /** q263: 2-D SKYLINE (Pareto frontier) of the part catalog — the parts no
    * other part dominates on (cheaper-or-equal price, larger-or-equal
    * size, one strict). The naive formulation is an all-pairs dominance
    * anti-join; after contracting to DISTINCT (price, size) points the
    * skyline is a single running-max sweep: sorted by (price asc, size
    * desc), a point survives iff its size strictly beats every earlier
    * point's — O(n log n), the sort-based skyline algorithm
    * (Börzsönyi et al., ICDE'01's SFS variant).
    *
    * The ORACLE is the definitional NOT-EXISTS — deliberately a different
    * algorithm, so the window algebra is cross-checked against the
    * definition rather than replayed (q194's self-asserting discipline).
    *
    * Scale shape: the distinct-point contraction bounds the sweep input
    * by the (price-domain × size-domain) grid, not |parts|; the
    * single-partition window runs over that contraction (q256's
    * histogram-contraction discipline). Per-point part counts ride the
    * same contraction aggregate.
    */
  def q263PartSkyline(spark: SparkSession, dir: String): DataFrame = {
    val pts = part(spark, dir)
      .select(floor(col("p_retailprice") * 100).cast("long").as("price_cents"),
        col("p_size").cast("long").as("p_size"))
      .groupBy("price_cents", "p_size").agg(count(lit(1)).as("n_parts"))
    val w = Window.orderBy(col("price_cents").asc, col("p_size").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    pts.withColumn("best_before", max(col("p_size")).over(w))
      .filter(col("best_before").isNull || col("best_before") < col("p_size"))
      .select("price_cents", "p_size", "n_parts")
  }

  private val q263Oracle =
    """WITH pts AS (
      |  SELECT floor(p_retailprice * 100)::BIGINT AS price_cents,
      |         p_size::BIGINT AS p_size, count(*)::BIGINT AS n_parts
      |  FROM part GROUP BY 1, 2)
      |SELECT price_cents, p_size, n_parts
      |FROM pts a
      |WHERE NOT EXISTS (
      |  SELECT 1 FROM pts b
      |  WHERE b.price_cents <= a.price_cents AND b.p_size >= a.p_size
      |    AND (b.price_cents < a.price_cents OR b.p_size > a.p_size))""".stripMargin

  /** q265: equi-depth histogram + CARDINALITY ESTIMATE self-check — the
    * engine-internals loop made queryable: build an 8-bucket equi-depth
    * histogram over order totals (boundaries bᵢ = smallest value whose
    * cumulative count reaches ⌈n·i/8⌉, via the value-histogram
    * contraction — no ntile, whose tie placement is engine-defined), then
    * estimate the selectivity of `total ≤ X` the way an optimizer would
    * (full buckets below + integer uniform interpolation inside the
    * containing bucket) and publish estimate AND actual side by side —
    * the estimator's error is data, not a hidden internal.
    *
    * Scale shape: one contraction shuffle to |distinct cents| rows, the
    * running-sum window over the contraction, an 8-row boundary table
    * broadcast into two 1-row aggregates.
    */
  def q265HistogramEstimate(spark: SparkSession, dir: String): DataFrame = {
    val xCents = 250000L // the probe predicate: o_totalprice <= $2500.00
    val h = orders(spark, dir)
      .select(floor(col("o_totalprice") * 100).cast("long").as("v"))
      .groupBy("v").agg(count(lit(1)).as("cnt"))
    val wc = Window.orderBy(col("v")).rowsBetween(Window.unboundedPreceding, 0)
    val cum = h.withColumn("cum", sum("cnt").over(wc))
      .withColumn("n", sum("cnt").over(
        Window.partitionBy().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
    // bucket boundaries: for i in 1..8 the smallest v with cum >= ceil(n*i/8)
    val bounds = cum.crossJoin(broadcast(
        spark.range(1, 9).select(col("id").as("i"))))
      .filter(col("cum") * 8 >= col("n") * col("i"))
      .groupBy("i").agg(min(col("v")).as("b"), max(col("n")).as("n"))
    // per-bucket exact counts: cum at b_i minus cum at b_{i-1}
    val cumAt = cum.select(col("v"), col("cum"))
    val buckets = bounds
      .join(cumAt, col("b") === col("v"))
      .select(col("i"), col("b"), col("cum").as("cum_b"), col("n"))
      .withColumn("prev_b", lag(col("b"), 1).over(Window.orderBy(col("i"))))
      .withColumn("prev_cum", coalesce(lag(col("cum_b"), 1).over(Window.orderBy(col("i"))), lit(0L)))
    // the optimizer-style estimate for v <= X: full buckets below X's
    // bucket + floor-linear interpolation inside it
    val est = buckets
      .filter(col("b") >= xCents &&
        (col("prev_b").isNull || col("prev_b") < xCents))
      .select(
        (col("prev_cum") +
          when(col("b") === col("prev_b"), lit(0L)).otherwise(
            expr(s"((cum_b - prev_cum) * ($xCents - coalesce(prev_b, 0)))" +
              " div (b - coalesce(prev_b, 0))"))).as("est_rows"))
      .limit(1)
    val actual = orders(spark, dir)
      .filter(floor(col("o_totalprice") * 100) <= xCents)
      .agg(count(lit(1)).as("actual_rows"))
    est.crossJoin(broadcast(actual))
      .select(lit(xCents).as("x_cents"), col("est_rows"), col("actual_rows"))
  }

  private val q265Oracle =
    """WITH h AS (
      |  SELECT floor(o_totalprice * 100)::BIGINT AS v, count(*)::BIGINT AS cnt
      |  FROM orders GROUP BY 1),
      |c AS (SELECT v,
      |        sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        sum(cnt) OVER () AS n
      |      FROM h),
      |bounds AS (
      |  SELECT i, min(v)::BIGINT AS b, max(n)::BIGINT AS n
      |  FROM c CROSS JOIN (SELECT unnest(generate_series(1, 8)) AS i)
      |  WHERE cum * 8 >= n * i
      |  GROUP BY i),
      |bk AS (
      |  SELECT i, b, cum AS cum_b, bounds.n,
      |         lag(b) OVER (ORDER BY i) AS prev_b,
      |         coalesce(lag(cum) OVER (ORDER BY i), 0) AS prev_cum
      |  FROM bounds JOIN c ON b = v),
      |est AS (
      |  SELECT (prev_cum + CASE WHEN b = prev_b THEN 0
      |            ELSE (cum_b - prev_cum) * (250000 - coalesce(prev_b, 0))
      |                   // (b - coalesce(prev_b, 0)) END)::BIGINT AS est_rows
      |  FROM bk
      |  WHERE b >= 250000 AND (prev_b IS NULL OR prev_b < 250000)
      |  LIMIT 1),
      |act AS (SELECT count(*)::BIGINT AS actual_rows FROM orders
      |        WHERE floor(o_totalprice * 100) <= 250000)
      |SELECT 250000::BIGINT AS x_cents, est_rows, actual_rows
      |FROM est CROSS JOIN act""".stripMargin

  /** q268: BAG set operations — `INTERSECT ALL` / `EXCEPT ALL` between the
    * click and purchase user-id MULTISETS, per user. q05 covers the
    * DISTINCT set algebra; the ALL variants carry multiplicity
    * (min(c₁,c₂) and max(c₁−c₂,0) respectively), which is what makes them
    * usable as "events matched / events unmatched" accounting. Spark's
    * native intersectAll/exceptAll operators run the engine side; the
    * ORACLE is the definitional count arithmetic — a different algorithm,
    * so the engine's bag semantics are checked against the definition
    * (q263's discipline).
    *
    * Scale shape: both bag operators hash-partition on the row value
    * (user_id) with map-side partial counting — the same single-key
    * exchange family as every per-user aggregate here.
    */
  def q268BagSetOps(spark: SparkSession, dir: String): DataFrame = {
    val e = graft.queries.Tables.events(spark, dir)
    val a = e.filter(col("event_type") === "click").select("user_id")
    val b = e.filter(col("event_type") === "purchase").select("user_id")
    val inter = a.intersectAll(b).groupBy("user_id")
      .agg(count(lit(1)).as("n_inter"))
    val exc = a.exceptAll(b).groupBy("user_id")
      .agg(count(lit(1)).as("n_except"))
    a.distinct()
      .join(inter, Seq("user_id"), "left")
      .join(exc, Seq("user_id"), "left")
      .select(col("user_id"), coalesce(col("n_inter"), lit(0L)).as("n_inter"),
        coalesce(col("n_except"), lit(0L)).as("n_except"))
  }

  private val q268Oracle =
    """WITH a AS (SELECT user_id, count(*)::BIGINT AS c1 FROM events
      |           WHERE event_type = 'click' GROUP BY 1),
      |b AS (SELECT user_id, count(*)::BIGINT AS c2 FROM events
      |      WHERE event_type = 'purchase' GROUP BY 1)
      |SELECT a.user_id, least(c1, coalesce(c2, 0))::BIGINT AS n_inter,
      |       greatest(c1 - coalesce(c2, 0), 0)::BIGINT AS n_except
      |FROM a LEFT JOIN b USING (user_id)""".stripMargin

  /** q273: SCHEMA EVOLUTION read — two parquet generations of the same
    * table (gen-1 lacks the later `cents` column) read back as ONE relation
    * via `mergeSchema`: old files surface the new column as NULL, new files
    * carry it, and nothing is rewritten — the schema-on-read contract a
    * long-lived 100 TB table lives by (the reference inherits it from
    * Delta's schema evolution; a raw-parquet engine must prove the merged
    * read). Generation membership is the even/odd event residue, so the
    * oracle derives both generations' aggregates closed-form.
    */
  def q273SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val path = Staging.dir("q273-gen", dir) { p =>
      val e = events(spark, dir)
      e.filter(col("event_id") % 2 === 0)
        .select(col("event_id"), col("user_id"))
        .write.mode("overwrite").parquet(s"$p/g1")
      e.filter(col("event_id") % 2 === 1)
        .select(col("event_id"), col("user_id"),
          floor(col("value") * 100).cast("long").as("cents"))
        .write.mode("overwrite").parquet(s"$p/g2")
    }
    spark.read.option("mergeSchema", "true")
      .parquet(s"$path/g1", s"$path/g2")
      .groupBy((col("cents").isNotNull).as("has_cents"))
      .agg(count(lit(1)).as("n"), sum(col("event_id")).as("sum_id"),
        sum(coalesce(col("cents"), lit(0L))).as("sum_cents"))
  }

  private val q273Oracle =
    """SELECT (event_id % 2 = 1) AS has_cents, count(*)::BIGINT AS n,
      |       sum(event_id)::BIGINT AS sum_id,
      |       sum(CASE WHEN event_id % 2 = 1 THEN floor(value * 100)::BIGINT
      |                ELSE 0 END)::BIGINT AS sum_cents
      |FROM events GROUP BY 1""".stripMargin

  /** q274: BFS hop distance from a seed (bounded frontier expansion) — the
    * DISTANCE question the graph family still lacked: PageRank ranks,
    * triangles cluster, CC/LPA partition, k-core densifies — BFS answers
    * "how far". 3 synchronous rounds from customer 0 over the undirected
    * trade graph (q132's edge set): round r labels every unlabeled
    * neighbor of the r−1 frontier with distance r; unreached nodes are
    * excluded (they'd be labeled by a later round — the bounded-round
    * honesty of kCorePeel). Output is (node, dist ≤ 3).
    *
    * Scale shape per round: one join frontier⋈edges on the node key + one
    * anti-join against the visited set — both model-bounded by the
    * frontier, the Pregel round shape; the visited accumulator is
    * checkpointed per round, capping lineage.
    */
  def q274BfsHops(spark: SparkSession, dir: String): DataFrame = {
    // staged symmetrized relation (r15) — the per-trial union +
    // localCheckpoint it replaces built the identical rows
    val und = GraphFixtures.tradeEdgesSym(spark, dir)
    var visited = und.sparkSession.range(1)
      .select(lit(0L).as("node"), lit(0L).as("dist"))
    (1L to 3L).foreach { r =>
      val frontier = visited.filter(col("dist") === r - 1)
      val next = und
        .join(frontier.withColumnRenamed("node", "u").select("u"), "u")
        .select(col("v").as("node")).distinct()
        .join(visited.select("node"), Seq("node"), "left_anti")
        .withColumn("dist", lit(r))
      visited = visited.unionByName(next).localCheckpoint()
    }
    visited
  }

  private val q274Oracle = {
    def round(prev: String, name: String, r: Int): String =
      s"""$name AS (
         |  SELECT * FROM $prev
         |  UNION ALL
         |  SELECT DISTINCT und.v AS node, $r AS dist
         |  FROM und JOIN $prev f ON und.u = f.node AND f.dist = ${r - 1}
         |  WHERE und.v NOT IN (SELECT node FROM $prev))""".stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |und AS (SELECT src AS u, dst AS v FROM e0
       |        UNION ALL SELECT dst, src FROM e0),
       |d0 AS (SELECT 0::BIGINT AS node, 0::BIGINT AS dist),
       |${round("d0", "d1", 1)},
       |${round("d1", "d2", 2)},
       |${round("d2", "d3", 3)}
       |SELECT node, dist FROM d3""".stripMargin
  }

  /** q285: "people also bought" top-3 — per part, the 3 parts most often
    * sharing an order with it (count ties broken by the smaller partkey):
    * the item-item co-occurrence recommender baseline, the PART-level
    * companion of q180's type-affinity matrix. Directed pairs (both
    * orientations) so every part gets its own ranked list.
    *
    * Scale shape: the pair fan-out is per-order lines² — bounded by the
    * lines-per-order constant, never |parts|² (the cart-bomb guard q154
    * notes); the counted contraction is the staged
    * [[GraphFixtures.coPurchaseCounts]] relation (canonical u < v, so the
    * directed view is its two-orientation union — counts are symmetric by
    * construction), and the rank-3 cut runs inside WindowGroupLimit.
    */
  def q285AlsoBought(spark: SparkSession, dir: String): DataFrame = {
    // shared staged counted contraction — see GraphFixtures.coPurchaseCounts
    val c = GraphFixtures.coPurchaseCounts(spark, dir)
    val w = Window.partitionBy("pa").orderBy(col("n_co").desc, col("pb").asc)
    c.select(col("u").as("pa"), col("v").as("pb"), col("n_co"))
      .unionByName(c.select(col("v").as("pa"), col("u").as("pb"), col("n_co")))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= 3)
      .select(col("pa"), col("rnk").cast("long").as("rnk"), col("pb"), col("n_co"))
  }

  private val q285Oracle =
    """WITH li AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
      |co AS (SELECT a.l_partkey AS pa, b.l_partkey AS pb, count(*)::BIGINT AS n_co
      |       FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
      |                          AND a.l_partkey <> b.l_partkey
      |       GROUP BY 1, 2)
      |SELECT pa, row_number() OVER w AS rnk, pb, n_co
      |FROM co
      |WINDOW w AS (PARTITION BY pa ORDER BY n_co DESC, pb ASC)
      |QUALIFY row_number() OVER w <= 3""".stripMargin

  /** q288: Gini coefficient of customer spend — revenue-inequality in
    * integer ppm via the sorted-cumulative (rank) formula
    * `G = (2·Σi·xᵢ − (n+1)·Σx) / (n·Σx)` with ranks made a permutation by
    * the (cents, custkey) tie-break: the "what share of revenue do the top
    * customers hold" concentration number, exact (a Lorenz-curve float
    * integration can't hash-gate). Complements q240's Gini IMPURITY
    * (categorical) with the economic inequality reading (continuous).
    *
    * Scale shape: one custkey contraction; the global rank over the
    * |customers| contraction is [[graft.ext.RangeRank.rank]] — two-pass
    * range-partitioned (sampled boundaries, per-partition local rank,
    * broadcast offsets), bit-equal to the single-partition window it
    * replaced (r11); the statistic is 1 row. Overflow headroom:
    * Σi·xᵢ ≤ n²·max_cents.
    */
  def q288SpendGini(spark: SparkSession, dir: String): DataFrame = {
    val spend = orders(spark, dir)
      .groupBy("o_custkey")
      .agg(sum(floor(col("o_totalprice") * 100).cast("long")).as("cents"))
    graft.ext.RangeRank.rank(spend,
        Seq(col("cents").asc, col("o_custkey").asc), "i")
      .agg(count(lit(1)).as("n_customers"), sum(col("cents")).as("total_cents"),
        sum(col("i") * col("cents")).as("rank_weighted"))
      .select(col("n_customers"), col("total_cents"),
        // divide by n FIRST: 10⁶·(2RW − (n+1)T) overflows 64 bits at scale
        // (RW ≤ n·T); 10⁶·(diff div n) ≤ 10⁶·T stays inside. diff ≥ 0 by
        // the ascending sort, so Spark's truncating div and DuckDB's
        // flooring // agree. The two-step floor is the DEFINED statistic
        // on both engines — identical by construction.
        expr("(1000000 * ((2 * rank_weighted - (n_customers + 1) * total_cents)" +
          " div n_customers)) div total_cents").as("gini_ppm"))
  }

  private val q288Oracle =
    """WITH s AS (SELECT o_custkey, sum(floor(o_totalprice * 100)::BIGINT)::BIGINT AS cents
      |           FROM orders GROUP BY 1),
      |r AS (SELECT cents,
      |        row_number() OVER (ORDER BY cents ASC, o_custkey ASC) AS i
      |      FROM s),
      |a AS (SELECT count(*)::BIGINT AS n_customers, sum(cents)::BIGINT AS total_cents,
      |             sum(i * cents)::BIGINT AS rank_weighted FROM r)
      |SELECT n_customers, total_cents,
      |       ((1000000 * ((2 * rank_weighted - (n_customers + 1) * total_cents)
      |          // n_customers)) // total_cents)::BIGINT AS gini_ppm
      |FROM a""".stripMargin

  /** q289: relative-rank window family — `rank`, `percent_rank` and
    * `cume_dist` over customer balances per market segment, the remaining
    * corner of §2.6's window surface (q03 covers row_number, q118 the
    * top-k cut). The two fractional functions are published as
    * cross-multiplied integers — `(rank−1)·10⁶ div (n−1)`, and cume_dist
    * via the rank identity `cd_num = n − rank_desc + 1` (rank over the
    * DESCENDING value alone, so every value-peer shares it) with
    * `cd_num·10⁶ div n`: the native float cume_dist really does differ by
    * an ulp across engines (measured: 280276 vs 280277 ppm), so the
    * fractional functions ship as integers or not at all. The
    * (cents, custkey) tie-break keeps rank gaps deterministic; rank itself
    * (WITH gaps, unlike row_number) is pinned by duplicate balances.
    */
  def q289RelativeRanks(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("cents").asc, col("c_custkey").asc)
    val wn = Window.partitionBy("c_mktsegment")
    customer(spark, dir)
      .select(col("c_custkey"), col("c_mktsegment"),
        floor(col("c_acctbal") * 100).cast("long").as("cents"))
      .withColumn("rnk", rank().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(wn))
      .withColumn("pr_ppm", expr("((rnk - 1) * 1000000) div (n - 1)"))
      .withColumn("rnk_desc", rank().over(Window.partitionBy("c_mktsegment")
        .orderBy(col("cents").desc)).cast("long"))
      .withColumn("cd_ppm", expr("((n - rnk_desc + 1) * 1000000) div n"))
      .select("c_custkey", "c_mktsegment", "cents", "rnk", "pr_ppm", "cd_ppm")
  }

  private val q289Oracle =
    """SELECT c_custkey, c_mktsegment, floor(c_acctbal * 100)::BIGINT AS cents,
      |       rank() OVER w AS rnk,
      |       ((rank() OVER w - 1) * 1000000)
      |         // (count(*) OVER (PARTITION BY c_mktsegment) - 1) AS pr_ppm,
      |       ((count(*) OVER (PARTITION BY c_mktsegment)
      |          - rank() OVER wd + 1) * 1000000)
      |         // count(*) OVER (PARTITION BY c_mktsegment) AS cd_ppm
      |FROM customer
      |WINDOW w AS (PARTITION BY c_mktsegment
      |             ORDER BY floor(c_acctbal * 100)::BIGINT ASC, c_custkey ASC),
      |       wd AS (PARTITION BY c_mktsegment
      |              ORDER BY floor(c_acctbal * 100)::BIGINT DESC)""".stripMargin

  /** q290: ntile parity — the SQL-standard `ntile(7)` distribution rule
    * (the first `n mod k` tiles take one extra row) over a UNIQUE total
    * order (cents, custkey). 7 deliberately doesn't divide the row count.
    * Output is the per-tile contraction (tile, rows, min/max cents) — the
    * boundary placement IS the check.
    *
    * The rule is computed EXPLICITLY from the global rank (rank i with
    * n = qk + r: tiles 1..r hold q+1 rows, so i ≤ r(q+1) → tile
    * ⌈i/(q+1)⌉, else tile r + ⌈(i − r(q+1))/q⌉) and pinned against
    * DuckDB's builtin `ntile` — formula vs builtin across engines, a
    * stronger parity than builtin-vs-builtin. The rank itself is
    * [[graft.ext.RangeRank.rank]] (two-pass range-partitioned, r11) and
    * `n` a 1-row broadcast, so no |customers|-sized single-partition
    * window remains (Spark's `ntile` REQUIRES a global window — this is
    * also how the operator survives 100 TB).
    */
  def q290NtileParity(spark: SparkSession, dir: String): DataFrame = {
    val ranked = graft.ext.RangeRank.rank(
      customer(spark, dir)
        .select(col("c_custkey"), floor(col("c_acctbal") * 100).cast("long").as("cents")),
      Seq(col("cents").asc, col("c_custkey").asc), "i")
    ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
      .withColumn("tile", expr(
        """CASE WHEN i <= (n % 7) * (n div 7 + 1)
          |     THEN (i - 1) div (n div 7 + 1) + 1
          |     ELSE (n % 7) + (i - (n % 7) * (n div 7 + 1) - 1)
          |            div greatest(n div 7, 1) + 1 END""".stripMargin))
      .groupBy("tile")
      .agg(count(lit(1)).as("n_rows"), min(col("cents")).as("lo_cents"),
        max(col("cents")).as("hi_cents"))
  }

  private val q290Oracle =
    """WITH t AS (
      |  SELECT floor(c_acctbal * 100)::BIGINT AS cents,
      |         ntile(7) OVER (ORDER BY floor(c_acctbal * 100)::BIGINT ASC,
      |                        c_custkey ASC) AS tile
      |  FROM customer)
      |SELECT tile::BIGINT AS tile, count(*)::BIGINT AS n_rows,
      |       min(cents)::BIGINT AS lo_cents, max(cents)::BIGINT AS hi_cents
      |FROM t GROUP BY 1""".stripMargin

  /** q291: OUTER explode semantics — `explode_outer` must keep a parent
    * row whose array is EMPTY (yielding a null element) where plain
    * `explode` drops it: the left-join-lateral contract that keeps
    * zero-token docs visible in token-level accounting. The fixture keeps
    * only long (≥ 8-char) words — 106 of 500 docs have none, so both arms
    * of the semantics carry weight; the oracle replays with
    * DuckDB's LEFT JOIN LATERAL unnest — its native spelling of the same
    * semantics. Output: per doc, elements kept under each semantics.
    */
  def q291ExplodeOuter(spark: SparkSession, dir: String): DataFrame = {
    val toks = expr("filter(split(lower(text), ' '), t -> t RLIKE '^[a-z]{8,}$')")
    val base = graft.queries.Tables.documents(spark, dir)
      .select(col("doc_id"), toks.as("nums"))
    val outer = base.select(col("doc_id"), explode_outer(col("nums")).as("tok"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_outer_rows"), count(col("tok")).as("n_elems"))
    outer
  }

  private val q291Oracle =
    """WITH base AS (
      |  SELECT doc_id,
      |         list_filter(string_split(lower(text), ' '),
      |                     t -> regexp_full_match(t, '[a-z]{8,}')) AS nums
      |  FROM documents),
      |ex AS (
      |  SELECT doc_id, u.tok
      |  FROM base LEFT JOIN LATERAL (SELECT unnest(nums) AS tok) u ON true)
      |SELECT doc_id, count(*)::BIGINT AS n_outer_rows,
      |       count(tok)::BIGINT AS n_elems
      |FROM ex GROUP BY 1""".stripMargin

  /** q296: hierarchical percent-of-parent — every nation's revenue as ppm
    * of its REGION's and of the corpus total, plus the region's own share
    * of total: the drill-down ratio tree every BI surface renders. Shares
    * at each level are integer ppm over floor-cents (never a float of a
    * float); the parent totals come back as two window sums over the
    * |nations| contraction — no second scan of the fact.
    */
  def q296HierarchyShares(spark: SparkSession, dir: String): DataFrame = {
    val perNation = lineitem(spark, dir)
      .join(orders(spark, dir).select("o_orderkey", "o_custkey"),
        col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(customer(spark, dir)), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation(spark, dir)), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name", "n_name")
      .agg(floor(sum((col("l_extendedprice") * (lit(1) - col("l_discount")))
        .cast("decimal(30,10)")) * 100).cast("long").as("cents"))
    val wr = Window.partitionBy("r_name")
    val wt = Window.partitionBy()
    perNation
      .withColumn("region_cents", sum(col("cents")).over(wr))
      .withColumn("total_cents", sum(col("cents")).over(wt))
      .select(col("r_name"), col("n_name"), col("cents"),
        expr("(1000000 * cents) div region_cents").as("of_region_ppm"),
        expr("(1000000 * cents) div total_cents").as("of_total_ppm"),
        expr("(1000000 * region_cents) div total_cents").as("region_of_total_ppm"))
  }

  private val q296Oracle =
    """WITH n AS (
      |  SELECT r_name, n_name,
      |         floor(sum((l_extendedprice * (1 - l_discount))::DECIMAL(30,10)) * 100)::BIGINT
      |           AS cents
      |  FROM lineitem
      |    JOIN orders ON l_orderkey = o_orderkey
      |    JOIN customer ON o_custkey = c_custkey
      |    JOIN nation ON c_nationkey = n_nationkey
      |    JOIN region ON n_regionkey = r_regionkey
      |  GROUP BY 1, 2)
      |SELECT r_name, n_name, cents,
      |       ((1000000 * cents) // sum(cents) OVER (PARTITION BY r_name))::BIGINT AS of_region_ppm,
      |       ((1000000 * cents) // sum(cents) OVER ())::BIGINT AS of_total_ppm,
      |       ((1000000 * sum(cents) OVER (PARTITION BY r_name))
      |         // sum(cents) OVER ())::BIGINT AS region_of_total_ppm
      |FROM n""".stripMargin

  /** Per-table (numeric, string) column split for the broadcast advisor —
    * ONE list drives both the Spark aggregates and the generated oracle,
    * so the size model cannot drift between engines.
    */
  private val BcastSpecs: Seq[(String, Seq[String], Seq[String])] = Seq(
    ("region", Seq("r_regionkey"), Seq("r_name")),
    ("nation", Seq("n_nationkey", "n_regionkey"), Seq("n_name")),
    ("supplier", Seq("s_suppkey", "s_nationkey", "s_acctbal"), Seq("s_name")),
    ("customer", Seq("c_custkey", "c_nationkey", "c_acctbal"),
      Seq("c_name", "c_mktsegment")),
    ("part", Seq("p_partkey", "p_size", "p_retailprice"),
      Seq("p_name", "p_brand", "p_type")),
    ("orders", Seq("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate"),
      Seq("o_orderstatus", "o_orderpriority")))

  private val BcastThreshold = 10L * 1024 * 1024

  /** q313: broadcast-join advisor — the planning decision this engine's own
    * star joins ride (q02's scaladoc asserts the dims broadcast; this query
    * PUBLISHES the size model that justifies it): per table, an in-memory
    * size estimate from the same shape Spark's statistics use — 8 bytes per
    * numeric/date column per row plus measured string bytes with 4-byte
    * overhead — laid against the 10 MiB `autoBroadcastJoinThreshold`
    * default. The report is the 100 TB join-strategy worksheet: dims that
    * stay under the line broadcast at any fact size; `orders` crossing it
    * is what forces the fact side onto shuffle joins.
    *
    * Scale shape: one map-side-combined aggregate per table (row count +
    * string-length sums), a |tables|-row union. Scans prune to the string
    * columns only.
    */
  def q313BroadcastAdvisor(spark: SparkSession, dir: String): DataFrame =
    BcastSpecs.map { case (table, nums, strs) =>
      val strBytes = strs
        .map(c => sum(length(col(c)) + 4).cast("long"))
        .reduce(_ + _)
      t(spark, dir, table)
        .agg(count(lit(1)).as("n_rows"), strBytes.as("str_bytes"))
        .select(lit(table).as("tbl"), col("n_rows"),
          (col("n_rows") * lit(8L * nums.size) + col("str_bytes")).as("est_bytes"))
        .withColumn("broadcastable",
          (col("est_bytes") <= BcastThreshold).cast("long"))
    }.reduce(_ unionAll _)

  private val q313Oracle = BcastSpecs.map { case (table, nums, strs) =>
    val strBytes = strs.map(c => s"sum(len($c) + 4)").mkString(" + ")
    s"""SELECT '$table' AS tbl, count(*)::BIGINT AS n_rows,
       |  (count(*) * ${8 * nums.size} + $strBytes)::BIGINT AS est_bytes,
       |  ((count(*) * ${8 * nums.size} + $strBytes) <= $BcastThreshold)::BIGINT
       |    AS broadcastable
       |FROM $table""".stripMargin
  }.mkString("\nUNION ALL\n")

  /** Shared recursive-hierarchy SQL body — ONE string runs on both
    * engines (only the cents-flooring differs by dialect via `floorFn`),
    * so the recursion cannot fork. Nodes encode as `key·4 + level` to
    * keep the three levels disjoint in one BIGINT id space.
    */
  private def q329Sql(floorCents: String): String =
    s"""WITH RECURSIVE edges AS (
       |  SELECT CAST(n_regionkey * 4 AS BIGINT) AS parent,
       |         CAST(n_nationkey * 4 + 1 AS BIGINT) AS child,
       |         CAST(0 AS BIGINT) AS cents
       |  FROM nation
       |  UNION ALL
       |  SELECT CAST(c_nationkey * 4 + 1 AS BIGINT),
       |         CAST(c_custkey * 4 + 2 AS BIGINT),
       |         $floorCents
       |  FROM customer),
       |walk(node, root, depth, cents) AS (
       |  SELECT CAST(r_regionkey * 4 AS BIGINT), CAST(r_regionkey AS BIGINT),
       |         CAST(0 AS BIGINT), CAST(0 AS BIGINT)
       |  FROM region
       |  UNION ALL
       |  SELECT e.child, w.root, w.depth + 1, e.cents
       |  FROM walk w JOIN edges e ON e.parent = w.node)
       |SELECT root AS region_key, depth, COUNT(*) AS n_nodes,
       |       SUM(cents)::BIGINT AS sum_cents
       |FROM walk GROUP BY root, depth""".stripMargin

  /** q329: recursive hierarchy rollup — Spark 4's NATIVE `WITH RECURSIVE`
    * (new in the 4.x line; the engine's whole recursion, not a driver
    * loop): the region → nation → customer containment tree walked as a
    * recursive CTE carrying a measure, so each region reports its node
    * count and account-balance cents PER DEPTH — the org-chart/BOM shape
    * recursive SQL exists for. The recursion is UNION ALL over a TREE
    * (unique parents), so the working set is bounded by the hierarchy
    * itself — the explosion-free regime; cyclic/graph walks stay on the
    * q274-style bounded-round DataFrame loops until UNION-distinct
    * recursion lands.
    *
    * Scale shape: per recursion round one join of the frontier against
    * the edge relation on the parent key — the Pregel round shape, now
    * planned by the engine itself.
    */
  def q329RecursiveRollup(spark: SparkSession, dir: String): DataFrame = {
    region(spark, dir).createOrReplaceTempView("q329_region")
    nation(spark, dir).createOrReplaceTempView("q329_nation")
    customer(spark, dir).createOrReplaceTempView("q329_customer")
    val sql = q329Sql("CAST(floor(c_acctbal * 100) AS BIGINT)")
      .replace("FROM nation", "FROM q329_nation")
      .replace("FROM customer", "FROM q329_customer")
      .replace("FROM region", "FROM q329_region")
    spark.sql(sql)
  }

  private val q329Oracle = q329Sql("floor(c_acctbal * 100)::BIGINT")

  /** q365: single-source CHEAPEST path — bounded Bellman-Ford over the
    * weighted trade graph, the question q274's BFS (fewest hops) cannot
    * answer once edges carry costs: edge weight = the cheapest lineitem
    * cents linking the customer↔supplier pair, 4 synchronous relaxation
    * rounds from customer 0, so the output is the exact min-cost over all
    * paths of ≤ 4 edges (the bounded-round honesty of q274/kCorePeel —
    * unreached-or-improvable-later nodes are what a 5th round would add).
    *
    * Scale shape per round: relax = dist ⋈ edges on the node key + a
    * groupBy-min re-contraction to one row per node — the Pregel
    * min-plus round; `localCheckpoint` per round caps lineage. The
    * oracle unrolls the identical four min-plus rounds as MATERIALIZED
    * CTEs (un-materialized, the reference tree re-executes
    * exponentially — q357's lesson).
    */
  def q365SsspCheapest(spark: SparkSession, dir: String): DataFrame = {
    val e0 = orders(spark, dir).select(col("o_orderkey"), col("o_custkey"))
      .join(lineitem(spark, dir).select(col("l_orderkey"), col("l_suppkey"),
        floor(col("l_extendedprice") * 100).cast("long").as("cents")),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy((col("o_custkey") * 2).as("src"),
        (col("l_suppkey") * 2 + 1).as("dst"))
      .agg(min("cents").as("w"))
    val und = e0.select(col("src").as("u"), col("dst").as("v"), col("w"))
      .union(e0.select(col("dst").as("u"), col("src").as("v"), col("w")))
      .localCheckpoint()
    var dist = und.sparkSession.range(1)
      .select(lit(0L).as("node"), lit(0L).as("d"))
    // checkpoint cadence A/B'd r16 (the r15 VERDICT #8 ask): every-2nd-round
    // checkpointing re-evaluates the un-snapshotted odd round TWICE in the
    // even round (the union arm + the join arm both read it) — measured
    // flat-to-worse (3.48 vs 3.44 s steady median, same window) — so the
    // per-round checkpoint stays.
    (1 to 4).foreach { _ =>
      val relax = und
        .join(dist.withColumnRenamed("node", "u"), "u")
        .select(col("v").as("node"), (col("d") + col("w")).as("d"))
      dist = dist.unionByName(relax)
        .groupBy("node").agg(min("d").as("d")).localCheckpoint()
    }
    dist
  }

  private val q365Oracle = {
    def round(prev: String, name: String): String =
      s"""$name AS MATERIALIZED (
         |  SELECT node, min(d)::BIGINT AS d FROM (
         |    SELECT node, d FROM $prev
         |    UNION ALL
         |    SELECT e.v AS node, f.d + e.w AS d
         |    FROM und e JOIN $prev f ON e.u = f.node)
         |  GROUP BY 1)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst,
       |         min(floor(l_extendedprice * 100)::BIGINT) AS w
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
       |  GROUP BY 1, 2),
       |und AS (SELECT src AS u, dst AS v, w FROM e0
       |        UNION ALL SELECT dst, src, w FROM e0),
       |d0 AS (SELECT 0::BIGINT AS node, 0::BIGINT AS d),
       |${round("d0", "d1")},
       |${round("d1", "d2")},
       |${round("d2", "d3")},
       |${round("d3", "d4")}
       |SELECT node, d FROM d4""".stripMargin
  }

  /** q368: modern SQL-sugar parity — `GROUP BY ALL` (group on every
    * non-aggregate select item), `ORDER BY ALL` (order by every output
    * column left-to-right, which makes the LIMIT cut deterministic
    * without naming columns) and star-projection exclusion, gated
    * head-to-head through `spark.sql` (q329's temp-view discipline, not
    * the DataFrame API — the parser surface is the thing under test).
    * The engines spell exclusion differently — Spark `* EXCEPT (c)`,
    * DuckDB `* EXCLUDE (c)` — so the gate pins the shared SEMANTICS, and
    * the excluded column is deliberately a float-derived average that
    * never reaches the hashed output.
    */
  def q368SqlSugar(spark: SparkSession, dir: String): DataFrame = {
    lineitem(spark, dir).createOrReplaceTempView("q368_lineitem")
    spark.sql(
      """WITH g AS (
        |  SELECT l_returnflag, l_linestatus, CAST(year(l_shipdate) AS BIGINT) AS ship_year,
        |         count(*) AS n,
        |         CAST(sum(CAST(floor(l_extendedprice * 100) AS BIGINT))
        |           AS BIGINT) AS cents,
        |         CAST(floor(avg(l_quantity)) AS BIGINT) AS avg_qty
        |  FROM q368_lineitem
        |  GROUP BY ALL)
        |SELECT * EXCEPT (avg_qty) FROM g ORDER BY ALL LIMIT 50""".stripMargin)
  }

  private val q368Oracle =
    """WITH g AS (
      |  SELECT l_returnflag, l_linestatus, year(l_shipdate)::BIGINT AS ship_year,
      |         count(*)::BIGINT AS n,
      |         sum(floor(l_extendedprice * 100)::BIGINT)::BIGINT AS cents,
      |         floor(avg(l_quantity))::BIGINT AS avg_qty
      |  FROM lineitem
      |  GROUP BY ALL)
      |SELECT * EXCLUDE (avg_qty) FROM g ORDER BY ALL LIMIT 50""".stripMargin

  /** q377: seed-sampled bounded betweenness centrality over the trade
    * graph ([[graft.ext.Graph.betweennessSampled]] — Brandes 2001 with
    * the Brandes-Pich 2007 source-sampling estimator and 3-hop bounding,
    * the two standard concessions that make betweenness tractable at
    * scale): σ path counts forward (q274's BFS round shape), the δ
    * dependency recurrence backward through one shared integer floor
    * chain, summed over seeds {customer 0, customer 1} — the BROKERAGE
    * ranking (who sits on shortest paths) the centrality family still
    * lacked: PageRank ranks influence, k-core density, HITS authority;
    * betweenness ranks chokepoints. Top-20 with the node tie-break, so
    * the cut is deterministic.
    */
  def q377Betweenness(spark: SparkSession, dir: String): DataFrame = {
    // staged symmetrized relation (r15) — the per-trial union +
    // localCheckpoint it replaces built the identical rows
    val und = GraphFixtures.tradeEdgesSym(spark, dir)
    graft.ext.Graph.betweennessSampled(und, Seq(0L, 2L), depth = 3)
      .orderBy(col("bc").desc, col("node").asc).limit(20)
  }

  private val q377Oracle = {
    def seedChain(s: Long, tag: String): String =
      s"""l0_$tag AS (SELECT $s::BIGINT AS node, 1::BIGINT AS sg),
         |l1_$tag AS MATERIALIZED (
         |  SELECT und.v AS node, sum(l.sg)::BIGINT AS sg
         |  FROM und JOIN l0_$tag l ON und.u = l.node
         |  WHERE und.v NOT IN (SELECT node FROM l0_$tag)
         |  GROUP BY 1),
         |l2_$tag AS MATERIALIZED (
         |  SELECT und.v AS node, sum(l.sg)::BIGINT AS sg
         |  FROM und JOIN l1_$tag l ON und.u = l.node
         |  WHERE und.v NOT IN (SELECT node FROM l0_$tag
         |                      UNION ALL SELECT node FROM l1_$tag)
         |  GROUP BY 1),
         |l3_$tag AS MATERIALIZED (
         |  SELECT und.v AS node, sum(l.sg)::BIGINT AS sg
         |  FROM und JOIN l2_$tag l ON und.u = l.node
         |  WHERE und.v NOT IN (SELECT node FROM l0_$tag
         |                      UNION ALL SELECT node FROM l1_$tag
         |                      UNION ALL SELECT node FROM l2_$tag)
         |  GROUP BY 1),
         |d2_$tag AS MATERIALIZED (
         |  SELECT c.node, c.sg,
         |         coalesce(sum((c.sg * 1000000) // p.sg), 0)::BIGINT AS delta
         |  FROM l2_$tag c
         |  LEFT JOIN (SELECT und.u AS node, w.sg
         |             FROM und JOIN l3_$tag w ON und.v = w.node) p
         |    ON p.node = c.node
         |  GROUP BY 1, 2),
         |d1_$tag AS MATERIALIZED (
         |  SELECT c.node, c.sg,
         |         coalesce(sum((c.sg * (1000000 + p.delta)) // p.sg), 0)::BIGINT
         |           AS delta
         |  FROM l1_$tag c
         |  LEFT JOIN (SELECT und.u AS node, w.sg, w.delta
         |             FROM und JOIN d2_$tag w ON und.v = w.node) p
         |    ON p.node = c.node
         |  GROUP BY 1, 2)""".stripMargin
    s"""WITH e0 AS (
       |  SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
       |  FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
       |und AS (SELECT src AS u, dst AS v FROM e0
       |        UNION ALL SELECT dst, src FROM e0),
       |${seedChain(0L, "a")},
       |${seedChain(2L, "b")},
       |acc AS (SELECT node, delta FROM d1_a
       |        UNION ALL SELECT node, delta FROM d2_a
       |        UNION ALL SELECT node, 0 FROM l3_a
       |        UNION ALL SELECT node, delta FROM d1_b
       |        UNION ALL SELECT node, delta FROM d2_b
       |        UNION ALL SELECT node, 0 FROM l3_b)
       |SELECT node, sum(delta)::BIGINT AS bc FROM acc GROUP BY 1
       |ORDER BY bc DESC, node ASC LIMIT 20""".stripMargin
  }

  val records: Seq[Query] = Seq(
    Query("q377_betweenness", q377Betweenness, q377Oracle),
    Query("q368_sql_sugar", q368SqlSugar, q368Oracle),
    Query("q365_sssp_cheapest", q365SsspCheapest, q365Oracle),
    Query("q329_recursive_rollup", q329RecursiveRollup, q329Oracle),
    Query("q313_broadcast_advisor", q313BroadcastAdvisor, q313Oracle),
    Query("q316_pit_join", q316PitJoin, q316Oracle),
    Query("q296_hierarchy_shares", q296HierarchyShares, q296Oracle),
    Query("q289_relative_ranks", q289RelativeRanks, q289Oracle),
    Query("q290_ntile_parity", q290NtileParity, q290Oracle),
    Query("q291_explode_outer", q291ExplodeOuter, q291Oracle),
    Query("q288_spend_gini", q288SpendGini, q288Oracle),
    Query("q285_also_bought", q285AlsoBought, q285Oracle),
    Query("q273_schema_evolution", q273SchemaEvolution, q273Oracle),
    Query("q274_bfs_hops", q274BfsHops, q274Oracle),
    Query("q268_bag_setops", q268BagSetOps, q268Oracle),
    Query("q260_shipping_priority", q260ShippingPriority, q260Oracle),
    Query("q261_forecast_revenue", q261ForecastRevenue, q261Oracle),
    Query("q262_returned_items", q262ReturnedItems, q262Oracle),
    Query("q263_part_skyline", q263PartSkyline, q263Oracle),
    Query("q265_histogram_estimate", q265HistogramEstimate, q265Oracle),
    Query("q255_label_communities", q255LabelCommunities, q255Oracle),
    Query("q390_modularity", q390Modularity, q390Oracle),
    Query("q244_priority_check", q244PriorityCheck, q244Oracle),
    Query("q245_product_profit", q245ProductProfit, q245Oracle),
    Query("q246_lateness_by_priority", q246LatenessByPriority, q246Oracle),
    Query("q247_order_count_dist", q247OrderCountDist, q247Oracle),
    Query("q248_promo_share", q248PromoShare, q248Oracle),
    Query("q249_supplier_variety", q249SupplierVariety, q249Oracle),
    Query("q250_small_qty_revenue", q250SmallQtyRevenue, q250Oracle),
    Query("q251_disjunct_revenue", q251DisjunctRevenue, q251Oracle),
    Query("q253_idle_customers", q253IdleCustomers, q253Oracle),
    Query("q254_min_cost_supplier", q254MinCostSupplier, q254Oracle),
    Query("q199_corrupt_records", q199CorruptRecords, q199Oracle),
    // the WHERE predicted=actual clause makes the oracle itself assert the
    // profile against the definitional join count — a mismatch empties it
    Query("q194_join_size_profile", q194JoinSizeProfile, q194Oracle),
    Query("q178_column_profile", q178ColumnProfile, q178Oracle),
    Query("q179_incremental_join", q179IncrementalJoin, q179Oracle),
    // streaming join maintenance must land exactly on the batch join
    Query("q181_stream_incremental_join", EventQueries.fixtureGate(q181StreamIncrementalJoin),
      q181Oracle),
    Query("q191_partitioned_write", q191PartitionedWrite, q191Oracle),
    Query("q173_local_supplier", q173LocalSupplierRevenue, q173Oracle),
    Query("q177_important_parts", q177ImportantParts, q177Oracle),
    Query("q213_volume_shipping", q213VolumeShipping, q213Oracle),
    Query("q214_market_share", q214MarketShare, q214Oracle),
    Query("q215_waiting_supplier", q215WaitingSupplier, q215Oracle),
    Query("q223_fd_profile", q223FdProfile, q223Oracle),
    Query("q228_kcore", EventQueries.fixtureGate(q228KCore), q228Oracle),
    Query("q234_top_supplier", q234TopSupplier, q234Oracle),
    Query("q236_eigencentrality", q236Eigencentrality, q236Oracle),
    Query("q238_hits", q238Hits, q238Oracle),
    Query("q235_big_orders", q235BigOrders, q235Oracle),
    Query("q01_pricing_summary", q01PricingSummary,
      """SELECT l_returnflag, l_linestatus,
        |       round(sum(l_quantity), 2) AS sum_qty,
        |       round(sum(l_extendedprice), 2) AS sum_base_price,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
        |       round(avg(l_quantity), 4) AS avg_qty,
        |       round(avg(l_discount), 4) AS avg_disc,
        |       count(*) AS count_order
        |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin),
    Query("q02_star_join", q02StarJoin,
      """SELECT r_name, n_name,
        |       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
        |       count(*) AS line_count
        |FROM lineitem
        |JOIN orders   ON l_orderkey = o_orderkey
        |JOIN customer ON o_custkey = c_custkey
        |JOIN nation   ON c_nationkey = n_nationkey
        |JOIN region   ON n_regionkey = r_regionkey
        |GROUP BY r_name, n_name""".stripMargin),
    Query("q03_window_top_orders", q03WindowTopOrders,
      """SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |         row_number() OVER (PARTITION BY o_custkey
        |                            ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 3""".stripMargin),
    Query("q04_topk", q04TopK,
      """SELECT l_orderkey, l_linenumber, l_extendedprice
        |FROM lineitem
        |ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
        |LIMIT 100""".stripMargin),
    Query("q05_setops", q05SetOps,
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 5000
        |EXCEPT
        |SELECT c_custkey FROM customer WHERE c_nationkey = 3""".stripMargin),
    Query("q06_rollup", q06Rollup,
      """SELECT l_returnflag, l_linestatus,
        |       count(*) AS line_count,
        |       count(DISTINCT l_partkey) AS distinct_parts,
        |       round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)""".stripMargin),
    Query("q07_envelope", q07Envelope,
      """SELECT 1704067200000 AS time,
        |       c_custkey AS user_id,
        |       'databricks_import_canary_test_event' AS event_type,
        |       printf('{"name":"%s","nation":%d,"segment":"%s"}',
        |              c_name, c_nationkey, c_mktsegment) AS user_properties
        |FROM customer""".stripMargin),
    Query("q08_cdc_event", q08CdcEvent,
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE (CASE WHEN event_id % 10 < 6 THEN 'insert'
        |            WHEN event_id % 10 < 8 THEN 'update_postimage'
        |            WHEN event_id % 10 = 8 THEN 'update_preimage'
        |            ELSE 'delete' END) = 'insert'""".stripMargin),
    Query("q09_cdc_property", q09CdcProperty,
      """SELECT event_id, user_id, event_type, value FROM events
        |WHERE (CASE WHEN event_id % 10 < 6 THEN 'insert'
        |            WHEN event_id % 10 < 8 THEN 'update_postimage'
        |            WHEN event_id % 10 = 8 THEN 'update_preimage'
        |            ELSE 'delete' END) IN ('insert', 'update_postimage')""".stripMargin),
    Query("q10_void_scrub", q10VoidScrub,
      "SELECT l_orderkey, l_linenumber, l_quantity AS s_q FROM lineitem"),
    Query("q11_sql_rewrite", q11SqlRewrite,
      """SELECT l_returnflag, 'main.tpch.lineitem' AS src_table, count(*) AS cnt
        |FROM lineitem WHERE l_quantity > 10 GROUP BY l_returnflag""".stripMargin),
    Query("q342_pipe_syntax", q342PipeSyntax, q342Oracle),
    Query("q343_lateral_agg", q343LateralAgg, q343Oracle),
    Query("q18_semi_anti", q18SemiAnti,
      """WITH big AS (SELECT DISTINCT l_orderkey FROM lineitem WHERE l_quantity > 45),
        |s AS (SELECT o_orderpriority, count(*)::BIGINT AS n_semi FROM orders
        |      WHERE o_orderkey IN (SELECT l_orderkey FROM big) GROUP BY 1),
        |a AS (SELECT o_orderpriority, count(*)::BIGINT AS n_anti FROM orders
        |      WHERE o_orderkey NOT IN (SELECT l_orderkey FROM big) GROUP BY 1)
        |SELECT o_orderpriority, n_semi, n_anti FROM s JOIN a USING (o_orderpriority)""".stripMargin),
    Query("q19_cube", q19Cube,
      """SELECT o_orderpriority, o_orderstatus,
        |       grouping(o_orderpriority)::INT AS g_pri,
        |       grouping(o_orderstatus)::INT AS g_st,
        |       count(*) AS n,
        |       round(sum(o_totalprice), 2) AS total
        |FROM orders GROUP BY CUBE (o_orderpriority, o_orderstatus)""".stripMargin),
    Query("q82_grouping_sets", q82GroupingSets, q82Oracle),
    Query("q84_above_cust_avg", q84AboveCustomerAvg, q84Oracle),
    Query("q94_decimal_money", q94DecimalMoney, q94Oracle),
    Query("q16_snapshot_travel", q16SnapshotTravel,
      """SELECT event_type, count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_id,
        |       min(event_id)::BIGINT AS min_id, max(event_id)::BIGINT AS max_id
        |FROM events WHERE event_id % 2 = 0 GROUP BY event_type""".stripMargin),
    Query("q17_cdf_window", q17CdfWindow,
      """SELECT event_type, count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_id
        |FROM events
        |WHERE event_id % 3 IN (1, 2)
        |  AND (CASE WHEN event_id % 10 < 6 THEN 'insert'
        |            WHEN event_id % 10 < 8 THEN 'update_postimage'
        |            WHEN event_id % 10 = 8 THEN 'update_preimage'
        |            ELSE 'delete' END) = 'insert'
        |GROUP BY event_type""".stripMargin),
    Query("q63_timestamp_travel", q63TimestampTravel,
      """SELECT event_type, count(*)::BIGINT AS n, sum(event_id)::BIGINT AS sum_id
        |FROM events WHERE event_id % 2 = 0 GROUP BY event_type""".stripMargin),
    Query("q68_mutability_bypass", q68MutabilityBypass,
      """SELECT event_id, user_id, event_type, value,
        |       CASE WHEN event_id % 10 < 6 THEN 'insert'
        |            WHEN event_id % 10 < 8 THEN 'update_postimage'
        |            WHEN event_id % 10 = 8 THEN 'update_preimage'
        |            ELSE 'delete' END AS _change_type,
        |       (event_id % 3 + 1)::BIGINT AS _commit_version
        |FROM events WHERE event_id % 3 IN (1, 2)""".stripMargin),
    Query("q64_cdc_materialize", q64CdcMaterialize, q64Oracle),
    // the per-commit streaming fold must reach the batch compaction exactly
    Query("q99_stream_materialize", EventQueries.fixtureGate(q99StreamMaterialize), q64Oracle),
    Query("q123_incremental_agg", q123IncrementalAgg, q123Oracle),
    Query("q124_scd2_history", q124Scd2History, q124Oracle),
    Query("q130_stream_incremental_agg", EventQueries.fixtureGate(q130StreamIncrementalAgg),
      q123Oracle),
    Query("q132_pagerank", q132PageRank, q132Oracle),
    Query("q154_triangles", q154Triangles, q154Oracle),
    Query("q135_snapshot_diff", q135SnapshotDiff, q135Oracle),
    Query("q100_csv_roundtrip", q100CsvRoundtrip, q100Oracle),
    Query("q101_orc_roundtrip", q101OrcRoundtrip, q101Oracle),
    Query("q153_jsonl_roundtrip", q153JsonlRoundtrip, q153Oracle)
  )

  val queries: Map[String, (SparkSession, String) => DataFrame] = Query.runs(records)
}
