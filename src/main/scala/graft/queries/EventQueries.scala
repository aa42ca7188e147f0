package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.ext.RangeRank

/** Event-stream analytics over the `events` table — the product-analytics
  * shapes the reference's ecosystem consumes downstream (sessionization,
  * funnels, JSON property extraction, date/scalar transforms).
  *
  * `ts` reaches Spark as a long (canonical epoch-nanos, whatever the
  * physical parquet encoding — see [[Tables.normalizeTs]]). DuckDB reads
  * the same parquet column natively, so any query that compares or OUTPUTS
  * timestamps must normalize to epoch-microseconds on both sides: Spark
  * [[Tables.tsUs]]/[[Tables.tsDay]], DuckDB `epoch_us(ts)` —
  * integer-exact across engines. Guard every future ts-outputting query
  * the same way; never spell the physical encoding in query code.
  *
  * Scale shapes: sessionization is the canonical "one shuffle on user_id,
  * then everything within the window partition" pattern; the funnel is two
  * conditional aggregations over the same shuffle; nothing here collects to
  * the driver.
  */
object EventQueries {

  import Tables._

  private val SessionGapUs = 1800L * 1000 * 1000 // 30 min in microseconds

  /** q12: gap-based sessionization — lag → new-session flag → running sum
    * (ROWS frame, both engines) → per-session aggregate.
    *
    * Both engines compute on **epoch-microseconds**: Spark's canonical `ts`
    * is epoch-nanos (see [[Tables.normalizeTs]]) while DuckDB reads the
    * parquet column as its microsecond TIMESTAMP — so any ns-precision
    * value that reaches the output (or an ordering/gap comparison) diverges.
    * Truncating to micros on the Spark side ([[Tables.tsUs]]) makes the two
    * engines bit-identical end-to-end.
    */
  def q12Sessionize(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > SessionGapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(running))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("ts_start"),
        max(col("ts_us")).as("ts_end"))
  }

  private val q12Oracle =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
       |l AS (SELECT user_id, event_id, tsu,
       |        lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC) AS prev
       |      FROM e),
       |f AS (SELECT user_id, event_id, tsu,
       |        CASE WHEN prev IS NULL OR tsu - prev > ${SessionGapUs} THEN 1 ELSE 0 END AS brk
       |      FROM l),
       |s AS (SELECT user_id, tsu,
       |        sum(brk) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |      FROM f)
       |SELECT user_id, session_id::BIGINT AS session_id, count(*)::BIGINT AS n_events,
       |       min(tsu) AS ts_start, max(tsu) AS ts_end
       |FROM s GROUP BY user_id, s.session_id""".stripMargin

  /** q13: two-step funnel — users whose first `signup` precedes a
    * `purchase`. Conditional min + semi-join shape.
    */
  def q13Funnel(spark: SparkSession, dir: String): DataFrame = {
    // epoch-micros on both engines (see the ts note above): comparing raw
    // nanos here against DuckDB's micro-truncated TIMESTAMP could flip a
    // conversion whose purchase and signup share the same microsecond
    val e = events(spark, dir).withColumn("ts_us", tsUs)
    val firstSignup = e
      .filter(col("event_type") === "signup")
      .groupBy("user_id")
      .agg(min(col("ts_us")).as("signup_ts"))
    val converted = e
      .filter(col("event_type") === "purchase")
      .join(firstSignup, "user_id")
      .filter(col("ts_us") > col("signup_ts"))
      .select("user_id")
      .distinct()
    firstSignup
      .agg(count(lit(1)).as("n_signup_users"))
      .crossJoin(converted.agg(count(lit(1)).as("n_converted")))
  }

  private val q13Oracle =
    """WITH s AS (SELECT user_id, min(epoch_us(ts)) AS signup_ts FROM events
      |           WHERE event_type = 'signup' GROUP BY user_id),
      |c AS (SELECT DISTINCT e.user_id FROM events e JOIN s ON e.user_id = s.user_id
      |      WHERE e.event_type = 'purchase' AND epoch_us(e.ts) > s.signup_ts)
      |SELECT (SELECT count(*) FROM s)::BIGINT AS n_signup_users,
      |       (SELECT count(*) FROM c)::BIGINT AS n_converted""".stripMargin

  /** q14: JSON property extraction + aggregation (`props` is a JSON string). */
  def q14JsonProps(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("int"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        round(avg(col("k")), 4).as("avg_k"),
        max(col("k")).as("max_k"))

  private val q14Oracle =
    """SELECT event_type, count(*)::BIGINT AS n,
      |       round(avg(json_extract_string(props, '$.k')::INT), 4) AS avg_k,
      |       max(json_extract_string(props, '$.k')::INT)::INT AS max_k
      |FROM events GROUP BY event_type""".stripMargin

  /** q15: scalar/date function suite — string, math and date families over
    * one pass (daily rollup keyed by a formatted date string).
    */
  def q15ScalarSuite(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      // integer `div`, not `/`: long / long is DOUBLE division in Spark, and
      // nanos ~1.7e18 exceed double's 2^53 mantissa (ulp 256 ns) — an event
      // within an ulp of midnight could land on the wrong day
      .withColumn("day", date_format(timestamp_micros(tsUs), "yyyy-MM-dd"))
      .groupBy("day")
      .agg(
        count(lit(1)).as("n"),
        round(sum(sqrt(abs(col("value")))), 4).as("sum_sqrt_abs"),
        round(avg(length(upper(col("event_type")))), 4).as("avg_type_len"),
        sum(floor(col("value")).cast("long")).as("sum_floor"))

  private val q15Oracle =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |       count(*)::BIGINT AS n,
      |       round(sum(sqrt(abs(value))), 4) AS sum_sqrt_abs,
      |       round(avg(length(upper(event_type))), 4) AS avg_type_len,
      |       sum(floor(value)::BIGINT)::BIGINT AS sum_floor
      |FROM events GROUP BY 1""".stripMargin

  /** q60: cohort retention — users cohorted by first-seen day; for each
    * day offset, the distinct users from that cohort active again. The
    * canonical product-analytics rollup downstream of the reference's
    * exports. Day arithmetic runs on epoch-micros // µs-per-day (integer,
    * engine-exact; see the ts note above).
    *
    * Scale shape: one shuffle on user_id builds the cohort map, the join
    * back is user_id-partitioned on both sides (the exchanges are distinct
    * subtrees — raw probe rows vs aggregate output — so they cannot be
    * physically shared, but neither side shuffles more than once),
    * and the distinct count shuffles only (cohort_day, offset, user_id).
    */
  def q60Retention(spark: SparkSession, dir: String): DataFrame = {
    val usPerDay = 86400000000L
    val e = events(spark, dir)
      .withColumn("day", tsDay)
      .select("user_id", "day")
    val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    e.join(cohort, "user_id")
      .withColumn("day_offset", (col("day") - col("cohort_day")).cast("int"))
      .filter(col("day_offset") <= 7)
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("active_users"))
  }

  private val q60Oracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY user_id)
      |SELECT cohort_day, (e.day - cohort_day)::INT AS day_offset,
      |       count(DISTINCT e.user_id)::BIGINT AS active_users
      |FROM e JOIN c USING (user_id)
      |WHERE e.day - cohort_day <= 7
      |GROUP BY 1, 2""".stripMargin

  /** q67: pivot (explicit value list for a deterministic schema) — daily
    * per-type value totals as columns. The oracle expresses the same thing
    * as conditional aggregation, which is exactly what Catalyst lowers
    * `pivot` to (one pass, no extra shuffle versus the groupBy).
    */
  def q67Pivot(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("day", date_format(timestamp_micros(tsUs), "yyyy-MM-dd"))
      .groupBy("day")
      .pivot("event_type", Seq("click", "view", "purchase", "signup", "error"))
      .agg(round(sum("value"), 4))

  private val q67Oracle =
    """SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |       round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
      |       round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view,
      |       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
      |       round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
      |       round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error
      |FROM events GROUP BY 1""".stripMargin

  /** q86: UNPIVOT (melt) — the inverse of q67's pivot, completing the
    * reshape pair (SURVEY §2.5): the wide per-day × per-type grid back to
    * long (day, event_type, total) rows. Null cells are dropped on both
    * sides (DuckDB UNPIVOT's default; Spark keeps them, so the filter is
    * explicit). One Expand over the already-aggregated grid — rows × 5,
    * never a re-scan of events.
    */
  def q86Unpivot(spark: SparkSession, dir: String): DataFrame =
    q67Pivot(spark, dir)
      .unpivot(
        Array(col("day")),
        Array(col("click"), col("view"), col("purchase"), col("signup"), col("error")),
        "event_type", "total")
      .filter(col("total").isNotNull)

  private val q86Oracle =
    """UNPIVOT (SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
      |       round(sum(CASE WHEN event_type = 'click' THEN value END), 4) AS click,
      |       round(sum(CASE WHEN event_type = 'view' THEN value END), 4) AS view,
      |       round(sum(CASE WHEN event_type = 'purchase' THEN value END), 4) AS purchase,
      |       round(sum(CASE WHEN event_type = 'signup' THEN value END), 4) AS signup,
      |       round(sum(CASE WHEN event_type = 'error' THEN value END), 4) AS error
      |FROM events GROUP BY 1)
      |ON click, view, purchase, signup, error
      |INTO NAME event_type VALUE total""".stripMargin

  /** q88: FULL OUTER join — the last §2.4 join type without a gate. Two
    * deliberately SPARSE daily aggregates (high-value clicks vs high-value
    * purchases) so both unmatched sides genuinely occur; the USING-style
    * join coalesces the day key, unmatched counts stay NULL (value-compared
    * by the driver, so a wrong null-fill cannot pass).
    */
  def q88FullOuter(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("day", tsDay)
      .filter(col("value") > 99)
    val clicks = e.filter(col("event_type") === "click")
      .groupBy("day").agg(count(lit(1)).as("n_click"))
    val purchases = e.filter(col("event_type") === "purchase")
      .groupBy("day").agg(count(lit(1)).as("n_purchase"))
    clicks.join(purchases, Seq("day"), "full_outer")
  }

  private val q88Oracle =
    """WITH c AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS n_click
      |           FROM events WHERE value > 99 AND event_type = 'click' GROUP BY 1),
      |p AS (SELECT epoch_us(ts) // 86400000000 AS day, count(*)::BIGINT AS n_purchase
      |      FROM events WHERE value > 99 AND event_type = 'purchase' GROUP BY 1)
      |SELECT coalesce(c.day, p.day) AS day, n_click, n_purchase
      |FROM c FULL JOIN p ON c.day = p.day""".stripMargin

  /** q69: STREAMING sessionization under the driver gate. The events table
    * is consumed as a bounded file stream (`Trigger.AvailableNow`), run
    * through the stateful keyed sessionizer
    * ([[graft.streaming.CdcStream.sessionize]] —
    * `flatMapGroupsWithState` with event-time state eviction), exported
    * through the exactly-once file sink, read back, and aggregated to
    * per-session rows. All files fit one micro-batch, so per-user in-batch
    * ordering makes the assignment deterministic and IDENTICAL to the
    * batch window formulation — the oracle is q12's, verbatim: streaming
    * correctness is machine-checked against the batch semantics, not just
    * spec-asserted. (Events tied on ts_us get the same session id either
    * way, so the batch tie-break column is immaterial.)
    */
  /** The events table as a one-file stream input, staged once per JVM per
    * sf dir ([[Staging.streamInput]]) — bench trials re-pay only what a
    * trial should measure (the streaming run), not the fixture copy.
    * Checkpoint/output dirs stay fresh per call.
    *
    * The file is written through [[Tables.normalizeTs]] (`ts` BIGINT
    * nanos), not copied: a raw copy would leak the PHYSICAL encoding
    * (INT64-nanos vs `timestamp[us]`, whichever the driver generated) into
    * the stream fixture, while `readStream.schema(events(...).schema)`
    * declares the canonical one.
    */
  private def eventsInput(spark: SparkSession, dir: String): String =
    Staging.streamInput("events", dir)(Seq(events(spark, dir)))

  /** Run `body` with `spark.sql.shuffle.partitions` pinned to `n`, then
    * restore. The stateful streaming gates size their STATE STORE count
    * from this conf at query start: at fixture scale the dominant cost is
    * per-partition store instantiation + per-batch commit (a stream-stream
    * join keeps four stores per partition), not data volume, so the gates
    * pin a small value. On a real cluster the same queries would size it
    * to the keyspace — the conf is the knob either way; semantics (and the
    * oracle) are partition-count-invariant.
    */
  /** Ceiling (bytes of the query's source dataset dir) below which the
    * streaming gates and bounded-round graph peels pin their shuffle
    * width — the scale gate for [[withFixtureShufflePartitions]]. 64 MiB
    * separates the driver fixtures (sf0.1 ≈ 17 MB total) from any real
    * deployment volume by three orders of magnitude either way;
    * overridable for tests via `graft.fixturePin.maxBytes`.
    */
  private[graft] def fixturePinMaxBytes: Long =
    sys.props.get("graft.fixturePin.maxBytes").map(_.toLong)
      .getOrElse(64L * 1024 * 1024)

  /** Scale-gated form of [[withShufflePartitions]]: pin the shuffle width
    * to `n` ONLY when the source dataset dir is fixture-sized (below
    * [[fixturePinMaxBytes]], filesystem metadata only via
    * [[Staging.pathBytes]]). At fixture scale per-partition state-store
    * instantiation + per-batch commit (streams) or per-round task setup
    * (graph peels) dominate 150-row batches, so 8 partitions beats the
    * session's width; at production volume 8 partitions on a stateful
    * stream would be the bottleneck, so the session/AQE-sized value
    * stands untouched. Values are partition-count-invariant either way
    * (no partition-id-dependent code in CdcStream or the peels), so the
    * gate changes cost, never results.
    */
  private[graft] def withFixtureShufflePartitions[T](
      spark: SparkSession, dir: String, n: Int = 8)(body: => T): T =
    if (Staging.pathBytes(dir) < fixturePinMaxBytes)
      withShufflePartitions(spark, n)(body)
    else body

  private[graft] def withShufflePartitions[T](spark: SparkSession, n: Int)(body: => T): T = {
    val key = "spark.sql.shuffle.partitions"
    val prev = spark.conf.getOption(key)
    spark.conf.set(key, n.toString)
    try body
    finally prev match {
      case Some(p) => spark.conf.set(key, p)
      case None => spark.conf.unset(key)
    }
  }

  def q69StreamSessionize(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val work = Scratch.stableDir("q69")
    // the file stream source needs a DIRECTORY to monitor; stage the fixture
    // file into one (at real scale the ingest dir is the natural layout)
    val inDir = eventsInput(spark, dir)
    val schema = events(spark, dir).schema
    val stream = spark.readStream.schema(schema).parquet(inDir)
      .select(col("user_id"), tsUs.as("ts_us"))
      .as[graft.streaming.CdcStream.Ev]
    // fixture-scale micro-batches: 8 shuffle partitions (the q233/q383
    // streaming-gate convention — per-partition state-store open/commit
    // dominates small batches at 32; values are partition-count-invariant)
    withFixtureShufflePartitions(spark, dir) {
      val query = graft.streaming.CdcStream.sessionize(stream, gapUs = SessionGapUs)
        .writeStream
        .format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    spark.read.parquet(s"$work/out")
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        min(col("ts_us")).as("ts_start"),
        max(col("ts_us")).as("ts_end"))
  }

  /** q70: STREAMING watermarked window aggregation under the driver gate —
    * the stateful-aggregation counterpart to q69. The events table streams
    * in as micro-batch 1; a single far-future SENTINEL row (staged as a
    * second, later file with `maxFilesPerTrigger=1`) forms micro-batch 2,
    * pushing the watermark past every real window so Append mode flushes
    * them all deterministically. The sentinel's own window never emits (the
    * watermark never passes it), so the oracle is simply the batch
    * tumbling-window counts over events.
    */
  /** events + a far-future sentinel row, staged as two mtime-ordered files:
    * micro-batch 1 = the real events, micro-batch 2 = the sentinel pushing
    * the watermark past every real window/session so Append mode flushes
    * them all deterministically (the sentinel's own state never emits).
    * Shared by the q70 (tumbling) and q117 (session) window gates.
    */
  private def eventsPlusSentinel(spark: SparkSession, dir: String): String =
    Staging.streamInput("evsent", dir) {
      val ev = events(spark, dir)
      // sentinel: one row a year past the max event ts, same schema, in the
      // second batch (batched first, it would advance the watermark past
      // every real row — an empty result)
      val maxTs = ev.agg(max(col("ts"))).head().getLong(0)
      Seq(ev, ev.limit(1).withColumn("ts", lit(maxTs + 365L * 86400L * 1000000000L)))
    }

  def q70StreamWindows(spark: SparkSession, dir: String): DataFrame = {
    val work = Scratch.stableDir("q70")
    val schema = events(spark, dir).schema
    val inDir = eventsPlusSentinel(spark, dir)

    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .withColumn("tsm", timestamp_micros(tsUs))
    val counts = graft.streaming.CdcStream.windowedCounts(
      stream, tsCol = "tsm", typeCol = "event_type",
      windowDuration = "1 hour", watermarkDelay = "30 minutes")
    // 8 shuffle partitions at fixture scale — the q233/q383 convention
    withFixtureShufflePartitions(spark, dir) {
      val query = counts.writeStream
        .format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    spark.read.parquet(s"$work/out")
      .select(
        unix_micros(col("window_start")).as("window_start_us"),
        col("event_type"), col("n"))
  }

  private val q70Oracle =
    """SELECT (epoch_us(ts) // 3600000000) * 3600000000 AS window_start_us,
      |       event_type, count(*)::BIGINT AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q73: STREAMING exact dedup under the driver gate — the third streaming
    * gate alongside q69 (stateful sessions) and q70 (watermarked windows),
    * covering [[graft.streaming.CdcStream.dedupStream]]
    * (`dropDuplicatesWithinWatermark` on the batch tier's md5 fingerprint).
    * The documents table streams in as one bounded micro-batch with a
    * synthetic event time (doc_id micros — the fixture has no timestamp;
    * any monotone stand-in works because all rows land in one batch, well
    * inside the watermark horizon). WHICH row of a duplicate set survives
    * depends on partition arrival order, so the gated output is the
    * deterministic part of the contract: the surviving fingerprint SET —
    * exactly one row per distinct normalized text, which the oracle states
    * as `SELECT DISTINCT md5(...)`. (A dropped-too-many bug shrinks the
    * set; a kept-duplicate bug duplicates a fingerprint and fails the
    * rows/hash match.)
    */
  def q73StreamDedup(spark: SparkSession, dir: String): DataFrame = {
    val work = Scratch.stableDir("q73")
    val inDir = Staging.streamInput("q73", dir)(Seq(documents(spark, dir)))
    val schema = documents(spark, dir).schema
    // offset the synthetic event time away from the epoch: the engine's
    // initial watermark is 0, and a row AT the epoch (doc_id 0) would be
    // filtered as late before the dedup state ever sees it
    val stream = spark.readStream.schema(schema).parquet(inDir)
      .withColumn("tsm", timestamp_micros(col("doc_id") + lit(1000000000000L)))
    val deduped = graft.streaming.CdcStream.dedupStream(
      stream, tsCol = "tsm", watermarkDelay = "1 hour")
    // 8 shuffle partitions at fixture scale — the q233/q383 convention
    withFixtureShufflePartitions(spark, dir) {
      val query = deduped.writeStream
        .format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    spark.read.parquet(s"$work/out")
      .select(graft.ext.TextAnalysis.md5Fingerprint(col("text")).as("fingerprint"))
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("n_rows"))
  }

  private val q73Oracle =
    s"""SELECT md5(${graft.ext.ExtQueries.DNorm}) AS fingerprint, 1::BIGINT AS n_rows
       |FROM documents GROUP BY 1""".stripMargin

  /** q81: STREAMING stream-static enrichment under the driver gate — the
    * fourth streaming gate: a static dimension (event-type weights, the
    * broadcast-sized lookup every event pipeline carries) joined onto the
    * event stream INSIDE the streaming query, exported exactly-once, then
    * aggregated in batch. The oracle replays the join as a VALUES list, so
    * a dropped or duplicated stream-static match cannot hash-match. (The
    * aggregation happens post-sink: the file sink is append-only and the
    * operator under test is the join, not a watermarked agg — q70 gates
    * that.)
    */
  private val q81Weights =
    Seq(("click", 1L), ("view", 2L), ("purchase", 5L), ("signup", 3L), ("error", 0L))

  def q81StreamEnrich(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val work = Scratch.stableDir("q81")
    val inDir = eventsInput(spark, dir)
    val dim = q81Weights.toDF("event_type", "w")
    val schema = events(spark, dir).schema
    val enriched = spark.readStream.schema(schema).parquet(inDir)
      .select(col("event_id"), col("event_type"), col("value"))
      .join(broadcast(dim), "event_type")
    val query = enriched.writeStream
      .format("parquet")
      .option("path", s"$work/out")
      .option("checkpointLocation", s"$work/ckpt")
      .outputMode("append")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    spark.read.parquet(s"$work/out")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        max(col("w")).as("w"),
        round(sum(col("value") * col("w")), 4).as("weighted_sum"))
  }

  private def q81Oracle: String = {
    val values = q81Weights.map { case (t, w) => s"('$t', $w)" }.mkString(", ")
    s"""SELECT event_type, count(*)::BIGINT AS n, max(w)::BIGINT AS w,
       |       round(sum(value * w), 4) AS weighted_sum
       |FROM events JOIN (VALUES $values) AS dim(event_type, w) USING (event_type)
       |GROUP BY event_type""".stripMargin
  }

  /** q83: HLL++ approximate distinct counting — THE cardinality sketch of
    * 100 TB analytics (exact distincts shuffle every key; the sketch merges
    * in fixed space). An approximate value cannot hash-match a foreign
    * engine, so the gate is split: the exact distinct count matches DuckDB
    * value-for-value, and the sketch is gated through its ERROR BOUND — a
    * `within_5pct` flag the oracle pins to TRUE (rsd=0.01, so a 5% miss
    * means the sketch is broken, not unlucky; Spark's HLL++ is
    * deterministic for a given input set, making the flag stable).
    */
  def q83ApproxUsers(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), rsd = 0.01).as("approx_users"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= lit(0.05) * col("exact_users")).cast("int").as("within_5pct"))

  private val q83Oracle =
    """SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
      |       1::INT AS within_5pct
      |FROM events GROUP BY event_type""".stripMargin

  /** q89: STREAMING stream-stream interval join under the driver gate — the
    * fifth streaming gate and the hardest streaming operator: high-value
    * clicks joined to the same user's high-value purchases within the next
    * 10 minutes, BOTH sides unbounded streams. Watermarks on both sides
    * plus the two-sided time constraint give the state store its eviction
    * bound (the production contract — without them join state grows
    * forever); the inner join emits matches as they arrive, so a bounded
    * AvailableNow drain emits exactly the batch interval-join result, which
    * is the oracle. Both streams read the same staged directory with
    * different filters — the standard one-topic-two-consumers shape.
    */
  def q89StreamStreamJoin(spark: SparkSession, dir: String): DataFrame = {
    val work = Scratch.stableDir("q89")
    val inDir = eventsInput(spark, dir)
    val schema = events(spark, dir).schema
    // 6h window against the fixture's ~month span / sparse per-user activity
    // keeps the pair set non-trivial at every sf (a 0-row gate proves
    // nothing); watermark 12h > window bounds both state stores
    def side(eventType: String, prefix: String) =
      spark.readStream.schema(schema).parquet(inDir)
        .filter(col("event_type") === eventType)
        .select(
          col("event_id").as(s"${prefix}_id"),
          col("user_id").as(s"${prefix}_user"),
          timestamp_micros(tsUs).as(s"${prefix}_tsm"))
        .withWatermark(s"${prefix}_tsm", "12 hours")
    withFixtureShufflePartitions(spark, dir) {
      val joined = side("click", "c").join(
        side("purchase", "p"),
        col("c_user") === col("p_user") &&
          col("p_tsm") >= col("c_tsm") &&
          col("p_tsm") <= col("c_tsm") + expr("INTERVAL 6 HOURS"))
      val query = joined.writeStream
        .format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    spark.read.parquet(s"$work/out")
      .select(col("c_id").as("click_id"), col("p_id").as("purchase_id"),
        col("c_user").as("user_id"),
        (unix_micros(col("p_tsm")) - unix_micros(col("c_tsm"))).as("lag_us"))
  }

  private val q89Oracle =
    """SELECT c.event_id AS click_id, p.event_id AS purchase_id,
      |       c.user_id, epoch_us(p.ts) - epoch_us(c.ts) AS lag_us
      |FROM events c JOIN events p
      |  ON c.user_id = p.user_id
      | AND c.event_type = 'click' AND p.event_type = 'purchase'
      | AND epoch_us(p.ts) >= epoch_us(c.ts)
      | AND epoch_us(p.ts) <= epoch_us(c.ts) + 21600000000""".stripMargin

  /** q79: trailing-window user features — for every event, the count and
    * integer value-sum (`floor(value·100)` cents) of the same user's events
    * in the trailing hour, via a RANGE frame over epoch-micros. The online
    * feature-engineering shape (fraud velocity checks, rate limits,
    * session-weight features) that a training pipeline materializes
    * point-in-time-correctly for every example.
    *
    * Scale shape: one shuffle on user_id; the RANGE frame is evaluated with
    * a sliding two-pointer pass inside each sorted partition — no
    * self-join, no per-row rescan. Ties on ts are frame-peers in BOTH
    * engines (RANGE semantics), so the outputs agree even where ROWS
    * framing would be arrival-order-dependent; cents arithmetic is
    * integer-exact (same double multiply then floor on both sides).
    */
  def q79RollingFeatures(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"))
      .rangeBetween(-3600000000L, 0L)
    events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .select(col("event_id"), col("user_id"), col("ts_us"),
        count(lit(1)).over(w).as("n_1h"),
        sum(col("cents")).over(w).as("cents_1h"))
  }

  private val q79Oracle =
    """SELECT event_id, user_id, epoch_us(ts) AS ts_us,
      |  count(*) OVER w AS n_1h,
      |  (sum(floor(value * 100)::BIGINT) OVER w)::BIGINT AS cents_1h
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
      |             RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)""".stripMargin

  /** q90: quantile discretization — per-type decile assignment of `value`
    * via `ntile(10)` (the feature-binning step before training; equal-count
    * bins, deterministic under the unique event_id tie-break).
    *
    * SCALE LIMIT, stated plainly: `partitionBy(event_type)` has 5 distinct
    * values, so exact ntile serializes onto 5 tasks no matter the cluster —
    * correct at any size but not parallel. The 100 TB formulation computes
    * per-type decile BOUNDARIES first (`percentile_approx`, one partial-
    * combinable aggregate — q87's machinery), broadcasts the ~types×9
    * boundary table, and bins map-side; it trades exact equal-count
    * semantics at boundary ties for full parallelism. This row keeps the
    * exact form because the gate's job is pinning ntile semantics
    * cross-engine.
    */
  def q90Deciles(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc, col("event_id").asc)
    events(spark, dir)
      .select(col("event_id"), col("event_type"), col("value"),
        ntile(10).over(w).as("decile"))
      .select(col("event_id"), col("event_type"), col("decile"))
  }

  private val q90Oracle =
    """SELECT event_id, event_type,
      |       ntile(10) OVER (PARTITION BY event_type
      |                       ORDER BY value ASC, event_id ASC)::INT AS decile
      |FROM events""".stripMargin

  /** q91: fixed-width histogram — per-type bin counts (`floor(value/10)`
    * clamped to 10 bins). The one-pass, map-side-combinable alternative to
    * exact quantiles for distribution monitoring; integer bins, engine-exact.
    */
  def q91Histogram(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("event_type"),
        least(floor(col("value") / 10), lit(9)).cast("int").as("bin"))
      .groupBy("event_type", "bin")
      .agg(count(lit(1)).as("n"))

  private val q91Oracle =
    """SELECT event_type, least(floor(value / 10), 9)::INT AS bin, count(*)::BIGINT AS n
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q92: per-user behavioral diversity as GINI IMPURITY of the event-type
    * distribution — `1 − Σ pᵢ²`, the rational stand-in for Shannon entropy
    * (log-free, so `(10000·(n² − Σcᵢ²)) div n²` is integer-exact across
    * engines where an entropy would be ulp-comparable). Two-level
    * aggregation: (user, type) counts, then per-user sum of squares —
    * both map-side combinable.
    */
  def q92UserGini(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("c"))
      .groupBy("user_id")
      .agg(sum("c").as("n"), sum(col("c") * col("c")).as("ss"))
      .select(col("user_id"), col("n"),
        expr("(10000 * (n * n - ss)) div (n * n)").as("gini_4"))

  private val q92Oracle =
    """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS c
      |           FROM events GROUP BY 1, 2),
      |u AS (SELECT user_id, sum(c)::BIGINT AS n, sum(c * c)::BIGINT AS ss
      |      FROM c GROUP BY 1)
      |SELECT user_id, n, ((10000 * (n * n - ss)) // (n * n))::BIGINT AS gini_4
      |FROM u""".stripMargin

  /** q93: the ranking-function family — `row_number` / `rank` / `dense_rank`
    * over one window (top 20 per type by value), completing §2.6 beyond
    * q03's row_number-only shape; under double ties rank/dense_rank agree
    * across engines while row_number needs the event_id tie-break.
    */
  def q93RankFamily(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").desc, col("event_id").asc)
    events(spark, dir)
      .select(col("event_type"), col("event_id"),
        row_number().over(w).as("rn"),
        rank().over(w).as("rnk"),
        dense_rank().over(w).as("drnk"))
      .filter(col("rn") <= 20)
  }

  private val q93Oracle =
    """SELECT event_type, event_id, rn::INT AS rn, rnk::INT AS rnk, drnk::INT AS drnk
      |FROM (SELECT event_type, event_id,
      |        row_number() OVER w AS rn, rank() OVER w AS rnk, dense_rank() OVER w AS drnk
      |      FROM events
      |      WINDOW w AS (PARTITION BY event_type ORDER BY value DESC, event_id ASC))
      |WHERE rn <= 20""".stripMargin

  /** q106: THREE-step strictly-ordered funnel — signup → later click →
    * later purchase, each step's timestamp strictly after the previous
    * step's FIRST occurrence (q13's two-step shape deepened to the chained
    * per-step min-join the reference's product-analytics consumers run).
    * Scale shape: three user_id-partitioned aggregates chained by joins on
    * the same key — the exchange is reusable across steps — and three
    * 1-row counts cross-joined at the end (driver-sized, like q13).
    */
  def q106Funnel3(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("ts_us", tsUs)
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id").filter(col("ts_us") > col("t1"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id").filter(col("ts_us") > col("t2"))
      .groupBy("user_id").agg(min(col("ts_us")).as("t3"))
    s1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(s2.agg(count(lit(1)).as("n_click_after")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchase_after")))
  }

  private val q106Oracle =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
      |s1 AS (SELECT user_id, min(tsu) AS t1 FROM e
      |       WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(tsu) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND tsu > t1 GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(tsu) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND tsu > t2 GROUP BY 1)
      |SELECT (SELECT count(*) FROM s1)::BIGINT AS n_signup,
      |       (SELECT count(*) FROM s2)::BIGINT AS n_click_after,
      |       (SELECT count(*) FROM s3)::BIGINT AS n_purchase_after""".stripMargin

  /** q105: per-SESSION training features — the feature-extraction shape a
    * behavioral model trains on: q12's gap sessionization carried through
    * to one feature row per session (duration, size, value stats, pivoted
    * per-type counts, a conversion flag). Composes on the SAME shuffle as
    * q12: everything after the session_id assignment is one more aggregate
    * over the already-user-partitioned rows.
    */
  def q105SessionFeatures(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("brk",
        when(col("prev_ts").isNull || col("ts_us") - col("prev_ts") > SessionGapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(running))
      .groupBy("user_id", "session_id")
      .agg(
        count(lit(1)).as("n_events"),
        (max(col("ts_us")) - min(col("ts_us"))).as("duration_us"),
        round(sum("value"), 4).as("sum_value"),
        sum(when(col("event_type") === "click", 1).otherwise(0)).as("n_click"),
        sum(when(col("event_type") === "view", 1).otherwise(0)).as("n_view"),
        sum(when(col("event_type") === "purchase", 1).otherwise(0)).as("n_purchase"),
        max(when(col("event_type") === "purchase", 1).otherwise(0)).as("converted"))
  }

  private val q105Oracle =
    s"""WITH e AS (SELECT user_id, event_id, event_type, value, epoch_us(ts) AS tsu
       |           FROM events),
       |l AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id
       |                               ORDER BY tsu ASC, event_id ASC) AS prev
       |      FROM e),
       |f AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev > ${SessionGapUs}
       |                     THEN 1 ELSE 0 END AS brk FROM l),
       |s AS (SELECT *, sum(brk) OVER (PARTITION BY user_id
       |        ORDER BY tsu ASC, event_id ASC
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |      FROM f)
       |SELECT user_id, session_id::BIGINT AS session_id,
       |       count(*)::BIGINT AS n_events,
       |       (max(tsu) - min(tsu))::BIGINT AS duration_us,
       |       round(sum(value), 4) AS sum_value,
       |       sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)::BIGINT AS n_click,
       |       sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)::BIGINT AS n_view,
       |       sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS n_purchase,
       |       max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::INT AS converted
       |FROM s GROUP BY user_id, session_id""".stripMargin

  /** q103: SCALABLE quantile binning — the 100 TB formulation q90's scaladoc
    * promises: per-type exact decile BOUNDARIES via one partial-combinable
    * `percentile` aggregate (types × 9 rows — model-sized), broadcast back,
    * and each row binned map-side by counting boundaries below its value.
    * No per-group window, no 5-task serialization; the whole plan is two
    * scans + a broadcast join. Bin semantics differ from ntile only at
    * boundary TIES (count-of-boundaries vs positional split), which is the
    * documented trade.
    *
    * Boundaries are DISCRETE percentiles (`percentile_disc` — the smallest
    * element whose cumulative distribution ≥ q): actual data values, picked
    * by rank, so the boundary a row is compared against is the identical
    * parquet double in both engines. An INTERPOLATED boundary
    * (`percentile`/`quantile_cont`) agrees only to ~1e-9 across engines —
    * fine when the percentile IS the output (q66's tolerance), but as a
    * comparison threshold a last-ulp difference flips an integer bin, which
    * the sf0.1 validation caught (one flipped row in 10⁵).
    */
  def q103QuantileBins(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val qs = (1 to 9).map(_ / 10.0)
    val bounds = e.groupBy("event_type")
      .agg(array(qs.map(q =>
        expr(s"percentile_disc($q) WITHIN GROUP (ORDER BY value)")): _*).as("bs"))
    e.join(broadcast(bounds), "event_type")
      .select(col("event_id"), col("event_type"),
        (lit(1) + expr("aggregate(bs, 0, (a, b) -> a + IF(value > b, 1, 0))"))
          .cast("int").as("bin"))
  }

  private val q103Oracle =
    """WITH b AS (SELECT event_type,
      |             quantile_disc(value, [0.1,0.2,0.3,0.4,0.5,0.6,0.7,0.8,0.9]) AS bs
      |           FROM events GROUP BY 1)
      |SELECT event_id, e.event_type,
      |       (1 + len(list_filter(bs, x -> e.value > x)))::INT AS bin
      |FROM events e JOIN b ON e.event_type = b.event_type""".stripMargin

  /** q96: schema-evolution union — `unionByName(allowMissingColumns)` over
    * two batches whose schemas diverged (one carries `value`, the other the
    * later-added `props`), the long-lived-pipeline reality the reference's
    * per-run exports hit whenever a source table gains a column. Missing
    * columns null-fill BY NAME (a positional union would silently misalign);
    * the count(col) aggregates pin exactly which side contributed which
    * column.
    */
  def q96SchemaEvolution(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val batch1 = e.filter(col("event_id") % 2 === 0)
      .select(col("event_id"), col("event_type"), col("value"))
    val batch2 = e.filter(col("event_id") % 2 === 1)
      .select(col("event_id"), col("event_type"), col("props"))
    batch1.unionByName(batch2, allowMissingColumns = true)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        count(col("value")).as("n_value"),
        count(col("props")).as("n_props"),
        round(sum("value"), 4).as("sum_value"))
  }

  private val q96Oracle =
    """WITH u AS (
      |  SELECT event_id, event_type, value FROM events WHERE event_id % 2 = 0
      |  UNION ALL BY NAME
      |  SELECT event_id, event_type, props FROM events WHERE event_id % 2 = 1)
      |SELECT event_type, count(*)::BIGINT AS n,
      |       count(value)::BIGINT AS n_value, count(props)::BIGINT AS n_props,
      |       round(sum(value), 4) AS sum_value
      |FROM u GROUP BY 1""".stripMargin

  /** q97: deterministic collection — per-user sorted distinct event types
    * as one string. `collect_set` order is partition-dependent, so the sort
    * before the join is what makes the output an engine-exact VALUE (the
    * trap every "collect to array" pipeline hits under repartitioning).
    */
  def q97CollectTypes(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id")
      .agg(
        countDistinct(col("event_type")).as("n_types"),
        array_join(array_sort(collect_set(col("event_type"))), ",").as("types"))

  private val q97Oracle =
    """SELECT user_id, count(DISTINCT event_type)::BIGINT AS n_types,
      |       string_agg(DISTINCT event_type, ',' ORDER BY event_type) AS types
      |FROM events GROUP BY user_id""".stripMargin

  /** q107: dispersion aggregates — sample stddev/variance per type (the
    * monitoring/feature-normalization statistics), rounded like every
    * aggregated double (both engines use numerically stable central-moment
    * accumulation; round(4) + the driver's 1e-9 tolerance absorbs
    * summation-order ulps exactly as q01's sums do).
    */
  def q107Dispersion(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("event_type")
      .agg(
        round(stddev_samp(col("value")), 4).as("sd"),
        round(var_samp(col("value")), 4).as("vr"),
        round(avg(col("value")), 4).as("mean"))

  private val q107Oracle =
    """SELECT event_type, round(stddev_samp(value), 4) AS sd,
      |       round(var_samp(value), 4) AS vr, round(avg(value), 4) AS mean
      |FROM events GROUP BY 1""".stripMargin

  /** q108: correlation / covariance aggregates — Pearson corr and sample
    * covariance of `value` against the JSON property `k` per type (the
    * feature-relationship screen run before training).
    */
  def q108Correlation(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("double"))
      .groupBy("event_type")
      .agg(
        round(corr(col("value"), col("k")), 4).as("corr_vk"),
        round(covar_samp(col("value"), col("k")), 4).as("covar_vk"),
        count(lit(1)).as("n"))

  private val q108Oracle =
    """SELECT event_type,
      |       round(corr(value, json_extract_string(props, '$.k')::DOUBLE), 4) AS corr_vk,
      |       round(covar_samp(value, json_extract_string(props, '$.k')::DOUBLE), 4) AS covar_vk,
      |       count(*)::BIGINT AS n
      |FROM events GROUP BY 1""".stripMargin

  /** q112: MERGEABLE HLL sketches (DataSketches `hll_sketch_agg` /
    * `hll_union_agg`) — the pattern behind every 100 TB distinct-count
    * dashboard: sketch ONCE per (type, day) partition at ingest, persist the
    * binary, and answer any later slice (here: all days per type) by MERGING
    * sketches — no re-scan of raw data, fixed space per cell. q83 gates the
    * one-shot `approx_count_distinct`; this row gates the re-aggregation
    * path: daily sketches union-merged, estimated, and bound against the
    * exact count with the same pinned-flag contract (a 5% miss at lgK=12,
    * rsd≈1.6%, means broken merge semantics, not bad luck; the sketch is
    * deterministic for a given input set).
    */
  def q112HllMerge(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("day", tsDay)
    val daily = e.groupBy("event_type", "day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val merged = daily.groupBy("event_type")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
    val exact = e.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(merged, Seq("event_type"))
      .select(col("event_type"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= lit(0.05) * col("exact_users")).cast("int").as("within_5pct"))
  }

  private val q112Oracle =
    """SELECT event_type, count(DISTINCT user_id)::BIGINT AS exact_users,
      |       1::INT AS within_5pct
      |FROM events GROUP BY event_type""".stripMargin

  /** q113: `approx_top_k` heavy hitters (DataSketches frequent-items) in
    * its EXACT regime: k=10 over 5 distinct event types — the sketch
    * guarantees exact counts while distincts fit its map, so the output
    * hash-matches the definitional GROUP BY. This pins the sketch's
    * exact-regime contract cross-engine; at 100 TB the same call with a
    * high-cardinality column degrades gracefully to (item, count-range)
    * heavy hitters without a full shuffle of the key space.
    */
  def q113ApproxTopK(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .agg(expr("approx_top_k(event_type, 10)").as("tk"))
      .select(explode(col("tk")).as("t"))
      .select(col("t.item").as("event_type"), col("t.count").as("n"))

  private val q113Oracle =
    """SELECT event_type, count(*)::BIGINT AS n
      |FROM events GROUP BY event_type""".stripMargin

  /** q114: time-DECAYED user activity score — the recency-weighted feature
    * every ranking/fraud model carries (`Σ value·decay^age`), anchored at
    * the corpus max day so reruns are stable.
    *
    * Cross-engine exactness by construction: the decay base is 1/2 and the
    * age is integer days, so the weight is `1 / (1 << age)` — a DYADIC
    * rational computed with an integer shift and one exact power-of-two
    * division on BOTH engines. `pow(0.5, age)` would lean on libm
    * agreement; the shift leans on IEEE 754 alone. Ages cap at 60 (beyond
    * that the weight underflows any 4-decimal output anyway, and 1<<61
    * would overflow the shift). Summation order still differs → round(4)
    * like every aggregated double.
    *
    * Scale shape: the max-day anchor is a broadcast scalar (one partial-agg
    * row per partition), then one groupBy(user) — identical to any per-user
    * aggregate.
    */
  def q114DecayedScore(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("day", tsDay)
    val anchor = e.agg(max(col("day")).as("max_day"))
    e.crossJoin(broadcast(anchor))
      .withColumn("age", least(col("max_day") - col("day"), lit(60L)).cast("int"))
      .withColumn("w", lit(1.0) / expr("shiftleft(1L, age)"))
      .groupBy("user_id")
      .agg(
        round(sum(col("value") * col("w")), 4).as("decayed_value"),
        round(sum(col("w")), 4).as("decayed_n"),
        count(lit(1)).as("n"))
  }

  private val q114Oracle =
    """WITH e AS (SELECT user_id, value, epoch_us(ts) // 86400000000 AS day FROM events),
      |a AS (SELECT max(day) AS max_day FROM e),
      |w AS (SELECT user_id, value,
      |        1.0 / (1::BIGINT << least(max_day - day, 60)::INT) AS w
      |      FROM e, a)
      |SELECT user_id, round(sum(value * w), 4) AS decayed_value,
      |       round(sum(w), 4) AS decayed_n, count(*)::BIGINT AS n
      |FROM w GROUP BY user_id""".stripMargin

  /** q115: LAST-TOUCH attribution — for every converting user, the event
    * that immediately precedes their FIRST purchase (the credit-assignment
    * join of marketing/feature pipelines). `min(struct)`/`max_by(struct)`
    * give the arg-min/arg-max with the (ts, event_id) tuple as the
    * deterministic tie-break; the oracle states the same thing
    * definitionally with ranked windows, so the gate pins Spark's ordered
    * aggregates against engine-neutral SQL.
    *
    * Scale shape: two shuffles on user_id (conditional-min, then the
    * pre-purchase max_by) — no self-join per event, no window over the full
    * event set.
    */
  def q115LastTouch(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("ts_us", tsUs)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
    val firstPurchase = e.filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(min(struct(col("ts_us"), col("event_id"))).as("fp"))
    e.join(firstPurchase, Seq("user_id"))
      .filter(struct(col("ts_us"), col("event_id")) < col("fp"))
      .groupBy("user_id")
      .agg(
        max_by(struct(col("event_type"), col("ts_us")),
          struct(col("ts_us"), col("event_id"))).as("lt"),
        count(lit(1)).as("n_pre"))
      .select(col("user_id"), col("lt.event_type").as("last_touch_type"),
        col("lt.ts_us").as("last_touch_ts"), col("n_pre"))
  }

  private val q115Oracle =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us FROM events),
      |p AS (SELECT user_id, ts_us, event_id,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us ASC, event_id ASC) AS rn
      |      FROM e WHERE event_type = 'purchase'),
      |fp AS (SELECT user_id, ts_us AS fp_ts, event_id AS fp_id FROM p WHERE rn = 1),
      |pre AS (SELECT e.user_id, e.event_type, e.ts_us, e.event_id
      |        FROM e JOIN fp ON e.user_id = fp.user_id
      |        WHERE e.ts_us < fp.fp_ts OR (e.ts_us = fp.fp_ts AND e.event_id < fp.fp_id)),
      |r AS (SELECT user_id, event_type, ts_us,
      |        row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) AS rn,
      |        count(*) OVER (PARTITION BY user_id) AS n_pre
      |      FROM pre)
      |SELECT user_id, event_type AS last_touch_type, ts_us AS last_touch_ts,
      |       n_pre::BIGINT AS n_pre
      |FROM r WHERE rn = 1""".stripMargin

  /** q117: STREAMING native `session_window` aggregation — the SEVENTH
    * streaming gate: Spark's built-in merging session windows (state-store
    * session merge + watermark eviction), complementing q69 which builds
    * sessions imperatively with `flatMapGroupsWithState`. Same sentinel
    * staging as q70: the far-future row pushes the watermark past every
    * real session so Append mode flushes them all; the sentinel's own
    * session never emits.
    *
    * Boundary semantics, pinned deliberately: `session_window` windows are
    * `[start, last+gap)` and merge only when they OVERLAP, so a successor
    * event exactly `gap` later starts a NEW session (`diff >= gap` breaks)
    * — one strict-vs-inclusive boundary away from q12/q69's `diff > gap`
    * rule. The oracle states the `>=` rule explicitly, making the
    * cross-formulation difference a checked contract rather than a trap.
    */
  def q117StreamSessionWindow(spark: SparkSession, dir: String): DataFrame = {
    val work = Scratch.stableDir("q117")
    val schema = events(spark, dir).schema
    val inDir = eventsPlusSentinel(spark, dir)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", 1).parquet(inDir)
      .withColumn("tsm", timestamp_micros(tsUs))
      .withWatermark("tsm", "30 minutes")
    withFixtureShufflePartitions(spark, dir) {
      val sessions = stream
        .groupBy(col("user_id"), session_window(col("tsm"), "30 minutes"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          unix_micros(col("session_window.end")).as("end_us"),
          col("n_events"))
      val query = sessions.writeStream
        .format("parquet")
        .option("path", s"$work/out")
        .option("checkpointLocation", s"$work/ckpt")
        .outputMode("append")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    spark.read.parquet(s"$work/out")
  }

  private val q117Oracle =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
       |l AS (SELECT user_id, event_id, tsu,
       |        lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC) AS prev
       |      FROM e),
       |f AS (SELECT user_id, event_id, tsu,
       |        CASE WHEN prev IS NULL OR tsu - prev >= ${SessionGapUs} THEN 1 ELSE 0 END AS brk
       |      FROM l),
       |s AS (SELECT user_id, tsu,
       |        sum(brk) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |      FROM f)
       |SELECT user_id, min(tsu) AS start_us, max(tsu) + ${SessionGapUs} AS end_us,
       |       count(*)::BIGINT AS n_events
       |FROM s GROUP BY user_id, sid""".stripMargin

  /** q118: top-k per key via the BOUNDED-STATE heap aggregate
    * ([[graft.functions.GraftFunctions.collectTopK]]) — top-3 users per
    * event type by integer cents. The window formulation
    * (`row_number() <= 3`) sorts every group in full; the aggregate carries
    * 3 struct elements of state per group and merges map-side — the top-N
    * leaderboard shape that survives 100 TB groups. The oracle IS the
    * window formulation, so the gate pins heap semantics (full-tuple
    * ordering, ties to the larger user_id) against definitional SQL.
    */
  def q118TopKPerKey(spark: SparkSession, dir: String): DataFrame = {
    val per = events(spark, dir)
      .groupBy("event_type", "user_id")
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
    per.groupBy("event_type")
      .agg(graft.functions.GraftFunctions.collectTopK(
        struct(col("cents"), col("user_id")), 3).as("tk"))
      .select(col("event_type"),
        posexplode(sort_array(col("tk"), asc = false)))
      .select(col("event_type"), (col("pos") + 1).cast("long").as("rnk"),
        col("col.cents").as("cents"), col("col.user_id").as("user_id"))
  }

  private val q118Oracle =
    """WITH u AS (SELECT event_type, user_id,
      |             sum(floor(value * 100)::BIGINT)::BIGINT AS cents
      |           FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, user_id, cents,
      |        row_number() OVER (PARTITION BY event_type
      |                           ORDER BY cents DESC, user_id DESC) AS rnk
      |      FROM u)
      |SELECT event_type, rnk, cents, user_id FROM r WHERE rnk <= 3""".stripMargin

  /** q119: next-action LABEL generation — for every event, the user's next
    * event type within the session gap, or `END` (the supervised-learning
    * label a next-event model trains on; q105's session features are the
    * matching feature rows). One `lead` window per user — the same single
    * shuffle as sessionization, no self-join.
    */
  def q119NextEventLabel(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    events(spark, dir)
      .withColumn("ts_us", tsUs)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts_us"))
      .withColumn("nxt_type", lead(col("event_type"), 1).over(w))
      .withColumn("nxt_ts", lead(col("ts_us"), 1).over(w))
      .select(col("event_id"),
        when(col("nxt_ts") - col("ts_us") <= SessionGapUs, col("nxt_type"))
          .otherwise("END").as("label"))
  }

  private val q119Oracle =
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
       |l AS (SELECT event_id, tsu,
       |        lead(event_type) OVER w AS nt, lead(tsu) OVER w AS nts
       |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC))
       |SELECT event_id,
       |       CASE WHEN nts - tsu <= ${SessionGapUs} THEN nt ELSE 'END' END AS label
       |FROM l""".stripMargin

  /** q120: GROUP-aware k-fold assignment ([[graft.ext.Sampling.groupKFold]])
    * — all of a user's events share a fold (the cross-validation hygiene
    * that prevents within-user leakage). Scan-time projection; the oracle
    * replays the identical md5 arithmetic.
    */
  def q120GroupKFold(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.groupKFold(events(spark, dir), "user_id", k = 5)
      .select(col("event_id"), col("user_id"), col("fold"))

  private val q120Oracle =
    """SELECT event_id, user_id,
      |       ((('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 5))::INT AS fold
      |FROM events""".stripMargin

  /** q121: TEMPORAL train/embargo/test split — train strictly before the
    * discrete 0.8 time quantile, a one-day embargo absorbing
    * label-horizon leakage (rows whose outcome windows straddle the
    * boundary), test after. `percentile_disc` is an exact data element
    * (same cume>=q rule in both engines), so the boundary — and every
    * assignment — is integer-exact; an interpolated quantile could differ
    * by an ulp and flip boundary rows. The boundary is one broadcast
    * scalar; assignment is scan-time.
    */
  def q121TemporalSplit(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("ts_us", tsUs)
    val b = e.agg(
      expr("percentile_disc(0.8) WITHIN GROUP (ORDER BY ts_us)").as("b"))
    e.crossJoin(broadcast(b))
      .select(col("event_id"),
        when(col("ts_us") < col("b"), "train")
          .when(col("ts_us") < col("b") + 86400000000L, "embargo")
          .otherwise("test").as("split"))
  }

  private val q121Oracle =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS tsu FROM events),
      |b AS (SELECT quantile_disc(tsu, 0.8) AS b FROM e)
      |SELECT event_id,
      |       CASE WHEN tsu < b THEN 'train'
      |            WHEN tsu < b + 86400000000 THEN 'embargo'
      |            ELSE 'test' END AS split
      |FROM e, b""".stripMargin

  /** q122: key-SKEW diagnostics — the operational report run before
    * committing to a join/aggregation key at scale: the 5 hottest keys (via
    * the bounded-state [[graft.functions.GraftFunctions.collectTopK]] — no
    * full key sort), each with its row count, basis-point share of the
    * table, and hot-to-mean ratio ×100 (`cnt·n_keys/total`); a ratio ≫ 100
    * says "salt this key or broadcast the other side". All-integer
    * arithmetic, oracled against the definitional ranked window.
    */
  def q122SkewDiagnostics(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val per = e.groupBy("user_id").agg(count(lit(1)).as("cnt"))
    val tot = per.agg(
      sum(col("cnt")).as("total"), count(lit(1)).as("n_keys"))
    per.agg(graft.functions.GraftFunctions.collectTopK(
        struct(col("cnt"), col("user_id")), 5).as("tk"))
      .crossJoin(tot)
      .select(posexplode(sort_array(col("tk"), asc = false)),
        col("total"), col("n_keys"))
      .select((col("pos") + 1).cast("long").as("rnk"),
        col("col.user_id").as("user_id"), col("col.cnt").as("cnt"),
        expr("col.cnt * 10000 div total").as("share_bp"),
        expr("col.cnt * 100 * n_keys div total").as("hot_to_mean_x100"))
  }

  private val q122Oracle =
    """WITH u AS (SELECT user_id, count(*)::BIGINT AS cnt FROM events GROUP BY 1),
      |t AS (SELECT sum(cnt)::BIGINT AS total, count(*)::BIGINT AS n_keys FROM u),
      |r AS (SELECT user_id, cnt,
      |        row_number() OVER (ORDER BY cnt DESC, user_id DESC) AS rnk
      |      FROM u)
      |SELECT rnk, user_id, cnt,
      |       (cnt * 10000) // total AS share_bp,
      |       (cnt * 100 * n_keys) // total AS hot_to_mean_x100
      |FROM r, t WHERE rnk <= 5""".stripMargin

  /** q125: count-min-sketch point frequencies — the third sketch of the
    * family (Bloom = membership q109, HLL = cardinality q112, CMS =
    * frequency): one `binary` sketch over the event-type stream answers
    * "how often did X occur" for ANY later item without re-scanning, with
    * the one-sided guarantee `exact ≤ est ≤ exact + ε·N` at the sketch's
    * confidence. Two bounded reads (the sketch bytes — width·depth
    * counters — and the per-type exact counts, one row per type); the gate
    * pins both bounds as integer flags with ε·N slack computed in exact
    * integer arithmetic (ε = 1/1000 ⇒ slack = ⌈N/1000⌉). Fixed seed ⇒
    * deterministic sketch ⇒ stable flags at any sf.
    */
  def q125CmsFrequency(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val bytes = e.agg(graft.functions.GraftFunctions.countMinSketchAgg(
      col("event_type"), eps = 0.001, confidence = 0.99, seed = 42).as("sk"))
      .head().getAs[Array[Byte]]("sk")
    val cms = org.apache.spark.util.sketch.CountMinSketch.readFrom(
      new java.io.ByteArrayInputStream(bytes))
    val exact = e.groupBy("event_type").agg(count(lit(1)).as("n")).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val totalN = exact.map(_._2).sum
    val slack = (totalN + 999L) / 1000L // ceil(eps * N) exactly, for eps = 1/1000
    import spark.implicits._
    exact.toSeq.map { case (t, n) =>
      val est = cms.estimateCount(t)
      (t, n, (if (est >= n) 1 else 0), (if (est <= n + slack) 1 else 0))
    }.toDF("event_type", "n", "no_undercount", "within_eps")
  }

  private val q125Oracle =
    """SELECT event_type, count(*)::BIGINT AS n,
      |       1::INT AS no_undercount, 1::INT AS within_eps
      |FROM events GROUP BY event_type""".stripMargin

  /** q126: per-key uniform k-sample (bottom-k-by-hash) — "keep 8
    * representative events per user", the per-entity downsampling every
    * training pipeline runs before feature extraction so one hot user
    * cannot dominate a batch. Deterministic (hash order, the
    * [[graft.ext.Sampling.stratifiedQuota]] contract) and BOUNDED-STATE:
    * the reduction is the collectTopK heap (k rows of state per partition
    * per user), so the hottest user costs k rows through the shuffle, not
    * their event count. The oracle replays the identical md5-prefix
    * arithmetic under `row_number` — small-data-equivalent, scale-opposite.
    */
  def q126PerKeySample(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Sampling.stratifiedQuota(
      events(spark, dir).select(col("user_id"), col("event_id")),
      strataCols = Seq("user_id"), perStratum = 8, idCol = "event_id")

  private val q126Oracle =
    """SELECT user_id, event_id FROM events
      |QUALIFY row_number() OVER (
      |  PARTITION BY user_id
      |  ORDER BY ('0x' || substr(md5(event_id::VARCHAR), 1, 15))::BIGINT ASC,
      |           event_id ASC) <= 8""".stripMargin

  /** q127: batch windowed dedup ([[graft.ext.Dedup.dedupWithinGap]]) — the
    * backfill twin of the q73 streaming dedup gate: a repeat of the same
    * (user, event_type) within 10 minutes is a duplicate; after the gap the
    * same action is a fresh observation and is re-admitted — the semantics
    * watermark-evicted streaming state produces, stated relationally so
    * batch reprocessing agrees with the live stream.
    */
  def q127WindowDedup(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.dedupWithinGap(
      events(spark, dir).select(col("event_id"), col("user_id"),
        col("event_type"), tsUs.as("ts_us")),
      fp = md5(concat_ws(":", col("user_id"), col("event_type"))),
      tsUs = col("ts_us"),
      gapUs = 600L * 1000 * 1000,
      tie = col("event_id"))

  private val q127Oracle =
    """WITH g AS (
      |  SELECT event_id, user_id, event_type, epoch_us(ts) AS ts_us,
      |         lag(epoch_us(ts)) OVER (
      |           PARTITION BY md5(user_id::VARCHAR || ':' || event_type)
      |           ORDER BY epoch_us(ts) ASC, event_id ASC) AS prev
      |  FROM events)
      |SELECT event_id, user_id, event_type, ts_us
      |FROM g WHERE prev IS NULL OR ts_us - prev > 600000000""".stripMargin

  /** q128: MAD outlier report — robust per-type outlier detection (median
    * absolute deviation: |v − median| > 3·MAD), the training-data hygiene
    * filter that, unlike z-scores, is not itself dragged by the outliers it
    * hunts. Same scale shape as q103: boundaries are DISCRETE percentiles
    * (`percentile_disc` — actual data values, bit-identical cross-engine;
    * an interpolated percentile as a comparison threshold flips rows on the
    * last ulp), computed per type (model-sized), broadcast back, flags
    * counted map-side. Two scans + two broadcasts, no per-group window.
    */
  def q128MadOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val med = e.groupBy("event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY value)").as("med"))
    val dev = e.join(broadcast(med), "event_type")
      .withColumn("adev", abs(col("value") - col("med")))
    val mad = dev.groupBy("event_type")
      .agg(expr("percentile_disc(0.5) WITHIN GROUP (ORDER BY adev)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum((col("adev") > lit(3.0) * col("mad")).cast("long")).as("n_outliers"),
        round(max(col("med")), 4).as("med_r"),
        round(max(col("mad")), 4).as("mad_r"))
  }

  private val q128Oracle =
    """WITH med AS (
      |  SELECT event_type, quantile_disc(value, 0.5) AS med
      |  FROM events GROUP BY 1),
      |d AS (
      |  SELECT e.event_type, abs(e.value - m.med) AS adev, m.med
      |  FROM events e JOIN med m USING (event_type)),
      |mad AS (SELECT event_type, quantile_disc(adev, 0.5) AS mad FROM d GROUP BY 1)
      |SELECT d.event_type, count(*)::BIGINT AS n,
      |       sum((d.adev > 3.0 * mad.mad)::INT)::BIGINT AS n_outliers,
      |       round(max(d.med), 4) AS med_r,
      |       round(max(mad.mad), 4) AS mad_r
      |FROM d JOIN mad USING (event_type)
      |GROUP BY d.event_type""".stripMargin

  /** q131: declarative data-quality EXPECTATIONS
    * ([[graft.ext.Expectations]]) — the pre-publish contract gate: five
    * row-level rules priced at ONE scan (a single aggregate projection,
    * N rules ≠ N scans) plus the one multi-row rule (key uniqueness) that
    * honestly costs its own key shuffle. Violated-when-unevaluable
    * semantics (false OR NULL) pinned by the `props_has_k` rule over the
    * JSON column. The oracle replays every rule verbatim — counts, not
    * flags, so a drifting batch shows its exact damage.
    */
  def q131Expectations(spark: SparkSession, dir: String): DataFrame = {
    import graft.ext.Expectations
    import graft.ext.Expectations.Rule
    val e = events(spark, dir)
    Expectations.check(e, Seq(
        Rule("event_id_not_null", col("event_id").isNotNull),
        Rule("user_id_positive", col("user_id") > 0),
        Rule("known_event_type",
          col("event_type").isin("click", "view", "purchase", "signup", "error")),
        Rule("value_non_negative", col("value") >= 0),
        Rule("props_has_k", get_json_object(col("props"), "$.k").isNotNull)))
      .unionByName(Expectations.unique(e, Seq("event_id"), "event_id_unique"))
  }

  private val q131Oracle =
    """WITH t AS (SELECT count(*)::BIGINT AS n_rows FROM events),
      |r AS (
      |  SELECT 'event_id_not_null' AS rule,
      |         sum((event_id IS NULL)::INT)::BIGINT AS violations FROM events
      |  UNION ALL
      |  SELECT 'user_id_positive',
      |         sum((NOT coalesce(user_id > 0, FALSE))::INT)::BIGINT FROM events
      |  UNION ALL
      |  SELECT 'known_event_type',
      |         sum((NOT coalesce(event_type IN
      |           ('click','view','purchase','signup','error'), FALSE))::INT)::BIGINT
      |  FROM events
      |  UNION ALL
      |  SELECT 'value_non_negative',
      |         sum((NOT coalesce(value >= 0, FALSE))::INT)::BIGINT FROM events
      |  UNION ALL
      |  SELECT 'props_has_k',
      |         sum((json_extract_string(props, '$.k') IS NULL)::INT)::BIGINT
      |  FROM events
      |  UNION ALL
      |  SELECT 'event_id_unique',
      |         coalesce((SELECT sum(c)::BIGINT FROM (
      |           SELECT count(*) AS c FROM events GROUP BY event_id
      |           HAVING count(*) > 1)), 0) FROM (VALUES (1))
      |)
      |SELECT r.rule, r.violations, t.n_rows FROM r, t""".stripMargin

  /** q133: time-series GAP FILL — per-user daily activity resampled onto a
    * dense day grid (missing days become explicit zero rows), the
    * feature-prep step every sequence model needs (a sparse series silently
    * conflates "no events" with "no row", and lag/rolling features read
    * garbage across the holes). Per-user spans only — `sequence(min_day,
    * max_day)` per user then left-join the sparse counts back: the
    * explode is map-side over the (user, span) pairs, the join shuffles on
    * (user, day) — no global calendar crossJoin (users × all days) at
    * 100 TB, just each user's own window.
    */
  def q133GapFill(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("day", tsDay)
      .groupBy("user_id", "day").agg(count(lit(1)).as("n"))
    val grid = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"), coalesce(col("n"), lit(0L)).as("n"))
  }

  private val q133Oracle =
    """WITH daily AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
      |  FROM daily GROUP BY user_id)
      |SELECT g.user_id, g.day, coalesce(d.n, 0)::BIGINT AS n
      |FROM grid g LEFT JOIN daily d USING (user_id, day)""".stripMargin

  /** q134: SLIDING-window distinct users via HLL sketch merges — the
    * trailing-7-day-actives dashboard at sketch cost: one small sketch per
    * day (built once from raw data), every trailing window answered by
    * merging ≤ 7 daily sketches — the raw stream is scanned ONCE no matter
    * how many windows ask. q112 merges all days into one total; this is
    * the windowed form (day axis × window join, both model-sized). Exact
    * side re-counted relationally per window; estimate gated at ±5%
    * (lgK=12 ⇒ rsd ≈ 1.6%, deterministic sketch ⇒ stable flag).
    */
  def q134SlidingHll(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("day", tsDay)
    val daily = e.groupBy("day").agg(hll_sketch_agg(col("user_id")).as("sk"))
    val approx = daily.select(col("day").as("w"))
      .join(daily, col("day").between(col("w") - 6, col("w")))
      .groupBy("w")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx_users"))
    val exact = e.select(col("day").as("w")).distinct()
      .join(e.select(col("day"), col("user_id")),
        col("day").between(col("w") - 6, col("w")))
      .groupBy("w")
      .agg(countDistinct(col("user_id")).as("exact_users"))
    exact.join(approx, Seq("w"))
      .select(col("w").as("day"), col("exact_users"),
        (abs(col("approx_users") - col("exact_users"))
          <= lit(0.05) * col("exact_users")).cast("int").as("within_5pct"))
  }

  private val q134Oracle =
    """WITH e AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day
      |  FROM events),
      |d AS (SELECT DISTINCT day AS w FROM e)
      |SELECT d.w AS day, count(DISTINCT e.user_id)::BIGINT AS exact_users,
      |       1::INT AS within_5pct
      |FROM d JOIN e ON e.day BETWEEN d.w - 6 AND d.w
      |GROUP BY d.w""".stripMargin

  /** q136: LOCF imputation (last observation carried forward) — the fill
    * step that pairs with q133's gap fill: the dense day grid's holes get
    * the user's most recent observed value instead of a null/zero, the
    * standard imputation for slowly-changing measurements feeding sequence
    * models. Observation = per-(user, day) max cents (integer — floats
    * never compared); the carry is `last(_, ignoreNulls) OVER (ROWS
    * UNBOUNDED PRECEDING)` — a running window over each user's partition,
    * computed after ONE shuffle on user_id (the grid build, the join and
    * the carry all share it). Every user's grid starts at their first
    * observed day, so no leading nulls exist by construction.
    */
  def q136Locf(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("day", tsDay)
      .groupBy("user_id", "day")
      .agg(max(floor(col("value") * 100).cast("long")).as("cents"))
    val grid = daily.groupBy("user_id")
      .agg(min("day").as("d0"), max("day").as("d1"))
      .select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        last(col("cents"), ignoreNulls = true).over(w).as("cents_filled"))
  }

  private val q136Oracle =
    """WITH daily AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         max(floor(value * 100)::BIGINT) AS cents
      |  FROM events GROUP BY 1, 2),
      |grid AS (
      |  SELECT user_id, unnest(generate_series(min(day), max(day))) AS day
      |  FROM daily GROUP BY user_id),
      |j AS (SELECT g.user_id, g.day, d.cents
      |      FROM grid g LEFT JOIN daily d USING (user_id, day))
      |SELECT user_id, day,
      |       last_value(cents IGNORE NULLS) OVER (
      |         PARTITION BY user_id ORDER BY day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cents_filled
      |FROM j""".stripMargin

  /** q137: event-transition matrix (first-order Markov) — for each ordered
    * pair (src event type → next event type within the same user), the
    * bigram count and the transition probability in integer ppm (`n·10⁶
    * div row-total` — rational, no float compare). The user-journey
    * summary behind "what do users do after X" and the generator of
    * synthetic-sequence priors.
    *
    * Scale shape: ONE shuffle on user_id for the `lead` ordering (micros +
    * event_id — a total order, so the successor is deterministic
    * cross-engine), then the bigram aggregate shuffles only (src, dst)
    * pairs — |types|² rows. The ppm window runs over the model-sized
    * matrix, not the event stream.
    */
  def q137Transitions(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(col("user_id"),
      tsUs.as("tus"), col("event_id"), col("event_type"))
    val w = Window.partitionBy("user_id").orderBy(col("tus"), col("event_id"))
    e.withColumn("dst", lead("event_type", 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
      .withColumn("prob_ppm", call_function("div",
        col("n") * lit(1000000L), sum("n").over(Window.partitionBy("src"))))
  }

  private val q137Oracle =
    """WITH e AS (
      |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type
      |  FROM events),
      |b AS (
      |  SELECT event_type AS src,
      |         lead(event_type) OVER (
      |           PARTITION BY user_id ORDER BY tus, event_id) AS dst
      |  FROM e),
      |c AS (SELECT src, dst, count(*)::BIGINT AS n
      |      FROM b WHERE dst IS NOT NULL GROUP BY 1, 2)
      |SELECT src, dst, n,
      |       ((n * 1000000) // (sum(n) OVER (PARTITION BY src))::BIGINT)::BIGINT
      |         AS prob_ppm
      |FROM c""".stripMargin

  /** q138: winsorization — per-row clipping at the exact p05/p95 of
    * `value`, the outlier-taming transform (robust alternative to
    * dropping rows; q128's MAD flags, this one repairs). Boundaries are
    * `percentile_disc` — actual data elements, so both engines clip
    * against bit-identical doubles (the q66→q105 lesson: interpolated
    * percentiles disagree in ulps; discrete ones cannot). The two-value
    * boundary row rides the scalar-anchor pattern: a 1-row broadcast
    * crossJoin, the clip itself map-side — the event stream shuffles
    * nowhere.
    */
  def q138Winsorize(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val b = e.agg(
      expr("percentile_disc(0.05) WITHIN GROUP (ORDER BY value)").as("lo"),
      expr("percentile_disc(0.95) WITHIN GROUP (ORDER BY value)").as("hi"))
    e.crossJoin(broadcast(b))
      .select(col("event_id"),
        floor(greatest(col("lo"), least(col("hi"), col("value"))) * 100)
          .cast("long").as("cents_w"),
        (col("value") < col("lo") || col("value") > col("hi"))
          .cast("int").as("clipped"))
  }

  private val q138Oracle =
    """WITH b AS (SELECT quantile_disc(value, 0.05) AS lo,
      |                  quantile_disc(value, 0.95) AS hi FROM events)
      |SELECT event_id,
      |       floor(greatest(lo, least(hi, value)) * 100)::BIGINT AS cents_w,
      |       (value < lo OR value > hi)::INT AS clipped
      |FROM events, b""".stripMargin

  /** q139: audience OVERLAP via Theta-sketch set algebra — for every pair
    * of event types, the estimated size of `users(A) ∩ users(B)`. HLL
    * (q112/q134) can only UNION; Theta sketches close the set algebra —
    * intersection and difference compose on the sketches themselves
    * (`theta_intersection` is a scalar op over two sketch binaries), which
    * is what "users who did X AND Y" dashboards need without re-scanning
    * the stream per pair. One scan builds |types| sketches; all |types|²/2
    * pair intersections run over the model-sized sketch table.
    *
    * Split gate (q112 pattern): the exact overlap is value-matched against
    * a relational self-join; the sketch estimate is gated ±5% as a pinned
    * integer flag (default lgK=12 ⇒ the sketch is in EXACT mode below ~4k
    * uniques per type and rsd ≈ 1.6% beyond — deterministic either way).
    */
  def q139AudienceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val sk = e.groupBy("event_type").agg(expr("theta_sketch_agg(user_id)").as("sk"))
    val u = e.select("event_type", "user_id").distinct()
    val exact = u.as("x").join(u.as("y"),
        col("x.user_id") === col("y.user_id")
          && col("x.event_type") < col("y.event_type"))
      .groupBy(col("x.event_type").as("et_a"), col("y.event_type").as("et_b"))
      .agg(count(lit(1)).as("exact_overlap"))
    val est = sk.as("a").join(sk.as("b"), col("a.event_type") < col("b.event_type"))
      .select(col("a.event_type").as("et_a"), col("b.event_type").as("et_b"),
        expr("theta_sketch_estimate(theta_intersection(a.sk, b.sk))").as("est"))
    exact.join(est, Seq("et_a", "et_b"))
      .select(col("et_a"), col("et_b"), col("exact_overlap"),
        (abs(col("est") - col("exact_overlap")) <= lit(0.05) * col("exact_overlap"))
          .cast("int").as("within_5pct"))
  }

  private val q139Oracle =
    """WITH u AS (SELECT DISTINCT event_type, user_id FROM events)
      |SELECT x.event_type AS et_a, y.event_type AS et_b,
      |       count(*)::BIGINT AS exact_overlap, 1::INT AS within_5pct
      |FROM u x JOIN u y
      |  ON x.user_id = y.user_id AND x.event_type < y.event_type
      |GROUP BY 1, 2""".stripMargin

  /** q140: top user JOURNEYS — the distribution of session paths (the
    * ordered event-type sequence of each session's first 5 events, joined
    * `a>b>c`). Product analytics' pathing view: which routes through the
    * product are common, counted over q12's gap-sessionization.
    *
    * Determinism: the in-session order is the (micros, event_id) total
    * order; the path aggregate collects (rn, type) structs and
    * `array_sort`s row-locally before joining — `collect_list` alone has
    * no ordering contract. Scale shape: both windows and the path
    * aggregate ride ONE user_id shuffle (subset rule); the final count
    * shuffles path strings of bounded cardinality (≤ |types|⁵).
    */
  def q140TopJourneys(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    val running = byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("prev_ts", lag(col("ts_us"), 1).over(byUser))
      .withColumn("brk", when(col("prev_ts").isNull
        || col("ts_us") - col("prev_ts") > SessionGapUs, 1).otherwise(0))
      .withColumn("session_id", sum(col("brk")).over(running))
      .withColumn("rn", row_number().over(
        Window.partitionBy("user_id", "session_id")
          .orderBy(col("ts_us").asc, col("event_id").asc)))
      .filter(col("rn") <= 5)
      .groupBy("user_id", "session_id")
      .agg(array_sort(collect_list(struct(col("rn"), col("event_type")))).as("a"))
      .select(concat_ws(">", expr("transform(a, x -> x.event_type)")).as("path"))
      .groupBy("path")
      .agg(count(lit(1)).as("n_sessions"))
  }

  private val q140Oracle =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu, event_type FROM events),
       |l AS (SELECT *, lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu, event_id) AS prev
       |      FROM e),
       |f AS (SELECT *, CASE WHEN prev IS NULL OR tsu - prev > ${SessionGapUs}
       |                     THEN 1 ELSE 0 END AS brk
       |      FROM l),
       |s AS (SELECT *, (sum(brk) OVER (PARTITION BY user_id ORDER BY tsu, event_id
       |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS session_id
       |      FROM f),
       |r AS (SELECT *, row_number() OVER (
       |        PARTITION BY user_id, session_id ORDER BY tsu, event_id) AS rn
       |      FROM s),
       |p AS (SELECT user_id, session_id,
       |        string_agg(event_type, '>' ORDER BY rn) AS path
       |      FROM r WHERE rn <= 5 GROUP BY 1, 2)
       |SELECT path, count(*)::BIGINT AS n_sessions FROM p GROUP BY path""".stripMargin

  /** q141: distribution-DRIFT report — train/serve skew detection between
    * two time windows of the same stream (reference = first half of the
    * day range, actual = second half). `value` is discretized to exact
    * integer cents, binned into 10 equal-width integer bins sized from the
    * REFERENCE window's [min,max] (actual-window outliers clamp into the
    * edge bins, the standard drift-report convention), and the report
    * carries two divergence measures: total-variation distance in ppm —
    * all-integer arithmetic, so exact cross-engine — and the industry PSI
    * (Laplace-smoothed so empty bins stay finite), rounded to 4 dp since
    * `ln` is the one libm call (sub-ulp engine skew, invisible at 4 dp).
    *
    * Scale shape: two scalar anchors (day midpoint, reference min/max —
    * 1-row broadcasts), then ONE map-side bin projection and a 10-row
    * aggregate; the divergence windows run over the 10-row bin table, not
    * the stream. Nothing shuffles more than (bin, count) pairs.
    */
  def q141DriftReport(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).select(
      tsDay.as("day"),
      floor(col("value") * 100).cast("long").as("cents"))
    val mid = e.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val tagged = e.crossJoin(broadcast(mid))
      .withColumn("is_ref", (col("day") < col("mid")).cast("long"))
    val ref = tagged.filter(col("is_ref") === 1)
      .agg(min("cents").as("lo"), max("cents").as("hi"))
    val counts = tagged.crossJoin(broadcast(ref))
      .withColumn("bin",
        expr("((least(hi, greatest(lo, cents)) - lo) * 10) div (hi - lo + 1)").cast("int"))
      .groupBy("bin")
      .agg(sum(col("is_ref")).as("ne_raw"), sum(lit(1L) - col("is_ref")).as("na_raw"))
    val grid = spark.range(0, 10).select(col("id").cast("int").as("bin"))
    val bins = grid.join(counts, Seq("bin"), "left")
      .select(col("bin"),
        coalesce(col("ne_raw"), lit(0L)).as("n_exp"),
        coalesce(col("na_raw"), lit(0L)).as("n_act"))
    val all = Window.partitionBy()
    bins
      .withColumn("te", sum("n_exp").over(all))
      .withColumn("ta", sum("n_act").over(all))
      .withColumn("dev", abs(col("n_act") * col("te") - col("n_exp") * col("ta")))
      .withColumn("term",
        ((col("n_act") + 1) / (col("ta") + 10) - (col("n_exp") + 1) / (col("te") + 10)) *
          log(((col("n_act") + 1) * (col("te") + 10)) /
            ((col("n_exp") + 1) * (col("ta") + 10))))
      .withColumn("sum_dev", sum("dev").over(all))
      .withColumn("tvd_ppm", expr("(1000000 * sum_dev) div (2 * ta * te)"))
      .withColumn("psi_r4", round(sum("term").over(all), 4))
      .select("bin", "n_exp", "n_act", "tvd_ppm", "psi_r4")
  }

  private val q141Oracle =
    """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |                  floor(value * 100)::BIGINT AS cents FROM events),
      |m AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM e),
      |t AS (SELECT day, cents, (day < mid)::BIGINT AS is_ref FROM e, m),
      |r AS (SELECT min(cents) AS lo, max(cents) AS hi FROM t WHERE is_ref = 1),
      |c AS (SELECT (((least(hi, greatest(lo, cents)) - lo) * 10) // (hi - lo + 1))::INT AS bin,
      |             sum(is_ref)::BIGINT AS ne_raw, sum(1 - is_ref)::BIGINT AS na_raw
      |      FROM t, r GROUP BY 1),
      |g AS (SELECT unnest(generate_series(0, 9))::INT AS bin),
      |f AS (SELECT g.bin, coalesce(ne_raw, 0) AS n_exp, coalesce(na_raw, 0) AS n_act
      |      FROM g LEFT JOIN c ON g.bin = c.bin),
      |w AS (SELECT bin, n_exp, n_act,
      |             (sum(n_exp) OVER ())::BIGINT AS te,
      |             (sum(n_act) OVER ())::BIGINT AS ta FROM f),
      |d AS (SELECT *, abs(n_act * te - n_exp * ta) AS dev,
      |             ((n_act + 1) / (ta + 10) - (n_exp + 1) / (te + 10)) *
      |               ln(((n_act + 1) * (te + 10)) / ((n_exp + 1) * (ta + 10))) AS term
      |      FROM w)
      |SELECT bin, n_exp, n_act,
      |       ((1000000 * (sum(dev) OVER ())::BIGINT) // (2 * ta * te))::BIGINT AS tvd_ppm,
      |       round(sum(term) OVER (), 4) AS psi_r4
      |FROM d""".stripMargin

  /** q142: two-proportion z-TEST — the A/B experiment readout. Users are
    * assigned to arms by the [[graft.ext.Sampling]] 60-bit md5 gate
    * (deterministic, engine-replayable — `df.sample`'s RNG is not), the
    * conversion is "made a high-value purchase", and the statistic is the pooled
    * two-proportion z. Counts are exact integers; z itself uses only
    * IEEE-correctly-rounded ops (+,-,*,/,sqrt) over identical expression
    * trees on both engines, so `round(z,4)` is deterministic, and the
    * significance flag is a pure function of the ROUNDED value (a raw-z
    * threshold could flip on the last ulp).
    *
    * Scale shape: one user_id aggregate (the arm hash is a scan-time
    * projection), then a 2-row → 1-row fold. Nothing else moves.
    */
  def q142AbZtest(spark: SparkSession, dir: String): DataFrame = {
    // conversion = a HIGH-VALUE purchase (> 150): "any purchase" converts
    // ~100% of users at every SF (degenerate — pooled p(1-p)=0 divides by
    // zero); the value cut sits near 45%, where the test has power
    val users = events(spark, dir).groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1L)
        .otherwise(0L)).as("conv"))
      .withColumn("arm",
        pmod(graft.ext.Dedup.baseHash(col("user_id").cast("string")), lit(2L)).cast("int"))
    val row = users.groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("conv").as("c"))
      .agg(
        sum(when(col("arm") === 0, col("n"))).as("n_a"),
        sum(when(col("arm") === 0, col("c"))).as("c_a"),
        sum(when(col("arm") === 1, col("n"))).as("n_b"),
        sum(when(col("arm") === 1, col("c"))).as("c_b"))
    // every quotient is double/double: Spark's ANSI `/` on two integral
    // operands is integral division, which would truncate the proportions
    // (and land a divide-by-zero once sqrt(...) truncates to 0L)
    val p1 = col("c_a").cast("double") / col("n_a").cast("double")
    val p2 = col("c_b").cast("double") / col("n_b").cast("double")
    val pp = (col("c_a") + col("c_b")).cast("double") / (col("n_a") + col("n_b")).cast("double")
    val se = sqrt((pp * (lit(1.0) - pp)) *
      (lit(1.0) / col("n_a").cast("double") + lit(1.0) / col("n_b").cast("double")))
    // every user converts (or none does): zero pooled variance, z undefined —
    // NULL, the oracle's `x / 0.0`, instead of ANSI's DIVIDE_BY_ZERO
    val z = when(se =!= 0.0, (p1 - p2) / se)
    row.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
      round(z, 4).as("z_r4"),
      (abs(round(z, 4)) > lit(1.96)).cast("int").as("significant"))
  }

  private val q142Oracle =
    """WITH u AS (
      |  SELECT user_id,
      |         max(CASE WHEN event_type = 'purchase' AND value > 150 THEN 1 ELSE 0 END)::BIGINT AS conv,
      |         (('0x' || substr(md5(user_id::VARCHAR), 1, 15))::BIGINT % 2)::INT AS arm
      |  FROM events GROUP BY user_id),
      |a AS (SELECT arm, count(*)::BIGINT AS n, sum(conv)::BIGINT AS c FROM u GROUP BY arm),
      |f AS (SELECT sum(CASE WHEN arm = 0 THEN n END)::BIGINT AS n_a,
      |             sum(CASE WHEN arm = 0 THEN c END)::BIGINT AS c_a,
      |             sum(CASE WHEN arm = 1 THEN n END)::BIGINT AS n_b,
      |             sum(CASE WHEN arm = 1 THEN c END)::BIGINT AS c_b
      |      FROM a),
      |z AS (SELECT *,
      |        (c_a / n_a - c_b / n_b) /
      |          sqrt((((c_a + c_b) / (n_a + n_b)) * (1 - (c_a + c_b) / (n_a + n_b))) *
      |               (1::DOUBLE / n_a + 1::DOUBLE / n_b)) AS zv
      |      FROM f)
      |SELECT n_a, c_a, n_b, c_b, round(zv, 4) AS z_r4,
      |       (abs(round(zv, 4)) > 1.96::DOUBLE)::INT AS significant
      |FROM z""".stripMargin

  /** q143: STICKINESS — the DAU/MAU-family engagement ratio, per week:
    * (Σ daily actives) / (observed days × weekly actives), in exact
    * integer ppm. A stickiness of 1,000,000 ppm means every weekly-active
    * user shows up every observed day.
    *
    * Scale shape: the (day, user) distinct is the only data-sized shuffle;
    * the weekly aggregate folds user-day pairs — count(*) over the pairs
    * IS Σ DAU, so no per-day subaggregate or second pass exists.
    */
  def q143Stickiness(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(tsDay.as("day"), col("user_id"))
      .distinct()
      .withColumn("week", expr("day div 7"))
      .groupBy("week")
      .agg(count(lit(1)).as("user_days"),
        countDistinct("user_id").as("wau"),
        countDistinct("day").as("n_days"))
      .withColumn("stickiness_ppm", expr("(user_days * 1000000) div (n_days * wau)"))

  private val q143Oracle =
    """WITH p AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id FROM events),
      |w AS (SELECT day // 7 AS week, count(*)::BIGINT AS user_days,
      |             count(DISTINCT user_id)::BIGINT AS wau,
      |             count(DISTINCT day)::BIGINT AS n_days
      |      FROM p GROUP BY 1)
      |SELECT week, user_days, wau, n_days,
      |       ((user_days * 1000000) // (n_days * wau))::BIGINT AS stickiness_ppm
      |FROM w""".stripMargin

  /** q144: cohort LTV curves — users cohorted by first-seen week, purchase
    * revenue accumulated by cohort age in weeks: the "how much has the
    * week-N signup class spent by age k" chart. All money stays exact
    * integer cents; the cumulative window runs over the (cohort × age)
    * model table, not the event stream.
    *
    * Scale shape: one user_id aggregate builds the cohort map, one
    * user_id-keyed join attaches it to purchases (same key — AQE can plan
    * it shuffle-reusing), and the (cohort, age) aggregate is model-sized.
    * The cohort-size relation is tiny and broadcasts.
    */
  def q144CohortLtv(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("week", tsWeek)
    val first = e.groupBy("user_id").agg(min("week").as("cohort_week"))
    val size = first.groupBy("cohort_week")
      .agg(countDistinct("user_id").as("cohort_users"))
    val rev = e.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_weeks"))
      .agg(sum(floor(col("value") * 100).cast("long")).as("cents"))
    val w = Window.partitionBy("cohort_week").orderBy("age_weeks")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.join(broadcast(size), Seq("cohort_week"))
      .select(col("cohort_week"), col("age_weeks"), col("cohort_users"),
        sum("cents").over(w).as("cum_cents"))
  }

  private val q144Oracle =
    """WITH e AS (SELECT user_id, event_type, value,
      |                  epoch_us(ts) // 86400000000 // 7 AS week FROM events),
      |f AS (SELECT user_id, min(week) AS cohort_week FROM e GROUP BY 1),
      |cs AS (SELECT cohort_week, count(DISTINCT user_id)::BIGINT AS cohort_users
      |       FROM f GROUP BY 1),
      |r AS (SELECT f.cohort_week, e.week - f.cohort_week AS age_weeks,
      |             sum(floor(e.value * 100)::BIGINT)::BIGINT AS cents
      |      FROM e JOIN f USING (user_id) WHERE e.event_type = 'purchase'
      |      GROUP BY 1, 2)
      |SELECT r.cohort_week, r.age_weeks, cs.cohort_users,
      |       (sum(r.cents) OVER (PARTITION BY r.cohort_week ORDER BY r.age_weeks
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT AS cum_cents
      |FROM r JOIN cs USING (cohort_week)""".stripMargin

  /** q159: peak concurrent sessions per day ([[graft.ext.Concurrency
    * .maxConcurrent]] — the sweep-line over q12's gap sessions, running on
    * the shared two-level prefix sum in its signed form). The capacity /
    * load-planning readout: how many sessions were open at once, daily.
    * One user_id shuffle for sessionization (q12's own cost), then the
    * sweep shuffles only 2 boundary rows per session, partitioned by time
    * range — the global-order scan of the textbook formulation never
    * materializes.
    */
  def q159MaxConcurrent(spark: SparkSession, dir: String): DataFrame =
    graft.ext.Concurrency.maxConcurrent(
      q12Sessionize(spark, dir).select(col("ts_start"), col("ts_end")))

  private val q159Oracle =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
       |l AS (SELECT user_id, event_id, tsu,
       |        lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC) AS prev
       |      FROM e),
       |f AS (SELECT user_id, event_id, tsu,
       |        CASE WHEN prev IS NULL OR tsu - prev > ${SessionGapUs} THEN 1 ELSE 0 END AS brk
       |      FROM l),
       |s AS (SELECT user_id, tsu,
       |        sum(brk) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_id
       |      FROM f),
       |sess AS (SELECT user_id, session_id, min(tsu) AS ts_start, max(tsu) AS ts_end
       |         FROM s GROUP BY 1, 2),
       |b AS (SELECT ts_start * 2 AS pid, 1 AS delta FROM sess
       |      UNION ALL SELECT ts_end * 2 + 1, -1 FROM sess),
       |c AS (SELECT pid,
       |        sum(delta) OVER (ORDER BY pid
       |          RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
       |      FROM b)
       |SELECT (pid // 2 // 86400000000)::BIGINT AS day,
       |       max(conc)::BIGINT AS max_concurrent
       |FROM c GROUP BY 1""".stripMargin

  /** q163: RFM (recency / frequency / monetary) user segmentation — the
    * standard product-analytics value segmentation downstream of the
    * reference's event exports. Each user gets a 1–4 score per axis by
    * comparison against the exact quartiles of that axis, and a composite
    * `segment = r*100 + f*10 + m`.
    *
    * Engine-exactness: monetary sums integer CENTS (`floor(value*100)` is
    * per-row deterministic double math; the long sum is then order-free),
    * and the quartile thresholds are Spark `percentile` vs DuckDB
    * `quantile_cont` — both type-7 interpolation, the q66-pinned premise.
    * Scores come from comparisons against those thresholds, not `ntile`,
    * so no global-order window exists anywhere.
    *
    * Scale shape: one shuffle on user_id for the per-user rollup; the
    * global max-day and the 9 thresholds are 1-row aggregates broadcast
    * back. The exact single-group `percentile` is the oracle-parity
    * choice — at 100 TB swap in `approx_percentile` (q87 gates that
    * sketch's rank error).
    */
  def q163RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    val per = events(spark, dir)
      .withColumn("day", tsDay)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("user_id")
      .agg(
        max(col("day")).as("last_day"),
        count(lit(1)).as("freq"),
        sum(col("cents")).as("monetary_c"))
    val gmax = per.agg(max(col("last_day")).as("gmax"))
    val r = per.crossJoin(broadcast(gmax))
      .withColumn("recency", col("gmax") - col("last_day"))
      .select("user_id", "recency", "freq", "monetary_c")
    val thresholds = r.agg(
      expr("percentile(recency, 0.25)").as("r25"),
      expr("percentile(recency, 0.5)").as("r50"),
      expr("percentile(recency, 0.75)").as("r75"),
      expr("percentile(freq, 0.25)").as("f25"),
      expr("percentile(freq, 0.5)").as("f50"),
      expr("percentile(freq, 0.75)").as("f75"),
      expr("percentile(monetary_c, 0.25)").as("m25"),
      expr("percentile(monetary_c, 0.5)").as("m50"),
      expr("percentile(monetary_c, 0.75)").as("m75"))
    r.crossJoin(broadcast(thresholds))
      .withColumn("r_score",
        (lit(1) + (col("recency") > col("r25")).cast("int")
          + (col("recency") > col("r50")).cast("int")
          + (col("recency") > col("r75")).cast("int")))
      .withColumn("f_score",
        (lit(1) + (col("freq") > col("f25")).cast("int")
          + (col("freq") > col("f50")).cast("int")
          + (col("freq") > col("f75")).cast("int")))
      .withColumn("m_score",
        (lit(1) + (col("monetary_c") > col("m25")).cast("int")
          + (col("monetary_c") > col("m50")).cast("int")
          + (col("monetary_c") > col("m75")).cast("int")))
      .select(col("user_id"), col("recency"), col("freq"), col("monetary_c"),
        col("r_score"), col("f_score"), col("m_score"),
        (col("r_score") * 100 + col("f_score") * 10 + col("m_score")).as("segment"))
  }

  private val q163Oracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |                  floor(value * 100)::BIGINT AS cents FROM events),
      |p AS (SELECT user_id, max(day) AS last_day, count(*)::BIGINT AS freq,
      |             sum(cents)::BIGINT AS monetary_c FROM e GROUP BY 1),
      |g AS (SELECT max(last_day) AS gmax FROM p),
      |r AS (SELECT user_id, (gmax - last_day)::BIGINT AS recency, freq, monetary_c
      |      FROM p CROSS JOIN g),
      |t AS (SELECT quantile_cont(recency, 0.25) AS r25, quantile_cont(recency, 0.5) AS r50,
      |             quantile_cont(recency, 0.75) AS r75,
      |             quantile_cont(freq, 0.25) AS f25, quantile_cont(freq, 0.5) AS f50,
      |             quantile_cont(freq, 0.75) AS f75,
      |             quantile_cont(monetary_c, 0.25) AS m25, quantile_cont(monetary_c, 0.5) AS m50,
      |             quantile_cont(monetary_c, 0.75) AS m75 FROM r),
      |s AS (SELECT user_id, recency, freq, monetary_c,
      |        (1 + (recency > r25)::INT + (recency > r50)::INT + (recency > r75)::INT)::INT AS r_score,
      |        (1 + (freq > f25)::INT + (freq > f50)::INT + (freq > f75)::INT)::INT AS f_score,
      |        (1 + (monetary_c > m25)::INT + (monetary_c > m50)::INT + (monetary_c > m75)::INT)::INT AS m_score
      |      FROM r CROSS JOIN t)
      |SELECT user_id, recency, freq, monetary_c, r_score, f_score, m_score,
      |       (r_score * 100 + f_score * 10 + m_score)::INT AS segment
      |FROM s""".stripMargin

  /** q164: the cohort retention MATRIX — q60's long-form rollup pivoted to
    * the grid a retention chart renders: one row per cohort day, distinct
    * active users at each day offset 0..7 as columns, plus day-1/day-7
    * retention in basis points (integer division, engine-exact).
    *
    * Scale shape: identical to q60 (one user_id shuffle for the cohort
    * map, re-joined, then one aggregation) — the 8 conditional
    * `count(DISTINCT)`s expand to a single exchange on
    * (cohort_day, user_id) via Spark's Expand; no extra shuffle versus the
    * long form, and the output is |days| rows.
    */
  def q164RetentionMatrix(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("day", tsDay).select("user_id", "day")
    val cohort = e.groupBy("user_id").agg(min(col("day")).as("cohort_day"))
    val offs = e.join(cohort, "user_id")
      .withColumn("off", (col("day") - col("cohort_day")).cast("int"))
      .filter(col("off") <= 7)
    def dcol(k: Int) = countDistinct(when(col("off") === k, col("user_id"))).as(s"d$k")
    offs.groupBy("cohort_day")
      .agg(countDistinct(col("user_id")).as("cohort_size"),
        dcol(0), dcol(1), dcol(2), dcol(3), dcol(4), dcol(5), dcol(6), dcol(7))
      .withColumn("ret1_4", expr("(10000 * d1) div cohort_size"))
      .withColumn("ret7_4", expr("(10000 * d7) div cohort_size"))
  }

  private val q164Oracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT user_id, min(day) AS cohort_day FROM e GROUP BY 1),
      |o AS (SELECT e.user_id, cohort_day, (e.day - cohort_day)::INT AS off
      |      FROM e JOIN c USING (user_id) WHERE e.day - cohort_day <= 7)
      |SELECT cohort_day, count(DISTINCT user_id)::BIGINT AS cohort_size,
      |       count(DISTINCT CASE WHEN off = 0 THEN user_id END)::BIGINT AS d0,
      |       count(DISTINCT CASE WHEN off = 1 THEN user_id END)::BIGINT AS d1,
      |       count(DISTINCT CASE WHEN off = 2 THEN user_id END)::BIGINT AS d2,
      |       count(DISTINCT CASE WHEN off = 3 THEN user_id END)::BIGINT AS d3,
      |       count(DISTINCT CASE WHEN off = 4 THEN user_id END)::BIGINT AS d4,
      |       count(DISTINCT CASE WHEN off = 5 THEN user_id END)::BIGINT AS d5,
      |       count(DISTINCT CASE WHEN off = 6 THEN user_id END)::BIGINT AS d6,
      |       count(DISTINCT CASE WHEN off = 7 THEN user_id END)::BIGINT AS d7,
      |       (10000 * count(DISTINCT CASE WHEN off = 1 THEN user_id END))
      |         // count(DISTINCT user_id) AS ret1_4,
      |       (10000 * count(DISTINCT CASE WHEN off = 7 THEN user_id END))
      |         // count(DISTINCT user_id) AS ret7_4
      |FROM o GROUP BY 1""".stripMargin

  /** q165: market-basket association rules over user-day baskets — for
    * every ordered event-type pair (a < b) co-occurring in a basket:
    * support count, confidence (P(b|a)) and lift (joint over independent)
    * in integer basis points. The cross-sell / co-occurrence shape of
    * product analytics, and a corpus-mining primitive (co-occurrence
    * lift is q76's collocation statistic lifted from token bigrams to
    * behavioral baskets).
    *
    * Scale shape: baskets are `distinct(user_id, day, event_type)` — the
    * self-join is keyed on (user_id, day), so each side shuffles once on
    * the same key (identical subtrees → ReusedExchange) and the pair
    * blowup is bounded by |event_types|² per basket, never |rows|². The
    * singles table and the basket total are model-sized broadcasts.
    * Integer overflow headroom: lift's numerator is
    * 10000·n_pair·n_baskets — fine through ~10^14 baskets; beyond that
    * move the arithmetic to DECIMAL(38,0).
    */
  def q165MarketBasket(spark: SparkSession, dir: String): DataFrame = {
    val b = events(spark, dir).withColumn("day", tsDay)
      .select("user_id", "day", "event_type").distinct()
    val totals = b.select("user_id", "day").distinct().agg(count(lit(1)).as("n_baskets"))
    val singles = b.groupBy("event_type").agg(count(lit(1)).as("n_single"))
    b.as("a").join(b.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.day") === col("b.day") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("antecedent"), col("b.event_type").as("consequent"))
      .agg(count(lit(1)).as("n_pair"))
      .join(broadcast(singles.select(col("event_type").as("antecedent"), col("n_single").as("n_a"))), "antecedent")
      .join(broadcast(singles.select(col("event_type").as("consequent"), col("n_single").as("n_b"))), "consequent")
      .crossJoin(broadcast(totals))
      .select(col("antecedent"), col("consequent"), col("n_pair"),
        expr("(10000 * n_pair) div n_a").as("conf_4"),
        expr("(10000 * n_pair * n_baskets) div (n_a * n_b)").as("lift_4"))
  }

  private val q165Oracle =
    """WITH b AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day, event_type
      |           FROM events),
      |t AS (SELECT count(*)::BIGINT AS n_baskets FROM (SELECT DISTINCT user_id, day FROM b)),
      |s AS (SELECT event_type, count(*)::BIGINT AS n_single FROM b GROUP BY 1),
      |p AS (SELECT a.event_type AS antecedent, c.event_type AS consequent,
      |             count(*)::BIGINT AS n_pair
      |      FROM b a JOIN b c ON a.user_id = c.user_id AND a.day = c.day
      |                      AND a.event_type < c.event_type
      |      GROUP BY 1, 2)
      |SELECT antecedent, consequent, n_pair,
      |       (10000 * n_pair) // sa.n_single AS conf_4,
      |       (10000 * n_pair * t.n_baskets) // (sa.n_single * sb.n_single) AS lift_4
      |FROM p JOIN s sa ON p.antecedent = sa.event_type
      |       JOIN s sb ON p.consequent = sb.event_type
      |       CROSS JOIN t""".stripMargin

  /** q166: seasonal (day-of-week) anomaly detection — per event type,
    * daily counts compared against that type's same-weekday baseline; a
    * day is anomalous when |count − mean| > 2σ. The alerting shape every
    * event-analytics deployment runs over its export stream.
    *
    * The z-test is PURE INTEGER: with n days, S = Σcnt, Q = Σcnt² per
    * (type, dow) cell, |z| > 2 ⟺ (n·cnt − S)² > 4·(n·Q − S²) — both
    * sides exact BIGINT cross-multiplications, no float mean/σ anywhere
    * (q142's z-test trick applied to seasonality cells).
    *
    * Scale shape: one shuffle to daily counts (|types|·|days| rows), the
    * per-(type, dow) baseline is a model-sized aggregate broadcast back.
    */
  def q166SeasonalAnomaly(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir).withColumn("day", tsDay)
      .groupBy("event_type", "day").agg(count(lit(1)).as("cnt"))
      .withColumn("dow", expr("day % 7"))
    val base = daily.groupBy("event_type", "dow").agg(
      count(lit(1)).as("n"), sum(col("cnt")).as("s"),
      sum(col("cnt") * col("cnt")).as("q"))
    daily.join(broadcast(base), Seq("event_type", "dow"))
      .select(col("event_type"), col("day"), col("cnt"),
        (col("n") >= 3 &&
          (col("n") * col("cnt") - col("s")) * (col("n") * col("cnt") - col("s")) >
            lit(4L) * (col("n") * col("q") - col("s") * col("s")))
          .cast("int").as("is_anomaly"))
  }

  private val q166Oracle =
    """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |                  count(*)::BIGINT AS cnt
      |           FROM events GROUP BY 1, 2),
      |w AS (SELECT event_type, day, cnt, day % 7 AS dow FROM d),
      |b AS (SELECT event_type, dow, count(*)::BIGINT AS n, sum(cnt)::BIGINT AS s,
      |             sum(cnt * cnt)::BIGINT AS q
      |      FROM w GROUP BY 1, 2)
      |SELECT w.event_type, w.day, w.cnt,
      |       (b.n >= 3 AND
      |        (b.n * w.cnt - b.s) * (b.n * w.cnt - b.s) > 4 * (b.n * b.q - b.s * b.s)
      |       )::INT AS is_anomaly
      |FROM w JOIN b ON w.event_type = b.event_type AND w.dow = b.dow""".stripMargin

  /** The Benford expected first-digit shares, pre-scaled to basis points
    * (⌊log10(1+1/d)·10⁴⌋) and spelled as ONE generated CASE expression
    * consumed verbatim by both engines — the q116 generated-oracle
    * pattern: the constants cannot drift between the query and its
    * oracle because there is a single source string.
    */
  private val benfordCaseSql: String =
    "CASE digit WHEN 1 THEN 3010 WHEN 2 THEN 1760 WHEN 3 THEN 1249 " +
      "WHEN 4 THEN 969 WHEN 5 THEN 791 WHEN 6 THEN 669 WHEN 7 THEN 579 " +
      "WHEN 8 THEN 511 ELSE 457 END"

  /** q167: Benford first-significant-digit screen over `value` — the
    * classic data-quality / fraud test: observed first-digit shares vs
    * Benford's law, deviation in basis points. Fabricated or truncated
    * numeric feeds show up as large `dev_4` mass.
    *
    * Digit extraction is integer-exact: value → integer cents by per-row
    * `floor(|v|·100)` (deterministic double math, identical in both
    * engines), then the first digit of the INTEGER via string head —
    * integer-to-string is exact everywhere, unlike double formatting.
    * Shares and the Benford reference are integer basis points.
    *
    * Scale shape: scan → 9-group aggregate; the total is a 1-row
    * broadcast. Runs at scan speed on 100 TB.
    */
  def q167Benford(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("iv", floor(abs(col("value")) * 100).cast("long"))
      .filter(col("iv") > 0)
      .withColumn("digit", substring(col("iv").cast("string"), 1, 1).cast("int"))
    val total = e.agg(count(lit(1)).as("n_total"))
    e.groupBy("digit").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .withColumn("share_4", expr("(10000 * n) div n_total"))
      .withColumn("benford_4", expr(benfordCaseSql))
      .withColumn("dev_4", abs(col("share_4") - col("benford_4")))
      .select("digit", "n", "share_4", "benford_4", "dev_4")
  }

  private val q167Oracle =
    s"""WITH e AS (SELECT floor(abs(value) * 100)::BIGINT AS iv FROM events
       |           WHERE floor(abs(value) * 100) > 0),
       |d AS (SELECT substr(iv::VARCHAR, 1, 1)::INT AS digit FROM e),
       |t AS (SELECT count(*)::BIGINT AS n_total FROM d),
       |c AS (SELECT digit, count(*)::BIGINT AS n FROM d GROUP BY 1)
       |SELECT digit, n, (10000 * n) // n_total AS share_4,
       |       ($benfordCaseSql)::INT AS benford_4,
       |       abs((10000 * n) // n_total - ($benfordCaseSql)) AS dev_4
       |FROM c CROSS JOIN t""".stripMargin

  /** q174: per-type revenue trend — the OLS slope of daily cent-sums vs
    * day index, entirely in integer moment sums: with x = day − day₀
    * (global anchor) and y = Σcents, `slope = (nΣxy − ΣxΣy)/(nΣx² −
    * (Σx)²)` is emitted as `10⁴·num div den` — BIGINT end to end, no
    * float regression kernel to drift between engines. The
    * trend-detection / metric-monitoring shape (regr_slope without the
    * float).
    *
    * Scale shape: one shuffle to daily points (|types|·|days| rows), a
    * 1-row anchor broadcast, then a model-sized aggregate. Centering on
    * day₀ keeps every moment ≪ 2⁶³ (raw epoch-days cube past 10¹⁸).
    */
  def q174TrendSlope(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("day", tsDay)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("event_type", "day")
      .agg(coalesce(sum(col("cents")), lit(0L)).as("y"))
    val anchor = daily.agg(min(col("day")).as("day0"))
    daily.crossJoin(broadcast(anchor))
      .withColumn("x", col("day") - col("day0"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"), sum(col("y")).as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
      .filter(col("n") >= 2)
      .select(col("event_type"), col("n"),
        expr("(10000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)").as("slope_4"))
  }

  private val q174Oracle =
    """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |                  coalesce(sum(floor(value * 100)::BIGINT), 0)::BIGINT AS y
      |           FROM events GROUP BY 1, 2),
      |a AS (SELECT min(day) AS day0 FROM d),
      |p AS (SELECT event_type, (day - day0)::BIGINT AS x, y FROM d CROSS JOIN a),
      |m AS (SELECT event_type, count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
      |             sum(y)::BIGINT AS sy, sum(x * y)::BIGINT AS sxy,
      |             sum(x * x)::BIGINT AS sxx
      |      FROM p GROUP BY 1)
      |SELECT event_type, n,
      |       (10000 * (n * sxy - sx * sy)) // (n * sxx - sx * sx) AS slope_4
      |FROM m WHERE n >= 2""".stripMargin

  /** q175: day-of-week × hour-of-day activity heatmap with integer-ppm
    * shares — the canonical engagement-rhythm rollup. Pure scan-speed
    * shape: one aggregation to ≤ 168 cells, the total a 1-row broadcast.
    */
  def q175ActivityHeatmap(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("dow", expr("(ts div 1000 div 86400000000) % 7"))
      .withColumn("hour", expr("(ts div 1000 div 3600000000) % 24"))
    val total = e.agg(count(lit(1)).as("n_total"))
    e.groupBy("dow", "hour").agg(count(lit(1)).as("n"))
      .crossJoin(broadcast(total))
      .select(col("dow"), col("hour"), col("n"),
        expr("(1000000 * n) div n_total").as("share_ppm"))
  }

  private val q175Oracle =
    """WITH e AS (SELECT epoch_us(ts) // 86400000000 % 7 AS dow,
      |                  epoch_us(ts) // 3600000000 % 24 AS hour FROM events),
      |t AS (SELECT count(*)::BIGINT AS n_total FROM e)
      |SELECT dow, hour, count(*)::BIGINT AS n,
      |       (1000000 * count(*)) // max(t.n_total) AS share_ppm
      |FROM e CROSS JOIN t GROUP BY 1, 2""".stripMargin

  /** q176: Simpson diversity of each user's event-type mix, in integer
    * ppm — `1 − Σnᵢ(nᵢ−1)/(N(N−1))`, the probability two sampled events
    * differ in type. The rational twin of q92's Gini: a behavioral-
    * breadth feature with zero float arithmetic (entropy would need a
    * log; Simpson's index is exact).
    *
    * Scale shape: two chained aggregations riding one user_id-prefixed
    * shuffle; output is |users| rows.
    */
  def q176SimpsonDiversity(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("ni"))
      .groupBy("user_id")
      .agg(sum(col("ni")).as("n"), sum(col("ni") * (col("ni") - 1)).as("pairs"))
      .filter(col("n") >= 2)
      .select(col("user_id"), col("n").as("n_events"),
        (lit(1000000L) - expr("(1000000 * pairs) div (n * (n - 1))")).as("simpson_ppm"))

  private val q176Oracle =
    """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS ni
      |           FROM events GROUP BY 1, 2),
      |u AS (SELECT user_id, sum(ni)::BIGINT AS n, sum(ni * (ni - 1))::BIGINT AS pairs
      |      FROM c GROUP BY 1)
      |SELECT user_id, n AS n_events,
      |       1000000 - (1000000 * pairs) // (n * (n - 1)) AS simpson_ppm
      |FROM u WHERE n >= 2""".stripMargin

  /** q180: exact audience affinity between event types — for each type
    * pair, the distinct-user overlap and Jaccard similarity in integer
    * ppm. q139 answers the same question with mergeable Theta sketches
    * (the 100 TB default); this is the EXACT tier the sketch is gated
    * against, and the behavioral cousin of q165 (co-occurrence within a
    * basket vs audience overlap across all time).
    *
    * Scale shape: the (user, type) distinct is the one data-sized
    * shuffle; the pair self-join keys on user_id (fan-out ≤ |types|² per
    * user) and audience sizes are a model-sized broadcast. Jaccard is
    * pure integer: 10⁶·∩ div (|A|+|B|−∩).
    */
  def q180TypeAffinity(spark: SparkSession, dir: String): DataFrame = {
    val ut = events(spark, dir).select("user_id", "event_type").distinct()
    val sizes = ut.groupBy("event_type").agg(count(lit(1)).as("n_aud"))
    ut.as("a").join(ut.as("b"),
        col("a.user_id") === col("b.user_id") &&
          col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("n_both"))
      .join(broadcast(sizes.select(col("event_type").as("type_a"), col("n_aud").as("n_a"))), "type_a")
      .join(broadcast(sizes.select(col("event_type").as("type_b"), col("n_aud").as("n_b"))), "type_b")
      .select(col("type_a"), col("type_b"), col("n_both"),
        expr("(1000000 * n_both) div (n_a + n_b - n_both)").as("jaccard_ppm"))
  }

  private val q180Oracle =
    """WITH ut AS (SELECT DISTINCT user_id, event_type FROM events),
      |s AS (SELECT event_type, count(*)::BIGINT AS n_aud FROM ut GROUP BY 1),
      |p AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |             count(*)::BIGINT AS n_both
      |      FROM ut a JOIN ut b ON a.user_id = b.user_id
      |                         AND a.event_type < b.event_type
      |      GROUP BY 1, 2)
      |SELECT type_a, type_b, n_both,
      |       (1000000 * n_both) // (sa.n_aud + sb.n_aud - n_both) AS jaccard_ppm
      |FROM p JOIN s sa ON p.type_a = sa.event_type
      |       JOIN s sb ON p.type_b = sb.event_type""".stripMargin

  /** q183: LINEAR multi-touch attribution — every purchase credits the
    * user's touches (non-purchase events) in the prior 7 days equally:
    * each (touch, conversion) pair earns `10⁶ div n_touches` ppm of that
    * conversion, summed per channel. The fractional companion of q115's
    * winner-takes-all last-touch; integer division per pair keeps both
    * engines exact (a conversion's credits sum to ≤ 10⁶ with the
    * remainder truncated identically on both sides).
    *
    * Scale shape: the touch⋈conversion pair join keys on user_id with the
    * 7-day window as a residual range — per-user fan-out, never
    * |events|²; the per-conversion touch count is a second aggregate on
    * the conversion id, model-sized relative to the pair stream.
    */
  def q183LinearAttribution(spark: SparkSession, dir: String): DataFrame = {
    val windowUs = 7L * 86400L * 1000000L
    val e = events(spark, dir).withColumn("ts_us", tsUs)
    val conv = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"), col("ts_us").as("conv_ts"))
    val touch = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("channel"), col("ts_us").as("touch_ts"))
    val pairs = touch.join(conv, Seq("user_id"))
      .filter(col("touch_ts") <= col("conv_ts") &&
        col("conv_ts") - col("touch_ts") <= windowUs)
      .select("channel", "conv_id")
    val perConv = pairs.groupBy("conv_id").agg(count(lit(1)).as("n_touches"))
    pairs.join(perConv, "conv_id")
      .groupBy("channel")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("1000000 div n_touches")).as("credit_ppm"))
  }

  private val q183Oracle =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
      |conv AS (SELECT user_id, event_id AS conv_id, tsu AS cts FROM e
      |         WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, event_type AS channel, tsu AS tts FROM e
      |      WHERE event_type <> 'purchase'),
      |p AS (SELECT channel, conv_id FROM t JOIN conv USING (user_id)
      |      WHERE tts <= cts AND cts - tts <= 604800000000),
      |n AS (SELECT conv_id, count(*)::BIGINT AS n_touches FROM p GROUP BY 1)
      |SELECT channel, count(*)::BIGINT AS n_pairs,
      |       sum(1000000 // n_touches)::BIGINT AS credit_ppm
      |FROM p JOIN n USING (conv_id) GROUP BY 1""".stripMargin

  /** q185: k-anonymity audit — quasi-identifier combinations
    * (event_type, day-of-week, hour) whose distinct-user count falls
    * below k=5: the re-identification risk screen a privacy review runs
    * before an export leaves the building (the reference ships raw
    * user-keyed exports; this is the guard its consumers need).
    * One distinct + one aggregate, both user-prefixed shuffles; output is
    * only the risky combos.
    */
  def q185KAnonymity(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("dow", expr("(ts div 1000 div 86400000000) % 7"))
      .withColumn("hour", expr("(ts div 1000 div 3600000000) % 24"))
      .select("user_id", "event_type", "dow", "hour").distinct()
      .groupBy("event_type", "dow", "hour")
      .agg(count(lit(1)).as("n_users"))
      .filter(col("n_users") < 5)

  private val q185Oracle =
    """WITH d AS (SELECT DISTINCT user_id, event_type,
      |                  epoch_us(ts) // 86400000000 % 7 AS dow,
      |                  epoch_us(ts) // 3600000000 % 24 AS hour
      |           FROM events)
      |SELECT event_type, dow, hour, count(*)::BIGINT AS n_users
      |FROM d GROUP BY 1, 2, 3 HAVING count(*) < 5""".stripMargin

  /** q186: late-arrival accounting — with event_id as the ARRIVAL order
    * and `ts` as event time, a row is late when event time lags the
    * running max of what already arrived by > 30 min: exactly the rows a
    * streaming watermark of that lateness would drop (q69/q70's batch-side
    * audit — how much data a chosen watermark sacrifices, measured before
    * committing to it). Per user: late count and worst lateness.
    * One user_id shuffle; the running max is a rows-frame window.
    */
  def q186LateArrivals(spark: SparkSession, dir: String): DataFrame = {
    val lateUs = 1800L * 1000000L
    val w = Window.partitionBy("user_id").orderBy(col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("prev_max", max(col("ts_us")).over(w))
      .withColumn("lateness",
        when(col("prev_max").isNotNull && col("prev_max") - col("ts_us") > lateUs,
          col("prev_max") - col("ts_us")).otherwise(lit(0L)))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum((col("lateness") > 0).cast("long")).as("n_late"),
        max(col("lateness")).as("max_lateness_us"))
  }

  private val q186Oracle =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
      |m AS (SELECT user_id, event_id, tsu,
      |        max(tsu) OVER (PARTITION BY user_id ORDER BY event_id ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_max
      |      FROM e),
      |l AS (SELECT user_id,
      |        CASE WHEN prev_max IS NOT NULL AND prev_max - tsu > 1800000000
      |             THEN prev_max - tsu ELSE 0 END AS lateness
      |      FROM m)
      |SELECT user_id, count(*)::BIGINT AS n_events,
      |       sum((lateness > 0)::BIGINT)::BIGINT AS n_late,
      |       max(lateness)::BIGINT AS max_lateness_us
      |FROM l GROUP BY 1""".stripMargin

  /** q187: deterministic negative sampling — for every user, the 2
    * event types they never performed, chosen by md5 hash rank: the
    * negative-example generator of a recommender / contrastive training
    * pipeline, reproducible across engines and retries because the
    * "randomness" is a content hash (q44's gate trick applied to
    * sampling candidates). Anti-join against interactions, |types|-sized
    * broadcast grid, bounded per-user output.
    */
  def q187NegativeSamples(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    val types = e.select("event_type").distinct()
    // positives = types ABOVE the user's own mean interaction count
    // (n·k > Σn, integer cross-multiplied — scale-free, so the negative
    // pool is non-empty at every SF of the dense fixture); weaker contact
    // stays eligible as a negative, the implicit-feedback convention
    val cells = e.groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
    val tot = cells.groupBy("user_id").agg(sum(col("n")).as("tot"), count(lit(1)).as("k"))
    val inter = cells.join(tot, "user_id")
      .filter(col("n") * col("k") > col("tot"))
      .select("user_id", "event_type")
    val w = Window.partitionBy("user_id").orderBy(col("h").asc, col("event_type").asc)
    e.select("user_id").distinct()
      .crossJoin(broadcast(types))
      .join(inter, Seq("user_id", "event_type"), "left_anti")
      .withColumn("h", md5(concat(col("user_id").cast("string"), lit("|"), col("event_type"))))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 2)
      .select(col("user_id"), col("event_type").as("neg_type"), col("rn"))
  }

  private val q187Oracle =
    """WITH t AS (SELECT DISTINCT event_type FROM events),
      |u AS (SELECT DISTINCT user_id FROM events),
      |c AS (SELECT user_id, event_type, count(*)::BIGINT AS n
      |      FROM events GROUP BY 1, 2),
      |i AS (SELECT user_id, event_type FROM (
      |        SELECT user_id, event_type, n,
      |               sum(n) OVER (PARTITION BY user_id) AS tot,
      |               count(*) OVER (PARTITION BY user_id) AS k
      |        FROM c)
      |      WHERE n * k > tot),
      |g AS (SELECT u.user_id, t.event_type FROM u CROSS JOIN t),
      |neg AS (SELECT g.user_id, g.event_type,
      |               md5(g.user_id::VARCHAR || '|' || g.event_type) AS h
      |        FROM g ANTI JOIN i USING (user_id, event_type)),
      |r AS (SELECT user_id, event_type, h,
      |        row_number() OVER (PARTITION BY user_id ORDER BY h ASC, event_type ASC) AS rn
      |      FROM neg)
      |SELECT user_id, event_type AS neg_type, rn::INT AS rn
      |FROM r WHERE rn <= 2""".stripMargin

  /** q188: burst-rate bot screen — each user's peak events inside any
    * trailing 60-second window (a RANGE frame over event-time micros),
    * flagged when ≥ 10: the superhuman-rate heuristic of abuse/bot
    * filtering, and a pure windowed-count shape (one user_id shuffle, the
    * range frame is a two-pointer scan within partitions — no self-join).
    */
  def q188BurstRate(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us").asc)
      .rangeBetween(-60000000L, 0L)
    events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("win_n", count(lit(1)).over(w))
      .groupBy("user_id")
      .agg(max(col("win_n")).as("peak_per_min"))
      .withColumn("is_bot", (col("peak_per_min") >= 10).cast("int"))
  }

  private val q188Oracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu FROM events),
      |w AS (SELECT user_id,
      |        count(*) OVER (PARTITION BY user_id ORDER BY tsu ASC
      |          RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) AS win_n
      |      FROM e)
      |SELECT user_id, max(win_n)::BIGINT AS peak_per_min,
      |       (max(win_n) >= 10)::INT AS is_bot
      |FROM w GROUP BY 1""".stripMargin

  /** q189: weighted median per event type — the smallest value whose
    * cumulative integer weight (cents + 1, always positive) reaches half
    * the type's total: revenue-weighted "typical value", robust where the
    * plain median ignores magnitude. The crossing test is the integer
    * cross-multiplication `2·cumw ≥ totw` and the output value is an
    * untouched row double — no float arithmetic is ever CREATED, so both
    * engines agree bit-for-bit. Nulls are excluded up front (Spark sorts
    * them first, DuckDB last — the one ordering the engines disagree on).
    *
    * Scale shape: one shuffle on event_type; the running weight is a
    * rows-frame window, totals broadcast back.
    */
  def q189WeightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .filter(col("value").isNotNull)
      .withColumn("w", floor(abs(col("value")) * 100).cast("long") + 1)
    val w = Window.partitionBy("event_type")
      .orderBy(col("value").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = e.groupBy("event_type").agg(sum(col("w")).as("totw"))
    e.withColumn("cumw", sum(col("w")).over(w))
      .join(broadcast(tot), "event_type")
      .filter(col("cumw") * 2 >= col("totw"))
      .groupBy("event_type")
      .agg(min(col("value")).as("w_median"), max(col("totw")).as("totw"))
  }

  private val q189Oracle =
    """WITH e AS (SELECT event_id, event_type, value,
      |                  floor(abs(value) * 100)::BIGINT + 1 AS w
      |           FROM events WHERE value IS NOT NULL),
      |c AS (SELECT event_type, value,
      |        sum(w) OVER (PARTITION BY event_type ORDER BY value ASC, event_id ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumw,
      |        sum(w) OVER (PARTITION BY event_type) AS totw
      |      FROM e)
      |SELECT event_type, min(value) AS w_median, max(totw)::BIGINT AS totw
      |FROM c WHERE cumw * 2 >= totw GROUP BY 1""".stripMargin

  /** q190: CUSUM change-point detection — per type, the day where the
    * cumulative deviation of daily cent-totals from the type's own mean
    * peaks (Page's CUSUM, the classic "when did this metric shift"
    * estimator). Deviations are pre-scaled by n (`n·y − S`) so the whole
    * statistic stays BIGINT — no float mean; the argmax tiebreaks to the
    * earliest day.
    *
    * Scale shape: one shuffle to daily points, per-type (n, S) broadcast
    * back, the cusum a per-type rows-frame window, and the argmax a
    * model-sized self-join on the |types|-row peak table.
    */
  def q190ChangePoint(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("day", tsDay)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("event_type", "day")
      .agg(coalesce(sum(col("cents")), lit(0L)).as("y"))
    val stats = daily.groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val w = Window.partitionBy("event_type").orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cus = daily.join(broadcast(stats), "event_type")
      .withColumn("cusum", sum(col("n") * col("y") - col("s")).over(w))
    val peaks = cus.groupBy("event_type").agg(max(abs(col("cusum"))).as("peak"))
    cus.join(broadcast(peaks), "event_type")
      .filter(abs(col("cusum")) === col("peak"))
      .groupBy("event_type")
      .agg(min(col("day")).as("change_day"), max(col("peak")).as("peak"))
  }

  private val q190Oracle =
    """WITH d AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day,
      |                  coalesce(sum(floor(value * 100)::BIGINT), 0)::BIGINT AS y
      |           FROM events GROUP BY 1, 2),
      |st AS (SELECT event_type, count(*)::BIGINT AS n, sum(y)::BIGINT AS s
      |       FROM d GROUP BY 1),
      |c AS (SELECT d.event_type, day,
      |        sum(st.n * d.y - st.s) OVER (PARTITION BY d.event_type ORDER BY day ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |      FROM d JOIN st USING (event_type)),
      |p AS (SELECT event_type, max(abs(cusum)) AS peak FROM c GROUP BY 1)
      |SELECT event_type, min(day)::BIGINT AS change_day, max(peak)::BIGINT AS peak
      |FROM c JOIN p USING (event_type)
      |WHERE abs(cusum) = peak GROUP BY 1""".stripMargin

  /** q192: CONVERSION-WINDOW funnel — q106's strictly-ordered three-step
    * chain with the constraint real funnels add: each step must land
    * within 1 hour of the previous step's first occurrence, or the user
    * drops out. Same chained min-join shape (the exchanges stay
    * user_id-keyed and reusable); only the join predicate gains the
    * window bound.
    */
  def q192WindowedFunnel(spark: SparkSession, dir: String): DataFrame = {
    val winUs = 3600L * 1000000L
    val e = events(spark, dir).withColumn("ts_us", tsUs)
    val s1 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("ts_us")).as("t1"))
    val s2 = e.filter(col("event_type") === "click")
      .join(s1, "user_id")
      .filter(col("ts_us") > col("t1") && col("ts_us") - col("t1") <= winUs)
      .groupBy("user_id").agg(min(col("ts_us")).as("t2"))
    val s3 = e.filter(col("event_type") === "purchase")
      .join(s2, "user_id")
      .filter(col("ts_us") > col("t2") && col("ts_us") - col("t2") <= winUs)
      .groupBy("user_id").agg(min(col("ts_us")).as("t3"))
    s1.agg(count(lit(1)).as("n_signup"))
      .crossJoin(s2.agg(count(lit(1)).as("n_click_1h")))
      .crossJoin(s3.agg(count(lit(1)).as("n_purchase_1h")))
  }

  private val q192Oracle =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
      |s1 AS (SELECT user_id, min(tsu) AS t1 FROM e
      |       WHERE event_type = 'signup' GROUP BY 1),
      |s2 AS (SELECT e.user_id, min(tsu) AS t2 FROM e JOIN s1 USING (user_id)
      |       WHERE event_type = 'click' AND tsu > t1 AND tsu - t1 <= 3600000000
      |       GROUP BY 1),
      |s3 AS (SELECT e.user_id, min(tsu) AS t3 FROM e JOIN s2 USING (user_id)
      |       WHERE event_type = 'purchase' AND tsu > t2 AND tsu - t2 <= 3600000000
      |       GROUP BY 1)
      |SELECT (SELECT count(*) FROM s1)::BIGINT AS n_signup,
      |       (SELECT count(*) FROM s2)::BIGINT AS n_click_1h,
      |       (SELECT count(*) FROM s3)::BIGINT AS n_purchase_1h""".stripMargin

  /** q193: behavioral SEQUENCE-PATTERN matching (MATCH_RECOGNIZE-lite) —
    * each user's event stream collapses to an ordered initial-letter
    * string (deterministically: struct-sorted by (ts, event_id), q97's
    * collect rule), then regex patterns count matching users: "view →
    * click → purchase with no error between" is `v[^e]*c[^e]*p`. The
    * sequence-analytics capability funnels can't express (negative
    * constraints, arbitrary gaps) as two aggregates + a scan-speed regex
    * over |users| strings.
    */
  def q193SequenceMatch(spark: SparkSession, dir: String): DataFrame = {
    val paths = events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("c", substring(col("event_type"), 1, 1))
      .groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("ts_us"), col("event_id"), col("c")))),
        x => x.getField("c")), "").as("path"))
    val patterns = Seq(
      ("view_click_buy_no_error", "v[^e]*c[^e]*p"),
      ("signup_then_buy", "s.*p"),
      ("error_recovery", "e.*p"))
    patterns.map { case (name, re) =>
      paths.agg(lit(name).as("pattern"),
        sum(col("path").rlike(re).cast("long")).as("n_users"))
    }.reduce(_.unionByName(_))
  }

  private val q193Oracle =
    """WITH p AS (SELECT user_id,
      |             string_agg(substr(event_type, 1, 1), '' ORDER BY epoch_us(ts), event_id)
      |               AS path
      |           FROM events GROUP BY 1)
      |SELECT 'view_click_buy_no_error' AS pattern,
      |       sum(regexp_matches(path, 'v[^e]*c[^e]*p')::BIGINT)::BIGINT AS n_users FROM p
      |UNION ALL
      |SELECT 'signup_then_buy', sum(regexp_matches(path, 's.*p')::BIGINT)::BIGINT FROM p
      |UNION ALL
      |SELECT 'error_recovery', sum(regexp_matches(path, 'e.*p')::BIGINT)::BIGINT FROM p""".stripMargin

  /** q200: recency-window history features — each user's last 3 event
    * types, most recent first, as one deterministic string: the
    * "context at prediction time" feature a sequence model consumes.
    * WindowGroupLimit truncates per user BEFORE any collect (q170's
    * bounded-state rule), so per-user state is ≤ 3 rows however long the
    * history.
    */
  def q200RecentHistory(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
      .orderBy(col("ts_us").desc, col("event_id").desc)
    events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy("user_id")
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type")), ">").as("recent3"))
  }

  private val q200Oracle =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
      |r AS (SELECT user_id, event_type,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY tsu DESC, event_id DESC) AS rn
      |      FROM e)
      |SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS recent3
      |FROM r WHERE rn <= 3 GROUP BY 1""".stripMargin

  /** q201: 90 %-coverage cut — per user, how many event types (taken
    * most-frequent first) cover ≥ 90 % of their events. The mass-coverage
    * primitive behind vocabulary truncation, catalog pruning and "how
    * concentrated is this user" features; the test is the integer
    * cross-multiplication `10·prev_cum < 9·total` (a row is still needed
    * iff coverage wasn't reached before it). One user-prefixed shuffle;
    * the windows run over ≤ |types| rows per user.
    */
  def q201CoverageCut(spark: SparkSession, dir: String): DataFrame = {
    val byN = Window.partitionBy("user_id").orderBy(col("n").desc, col("event_type").asc)
    val cum = byN.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .groupBy("user_id", "event_type").agg(count(lit(1)).as("n"))
      .withColumn("cumn", sum(col("n")).over(cum))
      .withColumn("tot", sum(col("n")).over(Window.partitionBy("user_id")))
      .withColumn("rk", row_number().over(byN))
      .filter((col("cumn") - col("n")) * 10 < col("tot") * 9)
      .groupBy("user_id")
      .agg(max(col("rk")).as("k_90"), max(col("tot")).as("n_events"))
  }

  private val q201Oracle =
    """WITH c AS (SELECT user_id, event_type, count(*)::BIGINT AS n
      |           FROM events GROUP BY 1, 2),
      |w AS (SELECT user_id, n,
      |        sum(n) OVER (PARTITION BY user_id ORDER BY n DESC, event_type ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumn,
      |        sum(n) OVER (PARTITION BY user_id) AS tot,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY n DESC, event_type ASC) AS rk
      |      FROM c)
      |SELECT user_id, max(rk)::INT AS k_90, max(tot)::BIGINT AS n_events
      |FROM w WHERE (cumn - n) * 10 < tot * 9 GROUP BY 1""".stripMargin

  /** q203: feature-store materialization — ONE wide training row per user
    * composing the session's behavioral features: volume, breadth,
    * integer-cents monetary, recency vs the corpus max day (broadcast
    * anchor), q188's 60-second burst peak and q176's Simpson diversity —
    * the end-to-end "assemble the model's input table" job (q102's role
    * for the events side). Every arm aggregates on the same user_id key,
    * so the joins co-locate on one shuffle family; all arithmetic is the
    * already-pinned integer forms.
    */
  def q203FeatureStore(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("ts_us", tsUs)
      .withColumn("day", tsDay)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
    val base = e.groupBy("user_id").agg(
      count(lit(1)).as("n_events"),
      countDistinct(col("event_type")).as("n_types"),
      sum(col("cents")).as("monetary_c"),
      max(col("day")).as("last_day"))
    val gmax = base.agg(max(col("last_day")).as("gmax"))
    val burst = e
      .withColumn("win_n", count(lit(1)).over(
        Window.partitionBy("user_id").orderBy(col("ts_us").asc)
          .rangeBetween(-60000000L, 0L)))
      .groupBy("user_id").agg(max(col("win_n")).as("peak_per_min"))
    val simpson = e.groupBy("user_id", "event_type").agg(count(lit(1)).as("ni"))
      .groupBy("user_id")
      .agg(sum(col("ni")).as("sn"), sum(col("ni") * (col("ni") - 1)).as("pairs"))
      .filter(col("sn") >= 2)
      .select(col("user_id"),
        (lit(1000000L) - expr("(1000000 * pairs) div (sn * (sn - 1))")).as("simpson_ppm"))
    base.join(burst, "user_id").join(simpson, "user_id")
      .crossJoin(broadcast(gmax))
      .select(col("user_id"), col("n_events"), col("n_types"), col("monetary_c"),
        (col("gmax") - col("last_day")).as("recency_days"),
        col("peak_per_min"), col("simpson_ppm"))
  }

  private val q203Oracle =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu,
      |                  epoch_us(ts) // 86400000000 AS day,
      |                  floor(value * 100)::BIGINT AS cents FROM events),
      |b AS (SELECT user_id, count(*)::BIGINT AS n_events,
      |             count(DISTINCT event_type)::BIGINT AS n_types,
      |             sum(cents)::BIGINT AS monetary_c, max(day) AS last_day
      |      FROM e GROUP BY 1),
      |g AS (SELECT max(last_day) AS gmax FROM b),
      |w AS (SELECT user_id,
      |        count(*) OVER (PARTITION BY user_id ORDER BY tsu ASC
      |          RANGE BETWEEN 60000000 PRECEDING AND CURRENT ROW) AS win_n
      |      FROM e),
      |p AS (SELECT user_id, max(win_n)::BIGINT AS peak_per_min FROM w GROUP BY 1),
      |c AS (SELECT user_id, event_type, count(*)::BIGINT AS ni FROM e GROUP BY 1, 2),
      |s AS (SELECT user_id, sum(ni)::BIGINT AS sn,
      |             sum(ni * (ni - 1))::BIGINT AS pairs FROM c GROUP BY 1),
      |sp AS (SELECT user_id,
      |         1000000 - (1000000 * pairs) // (sn * (sn - 1)) AS simpson_ppm
      |       FROM s WHERE sn >= 2)
      |SELECT b.user_id, n_events, n_types, monetary_c,
      |       (gmax - last_day)::BIGINT AS recency_days, peak_per_min, simpson_ppm
      |FROM b JOIN p USING (user_id) JOIN sp USING (user_id) CROSS JOIN g""".stripMargin

  /** q206: HLL precision sweep — the accuracy/cost curve behind choosing
    * a distinct-count sketch setting: global distinct users estimated at
    * rsd 5 %, 2 % and 1 %, each gated through its own 3σ band around the
    * exact count (q83's pattern, swept). The measured error is
    * deterministic (HLL has no RNG — the hash is fixed), so the oracle
    * pins every band flag TRUE; the error_ppm column shows the actual
    * curve. At 100 TB the sketch bytes scale ~1/rsd² — this query is the
    * evidence for how much rsd a use case actually needs.
    */
  def q206HllSweep(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
    Seq(0.05, 0.02, 0.01).map { rsd =>
      e.agg(
          countDistinct(col("user_id")).as("exact_users"),
          approx_count_distinct(col("user_id"), rsd = rsd).as("approx"))
        .select(
          lit((rsd * 100).round).cast("int").as("rsd_pct_x100"),
          col("exact_users"),
          (abs(col("approx") - col("exact_users"))
            <= lit(3 * rsd) * col("exact_users")).cast("int").as("within_3sigma"))
    }.reduce(_.unionByName(_))
  }

  private val q206Oracle =
    """WITH x AS (SELECT count(DISTINCT user_id)::BIGINT AS exact_users FROM events)
      |SELECT 5::INT AS rsd_pct_x100, exact_users, 1::INT AS within_3sigma FROM x
      |UNION ALL SELECT 2::INT, exact_users, 1::INT FROM x
      |UNION ALL SELECT 1::INT, exact_users, 1::INT FROM x""".stripMargin

  /** q207: decile gains table — users ranked by integer-cents monetary
    * value, cut into deciles by exact percentile thresholds (q163's
    * ntile-free device — no global-order window), each decile scored by
    * its share of purchase conversions plus the cumulative gain running
    * top-down: the lift/gains chart of campaign targeting and model
    * evaluation, integer ppm end to end.
    */
  def q207DecileGains(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
    val per = e.groupBy("user_id").agg(
      sum(col("cents")).as("monetary_c"),
      sum((col("event_type") === "purchase").cast("long")).as("convs"))
    val tExprs = (1 to 9).map(i => expr(s"percentile(monetary_c, ${i / 10.0})").as(s"t$i"))
    val thresholds = per.agg(tExprs.head, tExprs.tail: _*)
    val bucketed = per.crossJoin(broadcast(thresholds))
      .withColumn("decile",
        (1 to 9).map(i => (col("monetary_c") > col(s"t$i")).cast("int"))
          .reduce(_ + _))
    val tot = bucketed.agg(sum(col("convs")).as("tot_convs"))
    val byDecile = bucketed.groupBy("decile")
      .agg(count(lit(1)).as("n_users"), sum(col("convs")).as("convs"))
    val w = Window.orderBy(col("decile").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byDecile.crossJoin(broadcast(tot))
      .withColumn("conv_share_ppm", expr("(1000000 * convs) div tot_convs"))
      .withColumn("cum_gain_ppm",
        expr("sum((1000000 * convs) div tot_convs)")
          .over(w))
      .select("decile", "n_users", "convs", "conv_share_ppm", "cum_gain_ppm")
  }

  private val q207Oracle =
    """WITH e AS (SELECT user_id, event_type, floor(value * 100)::BIGINT AS cents
      |           FROM events),
      |p AS (SELECT user_id, sum(cents)::BIGINT AS monetary_c,
      |             sum((event_type = 'purchase')::BIGINT)::BIGINT AS convs
      |      FROM e GROUP BY 1),
      |t AS (SELECT quantile_cont(monetary_c, 0.1) AS t1, quantile_cont(monetary_c, 0.2) AS t2,
      |             quantile_cont(monetary_c, 0.3) AS t3, quantile_cont(monetary_c, 0.4) AS t4,
      |             quantile_cont(monetary_c, 0.5) AS t5, quantile_cont(monetary_c, 0.6) AS t6,
      |             quantile_cont(monetary_c, 0.7) AS t7, quantile_cont(monetary_c, 0.8) AS t8,
      |             quantile_cont(monetary_c, 0.9) AS t9 FROM p),
      |bk AS (SELECT user_id, convs,
      |         ((monetary_c > t1)::INT + (monetary_c > t2)::INT + (monetary_c > t3)::INT
      |          + (monetary_c > t4)::INT + (monetary_c > t5)::INT + (monetary_c > t6)::INT
      |          + (monetary_c > t7)::INT + (monetary_c > t8)::INT + (monetary_c > t9)::INT
      |         )::INT AS decile
      |       FROM p CROSS JOIN t),
      |g AS (SELECT sum(convs)::BIGINT AS tot_convs FROM bk),
      |d AS (SELECT decile, count(*)::BIGINT AS n_users, sum(convs)::BIGINT AS convs
      |      FROM bk GROUP BY 1)
      |SELECT decile, n_users, convs,
      |       (1000000 * convs) // tot_convs AS conv_share_ppm,
      |       sum((1000000 * convs) // tot_convs) OVER (ORDER BY decile DESC
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_gain_ppm
      |FROM d CROSS JOIN g""".stripMargin

  /** q208: weekly percentile BANDS per event type — p50/p90 of value by
    * (type, epoch-week): the monitoring band chart that catches
    * distribution shifts a mean line hides. Exact interpolated
    * percentiles (the q66-pinned `percentile` ≡ `quantile_cont`
    * premise) over one (type, week) aggregation.
    */
  def q208WeeklyBands(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("week", tsWeek)
      .groupBy("event_type", "week")
      .agg(count(lit(1)).as("n"),
        expr("percentile(value, 0.5)").as("p50"),
        expr("percentile(value, 0.9)").as("p90"))

  private val q208Oracle =
    """SELECT event_type, epoch_us(ts) // 86400000000 // 7 AS week,
      |       count(*)::BIGINT AS n,
      |       quantile_cont(value, 0.5) AS p50, quantile_cont(value, 0.9) AS p90
      |FROM events GROUP BY 1, 2""".stripMargin

  /** q209: DAU decomposition — per day, NEW users (first-ever activity)
    * vs RETURNING: the first split every growth dashboard draws. The
    * first-day map is one user_id aggregate broadcast-sized relative to
    * the daily stream; counts are distinct-per-day.
    */
  def q209NewReturning(spark: SparkSession, dir: String): DataFrame = {
    val days = events(spark, dir).withColumn("day", tsDay)
      .select("user_id", "day").distinct()
    val first = days.groupBy("user_id").agg(min(col("day")).as("first_day"))
    days.join(first, "user_id")
      .groupBy("day")
      .agg(
        sum((col("day") === col("first_day")).cast("long")).as("new_users"),
        sum((col("day") > col("first_day")).cast("long")).as("returning_users"))
  }

  private val q209Oracle =
    """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |f AS (SELECT user_id, min(day) AS first_day FROM d GROUP BY 1)
      |SELECT day,
      |       sum((day = first_day)::BIGINT)::BIGINT AS new_users,
      |       sum((day > first_day)::BIGINT)::BIGINT AS returning_users
      |FROM d JOIN f USING (user_id) GROUP BY 1""".stripMargin

  /** q210: growth accounting — each active user-day classified NEW
    * (first ever), RESURRECTED (returning after > 14 idle days) or
    * RETAINED (gap ≤ 14), rolled up per day: the standard
    * new/retained/resurrected decomposition of active users (churn is
    * its forward-looking complement). One user_id shuffle; the gap is a
    * lag window over each user's distinct active days.
    */
  def q210GrowthAccounting(spark: SparkSession, dir: String): DataFrame = {
    val byUser = Window.partitionBy("user_id").orderBy(col("day").asc)
    events(spark, dir).withColumn("day", tsDay)
      .select("user_id", "day").distinct()
      .withColumn("prev_day", lag(col("day"), 1).over(byUser))
      .withColumn("state",
        when(col("prev_day").isNull, "new")
          .when(col("day") - col("prev_day") > 14, "resurrected")
          .otherwise("retained"))
      .groupBy("day")
      .agg(
        sum((col("state") === "new").cast("long")).as("n_new"),
        sum((col("state") === "retained").cast("long")).as("n_retained"),
        sum((col("state") === "resurrected").cast("long")).as("n_resurrected"))
  }

  private val q210Oracle =
    """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |l AS (SELECT user_id, day,
      |        lag(day) OVER (PARTITION BY user_id ORDER BY day ASC) AS prev_day
      |      FROM d),
      |s AS (SELECT day,
      |        CASE WHEN prev_day IS NULL THEN 'new'
      |             WHEN day - prev_day > 14 THEN 'resurrected'
      |             ELSE 'retained' END AS state
      |      FROM l)
      |SELECT day,
      |       sum((state = 'new')::BIGINT)::BIGINT AS n_new,
      |       sum((state = 'retained')::BIGINT)::BIGINT AS n_retained,
      |       sum((state = 'resurrected')::BIGINT)::BIGINT AS n_resurrected
      |FROM s GROUP BY 1""".stripMargin

  /** q216: Kaplan-Meier survival over user lifetimes — the churn-analysis
    * estimator. A user's duration is `last_day − first_day`; users still
    * active within 14 days of the observation edge are right-CENSORED
    * (they leave the risk set without counting as churn) — dropping them
    * instead would bias survival low, the classic mistake KM exists to fix.
    * Per distinct duration t: d_t churned, c_t censored, n_t at risk
    * (everyone with duration ≥ t), and S(t) = Π_{t'≤t} (1 − d_t'/n_t'),
    * computed as exp of a running sum of logs (rounded 6 dp on both
    * engines; a saturated risk set maps to −∞ → S = 0 exactly, since
    * Spark's `log(0)` is null but DuckDB's errors).
    *
    * Scale shape: one user_id shuffle to per-user (first, last) — partial
    * aggs do the heavy lifting — then the windowed product runs over
    * |distinct durations| rows (bounded by the observation span in days,
    * not by users), so the unpartitioned window is model-sized.
    */
  def q216KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val d = events(spark, dir).withColumn("day", tsDay)
      .select("user_id", "day").distinct()
    val u = d.groupBy("user_id")
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
    val maxDay = d.agg(max(col("day")).as("max_day"))
    val byDur = u.crossJoin(broadcast(maxDay))
      .select((col("last_day") - col("first_day")).as("dur"),
        (col("max_day") - col("last_day") > 14).cast("long").as("churned"))
      .groupBy("dur")
      .agg(sum(col("churned")).as("n_churned"), count(lit(1)).as("n_total"))
    val asc = Window.orderBy(col("dur").asc)
    byDur
      .withColumn("n_risk", sum(col("n_total")).over(
        asc.rowsBetween(Window.currentRow, Window.unboundedFollowing)))
      .withColumn("term",
        when(col("n_churned") === col("n_risk"), lit(Double.NegativeInfinity))
          .otherwise(log(lit(1.0) -
            col("n_churned").cast("double") / col("n_risk").cast("double"))))
      .withColumn("survival", round(exp(sum(col("term")).over(
        asc.rowsBetween(Window.unboundedPreceding, Window.currentRow))), 6))
      .select(col("dur"), col("n_risk"), col("n_churned"),
        (col("n_total") - col("n_churned")).as("n_censored"), col("survival"))
  }

  private val q216Oracle =
    """WITH d AS (SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |u AS (SELECT user_id, min(day) AS first_day, max(day) AS last_day FROM d GROUP BY 1),
      |m AS (SELECT max(day) AS max_day FROM d),
      |p AS (SELECT last_day - first_day AS dur,
      |             (max_day - last_day > 14)::BIGINT AS churned
      |      FROM u CROSS JOIN m),
      |b AS (SELECT dur, sum(churned)::BIGINT AS n_churned,
      |             count(*)::BIGINT AS n_total FROM p GROUP BY 1),
      |r AS (SELECT dur, n_churned, n_total,
      |             sum(n_total) OVER (ORDER BY dur DESC)::BIGINT AS n_risk FROM b),
      |s AS (SELECT dur, n_risk, n_churned, n_total - n_churned AS n_censored,
      |             sum(CASE WHEN n_churned = n_risk THEN '-infinity'::DOUBLE
      |                      ELSE ln(1 - n_churned / n_risk::DOUBLE) END)
      |               OVER (ORDER BY dur ASC) AS logsum
      |      FROM r)
      |SELECT dur, n_risk, n_churned, n_censored::BIGINT AS n_censored,
      |       round(exp(logsum), 6) AS survival
      |FROM s""".stripMargin

  /** q217: l-diversity audit — q185's k-anonymity complement. k-anonymity
    * only bounds group SIZE; a group of 50 users that all share one
    * sensitive value still leaks it. Per quasi-identifier cell (dow, hour)
    * over distinct user presences: l = number of DISTINCT sensitive values
    * (event_type), flagged when l < 3. Published for every cell (flag
    * column) so the report doubles as the release-gate manifest.
    *
    * Scale shape: one shuffle keyed by the QI cell; distinct-user and
    * distinct-type counts share the Expand-based partial aggregation. The
    * output is |dow × hour| = 168 rows — model-sized regardless of input.
    */
  def q217LDiversity(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("dow", expr("(ts div 1000 div 86400000000) % 7"))
      .withColumn("hour", expr("(ts div 1000 div 3600000000) % 24"))
      .select("user_id", "event_type", "dow", "hour").distinct()
      .groupBy("dow", "hour")
      .agg(countDistinct(col("user_id")).as("n_users"),
        countDistinct(col("event_type")).as("l_diversity"))
      .withColumn("flagged", (col("l_diversity") < 3).cast("long"))

  private val q217Oracle =
    """WITH d AS (SELECT DISTINCT user_id, event_type,
      |                  epoch_us(ts) // 86400000000 % 7 AS dow,
      |                  epoch_us(ts) // 3600000000 % 24 AS hour
      |           FROM events)
      |SELECT dow, hour, count(DISTINCT user_id)::BIGINT AS n_users,
      |       count(DISTINCT event_type)::BIGINT AS l_diversity,
      |       (count(DISTINCT event_type) < 3)::BIGINT AS flagged
      |FROM d GROUP BY 1, 2""".stripMargin

  /** q220: position-based (U-shaped) multi-touch attribution — 40 % first
    * touch, 40 % last touch, 20 % split evenly across middle touches; a
    * 1- or 2-touch journey splits evenly. Completes the attribution family
    * (q115 last-touch, q183 linear). Credit is integer basis points
    * summed per channel (event_type), so the division is exact: middle
    * touches get `2000 div (n−2)` bp each with the integer remainder
    * assigned to the LAST middle touch — both engines agree bit-for-bit.
    *
    * Scale shape: one user_id shuffle for the per-journey window
    * (row_number + count over user), then a map-side-combining rollup to
    * |event_type| rows. No driver-side state.
    */
  def q220PositionAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    events(spark, dir)
      .select("user_id", "event_type", "ts", "event_id")
      .withColumn("pos", row_number().over(w))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("user_id")))
      .withColumn("credit_bp",
        when(col("n") === 1, lit(10000L))
          .when(col("n") === 2, lit(5000L))
          .when(col("pos") === 1 || col("pos") === col("n"), lit(4000L))
          .when(col("pos") === col("n") - 1,
            expr("2000 div (n - 2) + 2000 % (n - 2)"))
          .otherwise(expr("2000 div (n - 2)")))
      .groupBy("event_type")
      .agg(sum(col("credit_bp")).as("total_credit_bp"),
        count(lit(1)).as("n_touches"))

  }

  private val q220Oracle =
    """WITH j AS (SELECT user_id, event_type,
      |             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS pos,
      |             count(*) OVER (PARTITION BY user_id) AS n
      |           FROM events),
      |c AS (SELECT event_type,
      |        CASE WHEN n = 1 THEN 10000
      |             WHEN n = 2 THEN 5000
      |             WHEN pos = 1 OR pos = n THEN 4000
      |             WHEN pos = n - 1 THEN 2000 // (n - 2) + 2000 % (n - 2)
      |             ELSE 2000 // (n - 2) END AS credit_bp
      |      FROM j)
      |SELECT event_type, sum(credit_bp)::BIGINT AS total_credit_bp,
      |       count(*)::BIGINT AS n_touches
      |FROM c GROUP BY 1""".stripMargin

  /** q222: ordered-pair sequence support — for every ordered event-type
    * pair (a, b), a ≠ b, how many users ever did a BEFORE b (not
    * necessarily adjacently): the directional sibling of q165's
    * co-occurrence basket and the support table sequence-mining starts
    * from. Containment of a→b reduces to `first_ts(a) < last_ts(b)`, so
    * the whole query is one user_id-keyed aggregate to |users|×|types|
    * (first/last per type) and a types×types comparison per user — never a
    * pairwise event join. Support is also published as ppm of all users.
    *
    * Scale shape: one shuffle to the per-(user, type) envelope; the pair
    * table is |types|² per user (types is a model-sized domain); the final
    * rollup is map-side combined. The user-count anchor is a 1-row
    * broadcast.
    */
  def q222SequenceSupport(spark: SparkSession, dir: String): DataFrame = {
    val env = events(spark, dir)
      .withColumn("us", tsUs)
      .groupBy("user_id", "event_type")
      .agg(min(col("us")).as("first_us"), max(col("us")).as("last_us"))
    val a = env.select(col("user_id"), col("event_type").as("type_a"),
      col("first_us"))
    val b = env.select(col("user_id").as("uid_b"), col("event_type").as("type_b"),
      col("last_us"))
    val nUsers = events(spark, dir).agg(countDistinct(col("user_id")).as("n_users"))
    a.join(b, col("user_id") === col("uid_b") && col("type_a") =!= col("type_b"))
      .filter(col("first_us") < col("last_us"))
      .groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("support"))
      .crossJoin(broadcast(nUsers))
      .select(col("type_a"), col("type_b"), col("support"),
        expr("(1000000 * support) div n_users").as("support_ppm"))
  }

  private val q222Oracle =
    """WITH env AS (SELECT user_id, event_type,
      |               min(epoch_us(ts)) AS first_us, max(epoch_us(ts)) AS last_us
      |             FROM events GROUP BY 1, 2),
      |n AS (SELECT count(DISTINCT user_id)::BIGINT AS n_users FROM events),
      |s AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
      |             count(*)::BIGINT AS support
      |      FROM env a JOIN env b
      |        ON a.user_id = b.user_id AND a.event_type <> b.event_type
      |      WHERE a.first_us < b.last_us
      |      GROUP BY 1, 2)
      |SELECT type_a, type_b, support, (1000000 * support) // n_users AS support_ppm
      |FROM s CROSS JOIN n""".stripMargin

  /** q231: feature hashing (the "hashing trick") — event types hashed into
    * a fixed 64-bucket signed feature space per user: idx = md5-hash mod
    * 64, sign = the next hash bit, weight = floor-cents of `value`
    * (integer — float weights would be summation-order-comparable). The
    * categorical-encoding primitive that needs NO vocabulary pass: at
    * 100 TB a new event type never forces a dictionary rebuild, and the
    * output width is fixed no matter how the domain grows. Collisions are
    * the accepted trade (the sign bit makes them cancel in expectation) —
    * with 5 types in 64 buckets there are none here.
    *
    * Scale shape: one shuffle keyed (user, idx) with map-side combine; the
    * hash is the same codegen'd md5-prefix arithmetic as the dedup ladder.
    */
  def q231FeatureHash(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .withColumn("h",
        expr("cast(conv(substring(md5(event_type), 1, 15), 16, 10) AS bigint)"))
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy(col("user_id"), expr("h % 64").as("idx"))
      .agg(sum(expr("(2 * ((h div 64) % 2) - 1) * cents")).as("val_cents"),
        count(lit(1)).as("n"))

  private val q231Oracle =
    """WITH f AS (SELECT user_id,
      |             ('0x' || substr(md5(event_type), 1, 15))::BIGINT AS h,
      |             floor(value * 100)::BIGINT AS cents
      |           FROM events)
      |SELECT user_id, h % 64 AS idx,
      |       sum((2 * ((h // 64) % 2) - 1) * cents)::BIGINT AS val_cents,
      |       count(*)::BIGINT AS n
      |FROM f GROUP BY 1, 2""".stripMargin

  /** q232: leave-one-out target encoding — each event's categorical
    * `event_type` replaced by the mean target (floor-cents of `value`)
    * over all OTHER events of that type: `(Σ − own) div (n − 1)`,
    * integer-exact. The LOO form is the leakage-safe variant (plain
    * target encoding lets a row see its own label — the classic
    * train-time leak this operator exists to prevent).
    *
    * Scale shape: one |types|-row aggregate broadcast back over the
    * stream — per-row arithmetic only, no second shuffle.
    */
  def q232TargetEncoding(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
    val stats = e.groupBy("event_type")
      .agg(sum(col("cents")).as("sum_cents"), count(lit(1)).as("n"))
    e.join(broadcast(stats), "event_type")
      .select(col("event_id"), col("event_type"),
        expr("(sum_cents - cents) div (n - 1)").as("loo_cents"))
  }

  private val q232Oracle =
    """WITH e AS (SELECT event_id, event_type, floor(value * 100)::BIGINT AS cents
      |           FROM events),
      |s AS (SELECT event_type, sum(cents)::BIGINT AS sum_cents,
      |             count(*)::BIGINT AS n
      |      FROM e GROUP BY 1)
      |SELECT event_id, event_type, (sum_cents - cents) // (n - 1) AS loo_cents
      |FROM e JOIN s USING (event_type)""".stripMargin

  /** q239: chi-square test of independence for event_type × day-of-week,
    * with Cramér's V — "is WHAT users do associated with WHEN they do
    * it?", the categorical-association screen next to q142's two-sample
    * z-test and q108's numeric correlation. Fully integer by clearing
    * denominators: per cell, `(o·N − r·c)²` over `r·c` (each term
    * ×1000, floored — the documented contract) sums to a milli-scaled
    * χ², and V² = χ²/(N·min(R−1, C−1)) is published in ppm. No float can
    * flip a digit on either engine.
    *
    * Scale shape: one (type, dow) aggregation with map-side combine;
    * margins and N re-aggregate the |types|×7 cell table (model-sized)
    * and broadcast back.
    */
  def q239Chi2Independence(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .withColumn("dow", expr("(ts div 1000 div 86400000000) % 7"))
      .groupBy("event_type", "dow").agg(count(lit(1)).as("o"))
    val rowTot = cells.groupBy("event_type").agg(sum(col("o")).as("r"))
    val colTot = cells.groupBy("dow").agg(sum(col("o")).as("c"))
    val n = cells.agg(sum(col("o")).as("n"),
      countDistinct(col("event_type")).as("nr"), countDistinct(col("dow")).as("nc"))
    cells
      .join(broadcast(rowTot), "event_type")
      .join(broadcast(colTot), "dow")
      .crossJoin(broadcast(n))
      .withColumn("term",
        expr("(1000 * (o * n - r * c) * (o * n - r * c)) div (r * c * n)"))
      .agg(first(col("n")).as("n"),
        ((first(col("nr")) - 1) * (first(col("nc")) - 1)).as("df"),
        least(first(col("nr")) - 1, first(col("nc")) - 1).as("mindim"),
        sum(col("term")).as("chi2_milli"))
      .select(col("n"), col("df"), col("chi2_milli"),
        expr("(1000 * chi2_milli) div (n * mindim)").as("v2_ppm"))
  }

  private val q239Oracle =
    """WITH cells AS (SELECT event_type,
      |                epoch_us(ts) // 86400000000 % 7 AS dow,
      |                count(*)::BIGINT AS o
      |              FROM events GROUP BY 1, 2),
      |r AS (SELECT event_type, sum(o)::BIGINT AS r FROM cells GROUP BY 1),
      |c AS (SELECT dow, sum(o)::BIGINT AS c FROM cells GROUP BY 1),
      |t AS (SELECT sum(o)::BIGINT AS n,
      |             count(DISTINCT event_type)::BIGINT AS nr,
      |             count(DISTINCT dow)::BIGINT AS nc FROM cells),
      |s AS (SELECT n, (nr - 1) * (nc - 1) AS df, least(nr - 1, nc - 1) AS mindim,
      |        sum((1000 * (o * n - r.r * c.c) * (o * n - r.r * c.c))
      |            // (r.r * c.c * n))::BIGINT AS chi2_milli
      |      FROM cells JOIN r USING (event_type) JOIN c USING (dow) CROSS JOIN t
      |      GROUP BY 1, 2, 3)
      |SELECT n, df, chi2_milli, (1000 * chi2_milli) // (n * mindim) AS v2_ppm
      |FROM s""".stripMargin

  /** q240: Gini split gain — how much a weekday/weekend split purifies the
    * event-type distribution: the decision-tree split criterion evaluated
    * as a data-prep screen (pairs with q232's target encoding; q239
    * answers "associated at all?", this answers "how much does ONE split
    * buy?"). Gini impurity `1 − Σ(cₜ/n)²` is published in floor-ppm via
    * integer arithmetic — `10⁶ − (10⁶·Σcₜ²) div n²`, one floor per node
    * (the documented contract), and the gain subtracts the size-weighted
    * child impurities, every product cleared of denominators.
    *
    * Scale shape: one (side, type) aggregation with map-side combine; the
    * 2×|types| cell table re-aggregates to one row.
    */
  def q240GiniSplit(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .withColumn("side",
        (expr("(ts div 1000 div 86400000000) % 7") <= 3).cast("long"))
      .groupBy("side", "event_type").agg(count(lit(1)).as("c"))
    val bySide = cells.groupBy("side")
      .agg(sum(col("c")).as("n"),
        sum(expr("c * c")).as("ss"))
      .withColumn("gini_ppm",
        lit(1000000L) - expr("(1000000 * ss) div (n * n)"))
    val parent = cells.groupBy("event_type").agg(sum(col("c")).as("ct"))
      .agg(sum(col("ct")).as("n_all"), sum(expr("ct * ct")).as("ss_all"))
      .withColumn("gini_parent_ppm",
        lit(1000000L) - expr("(1000000 * ss_all) div (n_all * n_all)"))
    val sides = bySide
      .groupBy()
      .pivot("side", Seq(0L, 1L))
      .agg(first(col("n")).as("n"), first(col("gini_ppm")).as("gini_ppm"))
      .toDF("n_r", "gini_r_ppm", "n_l", "gini_l_ppm")
    sides.crossJoin(broadcast(parent))
      .select(col("n_all"), col("gini_parent_ppm"),
        col("n_l"), col("gini_l_ppm"), col("n_r"), col("gini_r_ppm"),
        (col("gini_parent_ppm") -
          expr("(n_l * gini_l_ppm + n_r * gini_r_ppm) div n_all")).as("gain_ppm"))
  }

  private val q240Oracle =
    """WITH cells AS (SELECT (epoch_us(ts) // 86400000000 % 7 <= 3)::BIGINT AS side,
      |                event_type, count(*)::BIGINT AS c
      |              FROM events GROUP BY 1, 2),
      |bs AS (SELECT side, sum(c)::BIGINT AS n,
      |         1000000 - (1000000 * sum(c * c)) // (sum(c) * sum(c)) AS gini_ppm
      |       FROM cells GROUP BY 1),
      |p AS (SELECT sum(ct)::BIGINT AS n_all,
      |        1000000 - (1000000 * sum(ct * ct)) // (sum(ct) * sum(ct)) AS gini_parent_ppm
      |      FROM (SELECT event_type, sum(c)::BIGINT AS ct FROM cells GROUP BY 1)),
      |w AS (SELECT
      |        (SELECT n FROM bs WHERE side = 1) AS n_l,
      |        (SELECT gini_ppm FROM bs WHERE side = 1) AS gini_l_ppm,
      |        (SELECT n FROM bs WHERE side = 0) AS n_r,
      |        (SELECT gini_ppm FROM bs WHERE side = 0) AS gini_r_ppm)
      |SELECT n_all, gini_parent_ppm::BIGINT AS gini_parent_ppm,
      |       n_l, gini_l_ppm::BIGINT AS gini_l_ppm, n_r, gini_r_ppm::BIGINT AS gini_r_ppm,
      |       (gini_parent_ppm
      |         - (n_l * gini_l_ppm + n_r * gini_r_ppm) // n_all)::BIGINT AS gain_ppm
      |FROM w CROSS JOIN p""".stripMargin

  /** q256: exact Mann-Whitney U rank-sum test between the 'click' and
    * 'purchase' value samples — the NONPARAMETRIC two-sample location test
    * next to q125's z-test (which assumes a mean/variance model) and
    * q237's KS (which compares whole CDFs): U asks "how often does a
    * random click value beat a random purchase value". Tie handling is the
    * textbook average-rank rule made integer: a value with `t` ties and
    * `B` items below it has average rank `B + (t+1)/2`, so DOUBLED ranks
    * `2B + t + 1` stay BIGINT — the published statistics are 2·U₁ and
    * 2·U₂ (their sum must be 2·n₁·n₂, a built-in self-check).
    *
    * Scale shape: the value-HISTOGRAM contraction (q189/q237's
    * discipline) — one shuffle to |distinct cents| rows, and the
    * single-partition running-sum window runs over that contraction, never
    * over raw events. The final aggregate is 1 row.
    */
  def q256MannWhitney(spark: SparkSession, dir: String): DataFrame = {
    val h = events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("cents")
      .agg(sum((col("event_type") === "click").cast("long")).as("c1"),
        sum((col("event_type") === "purchase").cast("long")).as("c2"))
    val w = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    h.withColumn("below", coalesce(sum(col("c1") + col("c2")).over(w), lit(0L)))
      .agg(sum("c1").as("n1"), sum("c2").as("n2"),
        sum(col("c1") * (col("below") * 2 + col("c1") + col("c2") + 1)).as("two_r1"))
      .select(col("n1"), col("n2"),
        (col("two_r1") - col("n1") * (col("n1") + 1)).as("u1_x2"),
        (col("n1") * col("n2") * 2
          - (col("two_r1") - col("n1") * (col("n1") + 1))).as("u2_x2"))
  }

  private val q256Oracle =
    """WITH h AS (
      |  SELECT floor(value * 100)::BIGINT AS cents,
      |         sum((event_type = 'click')::BIGINT)::BIGINT AS c1,
      |         sum((event_type = 'purchase')::BIGINT)::BIGINT AS c2
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
      |b AS (
      |  SELECT c1, c2,
      |         coalesce(sum(c1 + c2) OVER (ORDER BY cents
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS below
      |  FROM h),
      |a AS (SELECT sum(c1)::BIGINT AS n1, sum(c2)::BIGINT AS n2,
      |             sum(c1 * (below * 2 + c1 + c2 + 1))::BIGINT AS two_r1
      |      FROM b)
      |SELECT n1, n2,
      |       (two_r1 - n1 * (n1 + 1))::BIGINT AS u1_x2,
      |       (n1 * n2 * 2 - (two_r1 - n1 * (n1 + 1)))::BIGINT AS u2_x2
      |FROM a""".stripMargin

  /** q257: integer exponentially-weighted trailing average — each user's
    * prediction-time EMA feature over their last 8 events (weights
    * 2⁷…2⁰, most recent heaviest), computed as `Σvᵢ·2^(7-i) div
    * Σ2^(7-i)` so partial histories (< 8 events) renormalize over the
    * weights actually present and everything stays BIGINT — the float
    * recurrence `α·v + (1−α)·ema` accumulates ulps and can't hash-gate.
    * The per-user FINAL value ships (q200's prediction-time framing).
    *
    * Scale shape: one user_id shuffle; the 8 lags, the forward row_number
    * and the last-row pick all ride the SAME partition ordering (one sort,
    * reversed rank via count-over-partition, no second exchange). State
    * per row is 8 lag slots — constant.
    */
  def q257EmaFeature(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(tsUs.asc, col("event_id").asc)
    val base = events(spark, dir)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
    val lagged = (1 to 7).foldLeft(base.withColumn("v0", col("cents"))) {
      (df, i) => df.withColumn(s"v$i", lag(col("cents"), i).over(w))
    }
    val num = (0 to 7).map(i => coalesce(col(s"v$i"), lit(0L)) * lit(1L << (7 - i)))
      .reduce(_ + _)
    val den = (0 to 7).map(i => col(s"v$i").isNotNull.cast("long") * lit(1L << (7 - i)))
      .reduce(_ + _)
    lagged
      .withColumn("rn", row_number().over(w))
      .withColumn("n_events", count(lit(1)).over(Window.partitionBy("user_id")))
      .withColumn("num", num).withColumn("den", den)
      .filter(col("rn") === col("n_events"))
      .select(col("user_id"), col("n_events"),
        expr("num div den").as("ema_cents"))
  }

  private val q257Oracle = {
    val lags = (1 to 7).map(i => s"lag(cents, $i) OVER w AS v$i").mkString(",\n      |         ")
    val num = "cents * 128 + " +
      (1 to 7).map(i => s"coalesce(v$i, 0) * ${1L << (7 - i)}").mkString(" + ")
    val den = "128 + " +
      (1 to 7).map(i => s"(v$i IS NOT NULL)::BIGINT * ${1L << (7 - i)}").mkString(" + ")
    s"""WITH e AS (
       |  SELECT user_id, event_id, epoch_us(ts) AS us,
       |         floor(value * 100)::BIGINT AS cents
       |  FROM events),
       |l AS (
       |  SELECT user_id, event_id, us, cents,
       |         $lags,
       |         row_number() OVER w AS rn,
       |         count(*) OVER (PARTITION BY user_id) AS n
       |  FROM e WINDOW w AS (PARTITION BY user_id ORDER BY us, event_id))
       |SELECT user_id, n::BIGINT AS n_events,
       |       (($num) // ($den))::BIGINT AS ema_cents
       |FROM l WHERE rn = n""".stripMargin
  }

  /** q258: median/MAD anomaly screen — per event type, the exact LOWER
    * median of cents, the lower median absolute deviation from it, and
    * how many events sit beyond 3×MAD: the robust outlier gate (mean/σ —
    * q128's z-score discipline — moves with the outliers it's hunting;
    * the median pair doesn't). "Lower median" (smallest value whose
    * cumulative count reaches ⌈n/2⌉) keeps every statistic an ACTUAL
    * data value, integer-exact on both engines — no midpoint float.
    *
    * Scale shape: both median passes use the value-histogram contraction
    * (q189's): shuffle to |type × distinct-value| rows, per-type
    * running-sum window over the contraction, min over qualifiers. The
    * medians broadcast back as model-sized maps (≤ |types| rows); the
    * final count is one more pass over the same type-keyed exchange.
    */
  def q258MadAnomalies(spark: SparkSession, dir: String): DataFrame = {
    def lowerMedian(df: DataFrame, valCol: String, out: String): DataFrame = {
      val h = df.groupBy(col("event_type"), col(valCol).as("v"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy("event_type").orderBy(col("v"))
        .rowsBetween(Window.unboundedPreceding, 0)
      h.withColumn("cum", sum("cnt").over(wc))
        .withColumn("n", sum("cnt").over(Window.partitionBy("event_type")))
        .filter(col("cum") >= expr("(n + 1) div 2"))
        .groupBy("event_type").agg(min("v").as(out))
    }
    val base = events(spark, dir)
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("cents"))
    val med = lowerMedian(base, "cents", "med_cents")
    val devs = base.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("cents") - col("med_cents")))
    val mad = lowerMedian(devs, "dev", "mad_cents")
    devs.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(max("med_cents").as("med_cents"), max("mad_cents").as("mad_cents"),
        sum((col("dev") > col("mad_cents") * 3).cast("long")).as("n_anomalies"))
  }

  private val q258Oracle =
    """WITH base AS (
      |  SELECT event_type, floor(value * 100)::BIGINT AS cents FROM events),
      |h1 AS (SELECT event_type, cents AS v, count(*)::BIGINT AS cnt
      |       FROM base GROUP BY 1, 2),
      |c1 AS (SELECT event_type, v,
      |         sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sum(cnt) OVER (PARTITION BY event_type) AS n
      |       FROM h1),
      |med AS (SELECT event_type, min(v)::BIGINT AS med_cents
      |        FROM c1 WHERE cum >= (n + 1) // 2 GROUP BY 1),
      |d AS (SELECT base.event_type, med_cents,
      |             abs(cents - med_cents)::BIGINT AS dev
      |      FROM base JOIN med USING (event_type)),
      |h2 AS (SELECT event_type, dev AS v, count(*)::BIGINT AS cnt
      |       FROM d GROUP BY 1, 2),
      |c2 AS (SELECT event_type, v,
      |         sum(cnt) OVER (PARTITION BY event_type ORDER BY v
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |         sum(cnt) OVER (PARTITION BY event_type) AS n
      |       FROM h2),
      |mad AS (SELECT event_type, min(v)::BIGINT AS mad_cents
      |        FROM c2 WHERE cum >= (n + 1) // 2 GROUP BY 1)
      |SELECT event_type, max(med_cents)::BIGINT AS med_cents,
      |       max(mad_cents)::BIGINT AS mad_cents,
      |       sum((dev > mad_cents * 3)::BIGINT)::BIGINT AS n_anomalies
      |FROM d JOIN mad USING (event_type)
      |GROUP BY 1""".stripMargin

  /** q264: peak session concurrency per day — the SWEEP-LINE interval
    * aggregation: q12's gap-sessions become (+1 at start, −1 at end)
    * boundary events, globally ordered (time, starts-before-ends,
    * user tie-break); the running sum at each boundary is the number of
    * concurrently open sessions, and the per-day max is the capacity
    * number a serving fleet is provisioned for. Two engines can disagree
    * on tie PERMUTATION inside an equal-(time, delta) group, but the
    * prefix-sum VALUES inside such a group form the same monotone set
    * either way, so the max is order-insensitive — the statistic is
    * hash-exact even where per-row attribution isn't.
    *
    * Semantics note: the day max is over concurrency AT BOUNDARY INSTANTS
    * of that day (a session spanning a whole day with no boundary that
    * day contributes to its boundary days' maxima) — the standard
    * event-driven reading, identical on both engines.
    *
    * Scale shape: one user_id shuffle for sessionization, then the
    * boundary stream contracts to 2·|sessions| rows; the global running
    * sum over that contraction is [[RangeRank.prefix]] — two-pass
    * range-partitioned, ROWS-frame-exact, never a single-partition
    * window — and the day rollup shuffles |days| rows.
    */
  def q264PeakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("ts_us", tsUs)
    val wu = Window.partitionBy("user_id").orderBy(col("ts_us").asc, col("event_id").asc)
    val sessions = e
      .withColumn("prev", lag(col("ts_us"), 1).over(wu))
      .withColumn("brk",
        (col("prev").isNull || col("ts_us") - col("prev") > SessionGapUs).cast("long"))
      .withColumn("session_id", sum(col("brk")).over(
        wu.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "session_id")
      .agg(min(col("ts_us")).as("st"), max(col("ts_us")).as("en"))
    val bounds = sessions
      .select(col("user_id"), col("st").as("t"), lit(1L).as("delta"))
      .unionByName(sessions
        .select(col("user_id"), col("en").as("t"), lit(-1L).as("delta")))
    RangeRank.prefix(bounds,
        Seq(col("t").asc, col("delta").desc, col("user_id").asc),
        col("delta"), "open")
      .groupBy(expr("t div 86400000000").as("day"))
      .agg(max(col("open")).as("peak_concurrency"))
  }

  private val q264Oracle =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
       |l AS (SELECT user_id, event_id, tsu,
       |        lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC) AS prev
       |      FROM e),
       |f AS (SELECT user_id, tsu, event_id,
       |        CASE WHEN prev IS NULL OR tsu - prev > ${SessionGapUs} THEN 1 ELSE 0 END AS brk
       |      FROM l),
       |s AS (SELECT user_id, tsu,
       |        sum(brk) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |      FROM f),
       |sess AS (SELECT user_id, sid, min(tsu) AS st, max(tsu) AS en
       |         FROM s GROUP BY 1, 2),
       |b AS (SELECT user_id, st AS t, 1 AS delta FROM sess
       |      UNION ALL SELECT user_id, en, -1 FROM sess),
       |r AS (SELECT t,
       |        sum(delta) OVER (ORDER BY t ASC, delta DESC, user_id ASC
       |                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS open
       |      FROM b)
       |SELECT t // 86400000000 AS day, max(open)::BIGINT AS peak_concurrency
       |FROM r GROUP BY 1""".stripMargin

  /** q266: RFM segmentation — every user scored 1–5 on Recency (days since
    * last event vs the corpus's last day), Frequency (event count) and
    * Monetary (cents sum) by EXACT quintile thresholds, then rolled into
    * the classic `r·100 + f·10 + m` segment with counts. Thresholds are
    * ntile-free (q207's discipline — ntile's tie placement is
    * engine-defined): thr(s) = smallest value whose cumulative user count
    * reaches ⌈n·s/5⌉, and a user's score is the smallest s with value ≤
    * thr(s) — ties land identically on both engines by construction.
    *
    * Scale shape: one user_id contraction for the three measures; each
    * threshold chain is a histogram contraction over |distinct measure
    * values| with a 5-row broadcast back; the segment rollup is ≤ 125
    * rows. The global last-day anchor is a 1-row broadcast. The monetary
    * histogram's value domain is per-user SUMS — |users|-scale, not a
    * bounded price grid — so the cumulative count rides
    * [[graft.ext.RangeRank.prefix]] (two-pass range-partitioned, r11)
    * and the user total is read off the checkpointed cumsum's max,
    * never a single-partition window.
    */
  def q266RfmSegments(spark: SparkSession, dir: String): DataFrame = {
    def scores(vals: DataFrame, valCol: String, out: String): DataFrame = {
      val h = vals.groupBy(col(valCol).as("v")).agg(count(lit(1)).as("cnt"))
      val cum = RangeRank.prefix(h, Seq(col("v").asc), col("cnt"), "cum")
      val thr = cum
        .crossJoin(broadcast(cum.agg(max(col("cum")).as("n"))))
        .crossJoin(broadcast(spark.range(1, 6).select(col("id").as("s"))))
        .filter(col("cum") * 5 >= col("n") * col("s"))
        .groupBy("s").agg(min(col("v")).as("thr"))
      vals.join(broadcast(thr), col(valCol) <= col("thr"))
        .groupBy("user_id").agg(min(col("s")).as(out))
    }
    val anchor = events(spark, dir).agg(max(tsDay).as("last_day"))
    val perUser = events(spark, dir)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("user_id")
      .agg(max(tsDay).as("user_last"), count(lit(1)).as("freq"),
        sum(col("cents")).as("monetary"))
      .crossJoin(broadcast(anchor))
      .withColumn("recency", col("last_day") - col("user_last"))
      // |users|-sized contraction read FOUR times (the segment join chain +
      // each scores() histogram) — left lazy, every read re-ran the
      // events-scale aggregation (r15; the q366/triangleCounts shared-
      // subtree rule). One materialization of the small contraction.
      .localCheckpoint()
    perUser
      .join(scores(perUser.select("user_id", "recency"), "recency", "r"), "user_id")
      .join(scores(perUser.select("user_id", "freq"), "freq", "f"), "user_id")
      .join(scores(perUser.select("user_id", "monetary"), "monetary", "m"), "user_id")
      .groupBy((col("r") * 100 + col("f") * 10 + col("m")).as("segment"))
      .agg(count(lit(1)).as("n_users"))
  }

  private val q266Oracle = {
    def chain(src: String, valCol: String, out: String): String =
      s"""${out}_h AS (SELECT $valCol AS v, count(*)::BIGINT AS cnt FROM $src GROUP BY 1),
         |${out}_c AS (SELECT v,
         |    sum(cnt) OVER (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
         |    sum(cnt) OVER () AS n FROM ${out}_h),
         |${out}_t AS (SELECT s, min(v) AS thr
         |  FROM ${out}_c CROSS JOIN (SELECT unnest(generate_series(1, 5)) AS s)
         |  WHERE cum * 5 >= n * s GROUP BY 1),
         |${out}_s AS (SELECT user_id, min(s)::BIGINT AS $out
         |  FROM $src JOIN ${out}_t ON $valCol <= thr GROUP BY 1)""".stripMargin
    s"""WITH pu AS (
       |  SELECT user_id,
       |         (SELECT max(epoch_us(ts) // 86400000000) FROM events)
       |           - max(epoch_us(ts) // 86400000000) AS recency,
       |         count(*)::BIGINT AS freq,
       |         sum(floor(value * 100)::BIGINT)::BIGINT AS monetary
       |  FROM events GROUP BY 1),
       |${chain("pu", "recency", "r")},
       |${chain("pu", "freq", "f")},
       |${chain("pu", "monetary", "m")}
       |SELECT (r * 100 + f * 10 + m)::BIGINT AS segment, count(*)::BIGINT AS n_users
       |FROM r_s JOIN f_s USING (user_id) JOIN m_s USING (user_id)
       |GROUP BY 1""".stripMargin
  }

  /** q278: time-to-convert percentiles — per converting user the lag from
    * FIRST signup to the first purchase at-or-after it, then the exact
    * lower median and lower p90 of those lags (rank ⌈q·n⌉ via the
    * value-histogram contraction, q258's discipline — a funnel's
    * "how long does conversion take" companion to q13's "does it happen").
    * Both percentile picks fold into ONE aggregate over the cumulated
    * histogram — no second pass. The lag domain is per-user µs
    * differences — |users|-scale, not a bounded grid — so the cumulation
    * is [[RangeRank.prefix]] (two-pass range-partitioned, r11) with the
    * total read off the checkpointed cumsum's max.
    */
  def q278ConvertLag(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("tsu", tsUs)
    val s0 = e.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("tsu")).as("s0"))
    val lags = e.filter(col("event_type") === "purchase")
      .select("user_id", "tsu")
      .join(s0, "user_id")
      .filter(col("tsu") >= col("s0"))
      .groupBy("user_id").agg(min(col("tsu") - col("s0")).as("lag"))
    val h = lags.groupBy("lag").agg(count(lit(1)).as("cnt"))
    val cum = RangeRank.prefix(h, Seq(col("lag").asc), col("cnt"), "cum")
    cum
      .crossJoin(broadcast(cum.agg(max(col("cum")).as("n"))))
      .agg(max(col("n")).as("n_converted"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("lag"))).as("med_lag_us"),
        min(when(col("cum") * 10 >= col("n") * 9, col("lag"))).as("p90_lag_us"))
  }

  private val q278Oracle =
    """WITH e AS (SELECT user_id, event_type, epoch_us(ts) AS tsu FROM events),
      |s0 AS (SELECT user_id, min(tsu) AS s0 FROM e WHERE event_type = 'signup' GROUP BY 1),
      |lags AS (
      |  SELECT e.user_id, min(tsu - s0)::BIGINT AS lag
      |  FROM e JOIN s0 USING (user_id)
      |  WHERE event_type = 'purchase' AND tsu >= s0
      |  GROUP BY 1),
      |h AS (SELECT lag, count(*)::BIGINT AS cnt FROM lags GROUP BY 1),
      |c AS (SELECT lag,
      |        sum(cnt) OVER (ORDER BY lag ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
      |        sum(cnt) OVER () AS n
      |      FROM h)
      |SELECT max(n)::BIGINT AS n_converted,
      |       min(CASE WHEN cum >= (n + 1) // 2 THEN lag END)::BIGINT AS med_lag_us,
      |       min(CASE WHEN cum * 10 >= n * 9 THEN lag END)::BIGINT AS p90_lag_us
      |FROM c""".stripMargin

  /** q279: dwell time per event type — the gap to the user's NEXT event
    * (any type), averaged per the CURRENT event's type in integer
    * microseconds (`Σgap div n`): how long users linger after each kind of
    * action, the per-step engagement feature between q12's session bounds
    * and q186's arrival lags. Last events per user have no successor and
    * are excluded — stated, not imputed.
    *
    * Scale shape: one user_id shuffle; the lead window rides the same
    * sort as every per-user sequence query; the rollup is |types| rows.
    */
  def q279DwellTime(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsu").asc, col("event_id").asc)
    events(spark, dir).withColumn("tsu", tsUs)
      .withColumn("nxt", lead(col("tsu"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dwell", col("nxt") - col("tsu"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("dwell")).as("dwell_sum_us"))
      .withColumn("mean_dwell_us", expr("dwell_sum_us div n"))
  }

  private val q279Oracle =
    """WITH e AS (SELECT event_id, user_id, event_type, epoch_us(ts) AS tsu FROM events),
      |l AS (SELECT event_type, tsu,
      |        lead(tsu) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC) AS nxt
      |      FROM e)
      |SELECT event_type, count(*)::BIGINT AS n,
      |       sum(nxt - tsu)::BIGINT AS dwell_sum_us,
      |       (sum(nxt - tsu) // count(*))::BIGINT AS mean_dwell_us
      |FROM l WHERE nxt IS NOT NULL
      |GROUP BY 1""".stripMargin

  /** q280: per-user activity BITMAP — each user's 30-day presence packed
    * into one BIGINT via `bit_or(1 << day_offset)` (the roaring-bitmap
    * idea at word scale: engagement history as a single machine word), plus
    * `bit_count` active days. Downstream pattern queries (weekday-only
    * users, burst-then-churn shapes) become bitwise ANDs against constant
    * masks — no re-scan of events. The day offset anchors to the corpus
    * min day (1-row broadcast), and the 29-day span is asserted < 64 by
    * the filter, loudly dropping nothing here.
    *
    * Scale shape: one user_id shuffle with map-side `bit_or` partials —
    * the aggregate state per user is ONE long, the cheapest possible
    * engagement-history representation.
    */
  def q280ActivityBitmap(spark: SparkSession, dir: String): DataFrame = {
    val anchor = events(spark, dir).agg(min(tsDay).as("day0"))
    events(spark, dir)
      .select(col("user_id"), tsDay.as("day"))
      .crossJoin(broadcast(anchor))
      .withColumn("off", col("day") - col("day0"))
      .filter(col("off") >= 0 && col("off") < 64)
      .groupBy("user_id")
      .agg(expr("bit_or(shiftleft(1L, cast(off AS int)))").as("mask"))
      .withColumn("n_active_days", expr("bit_count(mask)").cast("long"))
  }

  private val q280Oracle =
    """WITH d AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day FROM events),
      |a AS (SELECT min(day) AS day0 FROM d)
      |SELECT user_id,
      |       bit_or(1::BIGINT << (day - day0)::INT)::BIGINT AS mask,
      |       bit_count(bit_or(1::BIGINT << (day - day0)::INT))::BIGINT AS n_active_days
      |FROM d CROSS JOIN a
      |WHERE day - day0 >= 0 AND day - day0 < 64
      |GROUP BY 1""".stripMargin

  /** q284: Spearman rank correlation between the daily click and purchase
    * volumes — "do busy click days line up with busy purchase days", the
    * nonparametric trend-coupling statistic. Pearson on raw values cannot
    * clear its denominators inside 64 bits (the squared moment products
    * overflow), but Spearman on a tie-free rank PERMUTATION is exactly
    * `ρ_ppm = 10⁶ − (6·Σd²·10⁶) div (n·(n²−1))` — BIGINT end to end. Ranks
    * are made a permutation by the deterministic (volume, day) tie-break,
    * stated in the contract, so the d² formula is exact by construction.
    *
    * Scale shape: the |days|-row contraction carries everything; the two
    * rank windows run over that contraction (q256's discipline), and the
    * statistic is a 1-row aggregate.
    */
  def q284Spearman(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(tsDay.as("day"))
      .agg(sum((col("event_type") === "click").cast("long")).as("clicks"),
        sum((col("event_type") === "purchase").cast("long")).as("purchases"))
    val rc = Window.orderBy(col("clicks").asc, col("day").asc)
    val rp = Window.orderBy(col("purchases").asc, col("day").asc)
    daily
      .withColumn("ra", row_number().over(rc).cast("long"))
      .withColumn("rb", row_number().over(rp).cast("long"))
      .withColumn("d2", (col("ra") - col("rb")) * (col("ra") - col("rb")))
      .agg(count(lit(1)).as("n_days"), sum(col("d2")).as("sum_d2"))
      .select(col("n_days"), col("sum_d2"),
        expr("1000000 - (6 * sum_d2 * 1000000) div (n_days * (n_days * n_days - 1))")
          .as("rho_ppm"))
  }

  private val q284Oracle =
    """WITH daily AS (
      |  SELECT epoch_us(ts) // 86400000000 AS day,
      |         sum((event_type = 'click')::BIGINT)::BIGINT AS clicks,
      |         sum((event_type = 'purchase')::BIGINT)::BIGINT AS purchases
      |  FROM events WHERE event_type IN ('click', 'purchase') GROUP BY 1),
      |r AS (SELECT
      |        row_number() OVER (ORDER BY clicks ASC, day ASC) AS ra,
      |        row_number() OVER (ORDER BY purchases ASC, day ASC) AS rb
      |      FROM daily),
      |a AS (SELECT count(*)::BIGINT AS n_days,
      |             sum((ra - rb) * (ra - rb))::BIGINT AS sum_d2 FROM r)
      |SELECT n_days, sum_d2,
      |       (1000000 - (6 * sum_d2 * 1000000) // (n_days * (n_days * n_days - 1)))::BIGINT
      |         AS rho_ppm
      |FROM a""".stripMargin

  /** q286: half-life-decayed engagement score — each user's
    * `Σ cents·2^(30−age_days) div 2^30`: yesterday's spend counts double
    * tomorrow's, the classic exponential-decay recency weighting, with the
    * half-life a POWER OF TWO so the weights are exact integer shifts (a
    * float `exp(−λ·age)` can't hash-gate). Ages anchor to the corpus max
    * day (1-row broadcast); the 29-day span keeps the shifted numerator
    * far inside 64 bits (documented headroom: Σcents·2³⁰ per user).
    */
  def q286DecayedScore(spark: SparkSession, dir: String): DataFrame = {
    val anchor = events(spark, dir).agg(max(tsDay).as("last_day"))
    events(spark, dir)
      .select(col("user_id"), tsDay.as("day"),
        floor(col("value") * 100).cast("long").as("cents"))
      .crossJoin(broadcast(anchor))
      .withColumn("age", col("last_day") - col("day"))
      .filter(col("age") >= 0 && col("age") <= 30)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(expr("cents * shiftleft(1L, cast(30 - age AS int))")).as("num"))
      .select(col("user_id"), col("n_events"),
        expr("num div shiftleft(1L, 30)").as("decayed_cents"))
  }

  private val q286Oracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |                  floor(value * 100)::BIGINT AS cents FROM events),
      |a AS (SELECT max(day) AS last_day FROM e)
      |SELECT user_id, count(*)::BIGINT AS n_events,
      |       (sum(cents * (1::BIGINT << (30 - (last_day - day))::INT))
      |          // (1::BIGINT << 30))::BIGINT AS decayed_cents
      |FROM e CROSS JOIN a
      |WHERE last_day - day BETWEEN 0 AND 30
      |GROUP BY 1""".stripMargin

  /** q287: daily bounce rate — the share of q12's gap-sessions holding
    * exactly ONE event, per session-start day, in integer ppm: the
    * engagement-quality headline a web-analytics surface leads with.
    * Composes the canonical sessionization (same user_id shuffle + window
    * family), then contracts to |days|.
    */
  def q287BounceRate(spark: SparkSession, dir: String): DataFrame = {
    val e = events(spark, dir).withColumn("tsu", tsUs)
    val wu = Window.partitionBy("user_id").orderBy(col("tsu").asc, col("event_id").asc)
    e.withColumn("prev", lag(col("tsu"), 1).over(wu))
      .withColumn("brk",
        (col("prev").isNull || col("tsu") - col("prev") > SessionGapUs).cast("long"))
      .withColumn("sid", sum(col("brk")).over(
        wu.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "sid")
      .agg(count(lit(1)).as("n_events"), min(col("tsu")).as("st"))
      .groupBy(expr("st div 86400000000").as("day"))
      .agg(count(lit(1)).as("n_sessions"),
        sum((col("n_events") === 1).cast("long")).as("n_bounce"))
      .withColumn("bounce_ppm", expr("(1000000 * n_bounce) div n_sessions"))
  }

  private val q287Oracle =
    s"""WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu FROM events),
       |l AS (SELECT user_id, event_id, tsu,
       |        lag(tsu) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC) AS prev
       |      FROM e),
       |f AS (SELECT user_id, tsu, event_id,
       |        CASE WHEN prev IS NULL OR tsu - prev > ${SessionGapUs} THEN 1 ELSE 0 END AS brk
       |      FROM l),
       |s AS (SELECT user_id, tsu,
       |        sum(brk) OVER (PARTITION BY user_id ORDER BY tsu ASC, event_id ASC
       |                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
       |      FROM f),
       |sess AS (SELECT user_id, sid, count(*)::BIGINT AS n_events, min(tsu) AS st
       |         FROM s GROUP BY 1, 2)
       |SELECT st // 86400000000 AS day, count(*)::BIGINT AS n_sessions,
       |       sum((n_events = 1)::BIGINT)::BIGINT AS n_bounce,
       |       ((1000000 * sum((n_events = 1)::BIGINT)) // count(*))::BIGINT AS bounce_ppm
       |FROM sess GROUP BY 1""".stripMargin

  /** q292: the ELEVENTH streaming gate — streaming activity-bitmap
    * maintenance ([[graft.streaming.CdcStream.bitmapStream]]). The corpus
    * splits `event_id % 3` into an initial per-user mask plus two staged
    * micro-batches (file source, one per trigger, mtime-ordered); each
    * batch's (user, day-offset) rows pack to `bit_or` masks and OR into
    * the persisted state — the commutative-IDEMPOTENT merge whose replay
    * safety needs no correction terms (OR-ing a batch twice is a no-op —
    * the property sums don't have). Gate: the streamed state must land
    * exactly on q280's one-shot batch bitmap, which is the oracle.
    */
  def q292StreamBitmap(spark: SparkSession, dir: String): DataFrame = {
    import graft.queries.Scratch
    val anchor = events(spark, dir).agg(min(tsDay).as("day0"))
    val offs = events(spark, dir)
      .select(col("event_id"), col("user_id"), tsDay.as("day"))
      .crossJoin(broadcast(anchor))
      .withColumn("off", col("day") - col("day0"))
      .filter(col("off") >= 0 && col("off") < 64)
      .select("event_id", "user_id", "off")
    val inDir = Staging.streamInput("q292", dir)(
      Seq(1L, 2L).map(m => offs.filter(col("event_id") % 3 === m)))
    val work = Scratch.stableDir("q292")
    val initial = offs.filter(col("event_id") % 3 === 0)
      .groupBy("user_id")
      .agg(expr("bit_or(shiftleft(1L, cast(off AS int)))").as("mask"))
    val stream = spark.readStream
      .schema("event_id LONG, user_id LONG, off LONG")
      .option("maxFilesPerTrigger", 1).parquet(inDir)
    // 8 shuffle partitions at fixture scale — the q233/q383 convention
    withFixtureShufflePartitions(spark, dir) {
      val query = graft.streaming.CdcStream.bitmapStream(
          stream, initial, stateDir = s"$work/state")
        .option("checkpointLocation", s"$work/ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      query.awaitTermination()
    }
    graft.streaming.CdcStream.currentMaterializedState(spark, s"$work/state")
      .withColumn("n_active_days", expr("bit_count(mask)").cast("long"))
  }

  /** q293: NULL-ordering parity — engines DISAGREE by default (Spark sorts
    * nulls FIRST ascending, DuckDB LAST), so any ordering over a nullable
    * key silently diverges unless the placement is explicit. The query
    * makes nulls the interesting rows (each user's first event has no
    * lag-value), then ranks with EXPLICIT `NULLS FIRST` ascending and
    * takes each user's top-2 — pinning that both engines honor the
    * explicit placement identically. Every future nullable ordering in
    * this engine spells its null placement; this row is the contract.
    */
  def q293NullOrdering(spark: SparkSession, dir: String): DataFrame = {
    val wu = Window.partitionBy("user_id").orderBy(col("tsu").asc, col("event_id").asc)
    val wr = Window.partitionBy("user_id")
      .orderBy(col("prev_cents").asc_nulls_first, col("event_id").asc)
    events(spark, dir).withColumn("tsu", tsUs)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .withColumn("prev_cents", lag(col("cents"), 1).over(wu))
      .withColumn("rn", row_number().over(wr))
      .filter(col("rn") <= 2)
      .select("user_id", "rn", "event_id", "prev_cents")
  }

  private val q293Oracle =
    """WITH e AS (
      |  SELECT user_id, event_id, floor(value * 100)::BIGINT AS cents,
      |         epoch_us(ts) AS tsu
      |  FROM events),
      |l AS (SELECT user_id, event_id,
      |        lag(cents) OVER (PARTITION BY user_id
      |                         ORDER BY tsu ASC, event_id ASC) AS prev_cents
      |      FROM e),
      |r AS (SELECT user_id, event_id, prev_cents,
      |        row_number() OVER (PARTITION BY user_id
      |          ORDER BY prev_cents ASC NULLS FIRST, event_id ASC) AS rn
      |      FROM l)
      |SELECT user_id, rn::BIGINT AS rn, event_id, prev_cents
      |FROM r WHERE rn <= 2""".stripMargin

  /** q294: right-to-be-forgotten sweep audit — the GDPR deletion flow as
    * one auditable query: a deterministic forget-set (every 13th user),
    * the events table swept by ANTI join, and the audit row a regulator
    * asks for: rows deleted per event type plus the surviving table's
    * user count and row count (proving the forgotten users are GONE from
    * the rebuilt aggregate, not just flagged). Completes the privacy
    * family: q10's VOID scrub erases FIELDS, this erases SUBJECTS.
    *
    * Scale shape: the forget-set is a model-sized broadcast; both the
    * deletion count and the survivor rebuild ride one scan each.
    */
  def q294ForgetAudit(spark: SparkSession, dir: String): DataFrame = {
    val forget = events(spark, dir).select("user_id").distinct()
      .filter(col("user_id") % 13 === 0)
    val deleted = events(spark, dir)
      .join(broadcast(forget), Seq("user_id"), "left_semi")
      .groupBy("event_type").agg(count(lit(1)).as("n_deleted"))
    val survivors = events(spark, dir)
      .join(broadcast(forget), Seq("user_id"), "left_anti")
    val post = survivors.agg(count(lit(1)).as("n_rows_after"),
      countDistinct(col("user_id")).as("n_users_after"))
    deleted.crossJoin(broadcast(post))
  }

  private val q294Oracle =
    """WITH f AS (SELECT DISTINCT user_id FROM events WHERE user_id % 13 = 0),
      |d AS (SELECT event_type, count(*)::BIGINT AS n_deleted
      |      FROM events WHERE user_id IN (SELECT user_id FROM f) GROUP BY 1),
      |p AS (SELECT count(*)::BIGINT AS n_rows_after,
      |             count(DISTINCT user_id)::BIGINT AS n_users_after
      |      FROM events WHERE user_id NOT IN (SELECT user_id FROM f))
      |SELECT event_type, n_deleted, n_rows_after, n_users_after
      |FROM d CROSS JOIN p""".stripMargin

  /** q301: the TWELFTH streaming gate — `transformWithState`, Spark 4's
    * arbitrary-state v2 API ([[graft.streaming.CdcStream.runningTotals]]).
    * The events table splits by `event_id` parity into two mtime-ordered
    * files (one per trigger), so EVERY user's lifetime totals accumulate
    * across two micro-batches — the cross-batch `ValueState` round trip is
    * what the gate proves, on the RocksDB provider the API requires. Each
    * batch appends cumulative rows; `max` per user collapses them to the
    * lifetime totals, which must land exactly on the batch
    * count/max-timestamp aggregate (the oracle). Replay after failure only
    * re-appends rows the max already absorbs — idempotent by construction.
    */
  def q301StreamTws(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val inDir = Staging.streamInput("q301", dir)(
      Seq(0L, 1L).map(p => events(spark, dir).filter(col("event_id") % 2 === p)))
    val work = Scratch.stableDir("q301")
    val schema = events(spark, dir).schema
    // transformWithState REQUIRES the RocksDB provider; set it for this
    // query and restore after (the other gates are provider-agnostic —
    // CdcStreamSpec proves identical semantics under both)
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prevProv = spark.conf.getOption(provKey)
    spark.conf.set(provKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1).parquet(inDir)
        .select(col("user_id"), tsUs.as("ts_us"))
        .as[graft.streaming.CdcStream.Ev]
      // 8 shuffle partitions at fixture scale — the q233/q383 convention
      withFixtureShufflePartitions(spark, dir) {
        val query = graft.streaming.CdcStream.runningTotals(stream)
          .writeStream
          .format("parquet")
          .option("path", s"$work/out")
          .option("checkpointLocation", s"$work/ckpt")
          .outputMode("append")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        query.awaitTermination()
      }
    } finally prevProv match {
      case Some(p) => spark.conf.set(provKey, p)
      case None => spark.conf.unset(provKey)
    }
    spark.read.parquet(s"$work/out")
      .groupBy("user_id")
      .agg(max(col("n_events")).as("n_events"),
        max(col("last_ts_us")).as("last_ts_us"))
  }

  private val q301Oracle =
    """SELECT user_id, count(*)::BIGINT AS n_events,
      |       max(epoch_us(ts))::BIGINT AS last_ts_us
      |FROM events GROUP BY 1""".stripMargin

  /** q302: t-closeness audit — the third rung of the privacy ladder.
    * q185 bounds group SIZE (k-anonymity), q217 bounds distinct sensitive
    * VALUES (l-diversity); t-closeness bounds how far a cell's sensitive
    * DISTRIBUTION may drift from the corpus-wide one (Li et al., ICDE
    * 2007) — a 50-user cell with 3 distinct values still leaks if 96 % of
    * it is one value. Per (dow, hour) QI cell, two distances in integer
    * ppm: total-variation for the categorical attribute (event_type,
    * `Σ|p_cell − p_global| div 2`) and the ordered earth-mover's distance
    * for spend deciles (`Σ|cumΔ| div (m−1)` over 10 cents-buckets —
    * ground distance 1 between neighbors), flagged at t = 0.2.
    *
    * Scale shape: ONE corpus scan to the (cell × type × bucket)
    * contraction (≤ 168·|types|·10 rows, map-side combined, pinned with
    * `localCheckpoint` so the four marginals don't re-scan the corpus);
    * everything after is contraction-sized — broadcast global marginals,
    * an empty-frame window for totals, per-cell windows for the EMD
    * cumsum. Absent (cell, value) pairs contribute |0 − p_global| via the
    * cells × values grid, never silently dropped. Probabilities are
    * ppm-first (divide before compare) so intermediates stay in 64 bits
    * at any corpus size.
    */
  def q302TCloseness(spark: SparkSession, dir: String): DataFrame = {
    val base = events(spark, dir)
      .withColumn("dow", expr("(ts div 1000 div 86400000000) % 7"))
      .withColumn("hour", expr("(ts div 1000 div 3600000000) % 24"))
      .withColumn("bkt", least(expr("floor(value * 100) div 5000"), lit(9L)))
      .groupBy("dow", "hour", "event_type", "bkt")
      .agg(count(lit(1)).as("n"))
      .localCheckpoint()
    val wAll = Window.partitionBy()
    val cells = base.groupBy("dow", "hour").agg(sum(col("n")).as("n_cell"))
    val gType = base.groupBy("event_type").agg(sum(col("n")).as("g_n"))
      .withColumn("g_tot", sum(col("g_n")).over(wAll))
    val cType = base.groupBy("dow", "hour", "event_type").agg(sum(col("n")).as("c_n"))
    val tvd = cells.crossJoin(broadcast(gType))
      .join(cType, Seq("dow", "hour", "event_type"), "left")
      .na.fill(0L, Seq("c_n"))
      .withColumn("diff",
        abs(expr("(1000000 * c_n) div n_cell - (1000000 * g_n) div g_tot")))
      .groupBy("dow", "hour")
      .agg(expr("sum(diff) div 2").as("tvd_type_ppm"))
    val gBkt = base.groupBy("bkt").agg(sum(col("n")).as("g_n"))
      .withColumn("g_tot", sum(col("g_n")).over(wAll))
    val cBkt = base.groupBy("dow", "hour", "bkt").agg(sum(col("n")).as("c_n"))
    val wCum = Window.partitionBy("dow", "hour").orderBy(col("bkt").asc)
    val emd = cells.crossJoin(broadcast(gBkt))
      .join(cBkt, Seq("dow", "hour", "bkt"), "left")
      .na.fill(0L, Seq("c_n"))
      .withColumn("d",
        expr("(1000000 * c_n) div n_cell - (1000000 * g_n) div g_tot"))
      .withColumn("cum", sum(col("d")).over(wCum))
      .groupBy("dow", "hour")
      .agg(expr("sum(abs(cum)) div 9").as("emd_spend_ppm"))
    cells.join(tvd, Seq("dow", "hour")).join(emd, Seq("dow", "hour"))
      .withColumn("flagged",
        (greatest(col("tvd_type_ppm"), col("emd_spend_ppm")) > 200000).cast("long"))
  }

  private val q302Oracle =
    """WITH b AS (
      |  SELECT epoch_us(ts) // 86400000000 % 7 AS dow,
      |         epoch_us(ts) // 3600000000 % 24 AS hour,
      |         event_type,
      |         least(floor(value * 100)::BIGINT // 5000, 9) AS bkt,
      |         count(*)::BIGINT AS n
      |  FROM events GROUP BY 1, 2, 3, 4),
      |cells AS (SELECT dow, hour, sum(n)::BIGINT AS n_cell FROM b GROUP BY 1, 2),
      |gt AS (SELECT event_type, sum(n)::BIGINT AS g_n FROM b GROUP BY 1),
      |gtt AS (SELECT event_type, g_n, (SELECT sum(g_n) FROM gt)::BIGINT AS g_tot FROM gt),
      |ct AS (SELECT dow, hour, event_type, sum(n)::BIGINT AS c_n FROM b GROUP BY 1, 2, 3),
      |tvd AS (
      |  SELECT dow, hour,
      |         sum(abs((1000000 * coalesce(c_n, 0)) // n_cell
      |                 - (1000000 * g_n) // g_tot)) // 2 AS tvd_type_ppm
      |  FROM cells CROSS JOIN gtt
      |  LEFT JOIN ct USING (dow, hour, event_type)
      |  GROUP BY 1, 2),
      |gb AS (SELECT bkt, sum(n)::BIGINT AS g_n FROM b GROUP BY 1),
      |gbt AS (SELECT bkt, g_n, (SELECT sum(g_n) FROM gb)::BIGINT AS g_tot FROM gb),
      |cb AS (SELECT dow, hour, bkt, sum(n)::BIGINT AS c_n FROM b GROUP BY 1, 2, 3),
      |dgrid AS (
      |  SELECT dow, hour, bkt,
      |         (1000000 * coalesce(c_n, 0)) // n_cell - (1000000 * g_n) // g_tot AS d
      |  FROM cells CROSS JOIN gbt
      |  LEFT JOIN cb USING (dow, hour, bkt)),
      |cum AS (
      |  SELECT dow, hour,
      |         sum(d) OVER (PARTITION BY dow, hour ORDER BY bkt ASC
      |                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
      |  FROM dgrid),
      |emd AS (SELECT dow, hour, sum(abs(c)) // 9 AS emd_spend_ppm FROM cum GROUP BY 1, 2)
      |SELECT dow, hour, n_cell,
      |       tvd_type_ppm::BIGINT AS tvd_type_ppm,
      |       emd_spend_ppm::BIGINT AS emd_spend_ppm,
      |       (greatest(tvd_type_ppm, emd_spend_ppm) > 200000)::BIGINT AS flagged
      |FROM cells JOIN tvd USING (dow, hour) JOIN emd USING (dow, hour)""".stripMargin

  /** Poisson(1) CDF thresholds in ppm — the inverse-CDF lookup both the
    * Spark CASE chain and the DuckDB oracle are generated from, so the
    * bootstrap weights are the identical integers on both engines.
    * P(X ≤ k) · 10⁶ for k = 0..8; u ≥ the last threshold draws weight 9.
    */
  private val PoissonPpm =
    Seq(367879L, 735759L, 919699L, 981012L, 996340L, 999406L, 999917L, 999990L, 999999L)

  private def poissonWeightSql(u: String): String =
    PoissonPpm.zipWithIndex
      .map { case (t, k) => s"WHEN $u < $t THEN $k" }
      .mkString("CASE ", " ", s" ELSE ${PoissonPpm.size} END")

  /** q303: Poisson bootstrap — the standard-error machinery that actually
    * scales (Chamandy et al., "Estimating uncertainty for massive data
    * streams", Google 2012): classical bootstrap resampling needs n draws
    * WITH replacement per replica (a shuffle per replica); the Poisson
    * approximation gives each row an independent Poisson(1) weight per
    * replica instead, so ALL B replicas ride one scan. Weights are
    * DETERMINISTIC — `u = md5(event_id | replica) mod 10⁶` through the
    * shared inverse-CDF threshold chain [[PoissonPpm]] — so both engines
    * draw bit-identical resamples: the replica spread (here B = 16 means
    * of purchase cents, in integer ppm) IS the sampling distribution of
    * the mean, no RNG, no oracle tolerance.
    *
    * Scale shape: one corpus scan, a 16-way generator explode inside
    * codegen, map-side-combined aggregation straight to 16 rows. No
    * shuffle wider than 16 groups; every arithmetic step is BIGINT.
    */
  def q303PoissonBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val u = "conv(substring(md5(concat(cast(event_id AS string), '|', " +
      "cast(replica AS string))), 1, 15), 16, 10) % 1000000"
    events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .withColumn("replica", explode(expr("sequence(0, 15)")))
      .withColumn("w", expr(poissonWeightSql(u)).cast("long"))
      .groupBy("replica")
      .agg(sum(col("w")).as("n_eff"), sum(expr("w * cents")).as("sum_cents"))
      .withColumn("mean_cents_ppm", expr("(1000000 * sum_cents) div n_eff"))
      .select(col("replica").cast("long").as("replica"), col("n_eff"),
        col("sum_cents"), col("mean_cents_ppm"))
  }

  private val q303Oracle = {
    val u = "('0x' || substr(md5(event_id::VARCHAR || '|' || replica::VARCHAR), 1, 15))" +
      "::BIGINT % 1000000"
    s"""WITH p AS (SELECT event_id, floor(value * 100)::BIGINT AS cents
       |           FROM events WHERE event_type = 'purchase'),
       |r AS (SELECT unnest(range(0, 16)) AS replica),
       |x AS (SELECT replica, cents, ${poissonWeightSql(u)}::BIGINT AS w
       |      FROM p CROSS JOIN r),
       |g AS (SELECT replica, sum(w)::BIGINT AS n_eff,
       |             sum(w * cents)::BIGINT AS sum_cents
       |      FROM x GROUP BY 1)
       |SELECT replica::BIGINT AS replica, n_eff, sum_cents,
       |       (1000000 * sum_cents) // n_eff AS mean_cents_ppm
       |FROM g""".stripMargin
  }

  /** Floor division by 10⁶ spelled out as a CASE so BOTH engines run the
    * identical semantics: Spark's `div` truncates toward zero while the
    * oracle engine's `//` floors — on the negative intermediate values a
    * trend recurrence produces, those differ by 1. `op` is the engine's
    * integer-division operator.
    */
  private def holtFdiv(x: String, op: String): String =
    s"(CASE WHEN ($x) >= 0 THEN ($x) $op 1000000" +
      s" ELSE -((-($x) + 999999) $op 1000000) END)"

  /** Holt level update in ppm: α = 0.3. */
  private def holtL(l: String, b: String, y: String, op: String): String =
    holtFdiv(s"300000 * ($y) + 700000 * (($l) + ($b))", op)

  /** Holt trend update in ppm: β = 0.1. */
  private def holtB(l: String, newL: String, b: String, op: String): String =
    holtFdiv(s"100000 * (($newL) - ($l)) + 900000 * ($b)", op)

  /** q309: Holt double-exponential smoothing — the level+trend forecaster
    * one rung above q174's OLS line (which fits ONE slope to the whole
    * history; Holt's recency-weighted level and trend adapt, the standard
    * short-horizon operational forecast). The recurrence runs entirely in
    * ppm integers (α = 0.3, β = 0.1; `l₁ = y₁, b₁ = 0`) with floor
    * division spelled as a shared CASE — Spark `div` truncates, the
    * oracle floors, and the negative trend intermediates would otherwise
    * drift engines by 1. Output: the 7-day-ahead forecasts
    * `l + h·b` from the final state.
    *
    * Scale shape: the corpus contracts to per-day revenue (map-side
    * combined); the sequential recurrence folds over the |days| ordered
    * array — bounded by the calendar horizon, not the data — inside ONE
    * `aggregate` HOF on a 1-row frame (interpreted, but over ~10² array
    * elements once; the fold is inherently sequential — this is the
    * contraction-sized tail where a HOF is the right tool, not the
    * corpus-sized path where codegen matters). The oracle replays the
    * identical recurrence as a recursive CTE generated from the same
    * formula strings.
    */
  /** The full Holt fold as one Spark SQL expression over a sorted
    * `series` array of (day, cents) structs — shared by the q309 forecast
    * and the q325 backtest so the recurrence cannot fork.
    */
  private def holtFoldSql: String = holtFoldOn("series")

  /** [[holtFoldSql]] over an arbitrary series-array expression — q350's
    * per-prefix residual pass folds `slice(series, 1, t-1)` for every t. */
  private def holtFoldOn(seriesExpr: String): String = {
    val nl = holtL("a.l", "a.b", "y.cents", "div")
    val step =
      s"""(a, y) -> CASE WHEN a.i = 0L
         |  THEN named_struct('i', 1L, 'l', y.cents, 'b', 0L)
         |  ELSE named_struct('i', a.i + 1L, 'l', $nl,
         |         'b', ${holtB("a.l", nl, "a.b", "div")}) END""".stripMargin
    s"aggregate($seriesExpr, named_struct('i', 0L, 'l', 0L, 'b', 0L), $step)"
  }

  private def holtDaily(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("day", tsDay)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("day").agg(sum(col("cents")).as("cents"))

  def q309HoltForecast(spark: SparkSession, dir: String): DataFrame = {
    holtDaily(spark, dir)
      .agg(expr("sort_array(collect_list(struct(day, cents)))").as("series"))
      .select(expr(holtFoldSql).as("st"))
      .select(explode(expr("sequence(1, 7)")).as("h"),
        col("st.l").as("level_cents"), col("st.b").as("trend_cents"))
      .select(col("h").cast("long").as("h"), col("level_cents"), col("trend_cents"),
        expr("level_cents + h * trend_cents").as("forecast_cents"))
  }

  private val q309Oracle = {
    val nl = holtL("h.l", "h.b", "o.cents", "//")
    s"""WITH RECURSIVE d AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |         sum(floor(value * 100)::BIGINT)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |o AS (SELECT row_number() OVER (ORDER BY day ASC) AS i, cents FROM d),
       |h(i, l, b) AS (
       |  SELECT 1::BIGINT, cents, 0::BIGINT FROM o WHERE i = 1
       |  UNION ALL
       |  SELECT o.i::BIGINT, ($nl)::BIGINT,
       |         (${holtB("h.l", nl, "h.b", "//")})::BIGINT
       |  FROM h JOIN o ON o.i = h.i + 1),
       |f AS (SELECT l AS level_cents, b AS trend_cents FROM h ORDER BY i DESC LIMIT 1)
       |SELECT g.h::BIGINT AS h, level_cents, trend_cents,
       |       (level_cents + g.h * trend_cents)::BIGINT AS forecast_cents
       |FROM f CROSS JOIN (SELECT unnest(range(1, 8)) AS h) g""".stripMargin
  }

  /** Two-sided-geometric (discrete Laplace, α = 1/2 ⇒ ε = ln 2) CDF
    * thresholds in ppm, truncated at |k| ≤ 10 (tail mass 0.00065 folds
    * into +10). Computed once and interpolated into BOTH engines' CASE
    * chains, the [[PoissonPpm]] pattern.
    */
  private val DpGeomPpm: Seq[(Int, Long)] = {
    val a = 0.5
    val ps = (-10 to 10).map(k => (k, (1 - a) / (1 + a) * math.pow(a, math.abs(k))))
    ps.scanLeft((0, 0.0)) { case ((_, cum), (k, p)) => (k, cum + p) }.tail
      .map { case (k, cum) => (k, math.floor(cum * 1e6).toLong) }
  }

  private def dpNoiseSql(u: String): String =
    DpGeomPpm.init
      .map { case (k, t) => s"WHEN $u < $t THEN ($k)" }
      .mkString("CASE ", " ", " ELSE 10 END")

  /** q310: differentially-private count release — per-event-type counts
    * under the GEOMETRIC mechanism (Ghosh-Roughgarden-Sundararajan 2009:
    * the discrete Laplace, the utility-optimal mechanism for integer
    * counts), ε = ln 2, noise drawn through the shared inverse-CDF
    * threshold chain [[DpGeomPpm]] and clamped at 0. The noise uniform is
    * derived from `md5('dp1|' || event_type)` so the release is
    * REPRODUCIBLE and oracle-replayable — which also means it is NOT
    * private against an adversary who knows the salt: a production
    * release swaps the hash for a real RNG (one line); everything else —
    * sensitivity-1 counts, the mechanism, the post-processing clamp — is
    * the deployed shape. `n_true` ships alongside for the gate's delta
    * audit; a real release drops that column.
    *
    * Scale shape: one map-side-combined count to the |event_types|
    * contraction; the noise CASE runs on that model-sized result.
    */
  def q310DpRelease(spark: SparkSession, dir: String): DataFrame = {
    val u = "conv(substring(md5(concat('dp1|', event_type)), 1, 15), 16, 10) % 1000000"
    events(spark, dir)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_true"))
      .withColumn("noise", expr(dpNoiseSql(u)).cast("long"))
      .withColumn("n_noisy", greatest(col("n_true") + col("noise"), lit(0L)))
  }

  private val q310Oracle = {
    val u = "('0x' || substr(md5('dp1|' || event_type), 1, 15))::BIGINT % 1000000"
    s"""SELECT event_type, count(*)::BIGINT AS n_true,
       |       ${dpNoiseSql(u)}::BIGINT AS noise,
       |       greatest(count(*) + ${dpNoiseSql(u)}, 0)::BIGINT AS n_noisy
       |FROM events GROUP BY 1""".stripMargin
  }

  private val MkChannels = Seq("click", "error", "signup", "view")
  private val MkSrcs = "start" +: MkChannels
  private val MkDsts = MkChannels :+ "conv"

  /** q311: Markov-chain (removal-effect) attribution — the data-driven
    * attribution model (Anderl et al. 2014) that completes the heuristic
    * family (q115 last-touch, q183 linear, q220 U-shaped): journeys build
    * a first-order transition matrix (START → touches → CONV on purchase /
    * NULL at history end; a purchase restarts the journey), conversion
    * probability comes from 40 steps of value iteration in ppm integers,
    * and each channel's credit is its REMOVAL EFFECT — how much conversion
    * drops when visits to that channel are forced unconverting — normalized
    * to shares. Both engines run the identical iteration count and floored
    * arithmetic, so the fixpoint integers match exactly; removal can only
    * lower a monotone iteration, so effects are non-negative by
    * construction.
    *
    * Scale shape: the corpus-sized work is ONE user_id-shuffled window
    * pass to transition PAIRS and a map-side-combined count to the
    * ≤ |states|² = 30-row matrix; that contraction is a bounded model read
    * (the IVF-centroid pattern), and the 7-state × 40-step × 5-scenario
    * algebra is driver-side arithmetic on it. The oracle replays the
    * same iteration as a recursive CTE over a PIVOTED 1-row matrix
    * (aggregates are illegal in a recursive member), generated from the
    * same state lists.
    */
  def q311MarkovAttribution(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val wAsc = Window.partitionBy("user_id").orderBy(col("tsu").asc, col("event_id").asc)
    val wDesc = Window.partitionBy("user_id").orderBy(col("tsu").desc, col("event_id").desc)
    val ev = events(spark, dir).withColumn("tsu", tsUs)
      .select(col("user_id"), col("event_id"), col("tsu"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(wAsc))
      .withColumn("rd", row_number().over(wDesc))
    val pairs = ev.select(
      when(col("prev").isNull || col("prev") === "purchase", lit("start"))
        .otherwise(col("prev")).as("src"),
      when(col("event_type") === "purchase", lit("conv"))
        .otherwise(col("event_type")).as("dst"))
    val ends = ev.filter(col("rd") === 1 && col("event_type") =!= "purchase")
      .select(col("event_type").as("src"), lit("null").as("dst"))
    val counts = pairs.union(ends).groupBy("src", "dst").agg(count(lit(1)).as("c"))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2))).toMap
    val rowSum = MkSrcs.map(s =>
      s -> (MkDsts :+ "null").map(d => counts.getOrElse((s, d), 0L)).sum).toMap
    val t = (for {
      s <- MkSrcs; d <- MkDsts
      c = counts.getOrElse((s, d), 0L) if rowSum(s) > 0
    } yield (s, d) -> 1000000L * c / rowSum(s)).toMap
    def convPpm(removed: Option[String]): Long = {
      var v = MkSrcs.map(_ -> 0L).toMap
      for (_ <- 1 to 40) v = MkSrcs.map { s =>
        s -> (if (removed.contains(s)) 0L
        else (MkChannels.map(d => t.getOrElse((s, d), 0L) * v(d)).sum
          + t.getOrElse((s, "conv"), 0L) * 1000000L) / 1000000L)
      }.toMap
      v("start")
    }
    val base = convPpm(None)
    val re = MkChannels.map(c => (c, convPpm(Some(c))))
    val total = re.map { case (_, r) => base - r }.sum
    re.map { case (c, r) =>
      (c, base, r, base - r,
        if (total == 0) 0L else 1000000L * (base - r) / total)
    }.toDF("channel", "base_conv_ppm", "removed_conv_ppm",
      "removal_effect_ppm", "attribution_ppm")
  }

  private val q311Oracle = {
    val tmCols = (for (s <- MkSrcs; d <- MkDsts) yield
      s"coalesce(sum(CASE WHEN src = '$s' AND dst = '$d' THEN t_ppm END), 0)" +
        s"::BIGINT AS t_${s}_$d").mkString(",\n|        ")
    def vnext(s: String) =
      s"CASE WHEN '$s' = it.r THEN 0 ELSE (" +
        (MkChannels.map(d => s"tm.t_${s}_$d * it.v_$d") :+
          s"tm.t_${s}_conv * 1000000").mkString(" + ") +
        ") // 1000000 END"
    val vCols = MkSrcs.map(s => s"v_$s").mkString(", ")
    s"""WITH RECURSIVE e AS (
       |  SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
       |l AS (SELECT user_id, event_type,
       |        lag(event_type) OVER (PARTITION BY user_id
       |                              ORDER BY tsu ASC, event_id ASC) AS prev,
       |        row_number() OVER (PARTITION BY user_id
       |                           ORDER BY tsu DESC, event_id DESC) AS rd
       |      FROM e),
       |tr AS (
       |  SELECT CASE WHEN prev IS NULL OR prev = 'purchase' THEN 'start'
       |              ELSE prev END AS src,
       |         CASE WHEN event_type = 'purchase' THEN 'conv'
       |              ELSE event_type END AS dst
       |  FROM l
       |  UNION ALL
       |  SELECT event_type, 'null' FROM l WHERE rd = 1 AND event_type <> 'purchase'),
       |cnt AS (SELECT src, dst, count(*)::BIGINT AS c FROM tr GROUP BY 1, 2),
       |tp AS (SELECT src, dst,
       |         (1000000 * c) // (sum(c) OVER (PARTITION BY src)) AS t_ppm
       |       FROM cnt),
       |tm AS (SELECT $tmCols
       |       FROM tp),
       |rem AS (SELECT unnest(['none', 'click', 'error', 'signup', 'view']) AS r),
       |it(r, i, $vCols) AS (
       |  SELECT r, 0, ${MkSrcs.map(_ => "0::BIGINT").mkString(", ")} FROM rem
       |  UNION ALL
       |  SELECT it.r, it.i + 1, ${MkSrcs.map(vnext).mkString(",\n|         ")}
       |  FROM it CROSS JOIN tm WHERE it.i < 40),
       |p AS (SELECT r, v_start FROM it WHERE i = 40),
       |b AS (SELECT v_start AS base_v FROM p WHERE r = 'none'),
       |re AS (SELECT r AS channel, v_start AS removed_v, base_v,
       |              base_v - v_start AS re_v
       |       FROM p CROSS JOIN b WHERE r <> 'none'),
       |tot AS (SELECT sum(re_v)::BIGINT AS t FROM re)
       |SELECT channel, base_v::BIGINT AS base_conv_ppm,
       |       removed_v::BIGINT AS removed_conv_ppm,
       |       re_v::BIGINT AS removal_effect_ppm,
       |       CASE WHEN t = 0 THEN 0
       |            ELSE (1000000 * re_v) // t END::BIGINT AS attribution_ppm
       |FROM re CROSS JOIN tot""".stripMargin
  }

  /** q312: TIME-DECAY multi-touch attribution — the fifth and last member
    * of the attribution family (q115 last-touch, q183 linear, q220
    * U-shaped, q311 Markov): each touch in the 7-day pre-conversion
    * window weighs `10⁶ div 2^age_days` (one-day half-life — exact
    * integer powers of two, no float decay), normalized per conversion so
    * a conversion's credits sum to ≤ 10⁶ with the remainder truncated
    * identically on both engines, then rolled up per channel.
    *
    * Scale shape: q183's exact join geometry — user_id-keyed
    * touch⋈conversion pairs with the window as a residual range, per-user
    * fan-out never |events|²; the per-conversion weight sum is a second
    * aggregate on the conversion id.
    */
  def q312TimeDecayAttribution(spark: SparkSession, dir: String): DataFrame = {
    val windowUs = 7L * 86400L * 1000000L
    val e = events(spark, dir).withColumn("ts_us", tsUs)
    val conv = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("conv_id"), col("ts_us").as("conv_ts"))
    val touch = e.filter(col("event_type") =!= "purchase")
      .select(col("user_id"), col("event_type").as("channel"), col("ts_us").as("touch_ts"))
    val pairs = touch.join(conv, Seq("user_id"))
      .filter(col("touch_ts") <= col("conv_ts") &&
        col("conv_ts") - col("touch_ts") <= windowUs)
      .withColumn("w_ppm", expr(
        "1000000 div shiftleft(1L, cast((conv_ts - touch_ts) div 86400000000 AS int))"))
      .select("channel", "conv_id", "w_ppm")
    val perConv = pairs.groupBy("conv_id").agg(sum(col("w_ppm")).as("w_sum"))
    pairs.join(perConv, "conv_id")
      .groupBy("channel")
      .agg(count(lit(1)).as("n_pairs"),
        sum(expr("(1000000 * w_ppm) div w_sum")).as("credit_ppm"))
  }

  private val q312Oracle =
    """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu FROM events),
      |conv AS (SELECT user_id, event_id AS conv_id, tsu AS cts FROM e
      |         WHERE event_type = 'purchase'),
      |t AS (SELECT user_id, event_type AS channel, tsu AS tts FROM e
      |      WHERE event_type <> 'purchase'),
      |p AS (SELECT channel, conv_id,
      |        1000000 // (1::BIGINT << ((cts - tts) // 86400000000)) AS w_ppm
      |      FROM t JOIN conv USING (user_id)
      |      WHERE tts <= cts AND cts - tts <= 604800000000),
      |n AS (SELECT conv_id, sum(w_ppm)::BIGINT AS w_sum FROM p GROUP BY 1)
      |SELECT channel, count(*)::BIGINT AS n_pairs,
      |       sum((1000000 * w_ppm) // w_sum)::BIGINT AS credit_ppm
      |FROM p JOIN n USING (conv_id) GROUP BY 1""".stripMargin

  /** q314: VARIANT storage round trip — Spark 4's binary semi-structured
    * type as the STORAGE format for JSON columns (the open-format answer
    * to string-typed props): `parse_json` shreds the text to variant
    * binary, the parquet write/read round-trips it (the physical-format
    * exercise, q100/q101's family), and typed `variant_get` paths replace
    * per-row JSON re-parsing downstream. The gate aggregates the
    * extracted field, so a shredding bug anywhere in the chain lands on
    * the oracle (which reads the ORIGINAL strings — the round trip must
    * be semantically lossless).
    *
    * Scale shape: parse once at ingest, query many — the variant read
    * path prunes to (event_type, v) and the aggregation is map-side
    * combined; at 100 TB the win is parsing JSON once at write time
    * instead of per query.
    */
  def q314VariantRoundtrip(spark: SparkSession, dir: String): DataFrame = {
    val work = Scratch.stableDir("q314")
    events(spark, dir)
      .select(col("event_id"), col("event_type"), expr("parse_json(props)").as("v"))
      .write.mode("overwrite").parquet(s"$work/variant")
    spark.read.parquet(s"$work/variant")
      .select(col("event_type"), expr("variant_get(v, '$.k', 'int')").as("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("k").cast("long")).as("sum_k"),
        min(col("k")).cast("long").as("min_k"), max(col("k")).cast("long").as("max_k"))
  }

  private val q314Oracle =
    """SELECT event_type, count(*)::BIGINT AS n,
      |       sum(json_extract_string(props, '$.k')::INT)::BIGINT AS sum_k,
      |       min(json_extract_string(props, '$.k')::INT)::BIGINT AS min_k,
      |       max(json_extract_string(props, '$.k')::INT)::BIGINT AS max_k
      |FROM events GROUP BY 1""".stripMargin

  /** q317: CLUSTER (user-level) Poisson bootstrap — q303 resamples ROWS,
    * which understates uncertainty when events correlate within a user
    * (they do: one user's purchases share taste, session, lifecycle); the
    * methodologically-right unit for user-level metrics is the USER, so
    * the Poisson(1) weight is drawn once per (user, replica) and applied
    * to ALL that user's events. Metric: revenue per active user —
    * a RATIO of two weighted sums, which the bootstrap handles and a
    * closed-form variance does not. Same deterministic inverse-CDF
    * machinery ([[PoissonPpm]]); the replica spread is visibly WIDER than
    * q303's row bootstrap on the same data — that widening is the point.
    *
    * Scale shape: per-user totals first (one user_id-combined aggregate),
    * then the 16-way explode runs over the |users| contraction, not the
    * event stream.
    */
  def q317ClusterBootstrap(spark: SparkSession, dir: String): DataFrame = {
    val u = "conv(substring(md5(concat(cast(user_id AS string), '|', " +
      "cast(replica AS string))), 1, 15), 16, 10) % 1000000"
    events(spark, dir)
      .filter(col("event_type") === "purchase")
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("user_id").agg(sum(col("cents")).as("user_cents"))
      .withColumn("replica", explode(expr("sequence(0, 15)")))
      .withColumn("w", expr(poissonWeightSql(u)).cast("long"))
      .groupBy("replica")
      .agg(sum(col("w")).as("n_users_eff"),
        sum(expr("w * user_cents")).as("sum_cents"))
      .withColumn("rev_per_user_ppm", expr("(1000000 * sum_cents) div n_users_eff"))
      .select(col("replica").cast("long").as("replica"), col("n_users_eff"),
        col("sum_cents"), col("rev_per_user_ppm"))
  }

  private val q317Oracle = {
    val u = "('0x' || substr(md5(user_id::VARCHAR || '|' || replica::VARCHAR), 1, 15))" +
      "::BIGINT % 1000000"
    s"""WITH p AS (SELECT user_id, sum(floor(value * 100)::BIGINT)::BIGINT AS user_cents
       |           FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |r AS (SELECT unnest(range(0, 16)) AS replica),
       |x AS (SELECT replica, user_cents, ${poissonWeightSql(u)}::BIGINT AS w
       |      FROM p CROSS JOIN r),
       |g AS (SELECT replica, sum(w)::BIGINT AS n_users_eff,
       |             sum(w * user_cents)::BIGINT AS sum_cents
       |      FROM x GROUP BY 1)
       |SELECT replica::BIGINT AS replica, n_users_eff, sum_cents,
       |       (1000000 * sum_cents) // n_users_eff AS rev_per_user_ppm
       |FROM g""".stripMargin
  }

  /** q318: A/B sample-size (power) calculator — the design-time companion
    * to q142's z-test: from the MEASURED baseline conversion rate at the
    * USER-DAY grain (user-days with a purchase / active user-days — the
    * user grain saturates at p = 1 in this corpus, a degenerate binomial;
    * an invariant spec pins p strictly inside (0, 10⁶)), the required
    * user-days per arm for relative MDEs of 1/2/5/10 % at α = 0.05,
    * power = 0.8 via the rule of 16 (`n = 16·p(1−p)/δ²` — van Belle;
    * exact integer in ppm: `16·p·(10⁶−p) div δ²`), plus the runtime that
    * implies at the corpus's observed active-user-days-per-day rate.
    * Every figure derives from the data in integer arithmetic.
    *
    * Scale shape: one distinct-(user, day) contraction, two scalar
    * anchors broadcast onto a 4-row MDE grid.
    */
  def q318PowerAnalysis(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(col("user_id"), tsDay.as("day"),
        (col("event_type") === "purchase").cast("long").as("purch"))
      .groupBy("user_id", "day").agg(max(col("purch")).as("converted"))
    val base = ud.agg(count(lit(1)).as("n_ud"), sum(col("converted")).as("n_conv"),
      (max(col("day")) - min(col("day")) + 1).as("n_days"))
    base
      .withColumn("p_ppm", expr("(1000000 * n_conv) div n_ud"))
      .crossJoin(broadcast(
        spark.range(1).select(explode(expr("array(10000L, 20000L, 50000L, 100000L)"))
          .as("mde_rel_ppm"))))
      .withColumn("delta_ppm", expr("(p_ppm * mde_rel_ppm) div 1000000"))
      .withColumn("n_per_arm",
        expr("(16 * p_ppm * (1000000 - p_ppm)) div (delta_ppm * delta_ppm)"))
      .withColumn("days_needed",
        expr("(2 * n_per_arm * n_days + n_ud - 1) div n_ud"))
      .select("mde_rel_ppm", "p_ppm", "delta_ppm", "n_per_arm", "days_needed")
  }

  private val q318Oracle =
    """WITH ud AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         max((event_type = 'purchase')::BIGINT)::BIGINT AS converted
      |  FROM events GROUP BY 1, 2),
      |b AS (SELECT count(*)::BIGINT AS n_ud, sum(converted)::BIGINT AS n_conv,
      |             (max(day) - min(day) + 1)::BIGINT AS n_days
      |      FROM ud),
      |p AS (SELECT n_ud, n_days, (1000000 * n_conv) // n_ud AS p_ppm FROM b),
      |m AS (SELECT unnest([10000, 20000, 50000, 100000]) AS mde_rel_ppm),
      |x AS (SELECT mde_rel_ppm::BIGINT AS mde_rel_ppm, p_ppm,
      |             (p_ppm * mde_rel_ppm) // 1000000 AS delta_ppm,
      |             n_ud, n_days
      |      FROM p CROSS JOIN m)
      |SELECT mde_rel_ppm, p_ppm, delta_ppm,
      |       (16 * p_ppm * (1000000 - p_ppm)) // (delta_ppm * delta_ppm) AS n_per_arm,
      |       (2 * ((16 * p_ppm * (1000000 - p_ppm)) // (delta_ppm * delta_ppm))
      |          * n_days + n_ud - 1) // n_ud AS days_needed
      |FROM x""".stripMargin

  /** O'Brien-Fleming two-sided α = 0.05 z² boundaries for K = 4 interims,
    * in milli-units — shared literals inlined into both engines (the
    * [[PoissonPpm]] pattern); z_k = 4.049, 2.863, 2.338, 2.024.
    */
  private val ObfZ2Milli = Seq(16394L, 8197L, 5466L, 4097L)

  /** q319: group-sequential interim analysis — peeking at an experiment
    * without α-inflation (O'Brien-Fleming spending, Pocock's framing):
    * the corpus's day span splits into 4 interim windows; at each, the
    * cumulative two-arm user-day conversion difference is tested against
    * that interim's OBF boundary. Arms come from the deterministic
    * user-level hash split (the q44 gate); the statistic is compared as
    * z² in milli-units with DIVIDE-FIRST variance
    * (`p(10⁶−p) div n₁ + p(10⁶−p) div n₂` — each term bounded, no
    * n-scaled product), so the whole monitoring table is 64-bit integer
    * and engine-exact. The runtime companion to q318's design-time
    * calculator and q142's fixed-horizon z-test.
    *
    * Scale shape: one distinct-(user, day, arm) contraction; cumulative
    * interim sums are a 4-row grid join over day quartile anchors.
    */
  def q319SequentialTest(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(col("user_id"), tsDay.as("day"),
        (col("event_type") === "purchase").cast("long").as("purch"))
      .groupBy("user_id", "day").agg(max(col("purch")).as("conv"))
      .withColumn("arm",
        (graft.ext.Dedup.baseHash(concat(lit("ab1|"), col("user_id").cast("string")))
          % 2).cast("long"))
    val span = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val interims = spark.range(1, 5).select(col("id").as("k"))
    val bounds = ObfZ2Milli.zipWithIndex
      .map { case (b, i) => s"WHEN k = ${i + 1} THEN ${b}L" }
      .mkString("CASE ", " ", " END")
    val grid = interims.crossJoin(broadcast(span))
      .withColumn("cut", expr("d0 + ((d1 - d0 + 1) * k) div 4 - 1"))
    val cum = ud.crossJoin(broadcast(grid))
      .filter(col("day") <= col("cut"))
      .groupBy("k")
      .agg(
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c2"))
      .withColumn("p1_ppm", expr("(1000000 * c1) div n1"))
      .withColumn("p2_ppm", expr("(1000000 * c2) div n2"))
      .withColumn("p_ppm", expr("(1000000 * (c1 + c2)) div (n1 + n2)"))
      .withColumn("vr",
        expr("(p_ppm * (1000000 - p_ppm)) div n1 + (p_ppm * (1000000 - p_ppm)) div n2"))
      .withColumn("z2_milli",
        expr("(1000 * (p1_ppm - p2_ppm) * (p1_ppm - p2_ppm)) div vr"))
      .withColumn("bound_milli", expr(bounds))
      .withColumn("crossed", (col("z2_milli") >= col("bound_milli")).cast("long"))
    cum.select("k", "n1", "c1", "n2", "c2", "p1_ppm", "p2_ppm",
      "z2_milli", "bound_milli", "crossed")
  }

  private val q319Oracle = {
    val bounds = ObfZ2Milli.zipWithIndex
      .map { case (b, i) => s"WHEN k = ${i + 1} THEN $b" }
      .mkString("CASE ", " ", " END")
    s"""WITH ud AS (
       |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
       |         max((event_type = 'purchase')::BIGINT)::BIGINT AS conv
       |  FROM events GROUP BY 1, 2),
       |a AS (SELECT user_id, day, conv,
       |        ('0x' || substr(md5('ab1|' || user_id::VARCHAR), 1, 15))::BIGINT
       |          % 2 AS arm
       |      FROM ud),
       |s AS (SELECT min(day)::BIGINT AS d0, max(day)::BIGINT AS d1 FROM a),
       |g AS (SELECT k::BIGINT AS k, d0 + ((d1 - d0 + 1) * k) // 4 - 1 AS cut
       |      FROM s CROSS JOIN (SELECT unnest(range(1, 5)) AS k)),
       |c AS (SELECT k,
       |        sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n1,
       |        sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS c1,
       |        sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n2,
       |        sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT AS c2
       |      FROM a CROSS JOIN g WHERE day <= cut GROUP BY 1),
       |x AS (SELECT k, n1, c1, n2, c2,
       |        (1000000 * c1) // n1 AS p1_ppm,
       |        (1000000 * c2) // n2 AS p2_ppm,
       |        (1000000 * (c1 + c2)) // (n1 + n2) AS p_ppm
       |      FROM c),
       |y AS (SELECT *,
       |        (p_ppm * (1000000 - p_ppm)) // n1
       |          + (p_ppm * (1000000 - p_ppm)) // n2 AS vr
       |      FROM x)
       |SELECT k, n1, c1, n2, c2, p1_ppm, p2_ppm,
       |       (1000 * (p1_ppm - p2_ppm) * (p1_ppm - p2_ppm)) // vr AS z2_milli,
       |       ($bounds)::BIGINT AS bound_milli,
       |       ((1000 * (p1_ppm - p2_ppm) * (p1_ppm - p2_ppm)) // vr
       |          >= $bounds)::BIGINT AS crossed
       |FROM y""".stripMargin
  }

  /** q320: sample-ratio-mismatch check — the A/B health gate run before
    * any effect readout (Fabijan et al. 2019: a skewed split means the
    * assignment or logging is broken and every downstream stat is
    * garbage): 2-arm goodness-of-fit against 50/50 collapses to
    * `χ² = (n₁−n₂)²/n`, compared in centi-units against 3.84 (α = 0.05)
    * and 6.63 (α = 0.01) — all integers. Run at the USER grain (the
    * assignment unit), on the same hash split as q319.
    */
  def q320SrmCheck(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id")).distinct()
      .withColumn("arm",
        (graft.ext.Dedup.baseHash(concat(lit("ab1|"), col("user_id").cast("string")))
          % 2).cast("long"))
      .agg(sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n2"))
      .withColumn("chi2_centi",
        expr("(100 * (n1 - n2) * (n1 - n2)) div (n1 + n2)"))
      .withColumn("srm_p05", (col("chi2_centi") >= 384L).cast("long"))
      .withColumn("srm_p01", (col("chi2_centi") >= 663L).cast("long"))

  private val q320Oracle =
    """WITH u AS (SELECT DISTINCT user_id FROM events),
      |a AS (SELECT sum((('0x' || substr(md5('ab1|' || user_id::VARCHAR), 1, 15))
      |                   ::BIGINT % 2 = 0)::BIGINT)::BIGINT AS n1,
      |             sum((('0x' || substr(md5('ab1|' || user_id::VARCHAR), 1, 15))
      |                   ::BIGINT % 2 = 1)::BIGINT)::BIGINT AS n2
      |      FROM u)
      |SELECT n1, n2,
      |       (100 * (n1 - n2) * (n1 - n2)) // (n1 + n2) AS chi2_centi,
      |       ((100 * (n1 - n2) * (n1 - n2)) // (n1 + n2) >= 384)::BIGINT AS srm_p05,
      |       ((100 * (n1 - n2) * (n1 - n2)) // (n1 + n2) >= 663)::BIGINT AS srm_p01
      |FROM a""".stripMargin

  /** q321: Mann-Kendall trend test — the nonparametric IS-there-a-trend
    * companion to q174's OLS slope and q309's Holt forecast (both assume
    * a trend; this tests it): `S = Σ_{i<j} sign(y_j − y_i)` over the
    * daily-revenue series, tie-corrected variance
    * `18·Var(S) = n(n−1)(2n+5) − Σt(t−1)(2t+5)`, significance via the
    * cross-multiplied integer comparison
    * `10⁴·18·(|S|−1)² ≥ 38415·Var18` (z² ≥ 3.8415, α = 0.05) — no
    * square roots, engine-exact. Kendall's τ ships in ppm.
    *
    * Scale shape: the pair join runs over the |days| CONTRACTION
    * (calendar-bounded, never data-bounded), so the O(n²) is O(days²) —
    * model-sized at any corpus scale.
    */
  def q321MannKendall(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("day", tsDay)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("day").agg(sum(col("cents")).as("y"))
    val a = daily.select(col("day").as("di"), col("y").as("yi"))
    val b = daily.select(col("day").as("dj"), col("y").as("yj"))
    val s = a.crossJoin(b).filter(col("di") < col("dj"))
      .agg(sum(signum(col("yj") - col("yi")).cast("long")).as("s_stat"))
    val ties = daily.groupBy("y").agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(expr("t * (t - 1) * (2 * t + 5)")), lit(0L)).as("tie_term"))
    val n = daily.agg(count(lit(1)).as("n_days"))
    s.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .withColumn("var18",
        expr("n_days * (n_days - 1) * (2 * n_days + 5) - tie_term"))
      .withColumn("tau_ppm",
        expr("(1000000 * s_stat) div ((n_days * (n_days - 1)) div 2)"))
      .withColumn("significant",
        expr("(10000 * 18 * (abs(s_stat) - 1) * (abs(s_stat) - 1)" +
          " >= 38415 * var18)").cast("long"))
      .select("n_days", "s_stat", "var18", "tau_ppm", "significant")
  }

  private val q321Oracle =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |                  sum(floor(value * 100)::BIGINT)::BIGINT AS y
      |           FROM events GROUP BY 1),
      |s AS (SELECT sum(sign(b.y - a.y))::BIGINT AS s_stat
      |      FROM d a JOIN d b ON a.day < b.day),
      |t AS (SELECT coalesce(sum(t * (t - 1) * (2 * t + 5)), 0)::BIGINT AS tie_term
      |      FROM (SELECT count(*)::BIGINT AS t FROM d GROUP BY y)),
      |n AS (SELECT count(*)::BIGINT AS n_days FROM d)
      |SELECT n_days, s_stat,
      |       (n_days * (n_days - 1) * (2 * n_days + 5) - tie_term)::BIGINT AS var18,
      |       (1000000 * s_stat) // ((n_days * (n_days - 1)) // 2) AS tau_ppm,
      |       (10000 * 18 * (abs(s_stat) - 1) * (abs(s_stat) - 1)
      |          >= 38415 * (n_days * (n_days - 1) * (2 * n_days + 5) - tie_term)
      |       )::BIGINT AS significant
      |FROM s CROSS JOIN t CROSS JOIN n""".stripMargin

  /** q322: permutation test for the CUSUM changepoint — q190 finds the
    * peak-|CUSUM| day but not whether that peak is LARGER THAN CHANCE;
    * the permutation test answers it without distributional assumptions:
    * 32 DETERMINISTIC permutations (day order = md5(day|replica) rank —
    * the hash-derived shuffles both engines replay) each yield a null
    * max-|CUSUM|, and the p-value is the standard add-one rank
    * `(1 + #{null ≥ observed}) div (R + 1)` in ppm. Deviations pre-scale
    * by n (`n·y − S`, q190's discipline) so the statistic is BIGINT
    * throughout.
    *
    * Scale shape: everything after the daily contraction is |days|×32
    * rows — windows per replica over a calendar-bounded partition.
    */
  def q322PermutationTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("day", tsDay)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("day").agg(sum(col("cents")).as("y"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"))
    val wObs = Window.orderBy(col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val obs = daily.crossJoin(broadcast(stats))
      .withColumn("cusum", sum(col("n") * col("y") - col("s")).over(wObs))
      .agg(max(abs(col("cusum"))).as("obs_stat"))
    val wPerm = Window.partitionBy("r").orderBy(col("h").asc, col("day").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val perm = daily.crossJoin(broadcast(stats))
      .withColumn("r", explode(expr("sequence(1, 32)")))
      .withColumn("h", graft.ext.Dedup.baseHash(
        concat(col("day").cast("string"), lit("|"), col("r").cast("string"))))
      .withColumn("cusum", sum(col("n") * col("y") - col("s")).over(wPerm))
      .groupBy("r").agg(max(abs(col("cusum"))).as("null_stat"))
    perm.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_perm"),
        sum(when(col("null_stat") >= col("obs_stat"), 1L).otherwise(0L)).as("n_ge"),
        max(col("obs_stat")).as("obs_stat"))
      .withColumn("p_ppm", expr("(1000000 * (1 + n_ge)) div (n_perm + 1)"))
      .select("obs_stat", "n_perm", "n_ge", "p_ppm")
  }

  private val q322Oracle =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |                  sum(floor(value * 100)::BIGINT)::BIGINT AS y
      |           FROM events GROUP BY 1),
      |st AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS s FROM d),
      |oc AS (SELECT sum(n * y - s) OVER (ORDER BY day ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |       FROM d CROSS JOIN st),
      |ob AS (SELECT max(abs(cusum))::BIGINT AS obs_stat FROM oc),
      |x AS (SELECT day, y, n, s, r,
      |        ('0x' || substr(md5(day::VARCHAR || '|' || r::VARCHAR), 1, 15))::BIGINT
      |          AS h
      |      FROM d CROSS JOIN st
      |      CROSS JOIN (SELECT unnest(range(1, 33)) AS r)),
      |pc AS (SELECT r, sum(n * y - s) OVER (PARTITION BY r ORDER BY h ASC, day ASC
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cusum
      |       FROM x),
      |pm AS (SELECT r, max(abs(cusum))::BIGINT AS null_stat FROM pc GROUP BY 1),
      |g AS (SELECT count(*)::BIGINT AS n_perm,
      |             sum((null_stat >= obs_stat)::BIGINT)::BIGINT AS n_ge,
      |             max(obs_stat)::BIGINT AS obs_stat
      |      FROM pm CROSS JOIN ob)
      |SELECT obs_stat, n_perm, n_ge,
      |       (1000000 * (1 + n_ge)) // (n_perm + 1) AS p_ppm
      |FROM g""".stripMargin

  /** q323: Theil-Sen robust slope — the median of all pairwise slopes
    * (Sen 1968), the estimator that shrugs off the outlier days that
    * drag q174's least-squares line: each day pair contributes
    * `slope_ppm = 10⁶·Δcents div Δdays` (integer), the estimate is the
    * LOWER MEDIAN by (slope, day-pair) order — a deterministic pick both
    * engines make identically, no averaging of middle elements. Reported
    * beside the OLS slope so the robust-vs-classical gap is the outlier
    * diagnostic. Completes the trend toolkit: q174 fits, q321 tests,
    * q309 forecasts, q323 fits robustly.
    *
    * Scale shape: the pair join is |days|² over the calendar-bounded
    * contraction (q321's shape); the median is one sort of that bounded
    * pair set.
    */
  def q323TheilSen(spark: SparkSession, dir: String): DataFrame = {
    val raw = events(spark, dir)
      .withColumn("day", tsDay)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("day").agg(sum(col("cents")).as("y"))
    val d0 = raw.agg(min(col("day")).as("d0"))
    // center x on the first day and publish slopes in MILLI units: the
    // raw-epoch-day · 10⁶ formulation overflows 64 bits already at sf0.1
    // (the q288 divide-first discipline applied to regression moments);
    // at petabyte daily sums, coarsen y's currency unit first.
    val daily = raw.crossJoin(broadcast(d0))
      .select((col("day") - col("d0")).as("x"), col("y"))
    val a = daily.select(col("x").as("xi"), col("y").as("yi"))
    val b = daily.select(col("x").as("xj"), col("y").as("yj"))
    val slopes = a.crossJoin(b).filter(col("xi") < col("xj"))
      .select(expr("(1000 * (yj - yi)) div (xj - xi)").as("slope_milli"),
        col("xi"), col("xj"))
    val wr = Window.orderBy(col("slope_milli").asc, col("xi").asc, col("xj").asc)
    val ranked = slopes.withColumn("rn", row_number().over(wr))
    val cnt = slopes.agg(count(lit(1)).as("n_pairs"))
    val median = ranked.crossJoin(broadcast(cnt))
      .filter(col("rn") === expr("(n_pairs + 1) div 2"))
      .select(col("slope_milli").as("theil_sen_milli"), col("n_pairs"))
    // OLS slope in the same milli units for the robustness gap:
    // beta = (n·Σxy − ΣxΣy) div (n·Σx² − (Σx)²)
    val ols = daily.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
      sum(col("y")).as("sy"), sum(expr("x * y")).as("sxy"),
      sum(expr("x * x")).as("sxx"))
      .select(expr("(1000 * (n * sxy - sx * sy)) div (n * sxx - sx * sx)")
        .as("ols_milli"))
    median.crossJoin(broadcast(ols))
      .withColumn("gap_milli", abs(col("theil_sen_milli") - col("ols_milli")))
  }

  private val q323Oracle =
    """WITH d0 AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |                   sum(floor(value * 100)::BIGINT)::BIGINT AS y
      |            FROM events GROUP BY 1),
      |d AS (SELECT (day - (SELECT min(day) FROM d0))::BIGINT AS x, y FROM d0),
      |p AS (SELECT (1000 * (b.y - a.y)) // (b.x - a.x) AS slope_milli,
      |             a.x AS xi, b.x AS xj
      |      FROM d a JOIN d b ON a.x < b.x),
      |r AS (SELECT slope_milli,
      |        row_number() OVER (ORDER BY slope_milli ASC, xi ASC, xj ASC) AS rn
      |      FROM p),
      |c AS (SELECT count(*)::BIGINT AS n_pairs FROM p),
      |m AS (SELECT slope_milli AS theil_sen_milli, n_pairs
      |      FROM r CROSS JOIN c WHERE rn = (n_pairs + 1) // 2),
      |o AS (SELECT ((1000 * (count(*) * sum(x * y) - sum(x) * sum(y)))
      |               // (count(*) * sum(x * x) - sum(x) * sum(x)))::BIGINT
      |               AS ols_milli
      |      FROM d)
      |SELECT theil_sen_milli, n_pairs, ols_milli,
      |       abs(theil_sen_milli - ols_milli)::BIGINT AS gap_milli
      |FROM m CROSS JOIN o""".stripMargin

  /** q324: Kitagawa rate decomposition — "conversion moved 2 points: MIX
    * or RATE?" (Kitagawa 1955, the Oaxaca-Blinder ancestor): between the
    * first and second half of the day span, the overall user-day
    * conversion change splits per day-of-week segment into a mix effect
    * (the segment's share of traffic moved, rates held at the midpoint)
    * and a rate effect (the segment's own rate moved, share held at the
    * midpoint) — `Δ = Σ (r̄·Δw + w̄·Δr)`, midpoint weighting so the
    * decomposition carries no interaction residual. All shares and rates
    * in ppm; the signed products divide through the shared floor-division
    * CASE ([[holtFdiv]]) because Δw/Δr go negative and truncating vs
    * flooring engines would drift by one there.
    *
    * Scale shape: one distinct-(user, day) contraction, a |dow| = 7-row
    * segment table, scalar anchors broadcast.
    */
  def q324RateDecomposition(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(col("user_id"), tsDay.as("day"),
        (col("event_type") === "purchase").cast("long").as("purch"))
      .groupBy("user_id", "day").agg(max(col("purch")).as("conv"))
      .withColumn("dow", col("day") % 7)
    val span = ud.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val halves = ud.crossJoin(broadcast(span))
      .withColumn("period",
        when(col("day") <= expr("d0 + (d1 - d0) div 2"), 1L).otherwise(2L))
    val seg = halves.groupBy("dow", "period")
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val tot = seg.groupBy("period").agg(sum(col("n")).as("nt"))
    val wide = seg.join(broadcast(tot), "period")
      .withColumn("w_ppm", expr("(1000000 * n) div nt"))
      .withColumn("r_ppm", expr("(1000000 * c) div n"))
      .groupBy("dow")
      .agg(
        sum(when(col("period") === 1, col("w_ppm")).otherwise(0L)).as("w1"),
        sum(when(col("period") === 1, col("r_ppm")).otherwise(0L)).as("r1"),
        sum(when(col("period") === 2, col("w_ppm")).otherwise(0L)).as("w2"),
        sum(when(col("period") === 2, col("r_ppm")).otherwise(0L)).as("r2"))
    wide
      .withColumn("mix_ppm",
        expr(holtFdiv("((r1 + r2) div 2) * (w2 - w1)", "div")))
      .withColumn("rate_ppm",
        expr(holtFdiv("((w1 + w2) div 2) * (r2 - r1)", "div")))
      .select("dow", "w1", "r1", "w2", "r2", "mix_ppm", "rate_ppm")
  }

  private val q324Oracle =
    """WITH ud AS (
      |  SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |         max((event_type = 'purchase')::BIGINT)::BIGINT AS conv
      |  FROM events GROUP BY 1, 2),
      |s AS (SELECT min(day)::BIGINT AS d0, max(day)::BIGINT AS d1 FROM ud),
      |h AS (SELECT day % 7 AS dow, conv,
      |        CASE WHEN day <= d0 + (d1 - d0) // 2 THEN 1 ELSE 2 END AS period
      |      FROM ud CROSS JOIN s),
      |seg AS (SELECT dow, period, count(*)::BIGINT AS n, sum(conv)::BIGINT AS c
      |        FROM h GROUP BY 1, 2),
      |t AS (SELECT period, sum(n)::BIGINT AS nt FROM seg GROUP BY 1),
      |x AS (SELECT dow, period,
      |        (1000000 * n) // nt AS w_ppm, (1000000 * c) // n AS r_ppm
      |      FROM seg JOIN t USING (period)),
      |wdf AS (SELECT dow,
      |          sum(CASE WHEN period = 1 THEN w_ppm ELSE 0 END)::BIGINT AS w1,
      |          sum(CASE WHEN period = 1 THEN r_ppm ELSE 0 END)::BIGINT AS r1,
      |          sum(CASE WHEN period = 2 THEN w_ppm ELSE 0 END)::BIGINT AS w2,
      |          sum(CASE WHEN period = 2 THEN r_ppm ELSE 0 END)::BIGINT AS r2
      |        FROM x GROUP BY 1)
      |SELECT dow, w1, r1, w2, r2,
      |       FDIVMIX::BIGINT AS mix_ppm,
      |       FDIVRATE::BIGINT AS rate_ppm
      |FROM wdf""".stripMargin
      .replace("FDIVMIX", holtFdiv("((r1 + r2) // 2) * (w2 - w1)", "//"))
      .replace("FDIVRATE", holtFdiv("((w1 + w2) // 2) * (r2 - r1)", "//"))

  /** q325: forecast BACKTEST — a forecaster unevaluated is a liability;
    * the standard holdout protocol: fit q309's Holt recurrence (the SAME
    * [[holtFoldSql]] expression — the recurrence cannot fork between fit
    * and eval) on the first 80 % of the day span, project `l + h·b` over
    * the held-out tail, and publish per-day absolute percentage error
    * plus the overall MAPE, all integer ppm with a `greatest(actual, 1)`
    * zero-guard. The model-QA row for the forecasting tier, next to
    * q305/q306/q307 for retrieval and classification.
    *
    * Scale shape: the train fold runs over the ≤|days| contraction; the
    * test join is a 2-scalar broadcast onto the tail contraction; MAPE an
    * empty-frame window over the bounded test set.
    */
  def q325ForecastBacktest(spark: SparkSession, dir: String): DataFrame = {
    val daily = holtDaily(spark, dir)
    val cutDf = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(expr("d0 + ((d1 - d0) * 4) div 5").as("cut"))
    val st = daily.crossJoin(broadcast(cutDf)).filter(col("day") <= col("cut"))
      .agg(expr("sort_array(collect_list(struct(day, cents)))").as("series"))
      .select(expr(holtFoldSql).as("st"))
      .select(col("st.l").as("l"), col("st.b").as("b"))
    val w = Window.partitionBy()
    daily.crossJoin(broadcast(cutDf)).filter(col("day") > col("cut"))
      .crossJoin(broadcast(st))
      .withColumn("h", col("day") - col("cut"))
      .withColumn("forecast_cents", expr("l + h * b"))
      .withColumn("ape_ppm",
        expr("(1000000 * abs(forecast_cents - cents)) div greatest(cents, 1)"))
      .withColumn("ape_sum", sum(col("ape_ppm")).over(w))
      .withColumn("n_test", count(lit(1)).over(w))
      .select(col("day"), col("h"), col("cents").as("actual_cents"),
        col("forecast_cents"), col("ape_ppm"),
        expr("ape_sum div n_test").as("mape_ppm"))
  }

  private val q325Oracle = {
    val nl = holtL("h.l", "h.b", "tr.cents", "//")
    s"""WITH RECURSIVE d AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |         sum(floor(value * 100)::BIGINT)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |c AS (SELECT min(day) + ((max(day) - min(day)) * 4) // 5 AS cut FROM d),
       |tr AS (SELECT row_number() OVER (ORDER BY day ASC) AS i, cents
       |       FROM d CROSS JOIN c WHERE day <= cut),
       |h(i, l, b) AS (
       |  SELECT 1::BIGINT, cents, 0::BIGINT FROM tr WHERE i = 1
       |  UNION ALL
       |  SELECT tr.i::BIGINT, ($nl)::BIGINT,
       |         (${holtB("h.l", nl, "h.b", "//")})::BIGINT
       |  FROM h JOIN tr ON tr.i = h.i + 1),
       |f AS (SELECT l, b FROM h ORDER BY i DESC LIMIT 1),
       |te AS (SELECT day, cents, (day - cut)::BIGINT AS hh
       |       FROM d CROSS JOIN c WHERE day > cut),
       |x AS (SELECT day, hh, cents, (l + hh * b)::BIGINT AS forecast_cents,
       |        ((1000000 * abs(l + hh * b - cents))
       |          // greatest(cents, 1))::BIGINT AS ape_ppm
       |      FROM te CROSS JOIN f),
       |m AS (SELECT sum(ape_ppm)::BIGINT AS s, count(*)::BIGINT AS n FROM x)
       |SELECT day, hh AS h, cents AS actual_cents, forecast_cents, ape_ppm,
       |       (s // n)::BIGINT AS mape_ppm
       |FROM x CROSS JOIN m""".stripMargin
  }

  /** q330: forecast bake-off with MASE (Hyndman-Koehler 2006) — a
    * forecaster is only good RELATIVE to the naive baseline it must beat:
    * on q325's 80/20 holdout, Holt's mean absolute error against the
    * NAIVE last-train-value forecast, as `MASE_ppm = 10⁶·MAE_h div
    * MAE_n`. Under 10⁶ means the model earns its complexity; over means
    * ship the naive. The errors are integer cents; a zero naive error
    * (constant series) guards to 1.
    *
    * Scale shape: q325's fold + contraction geometry; the naive forecast
    * is ONE more broadcast scalar (the last train value).
    */
  def q330ForecastMase(spark: SparkSession, dir: String): DataFrame = {
    val daily = holtDaily(spark, dir)
    val cutDf = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(expr("d0 + ((d1 - d0) * 4) div 5").as("cut"))
    val train = daily.crossJoin(broadcast(cutDf)).filter(col("day") <= col("cut"))
    val st = train
      .agg(expr("sort_array(collect_list(struct(day, cents)))").as("series"))
      .select(expr(holtFoldSql).as("st"))
      .select(col("st.l").as("l"), col("st.b").as("b"))
    val naive = train.orderBy(col("day").desc).limit(1)
      .select(col("cents").as("last_train"))
    daily.crossJoin(broadcast(cutDf)).filter(col("day") > col("cut"))
      .crossJoin(broadcast(st)).crossJoin(broadcast(naive))
      .withColumn("h", col("day") - col("cut"))
      .agg(count(lit(1)).as("n_test"),
        sum(abs(expr("l + h * b") - col("cents"))).as("abs_err_holt"),
        sum(abs(col("last_train") - col("cents"))).as("abs_err_naive"))
      .select(col("n_test"), col("abs_err_holt"), col("abs_err_naive"),
        expr("(1000000 * abs_err_holt) div greatest(abs_err_naive, 1)")
          .as("mase_ppm"))
  }

  private val q330Oracle = {
    val nl = holtL("h.l", "h.b", "tr.cents", "//")
    s"""WITH RECURSIVE d AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |         sum(floor(value * 100)::BIGINT)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |c AS (SELECT min(day) + ((max(day) - min(day)) * 4) // 5 AS cut FROM d),
       |tr AS (SELECT row_number() OVER (ORDER BY day ASC) AS i, cents
       |       FROM d CROSS JOIN c WHERE day <= cut),
       |h(i, l, b) AS (
       |  SELECT 1::BIGINT, cents, 0::BIGINT FROM tr WHERE i = 1
       |  UNION ALL
       |  SELECT tr.i::BIGINT, ($nl)::BIGINT,
       |         (${holtB("h.l", nl, "h.b", "//")})::BIGINT
       |  FROM h JOIN tr ON tr.i = h.i + 1),
       |f AS (SELECT l, b FROM h ORDER BY i DESC LIMIT 1),
       |nv AS (SELECT cents AS last_train FROM tr ORDER BY i DESC LIMIT 1),
       |te AS (SELECT (day - cut)::BIGINT AS hh, cents
       |       FROM d CROSS JOIN c WHERE day > cut),
       |g AS (SELECT count(*)::BIGINT AS n_test,
       |        sum(abs(l + hh * b - cents))::BIGINT AS abs_err_holt,
       |        sum(abs(last_train - cents))::BIGINT AS abs_err_naive
       |      FROM te CROSS JOIN f CROSS JOIN nv)
       |SELECT n_test, abs_err_holt, abs_err_naive,
       |       (1000000 * abs_err_holt) // greatest(abs_err_naive, 1) AS mase_ppm
       |FROM g""".stripMargin
  }

  /** q331: Wald-Wolfowitz runs test — is the daily-revenue sequence
    * RANDOM around its median, or does it trend/cluster (too few runs)
    * and oscillate (too many)? The randomness check q321's trend test and
    * q322's changepoint test both implicitly assume an answer to. Runs of
    * above/below-median days counted by a lag window; significance via
    * the cross-multiplied integer z² (`z² = (R−E)²/Var` with
    * `E = 2ab/n + 1`, `Var = 2ab(2ab−n)/(n²(n−1))` — every comparison
    * cleared of denominators, no roots). Median-equal days drop, the
    * standard convention, so a + b = n exactly.
    *
    * Scale shape: everything after the daily contraction is
    * calendar-bounded; the run count is one lag window over it.
    */
  def q331RunsTest(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir)
      .withColumn("day", tsDay)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("day").agg(sum(col("cents")).as("y"))
    val med = daily.agg(expr("percentile(y, 0.5)").as("m"))
    val signed = daily.crossJoin(broadcast(med))
      .filter(col("y") =!= col("m"))
      .withColumn("s", (col("y") > col("m")).cast("long"))
    val w = Window.orderBy(col("day").asc)
    signed
      .withColumn("prev_s", lag(col("s"), 1).over(w))
      .agg(
        sum(col("s")).as("a"),
        sum(lit(1L) - col("s")).as("b"),
        (sum(when(col("prev_s").isNull || col("prev_s") =!= col("s"), 1L)
          .otherwise(0L))).as("runs"))
      .withColumn("n", col("a") + col("b"))
      // z² ≥ 3.8415  ⟺  10⁴·(R·n − (2ab+n))²·(n−1) ≥ 38415·2ab·(2ab−n)
      .withColumn("significant",
        expr("(10000 * (runs * n - (2 * a * b + n)) * (runs * n - (2 * a * b + n))" +
          " * (n - 1) >= 38415 * 2 * a * b * (2 * a * b - n))").cast("long"))
      .select("a", "b", "runs", "significant")
  }

  private val q331Oracle =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |                  sum(floor(value * 100)::BIGINT)::BIGINT AS y
      |           FROM events GROUP BY 1),
      |m AS (SELECT quantile_cont(y, 0.5) AS m FROM d),
      |s AS (SELECT day, (y > m)::BIGINT AS s FROM d CROSS JOIN m WHERE y <> m),
      |l AS (SELECT s, lag(s) OVER (ORDER BY day ASC) AS prev_s FROM s),
      |g AS (SELECT sum(s)::BIGINT AS a, sum(1 - s)::BIGINT AS b,
      |        sum(CASE WHEN prev_s IS NULL OR prev_s <> s THEN 1 ELSE 0 END)::BIGINT
      |          AS runs
      |      FROM l),
      |x AS (SELECT a, b, runs, (a + b)::BIGINT AS n FROM g)
      |SELECT a, b, runs,
      |       (10000 * (runs * n - (2 * a * b + n)) * (runs * n - (2 * a * b + n))
      |          * (n - 1) >= 38415 * 2 * a * b * (2 * a * b - n))::BIGINT
      |         AS significant
      |FROM x""".stripMargin

  /** q334: stationary distribution of the event-type Markov chain — where
    * user behavior settles in the long run, from q137's transition matrix
    * via POWER ITERATION in exact integer ppm: v₀ is uniform (remainder
    * pinned on the lexicographically-first state so Σv₀ is exactly 10⁶),
    * and each of 10 rounds applies `v'[t] = Σ_s (v[s]·m[s→t]) div
    * outdeg[s]` — per-term floor division, so both engines run the
    * identical integer recurrence and the gate is hash-exact with no
    * float fixpoint anywhere. Complements q137 (one-step probabilities)
    * and q311 (absorbing-chain removal effects): this is the ergodic
    * long-run view. States are data-driven (every type observed as a
    * transition source), not a hardcoded list.
    *
    * Scale shape: the transition-count aggregate is one user-keyed
    * shuffle with map-side combine; the collected matrix is
    * |types|² — a bounded MODEL, not data (the q311/IVF-centroid
    * discipline) — and the 10-round iteration runs on that tiny model
    * driver-side, exactly where an O(k²) fixpoint belongs.
    */
  def q334MarkovStationary(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val iters = 10
    val w = Window.partitionBy("user_id").orderBy(col("tsu").asc, col("event_id").asc)
    val m = events(spark, dir).withColumn("tsu", tsUs)
      .select(col("user_id"), col("event_id"), col("tsu"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy("prev", "event_type").agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val outdeg = m.groupBy(_._1).map { case (s, rows) => s -> rows.map(_._3).sum }
    val states = outdeg.keys.toSeq.sorted
    val base = 1000000L / states.size
    var v: Map[String, Long] = states.zipWithIndex.map { case (s, i) =>
      s -> (if (i == 0) base + 1000000L % states.size else base)
    }.toMap
    for (_ <- 1 to iters)
      v = m.filter { case (s, _, _) => v.contains(s) }
        .groupBy(_._2).map { case (t, rows) =>
          t -> rows.map { case (s, _, c) => v(s) * c / outdeg(s) }.sum
        }
    v.toSeq.map { case (s, p) => (s, outdeg.getOrElse(s, 0L), p) }
      .toDF("state", "n_out", "stat_ppm")
  }

  private val q334Oracle = {
    val iters = 10
    val vi = (1 to iters).map(i =>
      s"""v$i AS (SELECT m.cur AS st, sum((v.v * m.c) // r.tot)::BIGINT AS v
         |      FROM v${i - 1} v JOIN m ON m.prev = v.st JOIN r ON r.prev = v.st
         |      GROUP BY 1)""".stripMargin).mkString(",\n")
    s"""WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS tsu
       |           FROM events),
       |p AS (SELECT event_type AS cur,
       |        lag(event_type) OVER (PARTITION BY user_id
       |                              ORDER BY tsu ASC, event_id ASC) AS prev
       |      FROM e),
       |m AS (SELECT prev, cur, count(*)::BIGINT AS c FROM p
       |      WHERE prev IS NOT NULL GROUP BY 1, 2),
       |r AS (SELECT prev, sum(c)::BIGINT AS tot FROM m GROUP BY 1),
       |k AS (SELECT count(*)::BIGINT AS n, min(prev) AS first FROM r),
       |v0 AS (SELECT prev AS st,
       |         (1000000 // n
       |           + CASE WHEN prev = first THEN 1000000 % n ELSE 0 END)::BIGINT AS v
       |       FROM r, k),
       |$vi
       |SELECT v$iters.st AS state, coalesce(r.tot, 0)::BIGINT AS n_out,
       |       v$iters.v::BIGINT AS stat_ppm
       |FROM v$iters LEFT JOIN r ON r.prev = v$iters.st""".stripMargin
  }

  /** q335: distribution-drift monitor — the event-type mix of the
    * corpus's first time-half against its second (split at the midpoint
    * of the observed span), per-type share delta plus the total-variation
    * distance, all in exact integer ppm. The data-quality tripwire run
    * between crawl/export snapshots before training on the union: TVD
    * near 0 says the mix is stable; a large single-type `drift_ppm`
    * points at the pipeline change (a collector outage, a new event
    * source) that caused it. Kin to q237's KS (which compares VALUE
    * distributions); this compares CATEGORY mixes.
    *
    * Scale shape: one bounds aggregate (2 longs broadcast), one
    * map-side-combined (type, half) count, and the share/TVD algebra on
    * the |types| contraction — the single-partition windows run over
    * ≤|types| rows, never the corpus.
    */
  def q335DriftMonitor(spark: SparkSession, dir: String): DataFrame = {
    val ev = events(spark, dir).withColumn("tsu", tsUs)
    val bounds = ev.agg(min(col("tsu")).as("mn"), max(col("tsu")).as("mx"))
    val counts = ev.crossJoin(broadcast(bounds))
      .withColumn("h", (col("tsu") >= expr("(mn + mx) div 2")).cast("long"))
      .groupBy("event_type")
      .agg(sum(when(col("h") === 0, 1L).otherwise(0L)).as("c0"),
        sum(when(col("h") === 1, 1L).otherwise(0L)).as("c1"))
    val all = Window.partitionBy()
    counts
      .withColumn("share0_ppm", expr("(1000000 * c0) div sum(c0) OVER ()"))
      .withColumn("share1_ppm", expr("(1000000 * c1) div sum(c1) OVER ()"))
      .withColumn("drift_ppm", abs(col("share1_ppm") - col("share0_ppm")))
      .withColumn("tvd_ppm", expr("sum(drift_ppm) OVER () div 2"))
  }

  private val q335Oracle =
    """WITH e AS (SELECT event_type, epoch_us(ts) AS tsu FROM events),
      |b AS (SELECT min(tsu) AS mn, max(tsu) AS mx FROM e),
      |c AS (SELECT event_type,
      |        sum((tsu <  (mn + mx) // 2)::BIGINT)::BIGINT AS c0,
      |        sum((tsu >= (mn + mx) // 2)::BIGINT)::BIGINT AS c1
      |      FROM e CROSS JOIN b GROUP BY 1),
      |s AS (SELECT event_type, c0, c1,
      |        ((1000000 * c0) // sum(c0) OVER ())::BIGINT AS share0_ppm,
      |        ((1000000 * c1) // sum(c1) OVER ())::BIGINT AS share1_ppm
      |      FROM c)
      |SELECT event_type, c0, c1, share0_ppm, share1_ppm,
      |       abs(share1_ppm - share0_ppm)::BIGINT AS drift_ppm,
      |       (sum(abs(share1_ppm - share0_ppm)) OVER () // 2)::BIGINT AS tvd_ppm
      |FROM s""".stripMargin

  /** q337: HyperLogLog accuracy gate — per-type `approx_count_distinct`
    * (rsd 0.01) beside the exact distinct-user count, gated on a
    * machine-checked within-±3% flag. The oracle cannot reproduce the HLL
    * estimate (it is engine-internal), so — the q31/q83 recall-gate
    * protocol — the gated columns are the exact count and the tolerance
    * VERDICT the oracle pins TRUE: a sketch drifting out of tolerance
    * fails the hash gate, which is precisely the claim a user of the
    * sketch needs held. HLL is THE count-distinct at 100 TB (fixed
    * registers, map-side merge, no distinct shuffle); this row keeps its
    * error contract honest.
    */
  def q337HllAccuracy(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_exact"),
        approx_count_distinct(col("user_id"), rsd = 0.01).as("__est"))
      .select(col("event_type"), col("n_exact"),
        (abs(col("__est") - col("n_exact")) * 100 <= col("n_exact") * 3)
          .as("within_3pct"))

  private val q337Oracle =
    """SELECT event_type, count(DISTINCT user_id)::BIGINT AS n_exact,
      |       TRUE AS within_3pct
      |FROM events GROUP BY 1""".stripMargin

  /** q338: rolling active users — per day, the exact distinct-user count
    * for that day (DAU) and for the trailing 7-day window (WAU), plus the
    * DAU/WAU stickiness ratio in ppm: the engagement surface every
    * analytics product ships. The trailing-window distinct is computed by
    * the explode-to-target-days trick — each (user, day) contraction row
    * fans to the ≤7 window ends it can serve, then one distinct count per
    * target day — which keeps the window EXACT without any
    * distinct-over-range window function (no engine has one) and without
    * per-day set state.
    *
    * Scale shape: the (user, day) distinct is the big contraction (one
    * shuffle, map-side combine); the ×7 fan-out rides that contraction,
    * never the raw event stream; final counts are map-side-combinable
    * per-day aggregates joined back to DAU on the |days| table.
    */
  def q338RollingActive(spark: SparkSession, dir: String): DataFrame = {
    val ud = events(spark, dir)
      .select(expr("(ts div 1000) div 86400000000").as("day"), col("user_id"))
      .distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud
      .select(explode(sequence(col("day"), col("day") + 6)).as("t_day"), col("user_id"))
      .groupBy("t_day").agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, dau("day") === wau("t_day"))
      .select(col("day"), col("dau"), col("wau"),
        expr("(1000000 * dau) div wau").as("stickiness_ppm"))
  }

  private val q338Oracle =
    """WITH ud AS (SELECT DISTINCT epoch_us(ts) // 86400000000 AS day, user_id
      |            FROM events),
      |dau AS (SELECT day, count(*)::BIGINT AS dau FROM ud GROUP BY 1),
      |f AS (SELECT day + i AS t_day, user_id
      |      FROM ud, unnest(range(0, 7)) AS t(i)),
      |wau AS (SELECT t_day, count(DISTINCT user_id)::BIGINT AS wau
      |        FROM f GROUP BY 1)
      |SELECT day, dau, wau,
      |       ((1000000 * dau) // wau)::BIGINT AS stickiness_ppm
      |FROM dau JOIN wau ON day = t_day""".stripMargin

  /** Holt-Winters level update in ppm (α = 0.3): the seasonal y−s[idx]
    * replaces Holt's raw y. */
  private def hwL(l: String, b: String, y: String, sIdx: String, op: String): String =
    holtFdiv(s"300000 * (($y) - ($sIdx)) + 700000 * (($l) + ($b))", op)

  /** Holt-Winters seasonal-slot update in ppm (γ = 0.2). */
  private def hwS(s: String, y: String, newL: String, op: String): String =
    holtFdiv(s"200000 * (($y) - ($newL)) + 800000 * ($s)", op)

  /** The full Holt-Winters fold (additive, weekly m = 7) as one Spark SQL
    * expression over the sorted `series` array: the first 7 days buffer and
    * initialize (l = floor-mean, b = 0, s = deviations from the mean), then
    * each day updates level/trend and ITS weekday's seasonal slot. Shares
    * [[holtFdiv]]/[[holtB]] with q309/q325/q330 so the floor-division
    * discipline cannot fork.
    */
  private def hwFoldSql: String = {
    val idx = "cast(a.i % 7L AS INT)"
    val sIdx = s"element_at(a.s, $idx + 1)"
    val nl = hwL("a.l", "a.b", "y.cents", sIdx, "div")
    val nb = holtB("a.l", nl, "a.b", "div")
    val ns = hwS(sIdx, "y.cents", nl, "div")
    val buf7 = "array_append(a.buf, y.cents)"
    val lbar = s"(aggregate($buf7, 0L, (acc, bv) -> acc + bv) div 7L)"
    s"""aggregate(series,
       |  named_struct('i', 0L, 'l', 0L, 'b', 0L,
       |    's', array_repeat(0L, 7), 'buf', cast(array() AS ARRAY<BIGINT>)),
       |  (a, y) -> CASE
       |    WHEN a.i < 6L THEN named_struct('i', a.i + 1L, 'l', 0L, 'b', 0L,
       |      's', a.s, 'buf', array_append(a.buf, y.cents))
       |    WHEN a.i = 6L THEN named_struct('i', 7L, 'l', $lbar, 'b', 0L,
       |      's', transform($buf7, sv -> sv - $lbar),
       |      'buf', cast(array() AS ARRAY<BIGINT>))
       |    ELSE named_struct('i', a.i + 1L, 'l', $nl, 'b', $nb,
       |      's', transform(a.s, (sv, j) -> CASE WHEN j = $idx THEN $ns ELSE sv END),
       |      'buf', a.buf) END)""".stripMargin
  }

  /** q347: Holt-Winters triple-exponential smoothing — the SEASONAL rung
    * of the forecasting ladder (q174 OLS → q309 Holt → here): weekly
    * additive seasonality (m = 7, γ = 0.2) on top of q309's level+trend,
    * initialized from the first week (level = floor-mean, seasonal slots =
    * deviations) and folded over the per-day revenue series entirely in
    * ppm integers. Output: the 7-day-ahead forecasts `l + h·b +
    * s[(n+h−1) mod 7]`, each with its level/trend/season decomposition —
    * so a day-of-week revenue cycle that Holt smears into trend error is
    * carried explicitly. The q325/q330 backtest machinery applies
    * unchanged if a seasonal bake-off is wanted later.
    *
    * Scale shape: identical to q309 — the corpus contracts map-side to
    * |days| rows, the inherently-sequential fold runs once over that
    * bounded array in ONE `aggregate` HOF; the oracle replays the same
    * recurrence as a recursive CTE with the seven seasonal slots as
    * columns, generated from the SAME formula strings.
    */
  def q347HoltWinters(spark: SparkSession, dir: String): DataFrame =
    holtDaily(spark, dir)
      .agg(expr("sort_array(collect_list(struct(day, cents)))").as("series"))
      .select(expr("cast(size(series) AS BIGINT)").as("n"),
        expr(hwFoldSql).as("st"))
      .select(col("n"), col("st"), explode(expr("sequence(1L, 7L)")).as("h"))
      .select(col("h"),
        col("st.l").as("level_cents"), col("st.b").as("trend_cents"),
        expr("element_at(st.s, cast((n + h - 1) % 7 AS INT) + 1)").as("season_cents"),
        expr("st.l + h * st.b + element_at(st.s, cast((n + h - 1) % 7 AS INT) + 1)")
          .as("forecast_cents"))

  private val q347Oracle = {
    val sIdx = "(CASE h.i % 7 " +
      (0 to 6).map(k => s"WHEN $k THEN h.s$k").mkString(" ") + " END)"
    val nl = hwL("h.l", "h.b", "o.cents", sIdx, "//")
    val nb = holtB("h.l", nl, "h.b", "//")
    val ns = hwS(sIdx, "o.cents", nl, "//")
    val sUpd = (0 to 6).map(k =>
      s"(CASE WHEN (h.i % 7) = $k THEN ($ns) ELSE h.s$k END)::BIGINT")
      .mkString(",\n|         ")
    val sInit = (1 to 7).map(k => s"(f7[$k] - lbar)::BIGINT").mkString(", ")
    val sFin = "(CASE (nn.n + g.h - 1) % 7 " +
      (0 to 6).map(k => s"WHEN $k THEN fin.s$k").mkString(" ") + " END)"
    s"""WITH RECURSIVE d AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |         sum(floor(value * 100)::BIGINT)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |o AS (SELECT row_number() OVER (ORDER BY day ASC) AS i, cents FROM d),
       |nn AS (SELECT max(i)::BIGINT AS n FROM o),
       |ini AS (SELECT (sum(cents) // 7)::BIGINT AS lbar,
       |               list(cents ORDER BY i ASC) AS f7
       |        FROM o WHERE i <= 7),
       |h(i, l, b, s0, s1, s2, s3, s4, s5, s6) AS (
       |  SELECT 7::BIGINT, lbar, 0::BIGINT, $sInit FROM ini
       |  UNION ALL
       |  SELECT o.i::BIGINT, ($nl)::BIGINT, ($nb)::BIGINT,
       |         $sUpd
       |  FROM h JOIN o ON o.i = h.i + 1),
       |fin AS (SELECT * FROM h ORDER BY i DESC LIMIT 1)
       |SELECT g.h::BIGINT AS h, fin.l AS level_cents, fin.b AS trend_cents,
       |       $sFin::BIGINT AS season_cents,
       |       (fin.l + g.h * fin.b + $sFin)::BIGINT AS forecast_cents
       |FROM fin CROSS JOIN nn CROSS JOIN (SELECT unnest(range(1, 8)) AS h) g""".stripMargin
  }

  /** q348: seasonal bake-off on a 6-day holdout — q330's MASE discipline
    * applied to q347: Holt-Winters fit on the first n−6 days forecasts the
    * last 6, judged against the SEASONAL-NAIVE baseline (last observed
    * same-weekday value from the train window — the correct null model for
    * a seasonal forecaster; beating plain naive is not enough). Output:
    * per-holdout-day actual vs both forecasts, plus the
    * `10⁶·ΣAE_hw div ΣAE_sn` ratio (< 10⁶ ⇒ the seasonality earned its
    * complexity) repeated per row. Same shared formula strings as q347,
    * so fit and eval cannot fork.
    *
    * Scale shape: q347's — one |days| contraction, one fold over the
    * train prefix, a 6-row eval join; the ratio is a window over 6 rows.
    */
  def q348SeasonalBakeoff(spark: SparkSession, dir: String): DataFrame =
    holtDaily(spark, dir)
      .agg(expr("sort_array(collect_list(struct(day, cents)))").as("series"))
      .select(expr("cast(size(series) AS BIGINT)").as("n"), col("series"))
      .select(col("n"), col("series"),
        expr("cast(size(series) AS BIGINT) - 6L").as("tn"),
        expr(hwFoldSql.replace("aggregate(series,",
          "aggregate(slice(series, 1, size(series) - 6),")).as("st"))
      .select(col("tn"), col("series"), col("st"),
        explode(expr("sequence(1L, 6L)")).as("h"))
      .select(col("h"),
        expr("element_at(series, cast(tn + h AS INT)).cents").as("actual_cents"),
        expr("st.l + h * st.b + element_at(st.s, cast((tn + h - 1) % 7 AS INT) + 1)")
          .as("hw_cents"),
        expr("element_at(series, cast(tn + h - 7 AS INT)).cents").as("sn_cents"))
      .withColumn("ratio_ppm",
        expr("""CASE WHEN sum(abs(actual_cents - sn_cents)) OVER () = 0 THEN NULL
                |ELSE (1000000 * sum(abs(actual_cents - hw_cents)) OVER ())
                |  div sum(abs(actual_cents - sn_cents)) OVER () END""".stripMargin))

  private val q348Oracle = {
    val sIdx = "(CASE h.i % 7 " +
      (0 to 6).map(k => s"WHEN $k THEN h.s$k").mkString(" ") + " END)"
    val nl = hwL("h.l", "h.b", "o.cents", sIdx, "//")
    val nb = holtB("h.l", nl, "h.b", "//")
    val ns = hwS(sIdx, "o.cents", nl, "//")
    val sUpd = (0 to 6).map(k =>
      s"(CASE WHEN (h.i % 7) = $k THEN ($ns) ELSE h.s$k END)::BIGINT")
      .mkString(",\n|         ")
    val sInit = (1 to 7).map(k => s"(f7[$k] - lbar)::BIGINT").mkString(", ")
    val sFin = "(CASE (nn.tn + g.h - 1) % 7 " +
      (0 to 6).map(k => s"WHEN $k THEN fin.s$k").mkString(" ") + " END)"
    s"""WITH RECURSIVE d AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |         sum(floor(value * 100)::BIGINT)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |oo AS (SELECT row_number() OVER (ORDER BY day ASC) AS i, cents FROM d),
       |nn AS (SELECT (max(i) - 6)::BIGINT AS tn FROM oo),
       |o AS (SELECT i, cents FROM oo CROSS JOIN nn WHERE i <= tn),
       |ini AS (SELECT (sum(cents) // 7)::BIGINT AS lbar,
       |               list(cents ORDER BY i ASC) AS f7
       |        FROM o WHERE i <= 7),
       |h(i, l, b, s0, s1, s2, s3, s4, s5, s6) AS (
       |  SELECT 7::BIGINT, lbar, 0::BIGINT, $sInit FROM ini
       |  UNION ALL
       |  SELECT o.i::BIGINT, ($nl)::BIGINT, ($nb)::BIGINT,
       |         $sUpd
       |  FROM h JOIN o ON o.i = h.i + 1),
       |fin AS (SELECT * FROM h ORDER BY i DESC LIMIT 1),
       |ev AS (SELECT g.h::BIGINT AS h,
       |         a.cents AS actual_cents,
       |         (fin.l + g.h * fin.b + $sFin)::BIGINT AS hw_cents,
       |         sn.cents AS sn_cents
       |       FROM fin CROSS JOIN nn
       |       CROSS JOIN (SELECT unnest(range(1, 7)) AS h) g
       |       JOIN oo a ON a.i = nn.tn + g.h
       |       JOIN oo sn ON sn.i = nn.tn + g.h - 7)
       |SELECT h, actual_cents, hw_cents, sn_cents,
       |       (CASE WHEN sum(abs(actual_cents - sn_cents)) OVER () = 0 THEN NULL
       |        ELSE (1000000 * sum(abs(actual_cents - hw_cents)) OVER ())
       |          // sum(abs(actual_cents - sn_cents)) OVER () END)::BIGINT AS ratio_ppm
       |FROM ev""".stripMargin
  }

  /** q349: lead-lag cross-correlation — at which day offset does the
    * click series best explain the purchase series? For every lag L in
    * −7..7, the scaled-integer covariance `n·Σ(c_t·p_{t+L}) − Σc·Σp`
    * over the overlapping days and its per-mille normalization by the
    * floor-sqrt variances (the q333 discipline applied to a LAGGED pair),
    * plus the argmax lag repeated per row. The marketing/ops question
    * ("does activity lead conversions, and by how much?") that
    * same-day correlation cannot answer; the whole ±7 sweep costs one
    * 15-way fan-out of the |days| contraction.
    *
    * Scale shape: two map-side-combined daily counts, a ±7 explode of the
    * |days| table, one equi-join on (lag, day), per-lag 1-row aggregates;
    * the argmax is a window over 15 rows.
    */
  def q349LeadLag(spark: SparkSession, dir: String): DataFrame = {
    def daily(t: String, as: String) = events(spark, dir)
      .filter(col("event_type") === t)
      .groupBy(tsDay.as("day")).agg(count(lit(1)).as(as))
    val c = daily("click", "c")
    val p = daily("purchase", "p")
    val lagged = c
      .select(col("day"), col("c"), explode(expr("sequence(-7L, 7L)")).as("lag"))
      .withColumn("p_day", col("day") + col("lag"))
      .join(p.select(col("day").as("p_day"), col("p")), Seq("p_day"))
    val perLag = lagged.groupBy("lag")
      .agg(count(lit(1)).as("n"),
        sum(col("c")).as("sc"), sum(col("p")).as("sp"),
        sum(col("c") * col("p")).as("scp"),
        sum(col("c") * col("c")).as("scc"),
        sum(col("p") * col("p")).as("spp"))
      .withColumn("scov", expr("n * scp - sc * sp"))
      .withColumn("__sdc", floor(sqrt(expr("cast(n * scc - sc * sc AS DOUBLE)"))).cast("long"))
      .withColumn("__sdp", floor(sqrt(expr("cast(n * spp - sp * sp AS DOUBLE)"))).cast("long"))
      // negative numerators are safe: DuckDB's integer `//` truncates
      // toward zero exactly like Spark's `div`
      .withColumn("corr_pm",
        expr("CASE WHEN __sdc * __sdp = 0 THEN NULL" +
          " ELSE (1000 * scov) div (__sdc * __sdp) END"))
    // argmax by (corr_pm, -|lag|, lag): the strongest correlation, ties to
    // the smallest absolute (then signed) lag — deterministic
    perLag.withColumn("best_lag",
        expr("max_by(lag, struct(corr_pm, -abs(lag), -lag)) OVER ()"))
      .select("lag", "n", "scov", "corr_pm", "best_lag")
  }

  private val q349Oracle =
    """WITH e AS (SELECT event_type, epoch_us(ts) // 86400000000 AS day FROM events),
      |c AS (SELECT day, count(*)::BIGINT AS c FROM e WHERE event_type = 'click' GROUP BY 1),
      |p AS (SELECT day, count(*)::BIGINT AS p FROM e WHERE event_type = 'purchase' GROUP BY 1),
      |j AS (SELECT g.lag, c.c, p.p
      |      FROM c CROSS JOIN (SELECT unnest(range(-7, 8)) AS lag) g
      |      JOIN p ON p.day = c.day + g.lag),
      |a AS (SELECT lag, count(*)::BIGINT AS n,
      |        sum(c)::BIGINT AS sc, sum(p)::BIGINT AS sp,
      |        sum(c * p)::BIGINT AS scp, sum(c * c)::BIGINT AS scc,
      |        sum(p * p)::BIGINT AS spp
      |      FROM j GROUP BY 1),
      |x AS (SELECT lag, n, (n * scp - sc * sp)::BIGINT AS scov,
      |        floor(sqrt((n * scc - sc * sc)::DOUBLE))::BIGINT AS sdc,
      |        floor(sqrt((n * spp - sp * sp)::DOUBLE))::BIGINT AS sdp
      |      FROM a),
      |y AS (SELECT lag::BIGINT AS lag, n, scov,
      |        (CASE WHEN sdc * sdp = 0 THEN NULL
      |              ELSE (1000 * scov) // (sdc * sdp) END)::BIGINT AS corr_pm
      |      FROM x)
      |SELECT lag, n, scov, corr_pm,
      |       (arg_max(lag, lpad((corr_pm + 2000)::VARCHAR, 8, '0')
      |           || lpad((7 - abs(lag))::VARCHAR, 2, '0')
      |           || lpad((7 - lag)::VARCHAR, 2, '0')) OVER ())::BIGINT AS best_lag
      |FROM y""".stripMargin

  /** q350: forecast PREDICTION INTERVALS — the uncertainty the point
    * forecasts (q309/q347) lack: in-sample one-step-ahead residuals
    * `y_t − (l_{t−1} + b_{t−1})` for every t ≥ 2, their exact discrete
    * P10/P50/P90 (sorted-array indexing, identical convention both
    * engines), and the 7-day-ahead Holt forecasts published as
    * lo/mid/hi bands. The operational "will revenue stay inside the
    * cone?" readout; a breach is the alert condition.
    *
    * Scale shape: the residual pass re-folds each length-(t−1) prefix of
    * the |days| array — O(|days|²) lambda steps on a ~30-element array
    * inside ONE interpreted expression on a 1-row frame (the
    * contraction-sized tail where that is free); the oracle reads the
    * same states off its recursion table h directly. Formula strings
    * shared with q309, so the recurrence cannot fork.
    */
  def q350ForecastIntervals(spark: SparkSession, dir: String): DataFrame = {
    val prefixFold = holtFoldOn("slice(series, 1, cast(t AS INT) - 1)")
    def rq(p: Double, as: String) =
      expr(s"element_at(res, cast(floor((size(res) - 1) * $p) AS INT) + 1)").as(as)
    holtDaily(spark, dir)
      .agg(expr("sort_array(collect_list(struct(day, cents)))").as("series"))
      .select(expr(holtFoldSql).as("st"),
        expr(s"""array_sort(transform(sequence(2L, cast(size(series) AS BIGINT)),
          | t -> element_at(series, cast(t AS INT)).cents
          |      - $prefixFold.l - $prefixFold.b))""".stripMargin).as("res"))
      .select(col("st"), rq(0.1, "r10"), rq(0.5, "r50"), rq(0.9, "r90"),
        explode(expr("sequence(1L, 7L)")).as("h"))
      .select(col("h"),
        expr("st.l + h * st.b").as("forecast_cents"),
        expr("st.l + h * st.b + r10").as("lo_cents"),
        expr("st.l + h * st.b + r50").as("mid_cents"),
        expr("st.l + h * st.b + r90").as("hi_cents"))
  }

  private val q350Oracle = {
    val nl = holtL("h.l", "h.b", "o.cents", "//")
    def rq(p: Double) = s"rs[cast(floor((m - 1) * $p) AS INT) + 1]"
    s"""WITH RECURSIVE d AS (
       |  SELECT epoch_us(ts) // 86400000000 AS day,
       |         sum(floor(value * 100)::BIGINT)::BIGINT AS cents
       |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
       |o AS (SELECT row_number() OVER (ORDER BY day ASC) AS i, cents FROM d),
       |h(i, l, b) AS (
       |  SELECT 1::BIGINT, cents, 0::BIGINT FROM o WHERE i = 1
       |  UNION ALL
       |  SELECT o.i::BIGINT, ($nl)::BIGINT,
       |         (${holtB("h.l", nl, "h.b", "//")})::BIGINT
       |  FROM h JOIN o ON o.i = h.i + 1),
       |res AS (SELECT (o.cents - hp.l - hp.b)::BIGINT AS r
       |        FROM o JOIN h hp ON hp.i = o.i - 1 WHERE o.i >= 2),
       |rl AS (SELECT list(r ORDER BY r ASC) AS rs, count(*)::BIGINT AS m FROM res),
       |fin AS (SELECT l, b FROM h ORDER BY i DESC LIMIT 1)
       |SELECT g.h::BIGINT AS h,
       |       (fin.l + g.h * fin.b)::BIGINT AS forecast_cents,
       |       (fin.l + g.h * fin.b + ${rq(0.1)})::BIGINT AS lo_cents,
       |       (fin.l + g.h * fin.b + ${rq(0.5)})::BIGINT AS mid_cents,
       |       (fin.l + g.h * fin.b + ${rq(0.9)})::BIGINT AS hi_cents
       |FROM fin CROSS JOIN rl
       |CROSS JOIN (SELECT unnest(range(1, 8)) AS h) g""".stripMargin
  }

  /** q351: Kaplan-Meier churn survival curve (Kaplan & Meier JASA 1958) —
    * the product-limit estimator over user lifetimes: a user is BORN on
    * their first event day, CHURNS at their last if it precedes the
    * observation horizon (the corpus' max day), and is CENSORED at the
    * horizon otherwise — the censoring-aware answer to "what fraction of
    * users survive past t days?" that a naive lifetime histogram biases
    * low (it counts still-active users as already gone). Survival in
    * exact integer ppm: `s_t = s_{t-1} · (n_t − d_t) div n_t` with
    * at-risk `n_t` peeled front-to-back, plus the discrete hazard
    * `10⁶·d_t div n_t` per lifetime day.
    *
    * Scale shape: ONE user-keyed groupBy contracts 100 TB of events to
    * |users| lifetime rows, immediately re-contracted to the bounded
    * ≤|days|² (first_day, last_day) pair table — so the horizon anchor is
    * an `OVER ()` on THAT contraction, not a second scan of the event log
    * (the crossJoin-a-1-row-anchor pattern would recompute the whole
    * user aggregation for one max). The KM recurrence then folds the
    * ≤|days| life table inside a single expression on a 1-row frame — no
    * global window over big data, no driver iteration. The oracle
    * replays the identical integer recurrence on its recursion table.
    */
  def q351KaplanMeier(spark: SparkSession, dir: String): DataFrame = {
    val outT = "array<struct<t:bigint,at_risk:bigint,churned:bigint," +
      "censored:bigint,surv_ppm:bigint,hazard_ppm:bigint>>"
    events(spark, dir)
      .withColumn("day", tsDay)
      .groupBy("user_id")
      .agg(min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .groupBy("first_day", "last_day").agg(count(lit(1)).as("m"))
      .withColumn("churn",
        (col("last_day") < max(col("last_day")).over(Window.partitionBy())).cast("long"))
      .select((col("last_day") - col("first_day") + lit(1L)).as("t"),
        col("m"), col("churn"))
      .groupBy("t")
      .agg(sum(col("m") * col("churn")).as("d"),
        sum(col("m") * (lit(1L) - col("churn"))).as("c"))
      .agg(expr("sort_array(collect_list(struct(t, d, c)))").as("a"))
      .select(explode(expr(
        s"""aggregate(a,
           |  named_struct('n', aggregate(a, 0L, (s, x) -> s + x.d + x.c),
           |    's', 1000000L, 'out', cast(array() AS $outT)),
           |  (acc, x) -> named_struct(
           |    'n', acc.n - x.d - x.c,
           |    's', (acc.s * (acc.n - x.d)) div acc.n,
           |    'out', concat(acc.out, array(named_struct(
           |      't', x.t, 'at_risk', acc.n, 'churned', x.d, 'censored', x.c,
           |      'surv_ppm', (acc.s * (acc.n - x.d)) div acc.n,
           |      'hazard_ppm', (1000000L * x.d) div acc.n)))),
           |  acc -> acc.out)""".stripMargin)).as("r"))
      .select(col("r.t").as("t"), col("r.at_risk").as("at_risk"),
        col("r.churned").as("churned"), col("r.censored").as("censored"),
        col("r.surv_ppm").as("surv_ppm"), col("r.hazard_ppm").as("hazard_ppm"))
  }

  private val q351Oracle =
    """WITH RECURSIVE l AS (
      |  SELECT user_id, min(epoch_us(ts) // 86400000000) AS fd,
      |         max(epoch_us(ts) // 86400000000) AS ld
      |  FROM events GROUP BY 1),
      |h AS (SELECT max(ld) AS hd FROM l),
      |u AS (SELECT (ld - fd + 1) AS t,
      |             CASE WHEN ld < hd THEN 1 ELSE 0 END AS churn
      |      FROM l CROSS JOIN h),
      |tb AS (SELECT t, sum(churn)::BIGINT AS d,
      |              (count(*) - sum(churn))::BIGINT AS c
      |       FROM u GROUP BY 1),
      |o AS (SELECT row_number() OVER (ORDER BY t ASC) AS i, t, d, c FROM tb),
      |tot AS (SELECT sum(d + c)::BIGINT AS n0 FROM o),
      |km(i, t, n, d, c, s) AS (
      |  SELECT o.i, o.t, tot.n0, o.d, o.c,
      |         ((1000000 * (tot.n0 - o.d)) // tot.n0)::BIGINT
      |  FROM o CROSS JOIN tot WHERE o.i = 1
      |  UNION ALL
      |  SELECT o.i, o.t, (km.n - km.d - km.c)::BIGINT, o.d, o.c,
      |         ((km.s * (km.n - km.d - km.c - o.d))
      |            // (km.n - km.d - km.c))::BIGINT
      |  FROM km JOIN o ON o.i = km.i + 1)
      |SELECT t::BIGINT AS t, n::BIGINT AS at_risk, d::BIGINT AS churned,
      |       c::BIGINT AS censored, s::BIGINT AS surv_ppm,
      |       ((1000000 * d) // n)::BIGINT AS hazard_ppm
      |FROM km""".stripMargin

  /** q352: stratified treatment-effect estimate with a positivity guard —
    * the observational-causal readout the A/B tier (q304 z-test, q318
    * power) cannot give when assignment wasn't randomized: does EARLY
    * FRICTION (an `error` among the user's first five events) depress
    * purchase revenue, adjusting for the activity confounder (active
    * users both hit more errors AND buy more)? Users stratify by
    * event-count bucket (`n_ev div 4`); within each stratum the
    * treated/control purchase-cents means difference is exact in
    * micro-cents (`10⁶·Σy div n`, truncating div — verified identical to
    * DuckDB `//` on negatives); the ATE is the user-weighted mean of
    * per-stratum diffs over ON-SUPPORT strata only (both arms present —
    * the discrete-propensity IPW estimand), published beside the NAIVE
    * unadjusted diff so the confounding bias is machine-visible, plus
    * off-support strata/user counts (the positivity violations IPW
    * silently extrapolates over).
    *
    * Scale shape: treatment needs the first-5 rank — one USER-keyed
    * window (partitioned, never global); then one user-keyed groupBy
    * contracts the event log, one |strata|-keyed count lands the bounded
    * stratum table, and the ATE is a 1-row aggregate over it — no
    * global window, no join, no collect.
    */
  def q352StratifiedAte(spark: SparkSession, dir: String): DataFrame = {
    val ok = "n1 > 0 AND n0 > 0"
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), Tables.tsUs.as("ts_us"), col("event_id"),
        col("event_type"), col("value"))
      .withColumn("i", row_number().over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_ev"),
        max((col("event_type") === "error" && col("i") <= 5).cast("long")).as("z"),
        sum(when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).otherwise(0L)).as("y"))
      .groupBy(expr("n_ev div 4").as("stratum"))
      .agg(sum(col("z")).as("n1"), (count(lit(1)) - sum(col("z"))).as("n0"),
        sum(col("y") * col("z")).as("y1"),
        sum(col("y") * (lit(1L) - col("z"))).as("y0"))
      .agg(
        expr(s"sum(CASE WHEN $ok THEN n1 + n0 ELSE 0L END)").as("users_on"),
        // greatest(.,1) is a no-op on the taken branch (the guard pins
        // n1,n0 > 0) but keeps ANSI div alive when aggregate-codegen CSE
        // hoists the division out of the CASE on an empty-arm stratum
        expr(s"""sum(CASE WHEN $ok THEN (n1 + n0) *
             |  ((1000000L * y1) div greatest(n1, 1L)
             |   - (1000000L * y0) div greatest(n0, 1L))
             |  ELSE 0L END)""".stripMargin).as("ate_num"),
        expr(s"sum(CASE WHEN $ok THEN 1L ELSE 0L END)").as("n_strata_on"),
        expr(s"sum(CASE WHEN $ok THEN 0L ELSE 1L END)").as("n_strata_off"),
        expr(s"sum(CASE WHEN $ok THEN 0L ELSE n1 + n0 END)").as("users_off"),
        sum(col("y1")).as("ty1"), sum(col("n1")).as("tn1"),
        sum(col("y0")).as("ty0"), sum(col("n0")).as("tn0"))
      .select(expr("ate_num div users_on").as("ate_ucents"),
        expr("(1000000L * ty1) div tn1 - (1000000L * ty0) div tn0")
          .as("naive_ucents"),
        col("n_strata_on"), col("n_strata_off"),
        col("users_on"), col("users_off"))
  }

  private val q352Oracle =
    """WITH r AS (
      |  SELECT user_id, event_type, value,
      |         row_number() OVER (PARTITION BY user_id
      |                            ORDER BY epoch_us(ts), event_id) AS i
      |  FROM events),
      |u AS (
      |  SELECT user_id, count(*) AS n_ev,
      |         max(CASE WHEN event_type = 'error' AND i <= 5
      |             THEN 1 ELSE 0 END) AS z,
      |         sum(CASE WHEN event_type = 'purchase'
      |             THEN floor(value * 100)::BIGINT ELSE 0 END)::BIGINT AS y
      |  FROM r GROUP BY 1),
      |s AS (
      |  SELECT n_ev // 4 AS stratum, sum(z)::BIGINT AS n1,
      |         (count(*) - sum(z))::BIGINT AS n0,
      |         sum(y * z)::BIGINT AS y1, sum(y * (1 - z))::BIGINT AS y0
      |  FROM u GROUP BY 1),
      |g AS (
      |  SELECT sum(CASE WHEN n1 > 0 AND n0 > 0 THEN n1 + n0 ELSE 0 END)::BIGINT AS users_on,
      |         sum(CASE WHEN n1 > 0 AND n0 > 0 THEN (n1 + n0) *
      |             ((1000000 * y1) // n1 - (1000000 * y0) // n0)
      |             ELSE 0 END)::BIGINT AS ate_num,
      |         sum(CASE WHEN n1 > 0 AND n0 > 0 THEN 1 ELSE 0 END)::BIGINT AS n_strata_on,
      |         sum(CASE WHEN n1 > 0 AND n0 > 0 THEN 0 ELSE 1 END)::BIGINT AS n_strata_off,
      |         sum(CASE WHEN n1 > 0 AND n0 > 0 THEN 0 ELSE n1 + n0 END)::BIGINT AS users_off,
      |         sum(y1)::BIGINT AS ty1, sum(n1)::BIGINT AS tn1,
      |         sum(y0)::BIGINT AS ty0, sum(n0)::BIGINT AS tn0
      |  FROM s)
      |SELECT (ate_num // users_on)::BIGINT AS ate_ucents,
      |       ((1000000 * ty1) // tn1 - (1000000 * ty0) // tn0)::BIGINT AS naive_ucents,
      |       n_strata_on, n_strata_off, users_on, users_off
      |FROM g""".stripMargin

  /** q353: top event PATHS (Amplitude Pathfinder analogue) — the most
    * common 3-step in-session journeys: per-user time-ordered event-type
    * trigrams counted corpus-wide, top 10 by support with the path string
    * as the deterministic tie-break, each with its share of all trigrams
    * in exact ppm. The transition matrix (q137) says where users go NEXT;
    * paths say which full ROUTES dominate — the difference between "30%
    * of clicks lead to views" and "click→view→purchase is the #1 journey".
    *
    * Scale shape: trigram construction is two `lead`s over the USER-keyed
    * window (partitioned, never global), support is one map-side-combined
    * groupBy onto the tiny |types|³ key space, the share total is an
    * `OVER ()` on THAT contraction (a 1-row-anchor crossJoin would run
    * the whole scan+window+groupBy pipeline a second time), and top-10 is
    * `TakeOrderedAndProject` — a per-partition k-heap, no full sort.
    */
  def q353TopPaths(spark: SparkSession, dir: String): DataFrame = {
    // order on MICROS (not raw nanos) + event_id so both engines break
    // sub-microsecond ties identically — epoch_us is DuckDB's grain
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), Tables.tsUs.as("ts_us"), col("event_id"),
        col("event_type"))
      .withColumn("e2", lead(col("event_type"), 1).over(w))
      .withColumn("e3", lead(col("event_type"), 2).over(w))
      .filter(col("e3").isNotNull)
      .select(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .groupBy("path").agg(count(lit(1)).as("support"))
      .select(col("path"), col("support"),
        expr("(1000000L * support) div sum(support) OVER ()").as("share_ppm"))
      .orderBy(col("support").desc, col("path").asc)
      .limit(10)
  }

  private val q353Oracle =
    """WITH e AS (
      |  SELECT user_id, event_type,
      |         lead(event_type, 1) OVER w AS e2,
      |         lead(event_type, 2) OVER w AS e3
      |  FROM events
      |  WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)),
      |g AS (SELECT event_type || '>' || e2 || '>' || e3 AS path,
      |             count(*)::BIGINT AS support
      |      FROM e WHERE e3 IS NOT NULL GROUP BY 1),
      |t AS (SELECT sum(support)::BIGINT AS tot FROM g)
      |SELECT path, support,
      |       ((1000000 * support) // tot)::BIGINT AS share_ppm
      |FROM g CROSS JOIN t
      |ORDER BY support DESC, path ASC LIMIT 10""".stripMargin

  /** q354: time-to-convert histogram — among users whose FIRST view
    * precedes their FIRST purchase, the hour-bucketed distribution of
    * that delay with exact cumulative ppm: the "how long does conversion
    * take?" readout the funnel tier (q13/q106/q192) counts but never
    * times. Bucketed, not quantiled, on purpose: exact percentiles over
    * |converted-users| delays would need a full sort or a collected
    * array, while the bounded |buckets| histogram carries the same
    * operational answer ("90 % convert within N hours" reads off cum_ppm)
    * with ONE user-keyed groupBy and windows only over the contraction.
    */
  def q354TimeToConvert(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .select(col("user_id"), Tables.tsUs.as("ts_us"), col("event_type"))
      .groupBy("user_id")
      .agg(min(when(col("event_type") === "view", col("ts_us"))).as("v"),
        min(when(col("event_type") === "purchase", col("ts_us"))).as("p"))
      .filter(col("v").isNotNull && col("p").isNotNull && col("p") > col("v"))
      .select(expr("(p - v) div 3600000000L").as("bucket_h"))
      .groupBy("bucket_h").agg(count(lit(1)).as("n"))
      .select(col("bucket_h"), col("n"),
        expr("(1000000L * sum(n) OVER (ORDER BY bucket_h)) div sum(n) OVER ()")
          .as("cum_ppm"))

  private val q354Oracle =
    """WITH f AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'view' THEN epoch_us(ts) END) AS v,
      |         min(CASE WHEN event_type = 'purchase' THEN epoch_us(ts) END) AS p
      |  FROM events GROUP BY 1),
      |g AS (SELECT (p - v) // 3600000000 AS bucket_h, count(*)::BIGINT AS n
      |      FROM f WHERE v IS NOT NULL AND p IS NOT NULL AND p > v
      |      GROUP BY 1)
      |SELECT bucket_h::BIGINT AS bucket_h, n,
      |       ((1000000 * sum(n) OVER (ORDER BY bucket_h))
      |          // sum(n) OVER ())::BIGINT AS cum_ppm
      |FROM g""".stripMargin

  /** q355: inter-event time analysis — the point-process view of the
    * event log: consecutive same-user gaps in whole minutes, their exact
    * mean, and the coefficient of variation in ppm via the cross-
    * multiplied second moment (`CoV² = (n·Σg² − (Σg)²)/(Σg)²`, so
    * `cov_ppm = 10⁶·⌊√(nQ−S²)⌋ div S` — the floor-sqrt applied to an
    * integer < 2⁵², where IEEE doubles are exact, q333's convention).
    * CoV ≈ 1 is the exponential/Poisson signature; the published
    * `is_memoryless` verdict pins |cov−10⁶| ≤ 150000, the assumption
    * behind "rate × time" capacity math — bursty (CoV ≫ 1) traffic
    * breaks it. Gaps land in MINUTES so nQ stays far inside long range
    * at every tested scale (µs gaps would overflow by sf0.1).
    *
    * Scale shape: one lag over the USER-keyed window, one map-side-
    * combined 3-field global aggregate — no contraction wider than a row.
    */
  def q355Interarrival(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts_us"), col("event_id"))
    events(spark, dir)
      .select(col("user_id"), Tables.tsUs.as("ts_us"), col("event_id"))
      .withColumn("prev", lag(col("ts_us"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(expr("(ts_us - prev) div 60000000L").as("g"))
      .agg(count(lit(1)).as("n_gaps"), sum(col("g")).as("s"),
        sum(col("g") * col("g")).as("q"))
      .withColumn("isq",
        floor(sqrt((col("n_gaps") * col("q") - col("s") * col("s")).cast("double")))
          .cast("long"))
      .select(col("n_gaps"), expr("s div n_gaps").as("mean_gap_min"),
        expr("(1000000L * isq) div s").as("cov_ppm"),
        expr("CASE WHEN abs((1000000L * isq) div s - 1000000L) <= 150000L " +
          "THEN 1L ELSE 0L END").as("is_memoryless"))
  }

  private val q355Oracle =
    """WITH e AS (
      |  SELECT (epoch_us(ts) - lag(epoch_us(ts)) OVER
      |            (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)) AS d
      |  FROM events),
      |a AS (SELECT count(*)::BIGINT AS n_gaps,
      |             sum(d // 60000000)::BIGINT AS s,
      |             sum((d // 60000000) * (d // 60000000))::BIGINT AS q
      |      FROM e WHERE d IS NOT NULL),
      |c AS (SELECT n_gaps, s, q,
      |             ((1000000 * floor(sqrt((n_gaps * q - s * s)::DOUBLE))::BIGINT)
      |                // s)::BIGINT AS cov_ppm
      |      FROM a)
      |SELECT n_gaps, (s // n_gaps)::BIGINT AS mean_gap_min, cov_ppm,
      |       (CASE WHEN abs(cov_ppm - 1000000) <= 150000
      |        THEN 1 ELSE 0 END)::BIGINT AS is_memoryless
      |FROM c""".stripMargin

  /** q356: engagement concentration — exact Gini and top-decile share of
    * events-per-user: "does 10 % of the user base generate most of the
    * traffic?" — the capacity-planning and abuse-detection readout. Gini
    * from GROUPED data, integer-exact: with users bucketed by their event
    * count c (multiplicity m_c, ascending cum F), the rank-sum identity
    * `G = (Σ m_c·c·(2F_before + m_c + 1) − S(n+1)) / (nS)` needs no
    * per-user rank; the top-decile share takes whole users off the
    * descending cum — the boundary group's users all share the same c, so
    * the partial take `min(m_c, k − cum_above)·c` stays exact.
    *
    * Scale shape: one user-keyed groupBy, then a second contraction onto
    * the ≤max-events-per-user distinct-count table — every window and
    * cum runs over THAT bounded frame, never over |users|. A per-user
    * global rank (the textbook Gini) would be a full sort of the user
    * base; the grouped identity removes it.
    */
  def q356EngagementGini(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id").agg(count(lit(1)).as("c"))
      .groupBy("c").agg(count(lit(1)).as("m"))
      .select(col("c"), col("m"),
        expr("coalesce(sum(m) OVER (ORDER BY c ASC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)").as("f_before"),
        expr("coalesce(sum(m) OVER (ORDER BY c DESC ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0L)").as("cum_above"),
        expr("sum(m) OVER ()").as("n_all"))
      .agg(sum(col("m")).as("n"), sum(col("m") * col("c")).as("s"),
        sum(col("m") * col("c") * (lit(2L) * col("f_before") + col("m") + lit(1L)))
          .as("n2"),
        sum(expr("greatest(0L, least(m, n_all div 10 - cum_above)) * c")).as("top_s"))
      .select(col("n").as("n_users"), col("s").as("total_events"),
        expr("(1000000L * (n2 - s * (n + 1L))) div (n * s)").as("gini_ppm"),
        expr("(1000000L * top_s) div s").as("top_decile_share_ppm"))

  private val q356Oracle =
    """WITH u AS (SELECT user_id, count(*) AS c FROM events GROUP BY 1),
      |g AS (SELECT c, count(*)::BIGINT AS m FROM u GROUP BY 1),
      |w AS (SELECT c, m,
      |        coalesce(sum(m) OVER (ORDER BY c ASC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS f_before,
      |        coalesce(sum(m) OVER (ORDER BY c DESC
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT AS cum_above,
      |        (sum(m) OVER ())::BIGINT AS n_all
      |      FROM g),
      |a AS (SELECT sum(m)::BIGINT AS n, sum(m * c)::BIGINT AS s,
      |             sum(m * c * (2 * f_before + m + 1))::BIGINT AS n2,
      |             sum(greatest(0, least(m, n_all // 10 - cum_above)) * c)::BIGINT AS top_s
      |      FROM w)
      |SELECT n AS n_users, s AS total_events,
      |       ((1000000 * (n2 - s * (n + 1))) // (n * s))::BIGINT AS gini_ppm,
      |       ((1000000 * top_s) // s)::BIGINT AS top_decile_share_ppm
      |FROM a""".stripMargin

  /** q358: hour-of-week traffic profile with a χ² uniformity gate — the
    * 168-slot calendar fingerprint behind capacity planning and the
    * seasonality assumption q347's Holt-Winters leans on: per-slot
    * counts over a FULL slot frame (a zero hour still counts against
    * uniformity — the sequence join supplies missing slots), the exact
    * integer χ² `Σ(168·O−n)² div (168·n)` against the uniform null,
    * deterministic peak/trough slots (min slot among ties), their ratio
    * in ppm, and a pinned verdict against the χ²₁₆₇ ≈ 230 (α≈0.001)
    * critical value. At 100 TB the (168·O−n)² cross-term needs DECIMAL —
    * at every tested scale it sits far inside long range.
    *
    * Scale shape: one map-side-combined groupBy onto 168 keys, a
    * broadcast 168-row frame join, windows and the final fold only over
    * that fixed contraction.
    */
  def q358HourOfWeek(spark: SparkSession, dir: String): DataFrame = {
    val frame = spark.range(168).select(col("id").as("slot"))
    val counts = events(spark, dir)
      .select(expr("(ts div 1000 div 3600000000) % 168").as("slot"))
      .groupBy("slot").agg(count(lit(1)).as("o"))
    frame.join(counts, Seq("slot"), "left")
      .select(col("slot"), coalesce(col("o"), lit(0L)).as("o"))
      .select(col("slot"), col("o"), expr("sum(o) OVER ()").as("n"),
        expr("max(o) OVER ()").as("mx"), expr("min(o) OVER ()").as("mn"))
      .agg(max(col("n")).as("n"),
        sum((lit(168L) * col("o") - col("n")) * (lit(168L) * col("o") - col("n")))
          .as("num"),
        expr("min(CASE WHEN o = mx THEN slot END)").as("peak_slot"),
        max(col("mx")).as("peak_n"),
        expr("min(CASE WHEN o = mn THEN slot END)").as("trough_slot"),
        min(col("mn")).as("trough_n"))
      .select(col("n"), expr("num div (168L * n)").as("chi2"),
        lit(167L).as("df"), col("peak_slot"), col("peak_n"),
        col("trough_slot"), col("trough_n"),
        expr("(1000000L * peak_n) div greatest(trough_n, 1L)").as("peak_trough_ppm"),
        expr("CASE WHEN num div (168L * n) <= 230L THEN 1L ELSE 0L END")
          .as("is_uniform"))
  }

  private val q358Oracle =
    """WITH g AS (
      |  SELECT (epoch_us(ts) // 3600000000) % 168 AS slot,
      |         count(*)::BIGINT AS o
      |  FROM events GROUP BY 1),
      |f AS (SELECT t.slot, coalesce(g.o, 0)::BIGINT AS o
      |      FROM (SELECT unnest(range(0, 168)) AS slot) t
      |      LEFT JOIN g ON g.slot = t.slot),
      |w AS (SELECT slot, o, (sum(o) OVER ())::BIGINT AS n,
      |             (max(o) OVER ())::BIGINT AS mx,
      |             (min(o) OVER ())::BIGINT AS mn
      |      FROM f),
      |a AS (SELECT max(n)::BIGINT AS n,
      |             sum((168 * o - n) * (168 * o - n))::BIGINT AS num,
      |             min(CASE WHEN o = mx THEN slot END)::BIGINT AS peak_slot,
      |             max(mx)::BIGINT AS peak_n,
      |             min(CASE WHEN o = mn THEN slot END)::BIGINT AS trough_slot,
      |             min(mn)::BIGINT AS trough_n
      |      FROM w)
      |SELECT n, (num // (168 * n))::BIGINT AS chi2, 167::BIGINT AS df,
      |       peak_slot, peak_n, trough_slot, trough_n,
      |       ((1000000 * peak_n) // greatest(trough_n, 1))::BIGINT AS peak_trough_ppm,
      |       (CASE WHEN num // (168 * n) <= 230 THEN 1 ELSE 0 END)::BIGINT AS is_uniform
      |FROM a""".stripMargin

  /** q359: association rules over (user, day) event baskets — exact
    * support / confidence / lift in ppm for every directed event-type
    * pair: "users who error also purchase, same day, 1.3× base rate" —
    * the market-basket readout between q137's SEQUENTIAL transitions
    * (order matters) and q353's paths (this one ignores order inside the
    * day). Lift is the cross-multiplied `10⁶·s_ab·N div (s_a·s_b)` so no
    * intermediate rate ever floors early.
    *
    * Scale shape: baskets come from one distinct on (user, day, type);
    * the pair stage is a SELF-JOIN ON THE BASKET KEY — co-partitioned by
    * the same shuffle, and bounded ×|types|² per basket, never
    * cross-basket; supports and N are |types|-sized and 1-row
    * contractions broadcast back onto the ≤|types|² rule table.
    */
  def q359AssociationRules(spark: SparkSession, dir: String): DataFrame = {
    val b = events(spark, dir)
      .select(col("user_id"), tsDay.as("day"), col("event_type"))
      .distinct()
    val pairs = b.as("x").join(b.as("y"),
        col("x.user_id") === col("y.user_id") && col("x.day") === col("y.day") &&
          col("x.event_type") =!= col("y.event_type"))
      .groupBy(col("x.event_type").as("a"), col("y.event_type").as("c"))
      .agg(count(lit(1)).as("s_ac"))
    val supp = b.groupBy(col("event_type")).agg(count(lit(1)).as("s"))
    val nB = b.select(col("user_id"), col("day")).distinct()
      .agg(count(lit(1)).as("n_baskets"))
    pairs
      .join(broadcast(supp.select(col("event_type").as("a"), col("s").as("s_a"))), "a")
      .join(broadcast(supp.select(col("event_type").as("c"), col("s").as("s_c"))), "c")
      .crossJoin(broadcast(nB))
      .select(col("a"), col("c"), col("s_ac"),
        expr("(1000000L * s_ac) div s_a").as("conf_ppm"),
        expr("(1000000L * s_ac * n_baskets) div (s_a * s_c)").as("lift_ppm"))
  }

  private val q359Oracle =
    """WITH b AS (
      |  SELECT DISTINCT user_id, epoch_us(ts) // 86400000000 AS day, event_type
      |  FROM events),
      |p AS (SELECT x.event_type AS a, y.event_type AS c, count(*)::BIGINT AS s_ac
      |      FROM b x JOIN b y ON x.user_id = y.user_id AND x.day = y.day
      |                        AND x.event_type <> y.event_type
      |      GROUP BY 1, 2),
      |s AS (SELECT event_type, count(*)::BIGINT AS s FROM b GROUP BY 1),
      |n AS (SELECT count(*)::BIGINT AS n_baskets
      |      FROM (SELECT DISTINCT user_id, day FROM b))
      |SELECT p.a, p.c, p.s_ac,
      |       ((1000000 * p.s_ac) // sa.s)::BIGINT AS conf_ppm,
      |       ((1000000 * p.s_ac * n.n_baskets) // (sa.s * sc.s))::BIGINT AS lift_ppm
      |FROM p JOIN s sa ON sa.event_type = p.a
      |       JOIN s sc ON sc.event_type = p.c
      |       CROSS JOIN n""".stripMargin

  /** q344: time-weighted average value (TWAP) per user — each event's
    * cents value weighted by how long it REMAINED the latest observation
    * (until the user's next event), the correct mean for irregularly
    * sampled state (prices, feature values, sensor readings): an
    * arithmetic mean over-weights bursts, the duration weighting doesn't.
    * The last event of a user carries no duration and drops — the
    * standard right-open convention. Integer-exact:
    * `Σ(cents·dur_us) div Σ(dur_us)` with cents = `floor(value·100)`.
    * |cents| ≤ 10⁵, span ≤ months of micros ⇒ products stay far inside
    * BIGINT.
    *
    * Scale shape: ONE user-keyed shuffle for the `lead` window, then a
    * map-side-combinable per-user aggregate riding the same partitioning
    * — no join, no second shuffle.
    */
  def q344Twap(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("tsu").asc, col("event_id").asc)
    events(spark, dir).withColumn("tsu", tsUs)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .withColumn("nxt", lead(col("tsu"), 1).over(w))
      .filter(col("nxt").isNotNull)
      .withColumn("dur", col("nxt") - col("tsu"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_obs"),
        sum(col("dur")).as("span_us"),
        sum(col("cents") * col("dur")).as("__wsum"))
      .withColumn("twap_cents", expr("__wsum div span_us"))
      .select("user_id", "n_obs", "span_us", "twap_cents")
  }

  private val q344Oracle =
    """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS tsu,
      |             floor(value * 100)::BIGINT AS cents
      |           FROM events),
      |l AS (SELECT user_id, cents, tsu,
      |        lead(tsu) OVER (PARTITION BY user_id
      |                        ORDER BY tsu ASC, event_id ASC) AS nxt
      |      FROM e)
      |SELECT user_id, count(*)::BIGINT AS n_obs,
      |       sum(nxt - tsu)::BIGINT AS span_us,
      |       (sum(cents * (nxt - tsu)) // sum(nxt - tsu))::BIGINT AS twap_cents
      |FROM l WHERE nxt IS NOT NULL
      |GROUP BY 1""".stripMargin

  /** q345: daily OHLC bars — open/high/low/close of the purchase value
    * (cents) per day, the bar aggregation every time-series store ships
    * (candlesticks, telemetry rollups). Open/close are `min_by`/`max_by`
    * on the full (ts, event_id) event order — ONE combinable aggregate
    * carrying a single struct of state each, not a window-sort over the
    * day (the two formulations agree; the aggregate survives 100 TB days,
    * a per-day sort does not). The (tsu, event_id) tie-break makes
    * open/close deterministic under equal timestamps.
    */
  def q345OhlcBars(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir).filter(col("event_type") === "purchase")
      .withColumn("tsu", tsUs)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .withColumn("day", expr("tsu div 86400000000"))
      .groupBy("day")
      .agg(count(lit(1)).as("n"),
        min_by(col("cents"), struct(col("tsu"), col("event_id"))).as("open_c"),
        max(col("cents")).as("high_c"),
        min(col("cents")).as("low_c"),
        max_by(col("cents"), struct(col("tsu"), col("event_id"))).as("close_c"))

  private val q345Oracle =
    """WITH e AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |             lpad(epoch_us(ts)::VARCHAR, 20, '0')
      |               || lpad(event_id::VARCHAR, 12, '0') AS ord,
      |             floor(value * 100)::BIGINT AS cents
      |           FROM events WHERE event_type = 'purchase')
      |SELECT day, count(*)::BIGINT AS n,
      |       arg_min(cents, ord)::BIGINT AS open_c,
      |       max(cents)::BIGINT AS high_c,
      |       min(cents)::BIGINT AS low_c,
      |       arg_max(cents, ord)::BIGINT AS close_c
      |FROM e GROUP BY 1""".stripMargin

  /** q360: Shapley-value conversion attribution — the game-theoretic rung
    * that completes the attribution ladder (last-touch q115, linear q183,
    * position q220, Markov q311, time-decay q312): each non-purchase
    * channel's exact Shapley share of conversions under the coalition
    * value `v(S) = |converted users whose pre-conversion touched-channel
    * set ⊆ S|` (Shapley 1953; the marketing formulation of Zhao et al.
    * 2018). With 4 channels the coalition lattice is 16 rows, so the
    * entire computation after ONE user-keyed pass is algebra on a
    * broadcast-sized contraction: φ_i = Σ_{S∌i} |S|!·(n−1−|S|)!·
    * (v(S∪{i})−v(S)) kept as an exact integer with the common
    * denominator n! = 24 — `phi_micro = 10⁶·φ_num div 24` is exact
    * micro-conversions, and Σφ_num = 24·(v(N)−v(∅)) makes the published
    * shares sum to ~10⁶ by construction. Conversions with NO prior touch
    * (mask 0) are unattributable and published as `baseline_conv`.
    *
    * Scale shape: one user-keyed shuffle (window first-purchase + groupBy
    * mask ride the same key), a ≤16-row mask contraction, then all joins
    * are broadcast over ≤16×16 rows.
    */
  def q360ShapleyAttribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id")
    val masks = events(spark, dir)
      .select(col("user_id"), tsUs.as("tsu"), col("event_type"))
      .withColumn("fp",
        min(when(col("event_type") === "purchase", col("tsu"))).over(w))
      .filter(col("fp").isNotNull)
      .groupBy("user_id")
      .agg(expr("bit_or(CASE WHEN event_type <> 'purchase' AND tsu < fp THEN " +
        "CASE event_type WHEN 'click' THEN 1L WHEN 'error' THEN 2L " +
        "WHEN 'signup' THEN 4L WHEN 'view' THEN 8L ELSE 0L END " +
        "ELSE 0L END)").as("mask"))
    val cm = masks.groupBy("mask").agg(count(lit(1)).as("c"))
    val coal = spark.range(16).select(col("id").as("coal"))
    val v = coal.join(broadcast(cm), expr("(mask & coal) = mask"), "left")
      .groupBy("coal").agg(coalesce(sum("c"), lit(0L)).as("v_s"))
    val ch = spark.range(4).select(
      expr("CASE id WHEN 0 THEN 'click' WHEN 1 THEN 'error' " +
        "WHEN 2 THEN 'signup' ELSE 'view' END").as("channel"),
      expr("shiftleft(1L, cast(id AS INT))").as("bit"))
    val vs = v.select(col("coal").as("s"), col("v_s"))
    val vi = v.select(col("coal").as("si"), col("v_s").as("v_si"))
    val tot = v.agg(
      sum(when(col("coal") === 0, col("v_s"))).as("v0"),
      sum(when(col("coal") === 15, col("v_s"))).as("v_all"))
    ch.crossJoin(broadcast(vs)).filter(expr("(s & bit) = 0"))
      .join(broadcast(vi), expr("si = (s | bit)"))
      // n=4 coalition weights |S|!·(n−1−|S|)!: 0→6, 1→2, 2→2, 3→6 (sum 24)
      .withColumn("wgt", expr("CASE bit_count(s) WHEN 0 THEN 6L " +
        "WHEN 1 THEN 2L WHEN 2 THEN 2L ELSE 6L END"))
      .groupBy("channel")
      .agg(sum(expr("wgt * (v_si - v_s)")).as("phi_num"))
      .crossJoin(broadcast(tot))
      .select(col("channel"), col("phi_num"),
        expr("(1000000L * phi_num) div 24L").as("phi_micro"),
        expr("(1000000L * phi_num) div (24L * greatest(v_all - v0, 1L))")
          .as("share_ppm"),
        col("v0").as("baseline_conv"), col("v_all").as("total_conv"))
  }

  private val q360Oracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_type FROM events),
      |u AS (SELECT user_id,
      |             min(CASE WHEN event_type = 'purchase' THEN tsu END) AS fp
      |      FROM e GROUP BY 1),
      |m AS (SELECT e.user_id,
      |        bit_or(CASE WHEN e.event_type <> 'purchase' AND e.tsu < u.fp THEN
      |          CASE e.event_type WHEN 'click' THEN 1 WHEN 'error' THEN 2
      |            WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END
      |          ELSE 0 END)::BIGINT AS mask
      |      FROM e JOIN u USING (user_id) WHERE u.fp IS NOT NULL GROUP BY 1),
      |cm AS (SELECT mask, count(*)::BIGINT AS c FROM m GROUP BY 1),
      |coal AS (SELECT unnest(range(0, 16))::BIGINT AS coal),
      |v AS (SELECT coal, coalesce(sum(c), 0)::BIGINT AS v_s
      |      FROM coal LEFT JOIN cm ON (cm.mask & coal.coal) = cm.mask
      |      GROUP BY coal),
      |ch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2),
      |                             ('signup', 4), ('view', 8)) t(channel, bit)),
      |tot AS (SELECT sum(CASE WHEN coal = 0 THEN v_s END)::BIGINT AS v0,
      |               sum(CASE WHEN coal = 15 THEN v_s END)::BIGINT AS v_all
      |        FROM v),
      |phi AS (SELECT ch.channel,
      |          sum((CASE bit_count(vs.coal) WHEN 0 THEN 6 WHEN 1 THEN 2
      |               WHEN 2 THEN 2 ELSE 6 END) * (vi.v_s - vs.v_s))::BIGINT
      |            AS phi_num
      |        FROM ch JOIN v vs ON (vs.coal & ch.bit) = 0
      |                JOIN v vi ON vi.coal = (vs.coal | ch.bit)
      |        GROUP BY 1)
      |SELECT channel, phi_num,
      |       ((1000000 * phi_num) // 24)::BIGINT AS phi_micro,
      |       ((1000000 * phi_num) // (24 * greatest(v_all - v0, 1)))::BIGINT
      |         AS share_ppm,
      |       v0 AS baseline_conv, v_all AS total_conv
      |FROM phi CROSS JOIN tot""".stripMargin

  /** q361: per-user activity coverage — the gaps-and-islands interval
    * union: every event opens a 30-minute presence interval, overlapping
    * intervals merge (running `max(end)` over preceding rows, strict-gap
    * island flag, running island id), and the user's islands contract to
    * exact covered time, island count, longest island and utilization of
    * the first→last span. The MERGED union is what concurrency queries
    * (q159/q264) cannot read off: `covered_us` is the deduplicated
    * wall-clock a billing/SLA readout needs, not the sum of raw spans.
    *
    * Scale shape: ONE user-keyed shuffle; both windows and both groupBys
    * ride the same user partitioning (the island groupBy key is a
    * superset of it); nothing global, no driver state.
    */
  def q361IntervalCoverage(spark: SparkSession, dir: String): DataFrame = {
    val ord = Window.partitionBy("user_id")
      .orderBy(col("tsu").asc, col("event_id").asc)
    val prev = ord.rowsBetween(Window.unboundedPreceding, -1)
    val cur = ord.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .select(col("user_id"), tsUs.as("tsu"), col("event_id"))
      .withColumn("fin", col("tsu") + lit(SessionGapUs))
      .withColumn("pmax", max(col("fin")).over(prev))
      .withColumn("isl",
        sum(when(col("pmax").isNull || col("tsu") > col("pmax"), 1L)
          .otherwise(0L)).over(cur))
      .groupBy(col("user_id"), col("isl"))
      .agg(min("tsu").as("s"), max("fin").as("e"), count(lit(1)).as("n"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("e") - col("s")).as("covered_us"),
        max(col("e") - col("s")).as("longest_us"),
        sum("n").as("n_events"),
        min("s").as("first_s"), max("e").as("last_e"))
      .select(col("user_id"), col("n_islands"), col("covered_us"),
        col("longest_us"), col("n_events"),
        expr("(1000000L * covered_us) div (last_e - first_s)").as("util_ppm"))
  }

  private val q361Oracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id,
      |             epoch_us(ts) + 1800000000 AS fin
      |           FROM events),
      |w AS (SELECT user_id, tsu, event_id, fin,
      |        max(fin) OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax
      |      FROM e),
      |i AS (SELECT user_id, tsu, fin,
      |        sum(CASE WHEN pmax IS NULL OR tsu > pmax THEN 1 ELSE 0 END)
      |          OVER (PARTITION BY user_id ORDER BY tsu, event_id
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS isl
      |      FROM w),
      |g AS (SELECT user_id, isl, min(tsu) AS s, max(fin) AS e,
      |             count(*)::BIGINT AS n
      |      FROM i GROUP BY 1, 2)
      |SELECT user_id, count(*)::BIGINT AS n_islands,
      |       sum(e - s)::BIGINT AS covered_us,
      |       max(e - s)::BIGINT AS longest_us,
      |       sum(n)::BIGINT AS n_events,
      |       ((1000000 * sum(e - s)) // (max(e) - min(s)))::BIGINT AS util_ppm
      |FROM g GROUP BY 1""".stripMargin

  /** q362: autocorrelation function + Ljung-Box portmanteau — lags 1..7
    * of the daily event-count series in exact ppm, plus the Box-Pierce/
    * Ljung-Box white-noise test (Ljung & Box, Biometrika 1978) the
    * forecasting tier (q309/q347/q350) implicitly assumes when it models
    * residuals as noise. Everything is integer-exact via the n-scaled
    * centering `c_t = n·y_t − Σy` (so no fractional mean exists):
    * `ρ_k = 10⁶·Σc_t·c_{t−k} div Σc_t²` — negative numerators are safe,
    * Spark `div` and the oracle's `//` both truncate toward zero
    * (verified) — and `Q·10¹² = n(n+2)·Σ(ρ_ppm² div (n−k))` gates
    * against the χ²₇ 95 % critical value 14.067·10¹². At 100 TB the
    * c·c cross-terms need DECIMAL once a day exceeds ~10⁸ events; at
    * every tested scale they sit far inside long range.
    *
    * Scale shape: one map-side-combined groupBy onto |days| keys; the
    * lag pairing is a self-join of that contraction with itself
    * (broadcast both sides); the final fold is 7 rows.
    */
  def q362AcfLjungBox(spark: SparkSession, dir: String): DataFrame = {
    val daily = events(spark, dir).groupBy(tsDay.as("day"))
      .agg(count(lit(1)).as("y"))
    val stats = daily.agg(count(lit(1)).as("n"), sum("y").as("s"))
    val c = daily.crossJoin(broadcast(stats))
      .select(col("day"), expr("n * y - s").as("c"), col("n"))
    val den = c.agg(max("n").as("n"), sum(expr("c * c")).as("den"))
    c.select(col("day"), col("c"))
      .withColumn("k", explode(expr("sequence(1L, 7L)")))
      .withColumn("pday", col("day") - col("k"))
      .join(broadcast(c.select(col("day").as("pday"), col("c").as("cp"))),
        Seq("pday"))
      .groupBy("k").agg(sum(expr("c * cp")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("k").as("lag"), col("n"), col("num"),
        expr("(1000000L * num) div den").as("rho_ppm"))
      .withColumn("lb_term", expr("(rho_ppm * rho_ppm) div (n - lag)"))
      .withColumn("q_scaled", expr("n * (n + 2L) * (sum(lb_term) OVER ())"))
      .withColumn("is_white",
        expr("CASE WHEN n * (n + 2L) * (sum(lb_term) OVER ()) " +
          "<= 14067000000000L THEN 1L ELSE 0L END"))
  }

  private val q362Oracle =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |             count(*)::BIGINT AS y
      |           FROM events GROUP BY 1),
      |st AS (SELECT count(*)::BIGINT AS n, sum(y)::BIGINT AS s FROM d),
      |c AS (SELECT day, (st.n * y - st.s)::BIGINT AS c, st.n
      |      FROM d CROSS JOIN st),
      |den AS (SELECT max(n)::BIGINT AS n, sum(c * c)::BIGINT AS den FROM c),
      |p AS (SELECT k.k, sum(a.c * b.c)::BIGINT AS num
      |      FROM (SELECT unnest(range(1, 8))::BIGINT AS k) k
      |      JOIN c a ON true
      |      JOIN c b ON b.day = a.day - k.k
      |      GROUP BY 1),
      |r AS (SELECT p.k AS lag, den.n, p.num,
      |             ((1000000 * p.num) // den.den)::BIGINT AS rho_ppm
      |      FROM p CROSS JOIN den),
      |t AS (SELECT lag, n, num, rho_ppm,
      |             ((rho_ppm * rho_ppm) // (n - lag))::BIGINT AS lb_term
      |      FROM r)
      |SELECT lag, n, num, rho_ppm, lb_term,
      |       (n * (n + 2) * (sum(lb_term) OVER ()))::BIGINT AS q_scaled,
      |       (CASE WHEN n * (n + 2) * (sum(lb_term) OVER ())
      |          <= 14067000000000 THEN 1 ELSE 0 END)::BIGINT AS is_white
      |FROM t""".stripMargin

  /** q363: log-histogram quantile sketch with a machine-checked error
    * bound — the DDSketch idea (Masson et al., VLDB 2019) at γ=2: bucket
    * every positive purchase-cents value by `floor(log₂ x)` (computed
    * EXACTLY as `length(bin(x))−1` — no floating log near a power-of-two
    * boundary), read P50/P90/P99 off the ≤⌈log₂ max⌉-bucket histogram as
    * the bucket midpoint `3·2^(b−1)`, and gate each estimate against the
    * EXACT quantile from the value-grouped counts: the midpoint of
    * [2^b, 2^(b+1)) is provably within [0.75×, 1.5×] of anything in the
    * bucket, so `10⁶·est div exact ∈ [750000, 1500000]` must hold — a
    * sketch whose bound fails is a wrong sketch, not an unlucky one.
    * Exact rank convention: the ⌈q·n/100⌉-th order statistic.
    *
    * Scale shape: the sketch side is a ≤64-key map-side groupBy (the
    * mergeable, fixed-size summary that survives 100 TB); the exact side
    * groups by value — bounded by the cents DOMAIN, not row count — and
    * windows only over that contraction.
    */
  def q363LogHistQuantile(spark: SparkSession, dir: String): DataFrame = {
    val cents = events(spark, dir).filter(col("event_type") === "purchase")
      .select(floor(col("value") * 100).cast("long").as("cents"))
      .filter(col("cents") > 0)
    val byVal = cents.groupBy("cents").agg(count(lit(1)).as("cnt"))
    val wv = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val cum = byVal.withColumn("cum", sum("cnt").over(wv))
    val byB = cents.select(expr("cast(length(bin(cents)) - 1 AS BIGINT)").as("b"))
      .groupBy("b").agg(count(lit(1)).as("cnt"))
    val wb = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val bcum = byB.withColumn("bcum", sum("cnt").over(wb))
    val n1 = byVal.agg(sum("cnt").as("n"))
    val qs = spark.range(3).select(
      expr("CASE id WHEN 0 THEN 50L WHEN 1 THEN 90L ELSE 99L END").as("q"))
      .crossJoin(broadcast(n1))
      .withColumn("r", expr("(q * n + 99L) div 100L"))
    val exact = qs.join(broadcast(cum), col("cum") >= col("r"))
      .groupBy("q", "n").agg(min("cents").as("exact_q"))
    val sk = qs.join(broadcast(bcum), col("bcum") >= col("r"))
      .groupBy("q").agg(min("b").as("b_q"))
    exact.join(sk, Seq("q"))
      .select(col("q"), col("n"), col("exact_q"), col("b_q"),
        expr("CASE WHEN b_q = 0 THEN 1L " +
          "ELSE 3L * shiftleft(1L, cast(b_q - 1 AS INT)) END").as("est_q"))
      .withColumn("rel_err_ppm",
        expr("(1000000L * abs(est_q - exact_q)) div exact_q"))
      .withColumn("within_bound",
        expr("CASE WHEN (1000000L * est_q) div exact_q " +
          "BETWEEN 750000L AND 1500000L THEN 1L ELSE 0L END"))
  }

  private val q363Oracle =
    """WITH cents AS (SELECT floor(value * 100)::BIGINT AS cents
      |               FROM events
      |               WHERE event_type = 'purchase' AND floor(value * 100) > 0),
      |bv AS (SELECT cents, count(*)::BIGINT AS cnt FROM cents GROUP BY 1),
      |cum AS (SELECT cents, sum(cnt) OVER (ORDER BY cents
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum
      |        FROM bv),
      |bb AS (SELECT length(format('{:b}', cents)) - 1 AS b,
      |              count(*)::BIGINT AS cnt
      |       FROM cents GROUP BY 1),
      |bcum AS (SELECT b, sum(cnt) OVER (ORDER BY b
      |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT
      |             AS bcum
      |         FROM bb),
      |n1 AS (SELECT sum(cnt)::BIGINT AS n FROM bv),
      |qs AS (SELECT q::BIGINT AS q, n, ((q * n + 99) // 100)::BIGINT AS r
      |       FROM (SELECT unnest([50, 90, 99]) AS q) CROSS JOIN n1),
      |ex AS (SELECT q, n, min(cents)::BIGINT AS exact_q
      |       FROM qs JOIN cum ON cum.cum >= qs.r GROUP BY 1, 2),
      |sk AS (SELECT q, min(b)::BIGINT AS b_q
      |       FROM qs JOIN bcum ON bcum.bcum >= qs.r GROUP BY 1),
      |j AS (SELECT ex.q, ex.n, ex.exact_q, sk.b_q,
      |        (CASE WHEN sk.b_q = 0 THEN 1
      |              ELSE 3 * (1 << (sk.b_q - 1)) END)::BIGINT AS est_q
      |      FROM ex JOIN sk USING (q))
      |SELECT q, n, exact_q, b_q, est_q,
      |       ((1000000 * abs(est_q - exact_q)) // exact_q)::BIGINT
      |         AS rel_err_ppm,
      |       (CASE WHEN (1000000 * est_q) // exact_q
      |          BETWEEN 750000 AND 1500000 THEN 1 ELSE 0 END)::BIGINT
      |         AS within_bound
      |FROM j""".stripMargin

  /** q364: NULL-handling SQL-surface parity — the modifiers every
    * migration trips over, gated head-to-head against the oracle engine:
    * a running `last_value(...) IGNORE NULLS` window (last-observation-
    * carried-forward of a sparse column), `FILTER (WHERE ...)` aggregate
    * clauses (SQL:2003 — counts/sums over a predicate WITHOUT a self-join
    * or CASE-NULL idiom), and `count(col)` null-skipping vs `count(*)`.
    * The per-user reduction of the filled column goes through
    * `coalesce(..., −1)` before `max_by`/`arg_max` then `nullif` back:
    * the two engines disagree on whether an all-NULL value column yields
    * the max-key row or skips it, so NULLs must not reach the arg-max —
    * that asymmetry is exactly why this gate exists.
    *
    * Scale shape: one user-keyed shuffle; window and groupBy ride it.
    */
  def q364NullHandlingParity(spark: SparkSession, dir: String): DataFrame = {
    val cur = Window.partitionBy("user_id")
      .orderBy(col("tsu").asc, col("event_id").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    events(spark, dir)
      .select(col("user_id"), tsUs.as("tsu"), col("event_id"),
        col("event_type"),
        when(col("event_type") === "purchase",
          floor(col("value") * 100).cast("long")).as("cents"))
      .withColumn("filled", last(col("cents"), ignoreNulls = true).over(cur))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        count(col("cents")).as("n_purch"),
        expr("count(*) FILTER (WHERE event_type = 'view')").as("n_views"),
        expr("sum(cents) FILTER (WHERE cents > 500)").as("big_purch_cents"),
        expr("count(*) FILTER (WHERE filled IS NULL)").as("pre_first_purch"),
        max_by(expr("coalesce(filled, -1L)"),
          struct(col("tsu"), col("event_id"))).as("lk"))
      .select(col("user_id"), col("n_events"), col("n_purch"), col("n_views"),
        col("big_purch_cents"), col("pre_first_purch"),
        expr("nullif(lk, -1L)").as("last_known_cents"))
  }

  private val q364Oracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) AS tsu, event_id, event_type,
      |             CASE WHEN event_type = 'purchase'
      |               THEN floor(value * 100)::BIGINT END AS cents,
      |             lpad(epoch_us(ts)::VARCHAR, 20, '0')
      |               || lpad(event_id::VARCHAR, 12, '0') AS ord
      |           FROM events),
      |f AS (SELECT user_id, event_type, cents, ord,
      |        last_value(cents IGNORE NULLS) OVER (PARTITION BY user_id
      |          ORDER BY tsu, event_id
      |          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled
      |      FROM e)
      |SELECT user_id, count(*)::BIGINT AS n_events,
      |       count(cents)::BIGINT AS n_purch,
      |       (count(*) FILTER (WHERE event_type = 'view'))::BIGINT AS n_views,
      |       (sum(cents) FILTER (WHERE cents > 500))::BIGINT
      |         AS big_purch_cents,
      |       (count(*) FILTER (WHERE filled IS NULL))::BIGINT
      |         AS pre_first_purch,
      |       nullif(arg_max(coalesce(filled, -1), ord), -1)::BIGINT
      |         AS last_known_cents
      |FROM f GROUP BY 1""".stripMargin

  /** q367: additive seasonal-trend decomposition (STL-lite — the
    * Cleveland et al. 1990 decomposition with the loess smoothers
    * replaced by their integer-exact classical ancestors): trend = the
    * CENTERED 7-day moving average (defined only where the full ±3-day
    * window exists — no edge extrapolation), detrended = y − trend,
    * seasonal = the per-weekday floor-mean of the detrended series
    * (negative-safe: both engines truncate toward zero), remainder =
    * detrended − seasonal. The readout behind "is this dip weekday
    * seasonality or a real regression?" — and the additive identity
    * `y = trend + seasonal + remainder + (y − trend − detrended ≡ 0)`
    * is spec-pinned exactly.
    *
    * Scale shape: one map-side groupBy onto |days| keys; the MA window,
    * the weekday contraction and the final join all ride the ≤|days|
    * frame (broadcast back) — nothing touches raw events twice.
    */
  def q367StlDecompose(spark: SparkSession, dir: String): DataFrame = {
    val w7 = Window.orderBy("day").rowsBetween(-3, 3)
    val daily = events(spark, dir).groupBy(tsDay.as("day"))
      .agg(count(lit(1)).as("y"))
    val trended = daily
      .withColumn("w_n", count(lit(1)).over(w7))
      .withColumn("trend",
        when(col("w_n") === 7, expr("(sum(y) OVER (ORDER BY day " +
          "ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)) div 7")))
      .filter(col("trend").isNotNull)
      .withColumn("detrended", col("y") - col("trend"))
      .withColumn("wday", expr("day % 7"))
    val seasonal = trended.groupBy("wday")
      .agg(expr("sum(detrended) div count(*)").as("seasonal"))
    trended.join(broadcast(seasonal), Seq("wday"))
      .select(col("day"), col("y"), col("trend"), col("seasonal"),
        (col("detrended") - col("seasonal")).as("remainder"))
  }

  private val q367Oracle =
    """WITH d AS (SELECT epoch_us(ts) // 86400000000 AS day,
      |             count(*)::BIGINT AS y
      |           FROM events GROUP BY 1),
      |t AS (SELECT day, y,
      |        count(*) OVER w7 AS w_n,
      |        (sum(y) OVER w7 // 7)::BIGINT AS ma
      |      FROM d
      |      WINDOW w7 AS (ORDER BY day
      |        ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
      |tr AS (SELECT day, y, ma AS trend, (y - ma)::BIGINT AS detrended,
      |              day % 7 AS wday
      |       FROM t WHERE w_n = 7),
      |s AS (SELECT wday, (sum(detrended) // count(*))::BIGINT AS seasonal
      |      FROM tr GROUP BY 1)
      |SELECT day, y, trend, seasonal,
      |       (detrended - seasonal)::BIGINT AS remainder
      |FROM tr JOIN s USING (wday)""".stripMargin

  /** q370: Kruskal-Wallis rank test — "does `value` differ across the
    * five event types?" without a normality assumption (Kruskal & Wallis,
    * JASA 1952), the k-group generalization of q256's Mann-Whitney. Ranks
    * are MIDRANKS over the value domain kept integral by doubling:
    * `r2(v) = 2·cum_before(v) + cnt(v) + 1` (twice the midrank — exact,
    * no .5 ever exists), per-group rank sums `R2_j = Σ cnt_jv·r2_v`, and
    * the H statistic through the SHARED floor chain
    * `h_int = (3·Σ R2_j·(R2_j div n_j)) div (n·(n+1)) − 3·(n+1)` — the
    * inner div is the only deviation from the exact rational (whose
    * numerator overflows long at sf0.1) and both engines replay it
    * bit-identically. `is_sig` pins `h_int > 9`, the integer-conservative
    * cut at the χ²₄ 95 % critical value 9.488. No tie correction
    * (published as-is — the uncorrected H is conservative under ties).
    *
    * Scale shape: one groupBy on the (cents, type) domain, cumulative
    * windows only over the |distinct cents| contraction, 5-row rank-sum
    * table, 1-row fold broadcast back.
    */
  def q370KruskalWallis(spark: SparkSession, dir: String): DataFrame = {
    val d = events(spark, dir)
      .select(col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
    val byVal = d.groupBy("cents").agg(count(lit(1)).as("cnt"))
    val wv = Window.orderBy("cents")
      .rowsBetween(Window.unboundedPreceding, -1)
    val r2 = byVal
      .withColumn("cum_before", coalesce(sum("cnt").over(wv), lit(0L)))
      .select(col("cents"),
        (lit(2L) * col("cum_before") + col("cnt") + 1L).as("r2"))
    val perGroup = d.groupBy("event_type", "cents")
      .agg(count(lit(1)).as("cj"))
      .join(broadcast(r2), Seq("cents"))
      .groupBy("event_type")
      .agg(sum(col("cj") * col("r2")).as("r2_sum"), sum("cj").as("n_j"))
    val h = perGroup.agg(
      sum("n_j").as("n"),
      sum(expr("r2_sum * (r2_sum div n_j)")).as("s"))
      .select(col("n"),
        expr("(3L * s) div (n * (n + 1L)) - 3L * (n + 1L)").as("h_int"))
    perGroup.crossJoin(broadcast(h))
      .select(col("event_type"), col("n_j"), col("r2_sum"),
        expr("(500L * r2_sum) div n_j").as("mean_rank_milli"),
        col("n"), col("h_int"), lit(4L).as("df"),
        expr("CASE WHEN h_int > 9L THEN 1L ELSE 0L END").as("is_sig"))
  }

  private val q370Oracle =
    """WITH d AS (SELECT event_type, floor(value * 100)::BIGINT AS cents
      |           FROM events),
      |bv AS (SELECT cents, count(*)::BIGINT AS cnt FROM d GROUP BY 1),
      |r2 AS (SELECT cents,
      |         (2 * coalesce(sum(cnt) OVER (ORDER BY cents
      |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
      |          + cnt + 1)::BIGINT AS r2
      |       FROM bv),
      |pg AS (SELECT event_type, sum(cj * r2)::BIGINT AS r2_sum,
      |              sum(cj)::BIGINT AS n_j
      |       FROM (SELECT event_type, cents, count(*)::BIGINT AS cj
      |             FROM d GROUP BY 1, 2) g
      |       JOIN r2 USING (cents) GROUP BY 1),
      |h AS (SELECT n, ((3 * s) // (n * (n + 1)) - 3 * (n + 1))::BIGINT AS h_int
      |      FROM (SELECT sum(n_j)::BIGINT AS n,
      |                   sum(r2_sum * (r2_sum // n_j))::BIGINT AS s
      |            FROM pg) t)
      |SELECT event_type, n_j, r2_sum,
      |       ((500 * r2_sum) // n_j)::BIGINT AS mean_rank_milli,
      |       n, h_int, 4::BIGINT AS df,
      |       (CASE WHEN h_int > 9 THEN 1 ELSE 0 END)::BIGINT AS is_sig
      |FROM pg CROSS JOIN h""".stripMargin

  /** q371: McNemar's paired test (McNemar, Psychometrika 1947) — marginal
    * homogeneity of two binary outcomes measured on the SAME users:
    * "is clicking more prevalent than purchasing?" asked correctly, on
    * the discordant pairs only (a two-proportion z on overlapping samples
    * — q142's tool — is WRONG here; the pairing is the point). Exact
    * integer statistic `chi2_milli = (1000·(b−c)²) div (b+c)` over
    * b = click-only and c = purchase-only users, `is_sig` at the χ²₁
    * 95 % cut 3.841. The 2×2 concordance table is published whole.
    *
    * Scale shape: ONE user-keyed groupBy to per-user flags, then a 1-row
    * map-side fold — nothing else.
    */
  def q371McNemar(spark: SparkSession, dir: String): DataFrame =
    events(spark, dir)
      .groupBy("user_id")
      .agg(max(when(col("event_type") === "click", 1L).otherwise(0L)).as("a"),
        max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("b"))
      .agg(count(lit(1)).as("n_users"),
        sum(expr("CASE WHEN a = 1 AND b = 1 THEN 1L ELSE 0L END")).as("n_both"),
        sum(expr("CASE WHEN a = 1 AND b = 0 THEN 1L ELSE 0L END")).as("a_only"),
        sum(expr("CASE WHEN a = 0 AND b = 1 THEN 1L ELSE 0L END")).as("b_only"),
        sum(expr("CASE WHEN a = 0 AND b = 0 THEN 1L ELSE 0L END")).as("n_neither"))
      .select(col("n_users"), col("n_both"), col("a_only"), col("b_only"),
        col("n_neither"),
        expr("(1000L * (a_only - b_only) * (a_only - b_only)) " +
          "div greatest(a_only + b_only, 1L)").as("chi2_milli"),
        expr("CASE WHEN (1000L * (a_only - b_only) * (a_only - b_only)) " +
          "div greatest(a_only + b_only, 1L) > 3841L THEN 1L ELSE 0L END")
          .as("is_sig"))

  private val q371Oracle =
    """WITH u AS (SELECT user_id,
      |             max(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS a,
      |             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS b
      |           FROM events GROUP BY 1),
      |t AS (SELECT count(*)::BIGINT AS n_users,
      |             sum(CASE WHEN a = 1 AND b = 1 THEN 1 ELSE 0 END)::BIGINT AS n_both,
      |             sum(CASE WHEN a = 1 AND b = 0 THEN 1 ELSE 0 END)::BIGINT AS a_only,
      |             sum(CASE WHEN a = 0 AND b = 1 THEN 1 ELSE 0 END)::BIGINT AS b_only,
      |             sum(CASE WHEN a = 0 AND b = 0 THEN 1 ELSE 0 END)::BIGINT AS n_neither
      |      FROM u)
      |SELECT n_users, n_both, a_only, b_only, n_neither,
      |       ((1000 * (a_only - b_only) * (a_only - b_only))
      |          // greatest(a_only + b_only, 1))::BIGINT AS chi2_milli,
      |       (CASE WHEN (1000 * (a_only - b_only) * (a_only - b_only))
      |          // greatest(a_only + b_only, 1) > 3841
      |          THEN 1 ELSE 0 END)::BIGINT AS is_sig
      |FROM t""".stripMargin

  /** q372: CUPED variance reduction (Deng, Xu, Kohavi & Walker, WSDM
    * 2013) — the experimentation-platform workhorse the A/B tier
    * (q142/q318/q319) still lacked: adjust the experiment-period metric
    * (per-user purchase dollars, days ≥ split) by the PRE-period covariate
    * (per-user event count, days < split) via `Ŷ = Y − θ(X − X̄)`,
    * θ = cov(X,Y)/var(X). Everything from one pass of second moments:
    * `theta_milli = 1000·covNum div varXNum` (cross-multiplied, no
    * fractional mean), correlation through q349's floor-sqrt convention,
    * and the headline `red_pm ≈ 1000·ρ²` — the fraction of metric
    * variance the covariate removes, i.e. how much smaller the
    * experiment can be. Published per arm (user_id % 2): naive vs
    * CUPED-adjusted mean micro-cents through one shared floor chain —
    * the adjusted diff is the debiased readout.
    *
    * Scale shape: ONE user-keyed groupBy over the event scan (both
    * periods in conditional aggregates), a 1-row moment fold, and a 2-row
    * arm table. The pre/post split anchor `d0` is a 1-row column-pruned
    * `min(day)` aggregate broadcast back — NOT a grand-total window over
    * the raw event table, which would funnel every event row through one
    * window task (the r11 plan-shape gate forbids that shape).
    */
  def q372Cuped(spark: SparkSession, dir: String): DataFrame = {
    val base = events(spark, dir)
      .select(col("user_id"), tsDay.as("day"),
        col("event_type"),
        floor(col("value") * 100).cast("long").as("cents"))
    val perUser = base
      .crossJoin(broadcast(base.agg(min("day").as("d0"))))
      .groupBy("user_id")
      .agg(sum(when(col("day") < col("d0") + 15, 1L).otherwise(0L)).as("x"),
        // y in whole dollars (cents div 100): keeps n·Σy² inside long at
        // every tested scale — with cents the square fold overflows at sf0.1
        expr("sum(CASE WHEN day >= d0 + 15 AND event_type = 'purchase' " +
          "THEN cents ELSE 0L END) div 100L").as("y"))
      .withColumn("arm", expr("user_id % 2"))
    val m = perUser.agg(count(lit(1)).as("n"),
      sum("x").as("sx"), sum("y").as("sy"),
      sum(expr("x * x")).as("sxx"), sum(expr("x * y")).as("sxy"),
      sum(expr("y * y")).as("syy"))
      .select(col("n"), col("sx"), col("sy"),
        expr("n * sxy - sx * sy").as("cov_num"),
        expr("n * sxx - sx * sx").as("varx_num"),
        expr("n * syy - sy * sy").as("vary_num"))
      .select(col("n"), col("sx"),
        expr("(1000L * cov_num) div greatest(varx_num, 1L)").as("theta_milli"),
        expr("(1000L * cov_num) div greatest(" +
          "cast(floor(sqrt(cast(varx_num AS DOUBLE))) AS BIGINT) * " +
          "cast(floor(sqrt(cast(vary_num AS DOUBLE))) AS BIGINT), 1L)")
          .as("rho_pm"))
      .withColumn("red_pm", expr("(rho_pm * rho_pm) div 1000L"))
    perUser.groupBy("arm")
      .agg(count(lit(1)).as("n_a"), sum("x").as("sx_a"), sum("y").as("sy_a"))
      .crossJoin(broadcast(m))
      .select(col("arm"), col("n_a"),
        expr("(1000000L * sy_a) div n_a").as("y_mean_micro"),
        expr("(1000L * sx_a) div n_a").as("x_mean_milli"),
        expr("(1000000L * sy_a) div n_a - (theta_milli * " +
          "((1000000L * sx_a) div n_a - (1000000L * sx) div n)) div 1000L")
          .as("adj_mean_micro"),
        col("theta_milli"), col("rho_pm"), col("red_pm"))
  }

  private val q372Oracle =
    """WITH e AS (SELECT user_id, epoch_us(ts) // 86400000000 AS day,
      |             event_type, floor(value * 100)::BIGINT AS cents,
      |             min(epoch_us(ts) // 86400000000) OVER () AS d0
      |           FROM events),
      |u AS (SELECT user_id,
      |        sum(CASE WHEN day < d0 + 15 THEN 1 ELSE 0 END)::BIGINT AS x,
      |        (sum(CASE WHEN day >= d0 + 15 AND event_type = 'purchase'
      |            THEN cents ELSE 0 END) // 100)::BIGINT AS y,
      |        user_id % 2 AS arm
      |      FROM e GROUP BY 1),
      |m0 AS (SELECT count(*)::BIGINT AS n, sum(x)::BIGINT AS sx,
      |              sum(y)::BIGINT AS sy, sum(x * x)::BIGINT AS sxx,
      |              sum(x * y)::BIGINT AS sxy, sum(y * y)::BIGINT AS syy
      |       FROM u),
      |m1 AS (SELECT n, sx,
      |         (n * sxy - sx * sy)::BIGINT AS cov_num,
      |         (n * sxx - sx * sx)::BIGINT AS varx_num,
      |         (n * syy - sy * sy)::BIGINT AS vary_num
      |       FROM m0),
      |m AS (SELECT n, sx,
      |        ((1000 * cov_num) // greatest(varx_num, 1))::BIGINT
      |          AS theta_milli,
      |        ((1000 * cov_num) // greatest(
      |          floor(sqrt(varx_num::DOUBLE))::BIGINT *
      |          floor(sqrt(vary_num::DOUBLE))::BIGINT, 1))::BIGINT AS rho_pm
      |      FROM m1)
      |SELECT arm, count(*)::BIGINT AS n_a,
      |       ((1000000 * sum(y)) // count(*))::BIGINT AS y_mean_micro,
      |       ((1000 * sum(x)) // count(*))::BIGINT AS x_mean_milli,
      |       ((1000000 * sum(y)) // count(*)
      |         - (m.theta_milli * ((1000000 * sum(x)) // count(*)
      |             - (1000000 * m.sx) // m.n)) // 1000)::BIGINT
      |         AS adj_mean_micro,
      |       m.theta_milli, m.rho_pm,
      |       ((m.rho_pm * m.rho_pm) // 1000)::BIGINT AS red_pm
      |FROM u CROSS JOIN m
      |GROUP BY arm, m.theta_milli, m.rho_pm, m.sx, m.n""".stripMargin

  /** q373: Benjamini-Hochberg FDR over a FAMILY of tests (Benjamini &
    * Hochberg, JRSS-B 1995) — the multiple-testing correction the
    * experimentation tier owes once it runs five tests at once: per
    * event type, an exact permutation test of the arm (user_id % 2)
    * difference in per-user event counts — q322's deterministic
    * md5-permutation machinery, 32 draws, `p = (1+#{null ≥ obs})/33`
    * exact — then the BH step-up entirely cross-multiplied: rank the 5
    * p's ascending (type as tie-break), pass_i ⇔ `100·p_num ≤ 33·i`
    * (α=0.05, m=5 ⇒ p ≤ i/100), reject ranks ≤ max passing rank. No
    * float p-value ever exists, so the whole correction hash-gates.
    *
    * Scale shape: per-user-type counts are one groupBy; the 32-draw
    * explode lives on the |users|- and (user,type)-contractions, never
    * on raw events; the BH fold is a 5-row window.
    */
  def q373BhFdr(spark: SparkSession, dir: String): DataFrame = {
    val ut = events(spark, dir).groupBy("user_id", "event_type")
      .agg(count(lit(1)).as("cnt"))
    val users = events(spark, dir).select("user_id").distinct()
    val nTot = users.agg(count(lit(1)).as("n"),
      sum(expr("user_id % 2")).as("n1"))
    val sByType = ut.groupBy("event_type").agg(sum("cnt").as("s_i"))
    val s1ByType = ut.filter(expr("user_id % 2 = 1"))
      .groupBy("event_type").agg(sum("cnt").as("s1_i"))
    val obs = sByType.join(s1ByType, Seq("event_type"), "left")
      .na.fill(0L, Seq("s1_i"))
      .crossJoin(broadcast(nTot))
      .select(col("event_type"), col("s_i"),
        abs(expr("n * s1_i - n1 * s_i")).as("obs_stat"))
    val ur = users.withColumn("r", explode(expr("sequence(1, 128)")))
      .withColumn("parm", pmod(graft.ext.Dedup.baseHash(
        concat(col("user_id").cast("string"), lit("|"), col("r").cast("string"))),
        lit(2L)))
    val n1r = ur.groupBy("r").agg(sum("parm").as("n1_r"))
    val s1r = ut.withColumn("r", explode(expr("sequence(1, 128)")))
      .withColumn("parm", pmod(graft.ext.Dedup.baseHash(
        concat(col("user_id").cast("string"), lit("|"), col("r").cast("string"))),
        lit(2L)))
      .filter(col("parm") === 1)
      .groupBy("event_type", "r").agg(sum("cnt").as("s1_ir"))
    val frame = sByType.select("event_type", "s_i")
      .withColumn("r", explode(expr("sequence(1, 128)")))
    val nulls = frame
      .join(s1r, Seq("event_type", "r"), "left").na.fill(0L, Seq("s1_ir"))
      .join(broadcast(n1r), Seq("r"))
      .crossJoin(broadcast(nTot.select("n")))
      .select(col("event_type"),
        abs(expr("n * s1_ir - n1_r * s_i")).as("null_stat"))
    val p = nulls.join(broadcast(obs), Seq("event_type"))
      .groupBy("event_type")
      .agg((sum(when(col("null_stat") >= col("obs_stat"), 1L).otherwise(0L))
        + 1L).as("p_num"),
        max("obs_stat").as("obs_stat"))
    val wRank = Window.orderBy(col("p_num").asc, col("event_type").asc)
    p.withColumn("rnk", row_number().over(wRank).cast("long"))
      .withColumn("pass", expr("CASE WHEN 100L * p_num <= 129L * rnk " +
        "THEN 1L ELSE 0L END"))
      .withColumn("k", expr("coalesce(max(CASE WHEN pass = 1 THEN rnk END) " +
        "OVER (), 0L)"))
      .select(col("event_type"), col("obs_stat"), col("p_num"),
        lit(129L).as("p_den"), col("rnk"), col("pass"),
        expr("CASE WHEN rnk <= k THEN 1L ELSE 0L END").as("is_rejected"))
  }

  private val q373Oracle =
    """WITH ut AS (SELECT user_id, event_type, count(*)::BIGINT AS cnt
      |            FROM events GROUP BY 1, 2),
      |us AS (SELECT DISTINCT user_id FROM events),
      |nt AS (SELECT count(*)::BIGINT AS n, sum(user_id % 2)::BIGINT AS n1
      |       FROM us),
      |si AS (SELECT event_type, sum(cnt)::BIGINT AS s_i FROM ut GROUP BY 1),
      |s1 AS (SELECT event_type, sum(cnt)::BIGINT AS s1_i FROM ut
      |       WHERE user_id % 2 = 1 GROUP BY 1),
      |ob AS (SELECT si.event_type, si.s_i,
      |         abs(nt.n * coalesce(s1.s1_i, 0) - nt.n1 * si.s_i)::BIGINT
      |           AS obs_stat
      |       FROM si LEFT JOIN s1 USING (event_type) CROSS JOIN nt),
      |rr AS (SELECT unnest(range(1, 129))::BIGINT AS r),
      |n1r AS (SELECT r, sum(('0x' || substr(md5(user_id::VARCHAR || '|'
      |            || r::VARCHAR), 1, 15))::BIGINT % 2)::BIGINT AS n1_r
      |        FROM us CROSS JOIN rr GROUP BY 1),
      |s1r AS (SELECT event_type, r, sum(cnt)::BIGINT AS s1_ir
      |        FROM ut CROSS JOIN rr
      |        WHERE ('0x' || substr(md5(user_id::VARCHAR || '|'
      |            || r::VARCHAR), 1, 15))::BIGINT % 2 = 1
      |        GROUP BY 1, 2),
      |nl AS (SELECT f.event_type,
      |         abs(nt.n * coalesce(s1r.s1_ir, 0) - n1r.n1_r * f.s_i)::BIGINT
      |           AS null_stat
      |       FROM (SELECT event_type, s_i, r FROM si CROSS JOIN rr) f
      |       LEFT JOIN s1r USING (event_type, r)
      |       JOIN n1r USING (r) CROSS JOIN nt),
      |p AS (SELECT nl.event_type,
      |        (sum(CASE WHEN nl.null_stat >= ob.obs_stat THEN 1 ELSE 0 END)
      |          + 1)::BIGINT AS p_num,
      |        max(ob.obs_stat)::BIGINT AS obs_stat
      |      FROM nl JOIN ob USING (event_type) GROUP BY 1),
      |rk AS (SELECT event_type, obs_stat, p_num,
      |         row_number() OVER (ORDER BY p_num ASC, event_type ASC)::BIGINT
      |           AS rnk
      |       FROM p),
      |ps AS (SELECT *, (CASE WHEN 100 * p_num <= 129 * rnk
      |                  THEN 1 ELSE 0 END)::BIGINT AS pass FROM rk)
      |SELECT event_type, obs_stat, p_num, 129::BIGINT AS p_den, rnk, pass,
      |       (CASE WHEN rnk <= coalesce(max(CASE WHEN pass = 1 THEN rnk END)
      |          OVER (), 0) THEN 1 ELSE 0 END)::BIGINT AS is_rejected
      |FROM ps""".stripMargin

  /** q376: A/A calibration sweep — the experimentation-platform health
    * check that must run BEFORE any A/B readout is trusted (Kohavi et
    * al.'s "trustworthy online experiments" discipline): 16 independent
    * md5 splits of the user base into two null arms, the two-proportion
    * z² on conversion computed EXACTLY by cross-multiplication
    * `z2_milli = (1000·n·(c1·n0 − c0·n1)²) div (n1·n0·c·(n−c))` — no
    * float p ever exists — and each split flagged at the χ²₁ 95 % cut
    * 3.841. Under the null ~5 % of splits should flag;
    * `ok_calibrated` pins `n_sig ≤ 3` (P[Binom(16, .05) > 3] ≈ 7·10⁻⁴ —
    * more flags means the harness, not the treatment, is broken).
    *
    * Scale shape: ONE user-keyed groupBy to (user, converted), a ×16
    * generator explode on that |users| contraction, 16-row fold.
    */
  def q376AaCalibration(spark: SparkSession, dir: String): DataFrame = {
    val u = events(spark, dir).groupBy("user_id")
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L))
        .as("conv"))
    val per = u.withColumn("s", explode(expr("sequence(1L, 16L)")))
      .withColumn("arm", pmod(graft.ext.Dedup.baseHash(
        concat(col("user_id").cast("string"), lit("#"), col("s").cast("string"))),
        lit(2L)))
      .groupBy("s")
      .agg(sum(when(col("arm") === 1, 1L).otherwise(0L)).as("n1"),
        sum(when(col("arm") === 1, col("conv")).otherwise(0L)).as("c1"),
        sum(when(col("arm") === 0, 1L).otherwise(0L)).as("n0"),
        sum(when(col("arm") === 0, col("conv")).otherwise(0L)).as("c0"))
      .withColumn("z2_milli",
        expr("(1000L * (n1 + n0) * (c1 * n0 - c0 * n1) * (c1 * n0 - c0 * n1)) " +
          "div greatest(n1 * n0 * (c1 + c0) * (n1 + n0 - c1 - c0), 1L)"))
      .withColumn("is_sig",
        expr("CASE WHEN z2_milli > 3841L THEN 1L ELSE 0L END"))
    per.select(col("s").as("split"), col("n1"), col("c1"), col("n0"),
        col("c0"), col("z2_milli"), col("is_sig"))
      .withColumn("n_sig", expr("sum(is_sig) OVER ()"))
      .withColumn("ok_calibrated",
        expr("CASE WHEN sum(is_sig) OVER () <= 3L THEN 1L ELSE 0L END"))
  }

  private val q376Oracle =
    """WITH u AS (SELECT user_id,
      |             max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
      |               ::BIGINT AS conv
      |           FROM events GROUP BY 1),
      |x AS (SELECT u.user_id, u.conv, s.s,
      |        ('0x' || substr(md5(u.user_id::VARCHAR || '#' || s.s::VARCHAR),
      |           1, 15))::BIGINT % 2 AS arm
      |      FROM u CROSS JOIN (SELECT unnest(range(1, 17))::BIGINT AS s) s),
      |g AS (SELECT s,
      |        sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END)::BIGINT AS n1,
      |        sum(CASE WHEN arm = 1 THEN conv ELSE 0 END)::BIGINT AS c1,
      |        sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END)::BIGINT AS n0,
      |        sum(CASE WHEN arm = 0 THEN conv ELSE 0 END)::BIGINT AS c0
      |      FROM x GROUP BY 1),
      |z AS (SELECT *,
      |        ((1000 * (n1 + n0) * (c1 * n0 - c0 * n1) * (c1 * n0 - c0 * n1))
      |          // greatest(n1 * n0 * (c1 + c0) * (n1 + n0 - c1 - c0), 1))
      |          ::BIGINT AS z2_milli
      |      FROM g),
      |f AS (SELECT s AS split, n1, c1, n0, c0, z2_milli,
      |        (CASE WHEN z2_milli > 3841 THEN 1 ELSE 0 END)::BIGINT AS is_sig
      |      FROM z)
      |SELECT split, n1, c1, n0, c0, z2_milli, is_sig,
      |       (sum(is_sig) OVER ())::BIGINT AS n_sig,
      |       (CASE WHEN sum(is_sig) OVER () <= 3 THEN 1 ELSE 0 END)::BIGINT
      |         AS ok_calibrated
      |FROM f""".stripMargin

  /** q379: Dunnett-style many-vs-control comparison (Dunnett, "A multiple
    * comparison procedure for comparing several treatments with a
    * control", JASA 50, 1955) — the missing multi-armed workhorse next to
    * q371's paired test and q373's BH family: three treatment arms
    * (`user_id % 4`, arm 0 = control) compared against the SHARED control
    * on per-user purchase dollars, using the pooled within-arm variance
    * (the one-way-ANOVA MSE Dunnett's procedure prescribes — each
    * contrast borrows strength from ALL arms) and the family-wise
    * critical value for k=3 simultaneous two-sided contrasts at α=0.05,
    * df≈∞, equal allocation: d=2.349 (Dunnett 1955, Table 2), pinned as
    * `t2_milli > 5518` (2.349² = 5.5178). A per-arm z-test at 1.96 would
    * inflate the family error to ~14 %; the Dunnett cut holds it at 5 %.
    *
    * Integer discipline: y in whole dollars (the q372 overflow
    * convention, `n·Σy²` stays in long at every tested scale); SSE as the
    * per-arm floor-sum `Σ (1000(n·q − s²)) div n` (each term ≥ 0 by
    * Cauchy–Schwarz, so Spark's truncating `div` and DuckDB's flooring
    * `//` agree); the contrast through the harmonic size
    * `h = n·n_c div (n+n_c)` so `t2_milli = diff_milli²·h div
    * (1000·s2_milli)` never squares a raw sum (diff_milli² ≤ 10¹⁰ ·
    * h ≤ 10⁶ — inside long with 100× headroom). `diff_milli` CAN be
    * negative, where the engines' integer divisions differ — the oracle
    * spells out truncation-toward-zero as a CASE (the holtFdiv
    * discipline) so both run identical semantics; the per-user `y` fold
    * and the pooled `s2_milli` division carry the same guard, so even a
    * fixture with negative event values cannot split the engines.
    *
    * Scale shape: ONE user-keyed groupBy, a 4-row arm table
    * (localCheckpoint — it feeds the SSE fold, the control row, and the
    * treatment rows without re-scanning events), everything downstream
    * broadcast; the family rollup is a 3-row frame.
    */
  def q379Dunnett(spark: SparkSession, dir: String): DataFrame = {
    val byArm = events(spark, dir)
      .withColumn("cents", floor(col("value") * 100).cast("long"))
      .groupBy("user_id")
      .agg(expr("sum(CASE WHEN event_type = 'purchase' THEN cents ELSE 0L END)" +
        " div 100L").as("y"))
      .withColumn("arm", expr("user_id % 4"))
      .groupBy("arm")
      .agg(count(lit(1)).as("n"), sum("y").as("s"),
        sum(expr("y * y")).as("q"))
      .localCheckpoint()
    val pooled = byArm.agg(
        sum(expr("(1000L * (n * q - s * s)) div n")).as("sse_milli"),
        sum("n").as("n_tot"))
      .select(expr("sse_milli div (n_tot - 4)").as("s2_milli"))
    val ctrl = byArm.filter(col("arm") === 0)
      .select(col("n").as("n_c"), col("s").as("s_c"))
    byArm.filter(col("arm") =!= 0)
      .crossJoin(broadcast(ctrl))
      .crossJoin(broadcast(pooled))
      .withColumn("diff_milli",
        expr("(1000L * (s * n_c - s_c * n)) div (n * n_c)"))
      .withColumn("h", expr("(n * n_c) div (n + n_c)"))
      .withColumn("t2_milli",
        expr("(diff_milli * diff_milli * h) div greatest(1000L * s2_milli, 1L)"))
      .withColumn("is_sig", expr("CASE WHEN t2_milli > 5518L THEN 1L ELSE 0L END"))
      .select(col("arm"), col("n").as("n_t"), col("n_c"), col("s2_milli"),
        col("diff_milli"), col("t2_milli"), col("is_sig"))
      .withColumn("n_sig", expr("sum(is_sig) OVER ()"))
  }

  private val q379Oracle = {
    // truncation-toward-zero spelled out (Spark div) — DuckDB // floors
    def tdiv(x: String, d: String): String =
      s"(CASE WHEN ($x) >= 0 THEN ($x) // ($d) ELSE -((-($x)) // ($d)) END)"
    s"""WITH pu AS (SELECT user_id,
       |        ${tdiv(
             "sum(CASE WHEN event_type = 'purchase' " +
               "THEN floor(value * 100)::BIGINT ELSE 0 END)", "100")}
       |          ::BIGINT AS y
       |      FROM events GROUP BY 1),
       |a AS (SELECT user_id % 4 AS arm, count(*)::BIGINT AS n,
       |        sum(y)::BIGINT AS s, sum(y * y)::BIGINT AS q
       |      FROM pu GROUP BY 1),
       |p AS (SELECT ${tdiv("sum((1000 * (n * q - s * s)) // n)",
              "(sum(n) - 4)")}::BIGINT AS s2_milli FROM a),
       |c AS (SELECT n AS n_c, s AS s_c FROM a WHERE arm = 0),
       |t AS (SELECT arm::BIGINT AS arm, n, s FROM a WHERE arm <> 0),
       |x AS (SELECT arm, n AS n_t, n_c, s2_milli,
       |        ${tdiv("1000 * (s * n_c - s_c * n)", "n * n_c")}::BIGINT
       |          AS diff_milli,
       |        ((n * n_c) // (n + n_c))::BIGINT AS h
       |      FROM t CROSS JOIN c CROSS JOIN p),
       |z AS (SELECT arm, n_t, n_c, s2_milli, diff_milli,
       |        ((diff_milli * diff_milli * h)
       |          // greatest(1000 * s2_milli, 1))::BIGINT AS t2_milli
       |      FROM x)
       |SELECT arm, n_t, n_c, s2_milli, diff_milli, t2_milli,
       |       (CASE WHEN t2_milli > 5518 THEN 1 ELSE 0 END)::BIGINT AS is_sig,
       |       (sum(CASE WHEN t2_milli > 5518 THEN 1 ELSE 0 END) OVER ())
       |         ::BIGINT AS n_sig
       |FROM z""".stripMargin
  }

  /** q394: chi-squared test of independence — the contingency-table
    * workhorse missing next to the two-sample tiers (q237 KS, q256
    * Mann-Whitney compare DISTRIBUTIONS; this tests whether two
    * CATEGORICALS associate at all): event_type × user cohort
    * (`user_id % 4`), the "does behavior differ by assignment bucket"
    * sanity check an experimentation platform runs before trusting its
    * hash. Pearson's statistic in exact integer milli-units via the
    * rearranged form `χ² = N·Σ O²/(r·c) − N`: each cell contributes
    * `(1000·N·O²) div (r·c)` — every term non-negative, so Spark's
    * truncating `div` and DuckDB's flooring `//` agree with no CASE
    * guard — and the family gate pins χ²₀.₀₅ at df = (R−1)(C−1) = 12:
    * 21.026 (milli 21026). Per-cell truncation can undershoot the real
    * χ² by at most |cells| milli — irrelevant at the 21026 cut and
    * IDENTICAL in the replay. BIGINT headroom: 1000·N·O² ≤ 1000·N³ ⇒
    * N ≲ 2·10⁵ events worst-case (balanced margins stretch this to
    * ~10⁷; the q390/q381 documented-bound discipline) — past that,
    * drop the milli factor.
    *
    * Scale shape: ONE map-side-combined groupBy contracts the corpus to
    * the R×C cell table (localCheckpoint — it feeds both margins and the
    * fold); margins broadcast back; the statistic is a 1-row fold.
    */
  def q394ChiSquared(spark: SparkSession, dir: String): DataFrame = {
    val cells = events(spark, dir)
      .select(col("event_type"), expr("user_id % 4").as("cohort"))
      .groupBy("event_type", "cohort").agg(count(lit(1)).as("o"))
      .localCheckpoint()
    val r = cells.groupBy("event_type").agg(sum("o").as("r"))
    val c = cells.groupBy("cohort").agg(sum("o").as("c"))
    val n = cells.agg(sum("o").as("n"),
      countDistinct("event_type").as("nr"), countDistinct("cohort").as("nc"))
    cells.join(broadcast(r), "event_type").join(broadcast(c), "cohort")
      .crossJoin(broadcast(n))
      .agg(max(col("n")).as("n"),
        max(expr("(nr - 1) * (nc - 1)")).as("df"),
        (sum(expr("(1000L * n * o * o) div (r * c)"))
          - max(expr("1000L * n"))).as("chi2_milli"))
      .withColumn("is_sig",
        expr("CASE WHEN chi2_milli > 21026L THEN 1L ELSE 0L END"))
  }

  private val q394Oracle =
    """WITH x AS (SELECT event_type, user_id % 4 AS cohort FROM events),
      |o AS (SELECT event_type, cohort, count(*)::BIGINT AS o
      |      FROM x GROUP BY 1, 2),
      |r AS (SELECT event_type, sum(o)::BIGINT AS r FROM o GROUP BY 1),
      |c AS (SELECT cohort, sum(o)::BIGINT AS c FROM o GROUP BY 1),
      |n AS (SELECT sum(o)::BIGINT AS n,
      |        count(DISTINCT event_type)::BIGINT AS nr,
      |        count(DISTINCT cohort)::BIGINT AS nc FROM o),
      |f AS (SELECT max(n.n)::BIGINT AS n,
      |        max((n.nr - 1) * (n.nc - 1))::BIGINT AS df,
      |        sum((1000 * n.n * o.o * o.o) // (r.r * c.c))::BIGINT AS s
      |      FROM o JOIN r USING (event_type) JOIN c USING (cohort)
      |      CROSS JOIN n)
      |SELECT n, df, (s - 1000 * n)::BIGINT AS chi2_milli,
      |       (CASE WHEN s - 1000 * n > 21026 THEN 1 ELSE 0 END)::BIGINT
      |         AS is_sig
      |FROM f""".stripMargin

  /** q388: EXACT global quantiles over an unbounded value domain — the
    * order statistic the histogram-contraction tier (q278/q265/q363)
    * cannot give when the domain is not a bounded grid: p50/p90/p99 of
    * purchase cents picked at rank ⌈q·n⌉ of the full total order
    * (cents, event_id). The global rank is [[RangeRank.rank]] — two-pass
    * range-partitioned over the |purchases| contraction, never a
    * single-partition sort — and the quantile picks are conditional
    * aggregates against a 1-row broadcast count, so the whole statistic
    * is one extra pass over the ranked checkpoint. Lower-quantile
    * convention (⌈q·n⌉, q278's discipline): engine-exact, no
    * interpolation float ever exists.
    */
  def q388ExactQuantiles(spark: SparkSession, dir: String): DataFrame = {
    val p = events(spark, dir).filter(col("event_type") === "purchase")
      .select(col("event_id"), floor(col("value") * 100).cast("long").as("cents"))
    val ranked = RangeRank.rank(p, Seq(col("cents").asc, col("event_id").asc), "rnk")
    // n from the ranked output itself (RangeRank checkpoints its staged
    // shuffle), not a second purchase-filter scan of events
    ranked
      .crossJoin(broadcast(ranked.agg(count(lit(1)).as("n"))))
      .agg(max(col("n")).as("n"),
        min(when(col("rnk") === expr("(n + 1) div 2"), col("cents")))
          .as("p50_cents"),
        min(when(col("rnk") === expr("(9 * n + 9) div 10"), col("cents")))
          .as("p90_cents"),
        min(when(col("rnk") === expr("(99 * n + 99) div 100"), col("cents")))
          .as("p99_cents"))
  }

  private val q388Oracle =
    """WITH p AS (SELECT event_id, floor(value * 100)::BIGINT AS cents
      |           FROM events WHERE event_type = 'purchase'),
      |r AS (SELECT cents, row_number() OVER (ORDER BY cents, event_id) AS rnk
      |      FROM p),
      |n AS (SELECT count(*)::BIGINT AS n FROM p)
      |SELECT n,
      |  min(CASE WHEN rnk = (n + 1) // 2 THEN cents END)::BIGINT AS p50_cents,
      |  min(CASE WHEN rnk = (9 * n + 9) // 10 THEN cents END)::BIGINT AS p90_cents,
      |  min(CASE WHEN rnk = (99 * n + 99) // 100 THEN cents END)::BIGINT AS p99_cents
      |FROM r CROSS JOIN n GROUP BY n""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q376_aa_calibration" -> (q376AaCalibration _),
    "q388_exact_quantiles" -> (q388ExactQuantiles _),
    "q379_dunnett" -> (q379Dunnett _),
    "q394_chi_squared" -> (q394ChiSquared _),
    "q373_bh_fdr" -> (q373BhFdr _),
    "q370_kruskal_wallis" -> (q370KruskalWallis _),
    "q371_mcnemar" -> (q371McNemar _),
    "q372_cuped" -> (q372Cuped _),
    "q367_stl_decompose" -> (q367StlDecompose _),
    "q344_twap" -> (q344Twap _),
    "q347_holt_winters" -> (q347HoltWinters _),
    "q348_seasonal_bakeoff" -> (q348SeasonalBakeoff _),
    "q349_lead_lag" -> (q349LeadLag _),
    "q350_forecast_intervals" -> (q350ForecastIntervals _),
    "q351_kaplan_meier" -> (q351KaplanMeier _),
    "q352_stratified_ate" -> (q352StratifiedAte _),
    "q353_top_paths" -> (q353TopPaths _),
    "q354_time_to_convert" -> (q354TimeToConvert _),
    "q355_interarrival" -> (q355Interarrival _),
    "q356_engagement_gini" -> (q356EngagementGini _),
    "q358_hour_of_week" -> (q358HourOfWeek _),
    "q359_association_rules" -> (q359AssociationRules _),
    "q360_shapley_attribution" -> (q360ShapleyAttribution _),
    "q361_interval_coverage" -> (q361IntervalCoverage _),
    "q362_acf_ljung_box" -> (q362AcfLjungBox _),
    "q363_log_hist_quantile" -> (q363LogHistQuantile _),
    "q364_null_handling" -> (q364NullHandlingParity _),
    "q345_ohlc_bars" -> (q345OhlcBars _),
    "q337_hll_accuracy" -> (q337HllAccuracy _),
    "q338_rolling_active" -> (q338RollingActive _),
    "q334_markov_stationary" -> (q334MarkovStationary _),
    "q335_drift_monitor" -> (q335DriftMonitor _),
    "q330_forecast_mase" -> (q330ForecastMase _),
    "q331_runs_test" -> (q331RunsTest _),
    "q325_forecast_backtest" -> (q325ForecastBacktest _),
    "q324_rate_decomposition" -> (q324RateDecomposition _),
    "q323_theil_sen" -> (q323TheilSen _),
    "q322_permutation_test" -> (q322PermutationTest _),
    "q321_mann_kendall" -> (q321MannKendall _),
    "q320_srm_check" -> (q320SrmCheck _),
    "q319_sequential_test" -> (q319SequentialTest _),
    "q318_power_analysis" -> (q318PowerAnalysis _),
    "q317_cluster_bootstrap" -> (q317ClusterBootstrap _),
    "q314_variant_roundtrip" -> (q314VariantRoundtrip _),
    "q312_time_decay_attribution" -> (q312TimeDecayAttribution _),
    "q311_markov_attribution" -> (q311MarkovAttribution _),
    "q310_dp_release" -> (q310DpRelease _),
    "q309_holt_forecast" -> (q309HoltForecast _),
    "q303_poisson_bootstrap" -> (q303PoissonBootstrap _),
    "q301_stream_tws" -> (q301StreamTws _),
    "q302_t_closeness" -> (q302TCloseness _),
    "q293_null_ordering" -> (q293NullOrdering _),
    "q294_forget_audit" -> (q294ForgetAudit _),
    "q292_stream_bitmap" -> (q292StreamBitmap _),
    "q287_bounce_rate" -> (q287BounceRate _),
    "q284_spearman" -> (q284Spearman _),
    "q286_decayed_score" -> (q286DecayedScore _),
    "q280_activity_bitmap" -> (q280ActivityBitmap _),
    "q278_convert_lag" -> (q278ConvertLag _),
    "q279_dwell_time" -> (q279DwellTime _),
    "q264_peak_concurrency" -> (q264PeakConcurrency _),
    "q266_rfm_segments" -> (q266RfmSegments _),
    "q256_mann_whitney" -> (q256MannWhitney _),
    "q257_ema_feature" -> (q257EmaFeature _),
    "q258_mad_anomalies" -> (q258MadAnomalies _),
    "q240_gini_split" -> (q240GiniSplit _),
    "q239_chi2_independence" -> (q239Chi2Independence _),
    "q231_feature_hash" -> (q231FeatureHash _),
    "q232_target_encoding" -> (q232TargetEncoding _),
    "q222_sequence_support" -> (q222SequenceSupport _),
    "q216_kaplan_meier" -> (q216KaplanMeier _),
    "q217_l_diversity" -> (q217LDiversity _),
    "q220_position_attribution" -> (q220PositionAttribution _),
    "q208_weekly_bands" -> (q208WeeklyBands _),
    "q209_new_returning" -> (q209NewReturning _),
    "q210_growth_accounting" -> (q210GrowthAccounting _),
    "q206_hll_sweep" -> (q206HllSweep _),
    "q207_decile_gains" -> (q207DecileGains _),
    "q201_coverage_cut" -> (q201CoverageCut _),
    "q203_feature_store" -> (q203FeatureStore _),
    "q200_recent_history" -> (q200RecentHistory _),
    "q192_windowed_funnel" -> (q192WindowedFunnel _),
    "q193_sequence_match" -> (q193SequenceMatch _),
    "q189_weighted_median" -> (q189WeightedMedian _),
    "q190_change_point" -> (q190ChangePoint _),
    "q185_k_anonymity" -> (q185KAnonymity _),
    "q186_late_arrivals" -> (q186LateArrivals _),
    "q187_negative_samples" -> (q187NegativeSamples _),
    "q188_burst_rate" -> (q188BurstRate _),
    "q183_linear_attribution" -> (q183LinearAttribution _),
    "q180_type_affinity" -> (q180TypeAffinity _),
    "q174_trend_slope" -> (q174TrendSlope _),
    "q175_activity_heatmap" -> (q175ActivityHeatmap _),
    "q176_simpson_diversity" -> (q176SimpsonDiversity _),
    "q163_rfm_segments" -> (q163RfmSegments _),
    "q164_retention_matrix" -> (q164RetentionMatrix _),
    "q165_market_basket" -> (q165MarketBasket _),
    "q166_seasonal_anomaly" -> (q166SeasonalAnomaly _),
    "q167_benford" -> (q167Benford _),
    "q159_max_concurrent" -> (q159MaxConcurrent _),
    "q141_drift_report" -> (q141DriftReport _),
    "q142_ab_ztest" -> (q142AbZtest _),
    "q143_stickiness" -> (q143Stickiness _),
    "q144_cohort_ltv" -> (q144CohortLtv _),
    "q133_gap_fill" -> (q133GapFill _),
    "q134_sliding_hll" -> (q134SlidingHll _),
    "q136_locf" -> (q136Locf _),
    "q137_transitions" -> (q137Transitions _),
    "q138_winsorize" -> (q138Winsorize _),
    "q139_audience_overlap" -> (q139AudienceOverlap _),
    "q140_top_journeys" -> (q140TopJourneys _),
    "q131_expectations" -> (q131Expectations _),
    "q125_cms_frequency" -> (q125CmsFrequency _),
    "q126_per_key_sample" -> (q126PerKeySample _),
    "q127_window_dedup" -> (q127WindowDedup _),
    "q128_mad_outliers" -> (q128MadOutliers _),
    "q60_retention" -> (q60Retention _),
    "q117_stream_session_window" -> (q117StreamSessionWindow _),
    "q118_topk_per_key" -> (q118TopKPerKey _),
    "q119_next_event_label" -> (q119NextEventLabel _),
    "q120_group_kfold" -> (q120GroupKFold _),
    "q121_temporal_split" -> (q121TemporalSplit _),
    "q122_skew_diagnostics" -> (q122SkewDiagnostics _),
    "q112_hll_merge" -> (q112HllMerge _),
    "q113_approx_topk" -> (q113ApproxTopK _),
    "q114_decayed_score" -> (q114DecayedScore _),
    "q115_last_touch" -> (q115LastTouch _),
    "q67_pivot" -> (q67Pivot _),
    "q12_sessionize" -> (q12Sessionize _),
    "q13_funnel" -> (q13Funnel _),
    "q14_json_props" -> (q14JsonProps _),
    "q15_scalar_suite" -> (q15ScalarSuite _),
    "q69_stream_sessionize" -> (q69StreamSessionize _),
    "q70_stream_windows" -> (q70StreamWindows _),
    "q73_stream_dedup" -> (q73StreamDedup _),
    "q79_rolling_features" -> (q79RollingFeatures _),
    "q81_stream_enrich" -> (q81StreamEnrich _),
    "q83_approx_users" -> (q83ApproxUsers _),
    "q86_unpivot" -> (q86Unpivot _),
    "q88_full_outer" -> (q88FullOuter _),
    "q89_stream_stream_join" -> (q89StreamStreamJoin _),
    "q90_deciles" -> (q90Deciles _),
    "q91_histogram" -> (q91Histogram _),
    "q92_user_gini" -> (q92UserGini _),
    "q93_rank_family" -> (q93RankFamily _),
    "q96_schema_evolution" -> (q96SchemaEvolution _),
    "q97_collect_types" -> (q97CollectTypes _),
    "q103_quantile_bins" -> (q103QuantileBins _),
    "q105_session_features" -> (q105SessionFeatures _),
    "q106_funnel3" -> (q106Funnel3 _),
    "q107_dispersion" -> (q107Dispersion _),
    "q108_correlation" -> (q108Correlation _)
  )

  val oracleSql: Map[String, String] = Map(
    "q293_null_ordering" -> q293Oracle,
    "q294_forget_audit" -> q294Oracle,
    // the transformWithState totals must land exactly on the batch aggregate
    "q301_stream_tws" -> q301Oracle,
    "q302_t_closeness" -> q302Oracle,
    "q303_poisson_bootstrap" -> q303Oracle,
    "q309_holt_forecast" -> q309Oracle,
    "q310_dp_release" -> q310Oracle,
    "q311_markov_attribution" -> q311Oracle,
    "q312_time_decay_attribution" -> q312Oracle,
    "q314_variant_roundtrip" -> q314Oracle,
    "q317_cluster_bootstrap" -> q317Oracle,
    "q318_power_analysis" -> q318Oracle,
    "q319_sequential_test" -> q319Oracle,
    "q320_srm_check" -> q320Oracle,
    "q321_mann_kendall" -> q321Oracle,
    "q322_permutation_test" -> q322Oracle,
    "q323_theil_sen" -> q323Oracle,
    "q324_rate_decomposition" -> q324Oracle,
    "q325_forecast_backtest" -> q325Oracle,
    "q376_aa_calibration" -> q376Oracle,
    "q379_dunnett" -> q379Oracle,
    "q394_chi_squared" -> q394Oracle,
    "q388_exact_quantiles" -> q388Oracle,
    "q373_bh_fdr" -> q373Oracle,
    "q370_kruskal_wallis" -> q370Oracle,
    "q371_mcnemar" -> q371Oracle,
    "q372_cuped" -> q372Oracle,
    "q367_stl_decompose" -> q367Oracle,
    "q344_twap" -> q344Oracle,
    "q347_holt_winters" -> q347Oracle,
    "q348_seasonal_bakeoff" -> q348Oracle,
    "q349_lead_lag" -> q349Oracle,
    "q350_forecast_intervals" -> q350Oracle,
    "q351_kaplan_meier" -> q351Oracle,
    "q352_stratified_ate" -> q352Oracle,
    "q353_top_paths" -> q353Oracle,
    "q354_time_to_convert" -> q354Oracle,
    "q355_interarrival" -> q355Oracle,
    "q356_engagement_gini" -> q356Oracle,
    "q358_hour_of_week" -> q358Oracle,
    "q359_association_rules" -> q359Oracle,
    "q360_shapley_attribution" -> q360Oracle,
    "q361_interval_coverage" -> q361Oracle,
    "q362_acf_ljung_box" -> q362Oracle,
    "q363_log_hist_quantile" -> q363Oracle,
    "q364_null_handling" -> q364Oracle,
    "q345_ohlc_bars" -> q345Oracle,
    "q337_hll_accuracy" -> q337Oracle,
    "q338_rolling_active" -> q338Oracle,
    "q334_markov_stationary" -> q334Oracle,
    "q335_drift_monitor" -> q335Oracle,
    "q330_forecast_mase" -> q330Oracle,
    "q331_runs_test" -> q331Oracle,
    // the streamed bitmap must land exactly on the one-shot batch bitmap
    "q292_stream_bitmap" -> q280Oracle,
    "q287_bounce_rate" -> q287Oracle,
    "q284_spearman" -> q284Oracle,
    "q286_decayed_score" -> q286Oracle,
    "q280_activity_bitmap" -> q280Oracle,
    "q278_convert_lag" -> q278Oracle,
    "q279_dwell_time" -> q279Oracle,
    "q264_peak_concurrency" -> q264Oracle,
    "q266_rfm_segments" -> q266Oracle,
    "q256_mann_whitney" -> q256Oracle,
    "q257_ema_feature" -> q257Oracle,
    "q258_mad_anomalies" -> q258Oracle,
    "q240_gini_split" -> q240Oracle,
    "q239_chi2_independence" -> q239Oracle,
    "q231_feature_hash" -> q231Oracle,
    "q232_target_encoding" -> q232Oracle,
    "q222_sequence_support" -> q222Oracle,
    "q216_kaplan_meier" -> q216Oracle,
    "q217_l_diversity" -> q217Oracle,
    "q220_position_attribution" -> q220Oracle,
    "q192_windowed_funnel" -> q192Oracle,
    "q200_recent_history" -> q200Oracle,
    "q201_coverage_cut" -> q201Oracle,
    "q203_feature_store" -> q203Oracle,
    "q206_hll_sweep" -> q206Oracle,
    "q207_decile_gains" -> q207Oracle,
    "q208_weekly_bands" -> q208Oracle,
    "q209_new_returning" -> q209Oracle,
    "q210_growth_accounting" -> q210Oracle,
    "q193_sequence_match" -> q193Oracle,
    "q189_weighted_median" -> q189Oracle,
    "q190_change_point" -> q190Oracle,
    "q185_k_anonymity" -> q185Oracle,
    "q186_late_arrivals" -> q186Oracle,
    "q187_negative_samples" -> q187Oracle,
    "q188_burst_rate" -> q188Oracle,
    "q183_linear_attribution" -> q183Oracle,
    "q180_type_affinity" -> q180Oracle,
    "q174_trend_slope" -> q174Oracle,
    "q175_activity_heatmap" -> q175Oracle,
    "q176_simpson_diversity" -> q176Oracle,
    "q163_rfm_segments" -> q163Oracle,
    "q164_retention_matrix" -> q164Oracle,
    "q165_market_basket" -> q165Oracle,
    "q166_seasonal_anomaly" -> q166Oracle,
    "q167_benford" -> q167Oracle,
    "q141_drift_report" -> q141Oracle,
    "q142_ab_ztest" -> q142Oracle,
    "q143_stickiness" -> q143Oracle,
    "q144_cohort_ltv" -> q144Oracle,
    "q159_max_concurrent" -> q159Oracle,
    "q60_retention" -> q60Oracle,
    "q67_pivot" -> q67Oracle,
    "q12_sessionize" -> q12Oracle,
    "q13_funnel" -> q13Oracle,
    "q14_json_props" -> q14Oracle,
    "q15_scalar_suite" -> q15Oracle,
    // streaming must reproduce the batch gap semantics exactly
    "q69_stream_sessionize" -> q12Oracle,
    // and watermarked windows must reproduce the batch tumbling counts
    "q70_stream_windows" -> q70Oracle,
    // streaming dedup must keep exactly one row per batch-tier fingerprint
    "q73_stream_dedup" -> q73Oracle,
    "q79_rolling_features" -> q79Oracle,
    // stream-static join gated value-for-value against the batch join
    "q81_stream_enrich" -> q81Oracle,
    "q83_approx_users" -> q83Oracle,
    "q86_unpivot" -> q86Oracle,
    "q88_full_outer" -> q88Oracle,
    // stream-stream interval join must emit exactly the batch join result
    "q89_stream_stream_join" -> q89Oracle,
    "q90_deciles" -> q90Oracle,
    "q91_histogram" -> q91Oracle,
    "q92_user_gini" -> q92Oracle,
    "q93_rank_family" -> q93Oracle,
    "q96_schema_evolution" -> q96Oracle,
    "q97_collect_types" -> q97Oracle,
    "q103_quantile_bins" -> q103Oracle,
    "q105_session_features" -> q105Oracle,
    "q106_funnel3" -> q106Oracle,
    "q107_dispersion" -> q107Oracle,
    "q108_correlation" -> q108Oracle,
    "q112_hll_merge" -> q112Oracle,
    "q113_approx_topk" -> q113Oracle,
    "q114_decayed_score" -> q114Oracle,
    "q115_last_touch" -> q115Oracle,
    "q117_stream_session_window" -> q117Oracle,
    "q118_topk_per_key" -> q118Oracle,
    "q119_next_event_label" -> q119Oracle,
    "q120_group_kfold" -> q120Oracle,
    "q121_temporal_split" -> q121Oracle,
    "q122_skew_diagnostics" -> q122Oracle,
    "q125_cms_frequency" -> q125Oracle,
    "q131_expectations" -> q131Oracle,
    "q133_gap_fill" -> q133Oracle,
    "q134_sliding_hll" -> q134Oracle,
    "q136_locf" -> q136Oracle,
    "q137_transitions" -> q137Oracle,
    "q138_winsorize" -> q138Oracle,
    "q139_audience_overlap" -> q139Oracle,
    "q140_top_journeys" -> q140Oracle,
    "q126_per_key_sample" -> q126Oracle,
    "q127_window_dedup" -> q127Oracle,
    "q128_mad_outliers" -> q128Oracle
  )
}
