package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, unix_micros}
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Test-table access for the driver's TPC-H-ish fixtures (TESTDATA.md).
  *
  * Reads are plain Parquet scans: column pruning and predicate pushdown
  * reach the scan untouched (verify with `.explain` → `ReadSchema` /
  * `PushedFilters`), which is the property that matters when the same query
  * shape runs over 100 TB instead of 60k rows.
  *
  * Each table is resolved once per session ([[Staging.table]]): the first
  * reference lists the table and infers its schema, every later one reuses
  * that relation after a driver-side listing shows the files unchanged —
  * no Spark listing, no schema job. Each reference still gets its own
  * attribute ids, as a separate read would.
  *
  * **Event-time contract**: downstream query code never assumes a physical
  * timestamp encoding. The reference behaves the same way — its schema is
  * whatever the source serves, introspected at runtime
  * (`unload_databricks_data_to_s3.py:141-153` walks `df.schema.fields`;
  * the CDC filter guards on column presence, `:204`). Here the boundary
  * normalizes `events.ts` to ONE canonical type — BIGINT nanoseconds since
  * the Unix epoch — whatever the parquet delivers (INT64 nanos,
  * `timestamp[us]`/TIMESTAMP_NTZ, or tz-aware TIMESTAMP). Every consumer
  * derives micros via [[tsUs]]; none spells the physical encoding.
  */
object Tables {
  def t(spark: SparkSession, dir: String, name: String): DataFrame = {
    // Older generations of events.parquet carry TIMESTAMP(NANOS), which the
    // vectorized reader rejects unless nanos surface as long. Session tz is
    // pinned UTC so a TIMESTAMP_NTZ → TIMESTAMP cast (below) is a pure
    // relabeling, never a wall-clock shift. Set defensively here because
    // the driver may hand us a fresh session.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    normalizeTs(Staging.table(spark, s"$dir/$name.parquet"))
  }

  /** Normalize a `ts` column (if present) to canonical BIGINT epoch-nanos.
    *
    * - LongType: already canonical (INT64-nanos parquet via `nanosAsLong`).
    * - TIMESTAMP_NTZ (parquet `timestamp[us]`, `isAdjustedToUTC=false`):
    *   relabel as TIMESTAMP under the UTC session tz, then
    *   `unix_micros × 1000`. Integer-exact — no float, no rounding.
    * - TIMESTAMP (tz-adjusted): `unix_micros × 1000` directly.
    *
    * The multiply stays in whole-stage codegen and the column keeps its
    * position, so the visible schema is stable across physical encodings —
    * the schema-drift property `TablesSpec` pins.
    *
    * Any OTHER `ts` type (STRING, INT32, DECIMAL, …) throws HERE, with one
    * diagnosis, instead of silently passing through and crashing at 30
    * downstream call sites — the round-7 failure mode. The reference has the
    * same posture: schema is introspected at runtime, never assumed
    * (`unload_databricks_data_to_s3.py:141-153`).
    */
  def normalizeTs(df: DataFrame): DataFrame =
    df.schema.fields.find(_.name == "ts").map(_.dataType) match {
      case Some(TimestampNTZType) =>
        df.withColumn("ts", unix_micros(col("ts").cast(TimestampType)) * lit(1000L))
      case Some(TimestampType) =>
        df.withColumn("ts", unix_micros(col("ts")) * lit(1000L))
      case Some(LongType) | None => df
      case Some(other) =>
        throw new IllegalStateException(
          s"Tables.normalizeTs: unsupported physical type for 'ts': $other. " +
            "The canonical boundary handles INT64 nanos (LongType), " +
            "TIMESTAMP_NTZ, and tz-adjusted TIMESTAMP; the testdata encoding " +
            "has drifted — extend normalizeTs for the new encoding here, in " +
            "ONE place, rather than letting 30 downstream ts consumers crash.")
    }

  /** Event time in epoch-MICROS — the single place the nanos→micros step is
    * spelled. Query code uses this instead of raw `ts` arithmetic; the
    * DuckDB oracles' counterpart is `epoch_us(ts)` (integer-exact on both
    * engines). */
  def tsUs: Column = org.apache.spark.sql.functions.expr("ts div 1000")

  /** Event time bucketed to epoch-DAYS (integer `div`, matching the DuckDB
    * oracles' `epoch_us(ts) // 86400000000`). */
  def tsDay: Column = org.apache.spark.sql.functions.expr("ts div 1000 div 86400000000")

  /** Event time bucketed to epoch-WEEKS (7-day buckets from the epoch). */
  def tsWeek: Column =
    org.apache.spark.sql.functions.expr("ts div 1000 div 86400000000 div 7")

  def lineitem(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "customer")
  def supplier(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "part")
  def nation(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "region")
  def events(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "events")
  def documents(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = t(spark, dir, "embeddings")

  /** Spread a narrow scan across the cluster before CPU-heavy per-row work
    * (md5 shingling, 48-bit sketches, per-pair dot products).
    *
    * A small parquet file arrives as ONE input partition, serializing every
    * downstream expression onto a single core regardless of `local[n]` /
    * executor count. At real scale the input already has ≥ parallelism
    * splits and this is a no-op — the condition makes the shuffle a
    * small-corpus-only cost, never a 100 TB one.
    *
    * The check is planner-side only: estimated split count = leaf-relation
    * statistics bytes / `spark.sql.files.maxPartitionBytes` — the same
    * sizing the file source itself uses — compared against the default
    * parallelism. (The earlier `df.rdd.getNumPartitions` probe forced
    * physical planning of the sub-plan at query-BUILD time and would
    * de-optimize composition under further SQL.)
    */
  def fanOut(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val target = spark.sparkContext.defaultParallelism
    val maxSplit = org.apache.spark.network.util.JavaUtils.byteStringAsBytes(
      spark.conf.get("spark.sql.files.maxPartitionBytes", "128MB"))
    val inputBytes = df.queryExecution.analyzed.collectLeaves()
      .map(_.stats.sizeInBytes).sum
    if (inputBytes < BigInt(maxSplit) * target) df.repartition(target) else df
  }
}
