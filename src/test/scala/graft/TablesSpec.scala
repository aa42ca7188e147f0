package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{AnalysisException, DataFrame, Row}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.queries.{Staging, Tables}

/** Schema-drift regression for the [[graft.queries.Tables]] event-time
  * boundary.
  *
  * The driver regenerates `/root/testdata` between rounds and has already
  * switched `events.ts` from INT64-nanos parquet to `timestamp[us]`
  * (TIMESTAMP_NTZ in Spark) once, which crashed every query doing raw `ts`
  * arithmetic at plan time. The boundary's contract: whatever the physical
  * encoding, `Tables.t(..., "events")` yields `ts: BIGINT` epoch-nanos with
  * identical values. This spec writes the SAME rows in all three encodings
  * and asserts byte-identical canonical output, so flipping the testdata
  * encoding again cannot silently break the surface.
  *
  * It also pins the once-per-session resolve behind `Tables.t`
  * ([[graft.queries.Staging.table]]): a repeated reference starts no job,
  * two references join like two reads, a rewritten table re-resolves, each
  * session resolves its own relation, and a missing table fails as before.
  */
class TablesSpec extends SparkSpec {
  import spark.implicits._

  // 2024-01-15T10:30:00.123456Z and a second row 1µs later; values chosen
  // to be exactly representable in micros so every encoding round-trips
  private val micros = Seq(1705314600123456L, 1705314600123457L, 1705401000000000L)

  private def canonical(dir: java.nio.file.Path, sub: String) =
    Tables.t(spark, dir.resolve(sub).toString, "events")
      .select($"event_id", $"ts").orderBy($"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq

  /** The parquet relation under a fixture read. */
  private def relationOf(df: DataFrame): HadoopFsRelation =
    df.queryExecution.analyzed.collectFirst {
      case l: LogicalRelation => l.relation.asInstanceOf[HadoopFsRelation]
    }.get

  /** Number of Spark jobs `body` starts, counted after the listener bus
    * has drained. */
  private def jobsStarted(body: => Unit): Int = {
    val jobs = new AtomicInteger()
    val l = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftBus.waitUntilEmpty(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.get
  }

  private def writeNanos(path: java.nio.file.Path, us: Seq[Long]): Unit =
    us.zipWithIndex
      .map { case (u, i) => (i.toLong, u * 1000L) }
      .toDF("event_id", "ts")
      .write.mode("overwrite").parquet(path.toString)

  private def writeNtz(path: java.nio.file.Path, us: Seq[Long]): Unit = {
    val rows = us.zipWithIndex.map { case (u, i) =>
      Row(i.toLong, java.time.LocalDateTime.ofEpochSecond(
        u / 1000000L, (u % 1000000L).toInt * 1000, java.time.ZoneOffset.UTC))
    }
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 1),
      StructType(Seq(StructField("event_id", LongType),
        StructField("ts", TimestampNTZType))))
      .write.mode("overwrite").parquet(path.toString)
  }

  test("ts normalizes to identical BIGINT nanos across parquet encodings") {
    withTempDir("tables-drift") { dir =>
      // encoding 1: INT64 nanos (the original testdata generation)
      writeNanos(dir.resolve("nanos/events.parquet"), micros)

      // encoding 2: TIMESTAMP_NTZ — parquet timestamp[us], isAdjustedToUTC
      // false (the current testdata generation)
      writeNtz(dir.resolve("ntz/events.parquet"), micros)

      // encoding 3: tz-adjusted TIMESTAMP (isAdjustedToUTC true)
      micros.zipWithIndex
        .map { case (us, i) => (i.toLong, java.sql.Timestamp.from(
          java.time.Instant.EPOCH.plus(us, java.time.temporal.ChronoUnit.MICROS))) }
        .toDF("event_id", "ts")
        .write.parquet(dir.resolve("tz/events.parquet").toString)

      // NOTE: the "nanos" case writes a plain INT64 column, so it exercises
      // the LongType passthrough branch. The legacy parquet
      // TIMESTAMP(NANOS) + `nanosAsLong` read leg (Spark cannot WRITE that
      // encoding) is pinned by the pyarrow-generated fixture test below.
      val expected = micros.zipWithIndex.map { case (us, i) => (i.toLong, us * 1000L) }
      for (enc <- Seq("nanos", "ntz", "tz")) {
        val df = Tables.t(spark, dir.resolve(enc).toString, "events")
        assert(df.schema("ts").dataType === LongType,
          s"$enc: ts must surface as BIGINT nanos")
        assert(canonical(dir, enc) === expected, s"$enc: values drifted")
      }
    }
  }

  test("legacy TIMESTAMP(NANOS) parquet reads through nanosAsLong as BIGINT nanos") {
    // Foreign-written fixture (tools/make_nanos_fixture.py, pyarrow, parquet
    // 2.6): the one encoding Spark can read but not write, and the one
    // TablesSpec's own three writers cannot cover. Same canonical rows as
    // the encoding matrix above, so the value assertion is shared.
    val df = Tables.t(spark, "src/test/resources/fixtures/nanos-legacy", "events")
    assert(df.schema("ts").dataType === LongType,
      "TIMESTAMP(NANOS) must surface as BIGINT nanos via nanosAsLong")
    val got = df.select($"event_id", $"ts").orderBy($"event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
    val expected = micros.zipWithIndex.map { case (us, i) => (i.toLong, us * 1000L) }
    assert(got === expected, "legacy-nanos values drifted through the boundary")
  }

  test("tsUs derives epoch-micros from the canonical column") {
    val got = Seq((1L, 1705314600123456789L)).toDF("event_id", "ts")
      .select(Tables.tsUs.as("us")).head().getLong(0)
    assert(got === 1705314600123456L)
  }

  test("unknown ts encodings fail loud at the boundary, not downstream") {
    // Round 7's failure mode: a regenerated encoding the boundary does not
    // recognize must throw HERE with one diagnosis — silently passing the
    // raw column through would defer the crash to 30 downstream call sites.
    val strDf = Seq((1L, "2024-01-15T10:30:00Z")).toDF("event_id", "ts")
    val e = intercept[IllegalStateException](Tables.normalizeTs(strDf))
    assert(e.getMessage.contains("unsupported physical type for 'ts'"))
    assert(e.getMessage.contains("StringType"))
    val intDf = Seq((1L, 42)).toDF("event_id", "ts")
    intercept[IllegalStateException](Tables.normalizeTs(intDf))
  }

  test("tables without a ts column pass through untouched") {
    withTempDir("tables-nots") { dir =>
      Seq((1L, "a")).toDF("k", "v")
        .write.parquet(dir.resolve("part.parquet").toString)
      val df = Tables.t(spark, dir.toString, "part")
      assert(df.columns.toSeq === Seq("k", "v"))
      assert(df.count() === 1L)
    }
  }

  test("a second reference to a table in one session starts no Spark job") {
    withTempDir("tables-once") { dir =>
      Seq((1L, "a"), (2L, "b")).toDF("k", "v")
        .write.parquet(dir.resolve("kv.parquet").toString)
      // the first reference lists the table and infers its schema: a job,
      // so the counter is live; the second resolves nothing
      assert(jobsStarted(Tables.t(spark, dir.toString, "kv").schema) > 0)
      assert(jobsStarted(Tables.t(spark, dir.toString, "kv").schema) === 0)
    }
  }

  test("two references to one table join like two separate reads") {
    withTempDir("tables-self-join") { dir =>
      val path = dir.resolve("kv.parquet").toString
      Seq((1L, "a"), (2L, "b"), (2L, "c")).toDF("k", "v").write.parquet(path)
      def joined(a: DataFrame, b: DataFrame) =
        a.join(b, a("k") === b("k")).select(a("k"), a("v"), b("v"))
          .collect().map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq.sorted
      val a = Tables.t(spark, dir.toString, "kv")
      val b = Tables.t(spark, dir.toString, "kv")
      assert(relationOf(a) eq relationOf(b), "one relation per (session, path)")
      val got = joined(a, b)
      assert(got === joined(spark.read.parquet(path), spark.read.parquet(path)))
      assert(got.size === 5)
    }
  }

  test("a table rewritten in place with another encoding re-resolves") {
    withTempDir("tables-rewrite") { dir =>
      val path = dir.resolve("events.parquet")
      writeNanos(path, micros.take(2))
      assert(canonical(dir, "") === micros.take(2).zipWithIndex
        .map { case (us, i) => (i.toLong, us * 1000L) })
      assert(Staging.table(spark, path.toString).schema("ts").dataType === LongType)
      writeNtz(path, micros)
      assert(Staging.table(spark, path.toString).schema("ts").dataType === TimestampNTZType,
        "the changed listing must resolve the new schema")
      assert(canonical(dir, "") === micros.zipWithIndex
        .map { case (us, i) => (i.toLong, us * 1000L) })
    }
  }

  test("a new session resolves its own relation, bound to that session") {
    withTempDir("tables-session") { dir =>
      Seq((1L, "a")).toDF("k", "v").write.parquet(dir.resolve("kv.parquet").toString)
      val other = spark.newSession()
      val here = relationOf(Tables.t(spark, dir.toString, "kv"))
      val there = relationOf(Tables.t(other, dir.toString, "kv"))
      assert(here.sparkSession eq spark)
      assert(there.sparkSession eq other)
      assert(relationOf(Tables.t(other, dir.toString, "kv")) eq there)
      assert(Tables.t(other, dir.toString, "kv").count() === 1L)
    }
  }

  test("a table addressed by URI, which the listing cannot see, is read afresh each time") {
    withTempDir("tables-uri") { dir =>
      val path = dir.resolve("kv.parquet").toString
      Seq((1L, "a")).toDF("k", "v").write.parquet(path)
      assert(Tables.t(spark, dir.toUri.toString.stripSuffix("/"), "kv").count() === 1L)
      Seq((1L, "a"), (2L, "b")).toDF("k", "v").write.mode("overwrite").parquet(path)
      assert(Tables.t(spark, dir.toUri.toString.stripSuffix("/"), "kv").count() === 2L)
    }
  }

  test("a missing table fails with Spark's PATH_NOT_FOUND") {
    withTempDir("tables-missing") { dir =>
      val e = intercept[AnalysisException](Tables.t(spark, dir.toString, "absent"))
      assert(e.getCondition === "PATH_NOT_FOUND", e.getMessage)
    }
  }
}
