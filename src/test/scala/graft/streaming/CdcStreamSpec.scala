package graft.streaming

import java.nio.file.{Files, Path => JPath, Paths}
import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.concurrent.{Signaler, ThreadSignaler, TimeLimits}
import org.scalatest.time.{Seconds, Span}

import graft.SparkSpec
import graft.engine.JobSpec.Event
import graft.engine.{Recovery, VersionedCatalog}

/** Streaming surface: CDF ingest through the version-offset source with CDC
  * semantics, watermarked windows, stateful sessionization. All runs use
  * MemoryStream, the CDF source or a file source with processAllAvailable or
  * an AvailableNow drain, so assertions are deterministic. Every
  * test is wrapped in `failAfter` — a stream that never quiesces (e.g. a
  * timeout mode whose `shouldRunAnotherBatch` is always true) must FAIL the
  * suite, not stall it.
  */
class CdcStreamSpec extends SparkSpec with BeforeAndAfterAll with TimeLimits {
  import spark.implicits._

  private implicit val signaler: Signaler = ThreadSignaler

  /** `test` with a hang guard; 120 s is ~30× the slowest green run. */
  private def stest(name: String)(body: => Unit): Unit =
    test(name)(failAfter(Span(120, Seconds))(body))

  private var work: JPath = _
  override def beforeAll(): Unit = { work = Files.createTempDirectory("graft-stream") }
  override def afterAll(): Unit = rmTree(work)

  stest("streaming CDF ingest applies EVENT semantics incrementally") {
    val cat = VersionedCatalog(s"$work/cat1")
    val table = "main.stream.items"
    def commit(v: Long, rows: Seq[(Long, String, String)]): Unit =
      cat.commitChanges(
        rows.toDF("id", "name", "_change_type")
          .withColumn("_commit_timestamp", lit(s"2024-01-0$v")),
        table, v)
    commit(1L, Seq((1L, "a", "insert"), (2L, "b", "update_postimage")))

    val stream = CdcStream.readChanges(spark, cat, table, Event)
    val query = stream.writeStream
      .format("memory").queryName("cdc_stream").outputMode("append").start()
    try {
      query.processAllAvailable()
      // EVENT: inserts only; metadata columns dropped by the shared filter
      val out1 = spark.sql("SELECT id FROM cdc_stream").as[Long].collect().sorted
      assert(out1 === Array(1L))
      assert(!spark.table("cdc_stream").columns.contains("_change_type"))

      // a NEW commit directory is discovered incrementally
      commit(2L, Seq((3L, "c", "insert"), (1L, "a2", "update_postimage")))
      query.processAllAvailable()
      val out2 = spark.sql("SELECT id FROM cdc_stream").as[Long].collect().sorted
      assert(out2 === Array(1L, 3L))
    } finally query.stop()
  }

  /** `cat` with one insert per commit of `versions` into `table`, id = version. */
  private def commitEach(cat: VersionedCatalog, table: String, versions: Long*): Unit =
    versions.foreach { v =>
      cat.commitChanges(Seq((v, "insert")).toDF("id", "_change_type")
        .withColumn("_commit_timestamp", lit(s"2024-03-0$v")), table, v)
    }

  private def messages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x => Option(x.getMessage).toSeq ++ messages(x.getCause))

  stest("two drains over one checkpoint export each commit once, in order, one commit per trigger") {
    val cat = VersionedCatalog(s"$work/cat_once")
    val table = "main.stream.once"
    val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[(Int, Long)])]
    def drain(): Unit = CdcStream.drain(
      CdcStream.readChanges(spark, cat, table, Event, mutabilityMode = true, maxCommitsPerTrigger = 1)
        .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, id: Long) =>
          batches += id -> batch.select("_commit_version", "id").as[(Int, Long)].collect().toSeq
          ()
        },
      s"$work/ckpt_once")
    commitEach(cat, table, 1L, 2L, 3L)
    drain()
    commitEach(cat, table, 4L, 5L)
    drain()
    assert(batches.toSeq === (1 to 5).map(v => (v - 1L, Seq(v -> v.toLong))))
  }

  stest("a two-table drain reports each table's range and restarts after one table stood still") {
    import graft.engine.JobSpec.{JobConfig, TableVersionRange}
    val cat = VersionedCatalog(s"$work/cat_two")
    val (a, b) = ("main.stream.a", "main.stream.b")
    val out = s"$work/two_out"
    val config = JobConfig(
      tables = Seq(TableVersionRange(a, 1L, 1L), TableVersionRange(b, 1L, 1L)),
      dataType = Event,
      sql = s"SELECT id FROM $a UNION ALL SELECT id + 100 AS id FROM $b",
      outputPath = out)
    def drain() = CdcStream.unloadAvailableNow(spark, cat, config, s"$work/ckpt_two")
    commitEach(cat, a, 1L)
    commitEach(cat, b, 1L)
    assert(drain() === Seq(TableVersionRange(a, 1L, 1L), TableVersionRange(b, 1L, 1L)))
    commitEach(cat, a, 2L)
    assert(drain() === Seq(TableVersionRange(a, 2L, 2L)))
    // the restart re-announces the last batch, in which b's offset stood still
    assert(drain() === Seq.empty)
    assert(spark.read.parquet(out).as[Long].collect().sorted === Array(1L, 2L, 101L))
  }

  stest("a commit missing from the window fails the drain with the missing-CDF signature") {
    val cat = VersionedCatalog(s"$work/cat_gap")
    val table = "main.stream.gap"
    commitEach(cat, table, 1L, 2L, 3L)
    rmTree(Paths.get(cat.commitPath(table, 2L)))
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcStream.drain(
        CdcStream.readChanges(spark, cat, table, Event).writeStream.format("noop"),
        s"$work/ckpt_gap")
    }
    assert(Recovery.missingCdfSignature(e).contains(Recovery.MissingCdfFileSignature),
      messages(e).mkString(" | "))
  }

  stest("a checkpoint written by the file stream source fails with one error that names it") {
    val cat = VersionedCatalog(s"$work/cat_legacy")
    val table = "main.stream.legacy"
    val ckpt = s"$work/ckpt_legacy"
    commitEach(cat, table, 1L)
    CdcStream.drain(
      spark.readStream.schema(cat.changeSchema(spark, table)).parquet(cat.cdfRoot(table))
        .writeStream.format("noop"),
      ckpt)
    commitEach(cat, table, 2L)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcStream.drain(
        CdcStream.readChanges(spark, cat, table, Event).writeStream.format("noop"), ckpt)
    }
    val named = messages(e).filter(_.contains("file stream source"))
    assert(named.nonEmpty && named.forall(_.contains(ckpt)), messages(e).mkString(" | "))
  }

  stest("streaming dedup drops within-watermark duplicates, first-seen wins") {
    val input = MemoryStream[(Timestamp, Long, String)](spark)
    val deduped = CdcStream.dedupStream(
      input.toDF().toDF("ts", "doc_id", "text"), tsCol = "ts", watermarkDelay = "10 minutes")
    val query = deduped.writeStream
      .format("memory").queryName("dedup_stream").outputMode("append").start()
    try {
      def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      input.addData((t(0), 1L, "same  text"), (t(1), 2L, "Same Text"), (t(2), 3L, "other"))
      query.processAllAvailable()
      // normalization collapses case/whitespace: docs 1 and 2 share a
      // fingerprint; the first seen survives
      val out1 = spark.sql("SELECT doc_id FROM dedup_stream").as[Long].collect().sorted
      assert(out1 === Array(1L, 3L))

      // a duplicate in a LATER micro-batch, still within the watermark
      input.addData((t(3), 4L, "same text"), (t(4), 5L, "fresh"))
      query.processAllAvailable()
      val out2 = spark.sql("SELECT doc_id FROM dedup_stream").as[Long].collect().sorted
      assert(out2 === Array(1L, 3L, 5L))
    } finally query.stop()
  }

  stest("a running JSON file-sink stream exports a later commit exactly once") {
    val cat = VersionedCatalog(s"$work/cat2")
    val table = "main.stream.export"
    def commit(v: Long, ids: Seq[Long]): Unit =
      cat.commitChanges(
        ids.map(i => (i, s"n$i", "insert")).toDF("id", "name", "_change_type")
          .withColumn("_commit_timestamp", lit(s"2024-02-0$v")),
        table, v)
    commit(1L, Seq(1L, 2L))
    val stream = CdcStream.readChanges(spark, cat, table, Event)
    val query = stream.writeStream.format("json")
      .option("path", s"$work/export_out")
      .option("checkpointLocation", s"$work/export_ckpt")
      .start()
    try {
      query.processAllAvailable()
      commit(2L, Seq(3L))
      query.processAllAvailable()
      val out = spark.read.json(s"$work/export_out")
        .select("id").as[Long].collect().sorted
      assert(out === Array(1L, 2L, 3L))
    } finally query.stop()
  }

  stest("watermarked tumbling windows finalize once the watermark passes") {
    val input = MemoryStream[(Timestamp, String)](spark)
    val counts = CdcStream.windowedCounts(
      input.toDF().toDF("ts", "etype"), "ts", "etype",
      windowDuration = "10 minutes", watermarkDelay = "5 minutes")
    val query = counts.writeStream
      .format("memory").queryName("win_counts").outputMode("append").start()
    try {
      def t(min: Int) = Timestamp.valueOf(f"2024-01-01 10:$min%02d:00")
      input.addData((t(1), "click"), (t(4), "click"), (t(8), "view"))
      query.processAllAvailable()
      // watermark still at 10:03 → nothing finalized yet
      assert(spark.table("win_counts").count() === 0)

      // an event 30 minutes later pushes the watermark past both windows...
      input.addData((t(38), "click"))
      query.processAllAvailable()
      // ...and the next batch flushes them
      input.addData((t(59), "view"))
      query.processAllAvailable()
      val rows = spark.sql(
        "SELECT window_start, etype, n FROM win_counts ORDER BY window_start, etype")
        .collect()
        .map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2)))
      assert(rows.contains(("2024-01-01 10:00:00.0", "click", 2L)))
      assert(rows.contains(("2024-01-01 10:00:00.0", "view", 1L)))
    } finally query.stop()
  }

  stest("stateful sessionization matches gap semantics across micro-batches") {
    val gapUs = 1800L * 1000 * 1000 // 30 min
    val us = 1000L * 1000
    // off epoch 0: the initial watermark is 0 and Spark drops rows with
    // eventTime <= watermark, so a ts_us=0 fixture row would vanish
    val base = 1_700_000_000L * us
    val input = MemoryStream[CdcStream.Ev](spark)
    val sessions = CdcStream.sessionize(input.toDS(), gapUs)
    val query = sessions.writeStream
      .format("memory").queryName("sessions").outputMode("append").start()
    try {
      // batch 1: user 1 has two events 10 min apart (one session)
      input.addData(CdcStream.Ev(1L, base), CdcStream.Ev(1L, base + 600L * us))
      query.processAllAvailable()
      // batch 2: 31 min gap opens session 2 for user 1; user 2 starts fresh
      input.addData(CdcStream.Ev(1L, base + 600L * us + gapUs + us), CdcStream.Ev(2L, base))
      query.processAllAvailable()
      val out = spark
        .sql("SELECT user_id, ts_us, session_id, session_start_us FROM sessions")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(out === Set(
        (1L, base, 1L, base),
        (1L, base + 600L * us, 1L, base), // same session → same start stamp
        // state survived the batch boundary; new session starts at its own ts
        (1L, base + 600L * us + gapUs + us, 2L, base + 600L * us + gapUs + us),
        (2L, base, 1L, base)
      ))
    } finally query.stop()
  }

  stest("sessionize hot key: one user owning a whole 200k-event batch sessionizes correctly") {
    // the memory-contract regression guard: peak per-task memory is the one
    // sorted buffer of the hottest key's batch share — a single user holding
    // the entire micro-batch must stream through without a second
    // output-sized materialization biting (see sessionize scaladoc)
    val gapUs = 1800L * 1000 * 1000
    val us = 1000L * 1000
    val base = 1_700_000_000L * us
    val n = 200000
    val input = MemoryStream[CdcStream.Ev](spark)
    val sessions = CdcStream.sessionize(input.toDS(), gapUs)
    val query = sessions.writeStream
      .format("memory").queryName("sessions_hot").outputMode("append").start()
    try {
      // every 1000th event jumps past the gap → 200 sessions, deterministic;
      // added unsorted (reverse) to exercise the in-place sort path
      val evs = (0 until n).reverseIterator.map { i =>
        // block stride exceeds (gap + intra-block span) so each 1000-event
        // block is its own session
        CdcStream.Ev(1L, base + (i / 1000L) * (gapUs + 2000L * us) + (i % 1000L) * us)
      }.toSeq
      input.addData(evs)
      query.processAllAvailable()
      val out = spark.sql(
        """SELECT count(*) AS n, count(DISTINCT session_id) AS s,
          |       count(DISTINCT session_start_us) AS st FROM sessions_hot""".stripMargin)
        .head()
      assert(out.getLong(0) === n.toLong)
      assert(out.getLong(1) === 200L)
      assert(out.getLong(2) === 200L)
    } finally query.stop()
  }

  stest("sessionize evicts state once the watermark passes last_ts + gap") {
    val gapUs = 1800L * 1000 * 1000
    val us = 1000L * 1000
    val base = 1_700_000_000L * us
    val input = MemoryStream[CdcStream.Ev](spark)
    // tight 1-minute watermark delay so the fixture can push it forward
    val sessions = CdcStream.sessionize(input.toDS(), gapUs, watermarkDelay = "1 minute")
    val query = sessions.writeStream
      .format("memory").queryName("sessions_evict").outputMode("append").start()
    try {
      input.addData(CdcStream.Ev(1L, base))
      query.processAllAvailable()
      // user 2 three hours later pushes the watermark far past user 1's
      // (last_ts + gap) timeout → user 1's state is evicted
      input.addData(CdcStream.Ev(2L, base + 10800L * us))
      query.processAllAvailable()
      // user 1 returns: numbering restarts at 1 (fresh state), proving the
      // old state is gone rather than carried forever
      input.addData(CdcStream.Ev(1L, base + 10801L * us))
      query.processAllAvailable()
      val out = spark
        .sql("SELECT user_id, ts_us, session_id, session_start_us FROM sessions_evict")
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))).toSet
      assert(out === Set(
        (1L, base, 1L, base),
        (2L, base + 10800L * us, 1L, base + 10800L * us),
        // counter restarts post-eviction (would be 2 had state survived), but
        // session_start_us is the same own-ts stamp EITHER way — the
        // batch-timing-invariant session identity
        (1L, base + 10801L * us, 1L, base + 10801L * us)
      ))
    } finally query.stop()
  }

  stest("transformWithState running totals accumulate across micro-batches (v2 state API)") {
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(confKey)
    // transformWithState refuses the default HDFS-backed provider
    spark.conf.set(confKey,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try {
      val input = MemoryStream[CdcStream.Ev](spark)
      val totals = CdcStream.runningTotals(input.toDS())
      val query = totals.writeStream
        .format("memory").queryName("tws_totals").outputMode("append").start()
      try {
        input.addData(CdcStream.Ev(1L, 100L), CdcStream.Ev(1L, 50L), CdcStream.Ev(2L, 10L))
        query.processAllAvailable()
        input.addData(CdcStream.Ev(1L, 70L))
        query.processAllAvailable()
        val out = spark.sql("SELECT user_id, n_events, last_ts_us FROM tws_totals")
          .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
        assert(out === Set(
          (1L, 2L, 100L), // batch-1 cumulative
          (2L, 1L, 10L),
          // batch 2: the count continues from ValueState across the batch
          // boundary; the running max keeps 100 (70 arrived late)
          (1L, 3L, 100L)))
      } finally query.stop()
    } finally prev match {
      case Some(p) => spark.conf.set(confKey, p)
      case None => spark.conf.unset(confKey)
    }
  }

  /** One compact pass over the three stateful-operator families (dedup
    * state, windowed-agg state, flatMapGroupsWithState keyed state) under a
    * given state-store provider. The operators never touch the provider API,
    * so results must be byte-identical across providers — this is the
    * config-only 100 TB streaming-state story (see CdcStream scaladoc).
    */
  private def runStatefulGates(providerClass: Option[String], tag: String): Unit = {
    val confKey = "spark.sql.streaming.stateStore.providerClass"
    val prior = spark.conf.getOption(confKey)
    providerClass.foreach(spark.conf.set(confKey, _))
    try {
      def t(m: Int) = Timestamp.valueOf(f"2024-01-01 10:$m%02d:00")
      // dedup state
      val din = MemoryStream[(Timestamp, Long, String)](spark)
      val dq = CdcStream.dedupStream(
        din.toDF().toDF("ts", "doc_id", "text"), "ts", "10 minutes")
        .writeStream.format("memory").queryName(s"gate_dedup_$tag")
        .outputMode("append").start()
      // windowed-agg state
      val win = MemoryStream[(Timestamp, String)](spark)
      val wq = CdcStream.windowedCounts(
        win.toDF().toDF("ts", "etype"), "ts", "etype", "10 minutes", "5 minutes")
        .writeStream.format("memory").queryName(s"gate_win_$tag")
        .outputMode("append").start()
      // keyed state (flatMapGroupsWithState)
      val us = 1000L * 1000
      val base = 1_700_000_000L * us
      val sin = MemoryStream[CdcStream.Ev](spark)
      val sq = CdcStream.sessionize(sin.toDS(), gapUs = 1800L * us)
        .writeStream.format("memory").queryName(s"gate_sess_$tag")
        .outputMode("append").start()
      try {
        din.addData((t(0), 1L, "same text"), (t(1), 2L, "Same  Text"), (t(2), 3L, "other"))
        dq.processAllAvailable()
        din.addData((t(3), 4L, "same text"), (t(4), 5L, "fresh"))
        dq.processAllAvailable()
        assert(spark.sql(s"SELECT doc_id FROM gate_dedup_$tag").as[Long].collect().sorted
          === Array(1L, 3L, 5L))

        win.addData((t(1), "click"), (t(4), "click"), (t(8), "view"))
        wq.processAllAvailable()
        win.addData((t(38), "click"))
        wq.processAllAvailable()
        win.addData((t(59), "view"))
        wq.processAllAvailable()
        val wrows = spark.sql(
          s"SELECT window_start, etype, n FROM gate_win_$tag")
          .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getLong(2))).toSet
        assert(wrows.contains(("2024-01-01 10:00:00.0", "click", 2L)))
        assert(wrows.contains(("2024-01-01 10:00:00.0", "view", 1L)))

        sin.addData(CdcStream.Ev(1L, base), CdcStream.Ev(1L, base + 600L * us))
        sq.processAllAvailable()
        sin.addData(CdcStream.Ev(1L, base + 600L * us + 1801L * us * 1000 + us))
        sq.processAllAvailable()
        val srows = spark.sql(
          s"SELECT session_id FROM gate_sess_$tag").as[Long].collect().sorted
        assert(srows === Array(1L, 1L, 2L), s"provider=$providerClass")
      } finally { dq.stop(); wq.stop(); sq.stop() }
    } finally {
      prior match {
        case Some(v) => spark.conf.set(confKey, v)
        case None => spark.conf.unset(confKey)
      }
    }
  }

  stest("stateful gates are identical under the default HDFS-backed state store") {
    runStatefulGates(None, "hdfs")
  }

  stest("stateful gates are identical under RocksDBStateStoreProvider (config-only)") {
    runStatefulGates(
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "rocksdb")
  }

  stest("materializeStream folds per commit and restarts from the checkpoint") {
    val dir = s"$work/mat"
    val in = Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val snapshot = Seq((1L, "a"), (2L, "b")).toDF("id", "name")
    def changes(v: Long, rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "name", "_change_type")
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(s"2024-01-0$v"))
    var mtime = 1700000000000L
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$dir/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val staged = Files.copy(part.toPath, in.resolve(name))
      mtime += 10000 // strictly ascending: the file source orders by mtime
      Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val schema = changes(2L, Seq((2L, "x", "insert"))).schema
    def drain(): Unit = {
      CdcStream.drain(
        CdcStream.materializeStream(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(in.toString),
          initialState = snapshot, stateDir = s"$dir/state", keyCols = Seq("id")),
        s"$dir/ckpt")
    }
    def state(): Set[(Long, String)] =
      CdcStream.currentMaterializedState(spark, s"$dir/state")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    stage(changes(2L, Seq((2L, "b2", "update_postimage"), (3L, "c", "insert"))), "a.parquet")
    stage(changes(3L, Seq((1L, "a", "delete"))), "b.parquet")
    drain()
    assert(state() === Set((2L, "b2"), (3L, "c"))) // 1 deleted, 2 updated, 3 inserted
    // restart with nothing new: the checkpoint replays no batch, state holds
    drain()
    assert(state() === Set((2L, "b2"), (3L, "c")))
    // a NEW commit after restart folds incrementally on top of prior state
    stage(changes(4L, Seq((1L, "back", "insert"))), "c.parquet")
    drain()
    assert(state() === Set((1L, "back"), (2L, "b2"), (3L, "c")))
  }

  stest("materializeStream replay after the pointer swap short-circuits") {
    // the at-least-once crash window: a batch completes its state write AND
    // the _latest pointer swap, then dies before the checkpoint commit. On
    // restart the engine replays that batch — which now READS the dir named
    // by the pointer; recomputing would overwrite the path being read
    // (Spark refuses, wedging every restart), so the fold must short-circuit.
    val dir = s"$work/mat-replay"
    val in = Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val snapshot = Seq((1L, "a")).toDF("id", "name")
    def changes(v: Long, rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "name", "_change_type")
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(s"2024-01-0$v"))
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$dir/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      Files.copy(part.toPath, in.resolve(name))
    }
    val schema = changes(2L, Seq((2L, "x", "insert"))).schema
    def drain(): Unit = {
      CdcStream.drain(
        CdcStream.materializeStream(
          spark.readStream.schema(schema).parquet(in.toString),
          initialState = snapshot, stateDir = s"$dir/state", keyCols = Seq("id")),
        s"$dir/ckpt")
    }
    def state(): Set[(Long, String)] =
      CdcStream.currentMaterializedState(spark, s"$dir/state")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    stage(changes(2L, Seq((2L, "b", "insert"))), "a.parquet")
    drain()
    assert(state() === Set((1L, "a"), (2L, "b")))
    // simulate the crash: the state write and pointer swap survived (they
    // did — drain() finished), but the checkpoint commit record is lost
    val commits = new java.io.File(s"$dir/ckpt/commits").listFiles()
      .filter(_.getName.forall(_.isDigit)).sortBy(_.getName.toInt)
    assert(commits.nonEmpty, "expected at least one checkpoint commit")
    Files.delete(commits.last.toPath)
    // the local FS keeps a checksum sidecar; a real crash loses both
    Files.deleteIfExists(
      commits.last.toPath.resolveSibling("." + commits.last.getName + ".crc"))
    drain() // replays the last batch — must not throw, state must hold
    assert(state() === Set((1L, "a"), (2L, "b")))
  }

  stest("materializeStream survives a torn _latest pointer") {
    // the other crash window: a (legacy, non-atomic) pointer write dies
    // midway, leaving a pointer that names no existing directory. readState
    // must fall back to the newest COMPLETE state_<n> dir and the next fold
    // must heal the pointer — not fail every restart.
    val dir = s"$work/mat-torn"
    val in = Files.createDirectories(java.nio.file.Paths.get(s"$dir/in"))
    val snapshot = Seq((1L, "a")).toDF("id", "name")
    def changes(v: Long, rows: Seq[(Long, String, String)]) =
      rows.toDF("id", "name", "_change_type")
        .withColumn("_commit_version", lit(v))
        .withColumn("_commit_timestamp", lit(s"2024-01-0$v"))
    var mtime = 1700000000000L
    def stage(df: org.apache.spark.sql.DataFrame, name: String): Unit = {
      val tmp = s"$dir/tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val staged = Files.copy(part.toPath, in.resolve(name))
      mtime += 10000
      Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(mtime))
    }
    val schema = changes(2L, Seq((2L, "x", "insert"))).schema
    def drain(): Unit = {
      CdcStream.drain(
        CdcStream.materializeStream(
          spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
            .parquet(in.toString),
          initialState = snapshot, stateDir = s"$dir/state", keyCols = Seq("id")),
        s"$dir/ckpt")
    }
    def state(): Set[(Long, String)] =
      CdcStream.currentMaterializedState(spark, s"$dir/state")
        .collect().map(r => (r.getLong(0), r.getString(1))).toSet

    stage(changes(2L, Seq((2L, "b", "insert"))), "a.parquet")
    drain()
    assert(state() === Set((1L, "a"), (2L, "b")))
    // tear the pointer: truncated content naming a dir that does not exist
    val pointer = java.nio.file.Paths.get(s"$dir/state", "_latest")
    Files.writeString(pointer, "state_")
    // reads fall back to the newest complete state dir
    assert(state() === Set((1L, "a"), (2L, "b")))
    // the next fold proceeds on top of the recovered state and heals the pointer
    stage(changes(3L, Seq((3L, "c", "insert"))), "b.parquet")
    drain()
    assert(Files.readString(pointer).trim.matches("state_\\d+"))
    assert(state() === Set((1L, "a"), (2L, "b"), (3L, "c")))
  }

  stest("bitmapStream: OR-merge folds batches; replaying a batch is a no-op") {
    val dir = s"$work/bitmap"
    val in = Files.createDirectories(Paths.get(s"$dir/in"))
    def stage(rows: Seq[(Long, Long)], name: String): Unit = {
      val tmp = s"$dir/tmp-$name"
      rows.toDF("user_id", "off").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      Files.copy(part.toPath, in.resolve(name))
    }
    val initial = Seq((1L, 1L)).toDF("user_id", "mask") // user 1: day 0 seen
    def drain(): Unit = {
      val stream = spark.readStream.schema("user_id LONG, off LONG")
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      CdcStream.drain(
        CdcStream.bitmapStream(stream, initial, stateDir = s"$dir/state"),
        s"$dir/ckpt")
    }
    def state(): Map[Long, Long] =
      CdcStream.currentMaterializedState(spark, s"$dir/state")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

    // batch 1: user 1 day 2 (joins existing mask), user 7 day 0 (NEW key
    // arrives via the full-outer arm)
    stage(Seq((1L, 2L), (7L, 0L)), "a.parquet")
    drain()
    assert(state() === Map(1L -> 5L, 7L -> 1L)) // 1|4 = 5
    // REPLAY the identical rows as a new file: OR is idempotent — the
    // state must not change (a SUM fold would double-count here)
    stage(Seq((1L, 2L), (7L, 0L)), "b.parquet")
    drain()
    assert(state() === Map(1L -> 5L, 7L -> 1L),
      "replaying a batch changed the bitmap — the merge lost idempotence")
  }

  stest("kmvStream: batch-split invariance and replay idempotence of the sketch merge") {
    val dir = s"$work/kmv"
    def stage(in: java.nio.file.Path, rows: Seq[(String, Long)], name: String, mt: Long): Unit = {
      val tmp = s"$dir/tmp-$name"
      rows.toDF("source", "h").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val staged = Files.copy(part.toPath, in.resolve(name))
      Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(mt))
    }
    def drain(tag: String): Map[(String, Long), Int] = {
      val in = Paths.get(s"$dir/$tag/in")
      val stream = spark.readStream.schema("source STRING, h LONG")
        .option("maxFilesPerTrigger", 1).parquet(in.toString)
      CdcStream.drain(
        CdcStream.kmvStream(stream,
            Seq.empty[(String, Long)].toDF("source", "h"),
            stateDir = s"$dir/$tag/state", k = 4),
        s"$dir/$tag/ckpt")
      CdcStream.currentMaterializedState(spark, s"$dir/$tag/state")
        .collect().map(r => (r.getString(0), r.getLong(1))).groupBy(identity)
        .view.mapValues(_.length).toMap
    }
    val a = Seq(("s1", 50L), ("s1", 10L), ("s1", 90L), ("s2", 7L))
    val b = Seq(("s1", 5L), ("s1", 70L), ("s1", 10L), ("s2", 3L)) // 10 repeats across batches
    val inSplit = Files.createDirectories(Paths.get(s"$dir/split/in"))
    stage(inSplit, a, "a.parquet", 1000000); stage(inSplit, b, "b.parquet", 2000000)
    val inOne = Files.createDirectories(Paths.get(s"$dir/one/in"))
    stage(inOne, a ++ b, "ab.parquet", 1000000)
    val split = drain("split")
    val one = drain("one")
    // merge is associative over batch boundaries; duplicates collapse
    assert(split === one, s"split=$split one=$one")
    assert(split === Map(("s1", 5L) -> 1, ("s1", 10L) -> 1, ("s1", 50L) -> 1,
      ("s1", 70L) -> 1, ("s2", 3L) -> 1, ("s2", 7L) -> 1))
    // replay: re-staging batch b verbatim must not change the sketch
    stage(inSplit, b, "b2.parquet", 3000000)
    assert(drain("split") === split, "re-merging a replayed batch changed the sketch")
  }

  stest("mgStream: hand-replayed two-batch Misra-Gries fold with the k+1 subtraction") {
    val dir = s"$work/mg"
    def stage(in: java.nio.file.Path, rows: Seq[String], name: String, mt: Long): Unit = {
      val tmp = s"$dir/tmp-$name"
      rows.toDF("item").coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
      val staged = Files.copy(part.toPath, in.resolve(name))
      Files.setLastModifiedTime(staged,
        java.nio.file.attribute.FileTime.fromMillis(mt))
    }
    val in = Files.createDirectories(Paths.get(s"$dir/in"))
    // batch 1: a×4 b×3 c×2 d×1; k=2 -> d = 3rd largest = 2
    //   survivors: a->2, b->1 (c,d drop)
    // batch 2: c×5 b×1; merged: a->2, b->2, c->5; d = 3rd largest = 2
    //   survivors: c->3 (a,b hit exactly d and drop)
    stage(in, Seq.fill(4)("a") ++ Seq.fill(3)("b") ++ Seq.fill(2)("c") ++ Seq("d"),
      "a_b1.parquet", 1000000)
    stage(in, Seq.fill(5)("c") ++ Seq("b"), "b_b2.parquet", 2000000)
    val stream = spark.readStream.schema("item STRING")
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    CdcStream.drain(
      CdcStream.mgStream(stream,
          Seq.empty[(String, Long)].toDF("item", "c"),
          stateDir = s"$dir/state", k = 2),
      s"$dir/ckpt")
    val got = CdcStream.currentMaterializedState(spark, s"$dir/state")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got === Map("c" -> 3L), s"got $got")
    // the theorem on the stream it saw: n = 16, undercount <= 16/3 = 5
    // exact: a=4 b=4 c=7 d=1; counters: a=0<=4, b=0<=4, c=3<=7 — all
    // within n div (k+1) of exact
    assert(7L - got("c") <= 16L / 3)
  }

  stest("bitmapStream: out-of-range day offset FAILS the batch (shiftleft wraps mod 64)") {
    val dir = s"$work/bitmap-guard"
    val in = Files.createDirectories(Paths.get(s"$dir/in"))
    val tmp = s"$dir/tmp"
    Seq((1L, 64L)).toDF("user_id", "off") // 1L << 64 would wrap to bit 0
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val part = new java.io.File(tmp).listFiles()
      .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
    Files.copy(part.toPath, in.resolve("a.parquet"))
    val stream = spark.readStream.schema("user_id LONG, off LONG")
      .option("maxFilesPerTrigger", 1).parquet(in.toString)
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      CdcStream.drain(
        CdcStream.bitmapStream(stream, Seq.empty[(Long, Long)].toDF("user_id", "mask"),
          stateDir = s"$dir/state"),
        s"$dir/ckpt")
    }
    assert(messages(e).exists(_.contains("out of [0,64)")),
      s"expected the guard's raise_error, got: ${messages(e).mkString(" | ")}")
    // and the state was never corrupted: no state dir was ever committed
    val noState = intercept[IllegalArgumentException] {
      CdcStream.currentMaterializedState(spark, s"$dir/state")
    }
    assert(noState.getMessage.contains("no materialized state"))
  }
}
