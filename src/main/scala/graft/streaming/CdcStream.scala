package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, GroupState, GroupStateTimeout,
  OutputMode, StatefulProcessor, StreamingQuery, StreamingQueryListener, StreamingQueryProgress,
  TTLConfig, TimeMode, TimerValues, Trigger, ValueState}

import graft.engine.{CdcFilter, VersionedCatalog}
import graft.engine.JobSpec.DataType

/** Structured-Streaming surface over the engine's CDC layout.
  *
  * The reference consumes CDF strictly in bounded batch windows
  * (SURVEY §2.10: no streaming anywhere), because each Databricks run is a
  * scheduled export. The same layout, however, is naturally streamable: new
  * commits are appended as versions, which is how Delta streams its change
  * data feed. This module is the continuous analogue of the batch pipeline:
  *
  *   - [[readChanges]]: `readStream` over a table's change feed through
  *     [[CdcSource]], whose offsets are commit versions
  *     (`maxCommitsPerTrigger` bounds per-batch work); the SAME
  *     [[CdcFilter]] semantics as the batch path, so EVENT vs property
  *     filtering cannot drift between modes;
  *   - [[windowedCounts]]: watermarked tumbling-window aggregation — the
  *     canonical streaming rollup with bounded state (late rows beyond the
  *     watermark are dropped, closed windows are finalized and emitted);
  *   - [[sessionize]]: gap-based sessionization as explicit keyed state via
  *     `flatMapGroupsWithState` — the streaming counterpart of the q12 batch
  *     query (same 30-minute-gap semantics over epoch-micros).
  *
  * Scale notes: a trigger reads the table's `_commits.json` for its latest
  * version and lists only the new commits' directories, so a drain costs
  * O(new commits) in catalog metadata, never O(history). State for
  * sessionization is per-user O(1) (last timestamp + counter); windowed
  * aggregation state is bounded by the watermark horizon. All transforms
  * are the same Catalyst expressions the batch path uses — micro-batch
  * execution reuses the whole batch plan.
  *
  * State-store provider: every stateful operator here is provider-agnostic —
  * none touches the state store API directly, so the 100 TB-class keyspace
  * answer is pure config:
  * {{{
  * spark.conf.set("spark.sql.streaming.stateStore.providerClass",
  *   "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  * }}}
  * which moves per-key state off the executor heap into RocksDB (spill to
  * local disk, changelog-checkpointed), where the default HDFS-backed
  * provider keeps the whole keyspace in executor memory. CdcStreamSpec runs
  * the dedup / windowed-agg / keyed-state gates under BOTH providers to
  * prove the semantics are identical.
  */
object CdcStream {

  /** Streaming CDF scan: the continuous analogue of S2 + P1/P2, one
    * [[CdcSource]] batch per at most `maxCommitsPerTrigger` commits. The
    * schema is read from the manifest (the newest commit's record) when the
    * stream is built, so building it runs no job; a commit-less table
    * raises the typed missing-CDF signature the recovery protocol
    * classifies on.
    */
  def readChanges(
      spark: SparkSession,
      catalog: VersionedCatalog,
      table: String,
      dataType: DataType,
      mutabilityMode: Boolean = false,
      maxCommitsPerTrigger: Int = CdcSource.DefaultMaxCommitsPerTrigger): DataFrame = {
    val raw = spark.readStream
      .format(classOf[CdcSourceProvider].getName)
      .schema(catalog.changeSchema(spark, table))
      .option("root", catalog.root)
      .option("table", table)
      .option("maxCommitsPerTrigger", maxCommitsPerTrigger)
      .load()
    // single source of truth for P1/P5 semantics — the same call the batch
    // path makes, so the two modes cannot drift
    CdcFilter.filterData(raw, dataType, mutabilityMode)
  }

  /** Watermarked tumbling-window counts by `typeCol`. `tsCol` must be a
    * timestamp column; rows later than `watermarkDelay` behind the max seen
    * event time are dropped, and in Append mode a window is emitted exactly
    * once, when the watermark passes its end.
    */
  def windowedCounts(
      events: DataFrame,
      tsCol: String,
      typeCol: String,
      windowDuration: String,
      watermarkDelay: String): DataFrame =
    events
      .withWatermark(tsCol, watermarkDelay)
      .groupBy(window(col(tsCol), windowDuration), col(typeCol))
      .agg(count(lit(1)).as("n"))
      .select(
        col(s"window.start").as("window_start"),
        col(s"window.end").as("window_end"),
        col(typeCol),
        col("n"))

  /** Streaming exact dedup: first-seen wins on the normalized-text
    * fingerprint (same [[graft.ext.TextAnalysis.md5Fingerprint]] key as the
    * batch tier, so batch and streaming dedup cannot drift). State is
    * bounded by the watermark horizon via `dropDuplicatesWithinWatermark`:
    * a duplicate arriving within `watermarkDelay` of the original's event
    * time is dropped, and fingerprint state older than the watermark is
    * evicted — the standard unbounded-stream dedup contract.
    */
  def dedupStream(
      docs: DataFrame,
      tsCol: String,
      watermarkDelay: String,
      textCol: String = "text"): DataFrame = {
    require(!docs.columns.contains("__fp"), "input already has the working column __fp")
    docs
      .withColumn("__fp", graft.ext.TextAnalysis.md5Fingerprint(col(textCol)))
      .withWatermark(tsCol, watermarkDelay)
      .dropDuplicatesWithinWatermark("__fp")
      .drop("__fp") // output schema matches the input (and the batch tier)
  }

  /** Atomic `_latest` pointer swap: write to a sibling temp file, then
    * `ATOMIC_MOVE` over the pointer — a crash mid-swap leaves either the old
    * pointer or the new one, never a torn file naming no directory.
    */
  private def writePointer(pointer: java.nio.file.Path, target: String): Unit = {
    val tmp = pointer.resolveSibling(pointer.getFileName.toString + ".tmp")
    java.nio.file.Files.writeString(tmp, target)
    java.nio.file.Files.move(tmp, pointer,
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Resolve the current state directory name under `stateDir`: the pointer's
    * target if it names an existing directory, else the newest COMPLETE
    * `state_<n>` (highest n with a `_SUCCESS` marker — a dir the fold
    * demonstrably finished writing). The fallback covers a legacy torn
    * pointer (pre-atomic-swap writers) or a pointer deleted out-of-band;
    * `None` means no state has ever been committed.
    */
  private def resolveLatest(stateDir: String): Option[String] = {
    val pointer = java.nio.file.Paths.get(stateDir, "_latest")
    val named =
      if (java.nio.file.Files.exists(pointer))
        Some(java.nio.file.Files.readString(pointer).trim)
      else None
    named.filter(t => java.nio.file.Files.isDirectory(java.nio.file.Paths.get(stateDir, t)))
      .orElse {
        val complete = Option(new java.io.File(stateDir).listFiles()).getOrElse(Array.empty)
          .filter(f => f.isDirectory && f.getName.startsWith("state_") &&
            new java.io.File(f, "_SUCCESS").exists())
          .flatMap(f => scala.util.Try(f.getName.stripPrefix("state_").toLong).toOption
            .map(_ -> f.getName))
        if (complete.isEmpty) None else Some(complete.maxBy(_._1)._2)
      }
  }

  /** Streaming incremental CDC MATERIALIZATION via `foreachBatch` — the
    * continuous consumer of the upsert contract: each micro-batch of change
    * rows is folded into a parquet state snapshot with
    * [[graft.engine.CdcMaterialize.currentState]] (last-writer-wins,
    * deletes applied), so `<stateDir>/<pointer>` always holds the current
    * table state. The streaming counterpart of the batch q64 shape.
    *
    * Mechanics: state lives in versioned dirs `state_<batchId>` with a
    * `_latest` pointer swapped after each successful write — a reprocessed
    * micro-batch (foreachBatch is at-least-once) rewrites its own dir and
    * re-points, which is idempotent BECAUSE the file source replays batches
    * in checkpoint order; production would swap the pointer file for a
    * transactional table commit. The replay window is closed on BOTH sides
    * of the pointer swap: a crash before it leaves the pointer on
    * `state_<batchId-1>`, so the replay recomputes and overwrites
    * `state_<batchId>` (not the dir being read); a crash AFTER the swap but
    * before the checkpoint commit would make the replay read
    * `state_<batchId>` and overwrite that same path (Spark refuses,
    * wedging every restart) — so a batch whose pointer already names its
    * own dir short-circuits: the prior attempt demonstrably completed the
    * fold and the swap, and the fold is deterministic given (state, batch).
    * Within-state rows carry no version, so
    * each fold treats the accumulated state as version 0 and the batch's
    * real `_commit_version`s (> 0) win — correct as long as batches arrive
    * in commit order: [[readChanges]]' version offsets deliver commits in
    * version order, and a staged file stream read one file per trigger
    * delivers its files in modification-time order.
    *
    * Scale shape: each fold is one key-partitioned window over
    * state ∪ batch — the same one-shuffle compaction as batch
    * materialization, paid per commit instead of per full history.
    */
  def materializeStream(
      changes: DataFrame,
      initialState: DataFrame,
      stateDir: String,
      keyCols: Seq[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedFold(changes, initialState, stateDir) { (state, batch) =>
      graft.engine.CdcMaterialize.currentState(
        state, batch, keyCols, snapshotVersion = 0L)
    }

  /** Streaming incremental JOIN maintenance — the continuous form of
    * [[graft.engine.CdcMaterialize.incrementalJoin]] with the static side
    * fixed: each micro-batch of insert-only appends ΔA extends the
    * persisted materialization by exactly its delta arm,
    * `J' = J ∪ ΔA⋈B` — per batch the work is ∝ |ΔA|·fan-out plus the
    * broadcast-sized dimension, never |J|. The enrichment-materialization
    * pattern (q81 streams the enriched rows to a sink; this maintains
    * them as queryable STATE). Same versioned-dir + atomic-pointer
    * machinery and replay/torn-pointer guarantees as
    * [[materializeStream]].
    */
  def joinStream(
      changes: DataFrame,
      staticB: DataFrame,
      initialJ: DataFrame,
      stateDir: String,
      keys: Seq[String]): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedFold(changes, initialJ, stateDir) { (j, batch) =>
      j.unionByName(batch.join(staticB, keys))
    }

  /** Streaming incremental AGGREGATE maintenance — the continuous form of
    * [[graft.engine.CdcMaterialize.incrementalAgg]]: each micro-batch of
    * FULL CDF deltas (pre-images included — sums need retractions) moves
    * the persisted per-group (count, sum) at delta cost, so
    * `<stateDir>/<pointer>` always holds the current aggregate — a
    * materialized dashboard view that never rescans history. Same
    * versioned-dir + atomic-pointer machinery (and the same replay /
    * torn-pointer guarantees) as [[materializeStream]].
    *
    * Scale shape per batch: one groupBy over the batch (map-side partials)
    * + one full-outer join against the GROUP-sized aggregate — work ∝
    * change volume, never state-image volume.
    */
  def aggregateStream(
      changes: DataFrame,
      initialAgg: DataFrame,
      stateDir: String,
      groupCols: Seq[String],
      valueCol: String,
      nCol: String = "n",
      sumCol: String = "sum_v"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedFold(changes, initialAgg, stateDir) { (agg, batch) =>
      graft.engine.CdcMaterialize.incrementalAgg(
        agg, batch, groupCols, valueCol, nCol, sumCol)
    }

  /** Streaming ACTIVITY-BITMAP maintenance: each micro-batch's
    * (key, day-offset) rows are packed to per-key `bit_or` masks and
    * merged into the persisted bitmap state with a full-outer join +
    * bitwise OR — the commutative-idempotent merge that makes per-key
    * engagement history maintainable under at-least-once replay with NO
    * correction terms (OR-ing a replayed batch is a no-op, unlike a sum:
    * the merge's idempotence is itself the exactly-once story). The
    * q280 batch bitmap is the gate: streamed state must land exactly on
    * the one-shot aggregate.
    *
    * Scale shape per batch: the batch contracts to |batch keys| masks
    * map-side, the merge joins state⋈batch on the key — state stays one
    * long per key, the cheapest per-entity state any engagement store
    * carries.
    */
  def bitmapStream(
      changes: DataFrame,
      initial: DataFrame,
      stateDir: String,
      keyCol: String = "user_id",
      offCol: String = "off",
      maskCol: String = "mask"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedFold(changes, initial, stateDir) { (state, batch) =>
      // shiftleft wraps its shift amount mod 64, so an out-of-range offset
      // would silently OR the WRONG bit into persisted state — fail the
      // batch instead (replay-safe: the pointer never advances past it).
      val safeOff = s"CASE WHEN $offCol BETWEEN 0 AND 63 THEN cast($offCol AS int) " +
        s"ELSE cast(raise_error(concat('bitmapStream: $offCol out of [0,64): ', " +
        s"cast($offCol AS string))) AS int) END"
      val bm = batch.groupBy(col(keyCol))
        .agg(expr(s"bit_or(shiftleft(1L, $safeOff))").as("__bm"))
      state.join(bm, Seq(keyCol), "full_outer")
        .select(col(keyCol),
          coalesce(col(maskCol), lit(0L))
            .bitwiseOR(coalesce(col("__bm"), lit(0L))).as(maskCol))
    }

  /** Streaming KMV-SKETCH maintenance: the per-key bottom-k distinct-hash
    * sketch ([[graft.ext.ExtQueries.q340KmvOverlap]]'s state) folded under
    * the stream — each micro-batch's (key, hash) rows union into the
    * persisted sketch and the bottom-k survive per key. The merge is a
    * semilattice join (sorted-union-truncate: commutative, associative,
    * IDEMPOTENT), so like [[bitmapStream]]'s OR it needs no correction
    * terms under at-least-once replay — re-merging a replayed batch is a
    * no-op by algebra, not by bookkeeping. This is how sketch state is
    * actually maintained over an unbounded firehose: k longs per key,
    * estimates (distinct counts, pairwise unions/Jaccard) readable at any
    * time from state alone.
    *
    * Scale shape per batch: the batch contracts to ≤k rows per touched
    * key BEFORE the state join (window over the batch-key partition);
    * state stays ≤k rows per key forever.
    */
  def kmvStream(
      changes: DataFrame,
      initial: DataFrame,
      stateDir: String,
      k: Int = 64,
      keyCol: String = "source",
      hashCol: String = "h"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedFold(changes, initial, stateDir) { (state, batch) =>
      // bottom-k per key via the bounded-state heap aggregate (k longs of
      // state per group, merged map-side — never a per-key window sort);
      // state rows ride along so the merge-truncate is ONE aggregate over
      // the distinct union of old sketch + new batch
      state.select(col(keyCol), col(hashCol))
        .union(batch.select(col(keyCol), col(hashCol)))
        .distinct()
        .groupBy(col(keyCol))
        .agg(graft.functions.GraftFunctions
          .collectTopK(col(hashCol), k, reverse = true).as("__sk"))
        .select(col(keyCol), explode(col("__sk")).as(hashCol))
    }

  /** Streaming MISRA-GRIES heavy-hitter maintenance: the k-counter
    * deterministic frequency summary (Misra & Gries 1982) folded under
    * the stream with the MERGEABLE-summaries combine (Agarwal et al.,
    * PODS 2012): each micro-batch's exact item counts add into the
    * persisted counters, then the (k+1)-th largest counter value is
    * subtracted from ALL and non-positive counters drop — state stays
    * ≤ k rows forever and every item's counter obeys
    * `true − n/(k+1) ≤ c ≤ true` regardless of how many merges happened
    * (the bound the batch gate q369 machine-checks). Unlike
    * [[bitmapStream]]/[[kmvStream]] the fold is NOT idempotent — it is
    * merely deterministic, and [[versionedFold]]'s batch-id pointer is
    * what closes the at-least-once replay window (q130's argument).
    *
    * Scale shape per batch: the batch contracts map-side to per-item
    * counts before touching state; the subtraction threshold is ONE
    * bounded collectTopK aggregate (k+1 longs) broadcast back; no
    * per-key window sort anywhere.
    */
  def mgStream(
      changes: DataFrame,
      initial: DataFrame,
      stateDir: String,
      k: Int = 64,
      itemCol: String = "item",
      cntCol: String = "c"): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    versionedFold(changes, initial, stateDir) { (state, batch) =>
      val bc = batch.groupBy(col(itemCol)).agg(count(lit(1)).as(cntCol))
      val merged = state.select(col(itemCol), col(cntCol))
        .union(bc)
        .groupBy(col(itemCol)).agg(sum(col(cntCol)).as(cntCol))
      val thr = merged
        .agg(graft.functions.GraftFunctions
          .collectTopK(col(cntCol), k + 1).as("__sk"))
        .select(expr(s"CASE WHEN size(__sk) >= ${k + 1} " +
          s"THEN element_at(__sk, ${k + 1}) ELSE 0L END").as("__d"))
      merged.crossJoin(broadcast(thr))
        .filter(col(cntCol) > col("__d"))
        .select(col(itemCol), (col(cntCol) - col("__d")).as(cntCol))
    }

  /** The shared `foreachBatch` fold behind [[materializeStream]] and
    * [[aggregateStream]]: per micro-batch, `fold(currentState, batch)` is
    * written to `state_<batchId>` and the `_latest` pointer swaps
    * atomically ([[writePointer]]); a replayed batch whose output the
    * pointer (or the newest-complete-dir fallback, [[resolveLatest]])
    * already names short-circuits to a pointer heal — the at-least-once
    * crash windows on both sides of the swap stay closed for ANY
    * deterministic fold.
    */
  private def versionedFold(
      changes: DataFrame,
      initial: DataFrame,
      stateDir: String)(
      fold: (DataFrame, DataFrame) => DataFrame): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    val spark = changes.sparkSession
    val pointer = java.nio.file.Paths.get(stateDir, "_latest")
    def readState(): DataFrame =
      resolveLatest(stateDir)
        .map(t => spark.read.parquet(s"$stateDir/$t"))
        .getOrElse(initial)
    changes.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      val target = s"state_$batchId"
      val alreadyApplied = resolveLatest(stateDir).contains(target)
      if (alreadyApplied) {
        // the prior attempt finished the fold (and possibly the swap); make
        // sure the pointer agrees — heals a torn/missing pointer on replay
        writePointer(pointer, target)
      } else {
        fold(readState(), batch).write.mode("overwrite").parquet(s"$stateDir/$target")
        writePointer(pointer, target)
      }
      ()
    }
  }

  /** Read the current materialized state written by [[materializeStream]].
    * Tolerates a torn/missing `_latest` pointer by falling back to the
    * newest complete `state_<n>` directory (see [[resolveLatest]]).
    */
  def currentMaterializedState(spark: SparkSession, stateDir: String): DataFrame = {
    val latest = resolveLatest(stateDir)
    require(latest.nonEmpty, s"no materialized state under $stateDir")
    spark.read.parquet(s"$stateDir/${latest.get}")
  }

  /** The OPERABLE streaming analogue of the batch [[graft.engine.Unload]]
    * pipeline, drained with `Trigger.AvailableNow`: each invocation picks
    * up where the checkpoint left off, exports every commit that has
    * landed since, and stops — the scheduled-export contract of the
    * reference (`unload_databricks_data_to_s3.py`'s per-run version
    * windows) with the version BOOKKEEPING kept in the checkpoint's
    * offsets, which are commit versions ([[CdcSource]]). The
    * `table_versions_map` ranges therefore carry table NAMES only here;
    * position is owned by `checkpointRoot` (one subdirectory per run id
    * would restart from scratch — reuse one checkpoint per continuous
    * export). Returns, per table that exported anything, the version range
    * this drain exported, read from its first batch's start offset and its
    * last batch's end offset.
    *
    * Stage parity with the batch path, same single sources of truth:
    * [[readChanges]] (CDC filter semantics), `SqlRewrite` (identifier-aware
    * view rewrite), `Writers.sink` (the K2 zstd(3) parquet / K1 raw-JSON
    * sink contracts and the K5 `maxRecordsPerFile` governor). Exactly-once
    * output comes from the file sink's transactional commit log rather than
    * the batch path's overwrite-idempotence. Multi-table SQL is supported to
    * the extent Structured Streaming supports it (stream-stream joins need
    * watermarks on both sides; plain projections/filters/unions always
    * work — the reference's transformation SQL is of that shape). The temp
    * views it registers are dropped before it returns.
    */
  def unloadAvailableNow(
      spark: SparkSession,
      catalog: VersionedCatalog,
      config: graft.engine.JobSpec.JobConfig,
      checkpointRoot: String,
      log: String => Unit = _ => ()): Seq[graft.engine.JobSpec.TableVersionRange] = {
    import graft.engine.{SqlRewrite, Writers}
    import graft.engine.JobSpec.TableVersionRange
    val epoch = System.currentTimeMillis()
    val views = scala.collection.mutable.ArrayBuffer.empty[String]
    try {
      val bindings = config.tables.map { range =>
        val table = range.table
        log(s"Streaming table $table from the checkpoint's position")
        val df = readChanges(spark, catalog, table, config.dataType, config.mutabilityMode)
        val view = SqlRewrite.tempViewName(table, epoch)
        df.createOrReplaceTempView(view)
        views += view
        table -> view
      }.toMap
      val out = spark.sql(SqlRewrite.rewrite(config.sql, bindings))
      val sink = Writers.sink(out, config.format, Some(config.maxRecordsPerFile))
      log(s"Starting available-now streaming export to ${config.outputPath}")
      val progress = drainProgress(spark,
        sink.df.writeStream.format(sink.format).options(sink.options)
          .option("path", config.outputPath)
          .outputMode(OutputMode.Append),
        checkpointRoot)
      log("Streaming export drained (AvailableNow) and stopped")
      config.tables.map(_.table).distinct.flatMap { table =>
        val moved = progress.flatMap(_.sources.filter(_.description == CdcSource.describe(table)))
          .filter(s => s.endOffset != null && s.endOffset != s.startOffset)
        val range = for {
          first <- moved.headOption
          last <- moved.lastOption
          end <- CdcSource.versionOf(last.endOffset)
          start <- Option(first.startOffset).flatMap(CdcSource.versionOf).map(_ + 1)
            .orElse(catalog.commitVersions(spark, table).headOption)
        } yield TableVersionRange(table, start, end)
        log(range.fold(s"Streaming table $table: no new commit")(r =>
          s"Streaming table $table: exported versions ${r.start}-${r.end}"))
        range
      }
    } finally views.foreach(spark.catalog.dropTempView)
  }

  /** [[drain]], returning the progress of every batch the drain ran, in
    * order. Progress reaches listeners asynchronously, so the listener bus
    * is flushed before the listener is removed.
    */
  private def drainProgress(
      spark: SparkSession,
      writer: DataStreamWriter[_],
      checkpoint: String): Seq[StreamingQueryProgress] = {
    val seen = scala.collection.mutable.ArrayBuffer.empty[StreamingQueryProgress]
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        seen.synchronized(seen += e.progress)
    }
    spark.streams.addListener(listener)
    val query =
      try drain(writer, checkpoint)
      finally {
        org.apache.spark.GraftBus.waitUntilEmpty(spark.sparkContext)
        spark.streams.removeListener(listener)
      }
    seen.synchronized(seen.filter(_.runId == query.runId).toList)
  }

  /** A session of its own for a fixture-scale gate: a `newSession()` over
    * `spark`'s context carrying a copy of `spark`'s runtime conf, with
    * `spark.sql.shuffle.partitions` at `min(8, defaultParallelism)` and,
    * when `rocksDb`, the RocksDB state-store provider
    * (`transformWithState`, [[runningTotals]], requires it). Work planned in it — a stream's state-store count and
    * micro-batch shuffle width, fixed at query start with no adaptive
    * coalescing, and any batch step around the stream — takes that width,
    * while `spark`'s own conf is never written.
    *
    * Why at most 8: at fixture scale per-partition state-store open/commit
    * and task setup dominate. Unpinned, the stateful gates drained 2-3x
    * slower at an oversubscribed `local[32]` (sf0.1 on a 4-core host, e.g.
    * q89 4.0 → 12.4 s). At `local[4]` the session's own width is no slower
    * than 8 (q89 3.49 vs 4.09 s; q228 5.17 vs 5.04 s, inside the spread).
    * Results do not depend on the width: nothing in this module reads a
    * partition id.
    */
  def fixtureSession(spark: SparkSession, rocksDb: Boolean = false): SparkSession = {
    val s = spark.newSession()
    spark.conf.getAll.foreach { case (k, v) => if (spark.conf.isModifiable(k)) s.conf.set(k, v) }
    s.conf.set("spark.sql.shuffle.partitions",
      math.min(8, spark.sparkContext.defaultParallelism).toString)
    if (rocksDb)
      s.conf.set("spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    s
  }

  /** Bounded drain: run `writer` under `Trigger.AvailableNow` with its
    * checkpoint at `checkpoint` — every input present at start is processed,
    * then the query stops — and return the finished query. The one place a
    * scheduled export or a streaming gate starts and awaits its stream. The
    * query runs in the session the writer's DataFrame was built in; no
    * session conf is read or written here.
    */
  def drain(writer: DataStreamWriter[_], checkpoint: String): StreamingQuery = {
    val query = writer
      .option("checkpointLocation", checkpoint)
      .trigger(Trigger.AvailableNow())
      .start()
    query.awaitTermination()
    query
  }

  final case class Ev(user_id: Long, ts_us: Long)
  /** [[Ev]] plus the derived watermark column (public: codegen'd encoder
    * projections cannot access private classes).
    */
  final case class EvT(user_id: Long, ts_us: Long, ts: java.sql.Timestamp)
  final case class SessionState(sessionId: Long, lastTsUs: Long, startTsUs: Long)
  final case class SessionAssignment(
      user_id: Long, ts_us: Long, session_id: Long, session_start_us: Long)

  /** Streaming gap-based sessionization: per-user keyed state carries
    * (current session id, last event time); an event further than `gapUs`
    * from the last one opens a new session. Same semantics as the batch q12
    * (epoch-micros, 30-minute default gap) for a per-user IN-ORDER stream:
    * events inside one micro-batch are sorted by time before state
    * application; rows older than the watermark (derived from `ts_us` with
    * `watermarkDelay` slack) are dropped before they reach state — the
    * standard late-data contract for keyed-state sessionizers (the batch
    * q12 is the backfill path for older data).
    *
    * State is bounded two ways: per-user O(1) payload, and an EVENT-time
    * timeout that evicts a user's state once the watermark passes
    * `lastTs + gap` — the exact moment the session can no longer be
    * extended, so eviction never splits or merges a session: any later
    * surviving event would have opened a new session anyway. Event-time
    * timeouts fire only when the watermark ADVANCES, so the engine
    * quiesces between data arrivals and `processAllAvailable()` terminates
    * — a processing-time timeout here would make `shouldRunAnotherBatch`
    * true forever and busy-loop empty micro-batches.
    *
    * Session identity: `session_id` is a per-user counter that restarts at
    * 1 when state is evicted, and WHETHER eviction fired between two
    * far-apart events depends on micro-batch boundaries (timeouts only
    * fire for groups without data in that batch) — so the counter is
    * stable only within one state lifetime. `session_start_us` is the
    * batch-timing-INVARIANT identity: an event more than `gapUs` after its
    * predecessor starts a session stamped with its own ts whether or not
    * the old state was evicted first, so downstream joins should key on
    * (user_id, session_start_us).
    *
    * Memory contract: one user's events WITHIN one micro-batch are
    * buffered on the owning executor to be time-sorted (the state shuffle
    * does not deliver them in event order), so peak per-task memory is
    * O(hottest key × micro-batch volume) — the output streams lazily from
    * that one buffer, never materializing a second copy. A hot key is
    * bounded by bounding the micro-batch, not the operator: size
    * `maxCommitsPerTrigger` ([[readChanges]]), `maxFilesPerTrigger` (file
    * sources) or `maxOffsetsPerTrigger` so one batch's share of any single
    * key fits an executor. CDF commit-sized batches are far inside that envelope;
    * CdcStreamSpec drives a deliberately hot key (one user, whole batch)
    * at volume as the regression guard.
    */
  def sessionize(
      events: Dataset[Ev],
      gapUs: Long = 1800L * 1000 * 1000,
      watermarkDelay: String = "1 hour"): Dataset[SessionAssignment] = {
    import events.sparkSession.implicits._
    val gapMs = gapUs / 1000L
    events
      .withColumn("ts", timestamp_micros(col("ts_us")))
      .withWatermark("ts", watermarkDelay)
      .as[EvT]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout) {
        (userId: Long, batch: Iterator[EvT], state: GroupState[SessionState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            // ONE buffer: the group's rows, sorted in place. The state
            // transition is a 3-scalar fold, so the final state is computed
            // eagerly here (state methods must not be called after return)
            // while the per-event output replays the same fold LAZILY from
            // the sorted buffer as the downstream consumes it.
            val sorted = batch.toArray
            java.util.Arrays.sort(sorted, Ordering.by((_: EvT).ts_us))
            def step(st: SessionState, e: EvT): SessionState = {
              val fresh = st.lastTsUs == Long.MinValue || e.ts_us - st.lastTsUs > gapUs
              SessionState(
                if (fresh) st.sessionId + 1 else st.sessionId,
                e.ts_us,
                if (fresh) e.ts_us else st.startTsUs)
            }
            val st0 = state.getOption.getOrElse(SessionState(0L, Long.MinValue, Long.MinValue))
            val stFinal = sorted.foldLeft(st0)(step)
            state.update(stFinal)
            // evict when the session can no longer be extended; Spark rejects
            // timeout timestamps at or before the current watermark, so clamp
            val target = stFinal.lastTsUs / 1000L + gapMs
            state.setTimeoutTimestamp(math.max(target, state.getCurrentWatermarkMs() + 1L))
            var st = st0
            sorted.iterator.map { e =>
              st = step(st, e)
              SessionAssignment(userId, e.ts_us, st.sessionId, st.startTsUs)
            }
          }
      }
  }

  final case class UserTotal(user_id: Long, n_events: Long, last_ts_us: Long)

  /** Arbitrary-state v2 processor for [[runningTotals]]: per-user lifetime
    * event count + last-seen timestamp in a single `ValueState` slot,
    * emitting the CUMULATIVE totals for every user touched by the batch.
    * The `StatefulProcessor` API (Spark 4's `transformWithState`) replaces
    * `GroupState` with named, individually-evolvable state variables behind
    * a handle — this gate pins the engine's integration with it.
    *
    * State is per-user O(1) (two longs); no timers — totals are lifetime
    * aggregates, eviction would change the answer. `TTLConfig.NONE` says so
    * explicitly. At 100 TB keyspace the RocksDB provider (REQUIRED by
    * `transformWithState`) keeps the map off-heap and changelog-checkpointed.
    */
  class RunningTotalsProcessor
      extends StatefulProcessor[Long, Ev, UserTotal] {
    @transient private var totals: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[(Long, Long)](
        "totals", Encoders.product[(Long, Long)], TTLConfig.NONE)
    override def handleInputRows(key: Long, rows: Iterator[Ev],
        timers: TimerValues): Iterator[UserTotal] = {
      val (c0, m0) = if (totals.exists()) totals.get() else (0L, Long.MinValue)
      var c = c0
      var m = m0
      rows.foreach { e => c += 1; if (e.ts_us > m) m = e.ts_us }
      totals.update((c, m))
      Iterator.single(UserTotal(key, c, m))
    }
  }

  /** Streaming per-user lifetime totals via `transformWithState` — the
    * twelfth gate's transform. Each micro-batch appends one cumulative row
    * per user WITH data in that batch, so the latest row per user (max
    * count) is the lifetime total; replay after failure only re-appends
    * rows the max-aggregation already absorbs — idempotent by construction,
    * the q292 contract carried onto the v2 state API.
    */
  def runningTotals(events: Dataset[Ev]): Dataset[UserTotal] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .transformWithState(new RunningTotalsProcessor, TimeMode.None(), OutputMode.Append())
  }
}
