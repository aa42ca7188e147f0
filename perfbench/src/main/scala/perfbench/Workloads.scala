package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.engine.{Unload, VersionedCatalog}
import graft.engine.JobSpec._
import graft.streaming.CdcStream

/** The closed-loop workloads. Each runs one client thread against one
  * SparkSession: the next operation starts when the previous one returns.
  *
  *  - `cdf_long_history`: a CDF table with a long commit history. A step
  *    commits two versions, unloads exactly that window to zstd parquet
  *    (CDC filter, envelope SQL, count-sized repartition, void scrub,
  *    audit files), and drains the same commits through the streaming
  *    export. Almost no data moves, so the time is catalog metadata,
  *    planning and per-job fixed cost.
  *  - `query_sample`: six oracle-checked driver queries, two per query
  *    module, in a seeded order per pass, run like `graft.Bench` (cache cleared,
  *    `.count()`): the fixed per-query cost.
  */
object Workloads {

  val Table = "main.graft.events"
  /** Query fixtures use one fixed seed, so the stored fingerprints apply. */
  val FixtureSeed = 42L
  /** Set-up repetitions; the first also warms the JVM, the median is kept. */
  val SetupReps = 3

  // cdf_long_history. 50 commits is past Spark's 32-path threshold, so a
  // window read lists the history with a parallel listing job as a long
  // history would; ~1,000 commits do not fit a run's time budget.
  val History = 50L
  val RowsPerCommit = 200
  val CdfMaxRecords = 128L

  val EnvelopeSql: String =
    s"""SELECT 1704067200000 AS time, event_id AS insert_id, user_id, event_type,
       |       named_struct('value', value, 'props', props) AS user_properties
       |FROM $Table""".stripMargin
  val EnvelopeHashCols = Seq(col("insert_id"), col("user_id"), col("event_type"),
    col("user_properties.value"), col("user_properties.props"))
  val SourceHashCols = Seq(col("event_id"), col("user_id"), col("event_type"),
    col("value"), col("props"))

  def run(spark: SparkSession, workload: String, seed: Long, seconds: Double,
      trace: Boolean, work: String, cache: String): Map[String, Any] = {
    val r = new Runner(spark, seed, seconds, trace, work, cache)
    workload match {
      case "cdf_long_history" => r.cdfLongHistory()
      case "query_sample" => r.querySample()
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    r.result(workload)
  }

  final class Runner(spark: SparkSession, seed: Long, seconds: Double, trace: Boolean,
      work: String, cache: String) {
    val tracer: Option[Tracer] = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())

    var attempted = 0
    var failed = 0
    val failures = mutable.ArrayBuffer.empty[String]
    val setupTimes = mutable.ArrayBuffer.empty[Double]
    /** Untraced operation seconds by kind ("commit", "unload", ...). */
    val times = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    /** CPU seconds of the whole JVM (all threads) per untraced operation. */
    val cpuTimes = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
    val stepTimes = mutable.ArrayBuffer.empty[Double]
    /** Per timed step of a traced run: (pair, traced, median primary op s). */
    val pairedSteps = mutable.ArrayBuffer.empty[(Int, Boolean, Double)]
    private val stepOps = mutable.ArrayBuffer.empty[Double]
    val detail = mutable.LinkedHashMap.empty[String, Any]
    var primary = "unload"
    var retries = 0
    var exported = (0L, 0L) // rows, bytes over untraced primary ops
    var tracedNow = false
    /** False during warm-up steps, whose times are not kept. */
    var measuring = true
    /** Traced seconds per query module, per pass of the sample. */
    val moduleSeconds = mutable.Map("parity" -> 0.0, "event" -> 0.0, "ext" -> 0.0)

    private def now = System.nanoTime()

    /** One operation: a single public call into the program. In a traced
      * step the same call runs with the tracer sampling it; `extra` is
      * evaluated after the call and must not run Spark jobs.
      */
    def op[T](kind: String, extra: => Map[String, Double] = Map.empty)(body: => T): T = {
      val t = if (tracedNow) tracer else None
      val c0 = Stats.processCpuNs
      val id = t.map(_.beginOp()).getOrElse(-1)
      val t0 = now
      val out = body
      val t1 = now
      if (measuring) {
        if (kind == primary) stepOps += (t1 - t0) / 1e9
        if (t.isEmpty) {
          times.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (t1 - t0) / 1e9
          cpuTimes.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (Stats.processCpuNs - c0) / 1e9
        }
      }
      t.foreach(_.endOp(id, kind, t0, t1, extra))
      out
    }

    def check(ok: Boolean, what: => String): Unit =
      if (!ok) { failures += what; System.err.println(s"[perfbench] CHECK FAILED: $what") }

    /** Run `warmup` untimed steps (checked like the others), then timed steps
      * until `seconds` have passed. A traced run alternates untraced and
      * traced steps in pairs whose order flips from pair to pair (UT, TU,
      * UT, ...), and runs at least two pairs, so the tracing overhead is
      * not the JVM warming up between the two sides.
      */
    def loop(warmup: Int)(step: Int => Unit): Unit = {
      var t0 = now
      var i = 0
      while (i < warmup || (now - t0) / 1e9 < seconds || i < warmup + (if (trace) 4 else 1) ||
          (trace && (i - warmup) % 2 == 1)) {
        measuring = i >= warmup
        if (i == warmup) t0 = now
        val pair = (i - warmup) / 2
        tracedNow = measuring && trace && (((i - warmup) % 2 == 1) != (pair % 2 == 1))
        attempted += 1
        val before = failures.size
        stepOps.clear()
        try step(i)
        catch { case e: Throwable =>
          failures += s"step $i: ${e.getClass.getSimpleName}: ${e.getMessage}".take(400)
          e.printStackTrace()
        }
        if (failures.size > before) failed += 1
        if (measuring && trace && stepOps.nonEmpty)
          pairedSteps += ((pair, tracedNow, Stats.median(stepOps.toSeq)))
        i += 1
      }
      tracedNow = false
      measuring = true
    }

    // ------------------------------------------------------------ cdf

    def cdfLongHistory(): Unit = {
      primary = "unload"
      val window = (v: Long) => Gen.changes(spark, seed, v, v, RowsPerCommit).drop("_commit_version")
      var catalog: VersionedCatalog = null
      (0 until SetupReps).foreach { rep =>
        val c = VersionedCatalog(s"$work/cdf$rep/catalog")
        val t0 = now
        // the history prefix in bulk, in the catalog's documented layout:
        // one directory per commit under cdf/_commit_version=<v>
        Gen.changes(spark, seed, 1, History, RowsPerCommit)
          .repartition(8, col("_commit_version"))
          .write.partitionBy("_commit_version").parquet(c.cdfRoot(Table))
        // one real commit, so the catalog's own backfill writes _commits.json
        c.commitChanges(window(History + 1), Table, History + 1)
        setupTimes += (now - t0) / 1e9
        catalog = c
      }
      (0 until SetupReps - 1).foreach(rep => rmTree(s"$work/cdf$rep"))
      // the streaming export starts at the same position in every run: one
      // initial drain of the whole history, charged to set-up once
      val streamOut = s"$work/cdf_stream"
      val checkpoint = s"$work/cdf_checkpoint"
      val d0 = now
      CdcStream.unloadAvailableNow(spark, catalog, cdfConfig(Table, 1, 1, streamOut), checkpoint)
      val initialDrain = (now - d0) / 1e9
      detail("initial_drain_s") = initialDrain
      setupTimes.indices.foreach(k => setupTimes(k) += initialDrain)
      check(Check.partFiles(streamOut).nonEmpty, "initial stream drain wrote nothing")
      val seen = mutable.Set(Check.partFiles(streamOut).map(_.toString): _*)

      loop(warmup = 1) { i =>
        val v = History + 2 + 2L * i
        val out = s"$work/cdf_out/step$i"
        val s0 = now
        Seq(v, v + 1).foreach { c =>
          val changes = window(c)
          op("commit")(catalog.commitChanges(changes, Table, c))
        }
        val config = cdfConfig(Table, v, v + 1, out).copy(runId = s"step$i")
        val windowFiles = Seq(v, v + 1).map { c =>
          Check.partFiles(s"${catalog.cdfRoot(Table)}/_commit_version=$c").size }.sum.toDouble
        val report = op("unload", Map("catalog.window_files" -> windowFiles,
            "write.files" -> Check.partFiles(out).size.toDouble,
            "write.bytes" -> Check.bytes(Check.partFiles(out)).toDouble)) {
          Unload.run(spark, catalog, config)
        }
        if (report.retriedLatestOnly || report.tableResults.exists(_.initialFetchError.nonEmpty))
          retries += 1
        op("drain")(CdcStream.unloadAvailableNow(spark, catalog, cdfConfig(Table, 1, 1, streamOut),
          checkpoint))
        if (measuring && !tracedNow) stepTimes += (now - s0) / 1e9

        // ---- output checks (untimed)
        val expected = Check.rowHash(Gen.changes(spark, seed, v, v + 1, RowsPerCommit)
          .filter(col("_change_type") === "insert"), SourceHashCols)
        val exportDf = spark.read.parquet(Check.partFiles(out).map(_.toString): _*)
        val got = Check.rowHash(exportDf, EnvelopeHashCols)
        check(got == expected, s"step $i batch export $got != generator inserts $expected")
        val perFile = Check.rowsPerFile(exportDf)
        check(perFile.forall(_ <= CdfMaxRecords),
          s"step $i a file holds more than $CdfMaxRecords rows: $perFile")
        check(Check.tableResultsOk(s"$out/logs/run_step$i", v, v + 1),
          s"step $i table_results.json does not show versions $v-${v + 1}")
        val fresh = Check.partFiles(streamOut).map(_.toString).filterNot(seen)
        seen ++= fresh
        val streamed =
          if (fresh.isEmpty) (0L, 0L)
          else Check.rowHash(spark.read.parquet(fresh: _*), EnvelopeHashCols)
        check(streamed == got, s"step $i stream export $streamed != batch export $got")
        if (measuring && !tracedNow)
          exported = (exported._1 + got._1, exported._2 + Check.bytes(Check.partFiles(out)))
        rmTree(out)
      }
    }

    def cdfConfig(table: String, start: Long, end: Long, out: String): JobConfig =
      JobConfig(tables = Seq(TableVersionRange(table, start, end)), dataType = Event,
        sql = EnvelopeSql, outputPath = out, format = ParquetFormat, strategy = Repartition,
        maxRecordsPerFile = CdfMaxRecords)

    // ------------------------------------------------------------ queries

    def querySample(): Unit = {
      primary = "query"
      val pool = QueryPool.load()
      // Each pass runs the sample in its own seeded order: the order moves a
      // pass's time by up to a fifth, so a run averages over orders.
      val rng = new scala.util.Random(seed)
      val orders = mutable.ArrayBuffer.empty[Seq[String]]
      def nextOrder(): Seq[String] = { val o = rng.shuffle(pool.sample); orders += o; o }
      detail("sampled_queries") = pool.sample
      detail("pass_orders") = orders
      // The fixtures are the same in every run (one fixed seed), so they
      // are generated once per checkout and kept under `cache`.
      val fixtures = s"$cache/fixtures-seed$FixtureSeed"
      if (!Files.isDirectory(Paths.get(fixtures))) {
        val tmp = s"$fixtures.tmp"
        rmTree(tmp)
        Gen.fixtures(spark, FixtureSeed, tmp)
        Files.move(Paths.get(tmp), Paths.get(fixtures))
      }
      // Set-up is the untimed warm pass: it fills the program's staging
      // caches (kept per data directory) and checks every result against
      // its fingerprint. It runs SetupReps times, each over a fresh copy of
      // the fixtures in this run's work directory, and the median is kept:
      // the first pass also warms the JVM, the others pay the staging alone.
      val perQuery = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
      var dir = ""
      (0 until SetupReps).foreach { rep =>
        dir = s"$work/fixtures-rep$rep"
        copyTree(fixtures, dir)
        val w0 = now
        nextOrder().foreach { q =>
          spark.catalog.clearCache()
          val q0 = now
          val fp = Check.fingerprint(graft.SparkEntry.queries(q)(spark, dir))
          perQuery.getOrElseUpdate(q, mutable.ArrayBuffer.empty) += (now - q0) / 1e9
          check(fp == pool.expected(q), s"$q fingerprint $fp != expected ${pool.expected(q)}")
        }
        setupTimes += (now - w0) / 1e9
      }
      detail("warm_pass_query_s") = perQuery
      var tracedPasses = 0
      // A pass runs each query once, like one pass of graft.Bench: cache
      // cleared, the query built and counted. Pass times still fall for two
      // passes after set-up while the JIT settles, so those run untimed.
      loop(warmup = 2) { _ =>
        if (tracedNow) tracedPasses += 1
        val p0 = now
        nextOrder().foreach { q =>
          spark.catalog.clearCache()
          val q0 = now
          val n = op("query")(graft.SparkEntry.queries(q)(spark, dir).count())
          if (tracedNow) moduleSeconds(QueryPool.module(q)) += (now - q0) / 1e9
          check(n == pool.expected(q)._1, s"$q counted $n rows, expected ${pool.expected(q)._1}")
        }
        if (measuring && !tracedNow) stepTimes += (now - p0) / 1e9
      }
      moduleSeconds.mapValuesInPlace((_, v) => v / math.max(1, tracedPasses))
    }

    // ------------------------------------------------------------ result

    def result(workload: String): Map[String, Any] = {
      tracer.foreach { t =>
        t.uninstall()
        // the layers must account for the traced operations' time
        t.ops.foreach { o =>
          check(o.counters("coverage") >= 0.9,
            f"traced ${o.kind} op ${o.id}: layers cover only ${o.counters("coverage")}%.3f")
        }
      }
      val opTimes = times.getOrElse(primary, mutable.ArrayBuffer.empty[Double]).toSeq
      val steps = stepTimes.toSeq
      val e2e = Map(
        "setup_s" -> Stats.median(setupTimes.toSeq),
        "op_p50_s" -> Stats.median(opTimes),
        "step_p50_s" -> Stats.median(steps))
      val named = mutable.LinkedHashMap[String, Any](
        "setup_s" -> setupTimes.toSeq,
        "steps_s" -> steps,
        "ops" -> times.map { case (k, v) => k -> Map("n" -> v.size, "p50_s" -> Stats.median(v.toSeq),
          "cpu_p50_s" -> Stats.median(cpuTimes.getOrElse(k, Nil).toSeq)) },
        "failed_op_ratio" -> failed.toDouble / math.max(1, attempted),
        "peak_rss_mb" -> Stats.peakRssMb)
      if (primary == "unload" && opTimes.nonEmpty) {
        named("export_rows_per_s") = exported._1 / opTimes.sum
        named("export_bytes_per_row") = exported._2.toDouble / math.max(1L, exported._1)
      }
      if (workload == "query_sample") named("query_total_s") = Stats.median(steps)
      if (trace) named("paired_steps") = pairedSteps.map { case (p, t, s) =>
        Map("pair" -> p, "traced" -> t, "op_p50_s" -> s) }
      named ++= detail
      Map(
        "correct" -> failures.isEmpty,
        "attempted" -> attempted,
        "failed" -> failed,
        "metrics" -> e2e,
        "layers" -> tracer.map(layerMetrics).getOrElse(Map.empty),
        "detail" -> named,
        "failures" -> failures.toSeq,
        "trace" -> tracer.map(traceDump).getOrElse(Map.empty),
        "provenance" -> Map(
          "master" -> spark.sparkContext.master,
          "shuffle_partitions" -> spark.conf.get("spark.sql.shuffle.partitions"),
          "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
          "spark_version" -> spark.version,
          "seed" -> seed))
    }

    /** Tracing overhead: the median over pairs of traced minus untraced
      * median primary-op seconds.
      */
    def overhead: Double = {
      val diffs = pairedSteps.groupBy(_._1).values.collect {
        case xs if xs.exists(_._2) && xs.exists(!_._2) =>
          xs.filter(_._2).map(_._3).sum - xs.filterNot(_._2).map(_._3).sum
      }.toSeq
      if (diffs.isEmpty) 0.0 else Stats.median(diffs)
    }

    private def layerMetrics(t: Tracer): Map[String, Double] = {
      val byKind = t.ops.groupBy(_.kind)
      def medOf(kind: String)(f: OpTrace => Double): Double =
        Stats.median(byKind.getOrElse(kind, Nil).map(f).toSeq) match {
          case d if d.isNaN => 0.0
          case d => d
        }
      def med(kind: String, key: String): Double = medOf(kind)(_.counters.getOrElse(key, 0.0))
      // a layer's seconds are the mean over the traced ops: each op's figure
      // is a sample count, unbiased in the mean, while the median of a
      // layer that gets a sample only now and then is 0
      def layer(kind: String, name: String): Double = {
        val os = byKind.getOrElse(kind, Nil)
        if (os.isEmpty) 0.0 else os.map(_.layers.getOrElse(name, 0.0)).sum / os.size
      }
      val p = primary
      val perOp = Seq("exec.jobs", "exec.stages", "exec.tasks", "exec.run_s", "exec.cpu_s",
        "exec.gc_s", "exec.sched_wait_s", "exec.driver_only_s", "scan.input_bytes", "scan.input_rows",
        "shuffle.write_bytes", "shuffle.read_bytes", "exec.spill_bytes", "catalog.files_listed",
        "catalog.listing_jobs", "plan.analysis_ms", "plan.optimization_ms", "plan.physical_ms",
        "plan.executions", "sizing.input_rows", "write.rows", "write.files", "write.bytes")
        .map(k => k -> med(p, k)).toMap
      val stream = Seq("stream.latest_offset_ms", "stream.get_batch_ms", "stream.add_batch_ms",
        "stream.wal_commit_ms", "stream.batches", "stream.input_rows")
        .map(k => k -> med("drain", k)).toMap
      val listed = med(p, "catalog.files_listed")
      val windowFiles = med(p, "catalog.window_files")
      perOp ++ stream ++ Map(
        "catalog.fetch_s" -> layer(p, "catalog"),
        "catalog.window_file_ratio" -> (if (listed > 0) windowFiles / listed else 0.0),
        "catalog.commit_s" -> layer("commit", "catalog"),
        "view.build_s" -> layer(p, "view"),
        "sizing.count_s" -> layer(p, "sizing"),
        "write.data_s" -> layer(p, "write.data"),
        "write.audit_s" -> layer(p, "write.audit"),
        "unload.self_s" -> layer(p, "unload"),
        "recovery.retries" -> retries.toDouble,
        "stream.drain_s" -> medOf("drain")(_.wall),
        "queries.parity_s" -> moduleSeconds("parity"),
        "queries.event_s" -> moduleSeconds("event"),
        "queries.ext_s" -> moduleSeconds("ext"),
        "trace.coverage" -> t.ops.map(_.counters("coverage")).minOption.getOrElse(0.0),
        "trace.overhead_s" -> overhead
      )
    }

    private def traceDump(t: Tracer): Map[String, Any] = Map(
      "sample_interval_ms" -> Tracer.SampleNs / 1e6,
      "ops" -> t.ops.map { o => Map("op" -> o.id, "kind" -> o.kind, "wall_s" -> o.wall,
        "samples" -> o.samples, "layers_s" -> o.layers, "counters" -> o.counters,
        "unattributed_samples" -> o.unattributed.map { case (f, n) => Map("frame" -> f, "n" -> n) },
        "jobs" -> o.jobs.map { case (l, s, e) => Map("layer" -> l,
          "start_s" -> (s - o.startNs) / 1e9, "seconds" -> (e - s) / 1e9) }) },
      // self seconds per (op kind, layer), summed over the run's traced ops
      "self_s" -> t.ops.groupBy(_.kind).map { case (k, os) =>
        k -> os.flatMap(_.layers.toSeq).groupBy(_._1).map { case (l, xs) => l -> xs.map(_._2).sum } })
  }

  def copyTree(from: String, to: String): Unit = {
    rmTree(to)
    val src = Paths.get(from)
    val all = Files.walk(src)
    try all.iterator().asScala.foreach { p =>
      val dst = Paths.get(to).resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(dst) else Files.copy(p, dst)
    }
    finally all.close()
  }

  def rmTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).iterator().asScala
        .foreach(Files.delete)
  }
}
