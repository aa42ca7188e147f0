package graft.engine

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.JobSpec._
import graft.engine.Recovery.TableResult

/** The end-to-end unload pipeline — entry point EP1 in SURVEY.md §3, with
  * the resilience operators O3 (per-table fallback) and O4 (global
  * latest-only retry) of §2.9.
  *
  * Shape preserved from `unload_databricks_data_to_s3.py:256-340, 484-512`:
  *
  *  1. per table: fetch (snapshot or CDF window) → CDC filter → temp view;
  *     a missing-CDF error *at view-build time* flips ONLY that table to
  *     `[end, end]` (attribution + minimal skipping);
  *  2. rewrite the customer SQL to reference the views — identifier-aware
  *     here, fixing the reference's substring-replace hazard (SURVEY §7.4);
  *  3. `spark.sql` the transformation (lazy), size output partitions, write;
  *  4. because Spark defers file reads, missing-file errors often surface at
  *     WRITE time — the outer catch re-runs the **entire** pipeline
  *     (re-read + re-transform + re-write, never resume) in latest-only
  *     mode. `mode("overwrite")` writes make the retry idempotent. This is a
  *     semantic contract to preserve (SURVEY §4 "lazy-eval error strategy");
  *  5. flush `table_results.json` + `logs.txt` audit sidecars.
  */
object Unload {

  final case class UnloadReport(
      tableResults: Seq[TableResult],
      retriedLatestOnly: Boolean,
      auditPath: String
  )

  def run(spark: SparkSession, catalog: VersionedCatalog, config: JobConfig): UnloadReport = {
    val log = new RunLog
    val t0 = System.nanoTime()
    log.info("Starting unload job")
    val results = mutable.LinkedHashMap.empty[String, TableResult]

    val retried =
      try {
        writeExportData(spark, catalog, config, results, forceLatestOnly = false, log.info)
        false
      } catch {
        case e: Throwable =>
          Recovery.missingCdfSignature(e) match {
            case None => throw e // non-CDF error: re-raise immediately
            case Some(sig) =>
              log.info(s"Failed with CDF missing-file signature ($sig). " +
                "Retrying with latest-only (start=end=end_version) for all tables.")
              writeExportData(spark, catalog, config, results, forceLatestOnly = true, log.info)
              true
          }
      }

    log.info(f"Total job time: ${(System.nanoTime() - t0) / 1e9}%.2f seconds")
    log.info("Unload job completed successfully")
    val auditPath =
      Writers.writeAudit(spark, config.outputPath, config.runId, results.values.toSeq, log.lines)
    UnloadReport(results.values.toSeq, retried, auditPath)
  }

  /** Stages 1-4 for one attempt (normal or forced latest-only). */
  private def writeExportData(
      spark: SparkSession,
      catalog: VersionedCatalog,
      config: JobConfig,
      results: mutable.LinkedHashMap[String, TableResult],
      forceLatestOnly: Boolean,
      log: String => Unit): Unit = {

    val sqlToRun = buildViewsForTables(spark, catalog, config, results, forceLatestOnly, log)

    log("Creating DataFrame with SQL transformation (execution deferred)")
    var exportData: DataFrame = spark.sql(sqlToRun)

    // count paid by the sizing step, if any — reused by the meta sidecar
    var countedRows: Option[Long] = None
    var plannedPartitions: Option[Int] = None
    // K5 file-size guard, passed to the one write (Coalesce only)
    var maxRecordsPerFile: Option[Long] = None

    exportData = config.strategy match {
      case Repartition =>
        val (n, cnt) = Partitioning.calculateNumPartitionsWithCount(
          exportData, config.maxRecordsPerFile, config.targetPartitions, log)
        countedRows = cnt
        plannedPartitions = Some(n)
        log(s"Planning repartition to $n partitions (will execute during write)")
        exportData.repartition(n)
      case Coalesce =>
        maxRecordsPerFile = Some(config.maxRecordsPerFile)
        val (n, cnt) = Partitioning.calculateNumPartitionsWithCount(
          exportData, config.maxRecordsPerFile, config.targetPartitions, log)
        countedRows = cnt
        plannedPartitions = Some(n)
        log(s"Planning coalesce to $n partitions (will execute during write)")
        exportData.coalesce(n)
      case NoResize =>
        log("No partitioning strategy specified - writing with existing partition structure")
        exportData
    }

    // Physical-plan capture into the audit log: the first thing an on-call
    // engineer asks of a slow or wrong export is "what plan did it run?" —
    // recorded per attempt (a latest-only retry plans a different scan), at
    // plan time (an execution failure still leaves the plan in logs.txt).
    log("Physical plan (pre-execution):\n" +
      exportData.queryExecution.executedPlan.toString.trim)

    // K3 count piggyback: when the meta sidecar is requested but no sizing
    // count was paid (count-free target_partitions mode), ride the row
    // count on the WRITE pass via Dataset.observe — at 100 TB the
    // alternative is a SECOND full scan of the export purely to learn a
    // number the write job already saw every row of. The observation node
    // is a per-partition accumulator merge: zero shuffle, zero extra scan.
    val observation = if (config.writeMeta && countedRows.isEmpty) {
      val o = new org.apache.spark.sql.Observation(
        s"graft_meta_rows_${System.nanoTime()}")
      exportData = exportData.observe(o,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1)).as("rows"))
      Some(o)
    } else None

    log(s"Starting write operation to ${config.outputPath} (${config.format})")
    val t0 = System.nanoTime()
    Writers.writeData(exportData, config.format, config.outputPath, maxRecordsPerFile)
    log(f"Write complete in ${(System.nanoTime() - t0) / 1e9}%.2f seconds")

    // K3 meta sidecar (opt-in): reuse the sizing count when one was paid,
    // else the write-pass observation; the standalone count() survives only
    // as the last-resort fallback (e.g. an observation lost to an exotic
    // writer path). The partition count is the planned write fan-out, or
    // the physical partition count when no strategy resized.
    if (config.writeMeta) {
      val observed = observation.flatMap { o =>
        // the listener that materializes the metric fires asynchronously
        // after the action — await with a bound rather than `get`
        // (unbounded block) so a lost metric degrades to the fallback
        // count instead of a hang
        val rows =
          try Some(scala.concurrent.Await
            .result(o.future, scala.concurrent.duration.Duration(10, "s"))
            .getAs[Long]("rows"))
          catch { case _: java.util.concurrent.TimeoutException => None }
        rows.foreach(n => log(
          s"Meta row count from write-pass observation (no second scan): $n"))
        rows
      }
      val eventCount = countedRows.orElse(observed).getOrElse {
        log("Meta row count fallback: standalone count() job")
        exportData.count()
      }
      val partitions = plannedPartitions.getOrElse(exportData.rdd.getNumPartitions)
      Writers.writeMeta(spark, config.outputPath, eventCount, partitions)
      log(s"Meta sidecar written: event_count=$eventCount partition_count=$partitions")
    }
  }

  /** Stage 1+2: per-table fetch/filter/view with O3 fallback; returns the
    * rewritten SQL.
    */
  private[engine] def buildViewsForTables(
      spark: SparkSession,
      catalog: VersionedCatalog,
      config: JobConfig,
      results: mutable.LinkedHashMap[String, TableResult],
      forceLatestOnly: Boolean,
      log: String => Unit): String = {

    val epoch = System.currentTimeMillis()
    val bindings = mutable.LinkedHashMap.empty[String, String]

    config.tables.foreach { range =>
      val table = range.table
      if (!results.contains(table))
        results(table) = TableResult(table, range.start, range.end, None, range.start, range.end)
      log(s"Processing table: $table, version range: ${range.start}-${range.end}")

      def fetchAndCreateView(r: TableVersionRange): String = {
        var df = catalog.fetchData(spark, r)
        if (!config.mutabilityMode) df = CdcFilter.filterData(df, config.dataType)
        val view = SqlRewrite.tempViewName(table, epoch)
        df.createOrReplaceTempView(view)
        view
      }

      if (forceLatestOnly) {
        results(table) = results(table).copy(finalStartVersion = range.end, finalEndVersion = range.end)
        bindings(table) = fetchAndCreateView(range.latestOnly)
        log(s"Forced latest-only read for $table at version ${range.end}.")
      } else {
        try bindings(table) = fetchAndCreateView(range)
        catch {
          case e: Throwable =>
            Recovery.missingCdfSignature(e) match {
              case None => throw e
              case Some(sig) =>
                log(s"Encountered missing CDF files for $table (signature=$sig). " +
                  s"Skipping versions ${range.start}-${range.end - 1} and re-reading at " +
                  s"last known good version ${range.end}.")
                results(table) = results(table).copy(
                  initialFetchError = Some(e.getMessage),
                  finalStartVersion = range.end,
                  finalEndVersion = range.end)
                bindings(table) = fetchAndCreateView(range.latestOnly)
                log(s"Successfully read $table at version ${range.end}.")
            }
        }
      }
    }

    SqlRewrite.rewrite(config.sql, bindings.toMap)
  }
}
