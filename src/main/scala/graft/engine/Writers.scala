package graft.engine

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.engine.JobSpec._

/** Sinks — operators K1-K6 in SURVEY.md §2.2.
  *
  * Contract preserved from the reference (`unload_databricks_data_to_s3.py:397-408`):
  *   - JSON path writes newline-delimited JSON with NO void scrub (observable
  *     output contract — SURVEY §7.4 "keep");
  *   - Parquet path scrubs VOID fields, then writes zstd level 3;
  *   - every data write is `mode("overwrite")`, which is what makes the
  *     full-job latest-only retry idempotent;
  *   - the `maxRecordsPerFile` write option is the real file-size guard for
  *     the coalesce strategy (K5); it travels with the one write, never as
  *     session conf, so it cannot leak into the caller's later writes.
  *
  * Scale note: writes go through Spark's committer — per-task parallel
  * multipart uploads on object stores; nothing funnels through the driver.
  */
object Writers {

  /** K1/K2: write the export frame in the requested format; K5: cap every
    * output file at `maxRecordsPerFile` rows when given. */
  def writeData(
      df: DataFrame,
      format: OutputFormat,
      path: String,
      maxRecordsPerFile: Option[Long] = None): Unit = {
    val cap = maxRecordsPerFile.map(n => "maxRecordsPerFile" -> n.toString).toMap
    format match {
      case JsonFormat =>
        df.write.mode("overwrite").options(cap).json(path)
      case ParquetFormat =>
        // The zstd level travels as a parquet-hadoop conf key: Spark copies
        // every write option into the job's Hadoop conf
        // (newHadoopConfWithOptions), where parquet-mr reads it. A
        // "compressionLevel" DataFrameWriter option would be silently ignored.
        VoidScrub
          .dropVoidFields(df)
          .write
          .mode("overwrite")
          .options(cap)
          .option("compression", "zstd")
          .option("parquet.compression.codec.zstd.level", "3")
          .parquet(path)
    }
  }

  /** Bucketed parquet table for co-located joins: both relations written
    * with the same bucket count/columns hash-partition AT REST, so a join
    * on the bucket columns reads bucket-aligned splits and plans with NO
    * shuffle exchange on either side (asserted in WritersSpec). This is the
    * 100 TB answer to repeated large-fact ⋈ large-fact joins — the shuffle
    * is paid once at write time instead of per query. Requires a table
    * catalog (`saveAsTable`); plain `.parquet(path)` cannot carry bucket
    * metadata.
    */
  def writeBucketedTable(
      df: DataFrame,
      tableName: String,
      bucketCols: Seq[String],
      numBuckets: Int,
      sortCols: Seq[String] = Nil): Unit = {
    require(bucketCols.nonEmpty, "need at least one bucket column")
    val w = df.write.mode("overwrite").format("parquet")
      .bucketBy(numBuckets, bucketCols.head, bucketCols.tail: _*)
    (if (sortCols.nonEmpty) w.sortBy(sortCols.head, sortCols.tail: _*) else w)
      .saveAsTable(tableName)
  }

  /** K3: optional meta sidecar `[{event_count, partition_count}]` at
    * `<path>/meta` — dead code in the reference (`export_meta_data`,
    * `unload_databricks_data_to_s3.py:250-252`), wired as an opt-in here
    * (SURVEY §7.4).
    */
  def writeMeta(spark: SparkSession, basePath: String, eventCount: Long, partitionCount: Int): Unit = {
    import spark.implicits._
    Seq((eventCount, partitionCount))
      .toDF("event_count", "partition_count")
      .write.mode("overwrite").json(s"$basePath/meta")
  }

  /** K4: audit sidecars — `table_results.json` + `logs.txt` under
    * `<path>/logs/run_<runId>` (`unload_databricks_data_to_s3.py:518-524`).
    * Written via the Hadoop FS API so the same code serves file:// and
    * s3a:// targets.
    */
  def writeAudit(
      spark: SparkSession,
      basePath: String,
      runId: String,
      tableResults: Seq[Recovery.TableResult],
      logLines: Seq[String]): String = {
    val logsBase = basePath.stripSuffix("/") + s"/logs/run_$runId"
    putString(spark, s"$logsBase/table_results.json", Recovery.tableResultsJson(tableResults))
    putString(spark, s"$logsBase/logs.txt", logLines.mkString("\n"))
    logsBase
  }

  private def putString(spark: SparkSession, path: String, content: String): Unit = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write(content.getBytes(StandardCharsets.UTF_8))
    finally out.close()
  }
}
