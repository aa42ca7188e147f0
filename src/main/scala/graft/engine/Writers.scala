package graft.engine

import java.nio.charset.StandardCharsets
import java.util.concurrent.TimeoutException

import scala.concurrent.Await
import scala.concurrent.duration.Duration

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Observation, Row, SparkSession}

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

  /** The sink contract for one export frame, shared by the batch writer
    * ([[writeData]]) and the streaming export
    * ([[graft.streaming.CdcStream.unloadAvailableNow]]): the frame to write,
    * the file format, and its write options. K1: JSON as-is; K2: VOID fields
    * scrubbed, then zstd level 3 parquet; K5: every output file capped at
    * `maxRecordsPerFile` rows when given.
    */
  final case class Sink(df: DataFrame, format: String, options: Map[String, String])

  def sink(df: DataFrame, format: OutputFormat, maxRecordsPerFile: Option[Long]): Sink = {
    val cap = maxRecordsPerFile.map(n => "maxRecordsPerFile" -> n.toString).toMap
    format match {
      case JsonFormat => Sink(df, "json", cap)
      case ParquetFormat =>
        // The zstd level travels as a parquet-hadoop conf key: Spark copies
        // every write option into the job's Hadoop conf
        // (newHadoopConfWithOptions), where parquet-mr reads it. A
        // "compressionLevel" DataFrameWriter option would be silently ignored.
        Sink(VoidScrub.dropVoidFields(df), "parquet", cap ++ Map(
          "compression" -> "zstd",
          "parquet.compression.codec.zstd.level" -> "3"))
    }
  }

  /** K1/K2/K5: write the export frame under its [[sink]] contract. */
  def writeData(
      df: DataFrame,
      format: OutputFormat,
      path: String,
      maxRecordsPerFile: Option[Long] = None): Unit = {
    val s = sink(df, format, maxRecordsPerFile)
    s.df.write.mode("overwrite").format(s.format).options(s.options).save(path)
  }

  /** The metrics `o` observed on a write, or `None` when they have not
    * arrived within 10 s. The listener that fulfils an observation fires
    * asynchronously after the action: a bounded wait (rather than `get`, an
    * unbounded block), so a lost metric degrades to the caller's fallback
    * instead of a hang.
    */
  def observed(o: Observation): Option[Row] =
    try Some(Await.result(o.future, Duration(10, "s")))
    catch { case _: TimeoutException => None }

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
