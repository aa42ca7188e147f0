package graft.engine

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.engine.JobSpec._

/** CLI entry point — operator O1 (plus S4/O5 sources) in SURVEY.md §2.9.
  *
  * Binds the reference's argument surface
  * (`unload_databricks_data_to_s3.py:412-459`) to the typed [[JobConfig]]
  * and runs the [[Unload]] pipeline. Databricks-only facilities map to
  * honest local analogues:
  *
  *   - the transformation SQL came from a secret store (S4,
  *     `unload_databricks_data_to_s3.py:430-431, 476`) — here it arrives via
  *     `--sql`, `--sql_file`, or the `GRAFT_SQL` environment variable (the
  *     env var being the "injected by the orchestrator" channel);
  *   - the run id came from the Databricks job context with a UUID fallback
  *     (O5, `unload_databricks_data_to_s3.py:43-73`) — here `--run_id`, then
  *     `GRAFT_RUN_ID`, then a random UUID;
  *   - S3 credentials came from secrets (K6) — here the
  *     `GRAFT_AWS_ACCESS_KEY` / `GRAFT_AWS_SECRET_KEY` /
  *     `GRAFT_AWS_SESSION_TOKEN` env triplet plus `--s3_endpoint`, applied
  *     through [[S3Conf]] when all are present;
  *   - the Delta metastore is replaced by the versioned-parquet
  *     [[VersionedCatalog]], rooted at the required `--catalog_root`.
  *
  * Both the reference's `--partitioning-strategy` spelling and the
  * underscore form are accepted.
  */
object UnloadCli {

  final case class CliJob(
      config: JobConfig,
      catalogRoot: String,
      s3Creds: Option[S3Conf.S3Credentials],
      streaming: Boolean = false,
      checkpoint: Option[String] = None
  )

  private val Flags = Set("--ingestion_in_mutability_mode", "--write_meta", "--streaming")

  private def tokenize(args: Array[String]): Map[String, String] = {
    val out = Map.newBuilder[String, String]
    var i = 0
    while (i < args.length) {
      val a = args(i)
      require(a.startsWith("--"), s"unexpected argument: $a")
      if (Flags(a)) { out += a -> "true"; i += 1 }
      else {
        require(i + 1 < args.length, s"missing value for $a")
        out += a -> args(i + 1)
        i += 2
      }
    }
    out.result()
  }

  /** Pure arg→job assembly; `env` injectable for tests. */
  private[engine] def parseArgs(args: Array[String], env: Map[String, String]): CliJob = {
    val m = tokenize(args)
    def required(k: String): String =
      m.getOrElse(k, throw new IllegalArgumentException(s"missing required argument $k"))

    val sql = m
      .get("--sql")
      .orElse(m.get("--sql_file").map(f => Files.readString(Paths.get(f))))
      .orElse(env.get("GRAFT_SQL"))
      .getOrElse(throw new IllegalArgumentException(
        "transformation SQL required: --sql, --sql_file, or GRAFT_SQL"))

    val runId = m
      .get("--run_id")
      .orElse(env.get("GRAFT_RUN_ID"))
      .getOrElse(java.util.UUID.randomUUID().toString)

    val strategy = PartitionStrategy.fromName(
      m.getOrElse("--partitioning-strategy", m.getOrElse("--partition_strategy", "none")))

    val config = JobConfig(
      tables = parseTableVersions(required("--table_versions_map")),
      dataType = DataType.fromName(required("--data_type")),
      sql = sql,
      outputPath = required("--s3_path"),
      format = OutputFormat.fromName(m.getOrElse("--format", "json")),
      strategy = strategy,
      maxRecordsPerFile = m.get("--max_records_per_file").map(_.toLong).getOrElse(100000L),
      targetPartitions = m.get("--target_partitions").map(_.toInt),
      mutabilityMode = m.contains("--ingestion_in_mutability_mode"),
      runId = runId,
      writeMeta = m.contains("--write_meta")
    )

    val s3Creds = for {
      access <- env.get("GRAFT_AWS_ACCESS_KEY")
      secret <- env.get("GRAFT_AWS_SECRET_KEY")
      token <- env.get("GRAFT_AWS_SESSION_TOKEN")
      endpoint <- m.get("--s3_endpoint")
    } yield S3Conf.S3Credentials(access, secret, token, endpoint)

    val streaming = m.contains("--streaming")
    val checkpoint = m.get("--checkpoint")
    if (streaming) {
      require(checkpoint.isDefined,
        "--streaming requires --checkpoint <dir> (the checkpoint owns the export position)")
      // fail fast instead of silently dropping batch-only behaviors: the
      // file sink controls its own fan-out and writes no K3 sidecar
      require(config.strategy == NoResize && config.targetPartitions.isEmpty,
        "--streaming does not support a partitioning strategy / --target_partitions " +
          "(the streaming file sink controls partitioning)")
      require(!config.writeMeta,
        "--streaming does not support --write_meta (no bounded count exists; " +
          "use the audit log under <s3_path>/logs instead)")
    }

    CliJob(config, required("--catalog_root"), s3Creds, streaming, checkpoint)
  }

  /** Runs one unload job end-to-end and returns the report (separated from
    * `main` so tests can drive it with an existing session).
    */
  def run(spark: SparkSession, args: Array[String], env: Map[String, String]): Unload.UnloadReport = {
    val job = parseArgs(args, env)
    job.s3Creds.foreach(S3Conf.configure(spark, _))
    if (job.streaming) {
      // continuous analogue: drain new commits since the checkpoint, stop,
      // write the same K4 audit sidecars. The checkpoint, not the map, owns
      // positions in this mode; the per-table results record the versions
      // this drain exported (none for a table with no new commit)
      val log = new RunLog
      log.info("Starting streaming unload (AvailableNow)")
      val exported = graft.streaming.CdcStream.unloadAvailableNow(
        spark, VersionedCatalog(job.catalogRoot), job.config,
        job.checkpoint.get, log.info)
      val results = exported.map(r =>
        Recovery.TableResult(r.table, r.start, r.end, None, r.start, r.end))
      val auditPath = Writers.writeAudit(
        spark, job.config.outputPath, job.config.runId, results, log.lines)
      Unload.UnloadReport(results, retriedLatestOnly = false, auditPath)
    } else
      Unload.run(spark, VersionedCatalog(job.catalogRoot), job.config)
  }

  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().getOrCreate()
    val report = run(spark, args, sys.env)
    println(s"[unload] tables=${report.tableResults.size} " +
      s"retriedLatestOnly=${report.retriedLatestOnly} audit=${report.auditPath}")
  }
}
