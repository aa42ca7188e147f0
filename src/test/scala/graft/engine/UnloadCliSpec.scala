package graft.engine

import java.nio.file.{Files, Path => JPath, Paths}

import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.engine.JobSpec._

/** CLI surface (O1) + the S4/O5 source channels + K6 conf shim. */
class UnloadCliSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var work: JPath = _
  private val table = "main.cli.items"

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("graft-cli")
    val cat = VersionedCatalog(s"$work/catalog")
    cat.commitSnapshot((1 to 6).map(i => (i.toLong, s"n$i")).toDF("id", "name"), table, 1L)
    cat.commitChanges(
      Seq((7L, "n7", "insert"), (1L, "n1b", "update_postimage"))
        .toDF("id", "name", "_change_type")
        .withColumn("_commit_timestamp", org.apache.spark.sql.functions.lit("2024-01-02")),
      table, 2L)
  }
  override def afterAll(): Unit = rmTree(work)

  test("parseArgs binds the reference's 12-arg surface to JobConfig") {
    val job = UnloadCli.parseArgs(Array(
      "--table_versions_map", s"$table=2-2,main.cli.other=0-5",
      "--data_type", "USER_PROPERTY",
      "--sql", "SELECT 1",
      "--s3_path", "/tmp/out",
      "--catalog_root", "/tmp/cat",
      "--partitioning-strategy", "coalesce",
      "--max_records_per_file", "500",
      "--target_partitions", "8",
      "--format", "parquet",
      "--s3_endpoint", "s3.us-west-2.amazonaws.com",
      "--ingestion_in_mutability_mode",
      "--write_meta",
      "--run_id", "r1"
    ), env = Map(
      "GRAFT_AWS_ACCESS_KEY" -> "ak",
      "GRAFT_AWS_SECRET_KEY" -> "sk",
      "GRAFT_AWS_SESSION_TOKEN" -> "tok"
    ))
    val c = job.config
    assert(c.tables === Seq(
      TableVersionRange(table, 2L, 2L), TableVersionRange("main.cli.other", 0L, 5L)))
    assert(c.dataType === UserProperty)
    assert(c.strategy === Coalesce)
    assert(c.maxRecordsPerFile === 500L)
    assert(c.targetPartitions === Some(8))
    assert(c.format === ParquetFormat)
    assert(c.mutabilityMode && c.writeMeta && c.runId === "r1")
    assert(job.catalogRoot === "/tmp/cat")
    assert(job.s3Creds === Some(S3Conf.S3Credentials("ak", "sk", "tok", "s3.us-west-2.amazonaws.com")))
  }

  test("SQL sources: --sql_file and GRAFT_SQL env (S4 analogues)") {
    val f = Files.createTempFile("graft-sql", ".sql")
    Files.writeString(f, "SELECT 2")
    val fromFile = UnloadCli.parseArgs(Array(
      "--table_versions_map", s"$table=0-1", "--data_type", "EVENT",
      "--sql_file", f.toString, "--s3_path", "/tmp/o", "--catalog_root", "/tmp/c"),
      env = Map.empty)
    assert(fromFile.config.sql === "SELECT 2")
    val fromEnv = UnloadCli.parseArgs(Array(
      "--table_versions_map", s"$table=0-1", "--data_type", "EVENT",
      "--s3_path", "/tmp/o", "--catalog_root", "/tmp/c"),
      env = Map("GRAFT_SQL" -> "SELECT 3", "GRAFT_RUN_ID" -> "env_run"))
    assert(fromEnv.config.sql === "SELECT 3")
    assert(fromEnv.config.runId === "env_run") // O5 env channel
    Files.delete(f)
  }

  test("missing required arguments fail fast") {
    val e = intercept[IllegalArgumentException](UnloadCli.parseArgs(
      Array("--data_type", "EVENT", "--sql", "SELECT 1"), env = Map.empty))
    assert(e.getMessage.contains("--table_versions_map"))
    // transformation SQL has no source at all → S4 error
    val e2 = intercept[IllegalArgumentException](UnloadCli.parseArgs(
      Array("--table_versions_map", s"$table=0-1", "--data_type", "EVENT",
        "--s3_path", "/tmp/o", "--catalog_root", "/tmp/c"), env = Map.empty))
    assert(e2.getMessage.contains("transformation SQL"))
  }

  test("CLI end-to-end: EVENT unload with meta sidecar") {
    val out = s"$work/out_cli"
    val report = UnloadCli.run(spark, Array(
      "--table_versions_map", s"$table=2-2",
      "--data_type", "EVENT",
      "--sql", s"SELECT id, name FROM $table",
      "--s3_path", out,
      "--catalog_root", s"$work/catalog",
      "--partitioning-strategy", "repartition",
      "--max_records_per_file", "10",
      "--format", "json",
      "--run_id", "cli_e2e",
      "--write_meta"
    ), env = Map.empty)
    assert(!report.retriedLatestOnly)
    // EVENT over CDF [2,2]: insert id=7 only
    assert(spark.read.json(out).select("id").as[Long].collect() === Array(7L))
    // K3 sidecar present, with the count the sizing step already paid
    val meta = spark.read.json(s"$out/meta").collect().head
    assert(meta.getAs[Long]("event_count") === 1L)
    assert(meta.getAs[Long]("partition_count") === 1L)
    // K4 audit present
    assert(Files.exists(Paths.get(out, "logs", "run_cli_e2e", "table_results.json")))
  }

  test("meta sidecar is absent unless --write_meta is set") {
    val out = s"$work/out_nometa"
    UnloadCli.run(spark, Array(
      "--table_versions_map", s"$table=2-2",
      "--data_type", "EVENT",
      "--sql", s"SELECT id FROM $table",
      "--s3_path", out,
      "--catalog_root", s"$work/catalog",
      "--run_id", "cli_nometa"
    ), env = Map.empty)
    assert(!Files.exists(Paths.get(out, "meta")))
  }

  test("CLI streaming: AvailableNow drain matches batch; rerun exports only new commits") {
    val out = s"$work/out_stream"
    val ckpt = s"$work/ckpt_stream"
    def runOnce(runId: String) = UnloadCli.run(spark, Array(
      "--table_versions_map", s"$table=1-2",
      "--data_type", "EVENT",
      "--sql", s"SELECT id, name FROM $table",
      "--s3_path", out,
      "--catalog_root", s"$work/catalog",
      "--run_id", runId,
      "--streaming",
      "--checkpoint", ckpt
    ), env = Map.empty)
    val report = runOnce("cli_stream1")
    // EVENT semantics over every committed change: insert id=7 only — the
    // same rows the batch path exported from the same catalog
    assert(spark.read.json(out).select("id").as[Long].collect().sorted === Array(7L))
    assert(Files.exists(Paths.get(out, "logs", "run_cli_stream1", "logs.txt")))
    // positions live in the checkpoint; the results record what it exported
    def exported(r: Unload.UnloadReport) =
      r.tableResults.map(t => (t.table, t.finalStartVersion, t.finalEndVersion))
    assert(exported(report) === Seq((table, 2L, 2L))) // the only commit so far
    val audit = Files.readString(Paths.get(out, "logs", "run_cli_stream1", "table_results.json"))
    assert(audit === Recovery.tableResultsJson(report.tableResults))
    // a new commit lands; the SAME checkpoint drains only the delta
    VersionedCatalog(s"$work/catalog").commitChanges(
      Seq((8L, "n8", "insert"), (2L, "n2b", "update_postimage"))
        .toDF("id", "name", "_change_type")
        .withColumn("_commit_timestamp", org.apache.spark.sql.functions.lit("2024-01-03")),
      table, 3L)
    assert(exported(runOnce("cli_stream2")) === Seq((table, 3L, 3L)))
    assert(spark.read.json(out).select("id").as[Long].collect().sorted === Array(7L, 8L))
    // nothing new: no range
    assert(runOnce("cli_stream3").tableResults.isEmpty)
  }

  test("--streaming without --checkpoint fails fast; batch-only flags rejected") {
    def parse(extra: String*) = UnloadCli.parseArgs(Array(
      "--table_versions_map", s"$table=1-2", "--data_type", "EVENT",
      "--sql", "SELECT 1", "--s3_path", "/tmp/o", "--catalog_root", "/tmp/c",
      "--streaming") ++ extra, env = Map.empty)
    assert(intercept[IllegalArgumentException](parse())
      .getMessage.contains("--checkpoint"))
    // silently dropping batch-only behavior would break consumers relying
    // on it — the combinations must fail loudly instead
    assert(intercept[IllegalArgumentException](
      parse("--checkpoint", "/tmp/ck", "--partitioning-strategy", "repartition"))
      .getMessage.contains("partitioning"))
    assert(intercept[IllegalArgumentException](
      parse("--checkpoint", "/tmp/ck", "--write_meta"))
      .getMessage.contains("--write_meta"))
  }

  test("K6: S3Conf sets the reference's five conf keys on both conf layers") {
    val creds = S3Conf.S3Credentials("AKID", "SECRET", "TOKEN", "s3.eu-west-1.amazonaws.com")
    S3Conf.configure(spark, creds)
    assert(spark.conf.get(S3Conf.ProviderKey) === S3Conf.TemporaryProvider)
    assert(spark.conf.get(S3Conf.AccessKeyKey) === "AKID")
    assert(spark.conf.get(S3Conf.SecretKeyKey) === "SECRET")
    assert(spark.conf.get(S3Conf.SessionTokenKey) === "TOKEN")
    assert(spark.conf.get(S3Conf.EndpointKey) === "s3.eu-west-1.amazonaws.com")
    assert(spark.sparkContext.hadoopConfiguration.get(S3Conf.EndpointKey)
      === "s3.eu-west-1.amazonaws.com")
  }
}
