package graft.engine

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.engine.JobSpec._

/** End-to-end pipeline + recovery protocol (O2-O4) against the versioned
  * Parquet catalog emulation.
  */
class UnloadSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var work: JPath = _
  private def catalogRoot = s"$work/catalog"
  private val table = "main.test.items"

  override def beforeAll(): Unit = { work = Files.createTempDirectory("graft-unload") }
  override def afterAll(): Unit = rmTree(work)

  private def freshCatalog(dir: String): VersionedCatalog = {
    val cat = VersionedCatalog(s"$work/$dir")
    val base = (1 to 10).map(i => (i.toLong, s"name_$i")).toDF("id", "name")
    cat.commitSnapshot(base, table, 1L)
    def changes(v: Long, ids: Range, ct: String) =
      ids.map(i => (i.toLong, s"name_${i}_v$v", ct)).toDF("id", "name", "_change_type")
        .withColumn("_commit_timestamp", lit(s"2024-01-0$v"))
    cat.commitChanges(changes(2, 11 to 12, "insert"), table, 2L)
    cat.commitChanges(changes(3, 1 to 2, "update_postimage")
      .union(changes(3, 13 to 13, "insert")), table, 3L)
    cat
  }

  test("snapshot read (S1) returns the pinned version") {
    val cat = freshCatalog("c1")
    assert(cat.snapshot(spark, table, 1L).count() === 10)
  }

  test("timestamp time travel resolves versions and snapshots (TIMESTAMP AS OF analogue)") {
    val cat = freshCatalog("cts")
    def ts(d: String) = java.sql.Timestamp.valueOf(s"2024-01-0$d 12:00:00")
    // commits 2 and 3 are stamped 2024-01-02 / 2024-01-03 00:00
    assert(cat.versionAsOf(spark, table, ts("2")) === 2L)
    assert(cat.versionAsOf(spark, table, ts("3")) === 3L)
    assert(cat.versionAsOf(spark, table, ts("9")) === 3L) // after everything
    // only v1 is materialized as a snapshot → checkpoint-granularity read
    assert(cat.snapshotAsOf(spark, table, ts("3")).count() === 10)
    // ts before any commit → classified missing-read signature
    val e = intercept[VersionedCatalog.MissingCdfFilesException] {
      cat.versionAsOf(spark, table, java.sql.Timestamp.valueOf("2023-01-01 00:00:00"))
    }
    assert(e.getMessage.contains(VersionedCatalog.MissingCdfFileSignature))
  }

  test("commit manifest backs versionAsOf; scan fallback agrees when it is absent") {
    val cat = freshCatalog("cman")
    val manifest = Paths.get(s"$work/cman/${table.replace('.', '/')}/_commits.json")
    assert(Files.exists(manifest), "commitChanges must write the manifest")
    val lines = Files.readAllLines(manifest)
    assert(lines.size === 2 && lines.get(0).contains("\"version\":2"))
    def ts(d: String) = java.sql.Timestamp.valueOf(s"2024-01-0$d 12:00:00")
    val viaManifest = cat.versionAsOf(spark, table, ts("2"))
    // pre-manifest catalogs resolve identically via the cdf-tree scan
    Files.delete(manifest)
    assert(cat.versionAsOf(spark, table, ts("2")) === viaManifest)
    assert(cat.versionAsOf(spark, table, ts("9")) === 3L)
    // first manifest write on a pre-manifest catalog BACKFILLS the older
    // commits from the tree — a partial manifest must never shadow history
    cat.commitChanges(
      Seq((99L, "x", "insert")).toDF("id", "name", "_change_type")
        .withColumn("_commit_timestamp", lit("2024-01-03")), table, 3L)
    val after = Files.readAllLines(Paths.get(manifest.toString))
    assert(after.size === 2, s"expected backfilled v2 + recommitted v3, got $after")
    assert(cat.versionAsOf(spark, table, ts("2")) === 2L)
    assert(cat.versionAsOf(spark, table, ts("9")) === 3L)
    // mutating the manifest behind Hadoop's LocalFileSystem invalidates its
    // .crc sidecar — drop it alongside, as real corruption would
    def corrupt(body: String): Unit = {
      Files.deleteIfExists(manifest.resolveSibling("._commits.json.crc"))
      Files.writeString(manifest, body)
    }
    // a torn write (exists-but-empty manifest) must degrade to the scan,
    // never shadow the commit tree
    corrupt("")
    assert(cat.versionAsOf(spark, table, ts("2")) === 2L)
    // legacy all-null-timestamp sentinel entries are ignored on read: the
    // scan path excludes such commits, and MinValue would match any ts
    corrupt(s"""{"version":9,"committed_at_us":${Long.MinValue}}""")
    assert(cat.versionAsOf(spark, table, ts("2")) === 2L)
  }

  test("CDF range read (S2) prunes to the requested window") {
    val cat = freshCatalog("c2")
    val win = cat.changes(spark, table, 2L, 2L)
    assert(win.select("id").as[Long].collect().sorted === Array(11L, 12L))
    assert(win.columns.contains("_commit_version"))
    // pruning reaches the file listing: only one commit dir is scanned
    val scanned = win.queryExecution.executedPlan.collectLeaves().head.toString
    assert(cat.changes(spark, table, 2L, 3L).count() === 5)
    assert(scanned.nonEmpty)
  }

  test("missing CDF window raises a classified error") {
    val cat = freshCatalog("c3")
    val e = intercept[VersionedCatalog.MissingCdfFilesException](
      cat.changes(spark, table, 2L, 9L))
    assert(Recovery.missingCdfSignature(e).contains(Recovery.MissingCdfFileSignature))
  }

  test("error classifier ignores unrelated errors and walks causes") {
    assert(Recovery.missingCdfSignature(new RuntimeException("boom")) === None)
    val nested = new RuntimeException("outer",
      new IllegalStateException(s"... ${Recovery.SparkFileNotExistSignature} ..."))
    assert(Recovery.missingCdfSignature(nested).contains(Recovery.SparkFileNotExistSignature))
  }

  test("unload happy path: CDF window, EVENT filter, rewrite, write, audit") {
    val cat = freshCatalog("c4")
    val out = s"$work/out_happy"
    val report = Unload.run(spark, cat, JobConfig(
      tables = Seq(TableVersionRange(table, 2L, 3L)),
      dataType = Event,
      sql = s"SELECT id, name FROM $table WHERE id > 0",
      outputPath = out,
      format = ParquetFormat,
      strategy = Repartition,
      maxRecordsPerFile = 2L,
      runId = "testrun1"
    ))
    assert(!report.retriedLatestOnly)
    val result = spark.read.parquet(out)
    // EVENT keeps only inserts: ids 11,12 (v2) and 13 (v3); post-images filtered
    assert(result.select("id").as[Long].collect().sorted === Array(11L, 12L, 13L))
    // ceil(3/2)=2 output partitions → 2 part files
    assert(result.inputFiles.length === 2)
    // audit sidecars
    val auditDir = Paths.get(out, "logs", "run_testrun1")
    val tr = Files.readString(auditDir.resolve("table_results.json"))
    assert(tr.contains("\"initialFetchError\": null") && tr.contains(table))
    val logs = Files.readString(auditDir.resolve("logs.txt"))
    assert(logs.contains("Starting unload job"))
    // plan capture: the executed physical plan is part of the audit trail
    assert(logs.contains("Physical plan (pre-execution):"), logs)
    assert(logs.contains("Exchange") || logs.contains("Scan"), logs)
  }

  test("K3 count-free meta: row count rides the write pass via observe") {
    val cat = freshCatalog("c4o")
    val out = s"$work/out_meta_obs"
    Unload.run(spark, cat, JobConfig(
      tables = Seq(TableVersionRange(table, 2L, 3L)),
      dataType = Event,
      sql = s"SELECT id, name FROM $table WHERE id > 0",
      outputPath = out,
      format = ParquetFormat,
      strategy = Repartition,
      maxRecordsPerFile = 2L,
      targetPartitions = Some(2), // count-free sizing: no count() was paid
      writeMeta = true,
      runId = "metaobs"
    ))
    // the sidecar count must be exact...
    val meta = Files.readString(
      new java.io.File(s"$out/meta").listFiles()
        .find(f => f.getName.endsWith(".json") && !f.getName.startsWith("_")).get.toPath)
    assert(meta.contains("\"event_count\":3"), meta)
    // ...and must have come from the write-pass observation, not a second
    // full scan (the log line is the contract; the fallback logs loudly)
    val logs = Files.readString(
      Paths.get(out, "logs", "run_metaobs").resolve("logs.txt"))
    assert(logs.contains("Meta row count from write-pass observation"), logs)
    assert(!logs.contains("Meta row count fallback"), logs)
  }

  test("property data type keeps post-images through the pipeline") {
    val cat = freshCatalog("c5")
    val out = s"$work/out_prop"
    Unload.run(spark, cat, JobConfig(
      tables = Seq(TableVersionRange(table, 3L, 3L)),
      dataType = UserProperty,
      sql = s"SELECT id FROM $table",
      outputPath = out,
      format = JsonFormat
    ))
    val ids = spark.read.json(out).select("id").as[Long].collect().sorted
    assert(ids === Array(1L, 2L, 13L)) // post-images 1,2 + insert 13
  }

  test("O3 per-table fallback: missing window flips only that table to [end,end]") {
    val cat = freshCatalog("c6")
    val out = s"$work/out_fallback"
    // window [2,5] has no commits 4..5 → view-build error → fallback to [5,5]...
    // which is also missing, so extend history first: commit 5 exists, 4 missing.
    cat.commitChanges(Seq((20L, "extra", "insert")).toDF("id", "name", "_change_type")
      .withColumn("_commit_timestamp", lit("2024-01-05")), table, 5L)
    val report = Unload.run(spark, cat, JobConfig(
      tables = Seq(TableVersionRange(table, 2L, 5L)),
      dataType = Event,
      sql = s"SELECT id FROM $table",
      outputPath = out,
      runId = "testrun3"
    ))
    assert(!report.retriedLatestOnly) // recovered per-table, not globally
    val tr = report.tableResults.head
    assert(tr.initialFetchError.isDefined)
    assert(tr.finalStartVersion === 5L && tr.finalEndVersion === 5L)
    assert(spark.read.parquet(out).select("id").as[Long].collect() === Array(20L))
  }

  test("O4 global latest-only retry when the error surfaces at write time") {
    val cat = freshCatalog("c7")
    val out = s"$work/out_retry"
    // Lazy-eval emulation: the failure must surface only when data files are
    // actually READ (i.e., during the write action), not at view-build time —
    // exactly the deferred shape the reference's outer catch handles
    // (`unload_databricks_data_to_s3.py:266-281`). A canary expression throws
    // the CDF signature for id=11, which exists only in commit 2: the first
    // attempt over [2,3] fails mid-write; the latest-only retry over [3,3]
    // never sees id=11 and succeeds.
    spark.udf.register("cdf_canary", (id: Long) => {
      if (id == 11L)
        throw new RuntimeException(s"${Recovery.MissingCdfFileSignature}: simulated deferred file loss")
      id
    })
    val report = Unload.run(spark, cat, JobConfig(
      tables = Seq(TableVersionRange(table, 2L, 3L)),
      dataType = Event,
      sql = s"SELECT cdf_canary(id) AS id FROM $table",
      outputPath = out,
      runId = "testrun4"
    ))
    assert(report.retriedLatestOnly)
    // latest-only = CDF window [3,3], EVENT filter keeps insert id=13
    assert(spark.read.parquet(out).select("id").as[Long].collect() === Array(13L))
    assert(report.tableResults.head.finalStartVersion === 3L)
  }

  test("O4 classifies the error Spark raises for a CDF file lost after planning") {
    val cat = freshCatalog("c9")
    val config = JobConfig(
      tables = Seq(TableVersionRange(table, 2L, 3L)),
      dataType = Event,
      sql = s"SELECT id FROM $table",
      outputPath = s"$work/out_lost")
    val sql = Unload.buildViewsForTables(spark, cat, config,
      scala.collection.mutable.LinkedHashMap.empty, forceLatestOnly = false, _ => ())
    // the views are planned over the listed files; one vanishes before the read
    val commit2 = Paths.get(s"${cat.cdfRoot(table)}/_commit_version=2")
    val lost = Files.list(commit2).filter(_.getFileName.toString.startsWith("part-"))
      .findFirst().get
    Files.delete(lost)
    val e = intercept[Exception](spark.sql(sql).collect())
    assert(Recovery.missingCdfSignature(e) === Some(Recovery.OssFileNotExistSignature),
      s"unclassified real file loss: $e")
  }

  test("maxRecordsPerFile caps the export's files and never leaks into the session") {
    val key = "spark.sql.files.maxRecordsPerFile"
    val before = spark.conf.getOption(key)
    def partFiles(dir: String): Seq[String] =
      new java.io.File(dir).listFiles().map(_.getPath)
        .filter(p => new java.io.File(p).getName.startsWith("part-")).toSeq
    def rowsPerFile(dir: String): Seq[Long] =
      partFiles(dir).map(f => spark.read.parquet(f).count())

    val cat = freshCatalog("c10")
    val batchOut = s"$work/out_cap_batch"
    // one coalesced partition holding every row: only the option splits it
    Unload.run(spark, cat, JobConfig(
      tables = Seq(TableVersionRange(table, 2L, 3L)),
      dataType = Event,
      sql = s"SELECT id FROM $table",
      outputPath = batchOut,
      strategy = Coalesce,
      maxRecordsPerFile = 1L,
      targetPartitions = Some(1)))
    assert(rowsPerFile(batchOut).sum === 3L) // inserts 11, 12, 13
    assert(rowsPerFile(batchOut).forall(_ <= 1L), rowsPerFile(batchOut))

    val streamOut = s"$work/out_cap_stream"
    graft.streaming.CdcStream.unloadAvailableNow(spark, cat, JobConfig(
      tables = Seq(TableVersionRange(table, 1L, 1L)),
      dataType = Event,
      sql = s"SELECT id FROM $table",
      outputPath = streamOut,
      maxRecordsPerFile = 1L), s"$work/ckpt_cap_stream")
    assert(rowsPerFile(streamOut).sum === 3L)
    assert(rowsPerFile(streamOut).forall(_ <= 1L), rowsPerFile(streamOut))

    assert(spark.conf.getOption(key) === before)
    val unrelated = s"$work/out_unrelated"
    spark.range(100).coalesce(1).write.parquet(unrelated)
    assert(partFiles(unrelated).size === 1)
  }

  test("non-CDF errors propagate immediately (no retry)") {
    val cat = freshCatalog("c8")
    intercept[Exception] {
      Unload.run(spark, cat, JobConfig(
        tables = Seq(TableVersionRange(table, 2L, 3L)),
        dataType = Event,
        sql = "SELECT definitely_not_a_column FROM nowhere",
        outputPath = s"$work/out_err"
      ))
    }
  }
}
