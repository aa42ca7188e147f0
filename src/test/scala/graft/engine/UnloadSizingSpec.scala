package graft.engine

import java.nio.file.{Files, Path => JPath, Paths}

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.engine.JobSpec._

/** Partition sizing from the commit manifest: an unload whose SQL only
  * projects one CDF window's view plans its partitions from the window's
  * recorded row counts, any other unload from a count job, and both plan
  * `ceil(rows / maxRecordsPerFile)` partitions of what the SQL returns.
  */
class UnloadSizingSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._
  import UnloadSizingSpec.Sizing

  private var work: JPath = _
  private val table = "main.test.sizing"
  // mixed case: the view is found under the name it was registered with
  private val other = "main.test.Sizing_Other"
  private val perFile = 2L

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("graft-sizing")
    spark.udf.register("sizing_twice", (id: Long) => id * 2)
  }
  override def afterAll(): Unit = rmTree(work)

  /** Commits 1..3 of `table` and `other`, each with rows of every change
    * type, null `_change_type` rows included, and a snapshot at version 1.
    */
  private def catalog(dir: String): VersionedCatalog = {
    val cat = VersionedCatalog(s"$work/$dir")
    def commit(t: String, v: Long): Unit = {
      val kinds = Seq("insert", "insert", "update_preimage", "update_postimage", "delete", null)
      val rows = (0 until 3 + 2 * v.toInt).map(i => (v * 100 + i, s"name_$i", kinds(i % kinds.size)))
      cat.commitChanges(rows.toDF("id", "name", "_change_type")
        .withColumn("_commit_timestamp", lit(s"2024-01-0$v")), t, v)
    }
    Seq(table, other).foreach(t => (1L to 3L).foreach(commit(t, _)))
    cat.commitSnapshot((1 to 7).map(i => (i.toLong, s"name_$i")).toDF("id", "name"), table, 1L)
    cat
  }

  private val Planned = """.*Planning (?:repartition|coalesce) to (\d+) partitions.*""".r

  private def run(cat: VersionedCatalog, config: JobConfig): (Unload.UnloadReport, Sizing) = {
    val report = Unload.run(spark, cat, config)
    val lines = Files.readAllLines(Paths.get(report.auditPath, "logs.txt")).toArray.map(_.toString)
    val planned = lines.collect { case Planned(n) => n.toInt }
    val paths = lines.filter(l => l.contains("recorded in the commit manifest (no count job)") ||
      l.contains("DataFrame count:"))
    assert(planned.nonEmpty && paths.nonEmpty, lines.mkString("\n"))
    (report, Sizing(planned.last, paths.last.contains("commit manifest")))
  }

  /** `ceil(spark.sql(sql).count() / perFile)` over the versions the unload
    * finally read, at least 1.
    */
  private def expected(cat: VersionedCatalog, config: JobConfig, report: Unload.UnloadReport): Int = {
    val finals = config.copy(tables = report.tableResults.map(r =>
      TableVersionRange(r.table, r.finalStartVersion, r.finalEndVersion)))
    val views = mutable.Set.empty[String]
    try {
      val sql = Unload.buildViewsForTables(spark, cat, finals, mutable.LinkedHashMap.empty,
        forceLatestOnly = false, _ => (), views)
      val rows = spark.sql(sql).count()
      math.max(1L, (rows + perFile - 1) / perFile).toInt
    } finally views.foreach(spark.catalog.dropTempView)
  }

  private var outputs = 0
  private def config(sql: String, dataType: DataType = Event, mutability: Boolean = false,
      strategy: PartitionStrategy = Repartition, start: Long = 2L, end: Long = 3L,
      tables: Seq[String] = Seq(table)): JobConfig = {
    outputs += 1
    JobConfig(
      tables = tables.map(TableVersionRange(_, start, end)),
      dataType = dataType,
      sql = sql,
      outputPath = s"$work/out$outputs",
      strategy = strategy,
      maxRecordsPerFile = perFile,
      mutabilityMode = mutability,
      runId = s"sizing$outputs")
  }

  private def assertSized(cat: VersionedCatalog, c: JobConfig, fromManifest: Boolean): Unit = {
    val (report, sizing) = run(cat, c)
    assert(sizing === Sizing(expected(cat, c, report), fromManifest), c)
  }

  private val Projections = Seq(
    s"SELECT * FROM $table",
    s"""SELECT named_struct('id', id, 'name', name) AS s, 7 AS k, 'x' AS tag,
       |       current_timestamp() AS at
       |FROM $table AS t""".stripMargin,
    s"SELECT sizing_twice(id) AS id2, name FROM $table")

  test("a projection of one recorded window is sized from the manifest, in every mode") {
    val cat = catalog("projections")
    val modes = Seq((Event, false), (UserProperty, false), (Event, true))
    for (sql <- Projections; (dataType, mutability) <- modes;
         strategy <- Seq(Repartition, Coalesce))
      assertSized(cat, config(sql, dataType, mutability, strategy), fromManifest = true)
  }

  test("any other plan shape, and a snapshot, still runs the count job") {
    val cat = catalog("counted")
    Seq(
      s"SELECT id FROM $table WHERE id % 2 = 0",
      s"SELECT name, count(*) AS n FROM $table GROUP BY name",
      s"SELECT DISTINCT name FROM $table",
      s"SELECT id FROM $table LIMIT 3",
      s"SELECT id, x FROM $table LATERAL VIEW explode(array(1, 2)) e AS x",
      s"SELECT id FROM $table UNION ALL SELECT id FROM $table"
    ).foreach(sql => assertSized(cat, config(sql), fromManifest = false))
    assertSized(cat, config(s"SELECT a.id, b.name FROM $table a JOIN $other b ON a.id = b.id",
      tables = Seq(table, other)), fromManifest = false)
    assertSized(cat, config(s"SELECT * FROM $table", start = 0L, end = 1L), fromManifest = false)
  }

  test("a window whose entries carry no counts runs the count job") {
    val cat = catalog("uncounted")
    val manifest = Paths.get(s"${cat.tablePath(table)}/_commits.json")
    def rewrite(body: String): Unit = {
      Files.deleteIfExists(manifest.resolveSibling("._commits.json.crc"))
      Files.writeString(manifest, body)
    }
    // a manifest in the format before counts were recorded
    rewrite((1 to 3).map(v => s"""{"version":$v,"committed_at_us":${v * 1000000L}}""")
      .mkString("\n"))
    assertSized(cat, config(s"SELECT * FROM $table"), fromManifest = false)
    // a catalog from before the manifest
    Files.delete(manifest)
    assertSized(cat, config(s"SELECT * FROM $table"), fromManifest = false)
  }

  test("both paths hold under the O3 fallback and the O4 latest-only retry") {
    val cat = catalog("recovery")
    // O3: commit 2 is gone, so the window [1, 3] falls back to [3, 3]
    Files.move(Paths.get(cat.commitPath(table, 2L)), Paths.get(s"$work/recovery_commit2"))
    for ((sql, manifest) <- Seq(s"SELECT * FROM $table" -> true,
        s"SELECT id FROM $table WHERE id > 0" -> false)) {
      val c = config(sql, start = 1L)
      val (report, sizing) = run(cat, c)
      assert(report.tableResults.head.finalStartVersion === 3L)
      assert(sizing === Sizing(expected(cat, c, report), manifest), sql)
    }
    // O4: a row of commit 1 fails the first attempt at execution time; the
    // latest-only retry reads [3, 3]
    spark.udf.register("sizing_canary", (id: Long) => {
      if (id / 100 == 1)
        throw new RuntimeException(s"${Recovery.MissingCdfFileSignature}: simulated file loss")
      id
    })
    for ((sql, manifest) <- Seq(s"SELECT sizing_canary(id) AS id FROM $other" -> true,
        s"SELECT sizing_canary(id) AS id FROM $other WHERE name > ''" -> false)) {
      val c = config(sql, start = 1L, tables = Seq(other))
      val (report, sizing) = run(cat, c)
      assert(report.retriedLatestOnly, sql)
      assert(sizing === Sizing(expected(cat, c, report), manifest), sql)
    }
  }

  test("a manifest count sizes only: the meta sidecar holds the rows the write saw") {
    val cat = catalog("lost")
    // a part file of a window commit is lost after its commit: the manifest
    // now counts more rows than the window holds
    val lost = Files.list(Paths.get(cat.commitPath(table, 3L)))
      .filter(_.getFileName.toString.startsWith("part-")).findFirst().get
    Files.delete(lost)
    // Coalesce writes with the maxRecordsPerFile option, the strategy's file cap
    val c = config(s"SELECT * FROM $table", mutability = true, strategy = Coalesce)
      .copy(writeMeta = true)
    val (report, sizing) = run(cat, c)
    assert(sizing.fromManifest)
    assert(sizing.partitions > expected(cat, c, report), "the manifest over-counts")
    val files = Files.list(Paths.get(c.outputPath)).toArray.map(_.toString)
      .filter(p => Paths.get(p).getFileName.toString.startsWith("part-")).toSeq
    val perFileRows = files.map(f => spark.read.parquet(f).count())
    assert(perFileRows.forall(_ <= perFile), perFileRows)
    val meta = spark.read.json(s"${c.outputPath}/meta").head()
    assert(meta.getAs[Long]("event_count") === perFileRows.sum)
    assert(meta.getAs[Long]("event_count") === spark.read.parquet(files: _*).count())
  }
}

object UnloadSizingSpec {
  /** How an unload sized its last attempt: the partitions it planned, and
    * whether it took the count from the manifest.
    */
  private final case class Sizing(partitions: Int, fromManifest: Boolean)
}
