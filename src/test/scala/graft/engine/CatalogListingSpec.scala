package graft.engine

import java.net.URI
import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable

import org.apache.hadoop.fs.{FSDataInputStream, FileStatus, FilterFileSystem, LocatedFileStatus, Path,
  RawLocalFileSystem, RemoteIterator}
import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.streaming.CdcStream

/** The counting file system: the local file system under the test-only
  * `countfs:` scheme, recording every directory listed through it and the
  * statuses each listing returned, and every file opened through it.
  */
class CountingFileSystem extends FilterFileSystem(new RawLocalFileSystem {
  override def getUri: URI = CountingFileSystem.Uri
}) {
  import CountingFileSystem.{record, recordOpen}

  override def open(p: Path, bufferSize: Int): FSDataInputStream = {
    recordOpen(p)
    super.open(p, bufferSize)
  }
  override def listStatus(p: Path): Array[FileStatus] = record(p, super.listStatus(p))
  override def listLocatedStatus(p: Path): RemoteIterator[LocatedFileStatus] = {
    val statuses = record(p, super.listStatus(p))
      .map(s => new LocatedFileStatus(s, getFileBlockLocations(s, 0, s.getLen)))
    new RemoteIterator[LocatedFileStatus] {
      private val it = statuses.iterator
      def hasNext: Boolean = it.hasNext
      def next(): LocatedFileStatus = it.next()
    }
  }
  override def listStatusIterator(p: Path): RemoteIterator[FileStatus] = {
    val it = listStatus(p).iterator
    new RemoteIterator[FileStatus] {
      def hasNext: Boolean = it.hasNext
      def next(): FileStatus = it.next()
    }
  }
}

object CountingFileSystem {
  val Scheme = "countfs"
  val Uri: URI = URI.create(s"$Scheme:///")

  /** (listed directory, statuses returned), in call order. */
  private val listings = mutable.ArrayBuffer.empty[(String, Int)]

  private def record[T](p: Path, statuses: Array[T]): Array[T] = {
    listings.synchronized(listings += (p.toUri.getPath -> statuses.length))
    statuses
  }

  /** Opened files, in call order. */
  private val opens = mutable.ArrayBuffer.empty[String]

  private def recordOpen(p: Path): Unit = opens.synchronized(opens += p.toUri.getPath)

  /** The listings `body` makes, and its result. */
  def counted[T](body: => T): (Seq[(String, Int)], T) = {
    val before = listings.synchronized(listings.size)
    val result = body
    (listings.synchronized(listings.drop(before).toList), result)
  }

  /** The files `body` opens, and its result. */
  def opened[T](body: => T): (Seq[String], T) = {
    val before = opens.synchronized(opens.size)
    val result = body
    (opens.synchronized(opens.drop(before).toList), result)
  }
}

/** Catalog metadata cost counted, not timed: the listings a CDF window read,
  * the stream's schema probe and a stream drain make over 10-, 100- and
  * 1000-commit histories, and the commit-manifest reads of a drain and an
  * unload, through a counting file system.
  */
class CatalogListingSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var work: JPath = _
  private val table = "main.test.history"
  private val implKey = s"fs.${CountingFileSystem.Scheme}.impl"

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("graft-listing")
    // on the context's Hadoop configuration, which every session-built
    // Hadoop conf copies; spark.conf stays as it was
    spark.sparkContext.hadoopConfiguration.set(implKey, classOf[CountingFileSystem].getName)
  }
  override def afterAll(): Unit = {
    spark.sparkContext.hadoopConfiguration.unset(implKey)
    rmTree(work)
  }

  /** A catalog over `countfs:` whose table has commits 1..n, each commit
    * directory holding a copy of one small part file (the version comes
    * from the path).
    */
  private def history(n: Int, table: String = table): VersionedCatalog = {
    val local = VersionedCatalog(s"$work/h$n")
    val seed = s"$work/seed$n/${table.replace('.', '_')}"
    Seq((1L, "insert"), (2L, "delete")).toDF("id", "_change_type")
      .withColumn("_commit_timestamp", lit("2024-01-01"))
      .coalesce(1).write.parquet(seed)
    val part = Files.list(java.nio.file.Paths.get(seed))
      .filter(_.getFileName.toString.startsWith("part-")).findFirst().get
    (1 to n).foreach { v =>
      val dir = Files.createDirectories(java.nio.file.Paths.get(local.commitPath(table, v)))
      Files.copy(part, dir.resolve(part.getFileName))
    }
    VersionedCatalog(s"${CountingFileSystem.Scheme}://${local.root}")
  }

  private lazy val catalogs = Seq(10, 100, 1000).map(n => n -> history(n))

  test("a 2-commit window lists the same directories and files at every history length") {
    val perLength = catalogs.map { case (n, cat) =>
      val (listed, files) = CountingFileSystem.counted {
        cat.changes(spark, table, n - 1L, n.toLong).inputFiles
      }
      assert(files.length === 2, s"$n commits: ${files.toSeq}")
      // the same calls, named relative to the window's first version
      n -> listed.map { case (dir, statuses) =>
        dir.stripPrefix(cat.cdfRoot(table).stripPrefix(s"${CountingFileSystem.Scheme}://"))
          .replace(s"_commit_version=${n - 1}", "first")
          .replace(s"_commit_version=$n", "second") -> statuses
      }
    }
    val (_, shortest) = perLength.head
    assert(shortest === Seq("/first" -> 1, "/second" -> 1), s"listings: $shortest")
    perLength.foreach { case (n, listed) =>
      assert(listed === shortest, s"$n commits listed $listed")
    }
  }

  test("the window frame's schema is the whole tree's schema") {
    catalogs.foreach { case (n, cat) =>
      val window = cat.changes(spark, table, 2L, 3L)
      assert(window.schema === spark.read.parquet(cat.cdfRoot(table)).schema, s"$n commits")
      assert(window.select("_commit_version").distinct().as[Int].collect().sorted === Array(2, 3))
    }
  }

  test("the stream's schema probe lists the root and the newest commit, nothing else") {
    catalogs.foreach { case (n, cat) =>
      val root = cat.cdfRoot(table).stripPrefix(s"${CountingFileSystem.Scheme}://")
      val (listed, schema) = CountingFileSystem.counted(cat.changeSchema(spark, table))
      assert(listed.map(_._1) === Seq(root, s"$root/_commit_version=$n"), s"$n commits")
      assert(schema === spark.read.parquet(cat.cdfRoot(table)).schema)
    }
    val (_, cat) = catalogs.head
    assert(CdcStream.readChanges(spark, cat, table, JobSpec.Event).isStreaming)
  }

  test("a commit lists only its own write's temporary files, never reads itself back") {
    val (_, cat) = catalogs.head
    val commits = "main.test.commits"
    def frame(v: Long) = Seq((v, "insert")).toDF("id", "_change_type")
      .withColumn("_commit_timestamp", lit(s"2024-01-0$v"))
    // the first commit backfills the manifest from the tree; the second
    // has a manifest to update
    cat.commitChanges(frame(1L), commits, 1L)
    val (listed, _) = CountingFileSystem.counted(cat.commitChanges(frame(2L), commits, 2L))
    val staging = s"${cat.commitPath(commits, 2L).stripPrefix(s"${CountingFileSystem.Scheme}://")}/_temporary"
    assert(listed.nonEmpty && listed.forall(_._1.startsWith(staging)), s"listed: $listed")
    assert(cat.versionAsOf(spark, commits, java.sql.Timestamp.valueOf("2024-01-02 00:00:00")) === 2L)
  }

  test("a missing window version and a commit-less table classify as missing CDF") {
    val (n, cat) = catalogs.head
    def classified(read: => Any): Unit = {
      val e = intercept[VersionedCatalog.MissingCdfFilesException](read)
      assert(Recovery.missingCdfSignature(e).contains(Recovery.MissingCdfFileSignature), e)
    }
    classified(cat.changes(spark, table, n.toLong, n + 1L))
    classified(cat.changes(spark, "main.test.none", 1L, 2L))
    classified(cat.changeSchema(spark, "main.test.none"))
    classified(CdcStream.readChanges(spark, cat, "main.test.none", JobSpec.Event))
    // a cdf root without a single commit directory is commit-less too
    Files.createDirectories(java.nio.file.Paths.get(
      VersionedCatalog(s"$work/h$n").cdfRoot("main.test.empty")))
    classified(cat.changeSchema(spark, "main.test.empty"))
  }

  /** A drain's listings and its number of reads of `_commits.json`. */
  private final case class Drained(listed: Seq[(String, Int)], manifestReads: Int)

  private def manifestReads(opened: Seq[String]): Int = opened.count(_.endsWith("/_commits.json"))

  /** Per history length n, three drains of a stream: the first exports
    * commits 1..n+1 in one whole-history batch, the next commits n+2, n+3
    * (after the whole-history batch), the last n+4, n+5 (after a 2-commit
    * batch). The listings of the last two name commit dirs new2..new5.
    */
  private lazy val drainListings: Seq[(Int, Drained, Drained, Drained)] = {
    val streamed = "main.test.streamed"
    def frame(v: Long) = Seq((v, "insert")).toDF("id", "_change_type")
      .withColumn("_commit_timestamp", lit("2024-01-02"))
    def commit(cat: VersionedCatalog, vs: Long*): Unit =
      vs.foreach(v => cat.commitChanges(frame(v), streamed, v))
    Seq(10, 100, 1000).map { n =>
      val cat = history(n, streamed)
      val config = JobSpec.JobConfig(
        tables = Seq(JobSpec.TableVersionRange(streamed, 1L, 1L)),
        dataType = JobSpec.Event,
        sql = s"SELECT id FROM $streamed",
        outputPath = s"$work/drain$n/out")
      val root = cat.cdfRoot(streamed).stripPrefix(s"${CountingFileSystem.Scheme}://")
      def drain(first: Long, last: Long): Drained = {
        val jobs = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
        val (opened, (listed, exported)) = CountingFileSystem.opened(CountingFileSystem.counted(
          CdcStream.unloadAvailableNow(spark, cat, config, s"$work/drain$n/ckpt")))
        assert(exported === Seq(JobSpec.TableVersionRange(streamed, first, last)))
        // the whole history may pass Spark's parallel-listing threshold
        if (first > 1L)
          assert(HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount === jobs,
            s"$n commits: a parallel listing job ran")
        // the same calls, named relative to the history length
        Drained(listed.map { case (dir, statuses) =>
          (n + 2 to n + 5).foldLeft(dir.stripPrefix(root)) { (d, v) =>
            d.replace(s"_commit_version=$v", s"new${v - n}")
          } -> statuses
        }, manifestReads(opened))
      }
      // the first commit backfills the manifest from the tree
      commit(cat, n + 1L)
      val wholeHistory = drain(1L, n + 1L)
      commit(cat, n + 2L, n + 3L)
      val afterHistory = drain(n + 2L, n + 3L)
      commit(cat, n + 4L, n + 5L)
      (n, wholeHistory, afterHistory, drain(n + 4L, n + 5L))
    }
  }

  test("a 2-commit drain lists the same directories at every history length, no root") {
    // the schema comes from the manifest and the batch Spark re-announces
    // to the restarted source (new2, new3) is never planned: only the
    // window's two commits are listed. Each commit dir holds a part file
    // and _SUCCESS.
    drainListings.foreach { case (n, _, _, last) =>
      assert(last.listed === Seq("/new4", "/new5").map(_ -> 2), s"$n commits listed ${last.listed}")
    }
  }

  test("the drain after a whole-history batch lists only its own window") {
    drainListings.foreach { case (n, _, after, _) =>
      assert(after.listed === Seq("/new2", "/new3").map(_ -> 2), s"$n commits listed ${after.listed}")
    }
  }

  test("a drain reads the commit manifest at most twice: the schema and the AvailableNow bound") {
    // the first drain also reads the oldest version for its exported range
    drainListings.foreach { case (n, whole, after, last) =>
      val reads = Seq(whole, after, last).map(_.manifestReads)
      assert(reads.zip(Seq(3, 2, 2)).forall { case (r, most) => r <= most },
        s"$n commits: manifest reads per drain $reads")
    }
  }

  test("an unload reads each table's commit manifest once") {
    val tables = Seq("main.test.unload_a", "main.test.unload_b")
    val cat = tables.map(history(10, _)).head
    tables.foreach { t =>
      cat.commitChanges(Seq((11L, "insert")).toDF("id", "_change_type")
        .withColumn("_commit_timestamp", lit("2024-01-02")), t, 11L)
    }
    // a projection sized from the manifest, and a join sized by a count job
    Seq(s"SELECT id FROM ${tables.head}" -> tables.take(1),
        s"SELECT a.id FROM ${tables.head} a JOIN ${tables(1)} b ON a.id = b.id" -> tables
    ).foreach { case (sql, read) =>
      val (opened, _) = CountingFileSystem.opened(Unload.run(spark, cat, JobSpec.JobConfig(
        tables = read.map(JobSpec.TableVersionRange(_, 10L, 11L)),
        dataType = JobSpec.Event,
        sql = sql,
        outputPath = s"$work/unload_reads${read.size}",
        strategy = JobSpec.Repartition)))
      val manifests = opened.filter(_.endsWith("/_commits.json"))
      assert(manifests.sorted === read.map(t => s"${
        cat.tablePath(t).stripPrefix(s"${CountingFileSystem.Scheme}://")}/_commits.json").sorted,
        sql)
    }
  }
}
