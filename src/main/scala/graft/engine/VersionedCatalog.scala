package graft.engine

import java.nio.charset.StandardCharsets.UTF_8

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, GraftSchema, Observation, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{FileIndex, FileStatusCache, HadoopFsRelation,
  InMemoryFileIndex, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, IntegerType, LongType, StringType, StructField,
  StructType}

import graft.engine.CdcFilter.ChangeCounts
import graft.engine.JobSpec.TableVersionRange

/** Versioned-table catalog: snapshot time travel + change-data-feed reads
  * over plain Parquet — operators S1/S2 in SURVEY.md §2.1.
  *
  * The reference reads Delta tables via `VERSION AS OF` and
  * `table_changes(tbl, start, end)` (`unload_databricks_data_to_s3.py:183-200`).
  * No Delta jars ship in this environment, so the same contract is
  * re-expressed over a versioned Parquet layout:
  *
  * {{{
  *   <root>/<table>/snap/v=<version>/part-*.parquet        // full snapshots
  *   <root>/<table>/cdf/_commit_version=<v>/part-*.parquet // per-commit change rows
  * }}}
  *
  * Change files carry `_change_type` (insert | update_preimage |
  * update_postimage | delete) and `_commit_timestamp` as data columns;
  * `_commit_version` is the Hive-style partition column. A `[start, end]`
  * window is read from the window's own commit directories (`basePath` set
  * to the `cdf/` root keeps `_commit_version` a partition column), so both
  * listing and reading cost O(window), never O(history): a 2-commit window
  * over a 1000-commit history lists the window's files and nothing else.
  * Delta gets the same from its log; here the directory names are the log.
  * Like Delta's log, the table's [[manifestPath commit manifest]] records
  * each commit's schema and row counts, so a window whose commits share a
  * schema is read without opening a footer, and its size is known without
  * reading its rows.
  * With Delta OSS on the cluster this object collapses to
  * `spark.read.format("delta").option("versionAsOf"|"readChangeFeed", ...)`.
  */
final case class VersionedCatalog(root: String) {

  import VersionedCatalog._

  def tablePath(table: String): String = s"$root/${table.replace('.', '/')}"
  def snapshotPath(table: String, version: Long): String = s"${tablePath(table)}/snap/v=$version"
  def cdfRoot(table: String): String = s"${tablePath(table)}/cdf"
  def commitPath(table: String, version: Long): String =
    s"${cdfRoot(table)}/_commit_version=$version"

  // ---- write side (used by tests / pipeline demos to author versions) ----

  /** Persist a full snapshot of `df` as table version `version`. */
  def commitSnapshot(df: DataFrame, table: String, version: Long): Unit =
    df.write.mode("overwrite").parquet(snapshotPath(table, version))

  /** Persist one commit's change rows. `df` must carry `_change_type` and
    * `_commit_timestamp`; `_commit_version` is materialized by the layout.
    *
    * Also upserts the table's [[manifestPath commit manifest]] with the
    * commit's time, row counts and schema. The time and the counts are
    * observed on the write itself (`Dataset.observe`, a per-partition
    * accumulator merge), so a commit does not read its own directory back,
    * mirroring how Delta appends a log entry per commit. The schema is the
    * frame's, made nullable as Spark's parquet reader makes it: what a
    * footer read of the commit returns.
    */
  def commitChanges(df: DataFrame, table: String, version: Long): Unit = {
    require(df.columns.contains(CdcFilter.ChangeTypeCol), "change frame needs _change_type")
    val dir = commitPath(table, version)
    val observation = new Observation(s"graft_commit_${System.nanoTime()}")
    df.observe(observation, commitMetrics.head, commitMetrics.tail: _*)
      .write.mode("overwrite").parquet(dir)
    val spark = df.sparkSession
    // a lost metric degrades to reading the commit back
    val metrics = Writers.observed(observation)
      .getOrElse(spark.read.parquet(dir).agg(commitMetrics.head, commitMetrics.tail: _*).head())
    // a commit whose timestamps are all null/uncastable (or that has no
    // rows) is recorded with a null time: it is committed, so the stream
    // must see it, but as-of resolution skips it, as the scan path's SQL
    // null comparison does
    upsertManifest(spark, table, version, timeOf(metrics), countsOf(metrics),
      GraftSchema.asNullable(df.schema))
  }

  /** Tiny per-table commit manifest (JSONL, one line per commit, rewritten
    * on each commit — tens of bytes per entry):
    * {{{
    *   {"version":v,"committed_at_us":t,"rows":{<counts>},"schema":"<id>","struct":<StructType JSON>}
    *   {"version":v,"committed_at_us":t,"rows":{<counts>},"schema":"<id>"}
    * }}}
    * `t` is null when the commit has no timestamp. `rows` holds the
    * commit's [[CdcFilter.ChangeCounts]] as
    * `{"all":n,"null":n,"insert":n,"update_postimage":n}`: its rows, and
    * those whose `_change_type` is null, `insert` and `update_postimage`.
    * A window whose every commit records them has a known size after the
    * CDC filter ([[fetchCounted]]), so an unload sizes its output without
    * a count job. `schema` names the commit's data schema (what a footer
    * read of its directory returns) by a short hash of its JSON; the lowest
    * version naming an id carries the schema itself as `struct`, so each
    * distinct schema is stored once.
    * Entries from older manifests carry neither `rows` nor a schema, and
    * entries from the pre-manifest backfill carry `rows` but no schema: a
    * window over them reads a footer, and one over entries without `rows`
    * is sized by a count job.
    *
    * It is the commit point: an entry is written only after its commit's
    * data is in place, so the stream source takes its positions from it.
    * [[versionAsOf]] resolves from this single small file; without it,
    * resolution must LIST the whole `cdf/` tree and read a footer per
    * commit — O(history) driver-side metadata work on a 10k-commit table.
    */
  private def manifestPath(table: String): String = s"${tablePath(table)}/_commits.json"

  private def upsertManifest(
      spark: SparkSession, table: String, version: Long, tsUs: Option[Long],
      counts: ChangeCounts, schema: StructType): Unit = {
    val id = schemaId(schema)
    // first manifest write on a PRE-manifest catalog: backfill the older
    // commits from the cdf tree (one-time migration scan of the
    // metadata columns) — a partial manifest would otherwise shadow the
    // tree and as-of resolution would lose the history
    val existing = readManifest(spark, table)
      .getOrElse(Manifest(backfillFromTree(spark, table, version), Map.empty))
    val schemas = existing.schemas + (id -> schema.json)
    val stored = scala.collection.mutable.Set.empty[String]
    val body = (existing.commits.filterNot(_.version == version) :+
        Commit(version, tsUs, Some(id), Some(counts)))
      .sortBy(_.version)
      .map { case Commit(v, t, id, rows) =>
        val counted = rows.fold("") { c =>
          s""","rows":{"all":${c.rows},"null":${c.untyped},"insert":${c.inserts},""" +
            s""""update_postimage":${c.postimages}}"""
        }
        val named = id.fold("") { i =>
          val struct = schemas.get(i).filter(_ => stored.add(i)).fold("")(j => s""","struct":$j""")
          s""","schema":"$i"$struct"""
        }
        s"""{"version":$v,"committed_at_us":${t.getOrElse("null")}$counted$named}"""
      }
      .mkString("\n")
    val p = new Path(manifestPath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // write-to-temp + rename: a crash mid-write must not leave a truncated
    // manifest in place (readManifest additionally treats an entry-less
    // file as absent, so even a torn rename degrades to backfill/scan,
    // never to a partial manifest shadowing the tree)
    val tmp = new Path(manifestPath(table) + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(body.getBytes(UTF_8))
    finally out.close()
    fs.delete(p, false)
    if (!fs.rename(tmp, p))
      throw new java.io.IOException(s"could not move $tmp into place at $p")
  }

  /** Per-version max commit micros and row counts of every ALREADY-written
    * commit except `excludeVersion` (the one being committed right now —
    * its entry is supplied by the caller), from one aggregate job. Every
    * commit directory gets an entry; one without a timestamp gets a null
    * time, one without rows no counts. No entry names a schema.
    */
  private def backfillFromTree(
      spark: SparkSession, table: String, excludeVersion: Long): Seq[Commit] = {
    val rootPath = cdfRoot(table)
    val others = if (exists(spark, rootPath))
      listCommitVersions(spark, rootPath) - excludeVersion else Set.empty[Long]
    if (others.isEmpty) Seq.empty
    else {
      val found = spark.read.parquet(rootPath)
        .filter(col("_commit_version").cast("long") =!= excludeVersion)
        .groupBy(col("_commit_version").cast("long").as("v"))
        .agg(commitMetrics.head, commitMetrics.tail: _*)
        .collect()
        .map { r =>
          val m = Row.fromSeq(r.toSeq.tail) // the metrics, after the version
          r.getLong(0) -> Commit(r.getLong(0), timeOf(m), None, Some(countsOf(m)))
        }.toMap
      others.toSeq.map(v => found.getOrElse(v, Commit(v, None, None, None)))
    }
  }

  private def readManifest(spark: SparkSession, table: String): Option[Manifest] = {
    val p = new Path(manifestPath(table))
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val body =
        try new String(in.readAllBytes(), UTF_8)
        finally in.close()
      val lines = body.linesIterator.collect {
        case ManifestLine(v, t, all, untyped, inserts, postimages, id, struct) =>
          val rows = Option(all).map(a =>
            ChangeCounts(a.toLong, untyped.toLong, inserts.toLong, postimages.toLong))
          Commit(v.toLong, Option(t).map(_.toLong), Option(id), rows) ->
            Option(struct).map(id -> _)
      }.toSeq
      val commits = lines.map(_._1)
        // drop legacy Long.MinValue sentinels (written by an earlier
        // manifest format for all-null-timestamp commits): as a time a
        // sentinel would match ANY timestamp
        .filterNot(_.committedAtUs.contains(Long.MinValue))
      // an exists-but-entry-less file (torn write, all-sentinel legacy) is
      // NOT a manifest: callers must fall back to backfill/scan rather
      // than let it shadow the commit tree
      if (commits.isEmpty) None else Some(Manifest(commits, lines.flatMap(_._2).toMap))
    }
  }

  /** The data schema every commit of `versions` records, when they all
    * name the same one; `None` sends the caller to a footer.
    */
  private def recordedSchema(
      manifest: Option[Manifest], versions: Seq[Long]): Option[StructType] =
    manifest.flatMap { m =>
      versions.map(m.byVersion.get(_).flatMap(_.schemaId)).distinct match {
        case Seq(Some(id)) => m.schemas.get(id).map(DataType.fromJson(_).asInstanceOf[StructType])
        case _ => None
      }
    }

  /** The summed row counts of `versions`, when every one records them. */
  private def recordedCounts(
      manifest: Option[Manifest], versions: Seq[Long]): Option[ChangeCounts] =
    manifest.flatMap { m =>
      val counts = versions.map(m.byVersion.get(_).flatMap(_.rows))
      if (counts.forall(_.isDefined)) counts.flatten.reduceOption(_ + _) else None
    }

  // ---- read side ----

  /** S1: full table at a pinned version (`VERSION AS OF` analogue). */
  def snapshot(spark: SparkSession, table: String, version: Long): DataFrame = {
    val p = snapshotPath(table, version)
    if (!exists(spark, p))
      throw new MissingCdfFilesException(
        s"$MissingCdfFileSignature: no snapshot for $table at version $version ($p)")
    spark.read.parquet(p)
  }

  /** S2: change rows for versions [start, end] (`table_changes` analogue).
    * The file index covers the window's commit directories only, and the
    * missing-version check stats those same directories: O(window) in
    * catalog metadata whatever the history length.
    *
    * The frame's schema is the one the window's commits record in the
    * manifest, with `_commit_version` typed as Spark's partition inference
    * types it, so no footer is read. Only a window with no common recorded
    * schema (a pre-manifest catalog, backfilled entries, a schema change
    * inside the window) infers it from a footer. The window's directories
    * are listed here, so a file lost after this call fails the read
    * (recovery O4) instead of vanishing from the frame.
    */
  def changes(spark: SparkSession, table: String, start: Long, end: Long): DataFrame =
    window(spark, table, start, end,
      recordedSchema(readManifest(spark, table), start to end), listNow = true)

  /** [[changes]] as a stream batch with the source's `schema` (a
    * [[changeSchema]]), so it reads no footer either. The window is listed
    * when the batch is planned, so a batch Spark builds and drops (a
    * restarted source's re-announced batch) lists nothing.
    */
  private[graft] def streamBatch(
      spark: SparkSession, table: String, start: Long, end: Long, schema: StructType): DataFrame =
    window(spark, table, start, end, Some(schema), listNow = false)

  /** Makes every window's frame. A known schema (the stream's, or
    * the one the whole window records, with or without `_commit_version`)
    * makes a relation over a [[WindowIndex]]; the footer read is kept for
    * windows without one.
    */
  private def window(
      spark: SparkSession, table: String, start: Long, end: Long,
      schema: Option[StructType], listNow: Boolean): DataFrame = {
    require(start <= end, s"empty change window for $table: $start-$end")
    val dirs = (start to end).map(v => v -> commitPath(table, v))
    val missing = dirs.collect { case (v, dir) if !exists(spark, dir) => v }
    if (missing.nonEmpty)
      throw new MissingCdfFilesException(
        s"$MissingCdfFileSignature: $table missing change files for versions ${missing.mkString(",")}")
    val options = Map("basePath" -> cdfRoot(table))
    val known = schema.map { s =>
      val (version, data) = s.partition(_.name == CommitVersionCol)
      (StructType(data), version.headOption)
    }
    val frame = known match {
      case Some((data, version)) =>
        val partition = StructType(Seq(version.getOrElse(versionField(spark, end))))
        val paths = dirs.map { case (_, dir) =>
          val p = new Path(dir)
          p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
        }
        val index = new WindowIndex(spark, paths, options, partition)
        if (listNow) index.inputFiles
        spark.baseRelationToDataFrame(HadoopFsRelation(index, partition,
          GraftSchema.asNullable(data), None, new ParquetFileFormat, options)(spark))
      case None => spark.read.options(options).parquet(dirs.map(_._2): _*)
    }
    frame.where(col(CommitVersionCol).between(start, end))
  }

  /** Every committed version of `table`, ascending: the manifest's
    * versions, or, for a catalog without one, the commit directories one
    * non-recursive listing of the `cdf/` root finds. Empty when the table
    * has no commit.
    */
  def commitVersions(spark: SparkSession, table: String): Seq[Long] =
    versionsOf(spark, table, readManifest(spark, table))

  private def versionsOf(spark: SparkSession, table: String, manifest: Option[Manifest]): Seq[Long] =
    manifest.map(_.commits.map(_.version)).getOrElse {
      val rootPath = cdfRoot(table)
      if (exists(spark, rootPath)) listCommitVersions(spark, rootPath).toSeq else Seq.empty
    }.sorted

  /** Schema of [[changes]]' frame, `_commit_version` included, for a window
    * of the newest commit alone: its version from [[commitVersions]], then
    * the schema that commit records, both from one read of the manifest, so
    * no footer is read (a commit without one falls back to its footer). A
    * stream needs its schema up front; a
    * commit-less table, or a newest commit whose directory is gone, raises
    * the missing-CDF signature the recovery protocol classifies on.
    */
  def changeSchema(spark: SparkSession, table: String): StructType = {
    val manifest = readManifest(spark, table)
    val version = versionsOf(spark, table, manifest).lastOption.getOrElse(
      throw new MissingCdfFilesException(
        s"$MissingCdfFileSignature: no change data for $table (${cdfRoot(table)})"))
    window(spark, table, version, version, recordedSchema(manifest, Seq(version)),
      listNow = false).schema
  }

  /** The reference's `fetch_data` dispatch (`unload_databricks_data_to_s3.py:196-200`):
    * `start == 0` ⇒ snapshot at `end`; else CDF window `[start, end]`.
    */
  def fetchData(spark: SparkSession, range: TableVersionRange): DataFrame =
    fetchCounted(spark, range)._1

  /** [[fetchData]] with the row counts of a CDF window: the sum of what its
    * commits record, taken from the same read of the manifest as the
    * window's schema. A snapshot, and a window with a commit that records
    * no counts, have none.
    */
  def fetchCounted(spark: SparkSession, range: TableVersionRange): (DataFrame, Option[ChangeCounts]) =
    if (range.isSnapshot) (snapshot(spark, range.table, range.end), None)
    else {
      val manifest = readManifest(spark, range.table)
      val versions = range.start to range.end
      (window(spark, range.table, range.start, range.end, recordedSchema(manifest, versions),
        listNow = true), recordedCounts(manifest, versions))
    }

  /** `TIMESTAMP AS OF` analogue (Delta's second time-travel axis; the
    * reference only pins by version): resolve `ts` to the greatest commit
    * version whose commit timestamp is <= `ts` ([[versionAsOf]]), then read
    * the greatest MATERIALIZED snapshot at or before that version —
    * checkpoint-granularity time travel. Callers needing the exact state
    * between checkpoints layer a CDF window `[snapVersion+1, resolved]` on
    * top, which is precisely the unload pipeline's range contract.
    * Throws the catalog's missing-file signature when `ts` predates every
    * commit/snapshot, so the recovery protocol treats it like any other
    * missing read.
    */
  def snapshotAsOf(spark: SparkSession, table: String, ts: java.sql.Timestamp): DataFrame = {
    val resolved = versionAsOf(spark, table, ts)
    val fs = new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val snapRoot = new Path(tablePath(table), "snap")
    val snaps =
      if (fs.exists(snapRoot))
        fs.listStatus(snapRoot).toSeq.map(_.getPath.getName)
          .collect { case VersionDir(v) => v.toLong }
      else Seq.empty
    snaps.filter(_ <= resolved).sorted.lastOption match {
      case Some(v) => snapshot(spark, table, v)
      case None =>
        throw new MissingCdfFilesException(
          s"$MissingCdfFileSignature: $table has no snapshot at or before version $resolved")
    }
  }

  /** Greatest commit version with max(_commit_timestamp) <= ts. Resolves
    * from the per-table commit MANIFEST when present — one small file read,
    * O(1) in the table's data and O(#commits) only in manifest bytes — and
    * falls back to scanning the CDF layer's two metadata columns for
    * catalogs authored before the manifest existed (still never the table
    * data, but it lists the whole `cdf/` tree).
    */
  def versionAsOf(spark: SparkSession, table: String, ts: java.sql.Timestamp): Long = {
    val rootPath = cdfRoot(table)
    if (!exists(spark, rootPath))
      throw new MissingCdfFilesException(
        s"$MissingCdfFileSignature: no commit history for $table ($rootPath)")
    val tsUs = ts.getTime * 1000L + (ts.getNanos / 1000L) % 1000L
    val resolved = readManifest(spark, table) match {
      case Some(manifest) =>
        manifest.commits.collect { case Commit(v, Some(t), _, _) if t <= tsUs => v }.maxOption
      case _ =>
        // the Hive-style partition column discovers as INT for small
        // versions — normalize to long before the max
        val commits = spark.read.parquet(rootPath)
          .groupBy(col("_commit_version").cast("long").as("v"))
          .agg(max(unix_micros(col("_commit_timestamp").cast("timestamp"))).as("committed_us"))
          .filter(col("committed_us") <= tsUs)
          .agg(max(col("v")))
          .head()
        if (commits.isNullAt(0)) None else Some(commits.getLong(0))
    }
    resolved.getOrElse(throw new MissingCdfFilesException(
      s"$MissingCdfFileSignature: $table has no commit at or before $ts"))
  }

  private def exists(spark: SparkSession, path: String): Boolean = {
    val p = new Path(path)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def listCommitVersions(spark: SparkSession, rootPath: String): Set[Long] = {
    val p = new Path(rootPath)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(p).toSeq.map(_.getPath.getName).collect { case CommitDir(v) => v.toLong }.toSet
  }
}

object VersionedCatalog {
  /** Same signature strings the reference's error classifier matches on
    * (`unload_databricks_data_to_s3.py:24-25`), so the recovery protocol is
    * exercised end-to-end against this emulation.
    */
  val MissingCdfFileSignature = "DELTA_CHANGE_DATA_FILE_NOT_FOUND"
  val SparkFileNotExistSignature = "FAILED_READ_FILE.DBR_FILE_NOT_EXIST"

  final class MissingCdfFilesException(msg: String) extends RuntimeException(msg)

  /** A commit's manifest metrics: its max `_commit_timestamp` as epoch
    * micros (`committed_at_us`), then its [[CdcFilter.ChangeCounts]].
    */
  private def commitMetrics: Seq[Column] =
    max(unix_micros(col("_commit_timestamp").cast("timestamp"))).as("us") +:
      CdcFilter.countColumns.zipWithIndex.map { case (c, i) => c.as(s"rows$i") }

  /** The time and the counts of a [[commitMetrics]] row. */
  private def timeOf(metrics: Row): Option[Long] =
    if (metrics.isNullAt(0)) None else Some(metrics.getLong(0))
  private def countsOf(metrics: Row): ChangeCounts =
    ChangeCounts(metrics.getLong(1), metrics.getLong(2), metrics.getLong(3), metrics.getLong(4))

  private val CommitVersionCol = "_commit_version"

  /** A schema's manifest id: the first 16 hex digits of its JSON's SHA-256. */
  private[engine] def schemaId(schema: StructType): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(schema.json.getBytes(UTF_8))
      .take(8).map("%02x".format(_)).mkString

  /** `_commit_version` as Spark's partition inference types a window's
    * directory names up to `newest`: the narrowest integral type holding
    * them, or a string when the session turns type inference off.
    */
  private def versionField(spark: SparkSession, newest: Long): StructField = {
    val inferred =
      spark.conf.get("spark.sql.sources.partitionColumnTypeInference.enabled").toBoolean
    StructField(CommitVersionCol,
      if (!inferred) StringType else if (newest <= Int.MaxValue) IntegerType else LongType)
  }

  /** A commit's manifest entry. */
  private final case class Commit(
      version: Long, committedAtUs: Option[Long], schemaId: Option[String],
      rows: Option[ChangeCounts])

  /** A parsed manifest: its commits and the schema JSON each id names. */
  private final case class Manifest(commits: Seq[Commit], schemas: Map[String, String]) {
    lazy val byVersion: Map[Long, Commit] = commits.map(c => c.version -> c).toMap
  }

  /** A change window's file index, listing the window's commit directories
    * (a Spark [[InMemoryFileIndex]]) on first use. `partitionSchema` is
    * `_commit_version`'s field, known without a listing.
    */
  private final class WindowIndex(
      spark: SparkSession,
      dirs: Seq[Path],
      options: Map[String, String],
      override val partitionSchema: StructType) extends FileIndex {
    private lazy val listed = new InMemoryFileIndex(
      spark, dirs, options, Some(partitionSchema), FileStatusCache.getOrCreate(spark))

    override def rootPaths: Seq[Path] = dirs
    override def listFiles(
        partitionFilters: Seq[Expression], dataFilters: Seq[Expression]): Seq[PartitionDirectory] =
      listed.listFiles(partitionFilters, dataFilters)
    override def inputFiles: Array[String] = listed.inputFiles
    override def refresh(): Unit = listed.refresh()
    override def sizeInBytes: Long = listed.sizeInBytes
  }

  private val VersionDir = "v=(\\d+)".r
  private val CommitDir = "_commit_version=(\\d+)".r
  private val ManifestLine =
    ("""\{"version":(\d+),"committed_at_us":(?:null|(-?\d+))""" +
      """(?:,"rows":\{"all":(\d+),"null":(\d+),"insert":(\d+),"update_postimage":(\d+)\})?""" +
      """(?:,"schema":"(\w+)"(?:,"struct":(\{.*\}))?)?\}""").r
}
