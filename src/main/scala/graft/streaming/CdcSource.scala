package graft.streaming

import org.apache.spark.sql.{DataFrame, GraftStream, Row, SQLContext, SparkSession}
import org.apache.spark.sql.connector.read.streaming.{Offset => StreamOffset, ReadLimit,
  SupportsTriggerAvailableNow}
import org.apache.spark.sql.execution.streaming.{Offset, Source}
import org.apache.spark.sql.sources.StreamSourceProvider
import org.apache.spark.sql.types.StructType

import graft.engine.VersionedCatalog

/** The stream source behind [[CdcStream.readChanges]]: one table's change
  * feed with commit versions as offsets, the shape of Delta's change-data
  * stream. An offset is the last version a batch holds.
  *
  *   - The latest offset is the newest version of
  *     [[VersionedCatalog.commitVersions]], read from the table's
  *     `_commits.json`, which gets a commit's entry only once its data is in
  *     place. The first batch starts at the oldest committed version. An
  *     AvailableNow query reads the manifest once, when it starts, and
  *     takes both versions from that read.
  *   - A batch `(start, end]` is the [[VersionedCatalog.changes]] window
  *     `start+1 .. end` with the source's schema: it reads no footer, lists
  *     the window's commit directories and nothing else, and only when it
  *     is planned, so the batch Spark re-announces to a restarted source
  *     and drops lists nothing. A missing commit fails it with the
  *     catalog's missing-CDF signature.
  *   - `maxCommitsPerTrigger` bounds a batch in commits. `Trigger.Once`
  *     reads everything in one batch; `Trigger.AvailableNow` drains the
  *     commits present when the query starts in bounded batches, then
  *     stops.
  *
  * A drain therefore costs O(new commits) in catalog metadata, whatever the
  * history length. The source keeps no log of its own: the query's
  * checkpoint holds the offsets.
  */
final class CdcSource(
    spark: SparkSession,
    catalog: VersionedCatalog,
    table: String,
    override val schema: StructType,
    maxCommitsPerTrigger: Int,
    metadataPath: String) extends Source with SupportsTriggerAvailableNow {
  import CdcSource._

  require(maxCommitsPerTrigger > 0, s"maxCommitsPerTrigger must be positive: $maxCommitsPerTrigger")

  /** The oldest and the newest version when an AvailableNow query
    * started: the start of its first batch and its bound.
    */
  private var availableNow: Option[(Long, Long)] = None

  override def prepareForTriggerAvailableNow(): Unit = {
    val versions = catalog.commitVersions(spark, table)
    availableNow = versions.headOption.map(_ -> versions.last)
  }

  override def getDefaultReadLimit: ReadLimit = MaxCommits(maxCommitsPerTrigger)

  override def latestOffset(start: StreamOffset, limit: ReadLimit): StreamOffset = {
    // the manifest is read only when the offset or the AvailableNow bound
    // leaves a version open
    lazy val versions = catalog.commitVersions(spark, table)
    val first = Option(start).map(versionOf(_) + 1)
      .orElse(availableNow.map(_._1)).orElse(versions.headOption)
    val bound = limit match {
      case MaxCommits(n) => n.toLong
      case _ => Long.MaxValue // Trigger.Once's ReadLimit.allAvailable
    }
    (first, availableNow.map(_._2).orElse(versions.lastOption)) match {
      case (Some(f), Some(newest)) if f <= newest =>
        new CommitOffset(if (newest - f < bound) newest else f + bound - 1)
      case _ => start // nothing new; null before the first commit
    }
  }

  override def getOffset: Option[Offset] =
    throw new UnsupportedOperationException("latestOffset(Offset, ReadLimit) replaces getOffset")

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val last = versionOf(end)
    val first = start.map(versionOf(_) + 1).orElse(availableNow.map(_._1))
      .getOrElse(catalog.commitVersions(spark, table).headOption.getOrElse(last))
    // equal offsets come only from Spark's restart call, which re-announces
    // the last committed batch (in which this source of a multi-source
    // query stood still) and drops the frame
    val batch =
      if (first > last) spark.createDataFrame(java.util.List.of[Row](), schema)
      else catalog.streamBatch(spark, table, first, last, schema)
    GraftStream.batchOf(batch, this)
  }

  override def stop(): Unit = ()

  override def toString: String = describe(table)

  /** The version an offset names. A checkpoint written by Spark's file
    * stream source, which `readChanges` used before, holds file-log
    * offsets this source cannot resume from.
    */
  private def versionOf(offset: StreamOffset): Long = offset match {
    case c: CommitOffset => c.version
    case o => CdcSource.versionOf(o.json).getOrElse(throw new IllegalStateException(
      s"$this cannot resume from the offset ${o.json} in $metadataPath: the checkpoint was " +
        "written by Spark's file stream source, whose offsets index its own file log, not " +
        "commit versions. Start the export on a new checkpoint."))
  }
}

object CdcSource {

  val DefaultMaxCommitsPerTrigger = 1000

  /** The source's description in query progress: `CdcSource[<table>]`. */
  def describe(table: String): String = s"CdcSource[$table]"

  /** The commit version an offset's JSON names, if it is this source's. */
  def versionOf(json: String): Option[Long] = json match {
    case OffsetJson(v) => Some(v.toLong)
    case _ => None
  }

  /** A source's position: the last commit version it has delivered. Offsets
    * compare by their JSON, as Spark's do, so this is not a case class.
    */
  final class CommitOffset(val version: Long) extends Offset {
    override def json(): String = s"""{"version":$version}"""
  }

  private final case class MaxCommits(n: Int) extends ReadLimit

  private val OffsetJson = """\{"version":(\d+)\}""".r
}

/** `readStream.format(classOf[CdcSourceProvider].getName)` with the options
  * `root` (the catalog root) and `table`, and optionally
  * `maxCommitsPerTrigger` ([[CdcSource.DefaultMaxCommitsPerTrigger]]). Without a `.schema(...)` the
  * schema is read from the manifest: the one the newest commit records
  * ([[VersionedCatalog.changeSchema]]).
  */
final class CdcSourceProvider extends StreamSourceProvider {

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val (catalog, table) = target(parameters)
    (CdcSource.describe(table),
      schema.getOrElse(catalog.changeSchema(sqlContext.sparkSession, table)))
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source = {
    val (catalog, table) = target(parameters)
    val spark = sqlContext.sparkSession
    new CdcSource(spark, catalog, table,
      schema.getOrElse(catalog.changeSchema(spark, table)),
      parameters.get("maxCommitsPerTrigger").fold(CdcSource.DefaultMaxCommitsPerTrigger)(_.toInt),
      metadataPath)
  }

  private def target(parameters: Map[String, String]): (VersionedCatalog, String) = {
    def required(k: String) = parameters.getOrElse(k,
      throw new IllegalArgumentException(s"${getClass.getName} needs the option $k"))
    (VersionedCatalog(required("root")), required("table"))
  }
}
