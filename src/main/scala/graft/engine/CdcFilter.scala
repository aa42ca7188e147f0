package graft.engine

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.engine.JobSpec._

/** CDC row filter + metadata drop — operators P1/P2/P5 in SURVEY.md §2.3.
  *
  * Mirrors `filter_data` (`unload_databricks_data_to_s3.py:203-213`):
  *   - EVENT keeps only freshly inserted rows;
  *   - USER/GROUP/WAREHOUSE_PROPERTY also keep update post-images
  *     (upsert semantics; WAREHOUSE_PROPERTY deliberately shares the
  *     property branch — only EVENT is special-cased);
  *   - comparison is null-safe (`<=>`, Catalyst `EqualNullSafe`) exactly like
  *     the reference's `eqNullSafe` — SURVEY §7.4 "keep";
  *   - the filter (and the metadata-column drop) applies only when the frame
  *     actually carries a `_change_type` column — snapshot reads flow through
  *     untouched;
  *   - mutability mode (P5) bypasses everything: raw CDF rows including
  *     metadata columns flow to the sink.
  *
  * The rows the filter keeps are also known without reading the rows:
  * each commit records its [[ChangeCounts]] (taken with [[countColumns]],
  * built from the same tests as [[cdcPredicate]]), and [[keptRows]] turns a
  * window's counts into the filter's output size, which an unload's
  * partition sizing takes in place of a count job.
  *
  * Scale note: the predicate is a plain Catalyst filter on a low-cardinality
  * string column, so it is pushed down into the Parquet scan
  * (`PushedFilters`) and evaluated vectorized — at 100 TB this prunes
  * pre-images/deletes before anything shuffles.
  */
object CdcFilter {

  val ChangeTypeCol = "_change_type"
  val MetaColumns: Seq[String] = Seq("_commit_version", "_commit_timestamp", ChangeTypeCol)

  private def untyped: Column = col(ChangeTypeCol).isNull
  private def insert: Column = col(ChangeTypeCol) <=> lit("insert")
  private def postimage: Column = col(ChangeTypeCol) <=> lit("update_postimage")

  /** The CDC keep-predicate for a data type. */
  def cdcPredicate(dataType: DataType): Column = dataType match {
    case Event => untyped || insert
    case _     => untyped || insert || postimage
  }

  /** A change frame's rows, in all and by the `_change_type`s the filter
    * keeps: null, `insert` and `update_postimage`.
    */
  final case class ChangeCounts(rows: Long, untyped: Long, inserts: Long, postimages: Long) {
    def +(o: ChangeCounts): ChangeCounts =
      ChangeCounts(rows + o.rows, untyped + o.untyped, inserts + o.inserts, postimages + o.postimages)
  }

  /** Aggregates computing a frame's [[ChangeCounts]], in field order. */
  def countColumns: Seq[Column] =
    Seq(count(lit(1)), count_if(untyped), count_if(insert), count_if(postimage))

  /** The rows [[filterData]] keeps of a frame with these counts. */
  def keptRows(counts: ChangeCounts, dataType: DataType, mutabilityMode: Boolean): Long =
    if (mutabilityMode) counts.rows
    else dataType match {
      case Event => counts.untyped + counts.inserts
      case _     => counts.untyped + counts.inserts + counts.postimages
    }

  /** Apply the CDC filter and drop CDF metadata columns; no-op for frames
    * without `_change_type` and in mutability mode.
    */
  def filterData(df: DataFrame, dataType: DataType, mutabilityMode: Boolean = false): DataFrame =
    if (mutabilityMode || !df.columns.contains(ChangeTypeCol)) df
    else df.filter(cdcPredicate(dataType)).drop(MetaColumns: _*)
}
