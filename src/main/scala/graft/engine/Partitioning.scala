package graft.engine

import scala.annotation.tailrec

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, SubqueryAlias, View}

/** Output partition sizing — operators R1-R5 in SURVEY.md §2.8.
  *
  * The reference sizes output files either by a full-scan `count()` followed
  * by `ceil(count / max_records_per_file)` or by a cluster-derived
  * `target_partitions` that skips the count
  * (`calculate_num_partitions`, `unload_databricks_data_to_s3.py:220-247`).
  *
  * Scale notes (100 TB): the count-then-repartition path reads the whole
  * input twice (one job for the count, one for the write) — the reference's
  * main perf liability (SURVEY §4). The count is skipped when the export's
  * size is already known: when the customer SQL only projects (or aliases)
  * exactly one view bound from a CDF window whose every commit records its
  * row counts in the commit manifest, the export has that view's rows, so
  * the count is read off the manifest as Delta answers `COUNT(*)` from its
  * log ([[recordedRows]]), with the same `max(1, ceil(n / perFile))`
  * result and no job. Any other plan (a filter, aggregate, join, generator,
  * union, limit, sample, distinct, window or second view) and any
  * snapshot or window without recorded counts pays the count. Beyond
  * that, prefer, in order:
  *   1. `targetPartitions` (static, zero extra jobs) — the reference's own
  *      rollout direction;
  *   2. `Coalesce` + the `maxRecordsPerFile` write option (the option
  *      alone bounds file size; the coalesce only caps task count);
  *   3. AQE coalescing (`spark.sql.adaptive.coalescePartitions.enabled`),
  *      which right-sizes post-shuffle partitions at runtime for free.
  * The counted path is kept for parity and floors at 1 partition, fixing the
  * legacy variant's `repartition(0)` crash on empty input
  * (`unload_databricks_data_to_s3_partition.py:150`, SURVEY §7.4 "fix").
  */
object Partitioning {

  /** Pure sizing math (`get_partition_count`,
    * `unload_databricks_data_to_s3.py:216-217`): `max(1, ceil(n / perFile))`.
    */
  def partitionCount(recordCount: Long, maxRecordsPerFile: Long): Int = {
    require(maxRecordsPerFile > 0, s"maxRecordsPerFile must be > 0: $maxRecordsPerFile")
    math.max(1L, (recordCount + maxRecordsPerFile - 1) / maxRecordsPerFile).toInt
  }

  /** R1: partition count for a frame — `targetPartitions` bypasses the count
    * job entirely; so does a frame whose rows [[recordedRows]] reads off
    * `viewRows` (temp view name → the rows the commit manifest records for
    * it). Otherwise one extra full-scan count (timed, like the reference),
    * surfaced with the count so downstream consumers (the K3 meta sidecar)
    * reuse it instead of running a second full-scan count. A recorded count
    * only sizes: it is returned as `None`, because a file lost after its
    * commit makes it an over-count, and the meta sidecar must hold the
    * rows the write saw.
    */
  def calculateNumPartitionsWithCount(
      df: DataFrame,
      maxRecordsPerFile: Long,
      targetPartitions: Option[Int],
      log: String => Unit = _ => (),
      viewRows: Map[String, Long] = Map.empty): (Int, Option[Long]) =
    targetPartitions match {
      case Some(t) =>
        val n = math.max(1, t)
        log(s"Partition sizing: using target from cluster=$n")
        (n, None)
      case None =>
        val (cnt, counted) = recordedRows(df, viewRows) match {
          case Some(recorded) =>
            log(f"Partition sizing: $recorded%,d records recorded in the commit manifest " +
              "(no count job)")
            (recorded, None)
          case None =>
            val t0 = System.nanoTime()
            val cnt = df.count()
            log(f"DataFrame count: $cnt%,d records (took ${(System.nanoTime() - t0) / 1e9}%.2fs)")
            (cnt, Some(cnt))
        }
        val n = partitionCount(cnt, maxRecordsPerFile)
        log(s"Partition sizing: using $n partitions (from record count)")
        (n, counted)
    }

  /** The rows of `df` without a job: those of the one temp view in
    * `viewRows` its analyzed plan reads, when only projections and aliases
    * stand between the two (`SELECT *`, renames, literals, UDF calls), so
    * every view row is exactly one export row. `None` for any other plan.
    */
  private[engine] def recordedRows(df: DataFrame, viewRows: Map[String, Long]): Option[Long] = {
    @tailrec def rowsOf(plan: LogicalPlan): Option[Long] = plan match {
      case Project(_, child) => rowsOf(child)
      case SubqueryAlias(_, child) => rowsOf(child)
      case v: View if v.isTempView => viewRows.get(v.desc.identifier.table)
      case _ => None
    }
    val plan = df.queryExecution.analyzed
    if (viewRows.isEmpty || plan.collectWithSubqueries { case v: View => v }.size != 1) None
    else rowsOf(plan)
  }
}
