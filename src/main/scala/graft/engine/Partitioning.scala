package graft.engine

import org.apache.spark.sql.DataFrame

/** Output partition sizing — operators R1-R5 in SURVEY.md §2.8.
  *
  * The reference sizes output files either by a full-scan `count()` followed
  * by `ceil(count / max_records_per_file)` or by a cluster-derived
  * `target_partitions` that skips the count
  * (`calculate_num_partitions`, `unload_databricks_data_to_s3.py:220-247`).
  *
  * Scale notes (100 TB): the count-then-repartition path reads the whole
  * input twice (one job for the count, one for the write) — the reference's
  * main perf liability (SURVEY §4). Prefer, in order:
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
    * job entirely; otherwise one extra full-scan count (timed, like the
    * reference), surfaced with the count so downstream consumers (the K3
    * meta sidecar) reuse it instead of running a second full-scan count.
    */
  def calculateNumPartitionsWithCount(
      df: DataFrame,
      maxRecordsPerFile: Long,
      targetPartitions: Option[Int],
      log: String => Unit = _ => ()): (Int, Option[Long]) =
    targetPartitions match {
      case Some(t) =>
        val n = math.max(1, t)
        log(s"Partition sizing: using target from cluster=$n")
        (n, None)
      case None =>
        val t0 = System.nanoTime()
        val cnt = df.count()
        log(f"DataFrame count: $cnt%,d records (took ${(System.nanoTime() - t0) / 1e9}%.2fs)")
        val n = partitionCount(cnt, maxRecordsPerFile)
        log(s"Partition sizing: using $n partitions (from record count)")
        (n, Some(cnt))
    }
}
