package graft


import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.engine.JobSpec._
import graft.engine.{Unload, VersionedCatalog}
import graft.queries.{ParityQueries, Query}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Flagship: the full unload pipeline (EP1) end-to-end on sf0.001 —
    * versioned catalog (snapshot + CDF window) → CDC filter → identifier-aware
    * SQL rewrite → transform → repartition sizing → JSON sink → audit
    * sidecars — then the exported rows are read back. Driver smoke-checks
    * rows > 0.
    */
  def entry(spark: SparkSession): DataFrame = {
    val sfDir = "/root/testdata/sf0.001"
    val work = graft.queries.Scratch.dir("entry")
    val catalog = VersionedCatalog(s"$work/catalog")
    val table = "main.graft.events"

    val events = graft.queries.Tables.events(spark, sfDir)
    // Author a tiny versioned history: v1 snapshot + CDF commits 1..2.
    catalog.commitSnapshot(events.filter(col("event_id") % 3 === 0), table, 1L)
    Seq(1L, 2L).foreach { v =>
      val changes = events
        .filter(col("event_id") % 3 === lit(v))
        .withColumn("_change_type",
          when(col("event_id") % 4 === 0, "update_postimage")
            .when(col("event_id") % 4 === 1, "update_preimage")
            .otherwise("insert"))
        .withColumn("_commit_timestamp", col("ts"))
      catalog.commitChanges(changes, table, v)
    }

    // Canary-envelope customer SQL (shape of unload_databricks_data_to_s3.py:411,
    // deterministic timestamp so reruns are stable).
    val sql =
      s"""SELECT 1704067200000 AS time, user_id, event_type,
         |       named_struct('value', value, 'props', props) AS user_properties
         |FROM $table""".stripMargin

    val config = JobConfig(
      tables = Seq(TableVersionRange(table, 1L, 2L)),
      dataType = Event,
      sql = sql,
      outputPath = s"$work/out",
      format = JsonFormat,
      strategy = Repartition,
      maxRecordsPerFile = 250L
    )
    Unload.run(spark, catalog, config)
    spark.read.json(s"$work/out")
  }

  /** One record per implemented operator from SURVEY.md §2, plus the
    * LLM-data-pipeline extensions (dedup / similarity / text / multimodal)
    * and event analytics, each with its DuckDB oracle. Names are unique
    * across the three modules (checked once, when this object loads).
    */
  private val byName: Map[String, Query] = Query.byName(
    ParityQueries.records ++ graft.queries.EventQueries.records ++ graft.ext.ExtQueries.records)

  val queries: Map[String, (SparkSession, String) => DataFrame] =
    byName.map { case (n, q) => n -> q.run }

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. */
  val oracleSql: Map[String, String] = byName.map { case (n, q) => n -> q.oracle }

  /** The queries a comma-separated name list selects (`SPARK_GRAFT_ONLY`,
    * Inspect's list), in the order given; `None`, meaning every query, when
    * the list is unset or names none. An unknown name is rejected, so a
    * typo fails before any session is built instead of selecting nothing.
    */
  def only(spec: Option[String]): Option[Seq[String]] = {
    val names = spec.toSeq.flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty).distinct
    val known = queries
    val unknown = names.filterNot(known.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Some(names).filter(_.nonEmpty)
  }
}
