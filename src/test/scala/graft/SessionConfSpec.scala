package graft

import org.apache.spark.sql.functions.lit

import graft.engine.{Unload, VersionedCatalog}
import graft.engine.JobSpec._

/** A library call leaves its caller's `SparkSession` exactly as it found it:
  * `spark.conf.getAll` and the session's temp-view names are snapshotted
  * around every streaming gate (and the q228 graph peel), `Unload.run` under
  * every partition strategy and output format, and
  * `CdcStream.unloadAvailableNow`, and must not change.
  */
class SessionConfSpec extends SparkSpec {
  import spark.implicits._

  private val Gates = Seq(
    "q69_stream_sessionize", "q70_stream_windows", "q73_stream_dedup",
    "q81_stream_enrich", "q89_stream_stream_join", "q99_stream_materialize",
    "q117_stream_session_window", "q130_stream_incremental_agg",
    "q181_stream_incremental_join", "q228_kcore", "q233_stream_dedup_index",
    "q292_stream_bitmap", "q301_stream_tws", "q341_stream_kmv",
    "q369_stream_heavy_hitters", "q383_stream_exact_substr", "q387_stream_bloom",
    "q400_stream_ivf_ingest")

  private def tempViews: Set[String] =
    spark.catalog.listTables().collect().filter(_.isTemporary).map(_.name).toSet

  private def unchanged(what: String)(body: => Unit): Unit = {
    val before = spark.conf.getAll
    val viewsBefore = tempViews
    body
    val after = spark.conf.getAll
    val diff = (before.keySet ++ after.keySet)
      .filter(k => before.get(k) != after.get(k))
      .map(k => s"$k: ${before.get(k)} -> ${after.get(k)}")
    assert(diff.isEmpty, s"$what changed the session conf:\n${diff.mkString("\n")}")
    val views = tempViews
    assert(views === viewsBefore, s"$what left temp views ${views -- viewsBefore} " +
      s"and dropped ${viewsBefore -- views}")
  }

  test("gates, Unload.run under every strategy and unloadAvailableNow leave the session conf unchanged") {
    Gates.foreach(name => unchanged(name)(SparkEntry.queries(name)(spark, Sf0001).count()))

    withTempDir("graft-conf") { work =>
      val table = "main.conf.items"
      val cat = VersionedCatalog(s"$work/catalog")
      cat.commitSnapshot((1 to 10).map(i => (i.toLong, s"n$i")).toDF("id", "name"), table, 1L)
      cat.commitChanges(
        (11 to 13).map(i => (i.toLong, s"n$i", "insert")).toDF("id", "name", "_change_type")
          .withColumn("_commit_timestamp", lit("2024-01-02")),
        table, 2L)
      for {
        strategy <- Seq(Repartition, Coalesce, NoResize)
        format <- Seq(JsonFormat, ParquetFormat)
      } unchanged(s"Unload.run($strategy, $format)") {
        Unload.run(spark, cat, JobConfig(
          tables = Seq(TableVersionRange(table, 2L, 2L)),
          dataType = Event,
          sql = s"SELECT id, name FROM $table",
          outputPath = s"$work/out_${strategy}_$format",
          format = format,
          strategy = strategy,
          maxRecordsPerFile = 1L))
      }
      unchanged("unloadAvailableNow") {
        graft.streaming.CdcStream.unloadAvailableNow(spark, cat, JobConfig(
          tables = Seq(TableVersionRange(table, 1L, 1L)),
          dataType = Event,
          sql = s"SELECT id FROM $table",
          outputPath = s"$work/out_stream",
          maxRecordsPerFile = 1L), s"$work/ckpt_stream")
      }
    }
  }
}
