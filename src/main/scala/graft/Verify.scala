package graft
import java.nio.file.{Files, Paths}
import graft.engine.Json.{quote => q}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    // Builder-side iteration aid: SPARK_GRAFT_ONLY=q30_knn_brute,q77_...
    // restricts the dump (same contract as Bench). Unset or blank = full
    // surface — the driver's path is unchanged.
    val queries = SparkEntry.queries
    val selected = SparkEntry.only(sys.env.get("SPARK_GRAFT_ONLY"))
      .getOrElse(queries.keys.toSeq)
    val spark = LocalSession("spark.sql.session.timeZone" -> "UTC")
    new java.io.File(outDir).mkdirs()
    // A query that throws must leave a RED ROW, not a silent gap: round 7's
    // correctness artifact simply omitted 29 crashed queries, which read as
    // "not declared" instead of "broken". Every failure is collected and
    // written to failed.json alongside the parquet dumps.
    val failures = scala.collection.mutable.LinkedHashMap[String, String]()
    selected.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        val msg = Option(e.getMessage).getOrElse(e.getClass.getName)
        System.err.println(s"[verify] $name FAILED: $msg")
        failures(name) = msg.take(500)
      }
    }
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // always written (empty object when clean) so "no failed.json" can never
    // be confused with "failures not recorded"
    val failedJson = failures
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/failed.json"), failedJson)
    if (failures.nonEmpty)
      System.err.println(s"[verify] ${failures.size} queries FAILED: " +
        failures.keys.mkString(", "))
    spark.stop()
  }
}
