package graft

import org.apache.spark.sql.SparkSession

/** The local session of every graft main (Bench, Verify, Smoke and
  * tools.Inspect): `local[$SPARK_GRAFT_CPUS]` (default 4) with as many
  * shuffle partitions as cores and the UI off, so a timing or a plan taken
  * with one main describes the session the others measure. `conf` adds
  * settings on top; `-Dspark.*` system properties apply as in any Spark
  * application. The unload CLI does not use it: in production the platform
  * supplies the session.
  */
object LocalSession {
  def apply(conf: (String, String)*): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
    conf.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
