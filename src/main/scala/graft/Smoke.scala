package graft

/** Local stand-in for the driver's t1 smoke gate: runs `SparkEntry.entry`
  * on a fresh session (as the driver would) and prints the row count.
  */
object Smoke {
  def main(args: Array[String]): Unit = {
    val spark = LocalSession("spark.sql.session.timeZone" -> "UTC")
    val df = SparkEntry.entry(spark)
    val n = df.count()
    println(s"[smoke] entry rows=$n schema=${df.schema.simpleString}")
    assert(n > 0, "entry returned no rows")
    spark.stop()
  }
}
