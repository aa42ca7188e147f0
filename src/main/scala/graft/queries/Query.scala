package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}

/** One driver query: its name, its Spark run over (session, fixture dir), and
  * the DuckDB SQL the driver hash-compares the result against. Each query
  * module lists its queries once as records, so a query cannot lose its
  * oracle or gain a second one.
  */
final case class Query(name: String, run: (SparkSession, String) => DataFrame, oracle: String)

object Query {

  /** The records keyed by name. A name listed twice is rejected: a map
    * built by `++` or `toMap` would silently keep only one of them.
    */
  def byName(records: Seq[Query]): Map[String, Query] = {
    val repeated = records.groupBy(_.name).collect { case (n, qs) if qs.size > 1 => n }
    require(repeated.isEmpty, s"query names listed twice: ${repeated.toSeq.sorted.mkString(",")}")
    records.map(q => q.name -> q).toMap
  }

  /** Each record's run, keyed by name (see [[byName]]). */
  def runs(records: Seq[Query]): Map[String, (SparkSession, String) => DataFrame] =
    byName(records).map { case (n, q) => n -> q.run }
}
