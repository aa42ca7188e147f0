package perfbench

import java.nio.file.{Files, Paths}

import org.json4s._
import org.json4s.jackson.JsonMethods

/** The fixed query sample the workload runs, with each query's result
  * fingerprint on the seed-42 fixtures; every sampled result equals its
  * DuckDB oracle (see `derive_pool.py`).
  */
final case class QueryPool(sample: Seq[String], expected: Map[String, (Long, String)])

object QueryPool {
  val Path = "perfbench/query_pool.json"

  def load(): QueryPool = {
    implicit val formats: Formats = DefaultFormats
    val js = JsonMethods.parse(new String(Files.readAllBytes(Paths.get(Path)), "UTF-8"))
    val sample = (js \ "sample").extract[Seq[String]]
    val expected = (js \ "queries").extract[Map[String, Map[String, JValue]]].map { case (q, m) =>
      q -> ((m("rows").extract[Long], m("hash").extract[String]))
    }
    QueryPool(sample, expected)
  }

  private lazy val parity = graft.queries.ParityQueries.queries.keySet
  private lazy val event = graft.queries.EventQueries.queries.keySet

  def module(q: String): String =
    if (parity(q)) "parity" else if (event(q)) "event" else "ext"
}
