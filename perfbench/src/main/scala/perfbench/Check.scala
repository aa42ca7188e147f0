package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Output checks. They read what the program wrote and compare it with
  * what the generator says it should be; none of them calls program code.
  */
object Check {

  /** Order-independent (row count, row hash) of `df` over `cols`. */
  def rowHash(df: DataFrame, cols: Seq[Column]): (Long, Long) = {
    val r = df.agg(count(lit(1)), coalesce(sum(pmod(xxhash64(cols: _*), lit(1L << 40))), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }

  /** Part files of an export directory (data files only, no sidecars). */
  def partFiles(dir: String): Seq[java.nio.file.Path] = {
    val s = Files.list(Paths.get(dir))
    try s.iterator().asScala.filter { p =>
      val n = p.getFileName.toString
      n.startsWith("part-") && !n.endsWith(".crc")
    }.toSeq.sortBy(_.toString)
    finally s.close()
  }

  def bytes(files: Seq[java.nio.file.Path]): Long = files.map(Files.size).sum

  /** Rows per part file, read back with `input_file_name`. */
  def rowsPerFile(df: DataFrame): Seq[Long] =
    df.groupBy(input_file_name()).count().collect().map(_.getLong(1)).toSeq

  /** `table_results.json` must record the requested window unchanged, with
    * no fetch error.
    */
  def tableResultsOk(auditDir: String, start: Long, end: Long): Boolean = {
    val text = new String(Files.readAllBytes(Paths.get(auditDir, "table_results.json")), "UTF-8")
    def field(k: String): String =
      s""""$k":\\s*([^,\\s}]+)""".r.findFirstMatchIn(text).map(_.group(1)).getOrElse("?")
    field("initialStartVersion") == start.toString && field("initialEndVersion") == end.toString &&
      field("finalStartVersion") == start.toString && field("finalEndVersion") == end.toString &&
      field("initialFetchError") == "null"
  }

  /** Result fingerprint of a query: (rows, order-independent hash of the
    * rows rendered column-name-sorted, doubles to 6 significant digits so
    * summation order cannot flip it).
    */
  def fingerprint(df: DataFrame): (Long, String) = {
    val names = df.columns.toSeq.zipWithIndex.sortBy(_._1)
    val rows = df.collect()
    var h = BigInt(0)
    rows.foreach { r =>
      val s = names.map { case (n, i) => n + "=" + render(r.get(i)) }.mkString("|")
      h += BigInt(scala.util.hashing.MurmurHash3.stringHash(s) & 0xffffffffL) +
        (BigInt(scala.util.hashing.MurmurHash3.stringHash(s.reverse) & 0xffffffffL) << 32)
    }
    (rows.length.toLong, (h % (BigInt(1) << 64)).toString(16))
  }

  private def render(v: Any): String = v match {
    case null => "~"
    case d: Double => num(d)
    case f: Float => num(f.toDouble)
    case b: java.math.BigDecimal => num(b.doubleValue)
    case r: Row => r.toSeq.map(render).mkString("(", ",", ")")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + ":" + render(x) }.sorted.mkString("{", ",", "}")
    case a: Array[Byte] => a.map("%02x".format(_)).mkString
    case other => other.toString
  }

  private def num(d: Double): String =
    if (d.isNaN) "NaN" else if (d == 0.0) "0" else String.format(java.util.Locale.ROOT, "%.6g", d)
}
