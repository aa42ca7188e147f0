package graft.queries

import org.apache.spark.sql.DataFrame

import graft.SparkSpec

/** A streaming gate returns a lazy read of its scratch work dir, and
  * `Scratch.stableDir` empties that dir before a run. So every gate keys its
  * work dir by the fixture dir (`"qNN-" + md5(dir)`): the same gate at
  * another scale factor must not delete the files behind a result the
  * caller still holds.
  */
class GateWorkDirSpec extends SparkSpec {

  private val Sf001 = java.nio.file.Paths.get(Sf0001).resolveSibling("sf0.01").toString
  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).sorted.toSeq

  test("a held gate result survives the same gate at another sf") {
    val held = Seq("q70_stream_windows", "q292_stream_bitmap").map { name =>
      val df = graft.SparkEntry.queries(name)(spark, Sf0001)
      (name, df, rows(df))
    }
    held.foreach { case (name, _, _) => graft.SparkEntry.queries(name)(spark, Sf001).count() }
    held.foreach { case (name, df, before) =>
      assert(before.nonEmpty, name)
      assert(rows(df) === before, s"$name: the sf0.01 run changed a held sf0.001 result")
    }
  }
}
