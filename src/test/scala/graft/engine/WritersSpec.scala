package graft.engine

import java.nio.file.{Files, Path => JPath}

import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.engine.JobSpec._

/** Sink contracts (K1/K2/K3): JSON skips the scrub, Parquet is ZSTD (level
  * via the parquet-hadoop conf key), meta sidecar shape.
  */
class WritersSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var work: JPath = _
  override def beforeAll(): Unit = { work = Files.createTempDirectory("graft-writers") }
  override def afterAll(): Unit = rmTree(work)

  test("K2: parquet footer records the ZSTD codec") {
    val out = s"$work/parq"
    Writers.writeData((1 to 10).map(i => (i, s"v$i")).toDF("id", "v"), ParquetFormat, out)
    val file = new java.io.File(out).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).head
    val reader = ParquetFileReader.open(
      HadoopInputFile.fromPath(new HPath(file.getAbsolutePath),
        spark.sparkContext.hadoopConfiguration))
    try {
      val codecs = reader.getFooter.getBlocks.get(0).getColumns
      assert((0 until codecs.size()).map(codecs.get(_).getCodec.toString).toSet === Set("ZSTD"))
    } finally reader.close()
  }

  test("K3: meta sidecar carries event_count and partition_count") {
    val out = s"$work/meta_base"
    Writers.writeMeta(spark, out, eventCount = 42L, partitionCount = 7)
    val row = spark.read.json(s"$out/meta").collect().head
    assert(row.getAs[Long]("event_count") === 42L)
    assert(row.getAs[Long]("partition_count") === 7L)
  }
}
