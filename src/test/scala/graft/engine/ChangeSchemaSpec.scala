package graft.engine

import java.nio.file.{Files, Path => JPath, Paths}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, InMemoryFileIndex, LogicalRelation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec

/** A change frame's schema read from the manifest is the schema a footer
  * read gives, field for field (types, nullability, metadata and the type
  * of `_commit_version`), and every window without a common recorded
  * schema still reads the footer.
  */
class ChangeSchemaSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var work: JPath = _

  private val charView = "graft_change_schema_chars"

  override def beforeAll(): Unit = {
    work = Files.createTempDirectory("graft-change-schema")
    // char and varchar made through SQL: a declared column keeps its
    // char/varchar metadata, where a CAST to CHAR gives a plain string
    Seq((1L, "ab", "xyz")).toDF("id", "c", "vc").write.parquet(s"$work/chars")
    spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW $charView (id BIGINT, c CHAR(5), " +
      s"vc VARCHAR(10)) USING parquet OPTIONS (path '$work/chars')")
  }
  override def afterAll(): Unit = {
    spark.catalog.dropTempView(charView)
    rmTree(work)
  }

  private def stamped(df: DataFrame, day: Int): DataFrame =
    df.withColumn("_change_type", lit("insert"))
      .withColumn("_commit_timestamp", lit(f"2024-01-$day%02d"))

  /** One frame per shape, each a commit of its own. */
  private def frames: Seq[DataFrame] = {
    val base = Seq((1L, 2.5, "a"), (2L, 3.5, "b")).toDF("id", "x", "s")
    Seq(
      // nested struct, array and map
      base.select(col("id"),
        struct(col("x"), array(struct(col("s").as("inner"))).as("items")).as("nested"),
        array(col("x"), lit(null).cast("double")).as("xs"),
        map(col("s"), col("x")).as("by_s")),
      // decimal, timestamp and timestamp_ntz
      base.select(col("id"),
        col("x").cast(DecimalType(10, 2)).as("price"),
        col("x").cast(DecimalType(38, 18)).as("wide"),
        lit("2024-01-01 10:00:00").cast(TimestampType).as("ts"),
        lit("2024-01-01 10:00:00").cast(TimestampNTZType).as("ntz"),
        current_date().as("day")),
      // a NOT NULL column (a primitive of a local relation) and a field with
      // metadata
      base.select(col("id"),
        col("s").as("tagged", new MetadataBuilder().putString("comment", "a tag").build())),
      // char and varchar declared through SQL
      spark.table(charView))
  }

  private def footer(cat: VersionedCatalog, table: String, versions: Seq[Long]): StructType =
    spark.read.option("basePath", cat.cdfRoot(table))
      .parquet(versions.map(cat.commitPath(table, _)): _*).schema

  private def assertSame(got: StructType, want: StructType, clue: String): Unit = {
    assert(got.map(_.name) === want.map(_.name), clue)
    got.zip(want).foreach { case (g, w) => assert(g === w, s"$clue: ${g.name}") }
  }

  /** Whether `df` reads its window through a footer-inferred relation. */
  private def inferred(df: DataFrame): Boolean =
    df.queryExecution.analyzed.collectFirst {
      case LogicalRelation(r: HadoopFsRelation, _, _, _, _) => r.location
    }.exists(_.isInstanceOf[InMemoryFileIndex])

  test("a recorded schema equals a footer read, field for field, and reads no footer") {
    // the shapes are what they claim to be
    assert(spark.table(charView).schema("c").metadata.contains("__CHAR_VARCHAR_TYPE_STRING"))
    assert(!frames(2).schema("id").nullable)
    val cat = VersionedCatalog(s"$work/types")
    frames.zipWithIndex.foreach { case (frame, i) =>
      val table = s"main.types.t$i"
      Seq(1L, 2L).foreach(v => cat.commitChanges(stamped(frame, v.toInt), table, v))
      Seq(Seq(1L), Seq(2L), Seq(1L, 2L)).foreach { vs =>
        val window = cat.changes(spark, table, vs.head, vs.last)
        assertSame(window.schema, footer(cat, table, vs), s"$table ${vs.mkString("-")}")
        assert(!inferred(window), s"$table ${vs.mkString("-")} read a footer")
      }
      assertSame(cat.changeSchema(spark, table), footer(cat, table, Seq(2L)), s"$table newest")
      assert(cat.changes(spark, table, 1L, 2L).count() === 2 * frame.count())
    }
  }

  test("a version past Int.MaxValue types _commit_version as a long, as inference does") {
    val cat = VersionedCatalog(s"$work/long")
    val (low, high) = (Int.MaxValue.toLong, Int.MaxValue + 1L)
    Seq(low, high).foreach(v => cat.commitChanges(stamped(frames.head, 1), "main.t.long", v))
    Seq(Seq(low), Seq(high), Seq(low, high)).foreach { vs =>
      val window = cat.changes(spark, "main.t.long", vs.head, vs.last)
      assertSame(window.schema, footer(cat, "main.t.long", vs), vs.mkString("-"))
      assert(!inferred(window))
    }
    assert(cat.changeSchema(spark, "main.t.long")("_commit_version").dataType === LongType)
  }

  test("with partition type inference off, _commit_version is a string, as inference gives") {
    val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
    val cat = VersionedCatalog(s"$work/untyped")
    cat.commitChanges(stamped(frames.head, 1), "main.t.untyped", 1L)
    cat.commitChanges(stamped(frames.head, 2), "main.t.untyped", 2L)
    spark.conf.set(key, "false")
    try {
      val window = cat.changes(spark, "main.t.untyped", 1L, 2L)
      assertSame(window.schema, footer(cat, "main.t.untyped", Seq(1L, 2L)), "window")
      assert(window.schema("_commit_version").dataType === StringType)
      assert(window.select("_commit_version").as[String].collect().sorted === Array("1", "1", "2", "2"))
      assertSame(cat.changeSchema(spark, "main.t.untyped"),
        footer(cat, "main.t.untyped", Seq(2L)), "newest")
    } finally spark.conf.unset(key)
  }

  test("a pre-manifest catalog and backfilled entries read the footer, as before") {
    val cat = VersionedCatalog(s"$work/legacy")
    val table = "main.t.legacy"
    val manifest = Paths.get(s"$work/legacy/main/t/legacy/_commits.json")
    Seq(1L, 2L).foreach(v => cat.commitChanges(stamped(frames.head, v.toInt), table, v))
    Files.delete(manifest)
    Files.deleteIfExists(manifest.resolveSibling("._commits.json.crc"))
    val preManifest = cat.changes(spark, table, 1L, 2L)
    assert(inferred(preManifest))
    assertSame(preManifest.schema, footer(cat, table, Seq(1L, 2L)), "pre-manifest")
    assertSame(cat.changeSchema(spark, table), footer(cat, table, Seq(2L)), "pre-manifest newest")
    // the next commit backfills 1 and 2 with their row counts but without
    // a schema; they still resolve
    cat.commitChanges(stamped(frames.head, 3), table, 3L)
    assert(Files.readString(manifest).linesIterator.take(2).toSeq === Seq(1, 2).map(d =>
      s"""{"version":$d,"committed_at_us":${java.time.LocalDate.of(2024, 1, d)
        .atStartOfDay(java.time.ZoneOffset.UTC).toEpochSecond * 1000000L},""" +
        """"rows":{"all":2,"null":0,"insert":2,"update_postimage":0}}"""))
    assert(cat.commitVersions(spark, table) === Seq(1L, 2L, 3L))
    assert(cat.versionAsOf(spark, table, java.sql.Timestamp.valueOf("2024-01-02 12:00:00")) === 2L)
    Seq(Seq(1L, 2L), Seq(2L, 3L)).foreach { vs =>
      val window = cat.changes(spark, table, vs.head, vs.last)
      assert(inferred(window), s"${vs.mkString("-")} did not read the footer")
      assertSame(window.schema, footer(cat, table, vs), vs.mkString("-"))
    }
    assert(!inferred(cat.changes(spark, table, 3L, 3L)))
  }

  test("a window across a schema change reads the footer and gives the footer read's frame") {
    val cat = VersionedCatalog(s"$work/evolved")
    val table = "main.t.evolved"
    val before = Seq((1L, "a")).toDF("id", "s")
    val after = Seq((2L, "b", 7)).toDF("id", "s", "added")
    cat.commitChanges(stamped(before, 1), table, 1L)
    cat.commitChanges(stamped(after, 2), table, 2L)
    val window = cat.changes(spark, table, 1L, 2L)
    val plain = spark.read.option("basePath", cat.cdfRoot(table))
      .parquet(cat.commitPath(table, 1L), cat.commitPath(table, 2L))
      .where(col("_commit_version").between(1L, 2L))
    assert(inferred(window))
    assertSame(window.schema, plain.schema, "evolved")
    assert(window.collect().map(_.toString).sorted === plain.collect().map(_.toString).sorted)
    // each side of the change has its own recorded schema
    Seq(1L, 2L).foreach { v =>
      val one = cat.changes(spark, table, v, v)
      assert(!inferred(one))
      assertSame(one.schema, footer(cat, table, Seq(v)), s"version $v")
    }
  }
}
