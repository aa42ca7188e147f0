package graft.engine

import java.nio.file.{Files, Path => JPath}

import scala.collection.mutable

import org.apache.spark.GraftBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerJobStart}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll

import graft.SparkSpec
import graft.engine.JobSpec._
import graft.streaming.CdcStream

/** Catalog reads counted in Spark jobs: a CDF window whose commits record
  * their schema and row counts starts no job of its own, so an unload that
  * projects it runs only its write's jobs (a filtered one first runs its
  * sizing count) and a drain runs one job, its batch.
  */
class CatalogJobsSpec extends SparkSpec with BeforeAndAfterAll {
  import spark.implicits._

  private var work: JPath = _
  private val table = "main.test.jobs"

  override def beforeAll(): Unit = { work = Files.createTempDirectory("graft-jobs") }
  override def afterAll(): Unit = rmTree(work)

  /** A catalog whose table has commits 1..3. */
  private def catalog(dir: String): VersionedCatalog = {
    val cat = VersionedCatalog(s"$work/$dir")
    (1L to 3L).foreach { v =>
      cat.commitChanges(Seq((v, s"name_$v", "insert"), (v + 10, s"gone_$v", "delete"))
        .toDF("id", "name", "_change_type")
        .withColumn("_commit_timestamp", lit(s"2024-01-0$v")), table, v)
    }
    cat
  }

  /** The jobs `body` starts, in order, each named by the long call site of
    * the SQL execution it ran under ("" for a job outside one), counted
    * after the listener bus has drained.
    */
  private def jobsOf(body: => Unit): Seq[String] = {
    val executions = mutable.Map.empty[String, String]
    val jobs = mutable.ArrayBuffer.empty[String]
    val l = new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => executions(s.executionId.toString) = s.details
        case _ =>
      }
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs += Option(js.properties.getProperty("spark.sql.execution.id"))
          .flatMap(executions.get).getOrElse("")
    }
    GraftBus.waitUntilEmpty(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try { body; GraftBus.waitUntilEmpty(spark.sparkContext) }
    finally spark.sparkContext.removeSparkListener(l)
    jobs.toList
  }

  private def firstLines(jobs: Seq[String]): Seq[String] = jobs.map(_.takeWhile(_ != '\n'))

  private def unload(cat: VersionedCatalog, sql: String, out: String): Seq[String] =
    jobsOf(Unload.run(spark, cat, JobConfig(
      tables = Seq(TableVersionRange(table, 2L, 3L)),
      dataType = Event,
      sql = sql,
      outputPath = s"$work/$out",
      strategy = Repartition)))

  test("an unload over a recorded 2-commit window runs only its write's jobs") {
    val jobs = unload(catalog("unload"), s"SELECT id, name FROM $table", "unload_out")
    assert(jobs.nonEmpty && jobs.forall(_.contains("writeData")), s"jobs: ${firstLines(jobs)}")
    assert(!jobs.exists(_.contains("calculateNumPartitionsWithCount")), s"jobs: ${firstLines(jobs)}")
    assert(spark.read.parquet(s"$work/unload_out").select("id").as[Long].collect().sorted ===
      Array(2L, 3L))
  }

  test("a filtered unload over the same window runs its sizing count first") {
    val jobs = unload(catalog("filtered"), s"SELECT id, name FROM $table WHERE id > 2", "filtered_out")
    val (sizing, write) = jobs.span(_.contains("calculateNumPartitionsWithCount"))
    assert(sizing.nonEmpty, s"jobs: ${firstLines(jobs)}")
    assert(write.nonEmpty && write.forall(_.contains("writeData")), s"jobs: ${firstLines(jobs)}")
    assert(spark.read.parquet(s"$work/filtered_out").select("id").as[Long].collect() === Array(3L))
  }

  test("readChanges plus one AvailableNow batch starts exactly one job") {
    val cat = catalog("drain")
    val jobs = jobsOf {
      val query = CdcStream.drain(
        CdcStream.readChanges(spark, cat, table, Event).writeStream.format("noop"),
        s"$work/drain_ckpt")
      assert(query.recentProgress.count(_.numInputRows > 0) === 1, "one batch")
    }
    assert(jobs.size === 1, s"jobs: ${firstLines(jobs)}")
  }
}
