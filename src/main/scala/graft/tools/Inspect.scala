package graft.tools

import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.GraftBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import graft.{LocalSession, SparkEntry}

/** Dev inspection main: what named queries run and where their time goes,
  * in the session Bench measures ([[graft.LocalSession]]). Not part of the
  * driver contract.
  *
  * Usage: runMain graft.tools.Inspect <time|plans> <q[,q...]> [sfDir] [trials]
  *
  *  - `time`: `trials` (default 3) runs per query, each from a cleared cache
  *    and timed over build + `count()` as Bench times it (some operators do
  *    eager work while building). One JSON row per trial with the rows
  *    returned and the jobs and stages the trial ran. Trial 1 carries JIT,
  *    codegen and first-read costs; trials 2+ are the steady state a long
  *    bench JVM sees.
  *  - `plans`: each query once, collected. Prints the physical plan of every
  *    SQL execution it triggers (the rounds of an eager fixpoint operator
  *    run as their own executions and never appear in the returned frame's
  *    explain), the task count and seconds of every stage, and the returned
  *    frame's final executed plan (after adaptive re-planning).
  *
  * A blank query list means every query. `sfDir` defaults to
  * `SPARK_GRAFT_SF_DIR`, then sf0.1.
  */
object Inspect {
  final case class Args(mode: String, names: Seq[String], sfDir: String, trials: Int)

  private val Usage = "usage: Inspect <time|plans> <query[,query...]> [sfDir] [trials]"

  /** Checks every argument before any session is built: a typo'd mode or
    * query name or a bad trial count fails in milliseconds, not after a
    * multi-second JVM and session start.
    */
  def parseArgs(args: Seq[String], env: Map[String, String] = sys.env): Args = {
    require(args.size >= 2 && args.size <= 4, Usage)
    val mode = args(0)
    require(mode == "time" || mode == "plans", s"mode must be time or plans, got '$mode'")
    val names = SparkEntry.only(Some(args(1)))
      .getOrElse(SparkEntry.queries.keys.toSeq.sorted)
    val sfDir = args.lift(2)
      .orElse(env.get("SPARK_GRAFT_SF_DIR"))
      .getOrElse("/root/testdata/sf0.1")
    require(new java.io.File(sfDir).isDirectory, s"sfDir not a directory: $sfDir")
    val trials = args.lift(3).map { s =>
      val t = s.toIntOption.getOrElse(
        throw new IllegalArgumentException(s"trials must be an integer, got '$s'"))
      require(t >= 1, s"trials must be >= 1, got $t"); t
    }.getOrElse(3)
    Args(mode, names, sfDir, trials)
  }

  /** What one run posts to the listener bus; read only after
    * [[GraftBus.waitUntilEmpty]].
    */
  private final class Recorder extends SparkListener {
    val jobs = new ConcurrentLinkedQueue[Int]()
    val stages = new ConcurrentLinkedQueue[StageInfo]()
    val plans = new ConcurrentLinkedQueue[(Long, String)]()
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.add(e.jobId)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      stages.add(e.stageInfo)
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart =>
        plans.add((s.executionId, s.physicalPlanDescription))
      case _ => ()
    }
    def clear(): Unit = { jobs.clear(); stages.clear(); plans.clear() }
  }

  /** Runs `body` from a cleared cache with `rec` holding only its events;
    * returns its seconds and result.
    */
  private def recorded[T](spark: SparkSession, rec: Recorder)(body: => T): (Double, T) = {
    spark.catalog.clearCache()
    GraftBus.waitUntilEmpty(spark.sparkContext)
    rec.clear()
    val t0 = System.nanoTime()
    val result = body
    val sec = (System.nanoTime() - t0) / 1e9
    GraftBus.waitUntilEmpty(spark.sparkContext)
    (sec, result)
  }

  def main(args: Array[String]): Unit = {
    val a = parseArgs(args.toSeq)
    val spark = LocalSession()
    val rec = new Recorder
    spark.sparkContext.addSparkListener(rec)
    a.names.foreach { name =>
      val fn = SparkEntry.queries(name)
      if (a.mode == "time") (1 to a.trials).foreach { i =>
        val (sec, rows) = recorded(spark, rec)(fn(spark, a.sfDir).count())
        println(f"""{"query":"$name","trial":$i,"sec":$sec%.3f,"rows":$rows,""" +
          s""""jobs":${rec.jobs.size},"stages":${rec.stages.size}}""")
      } else {
        val (_, df) = recorded(spark, rec) {
          val df = fn(spark, a.sfDir); df.collect(); df
        }
        println(s"===== $name =====")
        rec.plans.asScala.toSeq.sortBy(_._1).foreach { case (id, plan) =>
          println(s"----- execution $id -----")
          println(plan)
        }
        println("----- stages -----")
        rec.stages.asScala.foreach { i =>
          val secs = (for (s <- i.submissionTime; c <- i.completionTime) yield (c - s) / 1e3)
            .getOrElse(-1.0)
          println(f"  stage ${i.stageId}%3d ${i.numTasks}%4d tasks ${secs}%7.2f s  " +
            i.name.takeWhile(_ != '\n').take(90))
        }
        println("----- final plan -----")
        println(df.queryExecution.executedPlan)
      }
    }
    spark.stop()
  }
}
