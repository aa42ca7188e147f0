package perfbench

import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.HiveCatalogMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** What the listeners saw for one Spark job. Times are epoch ms (the
  * listener bus clock); the tracer converts them onto its nanosecond clock.
  */
final case class JobRecord(jobId: Int, submitMs: Long, endMs: Long, site: String,
    stages: Int, tasks: Int, firstTaskMs: Long, runMs: Long, cpuNs: Long, gcMs: Long,
    inputBytes: Long, inputRows: Long, shuffleWrite: Long, shuffleRead: Long, spill: Long,
    outputRows: Long)

/** One traced operation: a single public call into the program, run as the
  * program runs it.
  *
  *  - `layers`: seconds of the op's wall time per layer, from stack samples
  *    of the calling thread (see [[Tracer.classify]]);
  *  - `jobs`: (layer, start ns, end ns) of each Spark job the op ran;
  *  - `unattributed`: the most frequent innermost frames of the samples
  *    that no layer claimed, for reading the trace.
  */
final case class OpTrace(id: Int, kind: String, startNs: Long, endNs: Long, samples: Int,
    layers: Map[String, Double], jobs: Seq[(String, Long, Long)],
    counters: Map[String, Double], unattributed: Seq[(String, Int)]) {
  def wall: Double = (endNs - startNs) / 1e9
}

/** In-memory tracer for one closed-loop client thread. It adds nothing to
  * the program's code path: the op body is the program's own public call.
  *
  *  - A sampler thread reads the client thread's stack every [[SampleNs]]
  *    while an op runs; the innermost program frame names the layer that
  *    owns that instant (a Spark job waited for inside `Partitioning` is
  *    sizing time, and so on). A layer's time is its share of the samples
  *    times the op's wall time, so it is self time by construction.
  *  - A `SparkListener`, a `QueryExecutionListener` and a
  *    `StreamingQueryListener` (registered from here, never from the
  *    program) add the jobs, planning phases and micro-batch phases.
  *
  * The workload runs one op at a time, so after each op the tracer drains
  * the listener bus and everything received since the op began belongs to
  * it. Jobs go to a layer by call site (the stage creation stack), or else
  * to the layer the client thread was in when the job was submitted.
  */
final class Tracer(val spark: SparkSession) {
  private val clockOffsetNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
  private def msToNs(ms: Long): Long = ms * 1000000L - clockOffsetNs

  val ops = mutable.ArrayBuffer.empty[OpTrace]
  private var nextId = 0

  // ---- listener state (listener-bus thread; read after waitUntilEmpty) ----
  private val lock = new Object
  private val jobStart = mutable.Map.empty[Int, (Long, String)]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val jobAcc = mutable.Map.empty[Int, Array[Long]]
  private val jobs = mutable.ArrayBuffer.empty[JobRecord]
  private val planMs = Array(0L, 0L, 0L, 0L) // analysis, optimization, planning, executions
  private val streamMs = mutable.Map.empty[String, Long].withDefaultValue(0L)

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = lock.synchronized {
      val desc = Option(e.properties).map(_.getProperty("spark.job.description", "")).getOrElse("")
      val sites = e.stageInfos.map(s => s.name + "\n" + s.details).mkString("\n")
      jobStart(e.jobId) = (e.time, Tracer.layerOfCallSite(desc, sites))
      e.stageIds.foreach(stageJob(_) = e.jobId)
      // stages, tasks, firstTaskMs, runMs, cpuNs, gcMs, in, shW, shR, spill, inRows, outRows
      jobAcc(e.jobId) = Array(0L, 0L, Long.MaxValue, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L, 0L)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = lock.synchronized {
      stageJob.get(e.stageInfo.stageId).flatMap(jobAcc.get).foreach(_(0) += 1)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = lock.synchronized {
      stageJob.get(e.stageId).flatMap(jobAcc.get).foreach { a =>
        a(1) += 1
        a(2) = math.min(a(2), e.taskInfo.launchTime)
        val m = e.taskMetrics
        if (m != null) {
          a(3) += m.executorRunTime
          a(4) += m.executorCpuTime
          a(5) += m.jvmGCTime
          a(6) += m.inputMetrics.bytesRead
          a(7) += m.shuffleWriteMetrics.bytesWritten
          a(8) += m.shuffleReadMetrics.totalBytesRead
          a(9) += m.memoryBytesSpilled + m.diskBytesSpilled
          a(10) += m.inputMetrics.recordsRead
          a(11) += m.outputMetrics.recordsWritten
        }
      }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = lock.synchronized {
      for ((submit, site) <- jobStart.remove(e.jobId); a <- jobAcc.remove(e.jobId)) {
        val first = if (a(2) == Long.MaxValue) e.time else a(2)
        jobs += JobRecord(e.jobId, submit, e.time, site, a(0).toInt, a(1).toInt, first,
          a(3), a(4), a(5), a(6), a(10), a(7), a(8), a(9), a(11))
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      def ms(p: String): Long = phases.get(p).map(_.durationMs).getOrElse(0L)
      lock.synchronized {
        planMs(0) += ms("analysis"); planMs(1) += ms("optimization"); planMs(2) += ms("planning")
        planMs(3) += 1
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      lock.synchronized {
        p.durationMs.asScala.foreach { case (k, v) => streamMs(k) += v.longValue }
        streamMs("batches") += 1
        streamMs("inputRows") += p.numInputRows
      }
    }
  }

  // ---- stack sampler ----
  @volatile private var target: Thread = null
  @volatile private var running = true
  private val sampleLock = new Object
  /** (ns, layer, innermost frame when no layer claimed the sample, ns
    * the stack walk took)
    */
  private val samples = mutable.ArrayBuffer.empty[(Long, String, String, Long)]
  private val sampler = new Thread(() => {
    while (running) {
      val t = target
      if (t != null) {
        val w0 = System.nanoTime()
        val stack = t.getStackTrace
        val ns = System.nanoTime()
        val layer = Tracer.classify(stack)
        val frame = if (layer.isEmpty) Tracer.frameName(stack) else ""
        sampleLock.synchronized { if (target eq t) samples += ((ns, layer, frame, ns - w0)) }
      }
      LockSupport.parkNanos(Tracer.SampleNs)
    }
  }, "perfbench-stack-sampler")
  sampler.setDaemon(true)

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    sampler.start()
  }

  def uninstall(): Unit = {
    running = false
    sampler.join()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  private var opFiles = 0L
  private var opListings = 0L

  /** Start one traced op on the calling thread. */
  def beginOp(): Int = {
    Tracer.drainBus(spark)
    lock.synchronized {
      jobs.clear(); java.util.Arrays.fill(planMs, 0L); streamMs.clear()
    }
    opFiles = HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount
    opListings = HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount
    sampleLock.synchronized { samples.clear(); target = Thread.currentThread() }
    val id = nextId
    nextId += 1
    id
  }

  /** Close the op: stop sampling, collect the listener data received for
    * it and return its counters.
    */
  def endOp(op: Int, kind: String, startNs: Long, endNs: Long,
      extra: Map[String, Double]): Map[String, Double] = {
    val ss = sampleLock.synchronized { target = null; samples.toList }
      .filter(x => x._1 >= startNs && x._1 <= endNs)
    Tracer.drainBus(spark)
    val (js, plan, stream) = lock.synchronized((jobs.toList, planMs.clone(), streamMs.toMap))
    val wall = (endNs - startNs) / 1e9
    val n = ss.size
    val layers = ss.groupBy(_._2).collect { case (l, xs) if l.nonEmpty => l -> wall * xs.size / n }
    val unattributed = ss.filter(_._2.isEmpty).groupBy(_._3).map { case (f, xs) => f -> xs.size }
      .toSeq.sortBy(-_._2).take(8)
    // a job without a recognisable call site belongs to the layer the
    // client thread was in when it was submitted
    def layerAt(ns: Long): String =
      ss.takeWhile(_._1 <= ns).lastOption.orElse(ss.headOption).map(_._2).filter(_.nonEmpty)
        .getOrElse("other")
    val jobSpans = js.map { j =>
      val s = msToNs(j.submitMs)
      (if (j.site.nonEmpty) j.site else layerAt(s), s, math.max(s, msToNs(j.endMs)))
    }
    def rowsOf(layer: String, rows: JobRecord => Long): Double =
      js.zip(jobSpans).filter(_._2._1 == layer).map(j => rows(j._1)).sum.toDouble
    val covered = Tracer.union(jobSpans.map(j => (j._2 max startNs, j._3 min endNs)))
    val orchestrator = Tracer.Orchestrators.toSeq.map(layers.getOrElse(_, 0.0)).sum
    val base = Map(
      "wall_s" -> wall,
      "samples" -> n.toDouble,
      // time the sampler spent walking the op's stack: the most the
      // sampling itself can have held the op up
      "trace.walk_s" -> ss.map(_._4).sum / 1e9,
      // the share of wall time the layers explain: samples in no layer, and
      // in the orchestrator's own frames, are not covered
      "coverage" -> (if (n > 0) (layers.values.sum - orchestrator) / wall else 0.0),
      "exec.jobs" -> js.size.toDouble,
      "exec.stages" -> js.map(_.stages).sum.toDouble,
      "exec.tasks" -> js.map(_.tasks).sum.toDouble,
      "exec.run_s" -> js.map(_.runMs).sum / 1e3,
      "exec.cpu_s" -> js.map(_.cpuNs).sum / 1e9,
      "exec.gc_s" -> js.map(_.gcMs).sum / 1e3,
      "exec.sched_wait_s" -> js.map(j => math.max(0L, j.firstTaskMs - j.submitMs)).sum / 1e3,
      "exec.driver_only_s" -> math.max(0.0, wall - covered / 1e9),
      "scan.input_bytes" -> js.map(_.inputBytes).sum.toDouble,
      "scan.input_rows" -> js.map(_.inputRows).sum.toDouble,
      "shuffle.write_bytes" -> js.map(_.shuffleWrite).sum.toDouble,
      "shuffle.read_bytes" -> js.map(_.shuffleRead).sum.toDouble,
      "exec.spill_bytes" -> js.map(_.spill).sum.toDouble,
      "sizing.input_rows" -> rowsOf("sizing", _.inputRows),
      "write.rows" -> rowsOf("write.data", _.outputRows),
      "catalog.files_listed" ->
        (HiveCatalogMetrics.METRIC_FILES_DISCOVERED.getCount - opFiles).toDouble,
      "catalog.listing_jobs" ->
        (HiveCatalogMetrics.METRIC_PARALLEL_LISTING_JOB_COUNT.getCount - opListings).toDouble,
      "plan.analysis_ms" -> plan(0).toDouble,
      "plan.optimization_ms" -> plan(1).toDouble,
      "plan.physical_ms" -> plan(2).toDouble,
      "plan.executions" -> plan(3).toDouble,
      "stream.latest_offset_ms" -> stream.getOrElse("latestOffset", 0L).toDouble,
      "stream.get_batch_ms" -> stream.getOrElse("getBatch", 0L).toDouble,
      "stream.add_batch_ms" -> stream.getOrElse("addBatch", 0L).toDouble,
      "stream.wal_commit_ms" -> stream.getOrElse("walCommit", 0L).toDouble,
      "stream.batches" -> stream.getOrElse("batches", 0L).toDouble,
      "stream.input_rows" -> stream.getOrElse("inputRows", 0L).toDouble)
    // job seconds per layer: the call-site split (sizing vs write vs listing)
    val byLayer = jobSpans.groupBy(_._1).map { case (l, xs) => s"jobs.$l.s" -> xs.map(j => (j._3 - j._2) / 1e9).sum }
    val all = base ++ byLayer ++ extra
    ops += OpTrace(op, kind, startNs, endNs, n, layers, jobSpans, all, unattributed)
    all
  }
}

object Tracer {
  /** 20 ms. On JDK 17 a stack walk of another thread is a safepoint
    * operation that holds every thread for about 2.5 ms with Spark's deep
    * stacks (the ops' `trace.walk_s`), so at 10 ms the sampler alone held
    * the op up by a fifth; at 20 ms it is about an eighth.
    */
  val SampleNs: Long = 20000000L

  /** Layers that orchestrate other layers; their own frames are not a
    * layer's work, so they do not count toward coverage.
    */
  val Orchestrators = Set("unload")

  /** The layer of one stack sample (innermost frame first), or "" when no
    * layer claims it.
    *
    * The innermost program frame decides: each engine object is a layer,
    * the query modules are one. Where that frame is `Unload` itself, or
    * where no program frame is on the stack (the benchmark calling
    * `count()` on a query's result), the innermost Spark frame above it
    * decides: analysis, optimisation, physical planning and code
    * generation are `plan`; running or waiting for jobs is `exec`.
    * Otherwise the sample is the orchestrator's own time (`unload`) or
    * unclaimed.
    */
  def classify(stack: Array[StackTraceElement]): String = {
    val i = stack.indexWhere(_.getClassName.startsWith("graft."))
    val own = if (i < 0) "" else layerOfProgramFrames(stack.drop(i))
    if (own.nonEmpty && !Orchestrators(own)) own
    else (if (i < 0) stack else stack.take(i)).iterator.map(f => sparkPhase(f.getClassName))
      .find(_.nonEmpty).getOrElse(own)
  }

  private val PlanClasses = Seq("org.apache.spark.sql.catalyst.", "org.codehaus.",
    "org.apache.spark.sql.execution.SparkStrategies", "org.apache.spark.sql.execution.SparkPlanner",
    "org.apache.spark.sql.execution.QueryExecution")
  private val ExecClasses = Seq("org.apache.spark.scheduler.", "org.apache.spark.SparkContext",
    "org.apache.spark.rdd.", "org.apache.spark.sql.execution.")

  private def sparkPhase(cls: String): String =
    if (PlanClasses.exists(cls.startsWith)) "plan"
    else if (ExecClasses.exists(cls.startsWith)) "exec"
    else ""

  /** Layer of the innermost program frame; `frames` starts at it. */
  private def layerOfProgramFrames(frames: Array[StackTraceElement]): String = {
    def obj(f: StackTraceElement) = f.getClassName.stripPrefix("graft.").takeWhile(_ != '$')
    obj(frames(0)) match {
      case "engine.VersionedCatalog" => "catalog"
      case "engine.CdcFilter" | "engine.SqlRewrite" => "view"
      case "engine.Partitioning" => "sizing"
      case "engine.Writers" =>
        if (frames.exists(f => obj(f) == "engine.Writers" &&
            (f.getMethodName.startsWith("writeAudit") || f.getMethodName.startsWith("writeMeta"))))
          "write.audit"
        else "write.data"
      case "engine.VoidScrub" => "write.data"
      case "engine.RunLog" => "runlog"
      case "engine.Recovery" => "recovery"
      case "engine.Unload" => "unload"
      case "streaming.CdcStream" => "stream"
      case o if o.startsWith("queries.") || o.startsWith("ext.") || o == "SparkEntry" => "queries"
      case o => o.stripPrefix("engine.").toLowerCase
    }
  }

  /** The innermost frame outside the JDK and the Scala library. */
  def frameName(stack: Array[StackTraceElement]): String =
    stack.find(f => !Seq("java.", "jdk.", "sun.", "scala.").exists(f.getClassName.startsWith))
      .orElse(stack.headOption).map(f => s"${f.getClassName}.${f.getMethodName}").getOrElse("")

  /** Job → layer by call site. Listing jobs carry Spark's own description;
    * the engine's sizing and writing jobs carry their source file in the
    * stage creation stack.
    */
  def layerOfCallSite(description: String, sites: String): String =
    if (description.startsWith("Listing leaf files")) "catalog"
    else if (sites.contains("(Partitioning.scala:")) "sizing"
    else if (sites.contains("(Writers.scala:")) "write.data"
    else if (sites.contains("(VersionedCatalog.scala:")) "catalog"
    else if (sites.contains("(CdcStream.scala:") || sites.contains("MicroBatchExecution")) "stream"
    else ""

  /** Total length of the union of [start, end) intervals. */
  def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(x => x._2 > x._1).sortBy(_._1).foreach { case (s, e) =>
      if (s > curE) { if (curE > curS) total += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    if (curE > curS) total += curE - curS
    total
  }

  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchBus.waitUntilEmpty(spark.sparkContext)
}
