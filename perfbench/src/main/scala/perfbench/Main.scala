package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

/** Benchmark JVM entry point. `run.py` builds this project, then calls
  *
  * {{{
  * Main run <workload> <seed> <seconds> <trace 0|1> <workDir> <cacheDir> <resultFile>
  * Main fixtures <dataDir>                 # write the query fixtures (seed 42)
  * Main fingerprint <dataDir> <q1,q2,...>   # fingerprints, warm and first-run seconds
  * }}}
  *
  * Results go to `resultFile`, never to stdout: the program's run log
  * prints plans and log lines to stdout, which must not be able to corrupt
  * the figures.
  */
object Main {

  /** `local[n]` over the CPUs this JVM sees; `run.py` starts it with half
    * the machine's.
    */
  def session(work: String): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/spark-local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "run" :: workload :: seed :: seconds :: trace :: work :: cache :: out :: Nil =>
      val spark = session(work)
      val result =
        try Workloads.run(spark, workload, seed.toLong, seconds.toDouble, trace == "1", work, cache)
        finally spark.stop()
      Files.write(Paths.get(out), Json.render(result).getBytes(StandardCharsets.UTF_8))
    case "fixtures" :: dir :: Nil =>
      val spark = session(dir + "/_work")
      try Gen.fixtures(spark, Workloads.FixtureSeed, dir) finally spark.stop()
    case "fingerprint" :: dir :: names :: Nil =>
      val spark = session(dir + "/_work")
      try names.split(",").foreach { n =>
        val fn = graft.SparkEntry.queries(n)
        spark.catalog.clearCache()
        val c0 = System.nanoTime()
        val fp = Check.fingerprint(fn(spark, dir))
        val cold = (System.nanoTime() - c0) / 1e9
        val secs = (1 to 3).map { _ =>
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          fn(spark, dir).count()
          (System.nanoTime() - t0) / 1e9
        }
        println(s"FINGERPRINT $n ${fp._1} ${fp._2} ${Stats.median(secs)} $cold")
      } finally spark.stop()
    case _ =>
      System.err.println("usage: Main run <workload> <seed> <seconds> <trace> <work> <cache> <out>")
      sys.exit(2)
  }
}

/** Minimal JSON rendering for the result file (maps, sequences, numbers,
  * strings, booleans).
  */
object Json {
  def q(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def render(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => render(x)
    case s: String => q(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.toSeq.sortBy(_._1.toString).map { case (k, x) => q(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case other => q(other.toString)
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
    }

  /** CPU time of this JVM, all threads. */
  def processCpuNs: Long = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  /** Peak resident set of this JVM, from the kernel's high-water mark. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().collectFirst {
      case l if l.startsWith("VmHWM:") => l.split("\\s+")(1).toDouble / 1024.0
    }.getOrElse(Double.NaN)
    finally src.close()
  }
}
