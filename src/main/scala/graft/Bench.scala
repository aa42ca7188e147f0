package graft
import graft.engine.Json.{quote => q}

object Bench {

  /** `/proc/loadavg` snapshot (1/5/15-min load) — recorded in the output so
    * an environmental outlier (a busy machine inflating timings, as in the
    * round-3 record) is self-diagnosing rather than indistinguishable from
    * a code regression.
    */
  private def loadavg: String =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.trim finally src.close()
    } catch { case _: Throwable => "" }

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** Per-query regression baseline: `tools/bench_prev.json` holds the last
    * FULL (unfiltered) run's per-query seconds, keyed by sf dir so a local
    * sf0.01 iteration can never masquerade as the sf0.1 record. The file is
    * committed with the repo, so the driver's per-round bench diffs against
    * the previous round's map and the tripwire travels in the artifact
    * itself — a q86-style drift is flagged by the bench output, not found by
    * a judge-side re-run.
    *
    * Shape: {"<sfDir>": {"<query>": seconds, ...}, ...} — flat, numbers
    * only, written by this object; parsed with a two-level regex rather
    * than a JSON dependency (build.sbt's dependency set is pinned).
    *
    * The COMMITTED map may be the per-query MEDIAN of several same-day
    * full idle runs (tools/median_bench_maps.py, same shape): a single
    * run is the wrong tripwire reference on a box with bursty background
    * load — a ~10 s contention window inflates ADJACENT sub-second
    * queries 3-5× (all three in-JVM trials of a 0.2 s query fit inside
    * one window, so the per-query trial median cannot see it), and two
    * idle runs cross-flag each other ~25× purely on window placement.
    * The cross-run median cancels placement; any later full idle run
    * still overwrites the file normally.
    */
  private val prevPath = java.nio.file.Paths.get("tools/bench_prev.json")

  private[graft] def readPrev(
      path: java.nio.file.Path = prevPath): Map[String, Map[String, Double]] =
    if (!java.nio.file.Files.exists(path)) Map.empty
    else {
      val text = new String(java.nio.file.Files.readAllBytes(path),
        java.nio.charset.StandardCharsets.UTF_8)
      val block = """"([^"{}]+)"\s*:\s*\{([^{}]*)\}""".r
      // '-' INSIDE the class too: a scientific-notation value with a
      // negative exponent ("1e-05") would otherwise truncate at the 'e-'
      // and toDouble would throw, killing the whole baseline load
      val entry = """"([^"]+)"\s*:\s*(-?[0-9.eE+-]+)""".r
      block.findAllMatchIn(text).map { m =>
        m.group(1) -> entry.findAllMatchIn(m.group(2))
          .map(e => e.group(1) -> e.group(2).toDouble).toMap
      }.toMap
    }

  private[graft] def writePrev(
      all: Map[String, Map[String, Double]],
      path: java.nio.file.Path = prevPath): Unit = {
    val body = all.toSeq.sortBy(_._1).map { case (sf, qs) =>
      // plain decimal, never scientific: a sub-1e-4 double renders as
      // "1.0E-5" under toString, which older readPrev regexes truncated
      val inner = qs.toSeq.sorted.map { case (k, v) =>
        s"${q(k)}:${BigDecimal(v).bigDecimal.toPlainString}"
      }.mkString(",")
      s"${q(sf)}:{$inner}"
    }.mkString(",")
    java.nio.file.Files.write(path, s"{$body}\n".getBytes(
      java.nio.charset.StandardCharsets.UTF_8))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // Per-query trial count: the reported number is the MEDIAN of n in-JVM
    // runs, which survives a transient load spike on one trial (a single
    // timing cannot distinguish "slow plan" from "busy machine").
    val trials = sys.env.getOrElse("SPARK_GRAFT_TRIALS", "3").toInt.max(1)
    // optional comma-separated name filter for local iteration; the driver
    // sets no filter and benches everything
    val only = SparkEntry.only(sys.env.get("SPARK_GRAFT_ONLY"))
    val spark = LocalSession()
    // Untimed warmup: JVM/JIT + parquet reader + the shared hash/vector
    // kernels. Without it, 5-10 s of one-time compilation lands on whichever
    // query happens to run first, making per-query numbers incomparable
    // across rounds. Queries then run in sorted order (deterministic).
    try {
      import org.apache.spark.sql.functions._
      import graft.functions.GraftFunctions._
      val params = graft.ext.Dedup.hashParams(16)
      graft.queries.Tables.documents(spark, sfDir).limit(256)
        .select(col("doc_id"),
          md5Longs(split(lower(col("text")), " "), 12).as("h"),
          md5Longs(charShingles(lower(col("text")), 5), 15).as("hs"))
        .select(col("doc_id"), simhashPack(col("h")).as("s"),
          minhashSig(col("hs"), params.map(_.a), params.map(_.b),
            graft.ext.Dedup.Mersenne31).as("sig"))
        .agg(sum("s"), sum(element_at(col("sig"), 1))).count()
      graft.queries.Tables.embeddings(spark, sfDir).limit(256)
        .select(vecNorm(col("embedding")).as("n"),
          vecDot(col("embedding"), col("embedding")).as("d"))
        .agg(sum("n"), sum("d")).count()
    } catch { case _: Throwable => () }
    val loadBefore = loadavg
    // A query that THROWS must never look like a win: a plan-time failure
    // returns in milliseconds, and silently recording that as its "time"
    // once let 29 broken queries IMPROVE a headline total (round 7). Each
    // query carries an explicit err flag; errored queries are excluded from
    // the total and counted separately, and their `sec` is the median of
    // the SUCCESSFUL trials only (omitted when every trial failed) — a
    // near-instant failure trial must not dilute a real timing.
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .map { case (name, fn) =>
        var err: Option[String] = None
        val okTimes = (1 to trials).flatMap { _ =>
          // One query's pinned blocks must not tax the next trial/query:
          // drop every cached plan so each timing starts from parquet.
          spark.catalog.clearCache()
          val t0 = System.nanoTime()
          val failed =
            try { fn(spark, sfDir).count(); false } catch {
              case e: Throwable =>
                err = Some(Option(e.getMessage).getOrElse(e.getClass.getName)
                  .take(160))
                true
            }
          if (failed) None else Some((System.nanoTime() - t0) / 1e9)
        }
        (name, if (okTimes.nonEmpty) Some(median(okTimes)) else None, err)
      }
    val loadAfter = loadavg
    // 1-min loadavg at START > 3 ⇒ the box was already busy before the first
    // trial; timings from such a run are environment, not code (round-11
    // driver run: loadavg 8.3, uniform ~1.3x inflation, zero code deltas).
    val hotStart = loadBefore.split("\\s+").headOption
      .flatMap(s => scala.util.Try(s.toDouble).toOption).exists(_ > 3.0)
    // The driver's record keeps only the LAST 2000 CHARS of stdout, so the
    // layout is truncation-proof by construction: per-query detail lines
    // stream FIRST (losing the earliest of them costs nothing that
    // matters), and the one headline line — total + positional per-query
    // seconds + tripwire flags + load — is printed LAST and kept under the
    // window, so the final line alone is a complete, per-query-auditable
    // record.
    results.foreach {
      case (k, Some(v), None)    => println(s"""{"query":${q(k)},"sec":$v}""")
      case (k, sec, Some(m)) =>
        val secPart = sec.map(v => s""""sec":$v,""").getOrElse("")
        println(s"""{"query":${q(k)},${secPart}"err":true,"msg":${q(m)}}""")
      case (k, None, None) => // unreachable: no error implies >=1 ok trial
        println(s"""{"query":${q(k)},"err":true,"msg":"no successful trial"}""")
    }
    val ok = results.collect { case (k, Some(v), None) => (k, v) }
    val errored = results.filter(_._3.nonEmpty)
    val total = ok.map(_._2).sum
    val errList = errored.map(r => q(r._1)).mkString("[", ",", "]")
    // The driver's artifact keeps only the LAST 2000 chars of stdout, so a
    // 139-entry NAMED map (~5 KB) would truncate its own headline. The
    // per-query record rides as a POSITIONAL 3-dp array in sorted benched-
    // name order (~6 chars/query): names are recoverable from
    // `sorted(SparkEntry.queries.keys)` at the recorded commit, which the
    // artifact's round always pins. The full NAMED full-precision map is
    // committed in tools/bench_prev.json for human-friendly audits.
    def s3(v: Double): String = String.format(java.util.Locale.ROOT, "%.3f", v)
    val qSec = results.map {
      case (_, Some(v), None) => s3(v)
      case _ => "null" // errored query: position kept so the order stays aligned
    }.mkString("[", ",", "]")
    // Regression tripwire: diff this run against the previous FULL run at
    // the same sf. Flag ratio > 1.3 with a 0.15 s absolute floor (a 90 ms →
    // 120 ms wobble is scheduler noise, not a drift worth a flag line).
    val prevAll = try readPrev() catch { case _: Throwable => Map.empty[String, Map[String, Double]] }
    val prev = prevAll.getOrElse(sfDir, Map.empty)
    val flagged = ok.flatMap { case (k, v) =>
      prev.get(k).filter(p => v > p * 1.3 && v - p > 0.15).map(p => (k, p, v))
    }
    flagged.foreach { case (k, p, v) =>
      println(f"""{"regression":${q(k)},"prev":$p,"cur":$v,"ratio":${v / p}%.2f}""")
    }
    // Stage-level attribution for the flagship pipeline (the single most
    // expensive query): one extra untimed-by-the-trials pass, printed in
    // the survivor zone so a q102 regression localizes to a stage straight
    // from the artifact. Skipped on filtered runs that exclude q102.
    if (only.forall(_.contains("q102_curation_pipeline")) &&
        SparkEntry.queries.contains("q102_curation_pipeline")) {
      try {
        val stages = graft.ext.ExtQueries.q102StageBreakdown(spark, sfDir)
        val body = stages.map { case (k, v) => s"${q(k)}:$v" }.mkString(",")
        println(s"""{"stage_timing":"q102_curation_pipeline","stages":{$body}}""")
      } catch { case e: Throwable =>
        System.err.println(s"[bench] q102 stage breakdown failed: ${e.getMessage}")
      }
    }
    // Headline budget: stay comfortably under the 2000-char artifact tail.
    // Worst case (loaded box vs idle baseline) every query could flag, so
    // the in-line flagged map carries only the worst 5 by ratio (8 truncated
    // mid-JSON inside the r12 tail once 13 flagged); the full set streams
    // above as individual regression lines and n_flagged keeps the true
    // count.
    val worstFlagged = flagged.sortBy { case (k, p, v) => -(v / p) }.take(5)
    val flagMap = worstFlagged
      .map { case (k, p, v) => s"${q(k)}:{${q("prev")}:${s3(p)},${q("cur")}:${s3(v)}}" }
      .mkString("{", ",", "}")
    // NAMED per-query map — the driver-contract "queries" object
    // ({"name": sec, ...}). The positional qsec array kept the headline
    // small but left the driver's PERF per-query/scaling comparison with
    // nothing to map times onto (two rounds of `n_common: 0`). Two tiers:
    // the long "total" line carries the FULL map (for full-stdout parsers
    // and human audits; it already exceeded the tail window), and the
    // final short line carries the TOP entries by time, budget-capped so
    // the one guaranteed-complete JSON line inside a 2000-char stdout
    // tail still maps the queries that dominate the total. Additions
    // only: qsec/qsec_order and every existing field stay as they were.
    def qMap(entries: Seq[(String, Double)]): String =
      entries.map { case (k, v) => s"${q(k)}:${s3(v)}" }.mkString("{", ",", "}")
    val fullQueryMap = qMap(ok)
    val topBudgetChars = 1400 // chars of map body in the short line
    val topEntries = {
      val desc = ok.sortBy { case (k, v) => (-v, k) }
      val b = Seq.newBuilder[(String, Double)]
      var used = 2 // braces
      var full = true
      desc.foreach { case (k, v) =>
        val cost = k.length + 4 + s3(v).length
        if (full && used + cost <= topBudgetChars) { b += ((k, v)); used += cost }
        else full = false
      }
      b.result()
    }
    // Verdict-critical scalars (value/n_err/n_queries) go AFTER the long
    // qsec array: the driver's stdout tail keeps the SUFFIX of a truncated
    // headline, so the end of the line must carry the round total (round-9
    // verdict item 4 — r09's leading "value" field was truncated away).
    println(s"""{"metric":"total","unit":"sec","err_queries":$errList,"queries":$fullQueryMap,"qsec":$qSec,"qsec_order":"sorted benched query names","flagged":$flagMap,"n_flagged":${flagged.size},"prev_recorded":${prev.nonEmpty},"sf":${q(sfDir)},"trials":$trials,"load_before":${q(loadBefore)},"load_after":${q(loadAfter)},"n_queries":${ok.size},"n_err":${errored.size},"value":$total}""")
    // The full headline has outgrown the driver's fixed capture window (368
    // qsec entries ≈ 3 KB > the 2000-char tail), so the captured text starts
    // mid-array and never parses as JSON. This SHORT summary line is printed
    // LAST: it fits whole inside any window that includes end-of-output
    // regardless of how large the query surface grows, so the driver always
    // has one complete parseable JSON line. The long line above stays for
    // human per-query audits; the named map persists in tools/bench_prev.json.
    println(s"""{"metric":"total_short","unit":"sec","queries":${qMap(topEntries)},"n_queries_in_map":${topEntries.size},"value":$total,"n_queries":${ok.size},"n_err":${errored.size},"n_flagged":${flagged.size},"sf":${q(sfDir)},"baseline":${q(if (hotStart) "hot-diverted" else "idle")},"load_after":${q(loadAfter)}}""")
    // Record this run as the next baseline — only a FULL (unfiltered) run
    // qualifies, and only its own sf's entry is replaced, so a filtered or
    // small-sf local iteration can never clobber the sf0.1 record. A run
    // started on a BUSY box (1-min loadavg > 3 — round 11's driver run
    // started at 8.3 and poisoned the committed tripwire baseline with
    // uniformly-inflated timings) is diverted to a side file instead: the
    // committed idle map stays honest mechanically, not by hand-reverting.
    if (only.isEmpty && errored.isEmpty) {
      // Median-map protection: the committed baseline may be the per-query
      // MEDIAN of several idle runs (tools/median_bench_maps.py) — the best
      // tripwire reference this box produces. A SINGLE idle run whose total
      // over the shared query set shifts >10% from that map is either a
      // real perf change (re-record deliberately via >=3 runs through the
      // median tool, or SPARK_GRAFT_BASELINE_FORCE=1) or an environmental
      // drift — either way it must not silently clobber the cross-run
      // median, so it diverts to a candidate side file instead.
      val newMap = ok.toMap
      val shared = prev.keySet.intersect(newMap.keySet)
      val prevShared = shared.toSeq.map(prev).sum
      val curShared = shared.toSeq.map(newMap).sum
      val force = sys.env.get("SPARK_GRAFT_BASELINE_FORCE").exists(_.nonEmpty)
      val shifted = shared.nonEmpty && prevShared > 0 &&
        math.abs(curShared - prevShared) > 0.10 * prevShared
      val target =
        if (hotStart) java.nio.file.Paths.get("tools/bench_prev.hot.json")
        else if (shifted && !force)
          java.nio.file.Paths.get("tools/bench_prev.candidate.json")
        else prevPath
      if (hotStart)
        System.err.println(s"[bench] loadavg at start ($loadBefore) > 3: " +
          "baseline diverted to tools/bench_prev.hot.json; committed idle map untouched")
      else if (shifted && !force)
        System.err.println(f"[bench] shared-query total ${curShared}%.1f s vs " +
          f"committed ${prevShared}%.1f s (>10%% shift): baseline diverted to " +
          "tools/bench_prev.candidate.json; re-record via tools/median_bench_maps.py " +
          "over >=3 idle runs, or SPARK_GRAFT_BASELINE_FORCE=1 to overwrite")
      // Diverted writes (hot/candidate side files) MERGE into the target's
      // existing content: two consecutive diverted runs at DIFFERENT sf dirs
      // must both survive in the side file — basing the write on the
      // committed map alone silently discarded the first sf's candidate.
      // Committed-map entries fill sfs the side file has never seen.
      val base = if (target == prevPath) prevAll else prevAll ++ readPrev(target)
      try writePrev(base + (sfDir -> newMap), target)
      catch { case e: Throwable =>
        System.err.println(s"[bench] could not write ${target}: ${e.getMessage}")
      }
    }
    spark.stop()
    // loud (stderr) but non-fatal: exiting non-zero could cost the whole
    // bench artifact depending on how the caller wires the run; the
    // err:true rows + n_err/err_queries in the headline are the record
    if (errored.nonEmpty)
      System.err.println(s"[bench] ${errored.size} queries FAILED: " +
        errored.map(_._1).mkString(", "))
  }
}
