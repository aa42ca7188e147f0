package graft.queries

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.{BasicFileAttributes, FileTime}
import java.util.concurrent.locks.ReentrantLock

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.sources.BaseRelation

/** The staging registry: the ONE cache for every artifact the query surface
  * stages once and reuses (dedup sketches, PQ/IVF models, ANN exact sides,
  * graph edge sets, authored CDF catalogs, round-trip fixtures, streaming
  * input dirs). A production pipeline authors such an artifact once per
  * corpus version and every analysis reads it; here the corpus version is
  * the fixture dir, and the registry owns the memo, the key, the scale gate
  * and the timing line that each artifact used to hand-roll.
  *
  * Entry points:
  *
  *   - [[dir]] — a DIRECTORY artifact, built once per JVM per
  *     (name, fixture dir) into [[Scratch.stableDir]] `<name>-<md5(dir)>`.
  *     The build writes into the directory it is handed; a build that
  *     throws memoizes nothing, and the retry starts from an emptied dir.
  *   - [[frame]] / [[frameWith]] — a RELATION artifact behind the scale
  *     gate: parquet (a [[dir]] artifact, read back through [[table]] by
  *     the caller's session) when the gating fixture table is at least
  *     `graft.staging.minBytes`, else an in-memory `localCheckpoint`.
  *     [[frameWith]] carries a driver-side value next to the frame (PQ
  *     codebooks, IVF centroids). Checkpoint blocks die with their session,
  *     so in-memory entries are keyed by the `SparkSession` object itself.
  *   - [[inSession]] — a value tied to one session, such as tables in its
  *     catalog (q110's bucketed fixture).
  *   - [[table]] — a parquet table's relation (file index plus inferred
  *     schema), resolved once per (session, path) and checked on every call
  *     against one driver-side listing of the path. Every fixture read
  *     ([[Tables.t]]) and every staged read-back goes through it.
  *   - [[streamInput]] — a streaming-gate input dir: each frame becomes ONE
  *     parquet file, each file's mtime pinned 10 s after the previous one,
  *     because the file stream source orders by modification time and a
  *     coarse-mtime tie could batch a later file first.
  *
  * '''Scale gate''' — parquet staging is a FIXED cost (write job + footer
  * reads on every consumer) that only amortizes when the derivation it
  * replaces is meaningfully more expensive. Below the threshold the frame
  * is computed exactly once per session by the very same plan — the
  * staged≡fresh specs and every DuckDB oracle are untouched — with zero
  * parquet round-trip. The mirror of the reference's `target_partitions`
  * mode, which exists to skip a count job the workload size doesn't
  * justify (unload_databricks_data_to_s3.py:232-236). The gate reads
  * FILESYSTEM metadata only: the byte-sum of the listing [[table]] checks
  * its entries with. `graft.staging.minBytes` (default 256 KiB) lets specs
  * force either path: the driver fixtures sit at ~65 KB (documents) /
  * ~190 KB (embeddings) for sf≤0.01 vs ~595 KB / ~800 KB at sf0.1.
  *
  * '''Observability''' — every build logs ONE stderr line
  * `[stage] name=<artifact> sec=<s>`, so a flagged bench number on a staged
  * query decomposes from logs alone into the one-time build and the
  * steady-state serve path. A nested build's line is printed first and
  * its time is included in its consumer's line.
  *
  * '''Nesting''' — artifacts build from other artifacts (trade-edges-sym
  * from trade-edges, q99's input from q64's catalog, the dedup pairs from
  * the bands). Builds therefore run outside any map update: one reentrant
  * lock around a plain map, held across the build, serializes builders
  * (the driver runs queries one at a time) and lets a nested lookup
  * re-enter. Nothing is evicted: every main stops its context only at exit.
  */
object Staging {

  /** Default byte threshold below which frame artifacts stay in memory. */
  val DefaultMinBytes: Long = 256L * 1024

  /** One driver-side listing of a dir (or file): every regular file under
    * it with its length and mtime, sorted by path; empty when the local
    * file system has nothing at `path`. Metadata only: no Spark job, no
    * file opened. */
  private def listing(path: String): Vector[(String, Long, Long)] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) Vector.empty
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.flatMap { f =>
        val a = Files.readAttributes(f, classOf[BasicFileAttributes])
        if (a.isRegularFile) Some((f.toString, a.size, a.lastModifiedTime.toMillis)) else None
      }.toVector.sortBy(_._1)
      finally s.close()
    }
  }

  /** Recursive byte-sum of a fixture dir/file — filesystem metadata only. */
  def pathBytes(path: String): Long = listing(path).iterator.map(_._2).sum

  /** The gate knob — read per call (NOT cached) so a spec can flip the
    * property and exercise both paths inside one JVM. */
  def minStageBytes: Long =
    sys.props.get("graft.staging.minBytes").map(_.toLong)
      .getOrElse(DefaultMinBytes)

  /** Should this fixture table be staged to parquet (true) or held as an
    * in-memory localCheckpoint (false)? */
  def stageToParquet(tableDir: String): Boolean =
    pathBytes(tableDir) >= minStageBytes

  /** Registry key: `session` is set only for entries whose value dies with
    * the session (checkpointed frames, session-catalog tables). */
  private final case class Key(name: String, dir: String, session: Option[SparkSession])

  private val lock = new ReentrantLock()
  private val memo = mutable.HashMap.empty[Key, Any]

  private def once[T](key: Key, label: String)(build: => T): T = {
    lock.lock()
    try memo.get(key) match {
      case Some(v) => v.asInstanceOf[T]
      case None =>
        val v = timed(label)(build)
        memo(key) = v
        v
    } finally lock.unlock()
  }

  private def timed[T](name: String)(build: => T): T = {
    val t0 = System.nanoTime()
    val r = build
    // stderr, not stdout: Bench's stdout is a parsed JSON contract
    System.err.println(
      f"[stage] name=$name sec=${(System.nanoTime() - t0) / 1e9}%.2f")
    r
  }

  private def stagedDir[V](name: String, dir: String)(build: String => V): (V, String) =
    once(Key(name, dir, None), name) {
      val out = Scratch.stableDir(s"$name-${Scratch.md5Hex(dir)}")
      (build(out), out)
    }

  /** A directory artifact: `build` fills the directory it is handed, once
    * per JVM per (name, fixture dir); returns the directory. */
  def dir(name: String, dir: String)(build: String => Unit): String =
    stagedDir(name, dir)(build)._2

  /** A value tied to one session (e.g. tables in its catalog), built once
    * per (name, fixture dir, session). */
  def inSession[T](name: String, spark: SparkSession, dir: String)(build: => T): T =
    once(Key(name, dir, Some(spark)), name)(build)

  /** A parquet table at `path`, read by `spark`. The relation — the file
    * index plus the schema inferred from a footer, i.e. the listing and the
    * one-task schema job of a `spark.read.parquet` — is resolved on the
    * first call per (session, path) and reused while the path's listing
    * (file names, lengths, mtimes) stays the same; a changed listing
    * resolves again and replaces the entry. Each call wraps the relation in
    * a new plan with fresh attribute ids, so two calls behave as two
    * separate reads (self-joins, Dataset-qualified columns). The relation
    * carries its session, whose conf at resolve time fixed the inferred
    * schema (`Tables.t` sets `nanosAsLong` before it resolves), hence one
    * entry per session. A path the listing cannot see — absent, or not on
    * the local file system — is a plain read on every call, so a missing
    * table fails with Spark's PATH_NOT_FOUND as before. */
  def table(spark: SparkSession, path: String): DataFrame = {
    val files = listing(path)
    if (files.isEmpty) spark.read.parquet(path)
    else {
      val key = Key("table", path, Some(spark))
      lock.lock()
      val relation = try memo.get(key) match {
        case Some((`files`, r: BaseRelation)) => r
        case _ =>
          val r = spark.read.parquet(path).queryExecution.analyzed
            .collectFirst { case l: LogicalRelation => l.relation }.get
          memo(key) = (files, r)
          r
      } finally lock.unlock()
      spark.baseRelationToDataFrame(relation)
    }
  }

  /** A relation artifact gated on `$dir/$gateTable.parquet`: parquet read
    * back through [[table]] by `spark` above the gate, a per-session
    * localCheckpoint below. */
  def frame(name: String, spark: SparkSession, dir: String, gateTable: String)(
      fresh: => DataFrame): DataFrame =
    frameWith(name, spark, dir, gateTable)(((), fresh))._2

  /** [[frame]] with a driver-side value built alongside the relation. */
  def frameWith[V](name: String, spark: SparkSession, dir: String, gateTable: String)(
      build: => (V, DataFrame)): (V, DataFrame) =
    if (stageToParquet(s"$dir/$gateTable.parquet")) {
      val (v, out) = stagedDir(name, dir) { out =>
        val (v, df) = build
        df.write.mode("overwrite").parquet(out)
        v
      }
      (v, table(spark, out))
    } else inSession(s"$name-mem", spark, dir) {
      val (v, df) = build
      (v, df.localCheckpoint())
    }

  /** A streaming-gate input dir: batch `i` is written as the single file
    * `<letter>_batch<i+1>.parquet`, its mtime pinned 10 s after batch
    * `i-1`'s, so a `maxFilesPerTrigger = 1` file source replays the batches
    * in order. Built once per JVM per (name, fixture dir). */
  def streamInput(name: String, dir: String)(batches: => Seq[DataFrame]): String =
    this.dir(s"$name-in", dir) { in =>
      batches.zipWithIndex.foldLeft(Option.empty[Long]) { case (prevMtime, (batch, i)) =>
        val tmp = Scratch.stableDir(s"$name-batch")
        batch.coalesce(1).write.mode("overwrite").parquet(tmp)
        val part = new java.io.File(tmp).listFiles()
          .find(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("_")).get
        val file = Files.copy(part.toPath,
          Paths.get(in, s"${('a' + i).toChar}_batch${i + 1}.parquet"))
        prevMtime.foreach(t => Files.setLastModifiedTime(file, FileTime.fromMillis(t + 10000)))
        Some(Files.getLastModifiedTime(file).toMillis)
      }
      ()
    }
}
