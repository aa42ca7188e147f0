package graft

import java.nio.file.{Files, Path, Paths}

import org.scalatest.funsuite.AnyFunSuite

/** A source scan of `src/main/scala` over a table of forbidden tokens, each
  * allowed only where its one owner lives:
  *   - a hand-rolled memo map, a session key built from
  *     `System.identityHashCode` (a hash, not an identity) or a file-mtime
  *     pin (the stream-input stager) only in Staging.scala — a new staged
  *     artifact goes through `Staging.dir`, `Staging.frame`,
  *     `Staging.frameWith`, `Staging.inSession` or `Staging.streamInput`;
  *   - `Trigger.AvailableNow()` only in CdcStream.scala — a bounded stream
  *     runs through `CdcStream.drain`;
  *   - `conf.set(` / `conf.unset(` in `graft/queries` and `graft/ext` only
  *     in Tables.scala (the fixture-read confs): a query never changes its
  *     caller's session conf;
  *   - `read.parquet(` anywhere but Tables.scala — a fixture read goes
  *     through `Staging.table`, which resolves each table once per session.
  */
class StagingAuditSpec extends AnyFunSuite {

  private val Root = Paths.get("src/main/scala")
  private def named(file: String)(p: Path): Boolean = p.getFileName.toString == file
  private def outsideQueryLayers(p: Path): Boolean = {
    val rel = Root.relativize(p)
    !rel.startsWith("graft/queries") && !rel.startsWith("graft/ext")
  }
  private def confAllowed(p: Path): Boolean = outsideQueryLayers(p) || named("Tables.scala")(p)

  /** token → where it may appear */
  private val Forbidden: Seq[(String, Path => Boolean)] = Seq(
    "ConcurrentHashMap" -> named("Staging.scala"),
    "identityHashCode" -> named("Staging.scala"),
    "setLastModifiedTime" -> named("Staging.scala"),
    "Trigger.AvailableNow()" -> named("CdcStream.scala"),
    "conf.set(" -> confAllowed,
    "conf.unset(" -> confAllowed,
    "read.parquet(" -> (p => !named("Tables.scala")(p)))

  test("forbidden tokens appear only in the file the table allows") {
    import scala.jdk.CollectionConverters._
    val stream = Files.walk(Root)
    val hits =
      try stream.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .flatMap { p =>
          Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if Forbidden.exists { case (tok, ok) => line.contains(tok) && !ok(p) } =>
              s"$p:${i + 1}: ${line.trim}"
          }
        }
        .toList
      finally stream.close()
    // a moved source root or owner file would turn the scan vacuous
    Seq("graft/queries/Staging.scala", "graft/queries/Tables.scala",
      "graft/streaming/CdcStream.scala").foreach(f => assert(Files.exists(Root.resolve(f)), f))
    assert(hits.isEmpty, "forbidden token outside its owner:\n" + hits.mkString("\n"))
  }
}
