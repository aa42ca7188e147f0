package graft

import org.scalatest.funsuite.AnyFunSuite

/** Keeps `graft.queries.Staging` the ONLY artifact cache: a source scan of
  * `src/main/scala` that fails on a hand-rolled memo map, a session key
  * built from `System.identityHashCode` (a hash, not an identity), or a
  * file-mtime pin (the stream-input stager) anywhere outside Staging.scala.
  * A new staged artifact goes through `Staging.dir`, `Staging.frame`,
  * `Staging.frameWith`, `Staging.inSession` or `Staging.streamInput`.
  */
class StagingAuditSpec extends AnyFunSuite {

  private val Root = java.nio.file.Paths.get("src/main/scala")
  private val Forbidden = Seq("ConcurrentHashMap", "identityHashCode", "setLastModifiedTime")

  test("no artifact memo, identity-hash key or mtime stager outside Staging.scala") {
    import scala.jdk.CollectionConverters._
    val stream = java.nio.file.Files.walk(Root)
    val hits =
      try stream.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") &&
          p.getFileName.toString != "Staging.scala")
        .flatMap { p =>
          java.nio.file.Files.readAllLines(p).asScala.zipWithIndex.collect {
            case (line, i) if Forbidden.exists(line.contains) => s"$p:${i + 1}: ${line.trim}"
          }
        }
        .toList
      finally stream.close()
    // a moved source root would turn the scan vacuous
    assert(java.nio.file.Files.exists(Root.resolve("graft/queries/Staging.scala")))
    assert(hits.isEmpty,
      "artifact caching outside the Staging registry:\n" + hits.mkString("\n"))
  }
}
