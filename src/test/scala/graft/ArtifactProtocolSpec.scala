package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: a persisted store is declared as one `Artifact` value
  * and published only by `ArtifactStore` (staged build, compaction,
  * `_SUCCESS`, rename). A builder that writes its own `_SUCCESS`, or a
  * caller that addresses a store by a hand-built (kind, sources, sub)
  * key, bypasses that protocol.
  */
class ArtifactProtocolSpec extends AnyFunSuite {
  private val bypass = """"_SUCCESS"|ArtifactStore\.resolve\(|resolveExisting\(""".r

  test("only sources/ArtifactStore.scala publishes a store or resolves one by key") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("sources", "ArtifactStore.scala"))).toSeq
    assert(sources.nonEmpty)
    val hits = for {
      p: Path <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if bypass.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
