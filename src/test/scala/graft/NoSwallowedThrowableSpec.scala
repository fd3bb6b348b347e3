package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: a failure in the engine, the bench or the verifier must
  * be loud. `case _: Throwable` binds nothing, so whatever it catches
  * (an OOM, an interrupt, a query's real exception) is discarded
  * unseen; catch `NonFatal(e)` and report `e` instead.
  */
class NoSwallowedThrowableSpec extends AnyFunSuite {
  private val discarded = """case\s+_\s*:\s*Throwable\b""".r

  test("no source file under src/main/scala discards a caught Throwable") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty)
    val hits = for {
      p: Path <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if discarded.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
