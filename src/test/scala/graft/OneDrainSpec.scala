package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: `streaming.Drain` is the only code that runs a stream to
  * completion (`Trigger.AvailableNow`, a per-batch callback, the await)
  * and its sinks are parquet directories the artifact store records. A
  * memory sink keeps every output row on the driver; a hand-written
  * start/await block picks its own sink and its own cleanup.
  */
class OneDrainSpec extends AnyFunSuite {
  private val bypass = """format\("memory"\)|foreachBatch|Trigger\.AvailableNow|awaitTermination""".r

  test("only streaming/Drain.scala drains a stream or opens a memory sink") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filterNot(_.endsWith(Paths.get("streaming", "Drain.scala"))).toSeq
    assert(sources.nonEmpty)
    val hits = for {
      p: Path <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if bypass.findFirstIn(line).isDefined
    } yield s"$p:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, hits.mkString("\n", "\n", ""))
  }
}
