package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source lint: every environment variable the engine reads is one of a
  * fixed set. A new knob is a new configuration for every test and
  * benchmark to cover, so adding one means changing this list on purpose.
  */
class EnvKnobSpec extends AnyFunSuite {
  private val allowed = Set(
    "SPARK_GRAFT_SF_DIR", "SPARK_GRAFT_CPUS", "GRAFT_BENCH_ONLY", "GRAFT_VERIFY_ONLY",
    "GRAFT_ANN_TRAIN", "GRAFT_CENTROID_PATH", "GRAFT_PQ_PATH")
  private val read = """sys\.env|System\.getenv""".r
  private val key = """(?:sys\.env(?:\.get|\.getOrElse|\.contains|\.apply)?|System\.getenv)\s*\(\s*"([^"]*)"""".r

  test("src/main/scala reads only the allowed environment variables, each by a literal key") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repository root: $root not found")
    val sources = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    assert(sources.nonEmpty)
    val reads = for {
      p: Path <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if read.findFirstIn(line).isDefined
    } yield (s"$p:${i + 1}: ${line.trim}", key.findAllMatchIn(line).map(_.group(1)).toSeq)
    val bad = reads.collect { case (where, keys) if keys.isEmpty || !keys.forall(allowed) => where }
    assert(bad.isEmpty, bad.mkString("\n", "\n", ""))
    assert(reads.flatMap(_._2).toSet == allowed)
  }
}
