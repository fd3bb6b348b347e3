package graft

import org.scalatest.funsuite.AnyFunSuite
import org.json4s._
import org.json4s.jackson.JsonMethods.parse
import graft.Bench.Timed

/** Bench's stdout JSON line: with every query ok, each of the three
  * length variants is byte-identical to the three hand-kept templates
  * the line was built from before (kept below as the reference); a
  * failed query appears only in "errors".
  */
class BenchLineSpec extends AnyFunSuite {
  private val sf = "/data/sf0.1"

  /** `n` ok queries with keys q000.., 2-decimal walls, cpu >= 10 s, and
    * the probe readings of ceil(n / 5)-query groups.
    */
  private def fixture(n: Int) = {
    val groupSize = math.max(1, math.ceil(n / 5.0).toInt)
    val groups = math.ceil(n.toDouble / groupSize).toInt
    val results = (0 until n).map(i =>
      Timed(f"q$i%03d", 0.25 * (i % 13) + 0.5, ok = true, 10.0 + (i * 7 % 31) / 10.0))
    val canaries = (0 to groups).map(g => 0.085 + 0.004 * g)
    val pcans = (0 to groups).map(g => 0.1 + 0.003 * ((g * 5) % 4))
    val gcg = (0 until groups).map(g => 1.5 + g)
    (results, groupSize, canaries, pcans, gcg)
  }

  /** The line as the three templates assembled it (all queries ok). */
  private def reference(results: Seq[Timed], groupSize: Int, canaries: Seq[Double],
                        pcans: Seq[Double], gcGroups: Seq[Double],
                        mcr: Option[(Double, Int)], sfDir: String): String = {
    def fmt(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(v))
    val qs = results.map(r => "\"" + r.key + "\":" + fmt(r.wall)).mkString("{", ",", "}")
    val mcrField = mcr.fold("") { case (ratio, n) =>
      s""","mcr":${String.format(java.util.Locale.ROOT, "%.3f", Double.box(ratio))},"mcrn":$n""" }
    val errs = results.filterNot(_.ok).map(r => "\"" + r.key + "\"").mkString("[", ",", "]")
    val total = if (results.nonEmpty) results.map(_.wall).sum else 0.0
    def fmt1(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.1f", Double.box(v))
    def fmt3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val cpu = results.map(r => fmt1(r.cpu)).mkString("[", ",", "]")
    val can = canaries.map(fmt3).mkString("[", ",", "]")
    val pcan = pcans.map(fmt3).mkString("[", ",", "]")
    val canaryBase = 0.090
    val pcanBase = 0.105
    val scales = gcGroups.indices.map { g =>
      val canRatio = math.max(canaries(g), canaries(g + 1)) / canaryBase
      val pcanRatio = math.min(pcans(g), pcans(g + 1)) / pcanBase
      1.0 / math.max(canRatio, pcanRatio) }
    val wnTotal = results.zipWithIndex.map { case (r, i) =>
      r.wall * scales(math.min(i / groupSize, scales.length - 1)) }.sum
    val scaleArr = scales.map(fmt3).mkString("[", ",", "]")
    val gcg = gcGroups.map(fmt1).mkString("[", ",", "]")
    val line =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","value_n":${fmt(wnTotal)},"cb":${fmt3(canaryBase)},"pb":${fmt3(pcanBase)}$mcrField,"scale":$scaleArr,"queries":$qs,"cpu":$cpu,"canary":$can,"pcan":$pcan,"gcg":$gcg,"errors":$errs,"sf":"$sfDir"}"""
    val cpuGroups = results.map(_.cpu).grouped(groupSize).map(_.sum).toSeq
    val cpugArr = cpuGroups.map(fmt1).mkString("[", ",", "]")
    val fallback =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","value_n":${fmt(wnTotal)},"cb":${fmt3(canaryBase)},"pb":${fmt3(pcanBase)}$mcrField,"scale":$scaleArr,"queries":$qs,"cpug":$cpugArr,"canary":$can,"pcan":$pcan,"gcg":$gcg,"errors":$errs,"sf":"$sfDir"}"""
    val minimal =
      s"""{"metric":"total","value":${fmt(total)},"unit":"sec","value_n":${fmt(wnTotal)},"cb":${fmt3(canaryBase)},"pb":${fmt3(pcanBase)}$mcrField,"scale":$scaleArr,"queries":$qs,"canary":$can,"errors":$errs,"sf":"$sfDir"}"""
    if (line.length <= 1900) line
    else if (fallback.length <= 1900) fallback
    else minimal
  }

  for ((n, variant) <- Seq(20 -> "cpu", 100 -> "cpug", 150 -> "minimal");
       mcr <- Seq(None, Some((1.034, 57)))) {
    test(s"all ok, $n queries, mcr ${mcr.isDefined}: the $variant variant, byte-identical to the templates") {
      val (results, groupSize, canaries, pcans, gcg) = fixture(n)
      val got = Bench.line(results, groupSize, canaries, pcans, gcg, mcr, sf)
      assert(got == reference(results, groupSize, canaries, pcans, gcg, mcr, sf))
      val keys = parse(got).asInstanceOf[JObject].obj.map(_._1)
      assert(keys.contains("cpu") == (variant == "cpu"))
      assert(keys.contains("cpug") == (variant == "cpug"))
      assert(keys.contains("gcg") == (variant != "minimal"))
      assert(keys.contains("mcr") == mcr.isDefined)
    }
  }

  private def num(v: JValue): Double = v match {
    case JDouble(d) => d
    case JInt(i) => i.toDouble
    case JDecimal(d) => d.toDouble
    case other => fail(s"not a number: $other")
  }

  test("a failed query appears only in errors; value sums the listed walls") {
    val (ok, groupSize, canaries, pcans, gcg) = fixture(12)
    val results = ok.updated(4, ok(4).copy(ok = false))
    val json = parse(Bench.line(results, groupSize, canaries, pcans, gcg, None, sf))
    val JObject(queries) = json \ "queries": @unchecked
    assert(queries.map(_._1) == results.filter(_.ok).map(_.key))
    assert(json \ "errors" == JArray(List(JString("q004"))))
    assert(num(json \ "value") == queries.map(q => num(q._2)).sum)
    val JArray(cpu) = json \ "cpu": @unchecked
    assert(cpu.size == queries.size)
    // each surviving query keeps its original group's scale
    val scales = gcg.indices.map(g => 1.0 / math.max(
      math.max(canaries(g), canaries(g + 1)) / Bench.CanaryBase,
      math.min(pcans(g), pcans(g + 1)) / Bench.PcanBase))
    val expectedN = results.zipWithIndex.collect { case (r, i) if r.ok =>
      r.wall * scales(i / groupSize) }.sum
    assert(num(json \ "value_n") ==
      String.format(java.util.Locale.ROOT, "%.2f", Double.box(expectedN)).toDouble)
  }

  test("a failed query's cpu is not in its group's cpug sum") {
    val (ok, groupSize, canaries, pcans, gcg) = fixture(100)
    val results = ok.updated(1, ok(1).copy(ok = false))
    val json = parse(Bench.line(results, groupSize, canaries, pcans, gcg, None, sf))
    val JArray(cpug) = json \ "cpug": @unchecked
    assert(cpug.size == 5)
    def fmt1(v: Double) = String.format(java.util.Locale.ROOT, "%.1f", Double.box(v)).toDouble
    assert(num(cpug.head) == fmt1(results.take(groupSize).filter(_.ok).map(_.cpu).sum))
    assert(num(cpug(1)) == fmt1(results.slice(groupSize, 2 * groupSize).map(_.cpu).sum))
  }
}
