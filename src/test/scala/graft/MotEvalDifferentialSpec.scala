package graft

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.types._
import graft.operators.MotEval

/** The MotEval kernels against the relational reference plan
  * (`MotEvalReference`) on generated sequences: every row and every
  * double's bits must be equal, at both thresholds and both match modes.
  */
class MotEvalDifferentialSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private val schema = StructType(Seq(
    StructField("seq", StringType), StructField("frameIdx", IntegerType),
    StructField("id", IntegerType),
    StructField("x", DoubleType), StructField("y", DoubleType),
    StructField("w", DoubleType), StructField("h", DoubleType),
    StructField("conf", DoubleType)))

  private type Box = (String, Integer, Int, Double, Double, Double, Double)

  /** GT objects on a coarse grid (exact IoU ties) plus jittered tracks
    * with drops (frame gaps), id switches, a decoy track with the same
    * IoU as the true one, a track claimed by two GTs, IoUs exactly at
    * both thresholds, and rows whose frame is not an integer (null
    * frameIdx).
    */
  private def generate(seq: String, frames: Int, objects: Int, seed: Long): (Seq[Box], Seq[Box]) = {
    val rnd = new Random(seed)
    val gt = Seq.newBuilder[Box]
    val tr = Seq.newBuilder[Box]
    for (f <- 1 to frames; o <- 1 to objects) {
      val (x, y) = (o * 60.0 + f * 2, (o % 3) * 50.0 + f)
      if (rnd.nextDouble() > 0.05) gt += ((seq, f, o, x, y, 40.0, 30.0))
      val tid = if (f > frames / 2 && o % 4 == 0) o + 100 else o // id switch
      if (rnd.nextDouble() > 0.15) { // misses leave frame gaps
        val jitter = if (o % 5 == 0) 0.0 else rnd.nextInt(9) * 0.5 + rnd.nextDouble() * 1e-3
        tr += ((seq, f, tid, x + jitter, y - jitter / 2, 40.0, 30.0))
      }
      // a decoy on the jitter-free track's box: an exact IoU tie
      if (o % 5 == 0 && f % 3 == 0) tr += ((seq, f, tid + 500, x, y, 40.0, 30.0))
      if (o % 7 == 0 && f % 2 == 0) { // a second GT over this object's track
        gt += ((seq, f, o + 1000, x + 4.0, y, 40.0, 30.0))
      }
    }
    // IoU exactly at each threshold (100/200 and 3/10): strict drops them
    gt += ((seq, 1, 4000, 5000.0, 0.0, 10.0, 10.0))
    tr += ((seq, 1, 5000, 5000.0, 0.0, 20.0, 10.0))
    gt += ((seq, 1, 4001, 6000.0, 0.0, 10.0, 1.0))
    tr += ((seq, 1, 5001, 6000.0, 0.0, 3.0, 1.0))
    // rows whose frame is not an integer: counted, never matched
    gt += ((seq, null, 1, 60.0, 0.0, 40.0, 30.0))
    gt += ((seq, null, 1, 60.0, 0.0, 40.0, 30.0))
    gt += ((seq, null, 2000, 0.0, 0.0, 10.0, 10.0))
    tr += ((seq, null, 1, 60.0, 0.0, 40.0, 30.0))
    tr += ((seq, null, 3000, 0.0, 0.0, 10.0, 10.0))
    (gt.result(), tr.result())
  }

  private def df(rows: Seq[Box]): DataFrame = spark.createDataFrame(
    java.util.Arrays.asList(rows.map(r =>
      Row(r._1, r._2, r._3, r._4, r._5, r._6, r._7, 1.0)): _*), schema)

  private lazy val (gt, tracks) = {
    val (ga, ta) = generate("a", 40, 9, 1L)
    val (gb, _) = generate("gt_only", 6, 3, 2L)
    val (_, tc) = generate("tracks_only", 6, 3, 3L)
    val (gd, td) = generate("big", 600, 20, 4L) // >= 10^4 rows on each side
    (df(ga ++ gb ++ gd), df(ta ++ tc ++ td))
  }

  /** Rows as comparable values, each double as its bit pattern. */
  private def bits(d: DataFrame): Seq[String] =
    d.collect().toSeq.map(_.toSeq.map {
      case v: Double => java.lang.Double.doubleToRawLongBits(v).toString
      case v => String.valueOf(v)
    }.mkString("|")).sorted

  private def assertSame(got: DataFrame, want: DataFrame): Unit = {
    assert(got.schema.map(f => (f.name, f.dataType)) == want.schema.map(f => (f.name, f.dataType)))
    val (g, w) = (bits(got), bits(want))
    assert(g.nonEmpty && g == w, s"kernel ${g.size} rows vs reference ${w.size} rows; " +
      s"first differences: ${g.diff(w).take(3)} / ${w.diff(g).take(3)}")
  }

  test("fixture covers the listed shapes") {
    val rows = gt.groupBy("seq").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(rows("big") >= 10000 && !rows.contains("tracks_only"))
    assert(tracks.filter("seq = 'big'").count() >= 10000)
    assert(tracks.filter("seq = 'gt_only'").count() == 0)
    // two GTs claim one track in a frame; switches and gaps occur
    val m = MotEvalReference.matchFrames(gt, tracks, 0.3)
    assert(m.groupBy("seq", "frameIdx", "track_id").count().filter("count > 1").count() > 0)
    val a = MotEvalReference.metrics(gt, tracks, 0.3).filter("seq = 'a'").head()
    assert(a.getAs[Long]("IDSW") > 0 && a.getAs[Long]("Frag") > 0)
    // exact IoU ties between two tracks for one GT, which the id tie-break decides
    val pairs = gt.as("g").join(tracks.as("t"), Seq("seq", "frameIdx"))
      .filter("g.x = t.x AND g.y = t.y AND g.w = t.w AND g.h = t.h")
      .groupBy("seq", "frameIdx", "g.id").count()
    assert(pairs.filter("count > 1").count() > 0)
  }

  for (tau <- Seq(0.3, 0.5)) {
    test(s"metrics equal the relational plan at τ=$tau (also with sides swapped)") {
      assertSame(MotEval.metrics(gt, tracks, tau), MotEvalReference.metrics(gt, tracks, tau))
      // swapped: the tracks are unique per (seq, frameIdx, id) as well
      assertSame(MotEval.metrics(tracks, gt, tau), MotEvalReference.metrics(tracks, gt, tau))
    }

    test(s"matchFrames (m01) equals the relational plan at τ=$tau, strict and not") {
      for (strict <- Seq(false, true))
        assertSame(MotEval.matchFrames(gt, tracks, tau, strict),
          MotEvalReference.matchFrames(gt, tracks, tau, strict))
    }

    test(s"gtFilteredTracks (m07) equals the relational plan at τ=$tau") {
      assertSame(MotEval.gtFilteredTracks(gt, tracks, tau),
        MotEvalReference.gtFilteredTracks(gt, tracks, tau))
    }
  }
}
