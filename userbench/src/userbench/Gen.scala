package userbench

import scala.collection.mutable
import scala.util.Random

/** Seeded input generators. Every generator is a pure function of its
  * parameters and seed, and checks the engine's input preconditions on
  * its own output before returning it.
  */

/** A ground-truth box of one object in one frame. */
final case class GtRow(seq: String, frame: Int, id: Int,
                       x: Double, y: Double, w: Double, h: Double)

/** A detection as a detector emits it. `kind` is 0 for a detection of a
  * real object (score 0.6-1.0), 1 for a planted duplicate of one (score
  * 0.51-0.59, IoU >= 0.8 with its original), 2 for a false positive
  * (score 0.05-0.3, away from every other box).
  */
final case class DetRow(seq: String, frame: Int, id: Int,
                        x: Double, y: Double, w: Double, h: Double,
                        conf: Double, emb: Array[Float], kind: Int)

final case class MotSpec(seqs: Int, frames: Int, objects: Int,
                         missRate: Double, fpRate: Double, dupRate: Double,
                         embDim: Int) {
  def describe: String =
    s"$seqs seq x $frames frames x $objects objects, miss $missRate, " +
      s"fp $fpRate, dup $dupRate, emb $embDim"
}

final case class MotData(gt: Array[GtRow], dets: Array[DetRow])

object MotGen {
  val CellSize = 200.0

  def frameStr(f: Int): String = f"$f%06d"

  /** Objects live on a grid, one per 200 px cell, and drift inside their
    * cell, so no two objects overlap and a correct tracker keeps every id.
    */
  def generate(spec: MotSpec, seed: Long): MotData = {
    val rnd = new Random(seed)
    val cols = math.ceil(math.sqrt(spec.objects.toDouble)).toInt
    val gridH = math.ceil(spec.objects.toDouble / cols) * CellSize
    val gt = mutable.ArrayBuffer.empty[GtRow]
    val dets = mutable.ArrayBuffer.empty[DetRow]
    for (s <- 0 until spec.seqs) {
      val seq = s"s$s"
      final class Obj(val id: Int, val cx0: Double, val cy0: Double,
                      val w: Double, val h: Double, val emb: Array[Float],
                      var x: Double, var y: Double, var vx: Double, var vy: Double)
      val objs = (0 until spec.objects).map { o =>
        val cx0 = (o % cols) * CellSize
        val cy0 = (o / cols) * CellSize
        val w = 30 + rnd.nextDouble() * 40
        val h = 30 + rnd.nextDouble() * 40
        val emb = Array.fill(spec.embDim)(rnd.nextGaussian().toFloat)
        new Obj(o + 1, cx0, cy0, w, h, emb,
          cx0 + rnd.nextDouble() * (CellSize - w), cy0 + rnd.nextDouble() * (CellSize - h),
          rnd.nextDouble() * 4 - 2, rnd.nextDouble() * 4 - 2)
      }
      for (f <- 1 to spec.frames) {
        var detId = 1
        def det(x: Double, y: Double, w: Double, h: Double, conf: Double,
                emb: Array[Float], kind: Int): Unit = {
          dets += DetRow(seq, f, detId, x, y, w, h, conf, emb, kind)
          detId += 1
        }
        objs.foreach { o =>
          o.x += o.vx; o.y += o.vy
          if (o.x < o.cx0 || o.x > o.cx0 + CellSize - o.w) { o.vx = -o.vx; o.x += 2 * o.vx }
          if (o.y < o.cy0 || o.y > o.cy0 + CellSize - o.h) { o.vy = -o.vy; o.y += 2 * o.vy }
          gt += GtRow(seq, f, o.id, o.x, o.y, o.w, o.h)
          if (rnd.nextDouble() >= spec.missRate) {
            val jx = rnd.nextGaussian(); val jy = rnd.nextGaussian()
            val emb = o.emb.map(v => (v + rnd.nextGaussian() * 0.05).toFloat)
            det(o.x + jx, o.y + jy, o.w, o.h, 0.6 + rnd.nextDouble() * 0.4, emb, 0)
            if (rnd.nextDouble() < spec.dupRate)
              det(o.x + jx + 1.5, o.y + jy - 1.5, o.w, o.h,
                0.51 + rnd.nextDouble() * 0.08, emb, 1)
          }
        }
        // false positives: small low-score boxes in a strip below the object
        // grid, 30 px apart, so none overlaps an object or another one
        val nFp = (0 until spec.objects).count(_ => rnd.nextDouble() < spec.fpRate)
        for (k <- 0 until nFp)
          det(k * 30.0 + rnd.nextDouble() * 5, gridH + 20 + rnd.nextDouble() * 50,
            10 + rnd.nextDouble() * 10, 10 + rnd.nextDouble() * 10,
            0.05 + rnd.nextDouble() * 0.25,
            Array.fill(spec.embDim)(rnd.nextGaussian().toFloat), 2)
      }
    }
    val data = MotData(gt.toArray, dets.toArray)
    checkPreconditions(data)
    data
  }

  /** The engine's MOT input preconditions: GT unique per
    * (seq, frameIdx, id), detection ids unique per (seq, frame), and
    * frames castable to int (they are zero-padded integers).
    */
  def checkPreconditions(d: MotData): Unit = {
    val gtKeys = d.gt.iterator.map(g => (g.seq, g.frame, g.id)).toSet
    require(gtKeys.size == d.gt.length, "generated GT is not unique per (seq, frame, id)")
    val detKeys = d.dets.iterator.map(r => (r.seq, r.frame, r.id)).toSet
    require(detKeys.size == d.dets.length, "generated detection ids are not unique per frame")
    require((d.gt.iterator.map(_.frame) ++ d.dets.iterator.map(_.frame))
      .forall(f => f > 0 && frameStr(f).toInt == f), "generated frame is not int-castable")
  }
}

final case class CorpusSpec(docs: Int, minTokens: Int, maxTokens: Int, vocab: Int,
                            oversized: Int, maxCluster: Int, clusterExp: Double,
                            batchDocs: Int, nearDupShare: Double,
                            halfDupShare: Double) {
  def describe: String =
    s"$docs docs x $minTokens-$maxTokens tokens (vocab $vocab), cluster sizes " +
      s"u^-$clusterExp capped at $maxCluster plus one of $oversized; batches of " +
      s"$batchDocs ($nearDupShare near-dup, $halfDupShare half-dup)"
}

/** A planted pair: batch document `a` copies corpus document `b`. */
final case class Planted(a: Long, b: Long, jaccard: Double)

final case class Batch(docs: Array[(Long, String)], planted: Array[Planted])

final class CorpusGen(spec: CorpusSpec, seed: Long) {
  private def word(i: Int): String = "w" + Integer.toString(i, 36)

  /** Distinct tokens, as many as drawn uniformly from minTokens to maxTokens. */
  private def randomDoc(rnd: Random): Array[Int] = {
    val n = spec.minTokens + rnd.nextInt(spec.maxTokens - spec.minTokens + 1)
    val s = mutable.LinkedHashSet.empty[Int]
    while (s.size < n) s += rnd.nextInt(spec.vocab)
    s.toArray
  }

  /** `base` with `k` tokens replaced by tokens not already in it. */
  private def mutate(base: Array[Int], k: Int, rnd: Random): Array[Int] = {
    val out = base.clone()
    val present = mutable.HashSet.from(base)
    val positions = rnd.shuffle(base.indices.toList).take(k)
    positions.foreach { p =>
      var t = rnd.nextInt(spec.vocab)
      while (present(t)) t = rnd.nextInt(spec.vocab)
      present -= out(p); present += t; out(p) = t
    }
    out
  }

  private def text(toks: Array[Int]): String = toks.map(word).mkString(" ")

  /** Distinct lowercase space-split tokens, as `graft.functions.Text` sees them. */
  def tokenSet(text: String): Set[String] = text.toLowerCase.split(" ").filter(_.nonEmpty).toSet

  def jaccard(a: String, b: String): Double = {
    val sa = tokenSet(a); val sb = tokenSet(b)
    (sa & sb).size.toDouble / (sa | sb).size
  }

  /** Corpus documents, ids 0 until docs. Cluster sizes follow a power
    * law (floor of u^-clusterExp for uniform u) capped at `maxCluster`,
    * plus one oversized cluster; members are their cluster's base document
    * with one or two tokens replaced.
    */
  lazy val corpus: Array[(Long, String)] = {
    val rnd = new Random(seed)
    val out = mutable.ArrayBuffer.empty[(Long, String)]
    def cluster(size: Int): Unit = {
      val base = randomDoc(rnd)
      for (m <- 0 until size) {
        val toks = if (m == 0) base else mutate(base, 1 + rnd.nextInt(2), rnd)
        out += ((out.size.toLong, text(toks)))
      }
    }
    cluster(spec.oversized)
    while (out.size < spec.docs) {
      val size = math.min(spec.maxCluster,
        math.max(1, (1.0 / math.pow(rnd.nextDouble() + 1e-9, spec.clusterExp)).toInt))
      cluster(math.min(size, spec.docs - out.size))
    }
    val docs = rnd.shuffle(out.toList).zipWithIndex
      .map { case ((_, t), i) => (i.toLong, t) }.toArray
    require(docs.map(_._1).distinct.length == docs.length, "corpus doc ids are not unique")
    docs
  }

  /** Ingest batch `i`: near-duplicates of random corpus documents (one token
    * replaced: Jaccard (n-1)/(n+1) >= 0.875 for n >= 15 tokens),
    * half-duplicates (a third of the tokens replaced: Jaccard about 0.5)
    * that often collide in LSH but fail verification, and fresh documents.
    * Ids continue after the corpus.
    */
  def batch(i: Int): Batch = {
    val rnd = new Random(seed * 1000003L + i)
    val firstId = spec.docs.toLong + i.toLong * spec.batchDocs
    val planted = mutable.ArrayBuffer.empty[Planted]
    val docs = Array.tabulate(spec.batchDocs) { j =>
      val id = firstId + j
      val u = rnd.nextDouble()
      if (u < spec.nearDupShare + spec.halfDupShare) {
        val (srcId, srcText) = corpus(rnd.nextInt(corpus.length))
        val src = srcText.split(" ").map(w => Integer.parseInt(w.substring(1), 36))
        val k = if (u < spec.nearDupShare) 1 else src.length / 3
        val t = text(mutate(src, k, rnd))
        if (u < spec.nearDupShare) planted += Planted(id, srcId, jaccard(t, srcText))
        (id, t)
      } else (id, text(randomDoc(rnd)))
    }
    require(docs.map(_._1).distinct.length == docs.length, "batch doc ids are not unique")
    Batch(docs, planted.toArray)
  }
}
