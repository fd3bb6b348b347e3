package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import graft.expressions._

/** Engine extension point (SURVEY §7.1): registers graft's native
  * Catalyst expressions into the session's function registry.
  *
  * Wire up either declaratively
  * (`spark.sql.extensions=graft.GraftExtensions`) or imperatively via
  * [[GraftExtensions.register]] for sessions built elsewhere.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.descriptors.foreach(ext.injectFunction)
    ext.injectOptimizerRule(_ => graft.optimizer.BandJoinRewrite)
  }
}

object GraftExtensions {

  /** (name, expression class, builder) of every native function. */
  private val functions: Seq[(String, Class[_], Seq[Expression] => Expression)] = Seq(
    ("graft_dotq", classOf[DotQuantized], c => DotQuantized(c(0), c(1))),
    ("graft_dist_le", classOf[DistanceLE], c => DistanceLE(c(0), c(1), c(2), c(3), c(4))),
    ("graft_inter_size", classOf[SortedIntersectSize], c => SortedIntersectSize(c(0), c(1))),
    ("graft_repstats", classOf[RepetitionStats], c => RepetitionStats(c(0), c(1))),
    ("graft_bandsigs", classOf[BandSignatures], c => BandSignatures(c(0), c(1), c(2))),
    ("graft_simhash64", classOf[Simhash64], c => Simhash64(c.head)),
    ("graft_cell_argmax", classOf[CentroidArgmax], c => CentroidArgmax(c(0), c(1))),
    ("graft_cell_scores", classOf[CentroidScores], c => CentroidScores(c(0), c(1))),
    ("graft_pq_encode", classOf[PqEncode], c => PqEncode(c(0), c(1))),
    ("graft_pq_luts", classOf[PqLuts], c => PqLuts(c(0), c(1))),
    // Spark's OWN Bloom expressions (the machinery behind its runtime
    // row-group filters), surfaced as callable functions — Spark ships
    // them but does not register them in the public FunctionRegistry.
    // graft_bloom_agg(longCol, estimatedItems, numBits) → binary sketch;
    // graft_might_contain(binary, longCol) → boolean. Used by the
    // Bloom-prefilter decontamination tier (TextAnalysis
    // .decontaminateBloom): the eval-side sketch is ~10 bits/gram where
    // the exact hash relation is ~64+, which is the difference between
    // a broadcastable prefilter and an unbroadcastable eval set at
    // 100 TB.
    ("graft_bloom_agg", classOf[BloomFilterAggregate],
      c => new BloomFilterAggregate(c(0), c(1), c(2)).toAggregateExpression()),
    ("graft_might_contain", classOf[BloomFilterMightContain],
      c => BloomFilterMightContain(c(0), c(1))))

  private def descriptors = functions.map { case (name, cls, build) =>
    (FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)
  }

  /** Imperative registration for an already-built session: functions
    * plus the band-join optimizer rule (idempotent).
    */
  def register(spark: SparkSession): Unit = {
    descriptors.foreach { case (id, info, build) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, build)
    }
    val opt = spark.sessionState.experimentalMethods
    if (!opt.extraOptimizations.contains(graft.optimizer.BandJoinRewrite))
      opt.extraOptimizations = opt.extraOptimizations :+ graft.optimizer.BandJoinRewrite
  }
}
