package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.optimizer.BandJoinRewrite

/** `GraftExtensions.register`: every native function lands in the
  * session's registry, and registering twice adds the band-join rule
  * once.
  */
class GraftExtensionsSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  test("register puts every graft function in the registry, and the band-join rule once") {
    GraftExtensions.register(spark)
    GraftExtensions.register(spark)
    val registry = spark.sessionState.functionRegistry
    val names = Seq("graft_dotq", "graft_dist_le", "graft_inter_size", "graft_repstats",
      "graft_bandsigs", "graft_simhash64", "graft_cell_argmax", "graft_cell_scores",
      "graft_pq_encode", "graft_pq_luts", "graft_bloom_agg", "graft_might_contain")
    val missing = names.filterNot(n => registry.functionExists(FunctionIdentifier(n)))
    assert(missing.isEmpty, missing)
    assert(spark.sessionState.experimentalMethods.extraOptimizations
      .count(_ == BandJoinRewrite) == 1)
  }
}
