package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Embedding-vector expression library over `ArrayType(FloatType)` columns.
  *
  * Mirrors the reference's appearance-similarity scalar
  * (get_appearance_similarity, reference src/utils/feature_extraction.py:255-297)
  * as Catalyst higher-order functions — codegen'd, no UDFs.
  *
  * Two variants of every similarity:
  *   - `cosine`   — plain double math, for production use.
  *   - `cosineQ`  — quantized: each elementwise product is rounded to an
  *     int64 at 1e12 scale and summed exactly. Integer sums are
  *     associativity-free, so results are bit-identical across engines,
  *     partitionings, and retry orders — the property the DuckDB oracle
  *     gate and any 100-TB shuffle-order-nondeterministic plan both need.
  */
object Vectors {

  private def d(c: Column): Column = c.cast("double")

  /** Exact-integer quantized dot product: sum of round(x*y*1e12) as long.
    * Spark's `round` is HALF_UP (half AWAY FROM ZERO) — the same tie
    * rule as DuckDB's ROUND and the native DotQuantized kernel, so all
    * three paths agree on signed x.5 products.
    */
  def dotQ(a: Column, b: Column): Column =
    aggregate(
      zip_with(a, b, (x, y) => round(d(x) * d(y) * lit(1e12)).cast("long")),
      lit(0L), (acc, v) => acc + v)

  /** Quantized squared norm. */
  def norm2Q(a: Column): Column = dotQ(a, a)

  /** Quantized cosine: deterministic to the bit on any engine.
    * = dotQ / (sqrt(norm2Q(a)) * sqrt(norm2Q(b))); 0 when either norm is 0.
    */
  def cosineQ(a: Column, b: Column): Column = {
    val na = norm2Q(a)
    val nb = norm2Q(b)
    when(na === 0L || nb === 0L, lit(0.0))
      .otherwise(dotQ(a, b).cast("double") / (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
  }

  /** Native-codegen variants backed by the graft_dotq Catalyst
    * expression (expressions.DotQuantized, registered by
    * GraftExtensions) — same values as the composable forms, ~10×
    * faster on the similarity hot path.
    */
  def dotQNative(a: Column, b: Column): Column = call_function("graft_dotq", a, b)

  def cosineQNative(a: Column, b: Column): Column = {
    val na = dotQNative(a, a)
    val nb = dotQNative(b, b)
    when(na === 0L || nb === 0L, lit(0.0))
      .otherwise(dotQNative(a, b).cast("double") /
        (sqrt(na.cast("double")) * sqrt(nb.cast("double"))))
  }

  /** Plain double dot product (production path; fastest codegen). */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => d(x) * d(y)), lit(0.0), (acc, v) => acc + v)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = {
    val na = norm(a)
    val nb = norm(b)
    when(na === 0.0 || nb === 0.0, lit(0.0)).otherwise(dot(a, b) / (na * nb))
  }

  /** Rescaled cosine (cos+1)/2 in [0,1] — the reference's appearance
    * similarity (feature_extraction.py:289-296).
    */
  def appearanceSim(a: Column, b: Column): Column = (cosine(a, b) + lit(1.0)) / lit(2.0)
}
