package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis expression library: tokenization, portable hashing,
  * MinHash/SimHash fingerprints, language-ID and quality heuristics.
  *
  * Design rules (these keep every query oracle-checkable against DuckDB
  * and deterministic on a 1000-executor cluster):
  *   - All hashing is MD5 (identical bytes in any engine); we never use
  *     engine-private hash functions in data-dependent results.
  *   - No floating-point accumulation across rows: ratios are computed
  *     from exact integer counts with a single final division.
  *   - Everything is a Catalyst `Column` expression (whole-stage
  *     codegen), never a Scala UDF.
  */
object Text {

  /** Lower-cased whitespace tokens, empty strings dropped. */
  def tokens(text: Column): Column =
    filter(split(lower(text), " "), t => length(t) > 0)

  def distinctTokens(text: Column): Column = array_distinct(tokens(text))

  /** Word n-gram shingles over a token array (1-based positions i..i+n-1).
    * Assumes size(toks) >= n; callers guard short docs.
    */
  def shingles(toks: Column, n: Int): Column =
    transform(sequence(lit(1), size(toks) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(toks, i + k)): _*))

  /** Value of one lowercase hex digit column (0-9a-f) via ASCII math —
    * portable to any SQL dialect without conv()/strtol.
    */
  def hexDigit(c: Column): Column =
    when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)

  /** md5 hex string of a (string) column — the portable content hash. */
  def md5s(c: Column): Column = md5(c.cast("binary"))

  /** Seeded MinHash component: min over tokens of md5("s<seed>_" + token).
    * Lexicographic min over hex strings is a valid permutation-min; using
    * string order keeps Spark and any oracle engine bit-identical.
    * (MinHash over a token *multiset* equals over the set: min ignores dups.)
    */
  def minhash(tok: Column, seed: Int): Column =
    md5s(concat(lit(s"s${seed}_"), tok))

  /** First 16 bits of md5(token) as an int in [0, 65535]. */
  def hash16(tok: Column): Column = {
    val h = md5s(tok)
    hexDigit(substring(h, 1, 1)) * 4096 +
      hexDigit(substring(h, 2, 1)) * 256 +
      hexDigit(substring(h, 3, 1)) * 16 +
      hexDigit(substring(h, 4, 1))
  }

  /** Deterministic document fingerprint: md5 of the sorted distinct
    * token list (order-canonical content signature).
    */
  def fingerprint(text: Column): Column =
    md5s(concat_ws(" ", array_sort(distinctTokens(text))))
}
