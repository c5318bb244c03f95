package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Document-dedup building blocks (SURVEY §7 north-star: exact,
  * n-gram Jaccard, MinHash+LSH, SimHash) — all codegen'd column
  * expressions; no UDFs.
  *
  * Scale notes (100 TB): exact dedup is one hash-shuffle on the digest.
  * All-pairs Jaccard exists only as the small-N exact baseline; the
  * scale path is MinHash banding — signatures are one scan (partial-agg
  * free, per-row), band explosion multiplies rows by nBands (constant),
  * and the candidate join shuffles on (band_idx, band_val), which is
  * uniformly distributed by construction (hash values) → no skew. The
  * exact-verify then touches only candidate pairs, which for real
  * corpora is ~linear in the duplicate count, not N².
  */
object Dedup {

  /** Distinct word n-gram shingles; empty array for docs shorter than n
    * (guards the descending-`sequence` trap when size < n).
    *
    * IMPORTANT: `tokens` must be a MATERIALIZED attribute (a prior
    * `.select(split(text, " ").as("ws"))` step), not an inline `split`
    * expression: higher-order-function lambdas re-evaluate outer
    * non-attribute subtrees once per element, turning the shingle scan
    * O(n²) per document. An attribute reference is a cheap bound read,
    * and CollapseProject keeps the split step separate because the
    * alias is non-cheap and multiply-referenced. */
  def wordShingles(tokens: Column, n: Int): Column =
    array_distinct(wordGrams(tokens, n))

  /** Word n-grams WITHOUT dedup — pair with a downstream
    * `array_distinct` over the 64-bit gram hashes instead:
    * `array_distinct` on a string array is quadratic in string
    * compares (measured as the dominant cost of the whole shingling
    * stage), while on longs it is a hash-set pass. */
  def wordGrams(tokens: Column, n: Int): Column = {
    val grams = transform(sequence(lit(1), size(tokens) - (n - 1)),
      i => concat_ws(" ", (0 until n).map(k => element_at(tokens, i + lit(k))): _*))
    when(size(tokens) >= n, grams).otherwise(array().cast("array<string>"))
  }

  /** Exact set Jaccard from two shingle arrays — integer set sizes, so
    * the double division is bit-identical across engines. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = size(array_intersect(a, b)).cast("double")
    inter / (size(a) + size(b) - inter)
  }

}
