package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.functions.lit

/** Bit-vector similarity kernels (SURVEY §2.10 D4 — the reference's
  * Tanimoto / Tversky(α=.7,β=.3) / Dice over ECFP fingerprints,
  * finalize_realease.py:213,345-349): fingerprints are `array<long>`
  * words (2048-bit ECFP = 32 words), similarity is popcounts of AND/OR
  * in ONE fused loop per pair — a single static call, no
  * intermediate arrays, no boxing. The HOF form
  * (`aggregate(zip_with(a,b,(x,y)->bit_count(x&y)),...)`) allocates and
  * re-walks per metric; these kernels compute every popcount a metric
  * needs in the same pass.
  */
object BitSimKernels {
  // a word past a vector's end is an empty word (set semantics over the
  // UNION of lengths) — truncating at min length would silently
  // overstate similarity for mismatched-length fingerprints
  @inline private def word(a: ArrayData, i: Int): Long =
    if (i < a.numElements()) a.getLong(i) else 0L

  /** |A∧B| / |A∨B| (0 when both empty). */
  def tanimoto(a: ArrayData, b: ArrayData): Double = {
    val n = math.max(a.numElements(), b.numElements())
    var inter = 0L; var union = 0L; var i = 0
    while (i < n) {
      val x = word(a, i); val y = word(b, i)
      inter += java.lang.Long.bitCount(x & y)
      union += java.lang.Long.bitCount(x | y)
      i += 1
    }
    if (union == 0L) 0.0 else inter.toDouble / union
  }

  /** |A∧B| / (|A∧B| + α·|A∖B| + β·|B∖A|) — the reference's
    * substructure-biased similarity at α=.7, β=.3. */
  def tversky(a: ArrayData, b: ArrayData, alpha: Double, beta: Double): Double = {
    val n = math.max(a.numElements(), b.numElements())
    var inter = 0L; var onlyA = 0L; var onlyB = 0L; var i = 0
    while (i < n) {
      val x = word(a, i); val y = word(b, i)
      inter += java.lang.Long.bitCount(x & y)
      onlyA += java.lang.Long.bitCount(x & ~y)
      onlyB += java.lang.Long.bitCount(y & ~x)
      i += 1
    }
    val denom = inter + alpha * onlyA + beta * onlyB
    if (denom == 0.0) 0.0 else inter / denom
  }

  /** 2·|A∧B| / (|A| + |B|). */
  def dice(a: ArrayData, b: ArrayData): Double = {
    val n = math.max(a.numElements(), b.numElements())
    var inter = 0L; var pa = 0L; var pb = 0L; var i = 0
    while (i < n) {
      val x = word(a, i); val y = word(b, i)
      inter += java.lang.Long.bitCount(x & y)
      pa += java.lang.Long.bitCount(x)
      pb += java.lang.Long.bitCount(y)
      i += 1
    }
    if (pa + pb == 0L) 0.0 else 2.0 * inter / (pa + pb)
  }
}

object bitsimfunctions {
  /** |A∧B| / |A∨B| over `array<bigint>` bit vectors ([[BitSimKernels.tanimoto]]). */
  def bit_tanimoto(a: Column, b: Column): Column = Kernels.BitTanimoto(a, b)
  /** |A∧B| / (|A∧B| + α·|A∖B| + β·|B∖A|) ([[BitSimKernels.tversky]]). */
  def bit_tversky(a: Column, b: Column, alpha: Double, beta: Double): Column =
    Kernels.BitTversky(a, b, lit(alpha), lit(beta))
  /** 2·|A∧B| / (|A| + |B|) ([[BitSimKernels.dice]]). */
  def bit_dice(a: Column, b: Column): Column = Kernels.BitDice(a, b)
}
