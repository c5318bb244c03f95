package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

/** Jaro–Winkler string-similarity kernel (a static method, called
  * through [[Kernels]]). Semantics pinned to the COMMON
  * parameterization that DuckDB's `jaro_winkler_similarity` also
  * implements (verified against it on pinned vectors, see
  * KernelProps):
  *   - match window `max(|a|,|b|)/2 - 1` (so "ab"/"ba" → 0.0),
  *   - transpositions = matched-but-misordered count / 2 (integer),
  *   - Winkler boost `+ l·0.1·(1−jaro)` with prefix l capped at 4,
  *     applied only when jaro > 0.7.
  * Operates on Unicode code points (not UTF-16 units), matching the
  * engines' code-point semantics for supplementary characters. */
object StringSim {

  val WinklerPrefixMax = 4
  val WinklerBoostThreshold = 0.7
  val WinklerScale = 0.1

  def jaroWinkler(ua: UTF8String, ub: UTF8String): Double = {
    val a = ua.toString.codePoints().toArray
    val b = ub.toString.codePoints().toArray
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    val win = math.max(math.max(la, lb) / 2 - 1, 0)
    val am = new Array[Boolean](la)
    val bm = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val hi = math.min(lb - 1, i + win)
      var j = math.max(0, i - win)
      var found = false
      while (j <= hi && !found) {
        if (!bm(j) && b(j) == a(i)) {
          am(i) = true; bm(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    var mismatch = 0
    var k = 0
    i = 0
    while (i < la) {
      if (am(i)) {
        while (!bm(k)) k += 1
        if (a(i) != b(k)) mismatch += 1
        k += 1
      }
      i += 1
    }
    val t = mismatch / 2
    val jaro = (m.toDouble / la + m.toDouble / lb + (m - t).toDouble / m) / 3.0
    if (jaro <= WinklerBoostThreshold) return jaro
    var l = 0
    val lmax = math.min(WinklerPrefixMax, math.min(la, lb))
    while (l < lmax && a(l) == b(l)) l += 1
    jaro + l * WinklerScale * (1.0 - jaro)
  }
}

/** Content-defined chunking kernel (Rabin/FastCDC family): cut the
  * text wherever the poly61 hash of the trailing [[CdcWindow]]-code-
  * point window lands on a zero residue mod [[CdcMask]]+1 — boundaries
  * move WITH the content, so an insertion only re-chunks its
  * neighborhood (the property that makes CDC the storage-dedup
  * primitive). ONE rolling O(n) pass: both 30-bit polynomial hashes
  * slide via precomputed base^(w−1) removals, and each window's
  * combined value equals poly61 of that substring EXACTLY (KernelProps
  * pins this), which is what makes the whole operator replayable in
  * DuckDB SQL. Production CDC adds min/max chunk clamps; those are
  * sequential (each cut depends on the previous) and deliberately
  * left out so the boundary rule stays position-independent and
  * oracle-expressible. */
object Cdc {
  val CdcWindow = 8
  val CdcMask = 63 // avg chunk ≈ 64 code points

  private final val M1 = 1000000007L
  private final val M2 = 998244353L

  private def powMod(b: Long, e: Int, m: Long): Long = {
    var r = 1L; var i = 0
    while (i < e) { r = r * b % m; i += 1 }
    r
  }
  private final val P1 = powMod(131L, CdcWindow - 1, M1)
  private final val P2 = powMod(137L, CdcWindow - 1, M2)

  def boundaries(s: UTF8String): ArrayData = {
    // decode code points off the UTF-8 bytes (same walk as TextHash)
    val n = s.numBytes
    val cps = new Array[Int](n)
    var m = 0
    var i = 0
    while (i < n) {
      val b0 = s.getByte(i) & 0xff
      var cp = b0
      var len = 1
      if (b0 >= 0x80) {
        if ((b0 & 0xE0) == 0xC0) { cp = b0 & 0x1F; len = 2 }
        else if ((b0 & 0xF0) == 0xE0) { cp = b0 & 0x0F; len = 3 }
        else { cp = b0 & 0x07; len = 4 }
        var k = 1
        while (k < len && i + k < n) {
          cp = (cp << 6) | (s.getByte(i + k) & 0x3F)
          k += 1
        }
      }
      cps(m) = cp; m += 1; i += len
    }
    if (m < CdcWindow) return new GenericArrayData(Array.empty[Int])
    val out = new scala.collection.mutable.ArrayBuffer[Int](m / (CdcMask + 1) + 4)
    var h1 = 0L
    var h2 = 0L
    i = 0
    while (i < CdcWindow) { // first window
      h1 = (h1 * 131 + cps(i)) % M1
      h2 = (h2 * 137 + cps(i)) % M2
      i += 1
    }
    if ((h1 * M2 + h2) % (CdcMask + 1) == 0) out += CdcWindow
    while (i < m) { // slide: drop cps(i-w), admit cps(i)
      h1 = ((h1 - cps(i - CdcWindow) * P1 % M1 + M1) % M1 * 131 + cps(i)) % M1
      h2 = ((h2 - cps(i - CdcWindow) * P2 % M2 + M2) % M2 * 137 + cps(i)) % M2
      if ((h1 * M2 + h2) % (CdcMask + 1) == 0) out += i + 1 // 1-based cut
      i += 1
    }
    new GenericArrayData(out.toArray)
  }
}

object stringfunctions {
  /** `jaro_winkler(a, b)` — Jaro–Winkler similarity (kernel and
    * parameter rationale in [[StringSim.jaroWinkler]]); the fuzzy
    * record-linkage scorer whose DuckDB builtin twin makes the whole
    * fuzzy-join oracle-checkable. */
  def jaro_winkler(a: Column, b: Column): Column = Kernels.JaroWinklerSim(a, b)
  /** `cdc_boundaries(text)` — content-defined chunk boundary positions
    * (kernel and rationale in [[Cdc]]). */
  def cdc_boundaries(c: Column): Column = Kernels.CdcBoundaries(c)
}
