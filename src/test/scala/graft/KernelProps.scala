package graft

import graft.expr.{AhoCorasick, MGBuffer, TextHash, TextNorm, TopKBuffer, TopKPairsBuffer}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.forAll

/** Property tests for the pure kernels (SURVEY §5: X9's one plural
  * strip per pass, X5∘X5 = X5, transliteration ASCII-closure) plus
  * model-vs-kernel equivalences for the automaton and the bounded
  * top-k heap. */
object KernelProps extends Properties("kernels") {

  private val asciiText: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf(' ', '-', '.', '(', ')'))).map(_.mkString)

  private val unicodeText: Gen[String] = Gen.listOf(Gen.oneOf(
    Gen.alphaNumChar, Gen.oneOf('é', 'ü', 'ß', '–', '“', 'µ', '中', ' '))).map(_.mkString)

  property("X5 nfc is idempotent") = forAll(unicodeText) { s =>
    TextNorm.nfc(TextNorm.nfc(s)) == TextNorm.nfc(s)
  }

  property("X8 transliteration output is pure ASCII") = forAll(unicodeText) { s =>
    TextNorm.asciiTranslit(s).forall(_ < 128)
  }

  property("X8 transliteration is idempotent on its own output") = forAll(unicodeText) { s =>
    val once = TextNorm.asciiTranslit(s)
    TextNorm.asciiTranslit(once) == once
  }

  /** The last step of X9: drop one trailing plural `s`. */
  private def pluralStep(s: String): String =
    if (s.length > 4 && s.endsWith("s") && !Seq("us", "is", "os", "gas").exists(s.endsWith))
      s.dropRight(1)
    else s

  // X9 strips ONE trailing plural per call, as the reference and
  // x9_compound_norm's oracle SQL do, so it is not idempotent: a second
  // pass changes its output exactly by one more plural step
  property("X9 a second pass only strips one more plural") = forAll(asciiText) { s =>
    val n = TextNorm.normalizeCompound(s)
    TextNorm.normalizeCompound(n) == pluralStep(n)
  }

  property("X9 strips one plural per call: abcdss -> abcds -> abcd") = Prop(
    TextNorm.normalizeCompound("abcdss") == "abcds" &&
      TextNorm.normalizeCompound("abcds") == "abcd")

  property("X9 output has no whitespace or dashes") = forAll(asciiText) { s =>
    val n = TextNorm.normalizeCompound(s)
    !n.exists(c => c.isWhitespace || c == '-')
  }

  private val payloadGen: Gen[Array[Byte]] =
    Gen.chooseNum(60, 400).flatMap(n =>
      Gen.listOfN(n, Gen.chooseNum(0, 255).map(_.toByte)).map(_.toArray))

  property("blockHash60 uses only the low 60 bits") = forAll(payloadGen) { bytes =>
    (TextHash.blockHash60(bytes) >>> 60) == 0L
  }

  property("blockHash60 of a constant payload is zero") =
    forAll(Gen.chooseNum(60, 300), Gen.chooseNum(0, 255)) { (n, b) =>
      TextHash.blockHash60(Array.fill(n)(b.toByte)) == 0L
    }

  property("blockHash60 bit i == (block i mean > global mean)") = forAll(payloadGen) { bytes =>
    val len = bytes.length
    val gavg = bytes.map(_ & 0xFF).map(_.toLong).sum.toDouble / len
    val h = TextHash.blockHash60(bytes)
    (0 until 60).forall { b =>
      val lo = b * len / 60; val hi = (b + 1) * len / 60
      val blk = bytes.slice(lo, hi).map(_ & 0xFF)
      val bit = blk.nonEmpty && blk.map(_.toLong).sum.toDouble / blk.length > gavg
      ((h >>> b) & 1L) == (if (bit) 1L else 0L)
    }
  }

  private val mgStream: Gen[List[String]] = Gen.listOf(Gen.oneOf(
    "a", "b", "c", "d", "e", "f", "g", "h", "i", "j"))

  property("misra-gries error bound and no-overestimate hold under any merge split") =
    forAll(mgStream, Gen.chooseNum(2, 6), Gen.chooseNum(0, 1000)) { (xs, m, cutSeed) =>
      val cut = if (xs.isEmpty) 0 else cutSeed % (xs.length + 1)
      val (l, r) = xs.splitAt(cut)
      val b1 = new MGBuffer(m); l.foreach(b1.add(_))
      val b2 = new MGBuffer(m); r.foreach(b2.add(_))
      b1.mergeIn(b2)
      val exact = xs.groupBy(identity).map { case (k, v) => k -> v.size.toLong }
      val bound = xs.size.toDouble / (m + 1)
      b1.counts.size <= m &&
        b1.counts.forall { case (k, est) => est <= exact(k) } &&
        exact.forall { case (k, c) => c - b1.counts.getOrElse(k, 0L) <= bound }
    }

  private val patternGen = Gen.nonEmptyListOf(
    Gen.nonEmptyListOf(Gen.alphaLowerChar).map(_.take(6).mkString)).map(_.take(8))

  property("aho-corasick == naive any-contains (case-insensitive)") =
    forAll(patternGen, asciiText) { (pats, text) =>
      val ac = new AhoCorasick(pats)
      val naive = pats.exists(p => text.toLowerCase.contains(p.toLowerCase))
      ac.matchesAny(text) == naive
    }

  property("topk buffer == mean of k largest by sorting") =
    forAll(Gen.nonEmptyListOf(Gen.chooseNum(-1e6, 1e6)), Gen.chooseNum(1, 10)) { (xs, k) =>
      val buf = new TopKBuffer(k)
      xs.foreach(buf.insert)
      val expect = xs.sorted(Ordering[Double].reverse).take(k)
      val got = buf.values.sorted(Ordering[Double].reverse).toList
      Prop(got == expect) :| s"got $got expect $expect"
    }

  private val bitvecGen: Gen[Array[Long]] =
    Gen.listOfN(4, Gen.chooseNum(Long.MinValue, Long.MaxValue)).map(_.toArray)
  private def ad(a: Array[Long]) =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(a)
  private def bitSet(a: Array[Long]): Set[Int] =
    (0 until 256).filter(i => (a(i / 64) >> (i % 64) & 1L) == 1L).toSet

  property("bit kernels use union-of-lengths semantics (trailing words = empty)") =
    forAll(bitvecGen) { a =>
      val short = a.take(2)
      val padded = short ++ Array(0L, 0L)
      val t1 = expr.BitSimKernels.tanimoto(ad(a), ad(short))
      val t2 = expr.BitSimKernels.tanimoto(ad(a), ad(padded))
      // regression: min-length truncation made tanimoto([-1,-1],[-1]) = 1.0
      val trunc = expr.BitSimKernels.tanimoto(
        ad(Array(-1L, -1L)), ad(Array(-1L)))
      t1 == t2 && math.abs(trunc - 0.5) < 1e-12
    }

  property("bit tanimoto == set-model jaccard") = forAll(bitvecGen, bitvecGen) { (a, b) =>
    val (sa, sb) = (bitSet(a), bitSet(b))
    val expect = if ((sa ++ sb).isEmpty) 0.0
      else sa.intersect(sb).size.toDouble / sa.union(sb).size
    expr.BitSimKernels.tanimoto(ad(a), ad(b)) == expect
  }

  property("bit kernels: self-sim 1, symmetry, tversky(.5,.5)=dice, dice=2t/(1+t)") =
    forAll(bitvecGen, bitvecGen) { (a, b) =>
      val k = expr.BitSimKernels
      val t = k.tanimoto(ad(a), ad(b))
      val d = k.dice(ad(a), ad(b))
      val selfOk = a.forall(_ == 0L) || k.tanimoto(ad(a), ad(a)) == 1.0
      val symOk = t == k.tanimoto(ad(b), ad(a)) && d == k.dice(ad(b), ad(a))
      val tverskyDice = math.abs(k.tversky(ad(a), ad(b), 0.5, 0.5) - d) < 1e-12
      val diceRel = math.abs(d - 2 * t / (1 + t)) < 1e-12
      Prop(selfOk && symOk && tverskyDice && diceRel)
    }

  property("topk merge == union insert") =
    forAll(Gen.listOf(Gen.chooseNum(-1e3, 1e3)), Gen.listOf(Gen.chooseNum(-1e3, 1e3))) {
      (xs, ys) =>
        val a = new TopKBuffer(5); xs.foreach(a.insert)
        val b = new TopKBuffer(5); ys.foreach(b.insert)
        b.values.foreach(a.insert)
        val all = new TopKBuffer(5); (xs ++ ys).foreach(all.insert)
        a.values.sorted.toList == all.values.sorted.toList
    }

  private val pairsGen = Gen.nonEmptyListOf(for {
    s <- Gen.chooseNum(-1e6, 1e6)
    i <- Gen.chooseNum(0L, 50L) // small id range to exercise score ties
  } yield (s, i))

  property("topk_pairs buffer == k best pairs by (score desc, id asc) sort") =
    forAll(pairsGen, Gen.chooseNum(1, 8)) { (ps, k) =>
      val buf = new TopKPairsBuffer(k)
      ps.foreach { case (s, i) => buf.insert(s, i) }
      // duplicates count as separate entries in both the buffer and
      // the sort-based reference
      val expect = ps.sortBy { case (s, i) => (-s, i) }.take(k)
      Prop(buf.sortedPairs.toList == expect) :| s"got ${buf.sortedPairs.toList} expect $expect"
    }

  property("topk_pairs merge == union insert") =
    forAll(pairsGen, pairsGen) { (xs, ys) =>
      val a = new TopKPairsBuffer(5); xs.foreach { case (s, i) => a.insert(s, i) }
      val b = new TopKPairsBuffer(5); ys.foreach { case (s, i) => b.insert(s, i) }
      var j = 0
      while (j < b.size) { a.insert(b.score(j), b.id(j)); j += 1 }
      val all = new TopKPairsBuffer(5)
      (xs ++ ys).foreach { case (s, i) => all.insert(s, i) }
      a.sortedPairs.toList == all.sortedPairs.toList
    }

  // NaN regression net: both heaps must rank NaN ABOVE every finite
  // value (Spark's and DuckDB's double ordering — a desc sort puts NaN
  // first), independent of arrival order. The raw </> comparators left
  // NaN incomparable, making admission merge-order dependent.
  private def pairBetter(a: (Double, Long), b: (Double, Long)): Boolean = {
    val n1 = a._1.isNaN; val n2 = b._1.isNaN
    if (n1 || n2) { if (n1 == n2) a._2 < b._2 else n1 }
    else a._1 > b._1 || (a._1 == b._1 && a._2 < b._2)
  }

  private val nanScore: Gen[Double] =
    Gen.frequency(4 -> Gen.chooseNum(-1e6, 1e6), 1 -> Gen.const(Double.NaN))

  property("topk buffer ranks NaN as the greatest value") =
    forAll(Gen.nonEmptyListOf(nanScore), Gen.chooseNum(1, 10)) { (xs, k) =>
      val buf = new TopKBuffer(k)
      xs.foreach(buf.insert)
      val down = Ordering.Double.TotalOrdering.reverse
      val expect = xs.sorted(down).take(k)
      val got = buf.values.sorted(down).toList
      Prop(got.size == expect.size &&
        got.zip(expect).forall { case (a, b) => a == b || (a.isNaN && b.isNaN) }) :|
        s"got $got expect $expect"
    }

  property("topk_pairs buffer ranks NaN scores first") =
    forAll(Gen.nonEmptyListOf(for {
      s <- nanScore; i <- Gen.chooseNum(0L, 50L)
    } yield (s, i)), Gen.chooseNum(1, 8)) { (ps, k) =>
      val buf = new TopKPairsBuffer(k)
      ps.foreach { case (s, i) => buf.insert(s, i) }
      val expect = ps.sortWith(pairBetter).take(k)
      val got = buf.sortedPairs.toList
      Prop(got.size == expect.size && got.zip(expect).forall {
        case ((s1, i1), (s2, i2)) => i1 == i2 && (s1 == s2 || (s1.isNaN && s2.isNaN))
      }) :| s"got $got expect $expect"
    }

  property("simhash of identical multisets is equal; hamming 0") =
    forAll(Gen.listOf(Gen.alphaStr)) { words =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val arr = new GenericArrayData(words.map(w => UTF8String.fromString(w)).toArray[Any])
      TextHash.simhash64(arr) == TextHash.simhash64(arr)
    }

  property("fnv64 distinguishes distinct short strings (no trivial collisions)") =
    forAll(Gen.alphaStr, Gen.alphaStr) { (a, b) =>
      (a == b) == (TextHash.fnv64(UTF8String.fromString(a)) ==
        TextHash.fnv64(UTF8String.fromString(b)))
    }

  // the mixed-script inputs below include multi-byte and astral code
  // points — they pin the byte-level UTF-8 decode in poly61/wordGramPoly61
  property("poly61 byte decode == reference fold over String code points") =
    forAll(Gen.listOf(Gen.oneOf(Gen.alphaNumChar.map(_.toString), Gen.oneOf("é", "ß", "λ", "中", "🌍", " "))).map(_.mkString)) { s =>
      var h1 = 0L; var h2 = 0L; var i = 0
      while (i < s.length) {
        val cp = s.codePointAt(i)
        h1 = (h1 * 131 + cp) % 1000000007L
        h2 = (h2 * 137 + cp) % 998244353L
        i += Character.charCount(cp)
      }
      TextHash.poly61(UTF8String.fromString(s)) == h1 * 998244353L + h2
    }

  property("wordGramPoly61 == poly61 of the space-joined gram strings") =
    forAll(Gen.listOf(Gen.oneOf(Gen.alphaStr, Gen.oneOf("é中", "ß", "🌍x", ""))), Gen.choose(1, 4)) { (words, n) =>
      import org.apache.spark.sql.catalyst.util.GenericArrayData
      val arr = new GenericArrayData(words.map(w => UTF8String.fromString(w)).toArray[Any])
      val fused = TextHash.wordGramPoly61(arr, n)
      val expected =
        if (words.length < n) Seq.empty[Long]
        else words.sliding(n).map(g =>
          TextHash.poly61(UTF8String.fromString(g.mkString(" ")))).toSeq
      fused.toLongArray().toSeq == expected
    }

  /** Pinned parity vectors captured from DuckDB's
    * `jaro_winkler_similarity` (the query oracle): the kernel must
    * reproduce them BIT-EXACTLY — window, integer transposition
    * halving, 0.7 boost gate, prefix cap 4 all covered. */
  property("jaroWinkler matches DuckDB pinned vectors bit-exactly") = Prop {
    val vectors = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("ABCDEF", "ABFEDC", 0.6944444444444443), // below boost gate
      ("AB", "AB", 1.0),
      ("", "ABC", 0.0),
      ("A", "", 0.0),
      ("ABCDXX", "ABCDYY", 0.8666666666666666), // prefix cap 4
      ("PREFIXAAAA", "PREFIXBBBB", 0.8400000000000001),
      ("ab", "ba", 0.0),               // window max/2-1 = 0
      ("abcd", "badc", 0.8333333333333334), // integer t = 4/2
      ("CRATE", "TRACE", 0.7333333333333334))
    vectors.forall { case (a, b, want) =>
      val got = graft.expr.StringSim.jaroWinkler(
        UTF8String.fromString(a), UTF8String.fromString(b))
      got == want
    }
  }

  property("cdc boundaries == naive per-window poly61 recompute") =
    forAll(unicodeText) { s =>
      import org.apache.spark.sql.catalyst.util.ArrayData
      val got = graft.expr.Cdc.boundaries(UTF8String.fromString(s))
        .asInstanceOf[ArrayData].toIntArray().toSeq
      val cps = s.codePoints().toArray
      val want = (graft.expr.Cdc.CdcWindow to cps.length).filter { i =>
        val win = new String(cps.slice(i - graft.expr.Cdc.CdcWindow, i), 0,
          graft.expr.Cdc.CdcWindow)
        TextHash.poly61(UTF8String.fromString(win)) % (graft.expr.Cdc.CdcMask + 1) == 0
      }
      got == want
    }

  property("jaroWinkler is symmetric and bounded in [0,1]") =
    forAll(asciiText, asciiText) { (a, b) =>
      val ua = UTF8String.fromString(a)
      val ub = UTF8String.fromString(b)
      val s1 = graft.expr.StringSim.jaroWinkler(ua, ub)
      val s2 = graft.expr.StringSim.jaroWinkler(ub, ua)
      s1 == s2 && s1 >= 0.0 && s1 <= 1.0 &&
        (a != b || a.isEmpty || s1 == 1.0)
    }

  // BpeKernel.applyAll must equal the per-merge left fold the DuckDB
  // oracle replays with list_reduce (and the pre-r13 chained-withColumn
  // plan computed): model the fold directly, compare on random words
  // and random (possibly inapplicable, possibly chaining) merge tables.
  private def foldOneMerge(syms: List[String], a: String, b: String): List[String] =
    syms.foldLeft(List.empty[String]) { (acc, s) =>
      if (s == b && acc.headOption.contains(a)) (a + b) :: acc.tail
      else s :: acc
    }.reverse

  private val bpeWord: Gen[String] =
    Gen.chooseNum(1, 12).flatMap(n =>
      Gen.listOfN(n, Gen.oneOf('a', 'b', 'c', 'd')).map(_.mkString))

  private val mergeTable: Gen[List[(String, String)]] =
    Gen.chooseNum(0, 6).flatMap { n =>
      // grow realistic chained merges: later pairs may reference
      // symbols only earlier merges can produce
      def step(k: Int, have: List[String], acc: List[(String, String)])
          : Gen[List[(String, String)]] =
        if (k == 0) Gen.const(acc.reverse)
        else for {
          a <- Gen.oneOf(have)
          b <- Gen.oneOf(have)
          r <- step(k - 1, (a + b) :: have, (a, b) :: acc)
        } yield r
      step(n, List("a", "b", "c", "d"), Nil)
    }

  property("bpe applyAll equals the per-merge oracle fold") =
    forAll(bpeWord, mergeTable) { (w, merges) =>
      val want = merges.foldLeft(w.map(String.valueOf(_)).toList) {
        case (syms, (a, b)) => foldOneMerge(syms, a, b)
      }.mkString(" ")
      val got = graft.expr.BpeKernel.applyAll(UTF8String.fromString(w),
        merges.map(_._1).toArray, merges.map(_._2).toArray,
        merges.map(p => p._1 + p._2).toArray).toString
      got == want
    }
}
