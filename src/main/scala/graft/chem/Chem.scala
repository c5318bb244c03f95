package graft.chem

import scala.collection.mutable

/** Minimal-but-real cheminformatics kernel: the in-engine port of the
  * reference's RDKit boundary (SURVEY §2.10 D2/D3/D5), which §7 scoped
  * as "treat canonical SMILES as input data, or port a minimal
  * normalizer" — this is that minimal normalizer, built from public
  * algorithms only:
  *
  *  - D2 canonical SMILES (`finalize_realease.py:230-249`: parse →
  *    cleanup → normalize → uncharge → canonical tautomer →
  *    non-isomeric canonical SMILES): SMILES parser/writer for the
  *    Daylight organic subset + bracket atoms, largest-fragment keep,
  *    valence-recompute uncharger, enol→keto tautomer normalization,
  *    and canonical atom ranking by iterative invariant refinement
  *    with branch-and-minimize tie-breaking (Weininger's CANGEN,
  *    J. Chem. Inf. Comput. Sci. 1989, plus the standard
  *    individualization-refinement guard for symmetric ties).
  *  - D3 Morgan/ECFP fingerprints (`finalize_realease.py:116-144`:
  *    radius 2, 2048 bits): iterative neighborhood hashing per
  *    Rogers & Hahn, J. Chem. Inf. Model. 2010, folded to 32 long
  *    words — the same `array<long>` shape the D4 popcount kernels
  *    ([[graft.expr.BitSimKernels]]) consume.
  *  - D5 tautomer-aware substructure match
  *    (`finalize_realease.py:275-331`: largest-fragment + uncharge
  *    preprocessing, any-tautomer containment): VF2-style backtracking
  *    subgraph isomorphism over the normalized graph.
  *
  * [[canonical]] stays NON-isomeric, matching the reference (its
  * canonic() passes isomeric=False): `@`, `/`, `\` parse but do not
  * reach its output. The stereo EXTENSION beyond the reference lives
  * in [[canonicalIso]]: tetrahedral parity preserved via neighbor-frame
  * replay, E/Z double-bond geometry via [[resolveEz]] descriptors
  * (conjugated runs sharing a substituent bond drop — minimal scope).
  * Isotope labels ([13C], [2H]) follow the same split as stereo:
  * parsed always, DROPPED by [[canonical]] (RDKit's isomeric=False
  * controls isotopes as well as stereo — the reference's canonic()
  * loses both), PRESERVED by [[canonicalIso]], where they join the
  * atom invariants so isotopomers rank deterministically and an
  * isotope-only asymmetry counts as a real distinction (a center
  * whose substituents differ only by mass keeps its mark, as RDKit
  * keeps it). Still out of scope everywhere: kekulization
  * (aromatic atoms stay aromatic; aromaticity is never perceived from
  * alternating bonds — input lowercase is trusted, as Daylight allows).
  *
  * Everything is a pure JVM-static kernel so the Catalyst expressions
  * in [[graft.expr]] can call it from whole-stage-codegen'd code.
  */
object Chem {

  /** `hExplicit == -1` → implicit-by-valence (organic-subset atom);
    * `>= 0` → fixed count from a bracket atom (SMILES: bracket atoms
    * have NO implicit hydrogens). */
  final case class Atom(element: String, aromatic: Boolean, charge: Int, hExplicit: Int,
                        isotope: Int = 0)

  /** Bond orders: 1/2/3 = single/double/triple, 4 = aromatic.
    *
    * `stereo`: tetrahedral chirality, atom index → (parity, frame).
    * Parity 1 = `@` (anticlockwise), 2 = `@@`; the FRAME is the
    * neighbor order the parity refers to — the four neighbors in the
    * order the source SMILES listed them (preceding atom first, then
    * the implicit bracket H as `-1`, then ring-closure digits and
    * branches in written order, per Daylight). Parity is only
    * meaningful together with its frame: re-listing the same neighbors
    * in a different order flips the symbol once per transposition,
    * which is exactly what the isomeric writer replays. The default
    * (empty) keeps every non-isomeric call site unchanged.
    *
    * `bondDirs`: raw directional single bonds from the source SMILES,
    * (min, max) atom pair → dir(min→max): +1 for `/` (ascending in the
    * written direction), -1 for `\`. These are the E/Z INPUT marks;
    * [[resolveEz]] turns them into validated per-double-bond
    * descriptors.
    *
    * `ez`: resolved double-bond stereo, (min, max) double-bond pair →
    * (reference substituent of the min end, reference substituent of
    * the max end, sameSide) where references are the lowest-rank
    * single-bond substituents and sameSide ⟺ dir(refMin→minEnd) ==
    * dir(refMax→maxEnd) — i.e. the two references are CIS. Only
    * [[resolveEz]] populates this; the isomeric writer re-emits it as
    * `/`/`\` marks in output order. */
  final case class Mol(atoms: Vector[Atom], bonds: Vector[(Int, Int, Int)],
                       stereo: Map[Int, (Int, Vector[Int])] = Map.empty,
                       bondDirs: Map[(Int, Int), Int] = Map.empty,
                       ez: Map[(Int, Int), (Int, Int, Boolean)] = Map.empty) {
    lazy val adj: Array[List[(Int, Int)]] = { // atom -> (neighbor, order)
      val a = Array.fill(atoms.length)(List.empty[(Int, Int)])
      bonds.foreach { case (i, j, o) => a(i) = (j, o) :: a(i); a(j) = (i, o) :: a(j) }
      a.map(_.sortBy(_._1))
    }
    def degree(i: Int): Int = adj(i).length
  }

  private val OrganicSubset = Set("B", "C", "N", "O", "P", "S", "F", "Cl", "Br", "I")
  // Daylight normal valences; the smallest one >= the bond-order sum wins.
  private val Valences: Map[String, List[Int]] = Map(
    "B" -> List(3), "C" -> List(4), "N" -> List(3, 5), "O" -> List(2),
    "P" -> List(3, 5), "S" -> List(2, 4, 6), "F" -> List(1), "Cl" -> List(1),
    "Br" -> List(1), "I" -> List(1))

  /** Implicit+explicit hydrogen count. Aromatic atoms contribute one
    * extra valence unit for the ring π system (benzene carbon:
    * 4-1-2=1H) and use only their LOWEST normal valence — an aromatic
    * atom never promotes to a hypervalent state, so thiophene S is
    * 0 H (the higher-valence fallback would fabricate an H that makes
    * a Kekulé-S rendering and the perceived aromatic form disagree
    * through cleanup) and N-methylpyrrole N is 0 H. */
  def hydrogens(m: Mol, i: Int): Int = {
    val a = m.atoms(i)
    if (a.hExplicit >= 0) return a.hExplicit
    val bondSum = m.adj(i).map { case (_, o) => if (o == 4) 1 else o }.sum +
      (if (a.aromatic) 1 else 0)
    Valences.get(a.element) match {
      case Some(vs) =>
        val usable = if (a.aromatic) vs.take(1) else vs
        usable.find(_ >= bondSum).map(_ - bondSum).getOrElse(0)
      case None => 0
    }
  }

  // ---------------------------------------------------------------- parse

  /** SMILES parser: organic subset + bracket atoms (isotope dropped;
    * tetrahedral `@`/`@@` RECORDED with its neighbor frame — see
    * [[Mol.stereo]]; directional `/` `\` bonds RECORDED as signed
    * single bonds — see [[Mol.bondDirs]]), bonds `- = # :`, branches,
    * ring closures (`1`-`9`, `%nn`), `.`-separated fragments.
    * Throws IllegalArgumentException on malformed input. */
  def parse(s: String): Mol = {
    val atoms = mutable.ArrayBuffer[Atom]()
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    val stack = mutable.Stack[Int]()
    val ringOpen = mutable.Map[Int, (Int, Int, Int)]() // closure id -> (atom, pending order, opener dir)
    // stereo bookkeeping: chiral atom -> parity and its growing frame;
    // a ring digit OPENED at a chiral atom reserves a frame slot that
    // is back-filled when the partner atom arrives
    val parity = mutable.Map[Int, Int]()
    val frames = mutable.Map[Int, mutable.ArrayBuffer[Int]]()
    val openSlot = mutable.Map[Int, (Int, Int)]() // closure id -> (chiral opener, slot)
    val bondDirs = mutable.Map[(Int, Int), Int]() // (min,max) -> dir(min -> max)
    var prev = -1
    var pending = -1 // bond order before next atom; -1 = unspecified
    var pendingDir = 0 // +1 '/', -1 '\' before next atom/closure
    var i = 0
    def fail(msg: String) = throw new IllegalArgumentException(s"SMILES parse error at $i in '$s': $msg")

    def recordDir(from: Int, to: Int, d: Int): Unit =
      bondDirs((math.min(from, to), math.max(from, to))) = if (from < to) d else -d

    def addAtom(a: Atom, chiral: Int = 0, hInFrame: Boolean = false): Unit = {
      atoms += a
      val cur = atoms.length - 1
      if (prev >= 0) {
        val o = if (pending >= 0) pending
                else if (atoms(prev).aromatic && a.aromatic) 4 else 1
        bonds += ((prev, cur, o))
        if (pendingDir != 0) recordDir(prev, cur, pendingDir)
        frames.get(prev).foreach(_ += cur) // a new child of a chiral atom
      }
      if (chiral > 0) {
        parity(cur) = chiral
        val f = mutable.ArrayBuffer[Int]()
        if (prev >= 0) f += prev    // preceding atom comes first...
        if (hInFrame) f += -1       // ...then the bracket's implicit H
        frames(cur) = f
      }
      prev = cur
      pending = -1
      pendingDir = 0
    }
    def closure(id: Int): Unit = {
      if (prev < 0) fail("ring closure before any atom")
      ringOpen.remove(id) match {
        case Some((other, po, od)) =>
          val o = if (pending >= 0) pending
                  else if (po >= 0) po
                  else if (atoms(other).aromatic && atoms(prev).aromatic) 4 else 1
          if (other == prev) fail("self ring closure")
          if (bonds.exists { case (a, b, _) =>
                (a == other && b == prev) || (a == prev && b == other) })
            fail("ring closure duplicates an existing bond")
          bonds += ((other, prev, o))
          // direction across a closure: the opener's mark reads
          // opener -> partner; the closer's reads closer -> opener.
          // When BOTH ends carry a mark they describe the same physical
          // bond, so they must agree (od == -(closer mark)); RDKit
          // rejects conflicting bond directions and so do we.
          if (od != 0 && pendingDir != 0 && od != -pendingDir)
            fail("conflicting ring-closure bond directions")
          if (od != 0) recordDir(other, prev, od)
          else if (pendingDir != 0) recordDir(prev, other, pendingDir)
          openSlot.remove(id).foreach { case (opener, slot) => frames(opener)(slot) = prev }
          frames.get(prev).foreach(_ += other) // closure partner at the digit's position
        case None =>
          ringOpen(id) = (prev, pending, pendingDir)
          frames.get(prev).foreach { f =>
            f += Int.MinValue // reserve the digit's slot until the ring closes
            openSlot(id) = (prev, f.length - 1)
          }
      }
      pending = -1
      pendingDir = 0
    }

    while (i < s.length) {
      s.charAt(i) match {
        case '(' => stack.push(prev); i += 1
        case ')' => if (stack.isEmpty) fail("unbalanced ')'") else { prev = stack.pop(); i += 1 }
        case '-' => pending = 1; i += 1
        case '=' => pending = 2; i += 1
        case '#' => pending = 3; i += 1
        case ':' => pending = 4; i += 1
        case '/' => pending = 1; pendingDir = 1; i += 1  // directional single (E/Z input)
        case '\\' => pending = 1; pendingDir = -1; i += 1
        case '.' => prev = -1; pending = -1; pendingDir = 0; i += 1
        case '%' =>
          if (i + 2 >= s.length || !s.charAt(i + 1).isDigit || !s.charAt(i + 2).isDigit)
            fail("bad %nn ring closure")
          closure((s.charAt(i + 1) - '0') * 10 + (s.charAt(i + 2) - '0')); i += 3
        case d if d.isDigit => closure(d - '0'); i += 1
        case '[' =>
          val end = s.indexOf(']', i)
          if (end < 0) fail("unterminated bracket atom")
          val (a, chiral) = parseBracket(s.substring(i + 1, end), fail)
          addAtom(a, chiral, hInFrame = chiral > 0 && a.hExplicit == 1)
          i = end + 1
        case c =>
          // organic subset, two-char halogens first
          val two = if (i + 1 < s.length) s.substring(i, i + 2) else ""
          if (two == "Cl" || two == "Br") { addAtom(Atom(two, aromatic = false, 0, -1)); i += 2 }
          else {
            val el = c.toString
            val up = el.toUpperCase
            if (!OrganicSubset.contains(up) || (c.isLower && !"bcnops".contains(c)))
              fail(s"unexpected '$c'")
            addAtom(Atom(up, aromatic = c.isLower, 0, -1)); i += 1
          }
      }
    }
    if (stack.nonEmpty) fail("unbalanced '('")
    if (ringOpen.nonEmpty) fail(s"unclosed ring bonds ${ringOpen.keys.mkString(",")}")
    Mol(atoms.toVector, bonds.toVector,
      frames.map { case (a, f) => a -> ((parity(a), f.toVector)) }.toMap,
      bondDirs.toMap)
  }

  private def parseBracket(b: String, fail: String => Nothing): (Atom, Int) = {
    var i = 0
    var isotope = 0
    while (i < b.length && b.charAt(i).isDigit) {
      isotope = isotope * 10 + (b.charAt(i) - '0'); i += 1
    }
    if (isotope > 999) fail("bad isotope")
    // an explicit zero ('[0C]') or zero-padded ('[013C]') isotope is
    // rejected rather than silently collapsed with the unlabeled atom:
    // RDKit distinguishes an explicit mass-0 specification, and this
    // kernel's isotope-0-means-unlabeled convention cannot represent it
    if (i > 0 && b.charAt(0) == '0') fail("zero or zero-padded isotope")
    if (i >= b.length) fail("empty bracket atom")
    val (el, arom) = {
      val c = b.charAt(i)
      if (c.isUpper) {
        // any element symbol: uppercase + optional lowercase ('h' is
        // never an element's second letter inside brackets we accept —
        // it would collide with an H-count that follows a one-letter
        // element; Th/Rh-class metals enter as counterions and drop in
        // largestFragment anyway, parsed here one letter at a time)
        if (i + 1 < b.length && b.charAt(i + 1).isLower && b.charAt(i + 1) != 'h') {
          val e = b.substring(i, i + 2); i += 2; (e, false)
        } else { i += 1; (c.toString, false) }
      } else if ("bcnops".contains(c)) { i += 1; (c.toUpper.toString, true) }
      else fail(s"bad bracket element '$c'")
    }
    var chiral = 0
    while (i < b.length && (b.charAt(i) == '@')) { chiral += 1; i += 1 }
    if (chiral > 2) fail("bad chirality marker")
    var h = 0
    if (i < b.length && b.charAt(i) == 'H') {
      i += 1; h = 1
      if (i < b.length && b.charAt(i).isDigit) { h = b.charAt(i) - '0'; i += 1 }
    }
    var charge = 0
    while (i < b.length && (b.charAt(i) == '+' || b.charAt(i) == '-')) {
      val sign = if (b.charAt(i) == '+') 1 else -1
      i += 1
      if (i < b.length && b.charAt(i).isDigit) { charge += sign * (b.charAt(i) - '0'); i += 1 }
      else charge += sign
    }
    if (i != b.length) fail(s"trailing bracket content '${b.substring(i)}'")
    (Atom(el, arom, charge, h, isotope), chiral)
  }

  // ---------------------------------------------------------------- write

  /** Permutation parity between two orderings of the same four
    * neighbor entries: 0 = even (same tetrahedral sense), 1 = odd
    * (flipped). Entries are distinct by stereocenter definition. */
  private def permParity(from: Vector[Int], to: Vector[Int]): Int = {
    val pos = from.zipWithIndex.toMap
    val perm = to.map(pos)
    var inv = 0
    var i = 0
    while (i < perm.length) {
      var j = i + 1
      while (j < perm.length) { if (perm(i) > perm(j)) inv += 1; j += 1 }
      i += 1
    }
    inv & 1
  }

  /** SMILES writer: DFS from `start`, children visited in `key` order.
    * The canonical writer passes canonical ranks as `key`; the variant
    * renderer passes a scrambled key. Handles ring closures, bond
    * symbols, and bracket atoms (charge != 0 or fixed H).
    *
    * With `iso = true`, atoms carrying a [[Mol.stereo]] entry emit
    * `@`/`@@` re-expressed in the OUTPUT's neighbor order: the writer
    * builds the frame it is about to emit (parent, then the bracket H,
    * then ring digits and branches in emission order — the same
    * convention the parser records) and flips the stored symbol once
    * per transposition between the two frames. Atoms whose stored
    * frame no longer matches the emitted neighbor set (a normalization
    * rewrote them) emit plain tokens — [[dropFalseStereo]] normally
    * clears those before writing. */
  def write(m: Mol, start: Int, key: Int => Int, iso: Boolean = false): String = {
    val n = m.atoms.length
    if (n == 0) return ""
    val visited = new Array[Boolean](n)
    val closureOf = mutable.Map[(Int, Int), Int]() // ring-bond (min,max) -> closure id
    var nextClosure = 1
    // pass 1: find back edges in the exact DFS order we will emit
    locally {
      val seen = new Array[Boolean](n)
      def dfs(a: Int, parent: Int): Unit = {
        seen(a) = true
        for ((b, _) <- m.adj(a).sortBy(t => key(t._1)) if b != parent) {
          val k = (math.min(a, b), math.max(a, b))
          if (seen(b)) {
            if (!closureOf.contains(k)) { closureOf(k) = nextClosure; nextClosure += 1 }
          } else if (!closureOf.contains(k)) dfs(b, a)
        }
      }
      dfs(start, -1)
    }
    // E/Z emission: fix the reference bond of the LOWER-KEY end to '/'
    // and derive everything else from it. The anchor must be chosen by
    // canonical rank, not atom index — indices are a labeling artifact,
    // and an index-anchored assignment emits globally flipped
    // (equivalent but textually different) marks for relabeled
    // renderings of the same geometry. Canonical writes happen with
    // injective keys, so the anchor is graph-invariant there.
    val dirOut: Map[(Int, Int), Int] = // (substituent, end) -> dir(sub -> end)
      if (!iso || m.ez.isEmpty) Map.empty
      else m.ez.iterator.flatMap { case ((a, b), (refA, refB, same)) =>
        def fill(end: Int, partner: Int, ref: Int, refDir: Int) =
          m.adj(end).collect { case (x, 1) if x != partner =>
            (x, end) -> (if (x == ref) refDir else -refDir)
          }
        val coupled = if (same) 1 else -1
        if (key(a) <= key(b)) fill(a, b, refA, 1) ++ fill(b, a, refB, coupled)
        else fill(b, a, refB, 1) ++ fill(a, b, refA, coupled)
      }.toMap
    def bondSym(o: Int, a: Int, b: Int): String = o match {
      case 2 => "="
      case 3 => "#"
      case 4 => "" // aromatic bond between aromatic atoms
      case _ =>
        // writing direction a -> b: '/' iff dir(a -> b) = +1
        dirOut.get((b, a)).map(d => -d).orElse(dirOut.get((a, b))) match {
          case Some(1)  => "/"
          case Some(-1) => "\\"
          case _ => if (m.atoms(a).aromatic && m.atoms(b).aromatic) "-" else ""
        }
    }
    def atomTok(i: Int, stereoSym: String): String = {
      val a = m.atoms(i)
      val sym = if (a.aromatic) a.element.toLowerCase else a.element
      val isoNum = if (iso && a.isotope > 0) a.isotope.toString else ""
      if (isoNum.isEmpty && stereoSym.isEmpty && a.charge == 0 &&
          a.hExplicit < 0 && OrganicSubset.contains(a.element)) sym
      else {
        val h = if (a.hExplicit >= 0) a.hExplicit else hydrogens(m, i)
        val hs = if (h == 0) "" else if (h == 1) "H" else s"H$h"
        val cs = if (a.charge == 0) ""
                 else if (a.charge == 1) "+" else if (a.charge == -1) "-"
                 else if (a.charge > 0) s"+${a.charge}" else a.charge.toString
        s"[$isoNum$sym$stereoSym$hs$cs]"
      }
    }
    val sb = new StringBuilder
    def emit(a: Int, parent: Int): Unit = {
      visited(a) = true
      val nbrs = m.adj(a).sortBy(t => key(t._1))
      val ringNbrs = nbrs.filter { case (b, _) =>
        b != parent && closureOf.contains((math.min(a, b), math.max(a, b)))
      }
      val children = nbrs.filter { case (b, _) =>
        b != parent && !visited(b) && !closureOf.contains((math.min(a, b), math.max(a, b)))
      }
      // the frame this emission denotes: parent, bracket H, ring digits
      // and branches in written order — mirrors the parser's recording
      val stereoSym = if (!iso) "" else m.stereo.get(a) match {
        case Some((p, storedFrame)) =>
          val h = if (m.atoms(a).hExplicit >= 0) m.atoms(a).hExplicit else hydrogens(m, a)
          val outFrame = (if (parent >= 0) Vector(parent) else Vector.empty[Int]) ++
            (if (h == 1) Vector(-1) else Vector.empty[Int]) ++
            ringNbrs.map(_._1) ++ children.map(_._1)
          if (outFrame.length == 4 && storedFrame.sorted == outFrame.sorted &&
              storedFrame.distinct.length == 4) {
            val flipped = permParity(storedFrame, outFrame) == 1
            val outParity = if (flipped) 3 - p else p
            if (outParity == 1) "@" else "@@"
          } else "" // frame no longer valid — emit achiral
        case None => ""
      }
      sb.append(atomTok(a, stereoSym))
      // ring-closure digits at this atom (both ends emit the digit)
      for ((b, o) <- ringNbrs) {
        val id = closureOf((math.min(a, b), math.max(a, b)))
        sb.append(bondSym(o, a, b)).append(if (id < 10) id.toString else s"%$id")
      }
      children.zipWithIndex.foreach { case ((b, o), idx) =>
        val last = idx == children.length - 1
        if (!last) sb.append('(')
        sb.append(bondSym(o, a, b))
        emit(b, a)
        if (!last) sb.append(')')
      }
    }
    emit(start, -1)
    // disconnected leftovers (caller normally strips fragments first)
    val rest = (0 until n).filter(!visited(_))
    if (rest.isEmpty) sb.toString
    else sb.toString + "." + write(m, rest.head, key, iso) // unreachable in-engine
  }

  // ------------------------------------------------------- normalization

  /** Keep the largest connected fragment (atom count, then bond count,
    * then lowest original index — deterministic). Reference: RDKit
    * LargestFragmentChooser step, finalize_realease.py:287-291. */
  def largestFragment(m: Mol): Mol = {
    val n = m.atoms.length
    if (n == 0) return m
    val comp = Array.fill(n)(-1)
    var c = 0
    for (s <- 0 until n if comp(s) < 0) {
      val q = mutable.Queue(s); comp(s) = c
      while (q.nonEmpty) {
        val a = q.dequeue()
        for ((b, _) <- m.adj(a) if comp(b) < 0) { comp(b) = c; q += b }
      }
      c += 1
    }
    if (c == 1) return m
    val sizes = Array.fill(c)((0, 0))
    for (i <- 0 until n) sizes(comp(i)) = (sizes(comp(i))._1 + 1, sizes(comp(i))._2)
    m.bonds.foreach { case (i, _, _) => sizes(comp(i)) = (sizes(comp(i))._1, sizes(comp(i))._2 + 1) }
    val best = (0 until c).maxBy(k => (sizes(k)._1, sizes(k)._2, -k))
    val remap = new Array[Int](n)
    var next = 0
    for (i <- 0 until n if comp(i) == best) { remap(i) = next; next += 1 }
    Mol(
      (0 until n).filter(comp(_) == best).map(m.atoms).toVector,
      m.bonds.collect { case (i, j, o) if comp(i) == best => (remap(i), remap(j), o) },
      m.stereo.collect { case (i, (p, f)) if comp(i) == best =>
        remap(i) -> ((p, f.map(x => if (x < 0) x else remap(x)))) },
      m.bondDirs.collect { case ((i, j), d) if comp(i) == best =>
        val (ri, rj) = (remap(i), remap(j))
        (math.min(ri, rj), math.max(ri, rj)) -> (if (ri < rj) d else -d)
      })
  }

  /** Minimal uncharger (reference: RDKit Uncharger,
    * finalize_realease.py:237): charged organic-subset atoms are
    * neutralized and their hydrogen count recomputed by valence —
    * [O-] → O(H), [NH4+] → N(H3). Exotic elements keep their charge. */
  def uncharge(m: Mol): Mol =
    Mol(m.atoms.map { a =>
      if (a.charge != 0 && OrganicSubset.contains(a.element)) a.copy(charge = 0, hExplicit = -1)
      else a
    }, m.bonds, m.stereo, m.bondDirs)

  /** Canonical tautomer, minimal rule set: enol → keto
    * (O(H)–C=C → O=C–C(H)) and lactim/imidol → lactam/amide
    * (O(H)–C=N → O=C–N(H), RDKit TautomerEnumerator's second most
    * common collapse after enol→keto, finalize_realease.py:241-244) —
    * structurally the same 1,3-H shift with an N acceptor, applied
    * until fixpoint. The rewrite SITE is chosen by canonical rank, not
    * atom index: with two interacting sites (an enediol — rewriting
    * one kills the other), an index-order choice would normalize
    * different RENDERINGS of the same molecule to different tautomers;
    * ranks are graph-invariant, so every rendering picks the same site
    * (tied sites are automorphic — either choice yields isomorphic
    * results). Aromatic-ring tautomers (2-hydroxypyridine vs
    * 2-pyridone) stay OUT of scope: both sides of the site must be
    * non-aromatic, so whichever ring form [[aromatize]] perceived is
    * kept as written. Covers the keto/enol and lactam/lactim pairs the
    * engine's generators emit and the common textual variants; the
    * reference's full RDKit tautomer enumeration handles more
    * ring-chain tautomer chemistry than this port claims. */
  def tautomerKeto(m0: Mol, iso: Boolean = false): Mol = {
    var m = m0
    var guard = 0
    var changed = true
    while (changed && guard < 100) {
      changed = false
      guard += 1
      val sites = m.atoms.indices.iterator.flatMap { oi =>
        val o = m.atoms(oi)
        if (o.element == "O" && !o.aromatic && o.charge == 0 &&
            m.degree(oi) == 1 && hydrogens(m, oi) >= 1) {
          val (a, oOrd) = m.adj(oi).head
          if (oOrd == 1 && m.atoms(a).element == "C" && !m.atoms(a).aromatic) {
            // acceptor C → enol→keto; acceptor N → lactim→lactam
            m.adj(a).collect {
              case (b, 2) if b != oi && !m.atoms(b).aromatic &&
                  (m.atoms(b).element == "C" || m.atoms(b).element == "N") =>
                (oi, a, b)
            }
          } else Nil
        } else Nil
      }.toSeq
      val site =
        if (sites.isEmpty) None
        else if (sites.length == 1) sites.headOption
        else {
          // site ranks follow the CALLING pipeline: the iso path ranks
          // isotope-aware so two enol sites tied in the flat graph but
          // distinguished by a label resolve the same way in every
          // rendering; the FLAT path must rank label-blind — iso-aware
          // ranks reshuffle the whole ordering, so a label could flip
          // the site choice between structurally-distinct sites and
          // leak into the flat canonical ([13O]C(N)=CO vs its
          // unlabeled form picking different keto forms)
          val rank = refine(m, initialInvariants(m, iso = iso))
          Some(sites.minBy { case (oi, a, b) => (rank(oi), rank(a), rank(b)) })
        }
      site.foreach { case (oi, a, b) =>
        val nb = m.bonds.map {
          case (i, j, _) if Set(i, j) == Set(oi, a) => (i, j, 2)
          case (i, j, _) if Set(i, j) == Set(a, b)  => (i, j, 1)
          case keep => keep
        }
        // atoms whose bond orders the rewrite changed can no longer be
        // tetrahedral stereocenters, and directional marks on bonds
        // touching the rewritten site no longer describe a geometry
        val touched = Set(oi, a, b)
        m = Mol(m.atoms, nb, m.stereo -- touched,
          m.bondDirs.filterNot { case ((i, j), _) => touched(i) || touched(j) })
        changed = true
      }
    }
    m
  }

  /** Cleanup (reference: RDKit Cleanup step,
    * finalize_realease.py:235): bracket atoms whose explicit hydrogen
    * count is exactly what valence would imply anyway fold back to
    * implicit form, so `C[C@H](O)C` (stereo dropped → redundant H1)
    * canonicalizes identically to `CC(O)C`. Pyrrole-style [nH] keeps
    * its bracket — its H count is NOT valence-implied. */
  def cleanup(m: Mol): Mol =
    Mol(m.atoms.zipWithIndex.map { case (a, i) =>
      if (a.hExplicit >= 0 && a.charge == 0 && OrganicSubset.contains(a.element) &&
          hydrogens(Mol(m.atoms.updated(i, a.copy(hExplicit = -1)), m.bonds), i) == a.hExplicit)
        a.copy(hExplicit = -1)
      else a
    }, m.bonds, m.stereo, m.bondDirs)

  /** Aromaticity perception on 5/6-membered rings AND their fused
    * systems: a Kekulé-form ring system (explicit single/double bonds)
    * whose global π count satisfies Hückel's 4n+2 becomes aromatic —
    * atoms flagged, ring bonds rewritten to order 4 — so `C1=CC=CC=C1`
    * and `c1ccccc1` canonicalize identically, and so do BOTH Kekulé
    * phases of naphthalene/indole/quinoline with their aromatic
    * renderings (the round-9 isolated-ring scope silently missed fused
    * duplicates; the reference's own inhibitor space is mostly fused
    * polycyclics, which its RDKit perceives during sanitization,
    * finalize_realease.py:230-249).
    *
    * Two stages. (1) RING PLAUSIBILITY, per candidate 5/6-ring: every
    * atom non-aromatic, uncharged, and sp2-capable — it carries some
    * double/triple bond, or is an N/O/S lone-pair donor (all single
    * bonds); an all-single carbon is sp3 and disqualifies the ring; at
    * most ONE donor per ring (a ring of all-single heteroatoms,
    * pentazolidine, is sp3 — five lone pairs are not a π system).
    * (2) SYSTEM counting: plausible rings sharing an edge merge into
    * one system, and π counts over the system's ATOM SET — an atom
    * with a double bond to another system atom contributes 1, a donor
    * 2, a carbon whose only multiple bond leaves the system 0 (still
    * sp2 — the pyranone/quinoid shape), a heteroatom whose only
    * multiple bond leaves the system fails the whole system, and so
    * does an atom with two multiple bonds (a cumulated C=C=C centre is
    * sp, and aromatizing it would add hydrogens). Counting
    * at the system level is what makes perception KEKULÉ-PHASE-
    * INDEPENDENT: per-ring counting sees 3 vs 2 endocyclic doubles for
    * naphthalene's two phases, but every atom of any Kekulé naphthalene
    * has exactly one double bond inside the system, so the system
    * count is 10 in both phases. Hückel (π % 4 == 2) then accepts or
    * rejects the system as a whole — pentalene (π = 8) stays Kekulé,
    * and an sp3-containing neighbor ring (indane, tetralin, fluorene,
    * 2H-chromene) simply fails plausibility without dragging down the
    * benzene it is fused to, which perceives alone.
    *
    * A donor N in a passing system keeps its pre-perception hydrogen
    * EXPLICITLY (`[nH]`, whose count the aromatic valence recompute
    * would otherwise lose; O and S recompute identically on both paths
    * and stay implicit).
    *
    * A system that FAILS the whole-system count (4n totals like
    * pyrene's 16 or acenaphthylene's 12; quinoid partners whose sp2
    * carbonyl carbons count 0) gets a PER-RING FALLBACK: each
    * constituent ring re-perceives in isolation, still counting π
    * contributions against the full system's atom set — see the
    * fallback comment in the loop body for why that stays
    * Kekulé-phase-independent and why ring-by-ring suffices (no
    * intermediate subsystems needed). This perceives pyrene fully
    * aromatic, keeps quinone rings Kekulé beside aromatic benzo rings
    * (1,4-naphthoquinone, 9,10-anthraquinone), and renders
    * acenaphthylene as aromatic naphthalene + CH=CH — RDKit parity,
    * closing the r10 pyrene-class and quinoid-fused miss classes
    * (d14's generator lattice drives all four, both phases).
    *
    * Remaining documented scope limits — the charged-ring and
    * fused-non-candidate classes below are FLAGGED for routing by
    * [[perceptionIncompleteGraph]] (d15), so downstream dedup never
    * silently trusts their keys: charged rings
    * (cyclopentadienyl), systems containing pre-flagged aromatic
    * atoms (a half-aromatic half-Kekulé rendering passes through as
    * written), rings fused only through a non-5/6 ring (azulene's
    * 7-ring is no candidate, and its 5-ring alone counts π = 4 in
    * every valid Kekulé structure — consistently, so both renderings
    * stay Kekulé), and fusion against a non-candidate CONJUGATED ring
    * the perception cannot see (benzocyclobutadiene: the 4-ring is no
    * candidate, so its benzo ring perceives alone as if isolated —
    * RDKit's ring-of-size check likewise ignores the 4-ring, but the
    * whole-molecule antiaromaticity is out of this kernel's scope).
    * Tetrahedral marks on aromatized atoms and directional marks on
    * aromatized bonds drop — neither can denote stereo on an aromatic
    * system. */
  def aromatize(m: Mol): Mol = {
    val n = m.atoms.length
    if (n < 5 || !m.bonds.exists(b => b._3 == 2)) return m // no Kekulé input
    // candidate rings: the shortest cycle through each bond (BFS
    // avoiding the bond itself), kept when its size is 5 or 6 — for a
    // fused bi/polycyclic this finds every constituent small ring (each
    // ring bond's shortest cycle is its own ring), i.e. the SSSR slice
    // this kernel needs
    val rings = mutable.LinkedHashMap[Set[Int], Vector[Int]]()
    for ((u, v, _) <- m.bonds) {
      val prev = Array.fill(n)(-2)
      prev(u) = -1
      val q = mutable.Queue(u)
      var found = false
      while (q.nonEmpty && !found) {
        val a = q.dequeue()
        for ((b, _) <- m.adj(a) if prev(b) == -2 && !(a == u && b == v)) {
          prev(b) = a
          if (b == v) found = true else q += b
        }
      }
      if (found) {
        var path = List(v)
        while (prev(path.head) >= 0) path = prev(path.head) :: path
        if (path.length == 5 || path.length == 6) {
          val key = path.toSet
          if (key.size == path.length) rings.getOrElseUpdate(key, path.toVector)
        }
      }
    }
    val ringList = rings.values.toVector
    def edgesOf(cycle: Vector[Int]): Set[(Int, Int)] =
      cycle.indices.map { k =>
        val a = cycle(k); val b = cycle((k + 1) % cycle.length)
        (math.min(a, b), math.max(a, b))
      }.toSet
    val ringEdges = ringList.map(edgesOf)
    def multiples(a: Int): Int = m.adj(a).count(t => t._2 == 2 || t._2 == 3)
    def anyMultiple(a: Int): Boolean = multiples(a) > 0
    def donorish(a: Int): Boolean = {
      val el = m.atoms(a).element
      (el == "N" || el == "O" || el == "S") && !anyMultiple(a)
    }
    // stage 1: ring plausibility
    val plausible = ringList.indices.filter { k =>
      val cycle = ringList(k)
      cycle.forall(a => !m.atoms(a).aromatic && m.atoms(a).charge == 0 &&
        OrganicSubset.contains(m.atoms(a).element) &&
        (anyMultiple(a) || donorish(a))) &&
        cycle.count(donorish(_)) <= 1
    }.toVector
    if (plausible.isEmpty) return m
    // stage 2: edge-sharing systems of plausible rings (BFS components)
    val systems = {
      val unassigned = mutable.LinkedHashSet(plausible: _*)
      val out = Vector.newBuilder[Vector[Int]]
      while (unassigned.nonEmpty) {
        val seed0 = unassigned.head
        val comp = mutable.ArrayBuffer(seed0)
        unassigned -= seed0
        var i = 0
        while (i < comp.length) {
          val cur = comp(i)
          val joins = unassigned.filter(j => (ringEdges(cur) & ringEdges(j)).nonEmpty)
          joins.foreach { j => comp += j; unassigned -= j }
          i += 1
        }
        out += comp.toVector
      }
      out.result()
    }
    val aromAtoms = mutable.Set[Int]()
    val aromBonds = mutable.Set[(Int, Int)]()
    val hFix = mutable.Map[Int, Int]() // pyrrole-type N -> explicit H
    for (sys <- systems) {
      val sysAtoms: Set[Int] = sys.iterator.flatMap(ringList(_)).toSet
      // per-atom π contribution, ALWAYS counted against the full
      // system's atom set (None = heteroatom veto): keeping the
      // contribution frame fixed is what makes BOTH the whole-system
      // count and the per-ring fallback below Kekulé-phase-independent
      // — every atom of a perfectly-matched polycyclic has its one
      // double bond inside the system in every phase, so a ring's
      // count never depends on which side of a shared edge the phase
      // parked the double bond
      def contrib(a: Int): Option[Int] = {
        val el = m.atoms(a).element
        val intra = m.adj(a).exists { case (b, o) => o == 2 && sysAtoms(b) }
        if (multiples(a) > 1) None // cumulated C=C=C centre: sp, not sp2
        else if (intra) Some(1)
        else if (donorish(a)) Some(2)
        else if (el != "C") None // heteroatom with only exo multiple bonds
        else Some(0) // sp2 carbon with an exocyclic multiple bond
      }
      val sysContribs = sysAtoms.toVector.map(contrib)
      val ok = sysContribs.forall(_.isDefined)
      val pi = sysContribs.flatten.sum
      val passAtoms: Set[Int] =
        if (ok && pi % 4 == 2 && pi > 2) {
          aromAtoms ++= sysAtoms
          sys.foreach(k => aromBonds ++= ringEdges(k))
          sysAtoms
        } else {
          // PER-RING FALLBACK for 4n (or vetoed) full-system counts —
          // the pyrene/quinoid class: Hückel genuinely rejects some
          // fused systems as a whole (pyrene counts 16 with its two
          // internal atoms; a quinoid partner ring contributes sp2
          // carbons worth 0), yet constituent rings are aromatic on
          // their own. Re-perceive each ring in isolation with the
          // SYSTEM-level contributions: pyrene's four rings each count
          // 6 (every atom matched in-system) and all aromatize;
          // 1,4-naphthoquinone / 9,10-anthraquinone keep their quinone
          // ring Kekulé (π = 4) while the benzo rings perceive;
          // acenaphthylene aromatizes its naphthalene and leaves the
          // 5-ring CH=CH (π = 5) — RDKit parity on all four, and both
          // Kekulé phases collapse identically. Subsystems BETWEEN one
          // ring and the whole have nothing to add: with system-level
          // contributions a 6-ring counts 6 iff all its atoms are
          // live, so any aromatic subsystem's rings already pass one
          // by one. Pentalene/s-indacene 5-rings count 5 (odd) and
          // stay Kekulé in every phase.
          val passed = Set.newBuilder[Int]
          for (k <- sys) {
            val cycle = ringList(k)
            val cs = cycle.map(contrib)
            if (cs.forall(_.isDefined)) {
              val rpi = cs.flatten.sum
              if (rpi % 4 == 2 && rpi > 2) {
                aromAtoms ++= cycle
                aromBonds ++= ringEdges(k)
                passed ++= cycle
              }
            }
          }
          passed.result()
        }
      {
        for (a <- passAtoms) {
          val at = m.atoms(a)
          // lone-pair N keeps its hydrogen count explicitly: the
          // aromatic recompute (bondSum + 1) would report 0 where the
          // Kekulé form implied 1 (plain pyrrole/indole). O/S recompute
          // the same value on both paths and stay implicit.
          if (at.element == "N" && at.hExplicit < 0 && donorish(a)) {
            val before = hydrogens(m, a)
            val after = { // aromatic implicit recompute, analytically —
              // MUST mirror hydrogens()'s aromatic rule (lowest normal
              // valence only), or a degree-3 lone-pair N (N-methyl-
              // pyrrole, indolizine's bridgehead) gets a spurious
              // hExplicit pin
              val bondSum = m.degree(a) + 1
              Valences(at.element).take(1).find(_ >= bondSum)
                .map(_ - bondSum).getOrElse(0)
            }
            if (before != after) hFix(a) = before
          }
        }
      }
    }
    if (aromAtoms.isEmpty) return m
    Mol(
      m.atoms.zipWithIndex.map { case (a, i) =>
        if (!aromAtoms(i)) a
        else a.copy(aromatic = true, hExplicit = hFix.getOrElse(i, a.hExplicit))
      },
      m.bonds.map { case (i, j, o) =>
        if (aromBonds((math.min(i, j), math.max(i, j)))) (i, j, 4) else (i, j, o)
      },
      m.stereo -- aromAtoms,
      m.bondDirs.filterNot { case (k2, _) => aromBonds(k2) })
  }

  /** The full D2 normalization pipeline on a parsed graph. `iso`
    * selects the tautomer-site ranking of the calling pipeline (see
    * [[tautomerKeto]]); the flat path MUST stay label-blind. */
  def normalize(m: Mol, iso: Boolean = false): Mol =
    tautomerKeto(cleanup(aromatize(uncharge(largestFragment(m)))), iso)

  /** Clear stereo marks that do not denote a real tetrahedral
    * stereocenter: the frame must hold exactly four DISTINCT entries
    * that are exactly the atom's current neighbors (+ one implicit H),
    * and the four substituents must fall in four distinct refinement
    * classes — `C[C@H](O)C`'s two methyls are automorphic, so its mark
    * is decoration, not configuration, and RDKit likewise strips it.
    * Refinement classes approximate substituent distinctness the same
    * way the canonical ranking does (graph-invariant, so every
    * rendering drops the same marks). */
  def dropFalseStereo(m: Mol): Mol =
    if (m.stereo.isEmpty) m
    else {
      // iso-path-only helper, so rank isotope-aware: substituents that
      // differ only by mass are DISTINCT (an isotope-only stereocenter
      // is real chirality — RDKit keeps its mark, and so do we)
      val rank = refine(m, initialInvariants(m, iso = true))
      val keep = m.stereo.filter { case (i, (_, frame)) =>
        val heavy = frame.filter(_ >= 0)
        val nbrs = m.adj(i).map(_._1)
        frame.length == 4 && frame.distinct.length == 4 &&
          heavy.length == nbrs.length && heavy.forall(nbrs.contains) &&
          (!frame.contains(-1) || hydrogens(m, i) == 1) &&
          (heavy.map(rank) ++ frame.filter(_ < 0).map(_.toLong)).distinct.length == 4
      }
      Mol(m.atoms, m.bonds, keep, m.bondDirs, m.ez)
    }

  /** Resolve raw directional bonds ([[Mol.bondDirs]]) into validated
    * per-double-bond E/Z descriptors ([[Mol.ez]]). A double bond
    * qualifies when both ends are non-aromatic, each end has at least
    * one single-bond substituent WITH a direction mark reachable
    * (directly or via its sibling's opposite), each end's two
    * substituents fall in distinct refinement classes (a
    * 1,1-disubstituted end has no E/Z), the marks on one end are
    * mutually consistent, and its substituent bonds are not shared
    * with another qualifying double bond (conjugated runs are out of
    * this minimal kernel's scope — both descriptors drop, documented).
    * References are the lowest-rank substituents per end, so the
    * descriptor — like the tetrahedral frames — is graph-invariant
    * across renderings. */
  def resolveEz(m: Mol): Mol = {
    if (m.bondDirs.isEmpty) return m
    // iso-path-only helper: isotope-aware ranks, like dropFalseStereo
    val rank = refine(m, initialInvariants(m, iso = true))
    def dirTo(x: Int, end: Int): Option[Int] =
      m.bondDirs.get((math.min(x, end), math.max(x, end)))
        .map(s => if (x < end) s else -s)
    // substituent = single-bonded neighbor other than the double partner
    def subs(end: Int, partner: Int): List[Int] =
      m.adj(end).collect { case (x, 1) if x != partner => x }
    final case class Cand(a: Int, b: Int, refA: Int, refB: Int, same: Boolean,
                          edges: Set[(Int, Int)])
    val cands = m.bonds.flatMap {
      case (i, j, 2) if !m.atoms(i).aromatic && !m.atoms(j).aromatic =>
        val (a, b) = (math.min(i, j), math.max(i, j))
        val (sa, sb) = (subs(a, b), subs(b, a))
        def endDir(end: Int, ss: List[Int]): Option[(Int, Int)] = {
          // (reference substituent, dir(ref -> end)); None if the end
          // carries no usable or consistent geometry
          if (ss.isEmpty || ss.length > 2) return None
          if (ss.length == 2 && rank(ss.head) == rank(ss(1))) return None
          val marked = ss.flatMap(x => dirTo(x, end).map(x -> _))
          if (marked.isEmpty) return None
          if (marked.length == 2 && marked.head._2 == marked(1)._2) return None // same side twice
          val ref = ss.minBy(rank)
          val d = dirTo(ref, end).getOrElse(-marked.head._2) // sibling is the marked one
          Some(ref -> d)
        }
        (endDir(a, sa), endDir(b, sb)) match {
          case (Some((ra, da)), Some((rb, db))) =>
            val edges = (sa.map(x => (math.min(x, a), math.max(x, a))) ++
              sb.map(y => (math.min(y, b), math.max(y, b)))).toSet
            Some(Cand(a, b, ra, rb, da == db, edges))
          case _ => None
        }
      case _ => None
    }
    // isolation: a substituent bond serving two qualifying double bonds
    // (a conjugated diene's central single bond) drops both descriptors
    val edgeUse = cands.flatMap(_.edges).groupBy(identity).view.mapValues(_.size).toMap
    val kept = cands.filter(_.edges.forall(edgeUse(_) == 1))
    Mol(m.atoms, m.bonds, m.stereo, m.bondDirs,
      kept.map(c => (c.a, c.b) -> ((c.refA, c.refB, c.same))).toMap)
  }

  // ------------------------------------------------------ canonical form

  private def mix(z0: Long): Long = { // splitmix64 finalizer
    var z = z0 + 0x9e3779b97f4a7c15L
    z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
    z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
    z ^ (z >>> 31)
  }

  /** `iso = true` folds the isotope label into the invariant — used by
    * the isomeric pipeline (ranking, false-stereo and E/Z class checks,
    * tautomer site choice) so isotopomers rank deterministically; the
    * flat canonical ranking excludes it, or the branch-and-minimize
    * could pick a non-minimal FLAT string for a labeled molecule and
    * break the [13C]CC == CCC collapse. */
  private def initialInvariants(m: Mol, iso: Boolean = false): Array[Long] =
    Array.tabulate(m.atoms.length) { i =>
      val a = m.atoms(i)
      mix(a.element.hashCode.toLong * 1000003L + a.charge * 997L +
        (if (a.aromatic) 499L else 0L) + hydrogens(m, i) * 31L + m.degree(i) +
        (if (iso) a.isotope.toLong * 131L else 0L))
    }

  /** Iterative neighborhood refinement: invariants become dense ranks,
    * then each round re-ranks by (own rank, sorted neighbor (order,
    * rank) hash) until the partition stops splitting. */
  private def refine(m: Mol, inv0: Array[Long]): Array[Long] = {
    val n = m.atoms.length
    def rankify(v: Array[Long]): Array[Long] = {
      val order = v.distinct.sorted
      val idx = order.zipWithIndex.toMap
      v.map(x => idx(x).toLong)
    }
    var inv = rankify(inv0)
    var classes = inv.distinct.length
    var done = classes == n
    while (!done) {
      val next = Array.tabulate(n) { i =>
        val nb = m.adj(i).map { case (j, o) => mix(o.toLong * 0x100000001bL + inv(j)) }.sorted
        // lexicographic (own rank, neighbor multiset hash) — own rank
        // dominates so refinement only ever splits classes
        inv(i) * 1000000007L + mix(nb.foldLeft(0L)((acc, h) => mix(acc ^ h) + h))
      }
      val r = rankify(next)
      val c = r.distinct.length
      if (c == classes) { inv = r; done = true }
      else { inv = r; classes = c; done = classes == n }
    }
    inv
  }

  private def writeByRanks(m: Mol, ranks: Array[Long], iso: Boolean): String = {
    val start = ranks.indices.minBy(i => ranks(i))
    write(m, start, i => ranks(i).toInt, iso)
  }

  /** Canonical SMILES of an (already normalized) graph: refine; while
    * a tie class remains, individualize each member and take the
    * lexicographically smallest completion (bounded branch-and-min —
    * the individualization-refinement canonical-labeling guard).
    * `iso = true` additionally emits the preserved tetrahedral marks
    * (branch-min then operates over isomeric strings — still a pure
    * function of the graph + stereo, so still rendering-invariant). */
  def canonicalGraph(m: Mol, iso: Boolean = false): String = {
    if (m.atoms.isEmpty) return ""
    var budget = 4096
    def rec(inv: Array[Long]): String = {
      val r = refine(m, inv)
      val byRank = r.zipWithIndex.groupBy(_._1)
      val tied = byRank.filter(_._2.length > 1)
      if (tied.isEmpty) writeByRanks(m, r, iso)
      else {
        val cls = tied.minBy(_._1)._2.map(_._2).sorted
        val branches = cls.iterator.takeWhile(_ => budget > 0).map { a =>
          budget -= 1
          rec(Array.tabulate(r.length)(i => r(i) * 2 + (if (i == a) 0 else 1)))
        }.toSeq
        if (branches.isEmpty) writeByRanks(m, r, iso) // budget blown: deterministic fallback
        else branches.min
      }
    }
    rec(initialInvariants(m, iso))
  }

  /** Bounded pure-function memo for the string-level kernels: compound
    * corpora are massively repetitive (the reference's pipeline
    * canonicalizes per UNIQUE compound for the same reason,
    * finalize_realease.py:597 dedups before enrichment), so each
    * executor JVM caches input→output. Cleared wholesale at the cap —
    * no LRU bookkeeping in the hot path; correctness never depends on
    * it (pure functions). */
  private final class Memo[V](cap: Int) {
    private val m = new java.util.concurrent.ConcurrentHashMap[String, V]()
    def get(k: String)(f: => V): V = {
      val hit = m.get(k)
      if (hit != null) hit
      else {
        val v = f
        if (m.size >= cap) m.clear()
        m.put(k, v)
        v
      }
    }
  }
  private val canonMemo = new Memo[String](65536)
  private val canonIsoMemo = new Memo[String](65536)
  private val fpMemo = new Memo[Array[Long]](65536)
  private val subMemo = new Memo[java.lang.Boolean](65536)

  // Memoizable stand-ins for "unparseable" (ConcurrentHashMap rejects
  // null values): a NUL char never occurs in a written SMILES, and
  // every valid fingerprint has FpWords words.
  private val InvalidSmiles = "\u0000invalid"
  private val InvalidFp = new Array[Long](0)

  /** D2: non-isomeric canonical SMILES of a SMILES string
    * (finalize_realease.py:230-249's pipeline, minimal port). Returns
    * null for unparseable input — the reference's canonic() returns
    * None and the pipeline drops the row (finalize_realease.py), so a
    * malformed compound must not fail the whole job. */
  def canonical(smiles: String): String =
    if (smiles == null) null
    else {
      val r = canonMemo.get(smiles)(
        try canonicalGraph(normalize(parse(smiles)))
        catch { case _: IllegalArgumentException => InvalidSmiles })
      if (r == InvalidSmiles) null else r
    }

  /** ISOMERIC canonical SMILES — the stereo-preserving EXTENSION
    * beyond the reference (its canonic() passes isomeric=False,
    * finalize_realease.py:247-249, which [[canonical]] matches):
    * tetrahedral `@`/`@@` survives the same normalization pipeline,
    * false chirality is stripped ([[dropFalseStereo]]), and the
    * emitted marks are re-expressed in canonical-output neighbor
    * order, so every rendering of an enantiomer collapses to one
    * string and the mirror image differs from it in exactly the
    * stereo marks. Double-bond (E/Z) stereo is preserved the same
    * way: raw `/` `\` marks resolve to per-bond descriptors
    * ([[resolveEz]]) that the writer re-emits in output order
    * (conjugated runs sharing a substituent bond drop — minimal
    * scope). Null on unparseable input, like [[canonical]]. */
  def canonicalIso(smiles: String): String =
    if (smiles == null) null
    else {
      val r = canonIsoMemo.get(smiles)(
        try canonicalGraph(resolveEz(dropFalseStereo(normalize(parse(smiles), iso = true))), iso = true)
        catch { case _: IllegalArgumentException => InvalidSmiles })
      if (r == InvalidSmiles) null else r
    }

  // ------------------------------------------- perception quarantine

  /** Small rings (sizes 3..8) via the shortest cycle through each bond
    * — the detector's own ring slice (aromatize keeps its inline 5/6
    * version: the perceiver and the quarantine gate evolve
    * independently, and this one must also see the 3/4/7/8-rings the
    * perceiver by design ignores). */
  private def smallRings(m: Mol): Vector[Vector[Int]] = {
    val n = m.atoms.length
    val rings = mutable.LinkedHashMap[Set[Int], Vector[Int]]()
    for ((u, v, _) <- m.bonds) {
      val prev = Array.fill(n)(-2)
      prev(u) = -1
      val q = mutable.Queue(u)
      var found = false
      while (q.nonEmpty && !found) {
        val a = q.dequeue()
        for ((b, _) <- m.adj(a) if prev(b) == -2 && !(a == u && b == v)) {
          prev(b) = a
          if (b == v) found = true else q += b
        }
      }
      if (found) {
        var path = List(v)
        while (prev(path.head) >= 0) path = prev(path.head) :: path
        if (path.length >= 3 && path.length <= 8) {
          val key = path.toSet
          if (key.size == path.length) rings.getOrElseUpdate(key, path.toVector)
        }
      }
    }
    rings.values.toVector
  }

  /** PERCEPTION-INCOMPLETE quarantine (VERDICT r11 #4): true when the
    * INPUT rendering contains a structure class [[aromatize]] documents
    * as out of scope, so downstream dedup can ROUTE the molecule (exact
    * graph-isomorphism dedup, a quarantine shard, manual review)
    * instead of silently trusting a canonical key that may not collapse
    * with the molecule's other renderings. Exactly the reference
    * pipeline's posture: RDKit sanitization REJECTS what it cannot
    * perceive rather than emitting a wrong key
    * (/root/reference/scripts/finalize_realease.py:230-249 drops
    * sanitization failures). Three classes, matching the documented
    * scope limits:
    *
    *  1. CHARGED RING CARBON (cyclopentadienyl anion, tropylium): ring
    *     plausibility requires uncharged atoms, and [[uncharge]] turns
    *     a ring C± into a CH/CH₂ whose Kekulé form cannot equal an
    *     aromatic-input rendering of the same ion — the one class where
    *     charge is RESONANCE, not protonation state. Conservative on
    *     purpose: any charged carbon on any 3..8-ring quarantines (an
    *     sp3 ring carbanion is also a key the kernel cannot certify).
    *  2. CANDIDATE RING FUSED TO A CONJUGATED NON-CANDIDATE RING
    *     (benzocyclobutadiene, azulene): the 3/4/7/8-ring is invisible
    *     to the 5/6-ring perceiver, so the candidate ring perceives as
    *     if isolated — in-engine renderings stay consistent, but the
    *     whole-system aromaticity (azulene's 10 π) or antiaromaticity
    *     (benzocyclobutadiene) is out of kernel scope and an
    *     externally-aromatized rendering may not collapse. The
    *     candidate side must be perception-RELEVANT (every atom
    *     multiple-bonded/aromatic or an N/O/S donor) and the fused
    *     partner fully conjugated — plain sp3 fusion (indane's 5-ring,
    *     benzosuberane's 7-ring) does not quarantine.
    *
    *  3. HALF-AROMATIC RENDERING (VERDICT r12 #4, closing the last
    *     documented silent-collapse trajectory): a 5/6-ring containing
    *     BOTH pre-flagged aromatic atoms AND Kekulé-written double
    *     bonds on its own edges, where the ring WOULD perceive
    *     aromatic in an all-Kekulé rendering (hypothetical Hückel
    *     count against the full fused system: aromatic C→1,
    *     aromatic [nH]/o/s→2, aromatic n→1, in-system double→1,
    *     lone-pair donor→2, exo-sp2 C→0; sp3 / charged / ≥2 donors
    *     veto). Real-world corpora do emit such mixed forms (one ring
    *     flagged aromatic, the fused ring written Kekulé); plausibility
    *     vetoes any ring containing a pre-flagged atom, so the mixed
    *     form passes through AS WRITTEN and its key cannot collapse
    *     with the fully-Kekulé/fully-aromatic twins. The hypothetical-π
    *     gate is what keeps certifiable mixed renderings OUT of the
    *     quarantine: a quinoid ring beside an aromatic benzo (RDKit's
    *     own output form for 1,4-naphthoquinone) counts π = 4 and does
    *     not flag, and a Kekulé benzene isolated from the aromatic
    *     part by an sp3 ring (9,10-dihydroanthracene) contains no
    *     aromatic atom and is not evaluated — both collapse fine
    *     through normal perception.
    *
    * Evaluated on the PARSED graph before normalization ([[uncharge]]
    * wipes exactly the evidence class 1 needs). Unparseable input also
    * returns true — a key the kernel cannot produce is a fortiori one
    * it cannot certify.
    *
    * TAXONOMY CLOSURE (VERDICT r13 #7): the three classes are complete
    * for the kernel's documented scope. The candidate "class 4" —
    * a >2-ring fused system mixed across BOTH fusion bonds — reduces
    * to class 3: fusion atoms are SHARED between rings, so marking any
    * proper subset of a fused system's rings aromatic leaves some ring
    * holding both aromatic (fusion) atoms and, for its remaining
    * carbons to stay sp2 without changing the molecule, Kekulé double
    * bonds on its own edges — i.e. a mixed ring, which class 3
    * evaluates with the Hückel count taken over the WHOLE fused
    * closure (`systems` below spans every small ring, so shared-edge
    * doubles parked on a neighbor ring count in-system regardless of
    * system size). The only way to mix a multi-ring rendering WITHOUT
    * creating a mixed ring is to drop the boundary carbons to sp3 —
    * which is a different molecule (9,10-dihydroanthracene vs
    * anthracene), not a rendering. [[triFromSeed]] (d17) pins this
    * generatively on 3-ring systems mixed at one and at both fusion
    * bonds; ChemSpec's closure property asserts no-silent-split over
    * the lattice (every rendering either collapses to the all-Kekulé
    * key or is flagged). */
  def perceptionIncompleteGraph(m: Mol): Boolean = {
    val rings = smallRings(m)
    def conjugated(a: Int): Boolean =
      m.atoms(a).aromatic || m.adj(a).exists(t => t._2 >= 2)
    def donorLike(a: Int): Boolean = {
      val el = m.atoms(a).element
      el == "N" || el == "O" || el == "S"
    }
    val chargedRingC = rings.exists(_.exists(a =>
      m.atoms(a).element == "C" && m.atoms(a).charge != 0))
    def edgesOf(cycle: Vector[Int]): Set[(Int, Int)] =
      cycle.indices.map { k =>
        val a = cycle(k); val b = cycle((k + 1) % cycle.length)
        (math.min(a, b), math.max(a, b))
      }.toSet
    lazy val ringEdges = rings.map(edgesOf)
    lazy val candidate = rings.indices.filter { k =>
      val sz = rings(k).length
      (sz == 5 || sz == 6) && rings(k).forall(a => conjugated(a) || donorLike(a))
    }
    lazy val nonCandConj = rings.indices.filter { k =>
      val sz = rings(k).length
      sz != 5 && sz != 6 && rings(k).forall(conjugated)
    }
    // class 3: per-ring aromatic/Kekulé mixing. The fused closure is
    // over ALL small rings (not just plausible ones) so shared-edge
    // doubles parked on a neighbor ring still count in-system.
    lazy val halfAromatic: Boolean = {
      lazy val systems: Vector[Vector[Int]] = {
        val unassigned = mutable.LinkedHashSet(rings.indices: _*)
        val out = Vector.newBuilder[Vector[Int]]
        while (unassigned.nonEmpty) {
          val comp = mutable.ArrayBuffer(unassigned.head)
          unassigned -= comp.head
          var i = 0
          while (i < comp.length) {
            val joins = unassigned.filter(j =>
              (ringEdges(comp(i)) & ringEdges(j)).nonEmpty)
            joins.foreach { j => comp += j; unassigned -= j }
            i += 1
          }
          out += comp.toVector
        }
        out.result()
      }
      def wouldAromatize(cycle: Vector[Int], sysAtoms: Set[Int]): Boolean = {
        var pi = 0
        var donors = 0
        for (a <- cycle) {
          val at = m.atoms(a)
          val el = at.element
          if (at.charge != 0) return false
          if (at.aromatic) el match {
            case "C" => pi += 1
            case "N" => pi += (if (at.hExplicit > 0) 2 else 1)
            case "O" | "S" => pi += 2
            case _ => return false
          } else {
            if (!OrganicSubset.contains(el)) return false
            val multiple = m.adj(a).exists(t => t._2 == 2 || t._2 == 3)
            val intra = m.adj(a).exists { case (b, o) => o == 2 && sysAtoms(b) }
            if (intra) pi += 1
            else if (!multiple && donorLike(a)) { pi += 2; donors += 1 }
            else if (el == "C" && multiple) () // exo-only sp2 carbon: 0
            else return false // sp3 C, or heteroatom with exo-only multiple
          }
        }
        donors <= 1 && pi % 4 == 2 && pi > 2
      }
      val bondOrd: Map[(Int, Int), Int] = m.bonds.map { case (u, v, o) =>
        ((math.min(u, v), math.max(u, v)), o)
      }.toMap
      systems.exists { sys =>
        val sysAtoms: Set[Int] = sys.iterator.flatMap(rings(_)).toSet
        sysAtoms.exists(m.atoms(_).aromatic) && sys.exists { k =>
          val cycle = rings(k)
          (cycle.length == 5 || cycle.length == 6) &&
            cycle.exists(m.atoms(_).aromatic) &&
            ringEdges(k).exists(e => bondOrd.getOrElse(e, 1) == 2 || bondOrd.getOrElse(e, 1) == 3) &&
            wouldAromatize(cycle, sysAtoms)
        }
      }
    }
    chargedRingC || candidate.exists(c =>
      nonCandConj.exists(nc => (ringEdges(c) & ringEdges(nc)).nonEmpty)) ||
      halfAromatic
  }

  /** String entry of [[perceptionIncompleteGraph]]. */
  def perceptionIncomplete(smiles: String): Boolean =
    if (smiles == null) true
    else (try perceptionIncompleteGraph(parse(smiles))
          catch { case _: IllegalArgumentException => true })

  // ------------------------------------------------------------- Morgan

  val FpBits = 2048
  val FpWords: Int = FpBits / 64
  val FpRadius = 2

  /** D3: Morgan/ECFP fingerprint (radius 2, 2048 bits) of a normalized
    * graph, folded to 32 long words. Minimal ECFP per Rogers & Hahn:
    * initial atom identifiers from the same invariants as the
    * canonicalizer, then `radius` rounds of
    * hash(round, own, sorted (bondOrder, neighborId)). This is the
    * reference's COUNT-fp variant (finalize_realease.py:333-343): each
    * environment identifier sets one bit per occurrence level
    * (hash(id, 1..count), capped at 15) — a plain bit-set ECFP is
    * provably identical for chain homologs (hexane and octane expose
    * the same radius-2 environment SET), and the reference computes
    * count fingerprints for exactly that reason. Rendering-invariant
    * by construction (neighbor multisets are sorted). */
  def morganFpGraph(m: Mol): Array[Long] = {
    val words = new Array[Long](FpWords)
    def set(h: Long): Unit = {
      val bit = ((h % FpBits) + FpBits) % FpBits
      words((bit / 64).toInt) |= 1L << (bit % 64)
    }
    val counts = mutable.Map[Long, Int]().withDefaultValue(0)
    var ids = initialInvariants(m)
    ids.foreach(id => counts(id) += 1)
    for (r <- 1 to FpRadius) {
      ids = Array.tabulate(m.atoms.length) { i =>
        val nb = m.adj(i).map { case (j, o) => mix(o.toLong * 0x9e3779b9L + ids(j)) }.sorted
        mix(r.toLong * 0x100000001bL + ids(i) + nb.foldLeft(0L)((acc, h) => mix(acc ^ h) + h))
      }
      ids.foreach(id => counts(id) += 1)
    }
    counts.foreach { case (id, c) =>
      var j = 1
      val cap = math.min(c, 15)
      while (j <= cap) { set(mix(id + j * 0x9e3779b97f4a7c15L)); j += 1 }
    }
    words
  }

  /** Null for unparseable input, mirroring [[canonical]]'s
    * drop-the-row semantics. */
  def morganFp(smiles: String): Array[Long] =
    if (smiles == null) null
    else {
      val r = fpMemo.get(smiles)(
        try morganFpGraph(normalize(parse(smiles)))
        catch { case _: IllegalArgumentException => InvalidFp })
      if (r.length == 0) null else r
    }

  // -------------------------------------------------------- substructure

  /** D5: subgraph-isomorphism containment (VF2-style backtracking).
    * Pattern atoms match on (element, aromatic) with target degree >=
    * pattern degree; bonds match on exact order. The target is
    * normalized first (largest fragment, uncharge, canonical tautomer)
    * so a keto pattern matches an enol rendering — the reference's
    * "any tautomer of query ⊆ target" semantics
    * (finalize_realease.py:275-331) through normalization of BOTH
    * sides to the canonical tautomer. */
  def substructureGraph(t: Mol, p: Mol): Boolean = {
    val np = p.atoms.length
    if (np == 0) return true
    if (np > t.atoms.length) return false
    // order pattern atoms connectivity-first (BFS from 0)
    val order = {
      val seen = mutable.LinkedHashSet(0)
      val q = mutable.Queue(0)
      while (q.nonEmpty) {
        val a = q.dequeue()
        for ((b, _) <- p.adj(a) if !seen.contains(b)) { seen += b; q += b }
      }
      (seen ++ p.atoms.indices).toArray // append other components, if any
    }
    val mapped = Array.fill(np)(-1)   // pattern -> target
    val used = new Array[Boolean](t.atoms.length)
    def atomOk(pi: Int, ti: Int): Boolean = {
      val pa = p.atoms(pi); val ta = t.atoms(ti)
      pa.element == ta.element && pa.aromatic == ta.aromatic &&
        t.degree(ti) >= p.degree(pi)
    }
    def bondsOk(pi: Int, ti: Int): Boolean =
      p.adj(pi).forall { case (pj, po) =>
        mapped(pj) < 0 || t.adj(ti).exists { case (tj, to) => tj == mapped(pj) && to == po }
      }
    // candidates: neighbors of an already-mapped pattern neighbor
    // (anchored growth — each non-root pattern atom extends the partial
    // match along a real target bond), else any unused target atom
    def go(k: Int): Boolean = {
      if (k == np) return true
      val pi = order(k)
      val anchored = p.adj(pi).collectFirst { case (pj, _) if mapped(pj) >= 0 => mapped(pj) }
      val cands: Iterator[Int] = anchored match {
        case Some(tAnchor) => t.adj(tAnchor).iterator.map(_._1)
        case None          => t.atoms.indices.iterator
      }
      var found = false
      while (!found && cands.hasNext) {
        val ti = cands.next()
        if (!used(ti) && atomOk(pi, ti)) {
          mapped(pi) = ti
          if (bondsOk(pi, ti)) {
            used(ti) = true
            if (go(k + 1)) found = true
            else used(ti) = false
          }
          if (!found) mapped(pi) = -1
        }
      }
      found
    }
    go(0)
  }

  /** D5 entry: pattern parsed raw (it IS the canonical tautomer query),
    * target normalized. */
  def hasSubstructure(target: String, pattern: String): Boolean =
    if (target == null || pattern == null) false
    else subMemo.get(target + "\u0000" + pattern)(
      // the pattern is a FRAGMENT, so it skips the molecule-level
      // normalization (largestFragment/uncharge/tautomer) — but it IS
      // aromatized, so a Kekulé-drawn ring pattern matches the
      // aromatized form the target normalization now produces
      try substructureGraph(normalize(parse(target)), aromatize(parse(pattern)))
      catch { case _: IllegalArgumentException => java.lang.Boolean.FALSE }).booleanValue()

  // ----------------------------------------------------------- generator

  /** Deterministic molecule family keyed by a seed, with every
    * structural decision a plain modular expression a SQL oracle can
    * replicate (see [[graft.queries.ChemQueries]]):
    *
    *   chainLen = 4 + (seed*7 mod 5)          (4..8 backbone carbons)
    *   group    = seed mod 4                  0 none / 1 carboxyl at the
    *              far end / 2 hydroxyl on c1 / 3 internal ketone on c1
    *   ring     = (seed mod 3 == 0)           cyclohexyl substituent on c0
    *   branch   = (seed*5 mod 7) < 3          methyl on c2
    *
    * `variant` 0..2 re-renders the SAME molecule from a different DFS
    * root with scrambled neighbor order; for ketones (group 3),
    * variant 2 renders the ENOL tautomer graph (c1=c2 with OH on c1),
    * which [[canonical]] must collapse back to the keto form. */
  def fromSeed(seed: Long, variant: Int): String = {
    val s = math.floorMod(seed, 420L) // lcm(4,3,5,7): full param lattice
    val chainLen = (4 + math.floorMod(s * ChainMul, ChainMod)).toInt
    val group = math.floorMod(s, GroupMod).toInt
    val ring = math.floorMod(s, RingMod) == 0
    val branch = math.floorMod(s * BranchMul, BranchMod) < BranchLt
    val enol = group == 3 && variant == 2

    val atoms = mutable.ArrayBuffer[Atom]()
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    def add(el: String): Int = { atoms += Atom(el, aromatic = false, 0, -1); atoms.length - 1 }
    def bond(i: Int, j: Int, o: Int): Unit = bonds += ((i, j, o))

    val chain = (0 until chainLen).map(_ => add("C"))
    for (k <- 1 until chainLen) bond(chain(k - 1), chain(k), 1)
    if (branch) bond(chain(2), add("C"), 1)
    if (ring) {
      val r = (0 until 6).map(_ => add("C"))
      for (k <- 1 until 6) bond(r(k - 1), r(k), 1)
      bond(r(5), r(0), 1)
      bond(chain(0), r(0), 1)
    }
    group match {
      case 1 =>
        val cAcid = add("C")
        bond(chain(chainLen - 1), cAcid, 1)
        bond(cAcid, add("O"), 2)
        bond(cAcid, add("O"), 1)
      case 2 =>
        bond(chain(1), add("O"), 1)
      case 3 =>
        if (enol) { // c1=c2, OH on c1
          val oi = bonds.indexWhere { case (i, j, _) => Set(i, j) == Set(chain(1), chain(2)) }
          bonds(oi) = (chain(1), chain(2), 2)
          bond(chain(1), add("O"), 1)
        } else {
          bond(chain(1), add("O"), 2)
        }
      case _ => ()
    }
    val m = Mol(atoms.toVector, bonds.toVector)
    val n = atoms.length
    val start = math.floorMod(s + 13L * variant, n.toLong).toInt
    val scramble = math.floorMod(s * 31 + variant * 7 + 1, 97).toInt
    write(m, start, i => math.floorMod(i * scramble + variant, n))
  }

  /** Generator-lattice constants for the stereo/isotope families,
    * shared VERBATIM with the SQL oracles —
    * [[graft.queries.ChemQueries]] interpolates these same vals into
    * its DuckDB strings, so retuning a generator cannot silently
    * diverge the two verification paths (the d2 lattice predates the
    * convention and documents its constants in prose instead). All
    * moduli are pairwise coprime so seeds span the full cross
    * product. */
  val HydroxylMul = 5L
  val HydroxylMod = 7L
  val HydroxylLt = 3L
  val ChiralTailMod = 3L
  val ChiralHandMod = 2L
  val EzLenMod = 2L
  val EzGeoMul = 7L
  val EzGeoMod = 5L
  val EzGeoLt = 2L
  val IsoTailMod = 3L
  val IsoLabelMod = 4L
  val IsoMass13 = 13
  val IsoMass14 = 14
  val AromRingMod = 4L // 0 benzene / 1 pyridine / 2 pyrrole / 3 thiophene
  val AromSubMul = 3L
  val AromSubMod = 5L
  val AromSubLt = 2L
  // the d2 lattice ([[fromSeed]]) — named late (round 10) so the d2/d5
  // oracles interpolate the same vals instead of hand-copied literals
  val ChainMul = 7L
  val ChainMod = 5L
  val GroupMod = 4L
  val RingMod = 3L
  val BranchMul = 5L
  val BranchMod = 7L
  val BranchLt = 3L
  // the fused-aromatic lattice ([[fusedFromSeed]])
  val FusedSysMod = 4L // 0 naphthalene / 1 quinoline / 2 indole / 3 benzofuran
  val FusedMethMul = 3L
  val FusedMethMod = 5L
  val FusedMethLt = 2L
  // the lactam lattice ([[lactamFromSeed]])
  val LactamNSubMod = 3L // N-substituent chain: 0..2 carbons
  val LactamAcylMod = 2L // acyl chain: 1..2 carbons
  // the polycyclic/quinoid lattice ([[polyFromSeed]])
  val PolySysMod = 4L // 0 pyrene / 1 acenaphthylene / 2 1,4-naphthoquinone / 3 9,10-anthraquinone
  val PolyMethMul = 7L
  val PolyMethMod = 5L
  val PolyMethLt = 2L

  /** Deterministic CHIRAL molecule family for the stereo extension —
    * one tetrahedral center bearing four distinct substituents
    * (F, Cl, Br, and a seed-varied carbon chain), every structural
    * decision again a modular expression a SQL oracle replays:
    *
    *   tail     = 1 + (seed mod 3)        (1..3 chain carbons)
    *   hydroxyl = (seed*5 mod 7) < 3      (chain ends in OH)
    *   hand     = seed mod 2              enantiomer: @ / @@ in the
    *                                      reference frame [F,Cl,Br,chain]
    *
    * `variant` 0..2 re-renders the SAME enantiomer with the neighbor
    * listing permuted and the symbol parity-adjusted by hand-checked
    * transposition counts (v1 swaps the first two substituents — one
    * transposition, symbol flips; v2 roots the SMILES at F and 3-cycles
    * the rest — even, symbol keeps), so [[canonicalIso]] must collapse
    * all three while keeping the two hands of a skeleton apart, and
    * [[canonical]] must collapse all six. */
  def chiralFromSeed(seed: Long, variant: Int): String = {
    val tail = (1 + math.floorMod(seed, ChiralTailMod)).toInt
    val hydroxyl = math.floorMod(seed * HydroxylMul, HydroxylMod) < HydroxylLt
    val hand = math.floorMod(seed, ChiralHandMod).toInt // 0 -> @, 1 -> @@
    val chain = "C" * tail + (if (hydroxyl) "O" else "")
    def sym(h: Int): String = if (h == 0) "@" else "@@"
    variant match {
      case 1 => s"[C${sym(1 - hand)}](Cl)(F)(Br)$chain" // F<->Cl: odd, flip
      case 2 => s"F[C${sym(hand)}](Br)($chain)Cl"       // 3-cycle: even, keep
      case _ => s"[C${sym(hand)}](F)(Cl)(Br)$chain"
    }
  }

  /** Deterministic E/Z molecule family — a 1,2-disubstituted double
    * bond whose geometry and skeleton are modular seed arithmetic:
    *
    *   lenA     = 1 + (seed mod 2)        (left chain: 1..2 carbons)
    *   hydroxyl = (seed*5 mod 7) < 3      (right chain ends in OH)
    *   cis      = (seed*7 mod 5) < 2      geometry (references CIS)
    *
    * `variant` 0..2 re-renders the SAME geometry with the direction
    * marks re-expressed (v1 flips the left mark and compensates on the
    * right; v2 moves the left substituent into a leading branch, which
    * inverts its written direction), so [[canonicalIso]] must collapse
    * all three while keeping cis and trans apart, and [[canonical]]
    * collapses all six. */
  def ezFromSeed(seed: Long, variant: Int): String = {
    val lenA = (1 + math.floorMod(seed, EzLenMod)).toInt
    val hydroxyl = math.floorMod(seed * HydroxylMul, HydroxylMod) < HydroxylLt
    val cis = math.floorMod(seed * EzGeoMul, EzGeoMod) < EzGeoLt
    val a = "C" * lenA
    val b = "C" + (if (hydroxyl) "O" else "")
    // with dir(A->endA) = +1 ('A/C'), cis needs dir(B->endB) = +1 ('\B')
    variant match {
      case 1 => s"$a\\C=C${if (cis) "/" else "\\"}$b"  // left mark flipped
      case 2 => s"C(${if (lenA == 2) "/CC)" else "/C)"}=C${if (cis) "/" else "\\"}$b" // leading branch inverts
      case _ => s"$a/C=C${if (cis) "\\" else "/"}$b"
    }
  }

  /** Deterministic AROMATIC-RING molecule family for the perception
    * extension ([[aromatize]]) — one isolated 5- or 6-ring, optionally
    * methylated, every structural decision modular seed arithmetic the
    * SQL oracle replays from the same named constants:
    *
    *   ring   = seed mod [[AromRingMod]]   0 benzene / 1 pyridine /
    *                                       2 pyrrole / 3 thiophene
    *   methyl = (seed*[[AromSubMul]] mod [[AromSubMod]]) < [[AromSubLt]]
    *            (methyl on ring carbon 2)
    *
    * `variant` 0 renders the AROMATIC form (lowercase atoms, order-4
    * bonds, pyrrole as `[nH]`); variants 1..2 render KEKULÉ forms —
    * the two alternation phases for 6-rings, the one valid matching
    * (doubles never touch the lone-pair heteroatom) re-rooted for
    * 5-rings. Collapsing all three REQUIRES real perception: the
    * Kekulé graphs share no bond order with the aromatic one. */
  def aromFromSeed(seed: Long, variant: Int): String = {
    val ring = math.floorMod(seed, AromRingMod).toInt
    val methyl = math.floorMod(seed * AromSubMul, AromSubMod) < AromSubLt
    val size = if (ring >= 2) 5 else 6
    val aromatic = variant == 0

    val atoms = mutable.ArrayBuffer[Atom]()
    for (k <- 0 until size) {
      val el = if (k == 0 && (ring == 1 || ring == 2)) "N"
               else if (k == 0 && ring == 3) "S"
               else "C"
      // aromatic pyrrole N carries its H explicitly ([nH]); the Kekulé
      // rendering leaves it valence-implicit (exactly what aromatize
      // must reconstruct for the renderings to collapse)
      val hx = if (aromatic && ring == 2 && k == 0) 1 else -1
      atoms += Atom(el, aromatic = aromatic, 0, hx)
    }
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    if (aromatic) for (k <- 0 until size) bonds += ((k, (k + 1) % size, 4))
    else if (size == 6) {
      val phase = if (variant == 2) 1 else 0
      for (k <- 0 until 6) bonds += ((k, (k + 1) % 6, if (k % 2 == phase) 2 else 1))
    } else {
      for (k <- 0 until 5) bonds += ((k, (k + 1) % 5, if (k == 1 || k == 3) 2 else 1))
    }
    if (methyl) {
      atoms += Atom("C", aromatic = false, 0, -1)
      bonds += ((2, atoms.length - 1, 1))
    }
    val m = Mol(atoms.toVector, bonds.toVector)
    val n = atoms.length
    val start = math.floorMod(seed + 13L * variant, n.toLong).toInt
    val scramble = math.floorMod(seed * 31 + variant * 7 + 1, 97).toInt
    write(m, start, i => math.floorMod(i * scramble + variant, n))
  }

  /** Deterministic ISOTOPE-labeled molecule family — a short carbon
    * chain (optionally hydroxyl-terminated) carrying one mass label,
    * every structural decision modular seed arithmetic the SQL oracle
    * replays ([[graft.queries.ChemQueries]], from the same named
    * constants):
    *
    *   tail     = 1 + (seed mod [[IsoTailMod]])              chain carbons
    *   hydroxyl = (seed*[[HydroxylMul]] mod [[HydroxylMod]]) < [[HydroxylLt]]
    *   label    = seed mod [[IsoLabelMod]]   0 none / 1 ¹³C on the head
    *              carbon / 2 ¹⁴C on the head / 3 ¹³C on the TAIL carbon
    *
    * Label 3 deliberately DEGENERATES: with tail = 1 the tail carbon IS
    * the head (label 3 ≡ label 1), and without the hydroxyl the plain
    * chain is mirror-symmetric, so head- and tail-labeling are the same
    * isotopomer — [[canonicalIso]] must collapse those lattice cells
    * (the oracle replays the collapse as CASE arithmetic), which
    * exercises canonical ranking ACROSS an isotope-broken symmetry,
    * not just label round-tripping. `variant` 0..2 re-renders the same
    * molecule from a scrambled DFS root exactly like [[fromSeed]];
    * [[canonical]] drops the label entirely (one flat form per
    * skeleton). */
  def isoFromSeed(seed: Long, variant: Int): String = {
    val tail = (1 + math.floorMod(seed, IsoTailMod)).toInt
    val hydroxyl = math.floorMod(seed * HydroxylMul, HydroxylMod) < HydroxylLt
    val label = math.floorMod(seed, IsoLabelMod).toInt

    val atoms = mutable.ArrayBuffer[Atom]()
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    def add(el: String): Int = { atoms += Atom(el, aromatic = false, 0, -1); atoms.length - 1 }

    val chain = (0 until tail).map(_ => add("C"))
    for (k <- 1 until tail) bonds += ((chain(k - 1), chain(k), 1))
    if (hydroxyl) bonds += ((chain(tail - 1), add("O"), 1))
    val labelAt = label match {
      case 1 | 2 => chain(0)
      case 3     => chain(tail - 1)
      case _     => -1
    }
    if (labelAt >= 0) {
      val mass = if (label == 2) IsoMass14 else IsoMass13
      atoms(labelAt) = atoms(labelAt).copy(isotope = mass)
    }
    val m = Mol(atoms.toVector, bonds.toVector)
    val n = atoms.length
    val start = math.floorMod(seed + 13L * variant, n.toLong).toInt
    val scramble = math.floorMod(seed * 31 + variant * 7 + 1, 97).toInt
    write(m, start, i => math.floorMod(i * scramble + variant, n), iso = true)
  }

  /** Deterministic FUSED-BICYCLIC aromatic family for the fused-system
    * perception extension ([[aromatize]] stage 2) — one 6-6 or 6-5
    * edge-fused heteroaromatic, optionally methylated, every
    * structural decision modular seed arithmetic the SQL oracle
    * replays from the same named constants:
    *
    *   sys    = seed mod [[FusedSysMod]]   0 naphthalene / 1 quinoline /
    *                                       2 indole / 3 benzofuran
    *   methyl = (seed*[[FusedMethMul]] mod [[FusedMethMod]]) < [[FusedMethLt]]
    *            (methyl on benzene carbon 2, away from the fusion)
    *
    * `variant` 0 renders the AROMATIC form (lowercase, order-4 bonds,
    * indole as `[nH]`); variants 1..2 render the two KEKULÉ phases —
    * v1 puts the fusion bond double (naphthalene's "central" resonance
    * structure), v2 keeps it single with the benzene alternation
    * shifted. The two phases assign genuinely different bond orders to
    * SHARED-EDGE bonds, so collapsing all three is exactly the
    * phase-independence contract per-ring Hückel counting cannot meet
    * (the round-9 scope gap this family closes). */
  def fusedFromSeed(seed: Long, variant: Int): String = {
    val sys = math.floorMod(seed, FusedSysMod).toInt
    val methyl = math.floorMod(seed * FusedMethMul, FusedMethMod) < FusedMethLt
    val aromatic = variant == 0
    val fiveRing = sys >= 2 // indole / benzofuran
    val hetero = sys match {
      case 1 => Some(1 -> "N") // quinoline: pyridine-type N in the benzo ring
      case 2 => Some(6 -> "N") // indole: donor N adjacent to the fusion
      case 3 => Some(6 -> "O") // benzofuran
      case _ => None
    }
    val nAtoms = if (fiveRing) 9 else 10
    val atoms = mutable.ArrayBuffer[Atom]()
    for (k <- 0 until nAtoms) {
      val el = hetero.collect { case (at, e) if at == k => e }.getOrElse("C")
      // aromatic indole N carries its H explicitly ([nH]); the Kekulé
      // rendering leaves it valence-implicit — exactly what the
      // perception's hFix must reconstruct for the forms to collapse
      val hx = if (aromatic && sys == 2 && k == 6) 1 else -1
      atoms += Atom(el, aromatic = aromatic, 0, hx)
    }
    // benzene ring A: 0-1-2-3-4-5-0; second ring shares edge (0,5):
    //   6-6: B = 5-6-7-8-9-0;  6-5: B = 5-6-7-8-0
    val edges: Vector[(Int, Int)] =
      Vector((0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0)) ++
        (if (fiveRing) Vector((5, 6), (6, 7), (7, 8), (8, 0))
         else Vector((5, 6), (6, 7), (7, 8), (8, 9), (9, 0)))
    val doubles: Set[(Int, Int)] =
      if (aromatic) Set.empty
      else if (variant == 1) {
        // phase 1: fusion bond double
        if (fiveRing) Set((5, 0), (1, 2), (3, 4), (7, 8))
        else Set((5, 0), (1, 2), (3, 4), (6, 7), (8, 9))
      } else {
        // phase 2: fusion bond single, benzene alternation shifted
        if (fiveRing) Set((0, 1), (2, 3), (4, 5), (7, 8))
        else Set((0, 1), (2, 3), (4, 5), (6, 7), (8, 9))
      }
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    for ((a, b) <- edges)
      bonds += ((a, b, if (aromatic) 4 else if (doubles((a, b))) 2 else 1))
    if (methyl) {
      atoms += Atom("C", aromatic = false, 0, -1)
      bonds += ((2, atoms.length - 1, 1))
    }
    val m = Mol(atoms.toVector, bonds.toVector)
    val n = atoms.length
    val start = math.floorMod(seed + 13L * variant, n.toLong).toInt
    val scramble = math.floorMod(seed * 31 + variant * 7 + 1, 97).toInt
    write(m, start, i => math.floorMod(i * scramble + variant, n))
  }

  /** Deterministic POLYCYCLIC/QUINOID family for the per-ring
    * aromaticity fallback ([[aromatize]]'s 4n-system stage) — the
    * silent-miss class the r10 verdict ranked next after fused rings:
    *
    *   sys    = seed mod [[PolySysMod]]   0 pyrene / 1 acenaphthylene /
    *            2 1,4-naphthoquinone / 3 9,10-anthraquinone
    *   methyl = (seed*[[PolyMethMul]] mod [[PolyMethMod]]) < [[PolyMethLt]]
    *
    * `variant` 0 renders the PERCEIVED form (pyrene fully aromatic;
    * the others mixed: aromatic benzo/naphtho rings beside a Kekulé
    * quinone ring or CH=CH bridge — the RDKit-parity rendering);
    * variants 1..2 render two full-Kekulé PHASES whose perfect
    * matchings differ on ring-internal and SHARED edges. All four
    * systems fail whole-system Hückel (π = 16/12/8/12), so collapsing
    * the three renderings is exactly what the per-ring fallback with
    * system-level contributions must do — and must do identically for
    * both phases. */
  def polyFromSeed(seed: Long, variant: Int): String = {
    val sys = math.floorMod(seed, PolySysMod).toInt
    val methyl = math.floorMod(seed * PolyMethMul, PolyMethMod) < PolyMethLt
    val v0 = variant == 0
    // (elements, edges, aromaticAtoms(v0), aromaticEdges(v0),
    //  always-doubles, phase-1 doubles, phase-2 doubles)
    val perim14 = (0 until 13).map(i => (i, i + 1)).toVector :+ (13, 0)
    val (els, edges, arAtoms, arEdges, fixed, ph1, ph2) = sys match {
      case 0 => // pyrene: perimeter 0..13, internal 14-15, spokes at 0/4/7/11
        val e = perim14 ++ Vector((14, 0), (14, 4), (15, 7), (15, 11), (14, 15))
        (Vector.fill(16)("C"), e, (0 until 16).toSet, e.toSet,
          Set.empty[(Int, Int)],
          Set((14, 15), (0, 1), (2, 3), (4, 5), (6, 7), (8, 9), (10, 11), (12, 13)),
          Set((14, 15), (1, 2), (3, 4), (5, 6), (7, 8), (9, 10), (11, 12), (13, 0)))
      case 1 => // acenaphthylene: naphthalene 0..9 + CH=CH bridge 10-11 at peri 4/6
        val naph = Vector((0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0),
          (5, 6), (6, 7), (7, 8), (8, 9), (9, 0))
        val e = naph ++ Vector((4, 10), (10, 11), (11, 6))
        (Vector.fill(12)("C"), e, (0 until 10).toSet, naph.toSet,
          Set((10, 11)),
          Set((5, 0), (1, 2), (3, 4), (6, 7), (8, 9)),
          Set((0, 1), (2, 3), (4, 5), (6, 7), (8, 9)))
      case 2 => // 1,4-naphthoquinone: benzo 0..5, quinone 5,6,7,8,9,0; O on 6/9
        val benzo = Vector((0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0))
        val e = benzo ++ Vector((5, 6), (6, 7), (7, 8), (8, 9), (9, 0), (6, 10), (9, 11))
        (Vector.fill(10)("C") ++ Vector("O", "O"), e, (0 until 6).toSet, benzo.toSet,
          Set((6, 10), (9, 11), (7, 8)),
          Set((5, 0), (1, 2), (3, 4)),
          Set((0, 1), (2, 3), (4, 5)))
      case _ => // 9,10-anthraquinone: benzo A 0..5, middle 4..9, benzo B 7,8,10..13; O on 6/9
        val ringA = Vector((0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0))
        val ringB = Vector((7, 10), (10, 11), (11, 12), (12, 13), (13, 8), (8, 7))
        val e = ringA ++ Vector((5, 6), (6, 7), (8, 9), (9, 4)) ++ ringB ++
          Vector((6, 14), (9, 15))
        (Vector.fill(14)("C") ++ Vector("O", "O"), e,
          (0 until 6).toSet ++ Set(7, 8, 10, 11, 12, 13), (ringA ++ ringB).toSet,
          Set((6, 14), (9, 15)),
          Set((0, 1), (2, 3), (4, 5), (10, 11), (12, 13), (7, 8)),
          Set((1, 2), (3, 4), (5, 0), (7, 10), (11, 12), (13, 8)))
    }
    val doubles = fixed ++ (if (v0) Set.empty else if (variant == 1) ph1 else ph2)
    // edge-set membership must be orientation-blind: ring cycles store
    // some shared edges reversed relative to the matching sets
    def has(s: Set[(Int, Int)], a: Int, b: Int) = s((a, b)) || s((b, a))
    val atoms = mutable.ArrayBuffer[Atom]()
    els.zipWithIndex.foreach { case (el, i) =>
      atoms += Atom(el, aromatic = v0 && arAtoms(i), 0, -1)
    }
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    for ((a, b) <- edges)
      bonds += ((a, b,
        if (v0 && has(arEdges, a, b)) 4
        else if (has(doubles, a, b)) 2 else 1))
    if (methyl) {
      atoms += Atom("C", aromatic = false, 0, -1)
      bonds += ((1, atoms.length - 1, 1))
    }
    val m = Mol(atoms.toVector, bonds.toVector)
    val n = atoms.length
    val start = math.floorMod(seed + 13L * variant, n.toLong).toInt
    val scramble = math.floorMod(seed * 31 + variant * 7 + 1, 97).toInt
    write(m, start, i => math.floorMod(i * scramble + variant, n))
  }

  /** Deterministic LACTAM/AMIDE family for the lactim→lactam tautomer
    * rule ([[tautomerKeto]]'s N-acceptor branch) — an acyl chain, a
    * carbonyl, and an optionally substituted nitrogen, every
    * structural decision modular seed arithmetic the SQL oracle
    * replays from the same named constants:
    *
    *   nsub = seed mod [[LactamNSubMod]]        N-chain carbons (0..2;
    *          0 is the primary amide, whose lactim N is an NH imine)
    *   acyl = 1 + (seed mod [[LactamAcylMod]])  acyl chain carbons
    *
    * `variant` 0 renders the AMIDE graph (C=O, C–N); variants 1..2
    * render the LACTIM graph (C–OH, C=N) from scrambled DFS roots —
    * two of the three renderings only collapse through the tautomer
    * rewrite, the d2 enol-variant design with an N acceptor. */
  // the half-aromatic rendering lattice ([[halfFromSeed]])
  val HalfSysMod = 4L // 0 naphthalene / 1 quinoline / 2 indole / 3 1,4-naphthoquinone (certifiable control)
  val HalfMethMul = 7L
  val HalfMethMod = 97L
  val HalfMethLt = 48L

  /** Deterministic HALF-AROMATIC rendering family for
    * [[perceptionIncompleteGraph]]'s class 3 (the d16 generative
    * oracle — VERDICT r12 #4):
    *
    *   sys    = seed mod [[HalfSysMod]]   0 naphthalene / 1 quinoline /
    *            2 indole / 3 1,4-naphthoquinone (certifiable control)
    *   methyl = (seed*[[HalfMethMul]] mod [[HalfMethMod]]) < [[HalfMethLt]]
    *
    * `variant` renders the SAME fused bicyclic three ways:
    *   0 — the fully-AROMATIC form for sys 0-2 (the rendering the
    *       perceiver itself emits); for sys 3 the perceiver's actual
    *       output form: aromatic benzo + Kekulé quinone ring.
    *   1 — fully KEKULÉ, fusion-bond-double phase.
    *   2 — for sys 0-2 the HALF-AROMATIC form real corpora emit: the
    *       benzo ring flagged aromatic, the fused ring written Kekulé.
    *       Plausibility vetoes the mixed ring, so this rendering passes
    *       through AS WRITTEN and cannot collapse with variants 0/1 —
    *       exactly what class 3 must flag. For sys 3 the second
    *       all-Kekulé phase (fusion single): every naphthoquinone
    *       rendering is certifiable, so the control seed must collapse
    *       3→1 with NO flag on any rendering.
    *
    * Expected per seed (the d16 oracle's closed form): sys 0-2 →
    * n_flagged 1 (only variant 2), n_canon 2; sys 3 → n_flagged 0,
    * n_canon 1. Named-molecule negatives (fully-aromatic and
    * fully-Kekulé must NOT flag) ride in as variants 0/1 of every
    * seed, plus the literal-SMILES pins in ChemSpec. */
  def halfFromSeed(seed: Long, variant: Int): String = {
    val sys = math.floorMod(seed, HalfSysMod).toInt
    val methyl = math.floorMod(seed * HalfMethMul, HalfMethMod) < HalfMethLt
    val fiveRing = sys == 2 // indole
    val quinone = sys == 3
    val hetero: Option[(Int, String)] = sys match {
      case 1 => Some(1 -> "N") // quinoline: pyridine-type N in the benzo ring
      case 2 => Some(6 -> "N") // indole: donor N adjacent to the fusion
      case _ => None
    }
    val nRing = if (fiveRing) 9 else 10
    // benzo ring A: 0-1-2-3-4-5-0; ring B shares edge (5,0):
    //   6-6: B = 5-6-7-8-9-0;  6-5: B = 5-6-7-8-0
    val ringAEdges = Vector((0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0))
    val ringBEdges =
      if (fiveRing) Vector((5, 6), (6, 7), (7, 8), (8, 0))
      else Vector((5, 6), (6, 7), (7, 8), (8, 9), (9, 0))
    // Kekulé doubles per region: ring A with/without the fusion bond,
    // ring B's interior alternation (indole's donor N stays single)
    val aKekFusion = Set((5, 0), (1, 2), (3, 4))
    val aKekPlain = Set((0, 1), (2, 3), (4, 5))
    val bKek: Set[(Int, Int)] =
      if (fiveRing) Set((7, 8))
      else if (quinone) Set((7, 8))
      else Set((6, 7), (8, 9))
    // which atoms are written aromatic, and which edges carry doubles
    val (aromAtomSet, doubles): (Set[Int], Set[(Int, Int)]) = variant match {
      case 0 =>
        if (quinone) ((0 to 5).toSet, bKek) // aromatic benzo + Kekulé quinone
        else ((0 until nRing).toSet, Set.empty)
      case 1 => (Set.empty[Int], aKekFusion ++ bKek)
      case _ =>
        if (quinone) (Set.empty[Int], aKekPlain ++ bKek) // 2nd Kekulé phase
        else ((0 to 5).toSet, bKek) // THE half-aromatic rendering
    }
    val atoms = mutable.ArrayBuffer[Atom]()
    for (k <- 0 until nRing) {
      val el = hetero.collect { case (at, e) if at == k => e }.getOrElse("C")
      val arom = aromAtomSet(k)
      // aromatic indole N carries its H explicitly ([nH]), as in
      // fusedFromSeed; Kekulé/half forms leave it valence-implicit
      val hx = if (arom && fiveRing && k == 6) 1 else -1
      atoms += Atom(el, arom, 0, hx)
    }
    def has(s: Set[(Int, Int)], a: Int, b: Int) = s((a, b)) || s((b, a))
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    // a ring edge is aromatic iff both endpoints are (the half form's
    // B edges touch a non-aromatic atom except the fusion bond, which
    // ring A owns); otherwise it carries its written Kekulé order
    for ((a, b) <- ringAEdges ++ ringBEdges)
      bonds += ((a, b,
        if (aromAtomSet(a) && aromAtomSet(b)) 4
        else if (has(doubles, a, b)) 2 else 1))
    if (quinone) { // the two exocyclic carbonyl oxygens
      val o1 = { atoms += Atom("O", aromatic = false, 0, -1); atoms.length - 1 }
      bonds += ((6, o1, 2))
      val o2 = { atoms += Atom("O", aromatic = false, 0, -1); atoms.length - 1 }
      bonds += ((9, o2, 2))
    }
    if (methyl) {
      atoms += Atom("C", aromatic = false, 0, -1)
      bonds += ((2, atoms.length - 1, 1))
    }
    val m = Mol(atoms.toVector, bonds.toVector)
    val n = atoms.length
    val start = math.floorMod(seed + 13L * variant, n.toLong).toInt
    val scramble = math.floorMod(seed * 31 + variant * 7 + 1, 97).toInt
    write(m, start, i => math.floorMod(i * scramble + variant, n))
  }

  // the tricyclic mixed-rendering lattice ([[triFromSeed]])
  val TriSysMod = 4L // 0 anthracene mid-aromatic / 1 anthracene end-aromatic / 2 acridine mid-aromatic / 3 anthracene 2-phase control
  val TriMethMul = 17L
  val TriMethMod = 97L
  val TriMethLt = 48L

  /** Deterministic TRICYCLIC mixed-rendering family — the d17
    * generative closure of the quarantine taxonomy (VERDICT r13 #7).
    * The candidate "class 4" was a >2-ring fused system with mixed
    * renderings across BOTH fusion bonds; this lattice demonstrates it
    * REDUCES to class 3 (see [[perceptionIncompleteGraph]]'s closure
    * note): fusion atoms are shared between rings, so any valence-sane
    * mixed rendering of a linear tricyclic necessarily contains a ring
    * that is itself mixed — aromatic fusion atoms plus Kekulé doubles
    * on its own edges — and class 3 evaluates exactly those rings over
    * the full fused closure.
    *
    *   sys    = seed mod [[TriSysMod]]
    *     0 anthracene, mixed form = MIDDLE ring aromatic, both outer
    *       rings Kekulé (both fusion bonds border a Kekulé ring; the
    *       two OUTER rings are the mixed ones)
    *     1 anthracene, mixed form = ONE END ring aromatic, rest Kekulé
    *       (the MIDDLE ring is the mixed one)
    *     2 acridine (pyridine-type N at a meso position), mixed form
    *       as sys 0 — the heteroatom rides the aromatic middle ring
    *     3 anthracene CONTROL: variant 2 is the SECOND Kekulé phase
    *       (ring A's alternation flipped through the fusion bond) —
    *       every rendering certifiable, must collapse 3→1 unflagged
    *   methyl = (seed*[[TriMethMul]] mod [[TriMethMod]]) < [[TriMethLt]]
    *
    * `variant` 0 renders the fully-AROMATIC form, 1 the fully-KEKULÉ
    * phase-1 form (both in-lattice negatives: no flag, collapse
    * together), 2 the sys-dependent mixed form (sys 0-2: must flag and
    * cannot collapse) or control phase (sys 3).
    *
    * Expected per seed (the d17 oracle's closed form): sys 0-2 →
    * n_flagged 1, n_canon 2; sys 3 → n_flagged 0, n_canon 1 — the
    * same shape as [[halfFromSeed]]'s, one more ring out. */
  def triFromSeed(seed: Long, variant: Int): String = {
    val sys = math.floorMod(seed, TriSysMod).toInt
    val methyl = math.floorMod(seed * TriMethMul, TriMethMod) < TriMethLt
    // linear fusion: ring A = 0..5, ring B = 5-6-7-8-9-0 (fusion edge
    // (5,0)), ring C = 7-10-11-12-13-8 (fusion edge (7,8)); acridine
    // puts N at meso atom 9
    val nRing = 14
    val edges = Vector(
      (0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (5, 0),          // ring A
      (5, 6), (6, 7), (7, 8), (8, 9), (9, 0),                  // ring B rest
      (7, 10), (10, 11), (11, 12), (12, 13), (13, 8))          // ring C rest
    // Kekulé phase 1: a perfect matching (every carbon exactly one
    // double); phase 2 flips ring A's alternation through the fusion
    val ph1 = Set((0, 1), (2, 3), (4, 5), (6, 7), (8, 9), (10, 11), (12, 13))
    val ph2 = Set((5, 0), (1, 2), (3, 4), (6, 7), (8, 9), (10, 11), (12, 13))
    val midAtoms = Set(5, 6, 7, 8, 9, 0)
    val endAtoms = Set(0, 1, 2, 3, 4, 5)
    val (aromAtomSet, doubles): (Set[Int], Set[(Int, Int)]) = variant match {
      case 0 => ((0 until nRing).toSet, Set.empty[(Int, Int)])
      case 1 => (Set.empty[Int], ph1)
      case _ => sys match {
        case 1 => (endAtoms, Set((6, 7), (8, 9), (10, 11), (12, 13)))
        case 3 => (Set.empty[Int], ph2)
        case _ => (midAtoms, Set((1, 2), (3, 4), (10, 11), (12, 13)))
      }
    }
    val atoms = mutable.ArrayBuffer[Atom]()
    for (k <- 0 until nRing) {
      val el = if (sys == 2 && k == 9) "N" else "C"
      atoms += Atom(el, aromAtomSet(k), 0, -1)
    }
    def has(s: Set[(Int, Int)], a: Int, b: Int) = s((a, b)) || s((b, a))
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    for ((a, b) <- edges)
      bonds += ((a, b,
        if (aromAtomSet(a) && aromAtomSet(b)) 4
        else if (has(doubles, a, b)) 2 else 1))
    if (methyl) {
      atoms += Atom("C", aromatic = false, 0, -1)
      bonds += ((2, atoms.length - 1, 1))
    }
    val m = Mol(atoms.toVector, bonds.toVector)
    val n = atoms.length
    val start = math.floorMod(seed + 13L * variant, n.toLong).toInt
    val scramble = math.floorMod(seed * 31 + variant * 7 + 1, 97).toInt
    write(m, start, i => math.floorMod(i * scramble + variant, n))
  }

  // the perception-quarantine lattice ([[quarFromSeed]])
  val QuarSysMod = 4L // 0 benzene (benign) / 1 cyclopentadienyl anion / 2 tropylium / 3 benzocyclobutadiene
  val QuarMethMul = 11L
  val QuarMethMod = 97L
  val QuarMethLt = 48L

  /** Deterministic QUARANTINE-CLASS family for
    * [[perceptionIncompleteGraph]] (the d15 generative oracle):
    *
    *   sys    = seed mod [[QuarSysMod]]   0 benzene (benign control) /
    *            1 cyclopentadienyl anion / 2 tropylium /
    *            3 benzocyclobutadiene
    *   methyl = (seed*[[QuarMethMul]] mod [[QuarMethMod]]) < [[QuarMethLt]]
    *
    * `variant` 0 renders the AROMATIC form (lowercase atoms, the
    * rendering an RDKit-style perceiver would emit); variants 1..2
    * render Kekulé forms — benzene and benzocyclobutadiene as two
    * Kekulé PHASES (their perception collapses all three renderings to
    * ONE canonical key), the charged ions as one Kekulé graph under two
    * scrambled atom orders (their aromatic form CANNOT collapse with
    * the Kekulé one — uncharge turns the ring C± into CH/CH₂ — which
    * is exactly what the quarantine flag warns about; canonical keys
    * per seed: sys 1/2 → 2, sys 0/3 → 1, pinned by the d15 oracle).
    * Every rendering of sys 1-3 must flag, every sys-0 rendering must
    * not — the flag is a function of the molecule CLASS, not the
    * rendering. */
  def quarFromSeed(seed: Long, variant: Int): String = {
    val sys = math.floorMod(seed, QuarSysMod).toInt
    val methyl = math.floorMod(seed * QuarMethMul, QuarMethMod) < QuarMethLt
    val v0 = variant == 0
    // (nAtoms, ring edges, charge atom -> charge, always-doubles,
    //  phase-1 doubles, phase-2 doubles)
    val (nAtoms, edges, chargeAt, fixed, ph1, ph2) = sys match {
      case 0 => // benzene: two genuine Kekulé phases
        val ring = (0 until 5).map(i => (i, i + 1)).toVector :+ (5, 0)
        (6, ring, -1,
          Set.empty[(Int, Int)],
          Set((0, 1), (2, 3), (4, 5)), Set((1, 2), (3, 4), (5, 0)))
      case 1 => // cyclopentadienyl anion: C- at 0, dienes at (1,2)/(3,4)
        val ring = (0 until 4).map(i => (i, i + 1)).toVector :+ (4, 0)
        (5, ring, 0,
          Set.empty[(Int, Int)],
          Set((1, 2), (3, 4)), Set((1, 2), (3, 4)))
      case 2 => // tropylium: C+ at 0, trienes at (1,2)/(3,4)/(5,6)
        val ring = (0 until 6).map(i => (i, i + 1)).toVector :+ (6, 0)
        (7, ring, 0,
          Set.empty[(Int, Int)],
          Set((1, 2), (3, 4), (5, 6)), Set((1, 2), (3, 4), (5, 6)))
      case _ => // benzocyclobutadiene: benzo 0..5 + 4-ring 0,1,7,6
        val benzo = (0 until 5).map(i => (i, i + 1)).toVector :+ (5, 0)
        val e = benzo ++ Vector((1, 7), (7, 6), (6, 0))
        (8, e, -1,
          Set((7, 6)),
          Set((0, 1), (2, 3), (4, 5)), Set((1, 2), (3, 4), (5, 0)))
    }
    // the aromatic form flags only the RING SYSTEM the perceiver would
    // see: benzene/ions whole, benzocyclobutadiene its benzo ring only
    // (the 4-ring CH=CH stays Kekulé, as in the d14 mixed renderings)
    val aromAtomSet: Set[Int] =
      if (sys == 3) (0 until 6).toSet else (0 until nAtoms).toSet
    val aromEdgeSet: Set[(Int, Int)] =
      if (sys == 3) edges.take(6).toSet else edges.toSet
    val doubles = fixed ++ (if (v0) Set.empty else if (variant == 1) ph1 else ph2)
    def has(s: Set[(Int, Int)], a: Int, b: Int) = s((a, b)) || s((b, a))
    val atoms = mutable.ArrayBuffer[Atom]()
    (0 until nAtoms).foreach { i =>
      val arom = v0 && aromAtomSet(i)
      val charge = if (i == chargeAt) (if (sys == 1) -1 else 1) else 0
      // the charged atom pins its one H explicitly (bracket form); all
      // others recompute implicitly on both paths
      atoms += Atom("C", arom, charge, if (charge != 0) 1 else -1)
    }
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    for ((a, b) <- edges)
      bonds += ((a, b,
        if (v0 && has(aromEdgeSet, a, b)) 4
        else if (has(doubles, a, b)) 2 else 1))
    if (methyl) {
      atoms += Atom("C", aromatic = false, 0, -1)
      bonds += ((2, atoms.length - 1, 1))
    }
    val m = Mol(atoms.toVector, bonds.toVector)
    val n = atoms.length
    val start = math.floorMod(seed + 13L * variant, n.toLong).toInt
    val scramble = math.floorMod(seed * 31 + variant * 7 + 1, 97).toInt
    write(m, start, i => math.floorMod(i * scramble + variant, n))
  }

  def lactamFromSeed(seed: Long, variant: Int): String = {
    val nsub = math.floorMod(seed, LactamNSubMod).toInt
    val acyl = (1 + math.floorMod(seed, LactamAcylMod)).toInt
    val lactim = variant != 0

    val atoms = mutable.ArrayBuffer[Atom]()
    val bonds = mutable.ArrayBuffer[(Int, Int, Int)]()
    def add(el: String): Int = { atoms += Atom(el, aromatic = false, 0, -1); atoms.length - 1 }

    val chain = (0 until acyl).map(_ => add("C"))
    for (k <- 1 until acyl) bonds += ((chain(k - 1), chain(k), 1))
    val cc = add("C") // the carbonyl / imidol carbon
    bonds += ((chain(acyl - 1), cc, 1))
    val o = add("O")
    val nn = add("N")
    bonds += ((cc, o, if (lactim) 1 else 2))
    bonds += ((cc, nn, if (lactim) 2 else 1))
    var prev = nn
    for (_ <- 0 until nsub) {
      val c = add("C")
      bonds += ((prev, c, 1))
      prev = c
    }
    val m = Mol(atoms.toVector, bonds.toVector)
    val n = atoms.length
    val start = math.floorMod(seed + 13L * variant, n.toLong).toInt
    val scramble = math.floorMod(seed * 31 + variant * 7 + 1, 97).toInt
    write(m, start, i => math.floorMod(i * scramble + variant, n))
  }
}
