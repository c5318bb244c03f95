package graft

import org.apache.spark.sql.functions._

import graft.chem.Chem

/** D2/D3/D5 chemistry kernels ([[graft.chem.Chem]]) + the generative
  * oracle contract of [[graft.queries.ChemQueries]]. Hand cases pin
  * public-knowledge chemistry; the lattice sweep proves the canonical
  * form and fingerprint are rendering-invariant AND injective across
  * the generator's whole 80-class structural lattice. */
class ChemSpec extends SparkSpecBase {

  // ------------------------------------------------------------ D2 hand cases

  test("canonical SMILES: rendering invariance on hand molecules") {
    // ethanol, three spellings
    assert(Chem.canonical("CCO") == Chem.canonical("OCC"))
    assert(Chem.canonical("CCO") == Chem.canonical("C(O)C"))
    // isobutane, two spellings
    assert(Chem.canonical("CC(C)C") == Chem.canonical("C(C)(C)C"))
    // cyclohexane, different closure digits and roots
    assert(Chem.canonical("C1CCCCC1") == Chem.canonical("C2CCCCC2"))
    assert(Chem.canonical("C1CCCCC1") == Chem.canonical("C1CCC(CC1)"))
    // benzene (aromatic, vertex-transitive: pure tie-break territory)
    assert(Chem.canonical("c1ccccc1") == Chem.canonical("c1ccccc1"))
    // toluene from two roots
    assert(Chem.canonical("Cc1ccccc1") == Chem.canonical("c1ccccc1C"))
  }

  test("canonical SMILES: distinct structures stay distinct") {
    assert(Chem.canonical("CCO") != Chem.canonical("CCCO"))   // ethanol vs propanol
    assert(Chem.canonical("CCCO") != Chem.canonical("CC(O)C")) // 1- vs 2-propanol
    assert(Chem.canonical("CCC") != Chem.canonical("C=CC"))   // propane vs propene
    assert(Chem.canonical("C1CCCCC1") != Chem.canonical("CCCCCC")) // ring vs chain
    assert(Chem.canonical("c1ccccc1") != Chem.canonical("C1CCCCC1")) // benzene vs cyclohexane
  }

  test("canonical SMILES: normalization pipeline (fragment, charge, tautomer)") {
    // largest fragment: sodium acetate keeps the acetate
    assert(Chem.canonical("CC(=O)[O-].[Na+]") == Chem.canonical("CC(=O)O"))
    // uncharge: acetate anion -> acetic acid
    assert(Chem.canonical("CC(=O)[O-]") == Chem.canonical("CC(=O)O"))
    // enol -> keto: acetone's enol collapses to acetone
    assert(Chem.canonical("CC(O)=C") == Chem.canonical("CC(=O)C"))
    // confluence: an enediol has TWO interacting enol sites (rewriting
    // one kills the other) — the rank-canonical site choice must pick
    // the same one for both renderings of the asymmetric case
    assert(Chem.canonical("CC(O)=C(O)CC") == Chem.canonical("CCC(O)=C(O)C"))
    // carboxyl is NOT rewritten by the enol rule (the double bond goes to O)
    assert(Chem.canonical("CC(=O)O") != Chem.canonical("CC(O)=O") ||
      Chem.canonical("CC(=O)O") == Chem.canonical("CC(O)=O")) // both spell the same acid
    assert(Chem.canonical("CC(=O)O") == Chem.canonical("OC(=O)C"))
  }

  test("parser: stereo/isotope drop, bracket atoms, explicit bonds, errors") {
    // non-isomeric: stereo markers vanish
    assert(Chem.canonical("C[C@H](O)C") == Chem.canonical("CC(O)C"))
    assert(Chem.canonical("F/C=C/F") == Chem.canonical("FC=CF"))
    // isotope dropped
    assert(Chem.canonical("[13CH4]") == Chem.canonical("C"))
    // explicit single bond between aromatic rings survives a round-trip
    val biphenyl = Chem.canonical("c1ccccc1-c1ccccc1")
    assert(Chem.canonical(biphenyl) == biphenyl)
    // malformed inputs throw
    intercept[IllegalArgumentException](Chem.parse("C1CC"))   // unclosed ring
    intercept[IllegalArgumentException](Chem.parse("C(C"))    // unbalanced paren
    intercept[IllegalArgumentException](Chem.parse("Cx"))     // unknown atom
    // a ring closure that duplicates an existing bond is malformed too —
    // silently dropping the parallel bond would canonicalize distinct
    // malformed inputs onto the same valid molecule
    intercept[IllegalArgumentException](Chem.parse("C12C12"))
  }

  test("invalid SMILES: kernels return null/false (drop the row), never fail the job") {
    // the reference's canonic() returns None for unparseable input and the
    // pipeline drops the row (finalize_realease.py) — parse errors must not
    // propagate out of the column kernels
    // ("" is NOT in this list: the empty SMILES is the valid empty
    // molecule and canonicalizes to "" — a fixpoint, not an error)
    for (bad <- Seq("C1CC", "C(C", "Cx", "C12C12")) {
      assert(Chem.canonical(bad) == null, s"canonical($bad)")
      assert(Chem.canonical(bad) == null, s"canonical($bad) memoized second call")
      assert(Chem.morganFp(bad) == null, s"morganFp($bad)")
      assert(!Chem.hasSubstructure(bad, "C"), s"hasSubstructure($bad, C)")
      assert(!Chem.hasSubstructure("CCO", bad), s"hasSubstructure(CCO, $bad)")
    }
    // codegen path: result-null must flow as SQL NULL (nullSafeCodeGen
    // tracks the kernel's null, not just the input's)
    import spark.implicits._
    import graft.expr.chemfunctions._
    val rows = Seq("CCO", "C1CC", "C12C12").toDF("smiles")
      .select(col("smiles"), canonical_smiles(col("smiles")).as("canon"),
        morgan_fp(col("smiles")).as("fp"))
      .collect().map(r => r.getString(0) -> ((r.getString(1), r.get(2)))).toMap
    assert(rows("CCO")._1 != null && rows("CCO")._2 != null)
    assert(rows("C1CC") == ((null, null)), s"invalid row must be NULL: $rows")
    assert(rows("C12C12") == ((null, null)), s"invalid row must be NULL: $rows")
    // and the drop-the-row shape composes: filter survives only the valid row
    val kept = Seq("CCO", "C1CC").toDF("smiles")
      .select(canonical_smiles(col("smiles")).as("canon"))
      .filter(col("canon").isNotNull).count()
    assert(kept == 1L)
  }

  test("hydrogen counts follow Daylight valence rules") {
    val ethanol = Chem.parse("CCO")
    assert(Chem.hydrogens(ethanol, 0) == 3) // CH3
    assert(Chem.hydrogens(ethanol, 1) == 2) // CH2
    assert(Chem.hydrogens(ethanol, 2) == 1) // OH
    val benzene = Chem.parse("c1ccccc1")
    assert((0 until 6).forall(Chem.hydrogens(benzene, _) == 1))
    val pyridine = Chem.parse("c1ccncc1")
    val nIdx = pyridine.atoms.indexWhere(_.element == "N")
    assert(Chem.hydrogens(pyridine, nIdx) == 0)
    // bracket atoms carry NO implicit H
    val nh = Chem.parse("[NH2]C")
    assert(Chem.hydrogens(nh, 0) == 2)
    // aromatic atoms never promote to a higher valence state:
    // thiophene S is 0 H (not the S(IV) artifact), and the Kekulé-S
    // bracket form ([13S] = zero-H) collapses with the aromatic form
    // under the flat canonical
    val thiophene = Chem.parse("c1ccsc1")
    val sIdx = thiophene.atoms.indexWhere(_.element == "S")
    assert(Chem.hydrogens(thiophene, sIdx) == 0)
    assert(Chem.canonical("C1=CC=C[13S]1") == Chem.canonical("c1ccsc1"))
  }

  test("canonical output round-trips: parse(canonical(s)) is a fixpoint") {
    for (s <- Seq("CCO", "CC(C)C", "C1CCCCC1", "Cc1ccccc1", "CC(=O)O",
                  "CC(O)=C", "N#CCO", "CC(=O)[O-].[Na+]", "c1ccc2ccccc2c1")) {
      val c1 = Chem.canonical(s)
      assert(Chem.canonical(c1) == c1, s"not a fixpoint for $s: $c1 -> ${Chem.canonical(c1)}")
    }
  }

  // ------------------------------------------- stereo extension (canonicalIso)

  test("isomeric canonical: parity replay, enantiomer distinction, false-chirality drop") {
    // same enantiomer, different frames: implicit-H-first vs preceded-by-F
    // ([H,F,Cl,Br]@ == [F,H,Cl,Br]@@ — one transposition, flipped symbol)
    assert(Chem.canonicalIso("[C@H](F)(Cl)Br") == Chem.canonicalIso("F[C@@H](Cl)Br"))
    // enantiomers stay apart under iso, collapse under flat
    assert(Chem.canonicalIso("[C@H](F)(Cl)Br") != Chem.canonicalIso("[C@@H](F)(Cl)Br"))
    assert(Chem.canonical("[C@H](F)(Cl)Br") == Chem.canonical("[C@@H](F)(Cl)Br"))
    // false chirality (two automorphic methyls) drops — matches the
    // achiral spelling exactly
    assert(Chem.canonicalIso("C[C@H](O)C") == Chem.canonicalIso("CC(O)C"))
    assert(!Chem.canonicalIso("C[C@H](O)C").contains("@"))
    // a REAL stereocenter keeps its mark
    assert(Chem.canonicalIso("C[C@H](O)CC").contains("@"))
    // plain canonical stays non-isomeric (reference semantics untouched)
    assert(!Chem.canonical("C[C@H](O)CC").contains("@"))
    // fixpoint: the isomeric output reparses to itself (writer frame ==
    // parser frame convention, including the bracket-H slot)
    for (s <- Seq("[C@H](F)(Cl)Br", "C[C@H](O)CC", "[C@](F)(Cl)(Br)CCO",
                  "N[C@@H](C)C(=O)O")) { // alanine
      val c = Chem.canonicalIso(s)
      assert(Chem.canonicalIso(c) == c, s"not a fixpoint for $s: $c -> ${Chem.canonicalIso(c)}")
    }
    // invalid input still drops the row
    assert(Chem.canonicalIso("C1CC") == null)
  }

  test("isomeric canonical: ring-closure frame slots carry stereo through cycles") {
    val c = Chem.canonicalIso("F[C@H]1C(Cl)C1")
    assert(c != null && c.contains("@"), s"ring stereocenter lost: $c")
    assert(Chem.canonicalIso(c) == c, "ring iso form is not a fixpoint")
    val mirror = Chem.canonicalIso("F[C@@H]1C(Cl)C1")
    assert(c != mirror, "ring enantiomers collapsed")
    assert(Chem.canonical("F[C@H]1C(Cl)C1") == Chem.canonical("F[C@@H]1C(Cl)C1"))
  }

  test("isomeric canonical: all 24 substituent orderings collapse per hand, hands stay apart") {
    val subs = Vector("F", "Cl", "Br", "I")
    def inversions(p: Seq[Int]): Int =
      (for (i <- p.indices; j <- i + 1 until p.length if p(i) > p(j)) yield 1).sum
    def render(perm: Seq[Int], baseParity: Int): String = {
      // express the SAME configuration in the permuted listing: flip the
      // symbol once per transposition from the reference frame
      val parity = if (inversions(perm) % 2 == 0) baseParity else 3 - baseParity
      val s = perm.map(subs)
      val sym = if (parity == 1) "@" else "@@"
      s"[C$sym](${s(0)})(${s(1)})(${s(2)})${s(3)}"
    }
    for (baseParity <- Seq(1, 2)) {
      val forms = subs.indices.permutations.map(p => Chem.canonicalIso(render(p, baseParity))).toSet
      assert(forms.size == 1, s"hand $baseParity renderings split: $forms")
    }
    assert(Chem.canonicalIso(render(Seq(0, 1, 2, 3), 1)) !=
      Chem.canonicalIso(render(Seq(0, 1, 2, 3), 2)), "enantiomers collapsed")
  }

  test("isomeric canonical: E/Z double-bond stereo preserved, renderings collapse") {
    // trans-difluoroethene: flipping BOTH marks is the same geometry
    assert(Chem.canonicalIso("F/C=C/F") == Chem.canonicalIso("F\\C=C\\F"))
    // cis differs from trans; flat collapses all of them
    assert(Chem.canonicalIso("F/C=C/F") != Chem.canonicalIso("F/C=C\\F"))
    assert(Chem.canonical("F/C=C/F") == Chem.canonical("F/C=C\\F"))
    // 2-butene: branch rendering of the same trans geometry
    assert(Chem.canonicalIso("C/C=C/C") == Chem.canonicalIso("C(\\C)=C/C"))
    assert(Chem.canonicalIso("C/C=C/C") != Chem.canonicalIso("C/C=C\\C"))
    // 1,1-disubstituted end has no E/Z: marks drop, equals plain spelling
    assert(Chem.canonicalIso("C/C=C(/C)C") == Chem.canonicalIso("CC=C(C)C"))
    assert(!Chem.canonicalIso("C/C=C(/C)C").contains("/"))
    // conjugated diene shares the central single bond: minimal scope
    // drops both descriptors, collapsing onto the plain spelling
    assert(Chem.canonicalIso("F/C=C/C=C/F") == Chem.canonicalIso("FC=CC=CF"))
    // both stereo kinds together survive and round-trip
    val both = Chem.canonicalIso("C/C=C/[C@H](C)O")
    assert(both.contains("@") && (both.contains("/") || both.contains("\\")), both)
    assert(Chem.canonicalIso(both) == both, s"not a fixpoint: $both")
    assert(both != Chem.canonicalIso("C/C=C\\[C@H](C)O"))
    assert(both != Chem.canonicalIso("C/C=C/[C@@H](C)O"))
    // fixpoints for the simple geometries too
    for (s <- Seq("F/C=C/F", "F/C=C\\F", "C/C=C/C", "C/C=C\\C",
                  "CC/C=C/CO", "O/C=C/Cl")) {
      val c = Chem.canonicalIso(s)
      assert(Chem.canonicalIso(c) == c, s"not a fixpoint for $s: $c -> ${Chem.canonicalIso(c)}")
    }
  }

  test("chiral generator: variants collapse per enantiomer, hands pair on one flat form") {
    val bySkeleton = (1L to 84L).groupBy(s => (math.floorMod(s, 3), math.floorMod(s * 5, 7) < 3))
    bySkeleton.foreach { case (sk, seeds) =>
      val byHand = seeds.groupBy(math.floorMod(_, 2))
      val isoForms = byHand.map { case (hand, ss) =>
        val forms = ss.flatMap(s => (0 to 2).map(v => Chem.canonicalIso(Chem.chiralFromSeed(s, v))))
        assert(forms.distinct.size == 1, s"skeleton $sk hand $hand split: ${forms.distinct}")
        forms.head
      }.toSeq
      assert(isoForms.distinct.size == 2, s"skeleton $sk hands collapsed: $isoForms")
      val flats = seeds.flatMap(s => (0 to 2).map(v => Chem.canonical(Chem.chiralFromSeed(s, v))))
      assert(flats.distinct.size == 1, s"skeleton $sk flat forms split: ${flats.distinct}")
    }
  }

  test("ez generator: variants collapse per geometry, cis/trans pair on one flat form") {
    val bySkeleton = (1L to 70L).groupBy(s =>
      (math.floorMod(s, 2), math.floorMod(s * 5, 7) < 3))
    bySkeleton.foreach { case (sk, seeds) =>
      val byGeo = seeds.groupBy(s => math.floorMod(s * 7, 5) < 2)
      val isoForms = byGeo.map { case (geo, ss) =>
        val forms = ss.flatMap(s => (0 to 2).map(v => Chem.canonicalIso(Chem.ezFromSeed(s, v))))
        assert(forms.distinct.size == 1, s"skeleton $sk geo $geo split: ${forms.distinct}")
        forms.head
      }.toSeq
      assert(isoForms.distinct.size == 2, s"skeleton $sk geometries collapsed: $isoForms")
      val flats = seeds.flatMap(s => (0 to 2).map(v => Chem.canonical(Chem.ezFromSeed(s, v))))
      assert(flats.distinct.size == 1, s"skeleton $sk flat forms split: ${flats.distinct}")
    }
  }

  test("d8/d9/d10 queries honor their oracle contracts on the smoke SF") {
    import queries.ChemQueries
    for (q <- Seq(ChemQueries.d8StereoCanonical _, ChemQueries.d9EzCanonical _,
                  ChemQueries.d10IsotopeCanonical _)) {
      val out = q(spark, sfDir).collect()
      assert(out.nonEmpty)
      assert(out.forall(r => r.getAs[Long]("n_renderings") == 3 * r.getAs[Long]("n_mols")))
      assert(out.forall(_.getAs[Long]("n_flat_forms") == 1L))
    }
  }

  test("isomeric canonical: isotopes preserved, flat canonical drops them") {
    // preservation + rendering invariance on hand molecules
    assert(Chem.canonicalIso("[13CH4]") != Chem.canonicalIso("C"))
    assert(Chem.canonicalIso("[13C]CC") == Chem.canonicalIso("CC[13C]"),
      "mirror-symmetric chain: head and tail labels are the same isotopomer")
    assert(Chem.canonicalIso("[13C]CCO") != Chem.canonicalIso("CC[13C]O"),
      "hydroxyl breaks the chain symmetry: head and carbinol labels differ")
    // distinct masses stay apart, flat collapses everything
    assert(Chem.canonicalIso("[13CH4]") != Chem.canonicalIso("[14CH4]"))
    assert(Chem.canonical("[13CH4]") == "C")
    // NB [13C] with no H-count is a ZERO-hydrogen bracket carbon, which
    // is a different molecule than a CH3 head — the valence-consistent
    // labeled form is [13CH3]
    assert(Chem.canonical("[13CH3]CCO") == Chem.canonical("CCCO"))
    // round-trip fixpoint through the isomeric writer
    val iso = Chem.canonicalIso("CC[13CH2]O")
    assert(Chem.canonicalIso(iso) == iso)
    assert(iso.contains("13C"), s"label lost: $iso")
  }

  test("flat canonical is label-blind through the tautomer site choice") {
    // two structurally-distinct enol sites on one C=C (an enamine-diol
    // shape): iso-aware site ranks would let the label flip which site
    // rewrites and leak the isotope into the FLAT canonical — the flat
    // path must pick the same keto form with and without the label
    assert(Chem.canonical("[13OH]C(N)=CO") == Chem.canonical("OC(N)=CO"))
    assert(Chem.canonical("OC(N)=C[13OH]") == Chem.canonical("OC(N)=CO"))
    // while the iso path keeps the two labeled forms apart and stable
    val a = Chem.canonicalIso("[13OH]C(N)=CO")
    assert(Chem.canonicalIso(a) == a)
  }

  test("a cumulated ring carbon never aromatizes, labelled or not") {
    // ChemProps' isotope property, shrunk: the C=C=C centre makes the
    // 6-ring non-aromatic; aromatizing it would add two hydrogens, which
    // the bracket [13C] (a fixed zero H count) does not take, so the
    // labelled and unlabelled flat keys would split
    val flat = Chem.canonical("C=1C(NC=C=C=1)=C2NC2C")
    assert(flat.forall(!_.isLower), s"cumulated ring aromatized: $flat")
    assert(Chem.canonical("C=1C(NC=C=[13C]=1)=C2NC2C") == flat)
    val iso = Chem.canonicalIso("C=1C(NC=C=[13C]=1)=C2NC2C")
    assert(iso.contains("13C") && Chem.canonicalIso(iso) == iso, iso)
  }

  test("isomeric canonical: isotope-only stereocenter is real chirality") {
    // four substituents distinct ONLY via the mass label: the mark must
    // survive dropFalseStereo (isotope-aware ranks) and the two hands
    // must stay apart isomeric while collapsing flat
    val a = Chem.canonicalIso("C[C@H](F)[13CH3]")
    val b = Chem.canonicalIso("C[C@@H](F)[13CH3]")
    assert(a != b, s"isotope-only stereocenter collapsed: $a")
    assert(Chem.canonical("C[C@H](F)[13CH3]") == Chem.canonical("C[C@@H](F)[13CH3]"))
    // without the label the same center IS false chirality — both drop
    assert(Chem.canonicalIso("C[C@H](F)C") == Chem.canonicalIso("C[C@@H](F)C"))
  }

  test("aromaticity perception: Kekulé and aromatic forms collapse") {
    // benzene, both Kekulé alternation phases
    assert(Chem.canonical("C1=CC=CC=C1") == Chem.canonical("c1ccccc1"))
    // toluene, both Kekulé alternation phases
    assert(Chem.canonical("CC1=CC=CC=C1") == Chem.canonical("Cc1ccccc1"))
    assert(Chem.canonical("CC1C=CC=CC=1") == Chem.canonical("Cc1ccccc1"))
    // heteroaromatics: pyridine, pyrrole (regains [nH]), thiophene, furan
    assert(Chem.canonical("N1=CC=CC=C1") == Chem.canonical("c1ccncc1"))
    assert(Chem.canonical("N1C=CC=C1") == Chem.canonical("c1cc[nH]c1"))
    assert(Chem.canonical("N1C=CC=C1").contains("[nH]"))
    assert(Chem.canonical("S1C=CC=C1") == Chem.canonical("c1ccsc1"))
    assert(Chem.canonical("O1C=CC=C1") == Chem.canonical("c1ccoc1"))
    // Kekulé phenol is an AROMATIC ring, not an enol tautomer site
    assert(Chem.canonical("OC1=CC=CC=C1") == Chem.canonical("Oc1ccccc1"))
    // substituent double bonds stay: styrene's vinyl is untouched
    assert(Chem.canonical("C=CC1=CC=CC=C1") == Chem.canonical("C=Cc1ccccc1"))
    // substructure matching perceives BOTH sides: a Kekulé-drawn ring
    // pattern finds an aromatic target and vice versa
    assert(Chem.hasSubstructure("Cc1ccccc1", "C1=CC=CC=C1"))
    assert(Chem.hasSubstructure("CC1=CC=CC=C1", "c1ccccc1"))
    assert(!Chem.hasSubstructure("CC1CCCCC1", "C1=CC=CC=C1"))
  }

  test("aromaticity perception: Hückel/sp3/scope negatives stay Kekulé") {
    val benzene = Chem.canonical("c1ccccc1")
    // sp3-interrupted ring (cyclohexa-1,3-diene) and saturated rings
    assert(Chem.canonical("C1=CC=CCC1") != benzene)
    assert(Chem.canonical("C1=CC=CCC1").contains("="))
    assert(Chem.canonical("C1CCCCC1") == Chem.canonical("C1CCCCC1"))
    assert(!Chem.canonical("C1CCCCC1").exists(_.isLower))
    // 4n ring (cyclobutadiene, size-4 — out of candidate sizes anyway)
    assert(Chem.canonical("C1=CC=C1").contains("="))
    // saturated N ring (pentazolidine): five lone pairs are NOT a π system
    assert(!Chem.canonical("N1NNNN1").exists(_.isLower))
    // biphenyl's rings share no edge: two singleton systems, both perceive
    assert(Chem.canonical("C1=CC=CC=C1C1=CC=CC=C1") == Chem.canonical("c1ccccc1-c1ccccc1"))
  }

  test("fused-system perception: Kekulé phases of fused aromatics collapse") {
    val naph = Chem.canonical("c1ccc2ccccc2c1")
    // both Kekulé phases of naphthalene — the fusion bond double in one,
    // single in the other (bond orders on the SHARED edge disagree)
    assert(Chem.canonical("C1=CC=C2C=CC=CC2=C1") == naph)
    assert(Chem.canonical("C1=CC2=CC=CC=C2C=C1") == naph)
    // quinoline, indole (regains [nH]), benzofuran, benzimidazole
    assert(Chem.canonical("N1=CC=CC2=CC=CC=C12") == Chem.canonical("c1ccc2ncccc2c1"))
    val indole = Chem.canonical("c1ccc2[nH]ccc2c1")
    assert(Chem.canonical("N1C=CC2=CC=CC=C12") == indole)
    assert(indole.contains("[nH]"))
    assert(Chem.canonical("O1C=CC2=CC=CC=C12") == Chem.canonical("c1ccc2occc2c1"))
    assert(Chem.canonical("N1C=NC2=CC=CC=C12") == Chem.canonical("c1ccc2[nH]cnc2c1"))
    // anthracene (three linearly fused rings, pi = 14)
    assert(Chem.canonical("C1=CC=C2C=C3C=CC=CC3=CC2=C1") ==
      Chem.canonical("c1ccc2cc3ccccc3cc2c1"))
    // an sp3 neighbor ring fails plausibility WITHOUT dragging down the
    // benzene it is fused to: indane / tetralin / indene perceive the
    // benzene alone, the saturated ring stays as written
    assert(Chem.canonical("C1CC2=CC=CC=C2C1") == Chem.canonical("C1Cc2ccccc2C1"))
    assert(Chem.canonical("C1CCC2=CC=CC=C2C1") == Chem.canonical("C1CCc2ccccc2C1"))
    assert(Chem.canonical("C1C=CC2=CC=CC=C12") == Chem.canonical("C1C=Cc2ccccc21"))
    // Hückel rejects the whole system, not ring by ring: pentalene
    // (pi = 8) stays Kekulé in any rendering
    assert(Chem.canonical("C1=CC2=CC=CC2=C1").contains("="))
    // fused substructure matching perceives both sides (ADVICE r9 #1:
    // a Kekulé benzene pattern must find a Kekulé naphthalene target)
    assert(Chem.hasSubstructure("C1=CC=C2C=CC=CC2=C1", "C1=CC=CC=C1"))
    assert(Chem.hasSubstructure("c1ccc2ccccc2c1", "C1=CC=CC=C1"))
    assert(Chem.hasSubstructure("N1C=CC2=CC=CC=C12", "c1cc[nH]c1"))
  }

  test("lactim -> lactam tautomer: renderings collapse, scope negatives stay") {
    // acetamide drawn as the imidol / N-methylacetamide as the lactim
    assert(Chem.canonical("CC(O)=N") == Chem.canonical("CC(N)=O"))
    assert(Chem.canonical("CC(O)=NC") == Chem.canonical("CC(=O)NC"))
    // ring lactam: caprolactam's lactim rendering collapses
    assert(Chem.canonical("OC1=NCCCCC1") == Chem.canonical("O=C1NCCCCC1"))
    // O-methyl imidate is NOT tautomerizable (no O-H to shift)
    assert(Chem.canonical("COC(C)=N") != Chem.canonical("COC(C)N"))
    assert(Chem.canonical("COC(C)=N").contains("="))
    // aromatic-ring tautomers stay out of scope: 2-hydroxypyridine
    // keeps its aromatic hydroxy form (perceived by aromatize), the
    // tautomer rule never rewrites into an aromatic ring
    assert(Chem.canonical("OC1=CC=CC=N1") == Chem.canonical("Oc1ccccn1"))
  }

  test("fused/lactam generators: renderings collapse per cell, cells stay apart, oracle contract holds") {
    // fused lattice: moduli 4 (system) x 5 (methyl) -> span 20
    val fCells = (1L to 20L).map(s => (math.floorMod(s, Chem.FusedSysMod),
      math.floorMod(s * Chem.FusedMethMul, Chem.FusedMethMod) < Chem.FusedMethLt))
    val fCanons = (1L to 20L).map { seed =>
      val v = (0 to 2).map(Chem.fusedFromSeed(seed, _))
      val c = v.map(Chem.canonical)
      assert(c.distinct.size == 1, s"fused seed $seed renderings split: $v -> $c")
      assert(c.head.exists(_.isLower), s"fused seed $seed did not aromatize: ${c.head}")
      c.head
    }
    fCanons.zip(fCells).groupBy(_._2).values.foreach { g =>
      assert(g.map(_._1).distinct.size == 1, s"fused cell split: $g")
    }
    assert(fCanons.distinct.size == fCells.distinct.size)
    // lactam lattice: moduli 3 (nsub) x 2 (acyl) -> span 6
    val lCells = (1L to 6L).map(s =>
      (math.floorMod(s, Chem.LactamNSubMod), math.floorMod(s, Chem.LactamAcylMod)))
    val lCanons = (1L to 6L).map { seed =>
      val v = (0 to 2).map(Chem.lactamFromSeed(seed, _))
      val c = v.map(Chem.canonical)
      assert(c.distinct.size == 1, s"lactam seed $seed renderings split: $v -> $c")
      assert(c.head.contains("N") && (c.head.contains("=O") || c.head.contains("O=")),
        s"not an amide: ${c.head}")
      c.head
    }
    assert(lCanons.distinct.size == lCells.distinct.size)
    // the registered queries' oracle contracts at the smoke SF
    import queries.ChemQueries
    Seq(ChemQueries.d12FusedAromatic(spark, sfDir).collect(),
        ChemQueries.d13LactamCanonical(spark, sfDir).collect()).foreach { out =>
      assert(out.nonEmpty)
      assert(out.forall(r => r.getAs[Long]("n_renderings") == 3 * r.getAs[Long]("n_mols")))
    }
  }

  test("poly generator: pyrene-class phases collapse per cell, RDKit-parity shapes, oracle contract holds") {
    // poly lattice: moduli 4 (system) x 5 (methyl) -> span 20
    val pCells = (1L to 20L).map(s => (math.floorMod(s, Chem.PolySysMod),
      math.floorMod(s * Chem.PolyMethMul, Chem.PolyMethMod) < Chem.PolyMethLt))
    val pCanons = (1L to 20L).map { seed =>
      val v = (0 to 2).map(Chem.polyFromSeed(seed, _))
      val c = v.map(Chem.canonical)
      assert(c.distinct.size == 1, s"poly seed $seed renderings split: $v -> $c")
      assert(c.head.exists(_.isLower), s"poly seed $seed did not aromatize: ${c.head}")
      c.head
    }
    pCanons.zip(pCells).groupBy(_._2).values.foreach { g =>
      assert(g.map(_._1).distinct.size == 1, s"poly cell split: $g")
    }
    assert(pCanons.distinct.size == pCells.distinct.size)
    // RDKit-parity shape checks on the perceived forms:
    // pyrene (sys 0) fully aromatic — no '=' anywhere
    val pyr = Chem.canonical(Chem.polyFromSeed(4L, 1)) // seed 4 -> sys 0; 4*7%5=3 no methyl
    assert(!pyr.contains("=") && pyr.count(_ == 'c') == 16, s"pyrene not fully aromatic: $pyr")
    // 1,4-naphthoquinone (sys 2): aromatic benzo + Kekulé quinone; the
    // hand Kekulé rendering collapses with the generator's cell
    val nq = Chem.canonical("O=C1C=CC(=O)C2=CC=CC=C12")
    assert(nq != null && nq.exists(_.isLower) && nq.contains("=O"),
      s"naphthoquinone benzo ring did not perceive: $nq")
    // acenaphthylene (sys 1): naphthalene aromatic, bridge stays C=C
    val ace = Chem.canonical(Chem.polyFromSeed(5L, 2)) // seed 5 -> sys 1; 5*7%5=0 methyl
    assert(ace.exists(_.isLower) && ace.contains("C=C"),
      s"acenaphthylene shape wrong: $ace")
    // the registered query's oracle contract at the smoke SF
    import queries.ChemQueries
    val out = ChemQueries.d14PolyAromatic(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("n_renderings") == 3 * r.getAs[Long]("n_mols")))
  }

  test("perception quarantine: named molecules flag by class, benign aromatics never flag") {
    // class 1: charged ring carbons (resonance charge, not protonation)
    assert(Chem.perceptionIncomplete("[CH-]1C=CC=C1"), "Kekulé cyclopentadienyl anion")
    assert(Chem.perceptionIncomplete("[cH-]1cccc1"), "aromatic cyclopentadienyl anion")
    assert(Chem.perceptionIncomplete("[CH+]1C=CC=CC=C1"), "Kekulé tropylium")
    assert(Chem.perceptionIncomplete("[cH+]1cccccc1"), "aromatic tropylium")
    // class 2: candidate ring fused to a conjugated non-candidate ring
    assert(Chem.perceptionIncomplete("C1=CC2=CC=CC=CC2=C1"), "azulene (5-7 fusion)")
    assert(Chem.perceptionIncomplete(Chem.quarFromSeed(3L, 1)), "benzocyclobutadiene")
    // unparseable input cannot be certified either
    assert(Chem.perceptionIncomplete("C1=CC"), "unclosed ring")
    // benign: everything perception handles stays unflagged, including
    // the d11-d14 families (charged N is protonation state, uncharge's
    // job, not resonance)
    for (s <- Seq("c1ccccc1", "C1=CC=CC=C1", "c1ccncc1", "c1cc[nH]c1",
                  "c1ccc2[nH]ccc2c1", "C1CCCCC1", "C1CCC2=CC=CC=C2C1",
                  "O=C1C=CC(=O)C2=CC=CC=C12", "C[NH3+]", "CC([O-])=O",
                  "c1cc[nH+]cc1"))
      assert(!Chem.perceptionIncomplete(s), s"benign molecule flagged: $s")
    for (seed <- 1L to 20L; v <- 0 to 2)
      assert(Chem.perceptionIncomplete(Chem.quarFromSeed(seed, v)) ==
             (math.floorMod(seed, Chem.QuarSysMod) != 0),
        s"quar seed $seed variant $v flag wrong: ${Chem.quarFromSeed(seed, v)}")
    // pyrene (d14's hardest case) must NOT quarantine: all rings 5/6
    assert(!Chem.perceptionIncomplete(Chem.polyFromSeed(4L, 1)), "pyrene")
    // canonical-key structure the d15 oracle pins: ions split exactly
    // aromatic-vs-Kekulé; benzene/benzocyclobutadiene collapse to one
    for (seed <- 1L to 20L) {
      val canons = (0 to 2).map(v => Chem.canonical(Chem.quarFromSeed(seed, v)))
      assert(canons.forall(_ != null), s"quar seed $seed unparseable rendering")
      val want = if (Seq(1L, 2L).contains(math.floorMod(seed, Chem.QuarSysMod))) 2 else 1
      assert(canons.distinct.size == want, s"quar seed $seed canon split: $canons")
    }
  }

  test("half-aromatic quarantine: mixed renderings flag, pure and certifiable-mixed never do") {
    // class 3 positives: one ring flagged aromatic, the fused ring
    // written Kekulé — plausibility vetoes the mixed ring, the form
    // passes through as written, and its key cannot collapse
    assert(Chem.perceptionIncomplete("c1ccc2c(c1)C=CC=C2"), "half-aromatic naphthalene")
    assert(Chem.perceptionIncomplete("c1ccc2c(c1)C=CN2"), "half-aromatic indole")
    assert(Chem.perceptionIncomplete("c1ccc2c(c1)C=CO2"), "half-aromatic benzofuran")
    // named-molecule negatives: fully aromatic / fully Kekulé never flag
    for (s <- Seq("c1ccc2ccccc2c1", "C1=CC=C2C=CC=CC2=C1",
                  "c1ccc2[nH]ccc2c1", "C1=CC2=CC=CC=C2N1"))
      assert(!Chem.perceptionIncomplete(s), s"pure rendering flagged: $s")
    // certifiable MIXED renderings must not flag: exocyclic doubles
    // beside an aromatic ring (styrene), the quinoid ring's π = 4
    // (RDKit's own output form of 1,4-naphthoquinone), an sp3 member
    // in the Kekulé ring (1,2-dihydronaphthalene, tetralin), and a
    // Kekulé benzene isolated from the aromatic ring by an sp3 ring
    // (9,10-dihydroanthracene written half) — all collapse through
    // normal perception
    for (s <- Seq("c1ccccc1C=C", "O=C1C=CC(=O)c2ccccc12",
                  "c1ccc2c(c1)CC=CC2", "c1ccc2c(c1)CCCC2",
                  "c1ccc2c(c1)CC1=CC=CC=C1C2"))
      assert(!Chem.perceptionIncomplete(s), s"certifiable rendering flagged: $s")
    // generator lattice: flag fires EXACTLY on the sys 0-2 half form
    for (seed <- 1L to 24L; v <- 0 to 2) {
      val sys = math.floorMod(seed, Chem.HalfSysMod)
      assert(Chem.perceptionIncomplete(Chem.halfFromSeed(seed, v)) ==
             (sys != 3 && v == 2),
        s"half seed $seed variant $v flag wrong: ${Chem.halfFromSeed(seed, v)}")
    }
    // canonical-key structure the d16 oracle pins: aromatic+Kekulé
    // collapse, the half form splits; the quinone control collapses 3->1
    for (seed <- 1L to 24L) {
      val canons = (0 to 2).map(v => Chem.canonical(Chem.halfFromSeed(seed, v)))
      assert(canons.forall(_ != null), s"half seed $seed unparseable rendering")
      assert(canons(0) == canons(1), s"half seed $seed pure forms split: $canons")
      val want = if (math.floorMod(seed, Chem.HalfSysMod) == 3) 1 else 2
      assert(canons.distinct.size == want, s"half seed $seed canon split: $canons")
    }
    // the registered query's oracle contract at the smoke SF
    import queries.ChemQueries
    val out = ChemQueries.d16HalfAromaticQuarantine(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ctl = math.floorMod(r.getAs[Long]("seed"), Chem.HalfSysMod) == 3
      assert(r.getAs[Long]("n_flagged") == (if (ctl) 0L else 1L), r.toString)
      assert(r.getAs[Long]("n_canon") == (if (ctl) 1L else 2L), r.toString)
      assert(r.getAs[Long]("n_renderings") == 3L, r.toString)
    }
  }

  test("tricyclic closure: class 4 reduces to class 3 — no silent split on the d17 lattice") {
    // named positives: 3-ring systems mixed at ONE fusion bond (end
    // ring aromatic) and at BOTH fusion bonds (middle ring aromatic,
    // both outer rings Kekulé) — the candidate "class 4" shapes —
    // must flag via the mixed ring class 3 already evaluates
    assert(Chem.perceptionIncomplete("c1ccc2cc3c(cc2c1)C=CC=C3"),
      "anthracene mixed at one fusion bond")
    // named negatives: pure tricyclic renderings never flag
    for (s <- Seq("c1ccc2cc3ccccc3cc2c1", "C1=CC2=CC3=CC=CC=C3C=C2C=C1"))
      assert(!Chem.perceptionIncomplete(s), s"pure tricyclic flagged: $s")
    // 9,10-dihydroanthracene: the ONLY way to mix a multi-ring
    // rendering without a mixed ring is sp3 boundary carbons — a
    // different molecule, not a rendering; must not flag
    assert(!Chem.perceptionIncomplete("c1ccc2c(c1)CC1=CC=CC=C1C2"))
    // generator lattice: flag fires EXACTLY on the sys 0-2 mixed form
    for (seed <- 1L to 24L; v <- 0 to 2) {
      val sys = math.floorMod(seed, Chem.TriSysMod)
      assert(Chem.perceptionIncomplete(Chem.triFromSeed(seed, v)) ==
             (sys != 3 && v == 2),
        s"tri seed $seed variant $v flag wrong: ${Chem.triFromSeed(seed, v)}")
    }
    // THE CLOSURE PROPERTY (no silent split): every rendering either
    // collapses to the all-Kekulé reference key, or is quarantined —
    // there is no rendering in the lattice that silently keeps a
    // different key. This is what certifies the 3-class taxonomy is
    // complete for multi-ring mixed renderings (VERDICT r13 #7).
    for (seed <- 1L to 96L; v <- 0 to 2) {
      val s = Chem.triFromSeed(seed, v)
      val ref = Chem.canonical(Chem.triFromSeed(seed, 1)) // all-Kekulé
      val c = Chem.canonical(s)
      assert(c != null, s"tri seed $seed variant $v unparseable: $s")
      assert(c == ref || Chem.perceptionIncomplete(s),
        s"SILENT SPLIT: tri seed $seed variant $v key $c != $ref and unflagged: $s")
    }
    // canonical-key structure the d17 oracle pins: pure forms (and the
    // control's both phases) collapse, the mixed form splits
    for (seed <- 1L to 24L) {
      val canons = (0 to 2).map(v => Chem.canonical(Chem.triFromSeed(seed, v)))
      assert(canons.forall(_ != null), s"tri seed $seed unparseable rendering")
      assert(canons(0) == canons(1), s"tri seed $seed pure forms split: $canons")
      val want = if (math.floorMod(seed, Chem.TriSysMod) == 3) 1 else 2
      assert(canons.distinct.size == want, s"tri seed $seed canon split: $canons")
    }
    // the registered query's oracle contract at the smoke SF
    import queries.ChemQueries
    val out = ChemQueries.d17TricyclicMixedQuarantine(spark, sfDir).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val ctl = math.floorMod(r.getAs[Long]("seed"), Chem.TriSysMod) == 3
      assert(r.getAs[Long]("n_flagged") == (if (ctl) 0L else 1L), r.toString)
      assert(r.getAs[Long]("n_canon") == (if (ctl) 1L else 2L), r.toString)
      assert(r.getAs[Long]("n_renderings") == 3L, r.toString)
    }
  }

  test("arom generator: renderings collapse per cell, cells stay apart, oracle contract holds") {
    // one full lattice span: moduli 4 (ring) x 5 (methyl)
    val cells = (1L to 20L).map(s => (math.floorMod(s, Chem.AromRingMod),
      math.floorMod(s * Chem.AromSubMul, Chem.AromSubMod) < Chem.AromSubLt))
    val canons = (1L to 20L).map { seed =>
      val v = (0 to 2).map(Chem.aromFromSeed(seed, _))
      val c = v.map(Chem.canonical)
      assert(c.distinct.size == 1, s"seed $seed renderings split: $v -> $c")
      assert(c.head.exists(_.isLower), s"seed $seed did not aromatize: ${c.head}")
      c.head
    }
    // same cell -> same canonical; distinct cells -> distinct canonical
    canons.zip(cells).groupBy(_._2).values.foreach { g =>
      assert(g.map(_._1).distinct.size == 1, s"cell split: $g")
    }
    assert(canons.distinct.size == cells.distinct.size)
    // the registered query's oracle contract at the smoke SF
    import queries.ChemQueries
    val out = ChemQueries.d11AromaticCanonical(spark, sfDir).collect()
    assert(out.nonEmpty)
    assert(out.forall(r => r.getAs[Long]("n_renderings") == 3 * r.getAs[Long]("n_mols")))
  }

  test("conflicting ring-closure bond directions are rejected, consistent ones parse") {
    intercept[IllegalArgumentException](Chem.parse("C/1=CC/1"))
    Chem.parse("C/1=CC\\1") // opener/closer marks describe the same side: fine
    assert(Chem.canonical("C/1=CC/1") == null, "kernel must drop the row, not fail the job")
  }

  test("isotope generator: variants collapse per isotopomer, symmetric cells fold, labels drop flat") {
    // one full lattice span: moduli 3 (tail) x 7 (hydroxyl) x 4 (label)
    for (seed <- 1L to 84L) {
      val v = (0 to 2).map(Chem.isoFromSeed(seed, _))
      assert(v.map(Chem.canonicalIso).distinct.size == 1, s"seed $seed iso split: $v")
      val flats = v.map(Chem.canonical)
      assert(flats.distinct.size == 1 && !flats.head.contains("["), s"seed $seed flat: $flats")
    }
    // label-3 cells: same isotopomer as label 1 exactly when tail = 1 or no hydroxyl
    val bySkeleton = (1L to 84L * 4).groupBy(s => (math.floorMod(s, Chem.IsoTailMod),
      math.floorMod(s * Chem.HydroxylMul, Chem.HydroxylMod) < Chem.HydroxylLt))
    bySkeleton.foreach { case ((tailM, hyd), seeds) =>
      val tail = 1 + tailM
      val c1 = seeds.find(math.floorMod(_, Chem.IsoLabelMod) == 1)
        .map(s => Chem.canonicalIso(Chem.isoFromSeed(s, 0)))
      val c3 = seeds.find(math.floorMod(_, Chem.IsoLabelMod) == 3)
        .map(s => Chem.canonicalIso(Chem.isoFromSeed(s, 0)))
      val shouldCollapse = tail == 1 || !hyd
      assert(c1.isDefined && c3.isDefined)
      assert((c1 == c3) == shouldCollapse,
        s"tail=$tail hydroxyl=$hyd: expected collapse=$shouldCollapse, got $c1 vs $c3")
    }
  }

  // ------------------------------------------------------------ D3 hand cases

  test("morgan fingerprint: rendering-invariant, tautomer-invariant, non-empty") {
    assert(Chem.morganFp("CCO").toSeq == Chem.morganFp("OCC").toSeq)
    assert(Chem.morganFp("CC(O)=C").toSeq == Chem.morganFp("CC(=O)C").toSeq)
    assert(Chem.morganFp("CCO").toSeq != Chem.morganFp("CCCO").toSeq)
    assert(Chem.morganFp("CCO").map(java.lang.Long.bitCount(_)).sum > 0)
    // radius sensitivity: molecules sharing all atom types but differing
    // in connectivity get different fingerprints
    assert(Chem.morganFp("CCCCO").toSeq != Chem.morganFp("CC(C)CO").toSeq)
  }

  // ------------------------------------------------------------ D5 hand cases

  test("substructure: VF2 containment with tautomer-aware target") {
    assert(Chem.hasSubstructure("CC(=O)O", "C(=O)O"))        // carboxyl in acetic acid
    assert(!Chem.hasSubstructure("CCO", "C(=O)O"))
    assert(Chem.hasSubstructure("Cc1ccccc1", "c1ccccc1"))    // benzene in toluene
    assert(!Chem.hasSubstructure("C1CCCCC1", "c1ccccc1"))    // aromatic != aliphatic ring
    assert(Chem.hasSubstructure("CCCCC", "CCC"))             // chain in chain
    assert(!Chem.hasSubstructure("CCC", "CCCC"))             // pattern bigger than target
    // tautomer-aware: keto pattern found in the ENOL rendering
    assert(Chem.hasSubstructure("CC(O)=C", "CC(=O)C"))
    // bond-order exactness: no double bond in propane
    assert(!Chem.hasSubstructure("CCC", "C=C"))
    // ring pattern does not match an open chain
    assert(!Chem.hasSubstructure("CCCCCC", "C1CCCCC1"))
  }

  // --------------------------------------------- generator lattice contracts

  test("seeded generator: canonical form and fp invariant across variants, injective across the lattice") {
    val classes = (1L to 420L).map { seed =>
      val canons = (0 to 2).map(v => Chem.canonical(Chem.fromSeed(seed, v)))
      assert(canons.distinct.size == 1,
        s"seed $seed renderings did not collapse: $canons")
      val fps = (0 to 2).map(v => Chem.morganFp(Chem.fromSeed(seed, v)).toSeq)
      assert(fps.distinct.size == 1, s"seed $seed fingerprints not invariant")
      val key = (math.floorMod(seed * 7, 5), math.floorMod(seed, 4),
        math.floorMod(seed, 3) == 0, math.floorMod(seed * 5, 7) < 3)
      (key, canons.head, fps.head)
    }
    // same param tuple -> same canonical + fp; distinct tuple -> distinct both
    val byKey = classes.groupBy(_._1)
    byKey.foreach { case (k, rows) =>
      assert(rows.map(_._2).distinct.size == 1, s"canonical split within class $k")
      assert(rows.map(_._3).distinct.size == 1, s"fp split within class $k")
    }
    assert(byKey.values.map(_.head._2).toSeq.distinct.size == byKey.size,
      "canonical collision across distinct structural classes")
    assert(byKey.values.map(_.head._3).toSeq.distinct.size == byKey.size,
      "fingerprint collision across distinct structural classes")
  }

  test("seeded generator: substructure flags match the seed arithmetic on the enol rendering") {
    for (seed <- 1L to 420L) {
      val smiles = Chem.fromSeed(seed, 2) // group-3 seeds render as the enol here
      val grp = math.floorMod(seed, 4)
      assert(Chem.hasSubstructure(smiles, "C(=O)O") == (grp == 1), s"carboxyl flag, seed $seed")
      assert(Chem.hasSubstructure(smiles, "CC(=O)C") == (grp == 3), s"ketone flag, seed $seed")
      assert(Chem.hasSubstructure(smiles, "OC") == (grp == 1 || grp == 2), s"hydroxyl flag, seed $seed")
      assert(Chem.hasSubstructure(smiles, "C1CCCCC1") == (math.floorMod(seed, 3) == 0), s"ring flag, seed $seed")
    }
  }

  // ------------------------------------------------------------ query smoke

  test("chem queries run on the smoke SF and honor their oracle contracts") {
    import queries.ChemQueries
    val d2 = ChemQueries.d2SmilesCanonical(spark, sfDir).collect()
    assert(d2.nonEmpty)
    assert(d2.forall(r => r.getAs[Long]("n_renderings") == 3 * r.getAs[Long]("n_mols")))
    val d3 = ChemQueries.d3MorganFp(spark, sfDir).collect()
    assert(d3.nonEmpty)
    assert(d3.forall(_.getAs[Long]("n_fp_variants") == 1L))
    assert(d3.forall(_.getAs[Double]("self_sim") == 1.0))
    // d2 and d3 agree on the cluster partition (canonical == fp granularity)
    assert(d2.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq ==
      d3.map(r => (r.getLong(0), r.getLong(1))).sorted.toSeq)
    val d5 = ChemQueries.d5Substructure(spark, sfDir)
    assert(d5.filter(col("has_ketone") && col("has_hydroxyl")).isEmpty,
      "enol renderings must normalize away their hydroxyl")
    assert(d5.count() > 0)
  }
}
