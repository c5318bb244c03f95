package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.unsafe.types.UTF8String

import graft.chem.Chem

/** `UTF8String` entry points of the [[graft.chem.Chem]] kernels — the
  * in-engine D2/D3/D5 chemistry surface (SURVEY §2.10;
  * finalize_realease.py:116-144,230-249,275-331), called by the
  * [[Kernels]] chemistry declarations: the chemistry is a scan-stage
  * scalar kernel, embarrassingly parallel at 100 TB. */
object ChemKernels {
  def fromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.fromSeed(seed, variant))
  def chiralFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.chiralFromSeed(seed, variant))
  def ezFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.ezFromSeed(seed, variant))
  def isoFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.isoFromSeed(seed, variant))
  def aromFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.aromFromSeed(seed, variant))
  def fusedFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.fusedFromSeed(seed, variant))
  def lactamFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.lactamFromSeed(seed, variant))
  def polyFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.polyFromSeed(seed, variant))
  def quarFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.quarFromSeed(seed, variant))
  def halfFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.halfFromSeed(seed, variant))
  def triFromSeed(seed: Long, variant: Int): UTF8String =
    UTF8String.fromString(Chem.triFromSeed(seed, variant))
  def perceptionIncomplete(s: UTF8String): Boolean =
    Chem.perceptionIncomplete(if (s == null) null else s.toString)
  def canonical(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(Chem.canonical(s.toString))
  def canonicalIso(s: UTF8String): UTF8String =
    if (s == null) null else UTF8String.fromString(Chem.canonicalIso(s.toString))
  def morganFp(s: UTF8String): ArrayData = {
    if (s == null) return null
    val fp = Chem.morganFp(s.toString)
    if (fp == null) null else new GenericArrayData(fp)
  }
  def hasSub(s: UTF8String, p: UTF8String): Boolean =
    Chem.hasSubstructure(s.toString, p.toString)
}

/** Column-level entry points. */
object chemfunctions {
  import Kernels._

  /** Deterministic SMILES rendering of the seeded molecule family
    * ([[Chem.fromSeed]]) — the engine's generative fixture source, with
    * every structural decision SQL-replicable for the oracle. */
  def mol_from_seed(seed: Column, variant: Column): Column = MolFromSeed(seed, variant)
  /** Chiral twin of [[mol_from_seed]] ([[Chem.chiralFromSeed]]): a
    * one-stereocenter family whose enantiomer hand and skeleton are
    * modular seed arithmetic, for the stereo extension's generative
    * oracle. */
  def mol_chiral_from_seed(seed: Column, variant: Column): Column =
    MolChiralFromSeed(seed, variant)
  /** E/Z twin ([[Chem.ezFromSeed]]): a one-double-bond family whose
    * cis/trans geometry and skeleton are modular seed arithmetic. */
  def mol_ez_from_seed(seed: Column, variant: Column): Column = MolEzFromSeed(seed, variant)
  /** Isotope twin ([[Chem.isoFromSeed]]): a mass-labeled family whose
    * label site and skeleton are modular seed arithmetic (including the
    * deliberate symmetric-collapse cells the oracle replays as CASE
    * terms). */
  def mol_iso_from_seed(seed: Column, variant: Column): Column = MolIsoFromSeed(seed, variant)
  /** Aromatic-ring twin ([[Chem.aromFromSeed]]): a heteroaromatic ring
    * family as one aromatic and two Kekulé forms, for the
    * aromaticity-perception extension's generative oracle. */
  def mol_arom_from_seed(seed: Column, variant: Column): Column = MolAromFromSeed(seed, variant)
  /** Fused-bicyclic twin ([[Chem.fusedFromSeed]]): a 6-6/6-5 fused
    * heteroaromatic family as one aromatic and two Kekulé-phase forms —
    * the phase-independence contract of the fused-system perception
    * ([[Chem.aromatize]] stage 2). */
  def mol_fused_from_seed(seed: Column, variant: Column): Column =
    MolFusedFromSeed(seed, variant)
  /** Lactam/amide twin ([[Chem.lactamFromSeed]]): an amide family as
    * one amide and two lactim (C–OH, C=N) forms, for the lactim→lactam
    * tautomer rule's generative oracle. */
  def mol_lactam_from_seed(seed: Column, variant: Column): Column =
    MolLactamFromSeed(seed, variant)
  /** Polycyclic/quinoid twin ([[Chem.polyFromSeed]]): the
    * pyrene/acenaphthylene/quinone family as one perceived form and two
    * full-Kekulé phases — the generative contract of
    * [[Chem.aromatize]]'s per-ring fallback. */
  def mol_poly_from_seed(seed: Column, variant: Column): Column = MolPolyFromSeed(seed, variant)
  /** Quarantine-class twin ([[Chem.quarFromSeed]]): the
    * charged-aromatic/fused-non-candidate family (plus a benign benzene
    * control) as one aromatic and two Kekulé forms — the generative
    * oracle of the d15 perception-quarantine flag. */
  def mol_quar_from_seed(seed: Column, variant: Column): Column = MolQuarFromSeed(seed, variant)
  /** Half-aromatic rendering twin ([[Chem.halfFromSeed]]): a fused
    * bicyclic as the aromatic form, a full Kekulé form, and the
    * HALF-aromatic mixed form real corpora emit — the generative oracle
    * of the d16 class-3 quarantine flag (plus a naphthoquinone control
    * whose mixed rendering is certifiable and must NOT flag). */
  def mol_half_from_seed(seed: Column, variant: Column): Column = MolHalfFromSeed(seed, variant)
  /** Tricyclic mixed-rendering twin ([[Chem.triFromSeed]]): a linear
    * 3-ring system mixed at one and at both fusion bonds — the d17
    * generative CLOSURE of the quarantine taxonomy (the candidate
    * "class 4" reduces to class 3; see
    * [[Chem.perceptionIncompleteGraph]]'s closure note). */
  def mol_tri_from_seed(seed: Column, variant: Column): Column = MolTriFromSeed(seed, variant)
  /** D15/D16 — the perception-incomplete quarantine flag
    * ([[Chem.perceptionIncomplete]]): true when the input rendering is
    * in a class the aromatize kernel documents as out of scope (charged
    * ring carbons; candidate rings fused to conjugated non-candidate
    * rings; half-aromatic mixed renderings that pass through as
    * written), so downstream dedup routes the molecule instead of
    * trusting a canonical key that may not collapse with its other
    * renderings. True for unparseable input as well. */
  def perception_incomplete(c: Column): Column = PerceptionIncomplete(c)
  /** D2 — non-isomeric canonical SMILES (parse → largest fragment →
    * uncharge → canonical tautomer → canonical ranking; minimal port of
    * finalize_realease.py:230-249). NULL on unparseable input: the
    * reference's canonic() returns None and drops the row. */
  def canonical_smiles(c: Column): Column = CanonicalSmiles(c)
  /** ISOMERIC canonical SMILES ([[Chem.canonicalIso]]) — the
    * stereo-preserving extension beyond the reference's non-isomeric
    * canonic(); NULL on unparseable input, as [[canonical_smiles]]. */
  def canonical_smiles_iso(c: Column): Column = CanonicalSmilesIso(c)
  /** D3 — Morgan/ECFP fingerprint (radius 2, 2048 bits) as 32 long
    * words, the same `array<long>` shape the D4 popcount kernels
    * ([[BitSimKernels]]) consume (finalize_realease.py:116-144); NULL on
    * unparseable input. */
  def morgan_fp(c: Column): Column = MorganFingerprint(c)
  /** D5 — tautomer-aware substructure containment: the target is
    * normalized (largest fragment, uncharge, canonical tautomer) before
    * the VF2 match, so a keto pattern finds an enol rendering
    * (finalize_realease.py:275-331). */
  def has_substructure(target: Column, pattern: Column): Column =
    HasSubstructure(target, pattern)
}
