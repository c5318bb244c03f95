package graft.expr

import org.apache.spark.sql.Column
import org.apache.spark.unsafe.types.UTF8String

/** `UTF8String` entry points of the [[TextNorm]] kernels, called by the
  * [[Kernels]] text-normalization declarations. */
object TextNormKernels {
  def nfc(s: UTF8String): UTF8String = UTF8String.fromString(TextNorm.nfc(s.toString))
  def asciiTranslit(s: UTF8String): UTF8String =
    UTF8String.fromString(TextNorm.asciiTranslit(s.toString))
  def normalizeCompound(s: UTF8String): UTF8String =
    UTF8String.fromString(TextNorm.normalizeCompound(s.toString))
}

/** Column-level entry points (the library's public function surface)
  * for the normalization ops Spark lacks (SURVEY §2.7 X5/X8/X9, §4
  * "custom Catalyst work actually required"). */
object functions {
  /** X5 — Unicode NFC normalization (`uconv -x Any-NFC`, process_pubmed.sh:120). */
  def normalize_nfc(c: Column): Column = Kernels.NormalizeNfc(c)
  /** X8 — ASCII transliteration (`iconv -t ASCII//TRANSLIT`, process_pubmed.sh:135). */
  def transliterate_ascii(c: Column): Column = Kernels.TransliterateAscii(c)
  /** X9 — compound-name normalization (finalize_realease.py:517-525). */
  def normalize_compound(c: Column): Column = Kernels.NormalizeCompound(c)
}
