package graft.expr

import scala.collection.mutable.ListBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult.{TypeCheckFailure, TypeCheckSuccess}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._

/** One static JVM kernel method as a Catalyst expression. The rule: a
  * custom scalar function whose whole evaluation is one static call is
  * declared once in [[Kernels]] and runs as Spark's own `StaticInvoke`
  * (a direct call in generated code, a reflective call when
  * interpreted), as Spark's `url_encode` and `aes_encrypt` do. The
  * analyzer casts each argument to its `inputTypes` entry, and an
  * argument it cannot cast fails with DATATYPE_MISMATCH naming the
  * call. A null argument gives null; `nullableResult` marks kernels
  * that may also return null themselves.
  *
  * Hand-written expressions stay where evaluation is more than one
  * static call: [[DotProduct]] picks its kernel from the element types
  * after analysis, [[BlockHash60]] guards each row's length,
  * [[MultiContainsAny]] and [[BpeApplyMerges]] hold per-instance
  * reference objects, and the aggregates keep a buffer.
  */
case class Kernel(decl: Kernel.Decl, children: Seq[Expression])
    extends Expression with RuntimeReplaceable with ImplicitCastInputTypes {
  override def dataType: DataType = decl.dataType
  override def inputTypes: Seq[DataType] = decl.inputTypes
  override lazy val replacement: Expression = StaticInvoke(decl.owner, decl.dataType, decl.method,
    children, decl.inputTypes, returnNullable = decl.nullableResult)
  override def checkInputDataTypes(): TypeCheckResult = super.checkInputDataTypes() match {
    case TypeCheckSuccess => decl.check(children).fold[TypeCheckResult](TypeCheckSuccess)(TypeCheckFailure(_))
    case failure => failure
  }
  override def prettyName: String = decl.name
  override protected def stringArgs: Iterator[Any] = children.iterator
  override protected def withNewChildrenInternal(c: IndexedSeq[Expression]): Kernel =
    copy(children = c)
}

object Kernel {
  /** A kernel's one declaration: SQL name, static method, result and
    * argument types. `check` returns why a call's analyzed arguments
    * break a rule that is not a type rule, if they do. */
  final case class Decl(name: String, owner: Class[_], method: String, dataType: DataType,
                        inputTypes: Seq[DataType], nullableResult: Boolean,
                        check: Seq[Expression] => Option[String]) {
    def expr(args: Seq[Expression]): Kernel = {
      require(args.length == inputTypes.length,
        s"$name takes ${inputTypes.length} arguments, got ${args.length}")
      Kernel(this, args)
    }
    def apply(args: Column*): Column = Bridge.column(expr(args.map(Bridge.expression)))
  }
}

/** Every static-call kernel, declared once. The column functions
  * ([[functions]], [[chemfunctions]], [[hashfunctions]],
  * [[bitsimfunctions]], [[stringfunctions]]) and the SQL registry
  * ([[graft.Functions]]) build their calls from these declarations. */
object Kernels {
  private val declared = ListBuffer.empty[Kernel.Decl]
  private def declare(name: String, owner: AnyRef, method: String, dataType: DataType,
                      inputTypes: Seq[DataType], nullableResult: Boolean = false,
                      check: Seq[Expression] => Option[String] = _ => None): Kernel.Decl = {
    val d = Kernel.Decl(name, owner.getClass, method, dataType, inputTypes, nullableResult, check)
    declared += d
    d
  }
  private val Str = Seq(StringType)
  private val SeedVariant = Seq(LongType, IntegerType)
  private val Words = ArrayType(StringType)
  private val Longs = ArrayType(LongType, containsNull = false)
  private val BitVecs = Seq(ArrayType(LongType), ArrayType(LongType))

  val NormalizeNfc = declare("normalize_nfc", TextNormKernels, "nfc", StringType, Str)
  val TransliterateAscii =
    declare("transliterate_ascii", TextNormKernels, "asciiTranslit", StringType, Str)
  val NormalizeCompound =
    declare("normalize_compound", TextNormKernels, "normalizeCompound", StringType, Str)

  val SimHash64 = declare("simhash64", TextHash, "simhash64", LongType, Seq(Words))
  val PolyHash61 = declare("poly61", TextHash, "poly61", LongType, Str)
  val WordGramPoly61 = declare("word_gram_poly61", TextHash, "wordGramPoly61", Longs,
    Seq(Words, IntegerType), check = { args =>
      val n = args(1)
      val ok = n.foldable && (n.eval() match {
        case v: Int => v >= 1
        case v: Long => v >= 1
        case _ => false
      })
      Option.when(!ok)(s"word_gram_poly61 requires a constant n >= 1, got n=${n.sql}")
    })

  val BitTanimoto = declare("bit_tanimoto", BitSimKernels, "tanimoto", DoubleType, BitVecs)
  val BitTversky = declare("bit_tversky", BitSimKernels, "tversky", DoubleType,
    BitVecs ++ Seq(DoubleType, DoubleType))
  val BitDice = declare("bit_dice", BitSimKernels, "dice", DoubleType, BitVecs)

  val JaroWinklerSim = declare("jaro_winkler", StringSim, "jaroWinkler", DoubleType, Str ++ Str)
  val CdcBoundaries = declare("cdc_boundaries", Cdc, "boundaries",
    ArrayType(IntegerType, containsNull = false), Str)

  val MolFromSeed = declare("mol_from_seed", ChemKernels, "fromSeed", StringType, SeedVariant)
  val MolChiralFromSeed =
    declare("mol_chiral_from_seed", ChemKernels, "chiralFromSeed", StringType, SeedVariant)
  val MolEzFromSeed = declare("mol_ez_from_seed", ChemKernels, "ezFromSeed", StringType, SeedVariant)
  val MolIsoFromSeed =
    declare("mol_iso_from_seed", ChemKernels, "isoFromSeed", StringType, SeedVariant)
  val MolAromFromSeed =
    declare("mol_arom_from_seed", ChemKernels, "aromFromSeed", StringType, SeedVariant)
  val MolFusedFromSeed =
    declare("mol_fused_from_seed", ChemKernels, "fusedFromSeed", StringType, SeedVariant)
  val MolLactamFromSeed =
    declare("mol_lactam_from_seed", ChemKernels, "lactamFromSeed", StringType, SeedVariant)
  val MolPolyFromSeed =
    declare("mol_poly_from_seed", ChemKernels, "polyFromSeed", StringType, SeedVariant)
  val MolQuarFromSeed =
    declare("mol_quar_from_seed", ChemKernels, "quarFromSeed", StringType, SeedVariant)
  val MolHalfFromSeed =
    declare("mol_half_from_seed", ChemKernels, "halfFromSeed", StringType, SeedVariant)
  val MolTriFromSeed =
    declare("mol_tri_from_seed", ChemKernels, "triFromSeed", StringType, SeedVariant)
  val PerceptionIncomplete =
    declare("perception_incomplete", ChemKernels, "perceptionIncomplete", BooleanType, Str)
  val CanonicalSmiles = declare("canonical_smiles", ChemKernels, "canonical", StringType, Str,
    nullableResult = true)
  val CanonicalSmilesIso = declare("canonical_smiles_iso", ChemKernels, "canonicalIso",
    StringType, Str, nullableResult = true)
  val MorganFingerprint = declare("morgan_fp", ChemKernels, "morganFp", Longs, Str,
    nullableResult = true)
  val HasSubstructure =
    declare("has_substructure", ChemKernels, "hasSub", BooleanType, Str ++ Str)

  /** Every declaration, in declaration order. */
  val all: Seq[Kernel.Decl] = declared.toList
}
