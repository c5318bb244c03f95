package graft

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.{StructField, StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.chem.Chem
import graft.expr._

/** The custom expressions are callable from SQL after
  * Functions.register (or via the GraftExtensions session hook). */
class SqlFunctionsSpec extends SparkSpecBase {

  test("every registered SQL function evaluates through spark.sql") {
    Functions.register(spark)
    spark.sql("SELECT 1").createOrReplaceTempView("dual")

    val norm = spark.sql(
      "SELECT normalize_nfc('éclat') AS n, transliterate_ascii('éclat—x') AS t, " +
      "normalize_compound('Rotenone - B') AS c").collect().head
    assert(norm.getString(0) == "éclat") // composed NFC form
    assert(norm.getString(1).forall(_ < 128))
    assert(norm.getString(2) == "rotenoneb")

    val hash = spark.sql(
      "SELECT simhash64(array('a','b')) AS h1, simhash64(array('a','b')) AS h2").collect().head
    assert(hash.getLong(0) == hash.getLong(1))

    // poly61 pinned vector: the h1 fold of 'hello world' is 285884129 —
    // cross-checked against DuckDB's list_reduce twin in round 3; a
    // kernel change that breaks oracle parity breaks this pin first
    val expectedPoly = graft.expr.TextHash.poly61(
      org.apache.spark.unsafe.types.UTF8String.fromString("hello world"))
    val poly = spark.sql(
      "SELECT poly61('hello world') AS p, word_gram_poly61(array('hello','world'), 2) AS g")
      .collect().head
    assert(poly.getLong(0) == expectedPoly)
    assert(expectedPoly / 998244353L == 285884129L)
    assert(poly.getSeq[Long](1) == Seq(expectedPoly))

    val dot = spark.sql(
      "SELECT dot_product(array(1.0d, 2.0d), array(3.0d, 4.0d)) AS d").collect().head
    assert(dot.getDouble(0) == 11.0)

    val mc = spark.sql(
      "SELECT multi_contains_any('the rotenone paper', 'rotenone', 'metformin') AS m, " +
      "multi_contains_any('nothing here', 'rotenone', 'metformin') AS n").collect().head
    assert(mc.getBoolean(0) && !mc.getBoolean(1))

    val jw = spark.sql(
      "SELECT jaro_winkler('MARTHA', 'MARHTA') AS a, jaro_winkler('ab', 'ba') AS b")
      .collect().head
    assert(jw.getDouble(0) == 0.9611111111111111) // DuckDB-pinned vector
    assert(jw.getDouble(1) == 0.0)

    val agg = spark.sql(
      "SELECT topk_mean(v, 2) AS m FROM VALUES (1.0d), (5.0d), (3.0d) AS t(v)").collect().head
    assert(agg.getDouble(0) == 4.0)

    val pairs = spark.sql(
      "SELECT topk_pairs(s, i, 2) AS p FROM VALUES (1.0d, 10L), (5.0d, 20L), (3.0d, 30L) AS t(s, i)")
      .collect().head.getSeq[Row](0)
    assert(pairs.map(r => (r.getDouble(0), r.getLong(1))) == Seq((5.0, 20L), (3.0, 30L)))

    val chem = spark.sql(
      "SELECT canonical_smiles('OC(=O)c1ccccc1OC(C)=O') AS c, mol_from_seed(7L, 1) AS m")
      .collect().head
    assert(chem.getString(0) == Chem.canonical("OC(=O)c1ccccc1OC(C)=O"))
    assert(chem.getString(1) == Chem.fromSeed(7L, 1))

    val unregistered = Kernels.all.map(_.name).filterNot(n => spark.catalog.functionExists(n))
    assert(unregistered.isEmpty, s"kernels not callable from spark.sql: $unregistered")

    val mismatch = intercept[AnalysisException](
      spark.sql("SELECT poly61(array('x'))").collect())
    assert(mismatch.getMessage.contains("DATATYPE_MISMATCH") &&
      mismatch.getMessage.contains("poly61(array(x))"), mismatch.getMessage)
  }

  private def u(s: String) = UTF8String.fromString(s)
  private def words(ws: String*): ArrayData = new GenericArrayData(ws.map(u).toArray[Any])
  private def bits(ws: Long*): ArrayData = new GenericArrayData(ws.toArray[Any])
  private val smiles = "OC(=O)c1ccccc1OC(C)=O"
  private val seeded: Seq[(String, (Long, Int) => String)] = Seq(
    "mol_from_seed" -> Chem.fromSeed, "mol_chiral_from_seed" -> Chem.chiralFromSeed,
    "mol_ez_from_seed" -> Chem.ezFromSeed, "mol_iso_from_seed" -> Chem.isoFromSeed,
    "mol_arom_from_seed" -> Chem.aromFromSeed, "mol_fused_from_seed" -> Chem.fusedFromSeed,
    "mol_lactam_from_seed" -> Chem.lactamFromSeed, "mol_poly_from_seed" -> Chem.polyFromSeed,
    "mol_quar_from_seed" -> Chem.quarFromSeed, "mol_half_from_seed" -> Chem.halfFromSeed,
    "mol_tri_from_seed" -> Chem.triFromSeed)
  private val chunked = (1 to 40).map(i => s"word$i").mkString(" ")

  /** Per kernel: argument rows (external Row values) and what a direct
    * call of the Scala kernel returns for each. */
  private val samples: Map[String, Seq[(Seq[Any], Any)]] = Map(
    "normalize_nfc" -> Seq(Seq("e\u0301clat") -> TextNorm.nfc("e\u0301clat")),
    "transliterate_ascii" -> Seq(Seq("éclat—x") -> TextNorm.asciiTranslit("éclat—x")),
    "normalize_compound" -> Seq(Seq("Rotenone - B") -> TextNorm.normalizeCompound("Rotenone - B")),
    "simhash64" -> Seq(Seq(Seq("a", "b", "a")) -> TextHash.simhash64(words("a", "b", "a"))),
    "poly61" -> Seq(Seq("hello world") -> TextHash.poly61(u("hello world"))),
    "word_gram_poly61" -> Seq(Seq(Seq("x", "y", "z"), 2) ->
      TextHash.wordGramPoly61(words("x", "y", "z"), 2).toLongArray.toSeq),
    "bit_tanimoto" -> Seq(Seq(Seq(15L, 240L), Seq(60L)) -> BitSimKernels.tanimoto(bits(15L, 240L), bits(60L))),
    "bit_tversky" -> Seq(Seq(Seq(15L, 240L), Seq(60L), 0.7, 0.3) ->
      BitSimKernels.tversky(bits(15L, 240L), bits(60L), 0.7, 0.3)),
    "bit_dice" -> Seq(Seq(Seq(15L, 240L), Seq(60L)) -> BitSimKernels.dice(bits(15L, 240L), bits(60L))),
    "jaro_winkler" -> Seq(Seq("MARTHA", "MARHTA") -> StringSim.jaroWinkler(u("MARTHA"), u("MARHTA"))),
    "cdc_boundaries" -> Seq(Seq(chunked) -> Cdc.boundaries(u(chunked)).toIntArray.toSeq),
    "perception_incomplete" -> Seq(Seq(smiles) -> Chem.perceptionIncomplete(smiles)),
    // the three nullable-result kernels also see an unparseable row
    "canonical_smiles" -> Seq(Seq(smiles) -> Chem.canonical(smiles), Seq("C1CC(") -> null),
    "canonical_smiles_iso" ->
      Seq(Seq(smiles) -> Chem.canonicalIso(smiles), Seq("C1CC(") -> null),
    "morgan_fp" -> Seq(Seq(smiles) -> Chem.morganFp(smiles).toSeq, Seq("C1CC(") -> null),
    "has_substructure" ->
      Seq(Seq(smiles, "C(=O)O") -> Chem.hasSubstructure(smiles, "C(=O)O")),
  ) ++ seeded.map { case (name, f) => name -> Seq(Seq[Any](7L, 1) -> f(7L, 1)) }

  test("every kernel: generated and interpreted calls equal a direct call, null in gives null") {
    Functions.register(spark)
    assert(samples.keySet == Kernels.all.map(_.name).toSet)
    assert(Chem.canonical("C1CC(") == null)
    for (k <- Kernels.all; mode <- Seq("CODEGEN_ONLY", "NO_CODEGEN")) {
      val (rows, expected) = samples(k.name).unzip
      val schema = StructType(k.inputTypes.zipWithIndex.map { case (t, i) => StructField(s"a$i", t) })
      val nullRow = Row.fromSeq(k.inputTypes.map(_ => null))
      // an RDD-backed frame: a local relation would be evaluated by the
      // optimizer (ConvertToLocalRelation), not by the plan under test
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map(Row.fromSeq) :+ nullRow, 1), schema)
      // word_gram_poly61's n must be a constant
      val args = k.inputTypes.indices.map(i => if (k.name == "word_gram_poly61" && i == 1) "2" else s"a$i")
      val got = Confs.withSessionConf(spark, "spark.sql.codegen.factoryMode", mode) {
        Confs.withSessionConf(spark, "spark.sql.codegen.wholeStage", (mode == "CODEGEN_ONLY").toString) {
          df.selectExpr(s"${k.name}(${args.mkString(", ")}) AS r").collect().map(_.get(0)).toSeq
        }
      }
      assert(got == expected :+ null, s"${k.name} under $mode")
    }
    val ws = spark.sql("SELECT array('a', 'b') AS ws")
    val bad = intercept[AnalysisException](ws.select(hashfunctions.word_gram_poly61(col("ws"), 0)))
    assert(bad.getMessage.contains("n=0"), bad.getMessage)
    val badSql = intercept[AnalysisException](spark.sql("SELECT word_gram_poly61(array('a'), 0)"))
    assert(badSql.getMessage.contains("n=0"), badSql.getMessage)
  }
}
