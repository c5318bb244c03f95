package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.CleanText
import graft.expr.functions.{normalize_compound, normalize_nfc, transliterate_ascii}

/** Text-operator pack: regex filters F4/F6/F7, the cleaning chain X1–X8,
  * normalization X9–X13, explode X12, hashing X18 — SURVEY §2.2/§2.7 —
  * exercised on `documents` / `part` / `orders` / `events`.
  *
  * Scale notes: every query here is a single codegen'd scan→project→
  * filter pipeline (no shuffle except the explode-count and its
  * aggregation) — the shape that saturates IO at 100 TB. The F6
  * multi-literal anti-filter is the one op with a better physical form
  * at scale (one Aho–Corasick pass instead of N contains); flagged in
  * SURVEY §4 as a perf-only rewrite, deferred until BENCH demands it.
  */
object TextQueries {

  /** F6 pattern list — fixed-string, case-insensitive, pre-cleaned to
    * length≥3 exactly like merge_filter.sh:56-58. */
  val antiPatterns: Seq[String] = Seq("vector", "dup", "window")

  /** X11 rule chain — order-sensitive: 'widget'→'gadget' cascades into
    * 'gadget'→'device' (reference applies rules sequentially). */
  val typoRules: Seq[(String, String)] = Seq(
    ("widget", "gadget"), ("blue ", ""), ("gadget", "device"))

  /** F4 (process_pubmed.sh:60-68,108-113): case-insensitive regex
    * conjunction — keep iff INHIBIT-like AND (COMPLEX-like OR NADH-like),
    * re-voweled onto the documents vocabulary. */
  def f4RegexFilter(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    d.filter(col("text").rlike("(?i)(join|merge|group)") &&
             (col("text").rlike("(?i)spark") || col("text").rlike("(?i)stream")))
      .select(col("doc_id"), col("lang"))
  }

  /** F6 (merge_filter.sh:56-65): multi-literal containment ANTI-filter.
    * Broadcast-literal array + `exists(contains)` — the 49-pattern
    * `rg -v -i -F -f` as one codegen'd predicate. */
  def f6MultiLiteralAnti(spark: SparkSession, dir: String): DataFrame = {
    val pats = array(antiPatterns.map(lit): _*)
    Tables.documents(spark, dir)
      .filter(!exists(pats, p => lower(col("text")).contains(p)))
      .select(col("doc_id"), col("n_chars"))
  }

  /** F6 scale path: same anti-filter through the Aho–Corasick
    * `multi_contains_any` expression — one automaton pass per row
    * instead of one scan per pattern (SURVEY §4 rewrite 2). */
  def f6AhoCorasick(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .filter(!graft.expr.mcfunctions.multi_contains_any(col("text"), antiPatterns))
      .select(col("doc_id"), col("n_chars"))

  /** F7 (merge_filter.sh:83-84): PCRE lookahead confirmation regex —
    * java.util.regex supports lookahead verbatim; the DuckDB oracle
    * (RE2, no lookahead) expresses the same predicate as a conjunction. */
  def f7LookaheadFilter(spark: SparkSession, dir: String): DataFrame = {
    val rx = "(?i)(?=.*\\bspark\\b)(?=.*\\b(join|merge)\\b).*\\b(window|stream)\\b"
    Tables.documents(spark, dir)
      .filter(col("text").rlike(rx))
      .select(col("doc_id"), col("source"))
  }

  /** X5+X8 on a REAL non-ASCII corpus (process_pubmed.sh:120 `uconv -x
    * Any-NFC`, :135 `iconv -t ASCII//TRANSLIT`): the fixture is derived
    * deterministically from `part.p_name` — vowels re-spelled as
    * DECOMPOSED base+combining-mark pairs (so NFC has real work to do)
    * plus a precomposed/symbol suffix (é – ß … µ ≥ °) exercising the
    * transliteration table. The DuckDB twin replays NFC through
    * utf8proc's `nfc_normalize` — a genuine cross-library check against
    * JVM `Normalizer` — and the translit contract as an explicit
    * per-codepoint replace chain (exact for this fixture alphabet,
    * which is the point: the injected set is the only non-ASCII
    * content). `nfc_len < raw_len` pins that composition actually
    * happened. Pure scan-side projection, no shuffle. */
  def x5X8Unicode(spark: SparkSession, dir: String): DataFrame = {
    val deco = regexp_replace(regexp_replace(regexp_replace(col("p_name"),
      "a", "a\u0301"), "o", "o\u0308"), "u", "u\u0300")
    val uText = concat(deco, lit(" \u00e9\u2013\u00df\u2026\u00b5\u2265\u00b0"))
    Tables.part(spark, dir).select(col("p_partkey"),
      normalize_nfc(uText).as("nfc_text"),
      length(normalize_nfc(uText)).cast("long").as("nfc_len"),
      length(uText).cast("long").as("raw_len"),
      transliterate_ascii(uText).as("ascii_text"))
  }

  /** X1–X8 chain (process_pubmed.sh:84-135) over documents; the unicode
    * steps (X5 NFC / X8 translit) are identity on this ASCII corpus —
    * non-ASCII behavior is driver-checked in [[x5X8Unicode]] and pinned
    * by unit-test vectors (TextNormSpec). */
  def x1CleanChain(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), CleanText.cleanAll(col("text")).as("clean_text"))

  /** X2+X3: sentence concat + year extraction, on part/orders. */
  def x2SentenceConcat(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir).select(col("p_partkey"),
      CleanText.sentenceConcat(col("p_name"), col("p_type")).as("sentence"))

  def x3YearExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select(CleanText.extractYear(col("o_orderdate").cast("string")).cast("int").as("order_year"))
      .groupBy(col("order_year")).agg(count(lit(1)).as("n_orders"))

  /** X9 (finalize_realease.py:517-525): compound-name normalization via
    * the `normalize_compound` kernel ([[graft.expr.functions]]). */
  def x9CompoundNorm(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"), normalize_compound(col("p_name")).as("norm_name"))

  /** X10 (finalize_realease.py:542-549): unbalanced-paren truncation.
    * Input synthesized: every third part gets an unbalanced suffix. */
  def x10ParenTrunc(spark: SparkSession, dir: String): DataFrame = {
    val synth = when(col("p_partkey") % 3 === 0, concat(col("p_name"), lit(" (frag")))
      .otherwise(col("p_name"))
    Tables.part(spark, dir)
      .select(col("p_partkey"), CleanText.parenTruncate(synth).as("fixed_name"))
  }

  /** X11 (finalize_realease.py:495-504): ordered typo-chain. */
  def x11TypoChain(spark: SparkSession, dir: String): DataFrame =
    Tables.part(spark, dir)
      .select(col("p_partkey"), CleanText.typoChain(col("p_name"), typoRules).as("fixed_name"))

  /** X12+A2 (finalize_realease.py:558-565): split+explode then count —
    * top-50 words. The explode happens AFTER the scan projection so
    * only the text column fans out; count is partial-aggregated. */
  def x12ExplodeWords(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("word").asc)
      .limit(50)

  /** X13 (run_gpt_filter.py:57-69): strict-then-loose id normalization
    * over the events `props` JSON string. */
  def x13IdNorm(spark: SparkSession, dir: String): DataFrame = {
    val strict = regexp_extract(col("props"), "^\\{\"k\": ([0-9]+)\\}$", 1)
    val loose = regexp_extract(col("props"), "([0-9]+)", 1)
    Tables.events(spark, dir).select(
      col("event_id"),
      coalesce(nullif(strict, lit("")), nullif(loose, lit(""))).cast("int").as("k_norm"))
  }

  /** X18 (finalize_realease.py:57-62): sha256 content digest as a
    * row-level provenance fingerprint. */
  def x18Sha256(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), sha2(col("text"), 256).as("digest"))

  /** Fuzzy dictionary join by edit distance (net-new, motivated by the
    * reference's typos.txt repair table): corrupted names — one
    * character deleted at a key-derived position — matched back to the
    * clean dictionary by minimum levenshtein. The join is BLOCKED
    * before the distance kernel runs via [[fuzzyCandidates]]'s
    * prefix/deletion-neighborhood EQUI-join keys — candidates per input
    * are bounded by prefix-bucket occupancy (see [[fuzzyCandidates]]
    * for the exact guarantee; the ±2 length band this replaced
    * admitted most of the dict×typo cross product on length-clustered
    * names) — and the kernel is the thresholded levenshtein (banded
    * O(k·n) DP with early abandon, -1 past the bound) instead of the
    * full O(n·m) form: the distance is only ever compared against 2, so
    * the band form is semantically identical and ~6x cheaper on
    * ~30-char names. Best match per input via min(struct): one hash
    * aggregate, no window sort, deterministic (distance, name)
    * tiebreak. */
  def fuzzyJoinLevenshtein(spark: SparkSession, dir: String): DataFrame = {
    val (typo, dict) = typoCorpus(spark, dir)
    fuzzyCandidates(typo, dict)
      .filter(levenshtein(col("typo"), col("p_name"), 2) >= 0)
      .groupBy(col("p_partkey"), col("typo"))
      .agg(min(struct(levenshtein(col("typo"), col("p_name"), 2).as("dist"),
        col("p_name").as("matched"))).as("best"))
      .select(col("p_partkey"), col("typo"),
        col("best.matched").as("matched"), col("best.dist").cast("long").as("dist"))
  }

  /** Shared typo corpus: delete the char at 0-based position
    * (p_partkey % length) from each part name; dict = distinct names. */
  private def typoCorpus(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    val parts = Tables.part(spark, dir).select(col("p_partkey"), col("p_name"))
    val pos = pmod(col("p_partkey"), length(col("p_name")))
    val typo = parts.select(col("p_partkey"),
      concat(substring(col("p_name"), lit(1), pos),
        substring(col("p_name"), pos + lit(2), lit(1000000))).as("typo"))
    (typo, parts.select(col("p_name")).distinct())
  }

  /** Record-linkage blocking for both fuzzy joins: EQUI-join on
    * complementary prefix keys instead of a θ-band. Key `p:` pairs
    * strings sharing their first-[[FuzzyPrefixK]] chars (covers any
    * corruption at position ≥ k); key `d:` pairs the input's k-prefix
    * with the k-prefixes of each single-deletion variant of the dict
    * name's (k+1)-prefix (covers a deletion at position < k) — so the
    * one-deletion corruption model is covered COMPLETELY, by pigeonhole
    * on where the deletion lands. Candidates per input are bounded by
    * prefix-bucket occupancy — on this corpus the part-name prefix
    * vocabulary is narrow (~60-90 distinct 8-char prefixes), so this
    * is a large constant-factor reduction over the length band (which
    * admitted nearly the whole dict), not an asymptotic guarantee: a
    * dictionary that keeps growing inside the same prefix vocabulary
    * grows bucket occupancy linearly. The scale lever is k — longer
    * prefixes sharpen buckets at the cost of more dict-side keys; a
    * skew-heavy dictionary would pair this with a salted join on the
    * hot keys. Dict-side fan-out is k+1 keyed
    * rows per name (broadcast — it's a dimension); a pair matching
    * several keys just duplicates rows, which the min/max(struct)
    * argmax downstream absorbs without a distinct shuffle. */
  private val FuzzyPrefixK = 8

  private def fuzzyCandidates(typo: DataFrame, dict: DataFrame): DataFrame = {
    val k = FuzzyPrefixK
    val typoKeys = typo.withColumn("bk", explode(array(
      concat(lit("p:"), substring(col("typo"), 1, k)),
      concat(lit("d:"), substring(col("typo"), 1, k)))))
    val dictKeys = dict.withColumn("bk", explode(array(
      concat(lit("p:"), substring(col("p_name"), 1, k)) +:
        (0 until k).map(i => concat(lit("d:"),
          substring(col("p_name"), 1, i),
          substring(col("p_name"), i + 2, k - i))): _*)))
    typoKeys.join(broadcast(dictKeys), "bk")
      .select(col("p_partkey"), col("typo"), col("p_name"))
  }

  /** DuckDB twin of [[fuzzyCandidates]] — the identical key fan-out as
    * a CTE ending in a DISTINCT candidate set (SQL replays need the
    * dedup explicitly; the Spark side folds it into the argmax). */
  private def fuzzyCandidateCte: String = {
    val k = FuzzyPrefixK
    ("typo AS (SELECT p_partkey, " +
     "substr(p_name, 1, p_partkey % length(p_name)) || " +
     "substr(p_name, (p_partkey % length(p_name)) + 2) AS typo FROM part), " +
     "dict AS (SELECT DISTINCT p_name FROM part), " +
     s"tk AS (SELECT p_partkey, typo, unnest(['p:' || substr(typo, 1, $k), " +
     s"'d:' || substr(typo, 1, $k)]) AS bk FROM typo), " +
     s"dk AS (SELECT p_name, unnest(['p:' || substr(p_name, 1, $k)] || " +
     s"list_transform(generate_series(0, ${k - 1}), i -> " +
     s"'d:' || substr(p_name, 1, i) || substr(p_name, i + 2, $k - i))) AS bk FROM dict), " +
     "cand0 AS (SELECT DISTINCT t.p_partkey, t.typo, d.p_name FROM tk t JOIN dk d USING (bk))")
  }

  val JwThreshold = 0.9

  /** Fuzzy join on the `jaro_winkler` kernel (parity with DuckDB's
    * builtin pinned in KernelProps): same typo corpus and [[fuzzyCandidates]]
    * prefix-blocking as [[fuzzyJoinLevenshtein]], but scored by
    * Jaro–Winkler — the record-linkage metric that rewards shared
    * prefixes, which is what prefix blocking pairs naturally with.
    * Scores are rounded to 6 dp BEFORE the threshold and the argmax on
    * BOTH engines, so candidate survival and tie-breaks are
    * comparison-exact. */
  def fuzzyJoinJw(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.stringfunctions.jaro_winkler
    val (typo, dict) = typoCorpus(spark, dir)
    fuzzyCandidates(typo, dict)
      .withColumn("jw", round(jaro_winkler(col("typo"), col("p_name")), 6))
      .filter(col("jw") >= JwThreshold)
      .groupBy(col("p_partkey"), col("typo"))
      .agg(max(struct(col("jw"), col("p_name").as("matched"))).as("best"))
      .select(col("p_partkey"), col("typo"),
        col("best.matched").as("matched"), col("best.jw").as("jw"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "fuzzy_join_jw" -> (fuzzyJoinJw _),
    "fuzzy_join_levenshtein" -> (fuzzyJoinLevenshtein _),
    "f4_regex_filter"     -> (f4RegexFilter _),
    "f6_multi_literal_anti" -> (f6MultiLiteralAnti _),
    "f6_aho_corasick"     -> (f6AhoCorasick _),
    "f7_lookahead_filter" -> (f7LookaheadFilter _),
    "x1_clean_chain"      -> (x1CleanChain _),
    "x5_x8_unicode"       -> (x5X8Unicode _),
    "x2_sentence_concat"  -> (x2SentenceConcat _),
    "x3_year_extract"     -> (x3YearExtract _),
    "x9_compound_norm"    -> (x9CompoundNorm _),
    "x10_paren_trunc"     -> (x10ParenTrunc _),
    "x11_typo_chain"      -> (x11TypoChain _),
    "x12_explode_words"   -> (x12ExplodeWords _),
    "x13_id_norm"         -> (x13IdNorm _),
    "x18_sha256"          -> (x18Sha256 _),
  )

  val oracle: Map[String, String] = Map(
    // NFC replayed via utf8proc nfc_normalize (vs JVM Normalizer on the
    // Spark side); translit replayed as an exact per-codepoint replace
    // chain over the injected alphabet (combining 769/776/768 stripped,
    // é– ß … µ ≥ ° mapped as the kernel's punct table does)
    "x5_x8_unicode" ->
      ("WITH b AS (SELECT p_partkey, " +
       "replace(replace(replace(p_name, 'a', 'a'||chr(769)), 'o', 'o'||chr(776)), 'u', 'u'||chr(768)) " +
       "|| ' ' || chr(233) || chr(8211) || chr(223) || chr(8230) || chr(181) || chr(8805) || chr(176) AS u_text FROM part) " +
       "SELECT p_partkey, nfc_normalize(u_text) AS nfc_text, " +
       "length(nfc_normalize(u_text))::BIGINT AS nfc_len, length(u_text)::BIGINT AS raw_len, " +
       "replace(replace(replace(replace(replace(replace(replace(replace(replace(replace(" +
       "u_text, chr(769),''), chr(776),''), chr(768),''), chr(233),'e'), chr(8211),'-'), " +
       "chr(223),'ss'), chr(8230),'...'), chr(181),'u'), chr(8805),'>='), chr(176),'deg') AS ascii_text " +
       "FROM b"),
    "fuzzy_join_jw" ->
      (s"WITH $fuzzyCandidateCte, " +
       "cand AS (SELECT p_partkey, typo, p_name, " +
       "round(jaro_winkler_similarity(typo, p_name), 6) AS jw FROM cand0) " +
       s"SELECT p_partkey, typo, p_name AS matched, jw FROM (" +
       "SELECT *, row_number() OVER (PARTITION BY p_partkey, typo ORDER BY jw DESC, p_name DESC) AS rn " +
       s"FROM cand WHERE jw >= $JwThreshold) WHERE rn = 1"),
    "fuzzy_join_levenshtein" ->
      (s"WITH $fuzzyCandidateCte, " +
       "cand AS (SELECT p_partkey, typo, p_name, levenshtein(typo, p_name) AS dist " +
       "FROM cand0 WHERE levenshtein(typo, p_name) <= 2) " +
       "SELECT p_partkey, typo, p_name AS matched, dist FROM (" +
       "SELECT *, row_number() OVER (PARTITION BY p_partkey, typo ORDER BY dist, p_name) AS rn " +
       "FROM cand) WHERE rn = 1"),
    "f4_regex_filter" ->
      ("SELECT doc_id, lang FROM documents WHERE regexp_matches(text, '(?i)(join|merge|group)') " +
       "AND (regexp_matches(text, '(?i)spark') OR regexp_matches(text, '(?i)stream'))"),
    "f6_multi_literal_anti" ->
      ("SELECT doc_id, n_chars FROM documents WHERE NOT (contains(lower(text), 'vector') " +
       "OR contains(lower(text), 'dup') OR contains(lower(text), 'window'))"),
    "f6_aho_corasick" ->
      ("SELECT doc_id, n_chars FROM documents WHERE NOT (contains(lower(text), 'vector') " +
       "OR contains(lower(text), 'dup') OR contains(lower(text), 'window'))"),
    "f7_lookahead_filter" ->
      ("SELECT doc_id, source FROM documents WHERE regexp_matches(text, '(?i)\\bspark\\b') " +
       "AND regexp_matches(text, '(?i)\\b(join|merge)\\b') " +
       "AND regexp_matches(text, '(?i)\\b(window|stream)\\b')"),
    "x1_clean_chain" ->
      "SELECT doc_id, trim(regexp_replace(text, '\\s+', ' ', 'g')) AS clean_text FROM documents",
    "x2_sentence_concat" ->
      ("SELECT p_partkey, CASE WHEN regexp_matches(p_name, '\\.$') THEN p_name " +
       "ELSE p_name || '.' END || ' ' || p_type AS sentence FROM part"),
    "x3_year_extract" ->
      ("SELECT CAST(regexp_extract(CAST(o_orderdate AS VARCHAR), '(19|20)[0-9]{2}') AS INT) " +
       "AS order_year, count(*) AS n_orders FROM orders GROUP BY order_year"),
    "x9_compound_norm" ->
      ("SELECT p_partkey, CASE WHEN length(n) > 4 AND n LIKE '%s' AND NOT (n LIKE '%us' " +
       "OR n LIKE '%is' OR n LIKE '%os' OR n LIKE '%gas') THEN substr(n, 1, length(n)-1) " +
       "ELSE n END AS norm_name FROM (SELECT p_partkey, " +
       "regexp_replace(lower(trim(p_name)), '[-\\s]', '', 'g') AS n FROM part)"),
    "x10_paren_trunc" ->
      ("SELECT p_partkey, CASE WHEN contains(s, '(') AND NOT contains(s, ')') " +
       "THEN CASE WHEN strpos(s, '(') = 1 THEN '' ELSE substr(s, 1, strpos(s, '(') - 1) END " +
       "ELSE s END AS fixed_name FROM (SELECT p_partkey, " +
       "CASE WHEN p_partkey % 3 = 0 THEN p_name || ' (frag' ELSE p_name END AS s FROM part)"),
    "x11_typo_chain" ->
      ("SELECT p_partkey, replace(replace(replace(p_name, 'widget', 'gadget'), 'blue ', ''), " +
       "'gadget', 'device') AS fixed_name FROM part"),
    "x12_explode_words" ->
      ("SELECT word, count(*) AS cnt FROM (SELECT unnest(string_split(text, ' ')) AS word " +
       "FROM documents) WHERE length(word) > 0 GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 50"),
    "x13_id_norm" ->
      ("SELECT event_id, CAST(coalesce(nullif(regexp_extract(props, '^\\{\"k\": ([0-9]+)\\}$', 1), ''), " +
       "nullif(regexp_extract(props, '([0-9]+)', 1), '')) AS INT) AS k_norm FROM events"),
    "x18_sha256" ->
      "SELECT doc_id, sha256(text) AS digest FROM documents",
  )
}
