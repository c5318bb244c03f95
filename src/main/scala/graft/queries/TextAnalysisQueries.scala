package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Text-analysis pack over `documents` (SURVEY §7 north-star: lang-ID,
  * quality scoring, token counting, fingerprinting). Every query is a
  * single codegen'd scan→project pipeline — no shuffle, no UDFs — the
  * shape that stays IO-bound at 100 TB.
  */
object TextAnalysisQueries {

  /** BPE-ish tokenizer regex: letter runs, digit runs, single
    * punctuation marks (the usual pre-tokenizer split classes). */
  val TokenRegex = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"

  val Stopwords = Seq("the", "a", "of", "and", "to", "in")
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "a", "to"),
    "es" -> Seq("el", "la", "de", "los", "que"),
    "de" -> Seq("der", "die", "das", "und", "ist"),
  )

  import org.apache.spark.sql.Column

  /** Per-language marker-hit scores over a BOUND token-array attribute
    * (never an inline split — see the HOF re-evaluation trap on
    * [[winnowFingerprints]]). */
  def langScores(toks: Column): Seq[(String, Column)] =
    LangMarkers.map { case (lang, markers) =>
      lang -> size(filter(array(markers.map(lit): _*), m => array_contains(toks, m))).cast("long")
    }

  /** Argmax language with fixed preference order (en > es > de), 'und'
    * when no profile matches — shared by ta_lang_id and the corpus
    * curation funnel. */
  def langPred(toks: Column): Column = {
    val Seq(en, es, de) = langScores(toks).map(_._2)
    when(en >= es && en >= de && en > 0, "en")
      .when(es >= de && es > 0, "es")
      .when(de > 0, "de")
      .otherwise("und")
  }

  /** Stopword ratio over a bound token-array attribute. */
  def stopwordRatio(toks: Column): Column = {
    val stopArr = array(Stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(stopArr, t))).cast("double") / size(toks).cast("double")
  }

  /** Token counting: whitespace tokens + regex (BPE-ish) tokens. */
  def taTokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("ws_tokens"),
      size(regexp_extract_all(col("text"), lit(TokenRegex), lit(0))).cast("long").as("re_tokens"))

  /** Quality scoring: stopword ratio, punctuation ratio, mean token
    * length → ordinal band. All-rational arithmetic → oracle-exact.
    * Tokens are materialized once per row (see Dedup.wordShingles on
    * why lambdas must reference attributes, not inline expressions). */
  def taQualityScore(spark: SparkSession, dir: String): DataFrame = {
    val toks = col("toks")
    val nTok = size(toks).cast("double")
    val nPunct = (length(col("text")) -
      length(regexp_replace(col("text"), "[\\.,;:!\\?]", ""))).cast("double")
    val stopRatio = stopwordRatio(toks)
    val punctRatio = nPunct / length(col("text")).cast("double")
    val avgTokLen = (length(col("text")) - nTok + 1.0) / nTok
    val band = when(stopRatio >= 0.10, "high")
      .when(stopRatio >= 0.05, "medium").otherwise("low")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("text"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), round(stopRatio, 6).as("stopword_ratio"),
        round(punctRatio, 6).as("punct_ratio"),
        round(avgTokLen, 6).as("avg_token_len"), band.as("quality_band"))
  }

  /** Language-ID: distinct marker-word hits per language profile,
    * argmax with fixed preference order (en > es > de), 'und' when no
    * profile matches. N-gram-profile LID reduced to its word-marker
    * core — deterministic and oracle-expressible. */
  def taLangId(spark: SparkSession, dir: String): DataFrame = {
    // tokens materialized once per row; the marker-filter lambdas then
    // probe a bound attribute instead of re-splitting text per marker
    val toks = col("toks")
    val Seq(en, es, de) = langScores(toks).map(_._2)
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      .select(col("doc_id"), en.as("score_en"), es.as("score_es"), de.as("score_de"),
        langPred(toks).as("pred_lang"))
  }

  val ChunkWidth = 20
  val ChunkStride = 10

  /** Document chunking (net-new): overlapping token windows — the
    * standard LLM-data prep step between curation and embedding (each
    * chunk becomes one embedding/training row). 20-token windows at
    * 10-token stride, UDTF-shaped 1→N fan-out via explode of the
    * start-index sequence; the slice itself is aliased in its own
    * projection so the window text and its length evaluate the slice
    * once (see [[winnowFingerprints]] on lambda/alias re-evaluation).
    * Pure scan→project→generate — no shuffle at any scale; downstream
    * embedding pipelines consume the chunks partition-parallel. */
  def taChunkWindows(spark: SparkSession, dir: String): DataFrame = {
    val starts = sequence(lit(0L), floor((size(col("ws")) - 1) / ChunkStride).cast("long"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), col("ws"), explode(starts).as("chunk_idx"))
      .select(col("doc_id"), col("chunk_idx"),
        slice(col("ws"), (col("chunk_idx") * ChunkStride + 1).cast("int"),
          lit(ChunkWidth)).as("chunk"))
      .select(col("doc_id"), col("chunk_idx"),
        size(col("chunk")).cast("long").as("chunk_len"),
        array_join(col("chunk"), " ").as("chunk_text"))
  }

  /** Winnowing fingerprint (Schleimer et al. 2003): 4-gram shingle
    * hashes → min per 5-window → distinct sorted signature. Gram hashes
    * are the oracle-expressible poly61, so the driver checks the full
    * fingerprint pipeline against a DuckDB replay (it was rows-only
    * under xxhash64); the pair-overlap contract stays in
    * [[taWinnowOverlap]] and the spec.
    *
    * Each intermediate array is materialized as its OWN projection so
    * the lambdas below reference a bound attribute, not an inlined
    * expression: a single fused projection would re-evaluate the whole
    * hash array once per sliding window (O(n²·hash) per document —
    * measured 300+ s at sf0.1 vs ~1 s for this form). CollapseProject
    * keeps the steps separate because each alias is non-cheap and
    * referenced more than once. Still a pure scan→project pipeline —
    * no shuffle, no UDFs. */
  def winnowFingerprints(spark: SparkSession, dir: String): DataFrame = {
    val ws = col("ws")
    val h = col("hashes")
    val mins = transform(sequence(lit(1), size(h) - 4),
      w => array_min(slice(h, w, lit(5))))
    val fp = array_sort(array_distinct(col("mins")))
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(ws) >= 8)
      // gram building + hashing fused into one codegen'd pass (see
      // TextHash.wordGramPoly61) — no gram strings, no lambda
      .select(col("doc_id"), graft.expr.hashfunctions.word_gram_poly61(ws, 4).as("hashes"))
      .select(col("doc_id"), mins.as("mins"))
      .select(col("doc_id"), fp.as("fingerprint"))
  }

  def taFingerprintWinnow(spark: SparkSession, dir: String): DataFrame =
    winnowFingerprints(spark, dir)
      // scalar signature at the sink (array result columns are not
      // hashable by the driver's row-compare harness): the joined
      // fingerprint string is order-sensitive, lossless, and — unlike
      // the former xxhash64 digest — byte-replicable by the oracle
      .select(col("doc_id"),
        concat_ws(",", transform(col("fingerprint"), _.cast("string"))).as("fp_sig"),
        size(col("fingerprint")).cast("long").as("n_fp"))

  /** Winnowing quality as oracle-checked data: for every exact
    * near-dup pair (3-gram Jaccard ≥ 0.7), the two documents'
    * fingerprint sets must overlap ≥ 50% of the smaller set (the
    * spec's mean-overlap assertion, tightened to per-pair-mean). The
    * fingerprints themselves are hash-seeded → rows-only; this overlap
    * contract is what the oracle enforces. */
  def taWinnowOverlap(spark: SparkSession, dir: String): DataFrame = {
    // consume the session-memoized exact-pair ARTIFACT (r15) — the same
    // sharing discipline as every other pair consumer (k-core, canonical,
    // recall contracts): this contract needs the pair SET, not a second
    // full run of the PPJoin pipeline (which dedup_ngram_jaccard, the
    // registered live measurement, already is). Plan: the 24-exchange
    // pair-generation subtree leaves this query entirely.
    val pairs = graft.queries.DedupQueries.exactPairs(spark, dir)
      .select(col("id_a"), col("id_b"))
    val fp = winnowFingerprints(spark, dir)
    val joined = pairs
      .join(fp.select(col("doc_id").as("id_a"), col("fingerprint").as("fp_a")), "id_a")
      .join(fp.select(col("doc_id").as("id_b"), col("fingerprint").as("fp_b")), "id_b")
      .select(size(array_intersect(col("fp_a"), col("fp_b"))).cast("double").as("inter"),
        least(size(col("fp_a")), size(col("fp_b"))).cast("double").as("minsz"))
    // the inner join restricts to pairs where BOTH docs carry a
    // fingerprint (winnowing needs >= 8 words) — the oracle applies the
    // same restriction; coalesce makes the empty-corpus row (0, TRUE)
    // instead of NULLs
    joined.agg(count(lit(1)).as("n_pairs"),
        avg(col("inter") / col("minsz")).as("mean_overlap"))
      .select(col("n_pairs").cast("long").as("n_pairs"),
        coalesce(col("mean_overlap") >= 0.5, lit(true)).as("overlap_ok"))
  }

  /** TF-IDF top terms per document (net-new): the standard
    * term-weighting pass of a text corpus pipeline — token explode →
    * per-(doc,term) TF → per-term DF → score → top-3 terms per doc.
    * Two shuffles (doc,term / term), both on uniform keys; the DF side
    * is tiny (vocabulary) and broadcasts back onto TF. The score uses
    * LINEAR idf (tf·N/df): a single correctly-rounded IEEE division of
    * exact integers, bit-identical across engines, where log-idf's
    * libm `ln` could diverge in the last ulp and flip a rank tiebreak.
    * Ordering ties break on term asc, so ranking is fully
    * deterministic. */
  def taTfidfTopTerms(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
    val nDocs = docs.count() // one scalar; the scoring stays distributed
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(length(col("term")) > 0)
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val scored = tf.join(broadcast(dfreq), "term")
      .withColumn("score", (col("tf") * lit(nDocs)) / col("df"))
    // per-doc top-3 through the bounded-heap whole-row operator (term is
    // a string, so the paired topk_pairs aggregate doesn't apply); the
    // rank window then runs over ≤3 rows per doc — the heap replaces the
    // full per-doc sort of every scored term
    val capped = graft.plans.TopKPerKeyOp(scored,
      keys = Seq(col("doc_id")),
      order = Seq(col("score").desc, col("term").asc),
      k = 3)
    capped.withColumn("rank", row_number().over(
        Window.partitionBy(col("doc_id")).orderBy(col("score").desc, col("term").asc)))
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("rank").cast("long").as("rank"))
  }

  /** Train/eval CONTAMINATION check (net-new): the decontamination pass
    * every LLM training pipeline runs before a corpus ships — which
    * held-out documents leak into the training set, measured as 8-gram
    * overlap (the n-gram size used by the GPT-3/PaLM decontamination
    * procedures). Here the held-out set is the doc_id % 97 slice.
    *
    * Scale shape (the part that matters at 100 TB): the CORPUS — the
    * big side — is scanned ONCE and never shuffled: its grams stream
    * through a broadcast-hash join against the (small) eval gram set;
    * only the matched grams (≤ |eval grams|) reach a shuffle. The eval
    * side is per-doc scored with one tiny aggregation. */
  def taContamination(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.hashfunctions.word_gram_poly61
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 8)
      .select(col("doc_id"), array_distinct(word_gram_poly61(col("ws"), 8)).as("gs"))
    val evalGrams = docs.filter(col("doc_id") % 97 === 0)
      .select(col("doc_id"), explode(col("gs")).as("g"))
    val corpusGrams = docs.filter(col("doc_id") % 97 =!= 0)
      .select(explode(col("gs")).as("g"))
    // grams of the eval set that occur ANYWHERE in the corpus
    val hits = corpusGrams
      .join(broadcast(evalGrams.select(col("g")).distinct()), "g")
      .select(col("g")).distinct()
    evalGrams.join(broadcast(hits.withColumn("hit", lit(1))), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("hit")), lit(0)).cast("long").as("n_contaminated"))
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        round(col("n_contaminated").cast("double") / col("n_grams"), 6).as("contamination"),
        // >= 20% 8-gram overlap flags the doc; integer form avoids any
        // floating-point threshold comparison
        (col("n_contaminated") * 5 >= col("n_grams")).as("is_contaminated"))
  }

  /** Sequence PACKING (net-new): assign documents, in stable doc_id
    * order, to fixed-token-budget training sequences — the step between
    * curation and batching. Each doc gets its running-stream offset and
    * the sequence (bin) its first token lands in.
    *
    * The global running sum is computed in TWO PHASES, never a global
    * single-partition window sort: (1) per-bucket token totals → the
    * tiny bucket-offset table (|docs|/bucket rows — driver-small at any
    * corpus size) gets the only ordered window; (2) the full table
    * cumsums WITHIN its bucket (parallel windows) and adds the
    * broadcast bucket offset. This is the standard distributed
    * prefix-sum shape — the naive `Window.orderBy(doc_id)` over
    * everything funnels 100 TB through one task. */
  def taPackSequences(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), size(split(col("text"), " ")).cast("long").as("n_tokens"),
        expr("doc_id div 100").as("bkt"))
    val offsets = toks.groupBy(col("bkt")).agg(sum(col("n_tokens")).as("bkt_tokens"))
      .withColumn("bkt_offset",
        coalesce(sum(col("bkt_tokens")).over(
          Window.orderBy(col("bkt")).rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("bkt"), col("bkt_offset"))
    val intra = Window.partitionBy(col("bkt")).orderBy(col("doc_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    toks.join(broadcast(offsets), "bkt")
      .withColumn("stream_offset",
        col("bkt_offset") + coalesce(sum(col("n_tokens")).over(intra), lit(0L)))
      .select(col("doc_id"), col("n_tokens"), col("stream_offset"),
        expr("stream_offset div 256").as("seq_id"))
  }

  /** REPETITION quality signals (net-new): the Gopher/FineWeb-style
    * boilerplate rules a curation pipeline applies after language and
    * length filters — fraction of 2-grams taken by the single most
    * frequent 2-gram, and fraction of duplicated 3-grams. Flags use
    * integer comparisons (×10, ×2) so no floating-point threshold can
    * drift between engines. Per-doc cost is quadratic in DOCUMENT
    * length (mode count over distinct grams), not corpus size — a
    * bounded per-row cost inside one codegen'd scan, embarrassingly
    * parallel at 100 TB. */
  def taRepetitionQuality(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.hashfunctions.word_gram_poly61
    Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= 3)
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_tokens"),
        word_gram_poly61(col("ws"), 2).as("g2"),
        word_gram_poly61(col("ws"), 3).as("g3"))
      .select(col("doc_id"), col("n_tokens"),
        array_max(transform(array_distinct(col("g2")),
          d => size(filter(col("g2"), x => x === d)))).cast("long").as("top_bigram_n"),
        size(col("g2")).cast("long").as("n_bigrams"),
        (size(col("g3")) - size(array_distinct(col("g3")))).cast("long").as("dup_trigrams"),
        size(col("g3")).cast("long").as("n_trigrams"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("top_bigram_n").cast("double") / col("n_bigrams"), 6).as("top_bigram_frac"),
        round(col("dup_trigrams").cast("double") / col("n_trigrams"), 6).as("dup_trigram_frac"),
        (col("top_bigram_n") * 10 >= col("n_bigrams") ||
          col("dup_trigrams") * 2 >= col("n_trigrams")).as("is_repetitive"))
  }

  val Bm25K1 = 1.2
  val Bm25B = 0.75
  val Bm25Terms: Seq[String] = Seq("table", "scan", "merge")
  val Bm25TopK = 20

  /** BM25 top-k retrieval (Robertson–Spärck Jones; the Lucene
    * `(k1=1.2, b=0.75)` parameterization with the +1 idf floor) for a
    * pinned query-term set — the "pull the most relevant corpus slice
    * for a topic" operator of targeted curation. The 100 TB shape:
    * the corpus is scanned ONCE and the query-term `IN` filter prunes
    * the exploded token stream IN the scan stage, so only
    * matching-term rows (≪ corpus) ever shuffle; df and corpus stats
    * are term-count-sized broadcasts; the final top-k is a
    * TakeOrderedAndProject, never a global sort. Scores are rounded to
    * 6 dp BEFORE ranking on both engines, so rank order (with the
    * doc_id tiebreak) is comparison-exact. Arithmetic shapes (operator
    * associativity, int→double promotion points) are mirrored
    * verbatim in the oracle so both engines run the identical IEEE
    * expression tree. */
  def taBm25TopK(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val stats = docs.agg(count(lit(1)).as("n_docs"),
      avg(size(split(col("text"), " "))).as("avgdl"))
    val tf = docs
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("double").as("dl"),
        explode(col("ws")).as("tok"))
      .filter(col("tok").isin(Bm25Terms: _*))
      .groupBy(col("doc_id"), col("tok"))
      .agg(count(lit(1)).as("tf"), max(col("dl")).as("dl"))
    val dfreq = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val s = idf * col("tf") * (lit(Bm25K1) + 1.0) /
      (col("tf") + lit(Bm25K1) * (lit(1.0) - Bm25B + lit(Bm25B) * col("dl") / col("avgdl")))
    tf.join(broadcast(dfreq), "tok").crossJoin(broadcast(stats))
      .groupBy(col("doc_id"))
      // ordered fold, not sum(): the 6-dp-rounded score is a SORT key,
      // so a partial-merge-order FP drift landing on a rounding
      // boundary could flip the top-k cut — same pin as hybrid RRF
      .agg(round(aggregate(array_sort(collect_list(s)), lit(0.0), _ + _), 6).as("bm25"),
        count(lit(1)).as("n_terms"))
      .orderBy(col("bm25").desc, col("doc_id").asc)
      .limit(Bm25TopK)
  }

  val PostingK = 5

  /** Inverted-index build with CAPPED posting lists — the batch index
    * artifact behind BM25-style retrieval. Per term: document
    * frequency, total term frequency, and the top-[[PostingK]] posting
    * list ranked by (tf desc, doc_id asc). The cap is the 100 TB
    * design point: full posting lists are unbounded per term
    * (stopwords ≈ corpus size), so the ranked head rides through a
    * bounded collect while df/tf stay exact aggregates; the (term,
    * doc) partials combine map-side, and all three aggregates — df,
    * total_tf, and the `topk_pairs` bounded heap that ranks the head
    * by (tf desc, doc_id asc) — share ONE shuffle of the (term,
    * doc_id, tf) frame. The heap replaces the per-term rank window
    * the query used to plan, which had to SORT every posting list in
    * full (stopword partitions ≈ corpus-sized). The ranked ids ship
    * comma-joined (scalar result schemas only — the repo-wide sink
    * convention). */
  def taInvertedIndex(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.topkpairs.topk_pairs
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term"), col("doc_id")).agg(count(lit(1)).as("tf"))
    tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"), sum(col("tf")).as("total_tf"),
        topk_pairs(col("tf").cast("double"), col("doc_id"), PostingK).as("top"))
      .select(col("term"), col("df"), col("total_tf"),
        array_join(transform(col("top").getField("id"), d => d.cast("string")), ",")
          .as("posting"))
  }

  val BpeTopWords = 200
  val BpeMerges = 6

  /** Distributed BPE vocabulary learning (Sennrich et al. 2016,
    * arXiv:1508.07909 — the tokenizer-training step of an LLM data
    * pipeline), [[BpeMerges]] pinned merge rounds over the
    * [[BpeTopWords]] most frequent all-lowercase words. Each round is
    * the textbook scalable form: one distributed pair-count aggregate
    * over the (word-repr, freq) table, ONE collected row (the argmax
    * pair, deterministic (freq desc, pair asc) tiebreak — the same
    * ≤k-row driver scalar discipline as the k-means centroids), then the
    * merge applied as a left fold over each word's symbol sequence; the
    * ≤[[BpeTopWords]]-row table is a [[graft.LocalFrame]] between
    * rounds. The fold keeps whole-symbol boundaries (space-joined
    * repr, matched symbol-exactly), so it is greedy-left-to-right
    * non-overlapping — exactly BPE's merge rule — and the DuckDB twin
    * replays every round verbatim with `list_reduce` (identical fold
    * order, pure string/int ops, no FP anywhere).
    *
    * Scale shape: the vocab table is corpus-vocabulary-bounded (not
    * corpus-bounded) and map-side combines; each round shuffles only
    * (pair → partial count). Result: the learned merge table. */
  /** One BPE merge (a,b)→ab applied to a space-joined symbol repr as a
    * left fold — greedy left-to-right non-overlapping, whole-symbol
    * boundaries. Shared by [[bpeLearn]] (per round, on the training
    * vocab) and [[bpeApply]] (in rank order, on the corpus vocab); the
    * DuckDB twins replay it verbatim with `list_reduce`. */
  private def bpeMergeFold(sy: Column, a: String, b: String): Column =
    aggregate(
      slice(sy, lit(2), greatest(size(sy) - 1, lit(0))),
      element_at(sy, 1),
      (acc, s) => when(s === lit(b) &&
          (acc === lit(a) || acc.endsWith(" " + a)),
        concat(acc.substr(lit(1), length(acc) - a.length), lit(a + b)))
        .otherwise(concat(acc, lit(" "), s)))

  def bpeLearn(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    learnedMerges(spark, dir).toDF("step", "pair_a", "pair_b", "merged", "pair_freq")
  }

  /** The learned merge table, session-memoized per (corpus, JVM) via
    * [[graft.SessionMemo.value]] — same discipline as the simhash bit
    * layout (r12): the table is a pure function of the corpus, bounded
    * ([[BpeMerges]] rows), and the common input of BOTH registered bpe
    * queries, so the [[BpeMerges]]-round learn loop (each round one
    * distributed pair-count + a 1-row collect) runs once per session
    * instead of once per consumer. A production pipeline materializes
    * the tokenizer artifact exactly once the same way. */
  private def learnedMerges(spark: SparkSession, dir: String)
      : Seq[(Long, String, String, String, Long)] =
    graft.SessionMemo.value("bpe_merges", dir) {
    val words0 = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("w")).agg(count(lit(1)).as("freq"))
      .orderBy(col("freq").desc, col("w").asc).limit(BpeTopWords)
      .select(trim(regexp_replace(col("w"), "(.)", "$1 ")).as("repr"), col("freq"))
    var words = graft.LocalFrame.of(words0, BpeTopWords, "BpeTopWords")
    val merges = scala.collection.mutable.ArrayBuffer[(Long, String, String, String, Long)]()
    for (step <- 1 to BpeMerges) {
      val sy = split(col("repr"), " ")
      val top = words
        .select(col("freq"),
          explode(zip_with(
            slice(sy, lit(1), greatest(size(sy) - 1, lit(0))),
            slice(sy, lit(2), greatest(size(sy) - 1, lit(0))),
            (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
        .groupBy(col("p.a").as("a"), col("p.b").as("b"))
        .agg(sum(col("freq")).as("pf"))
        .orderBy(col("pf").desc, col("a").asc, col("b").asc)
        .limit(1).collect()
      val (a, b, pf) = (top(0).getString(0), top(0).getString(1), top(0).getLong(2))
      merges += ((step.toLong, a, b, a + b, pf))
      words = graft.LocalFrame.of(words.select(bpeMergeFold(sy, a, b).as("repr"), col("freq")),
        BpeTopWords, "BpeTopWords")
    }
    merges.toSeq
  }

  /** BPE tokenization (the APPLY side of [[bpeLearn]] — together they
    * are the full tokenizer-train/tokenize pair of an LLM data
    * pipeline): the learned merges, replayed in rank order over every
    * all-lowercase corpus word, yield per-language token statistics
    * (words, tokens, tokens-per-char — the fertility numbers a corpus
    * report quotes).
    *
    * Scale shape: BPE is context-free per word, so tokenization runs on
    * the DISTINCT-word table (corpus-vocabulary-bounded, not
    * corpus-bounded) with corpus frequencies aggregated first —
    * at 100 TB the vocab table is millions of rows where the corpus is
    * trillions of words, and the per-word fold cost is paid once per
    * distinct word, then weighted back by frequency in the same
    * aggregate. The merge table itself is driver-bounded ([[BpeMerges]]
    * rows) and enters the plan as ONE reference object inside a single
    * codegen'd [[graft.expr.BpeApplyMerges]] kernel (VERDICT r12 #3:
    * the pre-r13 |merges| chained `withColumn` folds made plan depth —
    * and analysis/codegen cost — linear in vocabulary size; a 30k-merge
    * production vocab would not even plan). No join, no shuffle beyond
    * the two vocab aggregates, plan depth constant in |merges|. */
  def bpeApply(spark: SparkSession, dir: String): DataFrame = {
    val merges = learnedMerges(spark, dir).sortBy(_._1).map(t => (t._2, t._3))
    val words = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("freq"))
    val tok = words.withColumn("repr",
      graft.expr.BpeExprs.bpe_apply_merges(col("w"), merges))
    tok.groupBy(col("lang"))
      .agg(sum(col("freq")).as("n_words"),
        sum(col("freq") * size(split(col("repr"), " "))).as("n_tokens"),
        sum(col("freq") * length(col("w"))).as("n_chars"))
      .select(col("lang"), col("n_words"), col("n_tokens"),
        round(col("n_tokens").cast("double") / col("n_chars"), 6)
          .as("tokens_per_char"))
  }

  val SubdupW = 8

  /** Span-level EXACT-substring dedup (the ExactSubstr idea of Lee et
    * al. 2022, "Deduplicating Training Data Makes Language Models
    * Better", arXiv:2107.06499 — re-shaped from their suffix-array
    * single-node form to a distributed gram pipeline): any word
    * [[SubdupW]]-gram occurring ≥2 times anywhere in the corpus marks
    * its span duplicated; per doc, overlapping/contiguous marked spans
    * merge into maximal islands (the classic gaps-and-islands window),
    * yielding the mask a curation pipeline would cut before training.
    * Output per affected doc: span count, masked word count, masked
    * fraction, and a lossless poly61 signature of the exact span list
    * (scalar sink convention).
    *
    * Scale shape: gram hashing is the fused scan-side kernel (no gram
    * strings materialize); the hot-gram set comes from one map-side-
    * combined count over gram hashes; only DUPLICATED occurrences —
    * a tiny fraction of corpus grams — reach the doc-keyed window
    * shuffle. No stage carries unbounded per-key state. */
  def taSubstringDedup(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.hashfunctions.{poly61, word_gram_poly61}
    val g = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"), size(col("ws")).cast("long").as("n_words"),
        posexplode(word_gram_poly61(col("ws"), SubdupW)).as(Seq("pos", "h")))
    val hot = g.groupBy(col("h")).agg(count(lit(1)).as("occ")).filter(col("occ") >= 2)
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id").orderBy("pos")
    val pe = max(col("pos") + (SubdupW - 1)).over(
      w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1))
    val spans = g.join(hot, "h")
      .select(col("doc_id"), col("n_words"), col("pos"))
      .withColumn("pe", pe)
      .withColumn("island", sum(when(col("pe").isNull || col("pos") > col("pe") + 1, 1)
        .otherwise(0)).over(w))
      .groupBy(col("doc_id"), col("n_words"), col("island"))
      .agg(min(col("pos")).cast("long").as("s"),
        (max(col("pos")) + (SubdupW - 1)).cast("long").as("e"))
    spans.groupBy(col("doc_id"), col("n_words"))
      .agg(count(lit(1)).as("n_dup_spans"),
        sum(col("e") - col("s") + 1).as("dup_words"),
        round(sum(col("e") - col("s") + 1).cast("double") / col("n_words"), 6).as("dup_frac"),
        poly61(array_join(transform(array_sort(collect_list(struct(col("s"), col("e")))),
          x => concat_ws("-", x.getField("s"), x.getField("e"))), ",")).as("spans_sig"))
  }

  /** Content-defined chunking over the corpus (kernel rationale in
    * [[graft.expr.Cdc]]): per doc, the boundary count and a poly61
    * fingerprint of the exact cut-position list — the storage-dedup
    * primitive where chunk boundaries follow content, so shared
    * passages chunk identically across documents. Pure scan-stage
    * projection (one rolling O(n) codegen'd pass per doc, no shuffle
    * at all); the oracle recomputes every window hash positionally in
    * SQL and must match the rolling kernel bit-for-bit. */
  def taCdcChunks(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.stringfunctions.cdc_boundaries
    import graft.expr.hashfunctions.poly61
    Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("text_len"),
        cdc_boundaries(col("text")).as("b"))
      .select(col("doc_id"), col("text_len"),
        (size(col("b")) + 1).cast("long").as("n_chunks"),
        poly61(array_join(transform(col("b"), x => x.cast("string")), ",")).as("bnd_hash"))
  }

  /** Zipf-law fit of the corpus vocabulary: regress ln(frequency) on
    * ln(rank) over the term-frequency table — the exponent (slope ≈ −1
    * for natural text) and R² are the "does this corpus look like
    * language" sanity gauge curation dashboards track. Rank ties pin
    * on (count desc, term asc); the regression runs on Spark/DuckDB's
    * shared `regr_slope`/`regr_r2` co-moment aggregates, rounded after
    * aggregation. Vocabulary-sized data — the token explode is the
    * only corpus-scale stage and it partial-combines map-side. The
    * global rank is an unpartitioned window (one task over the vocab
    * table) — acceptable while the vocabulary fits a task; at
    * billion-term vocabularies the rank becomes a two-pass
    * bucket-offset prefix sum (the [[taPackSequences]] shape) or the
    * fit restricts to the top-N head, where Zipf structure lives. */
  def taZipfFit(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "")
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("cnt").desc, col("term").asc)
    tf.select(col("cnt"), row_number().over(w).cast("long").as("r"))
      .agg(count(lit(1)).as("n_terms"),
        round(expr("regr_slope(ln(cnt), ln(r))"), 6).as("zipf_slope"),
        round(expr("regr_r2(ln(cnt), ln(r))"), 6).as("r2"))
  }

  /** ~p5 of the corpus unigram-entropy distribution (measured
    * 2.4-4.8 bits across SFs) — flags the repetitive tail. */
  val EntropyFloor = 3.5

  /** Unigram-entropy quality gauge (net-new): per-doc token Shannon
    * entropy H = log2(n) − Σ c·log2(c)/n over the doc's token counts —
    * the low-entropy tail is boilerplate/repetitive text that
    * length/stopword heuristics ([[taQualityScore]]) and the Gopher
    * repetition rules ([[taRepetitionQuality]]) catch only partially.
    * The Σ c·log2(c) reduction is an ORDERED fold over the doc's
    * (bounded, doc-sized) contribution list — the same determinism
    * pin as pagerank's reduction, so both engines produce the
    * identical double and the flag compares the identical value.
    * Scale shape: one (doc, token) count shuffle, then a doc-keyed
    * aggregate; per-doc state is its distinct-token list, which the
    * engine already holds for every per-doc text op. */
  def taEntropyQuality(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy(col("doc_id"), col("w")).agg(count(lit(1)).as("c"))
    val ent = log2(col("n_tokens")) - col("s") / col("n_tokens")
    c.groupBy(col("doc_id"))
      .agg(sum(col("c")).as("n_tokens"), count(lit(1)).as("n_distinct"),
        aggregate(array_sort(collect_list(col("c").cast("double") * log2(col("c")))),
          lit(0.0), (a, x) => a + x).as("s"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(ent, 6).as("entropy"),
        (ent < EntropyFloor).as("low_entropy"))
  }

  /** Segment size (words) for [[taParagraphDedup]] — the corpus is a
    * flat word stream (no newline structure), so "paragraphs" are
    * fixed word windows; a real corpus splits on blank lines with the
    * identical downstream shape. */
  val ParaSegWords = 20

  /** Segmentation expression shared by [[taParagraphDedup]]'s keying
    * and reconstruction sides: the doc's word array `ws` → its array
    * of [[ParaSegWords]]-word segment strings, in position order. */
  private val paraSegExpr =
    s"transform(sequence(0, greatest(cast(ceil(size(ws) / $ParaSegWords.0) as int), 1) - 1), " +
    s"i -> array_join(slice(ws, i * $ParaSegWords + 1, $ParaSegWords), ' '))"

  /** Paragraph-level exact dedup with DOCUMENT RECONSTRUCTION
    * (net-new): the CCNet shape — dedup the corpus at sub-document
    * granularity (each document's segments hashed against the WHOLE
    * corpus, keep only each segment's globally-first occurrence), then
    * reassemble what remains of every document in original order.
    *
    * DIGEST-KEYED for scale: every dedup-decision exchange carries the
    * segment's 8-byte xxhash64, never the segment text (CCNet itself
    * dedups paragraphs on truncated 64-bit SHA-1 keys — same trade).
    * The per-doc segment array is hashed in the scan stage; the
    * first-occurrence aggregate, the keep-join, and the per-doc
    * kept-index aggregate all shuffle (key, doc_id, seg_idx) tuples
    * only. Corpus text crosses exactly ONE exchange — the final doc_id
    * equi-join back to the one-row-per-doc segment arrays, where the
    * kept indices select and reassemble the surviving text. At 100 TB
    * that turns two corpus-text-wide shuffles into 8-byte-key ones
    * (vs a ~120-byte 20-word segment carried twice); a spec pins the
    * exchanged-byte win against the string-keyed shape. The oracle
    * needs no hash at all — DuckDB groups by the raw segment, which is
    * identical output absent a 64-bit collision (expected n²/2⁶⁵;
    * widen the key to unhex(md5) when a release needs tighter odds).
    * The first-occurrence rule
    * (lowest doc_id, then lowest position) makes the output
    * deterministic; the reconstruction is pinned by md5 of the
    * reassembled text, so the oracle checks the rebuilt BYTES, not
    * just survivor counts. */
  def taParagraphDedup(spark: SparkSession, dir: String): DataFrame =
    paragraphDedupKeyed(spark, dir, "xxhash64(s)")

  /** 128-BIT variant of [[taParagraphDedup]] — the scaladoc'd widening
    * path made a registered query: the identical plan shape keyed on
    * `unhex(md5(s))` (16-byte binary) instead of the 8-byte xxhash64,
    * removing the n²/2⁶⁵ collision caveat for release-grade runs
    * (expected collisions drop to n²/2¹²⁹ — zero for any physical
    * corpus). Costs 2× the key bytes on the three dedup-decision
    * exchanges, still far under carrying segment text. Same oracle:
    * DuckDB groups by the raw segment either way, and a spec pins the
    * two variants to identical output. */
  def taParagraphDedup128(spark: SparkSession, dir: String): DataFrame =
    paragraphDedupKeyed(spark, dir, "unhex(md5(s))")

  private def paragraphDedupKeyed(spark: SparkSession, dir: String, keySql: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("filter(split(text, ' '), w -> length(w) > 0)").as("ws"))
      .select(col("doc_id"), expr(paraSegExpr).as("segs"))
    val keyed = docs.select(col("doc_id"),
      posexplode(expr(s"transform(segs, s -> $keySql)")).as(Seq("seg_idx", "seg_key")))
    // min_tuple ≡ min(struct(doc_id, seg_idx)) but hash-aggregable — the
    // first-occurrence pick is one group per distinct segment over every
    // segment occurrence in the corpus, and the struct-buffered Min
    // planned it as a SortAggregate sorting each task by seg_key (r15)
    val first = keyed.groupBy(col("seg_key"))
      .agg(graft.expr.tupleagg.min_tuple(col("doc_id"), col("seg_idx")).as("f"))
    val kept = keyed.join(first, "seg_key")
      .withColumn("keep",
        col("doc_id") === col("f.doc_id") && col("seg_idx") === col("f.seg_idx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_segs"),
        sum(col("keep").cast("long")).as("n_kept"),
        sort_array(collect_list(when(col("keep"), col("seg_idx")))).as("kept_idx"))
    docs.join(kept, "doc_id")
      .select(col("doc_id"), col("n_segs"), col("n_kept"),
        md5(array_join(expr(
          "filter(transform(segs, (s, i) -> if(array_contains(kept_idx, i), s, null)), s -> s is not null)"),
          " ")).as("retained_md5"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ta_paragraph_dedup"    -> (taParagraphDedup _),
    "ta_paragraph_dedup_128" -> (taParagraphDedup128 _),
    "ta_entropy_quality"    -> (taEntropyQuality _),
    "ta_zipf_fit"           -> (taZipfFit _),
    "ta_cdc_chunks"         -> (taCdcChunks _),
    "ta_substring_dedup"    -> (taSubstringDedup _),
    "bpe_learn"             -> (bpeLearn _),
    "bpe_apply"             -> (bpeApply _),
    "ta_inverted_index"     -> (taInvertedIndex _),
    "ta_bm25_topk"          -> (taBm25TopK _),
    "ta_repetition_quality" -> (taRepetitionQuality _),
    "ta_contamination"      -> (taContamination _),
    "ta_pack_sequences"     -> (taPackSequences _),
    "ta_tfidf_top_terms"    -> (taTfidfTopTerms _),
    "ta_chunk_windows"      -> (taChunkWindows _),
    "ta_token_count"        -> (taTokenCount _),
    "ta_quality_score"      -> (taQualityScore _),
    "ta_lang_id"            -> (taLangId _),
    "ta_fingerprint_winnow" -> (taFingerprintWinnow _),
    "ta_winnow_overlap"     -> (taWinnowOverlap _),
  )

  private val duckBm25 = {
    val terms = Bm25Terms.map(t => s"'$t'").mkString(", ")
    ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
     "st AS (SELECT count(*) AS n_docs, avg(len(ws)) AS avgdl FROM w), " +
     "t AS (SELECT doc_id, len(ws)::DOUBLE AS dl, unnest(ws) AS tok FROM w), " +
     s"f AS (SELECT doc_id, tok, count(*) AS tf, max(dl) AS dl FROM t WHERE tok IN ($terms) GROUP BY doc_id, tok), " +
     "d AS (SELECT tok, count(*) AS df FROM f GROUP BY tok) " +
     "SELECT doc_id, round(list_reduce(list_sort(list(" +
     "ln((st.n_docs - d.df + 0.5) / (d.df + 0.5) + 1.0) * f.tf * " +
     s"($Bm25K1 + 1.0) / (f.tf + $Bm25K1 * (1.0 - $Bm25B + $Bm25B * f.dl / st.avgdl))" +
     ")), (a, b) -> a + b), 6) AS bm25, count(*) AS n_terms " +
     "FROM f JOIN d USING (tok), st GROUP BY doc_id " +
     s"ORDER BY bm25 DESC, doc_id ASC LIMIT $Bm25TopK")
  }

  private val duckInvertedIndex =
    ("WITH u AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
     "tf AS (SELECT term, doc_id, count(*) AS tf FROM u WHERE term <> '' GROUP BY term, doc_id), " +
     "r AS (SELECT *, row_number() OVER (PARTITION BY term ORDER BY tf DESC, doc_id ASC) AS rn FROM tf) " +
     "SELECT term, count(*) AS df, sum(tf)::BIGINT AS total_tf, " +
     "array_to_string(list(doc_id ORDER BY tf DESC, doc_id ASC) " +
     s"FILTER (WHERE rn <= $PostingK), ',') AS posting " +
     "FROM r GROUP BY term")

  /** Chained-CTE replay of [[bpeLearn]]: w0 (vocab) → per round i:
    * p_i (pair counts) → m_i (argmax, LIMIT 1) → w_i (merge fold via
    * list_reduce, identical fold order) — same unrolling discipline as
    * the pagerank oracle. */
  /** The one-merge `list_reduce` fold, the SQL twin of [[bpeMergeFold]]
    * (`$in`: source CTE exposing `repr`; `$m`: the merge CTE exposing
    * a/b). */
  private def duckMergeFold(in: String, m: String): String =
    (s"list_reduce(string_split($in.repr, ' '), (acc, s) -> " +
     s"CASE WHEN s = $m.b AND (acc = $m.a OR right(acc, length($m.a) + 1) = ' ' || $m.a) " +
     s"THEN left(acc, length(acc) - length($m.a)) || $m.a || $m.b " +
     s"ELSE acc || ' ' || s END)")

  /** Shared learn-loop CTEs: w0 (training vocab) → per round i: pair
    * counts p_i, argmax merge m_i, merged vocab w_i. */
  private val duckBpeCtes = {
    val w0 =
      ("w0 AS (SELECT trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS repr, freq FROM (" +
       "SELECT w, count(*) AS freq FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents) " +
       s"WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY w ORDER BY freq DESC, w LIMIT $BpeTopWords))")
    val steps = (1 to BpeMerges).map { i =>
      (s"p$i AS (SELECT sy[j] AS a, sy[j+1] AS b, sum(freq)::BIGINT AS pf FROM " +
       s"(SELECT freq, string_split(repr, ' ') AS sy FROM w${i - 1}), " +
       "unnest(generate_series(1, len(sy) - 1)) AS u(j) GROUP BY a, b), " +
       s"m$i AS (SELECT a, b, pf FROM p$i ORDER BY pf DESC, a, b LIMIT 1), " +
       s"w$i AS (SELECT ${duckMergeFold("w", "m")} AS repr, w.freq FROM w${i - 1} w, m$i m)")
    }.mkString(", ")
    s"$w0, $steps"
  }

  private val duckBpe = {
    val out = (1 to BpeMerges).map { i =>
      s"SELECT $i::BIGINT AS step, a AS pair_a, b AS pair_b, a || b AS merged, pf AS pair_freq FROM m$i"
    }.mkString(" UNION ALL ")
    s"WITH $duckBpeCtes $out"
  }

  /** Replay of [[bpeApply]]: the learn CTEs, then the corpus vocab
    * cw0 folded through m_1..m_BpeMerges in rank order, then the
    * frequency-weighted per-language rollup. */
  private val duckBpeApply = {
    val cw0 =
      ("cw0 AS (SELECT lang, w, count(*) AS freq, " +
       "trim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS repr FROM " +
       "(SELECT lang, unnest(string_split(text, ' ')) AS w FROM documents) " +
       "WHERE regexp_matches(w, '^[a-z]+$$') GROUP BY lang, w)")
    val applies = (1 to BpeMerges).map { i =>
      s"cw$i AS (SELECT c.lang, c.w, c.freq, ${duckMergeFold("c", "m")} AS repr FROM cw${i - 1} c, m$i m)"
    }.mkString(", ")
    (s"WITH $duckBpeCtes, $cw0, $applies " +
     s"SELECT lang, sum(freq)::BIGINT AS n_words, " +
     s"sum(freq * len(string_split(repr, ' ')))::BIGINT AS n_tokens, " +
     s"round(sum(freq * len(string_split(repr, ' ')))::DOUBLE / sum(freq * length(w)), 6) AS tokens_per_char " +
     s"FROM cw$BpeMerges GROUP BY lang")
  }

  private val duckSubstringDedup = {
    import graft.expr.hashfunctions.duckPoly61
    val gram = (0 until SubdupW).map {
      case 0 => "ws[gi]"
      case k => s"ws[gi+$k]"
    }.mkString(" || ' ' || ")
    val wM1 = SubdupW - 1
    ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
     s"d AS (SELECT doc_id, len(ws)::BIGINT AS n_words, " +
     s"list_transform(generate_series(1, len(ws) - $wM1), gi -> ${duckPoly61(s"($gram)")}) AS gh " +
     s"FROM t WHERE len(ws) >= $SubdupW), " +
     "g AS (SELECT doc_id, n_words, u.gi - 1 AS pos, gh[u.gi] AS h " +
     "FROM d, unnest(generate_series(1, len(gh))) AS u(gi)), " +
     "hot AS (SELECT h FROM g GROUP BY h HAVING count(*) >= 2), " +
     "c AS (SELECT g.doc_id, g.n_words, g.pos FROM g JOIN hot USING (h)), " +
     s"i AS (SELECT doc_id, n_words, pos, sum(CASE WHEN pe IS NULL OR pos > pe + 1 " +
     "THEN 1 ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM (" +
     s"SELECT doc_id, n_words, pos, max(pos + $wM1) OVER (PARTITION BY doc_id ORDER BY pos " +
     "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pe FROM c)), " +
     s"sp AS (SELECT doc_id, n_words, island, min(pos)::BIGINT AS s, (max(pos) + $wM1)::BIGINT AS e " +
     "FROM i GROUP BY doc_id, n_words, island), " +
     "agg AS (SELECT doc_id, n_words, count(*)::BIGINT AS n_dup_spans, " +
     "sum(e - s + 1)::BIGINT AS dup_words, " +
     "round(sum(e - s + 1)::DOUBLE / n_words, 6) AS dup_frac, " +
     "array_to_string(list(s::VARCHAR || '-' || e::VARCHAR ORDER BY s), ',') AS sps " +
     "FROM sp GROUP BY doc_id, n_words) " +
     "SELECT doc_id, n_words, n_dup_spans, dup_words, dup_frac, " +
     s"${duckPoly61("sps")} AS spans_sig FROM agg")
  }

  private val duckCdc = {
    import graft.expr.hashfunctions.duckPoly61
    ("WITH b AS (SELECT doc_id, length(text)::BIGINT AS text_len, " +
     "list_filter(generate_series(8, length(text)), ci -> " +
     "(" + duckPoly61("substr(text, ci-7, 8)") + ") % 64 = 0) AS bnd FROM documents), " +
     "p AS (SELECT doc_id, text_len, (len(bnd) + 1)::BIGINT AS n_chunks, " +
     "array_to_string(list_transform(bnd, bi -> bi::VARCHAR), ',') AS ps FROM b) " +
     "SELECT doc_id, text_len, n_chunks, " + duckPoly61("ps") + " AS bnd_hash FROM p")
  }

  // Shared by the 64- and 128-bit paragraph-dedup variants: the oracle
  // keys on the RAW segment, so both hash widths must reproduce it
  private val paragraphDedupOracle =
      (s"WITH w AS (SELECT doc_id, list_filter(string_split(text, ' '), x -> len(x) > 0) AS ws FROM documents), " +
       s"n AS (SELECT doc_id, ws, greatest(ceil(len(ws) / $ParaSegWords.0)::BIGINT, 1) AS k FROM w), " +
       s"seg AS (SELECT doc_id, i AS seg_idx, " +
       s"array_to_string(ws[(i * $ParaSegWords + 1):((i + 1) * $ParaSegWords)], ' ') AS seg " +
       "FROM (SELECT doc_id, ws, unnest(generate_series(0, k - 1)) AS i FROM n)), " +
       "fl AS (SELECT doc_id, seg_idx, seg, " +
       "(row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) = 1) AS keep FROM seg) " +
       "SELECT doc_id, count(*) AS n_segs, sum(keep::BIGINT)::BIGINT AS n_kept, " +
       "md5(coalesce(string_agg(CASE WHEN keep THEN seg END, ' ' ORDER BY seg_idx), '')) AS retained_md5 " +
       "FROM fl GROUP BY doc_id")

  val oracle: Map[String, String] = Map(
    "ta_paragraph_dedup" -> paragraphDedupOracle,
    "ta_paragraph_dedup_128" -> paragraphDedupOracle,
    "ta_entropy_quality" ->
      ("WITH t AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents), " +
       "c AS (SELECT doc_id, w, count(*) AS c FROM t WHERE w <> '' GROUP BY 1, 2), " +
       "a AS (SELECT doc_id, sum(c)::BIGINT AS n_tokens, count(*) AS n_distinct, " +
       "list_reduce(list_sort(list(c::DOUBLE * log2(c))), (x, y) -> x + y) AS s " +
       "FROM c GROUP BY doc_id) " +
       "SELECT doc_id, n_tokens, n_distinct, " +
       "round(log2(n_tokens) - s / n_tokens, 6) AS entropy, " +
       s"(log2(n_tokens) - s / n_tokens) < $EntropyFloor AS low_entropy FROM a"),
    "ta_zipf_fit" ->
      ("WITH tf AS (SELECT term, count(*) AS cnt FROM " +
       "(SELECT unnest(string_split(text, ' ')) AS term FROM documents) " +
       "WHERE term <> '' GROUP BY term), " +
       "rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS r FROM tf) " +
       "SELECT count(*) AS n_terms, round(regr_slope(ln(cnt), ln(r)), 6) AS zipf_slope, " +
       "round(regr_r2(ln(cnt), ln(r)), 6) AS r2 FROM rk"),
    "ta_cdc_chunks" -> duckCdc,
    "ta_substring_dedup" -> duckSubstringDedup,
    "bpe_learn" -> duckBpe,
    "bpe_apply" -> duckBpeApply,
    "ta_inverted_index" -> duckInvertedIndex,
    "ta_bm25_topk" -> duckBm25,
    "ta_tfidf_top_terms" ->
      ("WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents), " +
       "tf AS (SELECT doc_id, term, count(*) AS tf FROM toks WHERE len(term) > 0 GROUP BY doc_id, term), " +
       "dfq AS (SELECT term, count(*) AS df FROM tf GROUP BY term), " +
       "n AS (SELECT count(*) AS nd FROM documents), " +
       "scored AS (SELECT doc_id, term, tf, df, (tf * nd) / df AS score FROM tf JOIN dfq USING (term), n), " +
       "ranked AS (SELECT doc_id, term, tf, df, " +
       "row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, term ASC) AS rank FROM scored) " +
       "SELECT doc_id, term, tf, df, rank FROM ranked WHERE rank <= 3"),
    "ta_chunk_windows" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
       "c AS (SELECT doc_id, unnest(generate_series(0, ((len(ws)-1)//10)::BIGINT)) AS chunk_idx, ws FROM t) " +
       "SELECT doc_id, chunk_idx, " +
       "len(ws[(chunk_idx*10+1)::INT : (chunk_idx*10+20)::INT])::BIGINT AS chunk_len, " +
       "array_to_string(ws[(chunk_idx*10+1)::INT : (chunk_idx*10+20)::INT], ' ') AS chunk_text " +
       "FROM c"),
    "ta_token_count" ->
      ("SELECT doc_id, len(string_split(text, ' '))::BIGINT AS ws_tokens, " +
       "len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]'))::BIGINT AS re_tokens " +
       "FROM documents"),
    "ta_quality_score" ->
      ("SELECT doc_id, round(n_stop / n_tok, 6) AS stopword_ratio, " +
       "round(n_punct / len(text), 6) AS punct_ratio, " +
       "round((len(text) - n_tok + 1.0) / n_tok, 6) AS avg_token_len, " +
       "CASE WHEN n_stop / n_tok >= 0.10 THEN 'high' " +
       "WHEN n_stop / n_tok >= 0.05 THEN 'medium' ELSE 'low' END AS quality_band " +
       "FROM (SELECT doc_id, text, len(string_split(text, ' '))::DOUBLE AS n_tok, " +
       "len(list_filter(string_split(text, ' '), t -> list_contains(['the','a','of','and','to','in'], t)))::DOUBLE AS n_stop, " +
       "(len(text) - len(regexp_replace(text, '[\\.,;:!\\?]', '', 'g')))::DOUBLE AS n_punct " +
       "FROM documents)"),
    "ta_lang_id" ->
      ("SELECT doc_id, s_en AS score_en, s_es AS score_es, s_de AS score_de, " +
       "CASE WHEN s_en >= s_es AND s_en >= s_de AND s_en > 0 THEN 'en' " +
       "WHEN s_es >= s_de AND s_es > 0 THEN 'es' WHEN s_de > 0 THEN 'de' " +
       "ELSE 'und' END AS pred_lang FROM (SELECT doc_id, " +
       "len(list_filter(['the','and','of','a','to'], m -> list_contains(ws, m)))::BIGINT AS s_en, " +
       "len(list_filter(['el','la','de','los','que'], m -> list_contains(ws, m)))::BIGINT AS s_es, " +
       "len(list_filter(['der','die','das','und','ist'], m -> list_contains(ws, m)))::BIGINT AS s_de " +
       "FROM (SELECT doc_id, string_split(text, ' ') AS ws FROM documents))"),
    "ta_repetition_quality" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents " +
       "WHERE len(string_split(text, ' ')) >= 3), " +
       "g AS (SELECT doc_id, len(ws)::BIGINT AS n_tokens, " +
       "list_transform(generate_series(1, len(ws)-1), gi -> " +
       graft.expr.hashfunctions.duckPoly61("(ws[gi]||' '||ws[gi+1])") + ") AS g2, " +
       "list_transform(generate_series(1, len(ws)-2), gi -> " +
       graft.expr.hashfunctions.duckPoly61("(ws[gi]||' '||ws[gi+1]||' '||ws[gi+2])") + ") AS g3 FROM t), " +
       "m AS (SELECT doc_id, n_tokens, " +
       "list_max(list_transform(list_distinct(g2), d -> len(list_filter(g2, x -> x = d))))::BIGINT AS top_bigram_n, " +
       "len(g2)::BIGINT AS n_bigrams, " +
       "(len(g3) - len(list_distinct(g3)))::BIGINT AS dup_trigrams, " +
       "len(g3)::BIGINT AS n_trigrams FROM g) " +
       "SELECT doc_id, n_tokens, round(top_bigram_n::DOUBLE / n_bigrams, 6) AS top_bigram_frac, " +
       "round(dup_trigrams::DOUBLE / n_trigrams, 6) AS dup_trigram_frac, " +
       "(top_bigram_n * 10 >= n_bigrams OR dup_trigrams * 2 >= n_trigrams) AS is_repetitive FROM m"),
    "ta_contamination" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents " +
       "WHERE len(string_split(text, ' ')) >= 8), " +
       "g AS (SELECT doc_id, list_distinct(list_transform(generate_series(1, len(ws)-7), gi -> " +
       graft.expr.hashfunctions.duckPoly61(
         "(ws[gi]||' '||ws[gi+1]||' '||ws[gi+2]||' '||ws[gi+3]||' '||ws[gi+4]||' '||ws[gi+5]||' '||ws[gi+6]||' '||ws[gi+7])") +
       ")) AS gs FROM t), " +
       "eg AS (SELECT doc_id, unnest(gs) AS g FROM g WHERE doc_id % 97 = 0), " +
       "cg AS (SELECT DISTINCT unnest(gs) AS g FROM g WHERE doc_id % 97 != 0) " +
       "SELECT eg.doc_id, count(*)::BIGINT AS n_grams, count(cg.g)::BIGINT AS n_contaminated, " +
       "round(count(cg.g)::DOUBLE / count(*), 6) AS contamination, " +
       "(count(cg.g) * 5 >= count(*)) AS is_contaminated " +
       "FROM eg LEFT JOIN cg ON eg.g = cg.g GROUP BY eg.doc_id"),
    "ta_pack_sequences" ->
      ("SELECT doc_id, n_tokens, off AS stream_offset, (off // 256)::BIGINT AS seq_id FROM (" +
       "SELECT doc_id, n_tokens, " +
       // ::BIGINT: DuckDB window sum yields HUGEINT, which the compare
       // harness reads as an object column and silently mismatches
       "(sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n_tokens)::BIGINT AS off " +
       "FROM (SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens FROM documents))"),
    // full DuckDB replay of the winnowing pipeline: poly61 4-gram
    // hashes → min per 5-window → sorted-distinct signature, joined to
    // the same lossless comma string the Spark side emits
    "ta_fingerprint_winnow" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents " +
       "WHERE len(string_split(text, ' ')) >= 8), " +
       "g AS (SELECT doc_id, list_transform(generate_series(1, len(ws)-3), gi -> " +
       "ws[gi] || ' ' || ws[gi+1] || ' ' || ws[gi+2] || ' ' || ws[gi+3]) AS grams FROM t), " +
       s"h AS (SELECT doc_id, list_transform(grams, g -> ${graft.expr.hashfunctions.duckPoly61("g")}) AS hashes FROM g), " +
       "m AS (SELECT doc_id, list_transform(generate_series(1, len(hashes)-4), wi -> " +
       "list_min(hashes[wi:wi+4])) AS mins FROM h), " +
       "f AS (SELECT doc_id, list_sort(list_distinct(mins)) AS fp FROM m) " +
       "SELECT doc_id, array_to_string(fp, ',') AS fp_sig, len(fp)::BIGINT AS n_fp FROM f"),
    "ta_winnow_overlap" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
       "sh AS (SELECT doc_id, len(ws) AS nw, CASE WHEN len(ws) >= 3 THEN list_distinct(" +
       "list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) " +
       "ELSE [] END AS sg FROM t) " +
       "SELECT count(*)::BIGINT AS n_pairs, TRUE AS overlap_ok FROM (" +
       // both docs must be fingerprintable (>= 8 words) — mirrors the
       // Spark side's inner join against winnowFingerprints
       "SELECT a.doc_id, b.doc_id, " +
       "len(list_intersect(a.sg, b.sg))::DOUBLE / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j " +
       "FROM sh a, sh b WHERE a.doc_id < b.doc_id AND a.nw >= 8 AND b.nw >= 8) WHERE j >= 0.7"),
  )
}
