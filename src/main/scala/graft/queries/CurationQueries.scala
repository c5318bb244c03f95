package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Similarity.{centroids, cosine}
import graft.expr.hashfunctions.{poly61, word_gram_poly61, duckPoly61}

/** Corpus-curation pack (net-new; SURVEY §7 north-star): the operators
  * a training-data pipeline runs between raw ingestion and dedup that
  * the reference never needed at its scale — PII redaction, URL
  * canonicalization, document-frequency boilerplate detection, quota /
  * diversity / split sampling, and SCD2 dimension history for the
  * metadata side.
  *
  * Scale notes (100 TB): redaction / canonicalization / split
  * assignment are pure scan-stage projections (one codegen'd pass, no
  * shuffle, no UDFs — regexp and list ops only). Boilerplate detection
  * is the one genuinely two-pass operator: a gram→df aggregate, then
  * the (small, df-thresholded) boilerplate set rebroadcast onto the
  * gram stream — the fact-side rows never shuffle twice. Quota
  * sampling runs on the bounded-heap TopKPerKey custom operator
  * (O(keys·k) state, no per-group sort). The test corpus carries no
  * real PII/URLs, so those queries synthesize the sensitive substrings
  * DETERMINISTICALLY from doc_id — the kernels, plans, and oracles are
  * the real thing; only the payload is derived.
  */
object CurationQueries {

  // ---------------------------------------------------------------- PII

  /** Engine-parallel regexes: RE2 (DuckDB) and java.util.regex agree on
    * pure character-class + bounded-repeat patterns — no lookaround, no
    * \b, no group references in replacements. */
  val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  val PhoneRe = "555-[0-9]{4}"
  val IpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  /** Deterministic PII payload with VARIED multiplicity (0, 1, or 2
    * occurrences per kind depending on doc_id) so the zero- and
    * multi-match redaction paths are all exercised and oracle-checked. */
  private def piiText: Column = {
    val email = concat(lit(" contact u"), (col("doc_id") % 97).cast("string"),
      lit("@mail.example.org"))
    val phone = concat(lit(" call 555-"),
      lpad((col("doc_id") % 10000).cast("string"), 4, "0"))
    val ip = concat(lit(" from 10."), (col("doc_id") % 256).cast("string"), lit("."),
      ((col("doc_id") * 7) % 256).cast("string"), lit("."), (col("doc_id") % 250).cast("string"))
    concat(
      col("text"),
      when(col("doc_id") % 4 === 0, lit("")).otherwise(email),
      when(col("doc_id") % 5 === 0, concat(phone, phone)).otherwise(phone),
      when(col("doc_id") % 7 === 3, lit("")).otherwise(ip))
  }

  /** PII redaction: count and mask emails / phones / IPs in one
    * scan-stage projection. Redaction order (email → phone → IP) is
    * pinned so masks can't partially overlap. The redacted text is
    * poly61-fingerprinted so the oracle verifies the EXACT masked
    * string, not just the counts. */
  def taPiiRedact(spark: SparkSession, dir: String): DataFrame = {
    val red = regexp_replace(
      regexp_replace(
        regexp_replace(piiText, EmailRe, "<EMAIL>"),
        PhoneRe, "<PHONE>"),
      IpRe, "<IP>")
    Tables.documents(spark, dir).select(
      col("doc_id"),
      size(regexp_extract_all(piiText, lit(EmailRe), lit(0))).cast("long").as("n_email"),
      size(regexp_extract_all(piiText, lit(PhoneRe), lit(0))).cast("long").as("n_phone"),
      size(regexp_extract_all(piiText, lit(IpRe), lit(0))).cast("long").as("n_ip"),
      length(red).cast("long").as("red_len"),
      poly61(red).as("red_hash"))
  }

  // ---------------------------------------------------------------- URLs

  private def rawUrl: Column = concat(
    lit("HTTP://"),
    when(col("doc_id") % 3 === 1, lit("cdn.Example.com"))
      .when(col("doc_id") % 3 === 2, lit("EXAMPLE.com"))
      .otherwise(lit("Example.COM")),
    lit(":80/docs/"), (col("doc_id") % 40).cast("string"),
    when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
    lit("?utm_source=feed&id="), (col("doc_id") % 5).cast("string"),
    lit("&utm_campaign=x#sec"), (col("doc_id") % 7).cast("string"))

  /** URL canonicalization → dedup: lowercase scheme/host, strip the
    * default port, drop the fragment, drop utm_* tracking params, sort
    * the surviving query params, strip the trailing slash — then group
    * by the canonical form. The canonicalizer is a generic
    * regexp/list-op chain (no UDF), so it runs scan-side and the only
    * shuffle is the final (tiny, canonical-keyed) aggregate — dedup
    * cardinality reduction happens BEFORE any data moves. */
  /** Generic URL canonicalizer (pure Column expression, reusable and
    * IDEMPOTENT — property-tested): lowercase scheme/host, strip :80,
    * drop fragment, drop utm_* params, sort survivors, strip trailing
    * slash. */
  def canonicalizeUrl(url: Column): Column = {
    val noFrag = regexp_replace(url, "#.*$", "")
    val scheme = lower(regexp_extract(noFrag, "^([a-zA-Z]+)://", 1))
    val after = regexp_replace(noFrag, "^[a-zA-Z]+://", "")
    val hostport = regexp_extract(after, "^([^/?#]+)", 1)
    val host = lower(regexp_replace(hostport, ":80$", ""))
    val pathq = after.substr(length(hostport) + 1, length(after))
    val path = regexp_replace(regexp_extract(pathq, "^([^?]*)", 1), "/$", "")
    val params = split(regexp_extract(pathq, "\\?(.*)$", 1), "&")
    val keep = array_sort(filter(params, p => !p.startsWith("utm_") && p =!= ""))
    concat(scheme, lit("://"), host, path,
      when(size(keep) > 0, concat(lit("?"), array_join(keep, "&"))).otherwise(lit("")))
  }

  def taUrlDedup(spark: SparkSession, dir: String): DataFrame = {
    Tables.documents(spark, dir)
      .select(col("doc_id"), canonicalizeUrl(rawUrl).as("url_canon"))
      .groupBy(col("url_canon"))
      .agg(count(lit(1)).as("n_rows"), min(col("doc_id")).as("min_doc_id"))
  }

  // ---------------------------------------------------- boilerplate grams

  val BoilerGramN = 3

  /** Document-frequency boilerplate detection (the C4/Gopher "remove
    * lines seen in many documents" rule, at gram granularity): a gram
    * is boilerplate when it appears in ≥1% of documents (and ≥3 of
    * them). Pass 1 aggregates distinct-gram document frequencies; the
    * thresholded boilerplate set is SMALL by construction (df-bounded),
    * so pass 2 broadcasts it back onto the gram stream — the exploded
    * fact rows shuffle exactly once (the per-doc aggregate). Grams ride
    * as fused poly61 hashes ([[graft.expr.TextHash.wordGramPoly61]]):
    * no gram strings materialize anywhere. */
  def taBoilerplateGrams(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val nDocs = docs.count() // one scalar; thresholding stays distributed
    val grams = docs.select(col("doc_id"),
      explode(array_distinct(word_gram_poly61(col("ws"), BoilerGramN))).as("g"))
    val boiler = grams.groupBy(col("g")).agg(count(lit(1)).as("df"))
      .filter(col("df") * 100 >= nDocs && col("df") >= 3)
      .select(col("g"), lit(1L).as("b"))
    val frac = coalesce(sum(col("b")), lit(0L)).cast("double") / count(lit(1)).cast("double")
    grams.join(broadcast(boiler), Seq("g"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        coalesce(sum(col("b")), lit(0L)).as("n_boiler"),
        round(frac, 6).as("boiler_frac"))
  }

  /** N-gram NOVELTY (the diversity signal dedup doesn't capture): per
    * doc, the fraction of its distinct 3-grams that FIRST appear in it
    * (first = lowest doc_id — ingestion order). High-novelty docs
    * widen corpus coverage; near-zero novelty marks recombined
    * boilerplate even when no single document matches. One gram-keyed
    * aggregate finds each gram's first owner; the ownership verdict
    * joins back onto the SAME distinct-gram stream — grams ride as
    * fused poly61 hashes, and at 100 TB the first-owner table shrinks
    * to |distinct grams| and partial-combines map-side. */
  def taNgramNovelty(spark: SparkSession, dir: String): DataFrame = {
    val grams = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
      .select(col("doc_id"),
        explode(array_distinct(word_gram_poly61(col("ws"), BoilerGramN))).as("g"))
    val firstOwner = grams.groupBy(col("g")).agg(min(col("doc_id")).as("first_doc"))
    grams.join(firstOwner, "g")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_grams"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
      .select(col("doc_id"), col("n_grams"), col("n_novel"),
        round(col("n_novel").cast("double") / col("n_grams").cast("double"), 6).as("novelty"))
  }

  // ------------------------------------------------------------ sampling

  val QuotaK = 40

  /** Per-language quota sampling: keep K documents per language, ranked
    * by a deterministic per-row hash (reservoir-sampling semantics,
    * reproducible across runs AND engines). Runs on the bounded-heap
    * [[graft.plans.TopKPerKey]] custom operator — O(langs·K) state and
    * no per-group sort, which is the 100 TB shape (a row_number window
    * would sort every partition of the corpus). */
  def xSampleQuota(spark: SparkSession, dir: String): DataFrame = {
    // unpinned scan (r15): scan-side work is one poly61 per row and the
    // bounded heap partial-aggregates map-side, so only O(langs·K) rows
    // reach the exchange — the redistributed fact scan was a full-corpus
    // shuffle to parallelize a trivial projection
    val d = Tables.documentsUnpinned(spark, dir).select(
      col("doc_id"), col("lang"),
      poly61(concat(lit("q"), col("doc_id").cast("string"))).as("h"))
    graft.plans.TopKPerKeyOp(d,
      keys = Seq(col("lang")),
      order = Seq(col("h").asc, col("doc_id").asc),
      k = QuotaK)
      .select(col("lang"), col("doc_id"), col("h"))
  }

  val DiverseCap = 20

  /** Cluster-balanced diversity sampling: assign every embedding to its
    * nearest label-centroid (10-row broadcast, argmax over a fused
    * cosine kernel), then cap each cluster at [[DiverseCap]] members by
    * deterministic hash order — the "spread the sample across embedding
    * space" selection step of curation pipelines. The corpus never
    * shuffles for assignment (pure broadcast projection); only the
    * (cluster, hash)-ranked quota pass exchanges rows. */
  def annDiverseSample(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // literal-argmax assignment (the ivfIndex/nearestCluster shape, r15):
    // identical cosine kernel and tie-break (sim desc, cluster asc) to
    // the crossJoin + max_by form it replaces — the corpus now TRULY
    // never shuffles for assignment (the max_by form still paid a
    // groupBy(vec_id) exchange + SortAggregate to undo its own ×|labels|
    // fan-out); only the quota pass exchanges rows
    val c = centroids(e, "label", "embedding")
      .select(col("label").cast("long").as("cluster"), col("centroid"))
    val assigned = e.select(col("vec_id"),
        graft.ops.Similarity.nearestCluster(c, col("embedding"))
          .cast("int").as("cluster"),
        poly61(concat(lit("d"), col("vec_id").cast("string"))).as("h"))
    // per-cluster quota through the bounded-heap custom operator
    // (O(clusters·cap) state); ranking the SURVIVORS is a window over a
    // quota-capped input — ≤ cap rows per cluster by construction
    val capped = graft.plans.TopKPerKeyOp(assigned,
      keys = Seq(col("cluster")),
      order = Seq(col("h").asc, col("vec_id").asc),
      k = DiverseCap)
    val wQuota = Window.partitionBy("cluster").orderBy(col("h").asc, col("vec_id").asc)
    capped.withColumn("rk", row_number().over(wQuota).cast("long"))
      .select(col("cluster"), col("vec_id"), col("rk"))
  }

  /** Deterministic train/val/test split assignment (~80/10/10 by hash
    * bucket) with per-language counts — the reproducible-split idiom
    * (same subset on every engine/run; no RNG, no sort). Scan-stage
    * projection + one tiny aggregate. */
  def xSplitAssign(spark: SparkSession, dir: String): DataFrame = {
    val b = ascii(substring(md5(col("doc_id").cast("string")), 1, 1)) % 10
    val split = when(b <= 7, "train").when(b === 8, "val").otherwise("test")
    Tables.documents(spark, dir)
      .select(col("lang"), split.as("split"), col("n_chars"))
      .groupBy(col("lang"), col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("sum_chars"))
  }

  /** End-to-end TRAINING-DATA MANIFEST — the capstone composition:
    * exact dedup (keep min doc_id per text) → C4 page filter → target
    * language policy → deterministic split assignment, aggregated to
    * the (split, lang) matrix of document and token counts a training
    * run consumes. Every stage is an operator this pack already
    * verifies in isolation; here they fuse into ONE lazy DAG — the
    * dedup groupBy is the only corpus-keyed shuffle, the C4 filter and
    * split bucket stay scan-side, and the final aggregate is
    * |splits×langs| rows. The point (and what the oracle checks) is
    * that the composition holds end-to-end, not just per stage. */
  def e2eTrainManifest(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
    val keepMin = d.groupBy(col("text")).agg(min(col("doc_id")).as("keep_id"))
    val b = ascii(substring(md5(col("doc_id").cast("string")), 1, 1)) % 10
    val splitCol = when(b <= 7, "train").when(b === 8, "val").otherwise("test")
    d.join(keepMin, "text").filter(col("doc_id") === col("keep_id"))
      .filter(col("lang").isin(TargetMix.map(_._1): _*))
      .join(taC4LineFilter(spark, dir).select(col("doc_id"), col("page_kept")), "doc_id")
      .filter(col("page_kept"))
      .select(splitCol.as("split"), col("lang"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("split"), col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
  }

  // ---------------------------------------------------------------- SCD2

  /** SCD2 (type-2 slowly-changing dimension) history build from a
    * change feed: collapse consecutive same-value events per key, then
    * derive [valid_from, valid_to) intervals with lead() — the standard
    * warehouse history table. One shuffle: both windows share the
    * (user_id; ts, event_id) partitioning+ordering, so Catalyst plans a
    * single Exchange+Sort pair for the whole query. */
  def mergeScd2(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy(col("ts").asc, col("event_id").asc)
    val chg = Tables.events(spark, dir)
      .select(col("user_id"), col("ts"), col("event_type"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
    chg
      .withColumn("valid_to", lead(col("ts"), 1).over(w))
      .select(col("user_id"), col("event_type"), col("ts").as("valid_from"),
        col("valid_to"), col("valid_to").isNull.as("is_current"))
  }

  // ----------------------------------------------------- corpus statistics

  /** Target language mix for corpus re-weighting (literal policy, the
    * shape a data-mixing config takes). */
  val TargetMix: Seq[(String, Double)] =
    Seq("en" -> 0.4, "es" -> 0.2, "de" -> 0.2, "fr" -> 0.1, "zh" -> 0.1)

  /** CASE target_share built from the literal policy (shared by the
    * weight computation and the materialization twin below). */
  private def targetShareCol: Column = TargetMix.tail.foldLeft(
    when(col("lang") === TargetMix.head._1, TargetMix.head._2)) {
    case (acc, (l, s)) => acc.when(col("lang") === l, s)
  }.otherwise(0.0)

  /** Corpus mixing weights: per-language sampling weight = target
    * share / actual share, plus the expected per-epoch document count
    * at a fixed budget — the "how hard do I up/down-sample each slice
    * to hit the target mixture" computation every pretraining data
    * recipe runs. One tiny aggregate + a scalar total joined back as a
    * broadcast literal; nothing heavy moves. */
  def xCorpusMixWeights(spark: SparkSession, dir: String): DataFrame = {
    val Budget = 1000
    val targetShare = targetShareCol
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("n_total"))
    counts.crossJoin(broadcast(total))
      .select(col("lang"), col("n_docs"),
        round(col("n_docs").cast("double") / col("n_total").cast("double"), 6).as("actual_share"),
        targetShare.as("target_share"),
        round(targetShare * col("n_total").cast("double") / col("n_docs").cast("double"), 6).as("weight"),
        round(targetShare * Budget).cast("long").as("epoch_docs"))
  }

  /** Winsorized aggregation: clip `value` to the exact per-group
    * [p01, p99] envelope, then compare raw vs clipped means — the
    * outlier-robust statistics pass. Two-phase: the percentile frame is
    * |groups| rows (exact percentile per group, mergeable-sketch at
    * 100 TB), broadcast back onto the fact scan; the clip itself is a
    * scan-stage projection. */
  def aggWinsorize(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    // lo/hi pinned to 6 dp on BOTH sides (same convention as the 9-dp
    // k-means centroids): the clip model is then bit-identical across
    // engines, so every downstream comparison/aggregate is exact
    val pct = ev.groupBy(col("event_type")).agg(
      round(expr("percentile(value, 0.01)"), 6).as("lo"),
      round(expr("percentile(value, 0.99)"), 6).as("hi"))
    val clipped = greatest(col("lo"), least(col("hi"), col("value")))
    ev.join(broadcast(pct), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        sum((col("value") < col("lo") || col("value") > col("hi")).cast("long")).as("n_clipped"),
        round(avg(col("value")), 6).as("mean_raw"),
        round(avg(clipped), 6).as("mean_winsor"),
        round(min(clipped), 6).as("min_winsor"),
        round(max(clipped), 6).as("max_winsor"))
  }

  /** Mixing-weight MATERIALIZATION (the "apply" step after
    * [[xCorpusMixWeights]]): every doc is repeated
    * floor(weight) + Bernoulli(frac(weight)) times, with the Bernoulli
    * drawn from a deterministic per-doc hash — stochastic rounding
    * that is reproducible across runs AND engines (no RNG). This is
    * how a pretraining recipe actually up/down-samples slices to hit
    * the target mixture: rare languages repeat (weight > 1), dominant
    * ones thin (weight < 1). Scan-side: the weight table is a
    * lang-count-sized broadcast, the repeat is a per-row
    * `array_repeat` + explode (no shuffle until the per-lang count),
    * so the corpus streams through once. The weight arithmetic shapes
    * are mirrored verbatim in the oracle (identical IEEE trees), so
    * the hash-vs-fraction comparison is bit-identical. */
  def xMixEpochs(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_docs"))
    val total = counts.agg(sum(col("n_docs")).as("n_total"))
    val w = counts.crossJoin(broadcast(total))
      .select(col("lang"),
        (targetShareCol * col("n_total").cast("double") / col("n_docs").cast("double")).as("weight"))
    val fh = (poly61(concat(lit("m"), col("doc_id").cast("string"))) % 1000000L)
      .cast("double") / 1000000.0
    val epochs = (floor(col("weight")) +
      when(col("fh") < col("weight") - floor(col("weight")), 1).otherwise(0)).cast("int")
    val out = Tables.documents(spark, dir).select(col("doc_id"), col("lang"))
      .join(broadcast(w), "lang")
      .withColumn("fh", fh)
      .select(col("lang"), explode(array_repeat(lit(1), epochs)).as("one"))
      .groupBy(col("lang")).agg(count(lit(1)).as("n_rows_out"))
    val outTotal = out.agg(sum(col("n_rows_out")).as("t_out"))
    counts.join(out, Seq("lang"), "left")
      .crossJoin(broadcast(outTotal))
      .select(col("lang"), col("n_docs"),
        coalesce(col("n_rows_out"), lit(0L)).as("n_rows_out"),
        round(coalesce(col("n_rows_out"), lit(0L)).cast("double") /
          col("t_out").cast("double"), 6).as("realized_share"))
  }

  /** Robust outlier gate: per-group median/MAD modified z-score
    * (Iglewicz–Hoaglin: 0.6745·(x−med)/MAD, flag |z| > 3.5) — the
    * outlier detector that, unlike mean/stddev, is not itself dragged
    * by the outliers. Same two-phase shape as [[aggWinsorize]]: the
    * per-group median frame is |groups| rows (mergeable quantile
    * sketch at 100 TB), broadcast back for the deviation pass, whose
    * per-group MAD broadcasts again for the flag pass — the fact
    * stream never shuffles, it is rescanned with tiny broadcasts.
    * med/MAD pinned to 6 dp on both engines (winsorize convention)
    * so every downstream comparison is exact. */
  def aggRobustZscore(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val med = ev.groupBy(col("event_type"))
      .agg(round(expr("percentile(value, 0.5)"), 6).as("med"))
    val mad = ev.join(broadcast(med), "event_type")
      .groupBy(col("event_type"))
      .agg(round(expr("percentile(abs(value - med), 0.5)"), 6).as("mad"), max(col("med")).as("med"))
    val z = lit(0.6745) * (col("value") - col("med")) / col("mad")
    ev.join(broadcast(mad), "event_type")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        max(col("med")).as("med"), max(col("mad")).as("mad"),
        sum((abs(z) > 3.5).cast("long")).as("n_outliers"),
        round(avg(when(abs(z) <= 3.5, col("value"))), 6).as("mean_inliers"))
  }

  val HashBuckets = 32

  /** Feature hashing (the hashing trick): every token maps to
    * poly61 % 32 and the corpus-level bucket histogram comes out of one
    * explode + aggregate — the fixed-width featurization that replaces
    * an unbounded vocabulary at scale. The token→bucket map is pure
    * scan-side expression work; only (bucket, partial counts) shuffle. */
  def taFeatureHashing(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
      .select(col("doc_id"), pmod(poly61(col("tok")), lit(HashBuckets)).as("bucket"))
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_tokens"),
        countDistinct(col("doc_id")).as("n_docs"))

  /** Corpus-slice divergence: KL(token distribution of each language ‖
    * corpus-wide distribution) — the distribution-shift metric curation
    * pipelines watch when a slice drifts from the mixture. One
    * (lang, tok) aggregate feeds everything; the per-token global
    * marginal is a second aggregate over THOSE partials (token-keyed,
    * already combined — never the raw stream again). ln() ulp
    * differences between engines vanish under the 6-dp post-sum round
    * (term errors ~1e-16, sums O(1)). */
  def taSliceDivergence(spark: SparkSession, dir: String): DataFrame = {
    val tok = Tables.documents(spark, dir)
      .select(col("lang"), explode(split(col("text"), " ")).as("tok"))
      .filter(col("tok") =!= "")
    val byLangTok = tok.groupBy(col("lang"), col("tok")).agg(count(lit(1)).as("n_lt"))
    val byLang = byLangTok.groupBy(col("lang")).agg(sum(col("n_lt")).as("n_l"))
    val byTok = byLangTok.groupBy(col("tok")).agg(sum(col("n_lt")).as("n_t"))
    val total = tok.count() // one scalar; scoring stays distributed
    val p = col("n_lt").cast("double") / col("n_l").cast("double")
    val q = col("n_t").cast("double") / total.toDouble
    byLangTok.join(byLang, "lang").join(byTok, "tok")
      .select(col("lang"), col("n_l"), (p * log(p / q)).as("term"))
      .groupBy(col("lang"))
      .agg(max(col("n_l")).as("n_tokens"), round(sum(col("term")), 6).as("kl_vs_corpus"))
  }

  // ----------------------------------------------------- C4 line filter

  val C4LineWords = 10
  val C4MinLineWords = 5
  val C4MinLines = 3

  /** C4-style line-level cleaning (Raffel et al. 2020 §2.2, the rules
    * behind the C4 corpus): keep only lines that end in terminal
    * punctuation, have ≥[[C4MinLineWords]] words, and don't contain the
    * word "javascript"; drop the whole page when it contains "lorem
    * ipsum" or a curly brace, or fewer than [[C4MinLines]] lines
    * survive. The corpus text is single-line, so lines are synthesized
    * DETERMINISTICALLY from doc_id (fixed-width chunks + pinned
    * punctuation/noise injection — same convention as the PII/URL
    * payloads above): the rules, plan, and oracle are the real C4
    * pipeline; only the payload is derived. Everything is one
    * scan-stage projection over array ops — no shuffle at all, the
    * 100 TB shape for line filtering. The cleaned text is
    * poly61-fingerprinted so the oracle verifies the EXACT surviving
    * text, not just counts. */
  def taC4LineFilter(spark: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val nl = floor((size(col("ws")) + lit(C4LineWords - 1)) / lit(C4LineWords)).cast("int")
    val lines0 = transform(sequence(lit(0), nl - 1), i => {
      val body = array_join(slice(col("ws"), i * C4LineWords + 1, lit(C4LineWords)), " ")
      val sel = (col("doc_id") * 31 + i) % 4
      val line = concat(body,
        when(sel === 0, ".").when(sel === 1, "!").when(sel === 2, "?").otherwise(""))
      when(i === 0 && col("doc_id") % 11 === 5,
        concat(lit("javascript "), line)).otherwise(line)
    })
    val lorem = filter(array(lit("lorem ipsum dolor sit amet.")),
      _ => col("doc_id") % 53 === 7)
    val brace = filter(array(lit("var f = function() {")),
      _ => col("doc_id") % 47 === 13)
    val all = concat(lines0, lorem, brace)
    val kept = filter(all, l =>
      l.rlike("[.!?]$") && size(split(l, " ")) >= C4MinLineWords &&
        !array_contains(split(l, " "), "javascript"))
    val full = array_join(all, "\n")
    val pageKept = !lower(col("full")).contains("lorem ipsum") &&
      !col("full").contains("{") && size(col("kept_lines")) >= C4MinLines
    base.select(col("doc_id"), all.as("all_lines"), kept.as("kept_lines"), full.as("full"))
      .select(col("doc_id"),
        size(col("all_lines")).cast("long").as("n_lines"),
        size(col("kept_lines")).cast("long").as("n_kept"),
        pageKept.as("page_kept"),
        when(pageKept, poly61(array_join(col("kept_lines"), "\n"))).as("clean_hash"))
  }

  // ------------------------------------------------- bigram LM scoring

  /** Bigram language-model scoring (the CCNet/Wenzek-2020 idiom:
    * score every document against an n-gram LM of the corpus and use
    * the per-doc average log-probability as a fluency/quality signal;
    * outliers on either end are boilerplate or gibberish). Add-one
    * smoothed: ln((c(w1,w2)+1) / (c(w1)+V)). Grams ride as fused
    * poly61 hashes ([[graft.expr.TextHash.wordGramPoly61]]) — no gram
    * strings materialize. Three corpus passes (unigram counts, bigram
    * counts, scoring stream), all scan-stage until the vocab-bounded
    * count aggregates; the scoring joins are hash-keyed and the count
    * tables are vocabulary-sized — at 100 TB both sides partial-combine
    * to |V| / |V²∩corpus| rows, and AQE broadcasts them when they fit.
    * V comes back as one scalar (vocabulary cardinality, same
    * single-scalar convention as [[taBoilerplateGrams]]). */
  def lmBigramScore(spark: SparkSession, dir: String): DataFrame = {
    val ws = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("ws"))
    val hashed = ws.select(col("doc_id"),
      word_gram_poly61(col("ws"), 1).as("uh"),
      word_gram_poly61(col("ws"), 2).as("bh"))
    val uni = hashed.select(explode(col("uh")).as("h1"))
      .groupBy(col("h1")).agg(count(lit(1)).as("c1"))
    val big = hashed.select(explode(col("bh")).as("h12"))
      .groupBy(col("h12")).agg(count(lit(1)).as("c12"))
    val vocab = uni.count() // |V|: one vocab-sized scalar
    val pairs = hashed
      .select(col("doc_id"), slice(col("uh"), lit(1), size(col("bh"))).as("h1s"), col("bh").as("h12s"))
      .select(col("doc_id"), explode(arrays_zip(col("h1s"), col("h12s"))).as("z"))
      .select(col("doc_id"), col("z.h1s").as("h1"), col("z.h12s").as("h12"))
    val logp = log((col("c12") + 1).cast("double") / (col("c1") + lit(vocab)).cast("double"))
    pairs.join(big, "h12").join(uni, "h1")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_bigrams"), round(avg(logp), 6).as("avg_logp"))
  }

  // ------------------------------------------------------------ SemDeDup

  /** Semantic dedup (SemDeDup, Abbas et al. 2023): cluster the
    * embedding space, then drop near-identical pairs WITHIN each
    * cluster — the cluster assignment bounds the quadratic term, which
    * is the entire point of the method at 100 TB (pairwise work is
    * O(Σ|cluster|²), never O(N²); cluster count grows with the corpus
    * to hold |cluster| bounded). Assignment is a 10-row centroid
    * broadcast + argmax (corpus never shuffles for it); the
    * within-cluster self-join shuffles on cluster id; survivors = the
    * lexicographically-first member of each duplicate pair (greater
    * vec_id dropped). Threshold shares
    * [[SimilarityQueries.NearDupThreshold]] (min FP gap to the
    * threshold measured ≥8e-6 across all SFs — comparison-exact on
    * both engines). */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // literal-argmax assignment (the ivfIndex/nearestCluster shape, r15):
    // the cluster-centroid table is a ≤|labels|-row model-parameter
    // transfer, so assignment is a PURE PROJECTION over the corpus —
    // identical cosine kernel and tie-break (sim desc, cluster asc) to
    // the crossJoin + max_by form it replaces, which fanned every vector
    // ×|clusters| and un-fanned it through a groupBy(vec_id)
    // SortAggregate (an exchange + per-task sort of the scored stream)
    val c = centroids(e, "label", "embedding")
      .select(col("label").cast("long").as("cluster"), col("centroid"))
    // read 3×: both legs of the cluster self-join and the member count
    val assigned = graft.Materialize.cached(e.select(col("vec_id"),
        graft.ops.Similarity.nearestCluster(c, col("embedding"))
          .cast("int").as("cluster"),
        col("embedding")))
    val a = assigned.select(col("cluster"), col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = assigned.select(col("cluster"), col("vec_id").as("id_b"), col("embedding").as("eb"))
    val dups = a.join(b, Seq("cluster"))
      .filter(col("id_a") < col("id_b"))
      .filter(cosine(col("ea"), col("eb")) >= SimilarityQueries.NearDupThreshold)
      .select(col("cluster"), col("id_a"), col("id_b"))
    val members = assigned.groupBy(col("cluster")).agg(count(lit(1)).as("n_members"))
    val dropped = dups.groupBy(col("cluster")).agg(
      count(lit(1)).as("n_dup_pairs"), countDistinct(col("id_b")).as("n_dropped"))
    members.join(dropped, Seq("cluster"), "left")
      .select(col("cluster"), col("n_members"),
        coalesce(col("n_dup_pairs"), lit(0L)).as("n_dup_pairs"),
        coalesce(col("n_dropped"), lit(0L)).as("n_dropped"),
        (col("n_members") - coalesce(col("n_dropped"), lit(0L))).as("n_kept"))
  }

  // ------------------------------------------- DSIR importance weights

  /** Hashed-feature buckets for the DSIR distributions. 512 keeps both
    * count tables broadcast-sized at ANY corpus scale (the table is
    * bucket-indexed, not vocab-indexed — that boundedness is the
    * method's point). */
  val DsirBuckets = 512
  /** Additive smoothing (exactly representable in binary, so the
    * engines' (c+α)/(T+αB) operands are bit-identical). */
  val DsirAlpha = 0.5

  /** DSIR-style importance weighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): fit hashed
    * unigram distributions over a TARGET slice (here `lang = 'en'` —
    * the paper's "formal text" stand-in) and the RAW corpus, then
    * score every document by the mean log importance ratio
    * ln(p_target(b)/p_raw(b)) of its tokens; documents scoring > 0
    * look more target-like than corpus-like and get selected. Two
    * corpus passes (count fit, then scoring), both scan-stage until a
    * bucket/doc-keyed aggregate: the fit is ONE conditional aggregate
    * (raw + target-slice counts share the bucket shuffle) yielding a
    * [[DsirBuckets]]-row table — broadcast to the scoring stream, so
    * the fact side shuffles ONCE (the per-doc mean). That is the 100 TB
    * shape: distribution tables bounded by construction, corpus never
    * joined to corpus. Selection is a pure per-doc threshold — no
    * global sort; resampling quotas compose downstream via
    * x_sample_quota. Both engines compute the identical doubles (same
    * smoothing literals, same bucket hash) and round at 6 dp. */
  def taDsirWeights(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        explode(split(col("text"), " ")).as("tok"))
      .select(col("doc_id"), col("lang"),
        pmod(poly61(col("tok")), lit(DsirBuckets.toLong)).as("b"))
    // BOTH distributions from ONE conditional aggregate over the token
    // stream (raw count + target-slice conditional sum share the
    // shuffle) — the fit phase scans the corpus once, not once per
    // distribution, and needs no raw-to-target join
    val counts = toks.groupBy(col("b")).agg(
      count(lit(1)).as("c_raw"),
      sum((col("lang") === "en").cast("long")).as("c_tgt"))
    // token totals as one 1-row aggregate over the bucket-sized counts
    val totals = counts.agg(sum(col("c_raw")).as("t_raw"), sum(col("c_tgt")).as("t_tgt"))
    val denom = lit(DsirAlpha * DsirBuckets)
    val lr = counts.crossJoin(totals)
      .select(col("b"),
        (log((col("c_tgt") + lit(DsirAlpha)) /
             (col("t_tgt") + denom)) -
         log((col("c_raw") + lit(DsirAlpha)) /
             (col("t_raw") + denom))).as("lr"))
    toks.join(broadcast(lr), "b")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        round(avg(col("lr")), 6).as("avg_logratio"))
      .withColumn("selected", col("avg_logratio") > 0)
  }

  /** Corpus data card (net-new): the per-(lang, source) statistics
    * table a training-corpus release ships — doc and token counts,
    * mean doc length, and each slice's share of the corpus. One
    * scan-side projection (token count fused into the scan), one
    * (lang, source) aggregate; the corpus totals ride as window
    * constants over the slice table (|slices| rows), so no second
    * corpus pass. Shares are exact integer ratios rounded at 6 dp. */
  def xCorpusDatacard(spark: SparkSession, dir: String): DataFrame = {
    val slices = Tables.documents(spark, dir)
      .select(col("lang"), col("source"), col("n_chars"),
        size(split(col("text"), " ")).cast("long").as("toks"))
      .groupBy(col("lang"), col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        round(avg(col("n_chars")), 2).as("mean_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    slices
      .withColumn("doc_share",
        round(col("n_docs").cast("double") / sum(col("n_docs")).over(w), 6))
      .withColumn("token_share",
        round(col("n_tokens").cast("double") / sum(col("n_tokens")).over(w), 6))
      .select(col("lang"), col("source"), col("n_docs"), col("n_tokens"),
        col("mean_chars"), col("doc_share"), col("token_share"))
  }

  val KAnonK = 5

  /** k-anonymity audit (net-new): the release-gating privacy check a
    * training-data pipeline runs before publishing event-derived data —
    * every quasi-identifier combination (here event_type × event day)
    * must cover at least [[KAnonK]] distinct users, else those users
    * are re-identifiable by the combination. Emits per equivalence
    * class the user count and an `anonymous` flag, plus the corpus
    * roll-up (classes, violating classes, users at risk) as window
    * constants so the whole audit is ONE relation. Scale shape: one
    * (quasi-id) aggregate with map-side distinct partials; the roll-up
    * is a frameless window over the class table (|classes| rows, not
    * corpus rows). */
  def xKAnonymity(spark: SparkSession, dir: String): DataFrame = {
    val classes = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("user_id"))
      .groupBy(col("event_type"), col("day"))
      .agg(countDistinct(col("user_id")).as("n_users"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(lit(1)).rowsBetween(Long.MinValue, Long.MaxValue)
    classes
      .withColumn("anonymous", col("n_users") >= KAnonK)
      .withColumn("n_classes", count(lit(1)).over(w))
      .withColumn("n_violating",
        sum((!col("anonymous")).cast("long")).over(w))
      .withColumn("users_at_risk",
        sum(when(!col("anonymous"), col("n_users")).otherwise(lit(0L))).over(w))
      .select(col("event_type"), col("day"), col("n_users"), col("anonymous"),
        col("n_classes"), col("n_violating"), col("users_at_risk"))
  }

  /** ≈80/20 boundary inside the events table's January span. */
  val TimeSplitCutoff = "2024-01-24 00:00:00"

  /** Temporal train/test split + leakage audit (net-new): split events
    * at a pinned event-time cutoff — the correct split for
    * time-ordered data, where the hash split ([[xSplitAssign]]) would
    * leak future information into train — and audit the one leak a
    * time split does NOT prevent: entities straddling the boundary.
    * Emits per split the event/user counts plus the count of users
    * appearing on BOTH sides (the cross-split contamination a
    * user-level generalization eval must de-overlap first).
    *
    * Scale shape: the straddle audit is one user-keyed aggregate of
    * two boolean maxima (map-side combined), reduced to a single
    * scalar — no user set materializes; the split stats are one
    * scan-side conditional projection + groupBy. */
  def xTimeSplit(spark: SparkSession, dir: String): DataFrame = {
    val cutoff = to_timestamp(lit(TimeSplitCutoff))
    val ev = Tables.events(spark, dir)
    val shared = ev.groupBy(col("user_id"))
      .agg(max((col("ts") < cutoff).cast("int")).as("in_train"),
        max((col("ts") >= cutoff).cast("int")).as("in_test"))
      .agg(sum((col("in_train") === 1 && col("in_test") === 1).cast("long"))
        .as("n_shared_users"))
    ev.select(when(col("ts") < cutoff, "train").otherwise("test").as("split"),
        col("user_id"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_events"), countDistinct(col("user_id")).as("n_users"))
      .crossJoin(broadcast(shared))
      .select(col("split"), col("n_events"), col("n_users"), col("n_shared_users"))
  }

  /** Quantile fraction for [[xQuantileSelect]] — keep the top 30% of
    * documents per language. */
  val QuantileCut = 0.7

  /** Quantile-THRESHOLD selection (net-new): keep each language's top
    * (1 − [[QuantileCut]]) of documents by score — the FineWeb-style
    * "cut the corpus at the Pth quality percentile" curation op, here
    * with document length (token count) as the deterministic score.
    * Two-pass shape: pass 1 aggregates ONE threshold row per language
    * (|langs| rows — broadcastable at any corpus size); pass 2 is a
    * scan-side filter of the corpus against the broadcast thresholds —
    * no corpus sort, no window, no shuffle beyond the final per-lang
    * count rollup. At 100 TB the exact `percentile` swaps for
    * `percentile_approx`'s mergeable sketch; the plan shape is
    * identical (the winsorize/zscore queries document the same swap).
    * Threshold pinned at 6 dp on both engines (the pack convention);
    * scores are integers, so the >= comparison is boundary-safe. */
  def xQuantileSelect(spark: SparkSession, dir: String): DataFrame = {
    val scored = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        size(split(col("text"), " ")).cast("double").as("q"))
    val thr = scored.groupBy(col("lang"))
      .agg(round(expr(s"percentile(q, $QuantileCut)"), 6).as("thr"),
        count(lit(1)).as("n_scored"))
    scored.join(broadcast(thr), "lang")
      .filter(col("q") >= col("thr"))
      .groupBy(col("lang"))
      .agg(max(col("n_scored")).as("n_scored"), count(lit(1)).as("n_kept"),
        round(max(col("thr")), 6).as("thr"),
        round(min(col("q")), 6).as("min_kept_q"))
  }

  /** Shard count for [[xGlobalShuffle]] / [[e2eShardRelease]] — a
    * HARNESS-SCALE parameter, not a design constant. Shards scale with
    * the corpus (a 100 TB release runs thousands so each shard is a
    * trainer-friendly few GB); the delivery shape is shard-count
    * independent — the window-per-shard here is the
    * `repartition(shard).sortWithinPartitions(key)` a shard-writer
    * runs at any width, and the first-md5-hex-char bucketing extends
    * to more hex chars as the count grows. 8 keeps every shard
    * populated at the smoke SF so the oracle pins all rows. */
  val NumShards = 8

  /** Deterministic global shuffle + sharding (net-new): the DELIVERY
    * step of a training pipeline — hand the trainer a reproducible
    * pseudo-random permutation of the corpus, split into shards. The
    * permutation key is a seeded md5 of the doc id (the same
    * engine-agreeing hash the sampling pack uses); the shard is a hash
    * bucket of that key, and the within-shard ORDER is the key's sort
    * order — rerunning with the same seed reproduces the epoch
    * byte-for-byte, a different seed is a fresh epoch. Physically this
    * is ONE hash exchange + per-shard sort (the window's
    * partitionBy(shard) orderBy(key)) — exactly the
    * `repartition(shard).sortWithinPartitions(key)` shape a 100 TB
    * shard-writer runs; no global sort, no driver state. The output
    * pins the permutation itself, not just membership: `order_digest`
    * = Σ position·doc_id over each shard detects any transposition,
    * and `head_doc` pins the shard's first delivery. */
  def xGlobalShuffle(spark: SparkSession, dir: String): DataFrame = {
    val key = releaseKey
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), key.as("k"),
        (ascii(substring(key, 1, 1)) % NumShards).cast("long").as("shard_id"))
    val pos = row_number()
      .over(Window.partitionBy(col("shard_id")).orderBy(col("k"), col("doc_id")))
      .cast("long")
    d.withColumn("pos", pos)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pos") * col("doc_id")).as("order_digest"),
        max(when(col("pos") === 1, col("doc_id"))).as("head_doc"))
  }

  /** Minimum document size (chars) admitted to the shard release. */
  val ReleaseMinChars = 100

  /** End-to-end shard release (net-new capstone): the full
    * curate→dedup→deliver path as ONE composition — (1) a quality gate
    * (pushdown-able `n_chars` filter, standing in for the score-based
    * gates the pack measures separately), (2) near-dup collapse that
    * keeps each cluster's highest-quality member
    * ([[graft.queries.DedupQueries.dedupKeepBest]]'s pick; every other
    * cluster member is anti-joined away), (3) the deterministic
    * seeded shuffle-shard delivery of [[xGlobalShuffle]], with a
    * per-shard byte accounting (`n_chars` sum) and the
    * permutation-pinning digest. The dedup side rides the
    * session-memoized exact-pairs artifact, so the composition adds
    * two anti-joins and one shard exchange on top of work the
    * pipeline already materialized — exactly how a production release
    * job composes from shared artifacts rather than re-deriving them. */
  /** The seeded shuffle key and shard bucket every release path
    * shares — in-stream projections (t18/t19) and the batch/finalize
    * seal MUST use the same arithmetic or the partition layout and
    * the sealed digests silently diverge. */
  private[graft] def releaseKey: org.apache.spark.sql.Column =
    md5(concat(col("doc_id").cast("string"), lit(":shuf42")))
  private[graft] def releaseShardId: org.apache.spark.sql.Column =
    (ascii(substring(releaseKey, 1, 1)) % NumShards).cast("long")

  /** The release-cut drop list shared by the batch capstone and its
    * streaming twin (t19): members of a near-dup cluster that are not
    * the cluster's quality keeper. */
  private[graft] def releaseDropList(spark: SparkSession, dir: String): DataFrame = {
    val pairs = DedupQueries.exactPairs(spark, dir)
      .select(col("id_a"), col("id_b"))
    val members = pairs.select(col("id_a").as("doc_id"))
      .union(pairs.select(col("id_b").as("doc_id"))).distinct()
    // keep-best picks from the session-memoized ARTIFACT (r15): the
    // drop list has two release consumers (t19's stream finalize and
    // the batch shard capstone), and each used to re-run the full
    // keep-best pipeline — component labelling + corpus quality
    // scan — inside its own invocation. The registered dedup_keep_best
    // stays on the live pipeline; this is the same two-consumer memo
    // rule as exactPairs itself.
    val keepers = graft.SessionMemo.parquet(spark, "keep_best", dir)(
        DedupQueries.dedupKeepBest(spark, dir))
      .select(col("keep_doc").as("doc_id"))
    members.join(keepers, Seq("doc_id"), "left_anti")
  }

  /** Seal a release: shard/key assignment, within-shard positions in
    * (k, doc_id) order, and the digest aggregate — shared verbatim by
    * the batch capstone and t19's finalize, so the two paths cannot
    * drift from the one DuckDB oracle they both answer to. */
  private[graft] def sealRelease(survivors: DataFrame): DataFrame = {
    val keyed = survivors.select(col("doc_id"), col("n_chars"),
      releaseKey.as("k"), releaseShardId.as("shard_id"))
    val pos = row_number()
      .over(Window.partitionBy(col("shard_id")).orderBy(col("k"), col("doc_id")))
      .cast("long")
    keyed.withColumn("pos", pos)
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("n_chars_total"),
        sum(col("pos") * col("doc_id")).as("order_digest"))
  }

  def e2eShardRelease(spark: SparkSession, dir: String): DataFrame =
    sealRelease(Tables.documents(spark, dir)
      .filter(col("n_chars") >= ReleaseMinChars)
      .select(col("doc_id"), col("n_chars"))
      .join(releaseDropList(spark, dir), Seq("doc_id"), "left_anti"))

  /** Incremental shard delivery (net-new): append a DELTA of new
    * documents to an already-delivered epoch WITHOUT recomputing the
    * epoch permutation — the ingest twin of [[xGlobalShuffle]], pairing
    * with [[graft.queries.DedupQueries.dedupIncremental]]'s
    * delta-vs-index shape (same convention: even doc ids are the
    * delivered base, odd ids the arriving delta). A delta doc's shard
    * is the SAME seeded-md5 bucket the base epoch used (assignment is
    * pure arithmetic on the doc id, so it never depends on what was
    * already delivered), and its position appends after the base
    * shard's tail in key order — base positions are untouched, which
    * is the whole point: re-sharding a 100 TB epoch to admit a day's
    * delta would move every byte; appending moves only the delta.
    * Physically: one window per side over the same (shard, key)
    * ordering + a broadcast of the NumShards-row base tail counts onto
    * the delta — delta-volume work, base crossed once for its counts.
    * The output pins both permutations: `base_digest` must replay the
    * base epoch byte-for-byte (Σ pos·doc_id), `epoch_digest` pins the
    * combined order after the append. */
  def xShardIncremental(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir).select(col("doc_id"))
    shardAppendOf(docs.filter(col("doc_id") % 2 === 0),
      docs.filter(col("doc_id") % 2 === 1))
  }

  /** The delta-append KERNEL behind [[xShardIncremental]] and its
    * streaming twin (`t18_stream_shard_append`): both sides arrive as
    * bare doc-id frames, the seeded key/shard arithmetic and the
    * append-after-tail position assignment live here once. Per-doc
    * independence of the shard/key assignment is what makes the
    * streamed union over micro-batches equal the one-shot batch
    * relation, so both surfaces share one DuckDB oracle. */
  private[graft] def shardAppendOf(base: DataFrame, delta: DataFrame): DataFrame = {
    def keyed(df: DataFrame): DataFrame =
      df.select(col("doc_id"), releaseKey.as("k"), releaseShardId.as("shard_id"))
    val w = Window.partitionBy(col("shard_id")).orderBy(col("k"), col("doc_id"))
    val baseAgg = keyed(base)
      .withColumn("pos", row_number().over(w).cast("long"))
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_base"),
        sum(col("pos") * col("doc_id")).as("base_digest"))
    val deltaAgg = keyed(delta)
      .withColumn("dpos", row_number().over(w).cast("long"))
      .join(broadcast(baseAgg.select(col("shard_id"), col("n_base"))), Seq("shard_id"), "left")
      .groupBy(col("shard_id"))
      .agg(count(lit(1)).as("n_delta"),
        min(when(col("dpos") === 1, col("doc_id"))).as("head_delta_doc"),
        sum((col("dpos") + coalesce(col("n_base"), lit(0L))) * col("doc_id")).as("delta_digest"))
    baseAgg.join(deltaAgg, Seq("shard_id"), "full_outer")
      .select(col("shard_id"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        coalesce(col("base_digest"), lit(0L)).as("base_digest"),
        (coalesce(col("base_digest"), lit(0L)) +
          coalesce(col("delta_digest"), lit(0L))).as("epoch_digest"),
        col("head_delta_doc"))
  }

  /** Hierarchical shard split (net-new): grow the epoch from
    * [[NumShards]] to 2×[[NumShards]] shards WITHOUT a corpus shuffle —
    * the bucket-doubling shape (Hive bucket ×2, Iceberg bucket
    * transforms). The child shard refines the parent's key arithmetic:
    * `child = parent * 2 + (second-hex-char bit)`, so every child
    * draws from exactly ONE parent and a 100 TB re-shard is a
    * per-parent LOCAL pass (each parent's files split into two child
    * file sets; with transform-aware metadata layouts it is
    * metadata-only) instead of an all-to-all exchange. The output pins
    * the split: per child, its parent, its membership count, and the
    * within-child permutation digest (same seeded order as
    * [[xGlobalShuffle]]); the spec closes the cross-query relation —
    * children partition their parent's epoch counts exactly. */
  def xShardSplit(spark: SparkSession, dir: String): DataFrame = {
    val key = releaseKey
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), key.as("k"))
      .select(col("doc_id"), col("k"),
        ((ascii(substring(col("k"), 1, 1)) % NumShards) * 2 +
          ascii(substring(col("k"), 2, 1)) % 2).cast("long").as("child_shard"))
    val pos = row_number()
      .over(Window.partitionBy(col("child_shard")).orderBy(col("k"), col("doc_id")))
      .cast("long")
    d.withColumn("pos", pos)
      .groupBy(col("child_shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("pos") * col("doc_id")).as("order_digest"))
      .select(col("child_shard"), (col("child_shard") / 2).cast("long").as("parent_shard"),
        col("n_docs"), col("order_digest"))
  }

  /** Hierarchical shard MERGE (net-new): the compaction twin of
    * [[xShardSplit]] — coalesce child-shard pairs (2p, 2p+1) back into
    * their parent p, the inverse bucket-halving production epochs run
    * after heavy dedup shrinks shards below trainer-friendly size.
    * Per-parent-LOCAL by the same key arithmetic that made the split
    * local: `parent = child / 2` is a pairwise fan-in — every parent
    * partition draws from exactly its TWO children, never an
    * all-to-all exchange (the one hash exchange here moves each
    * child's rows to one fixed destination; with transform-aware
    * bucket metadata, Hive/Iceberg execute it as a per-pair file-group
    * concat). Within a parent the merged order is (k, doc_id) — the
    * linear interleave of the two children's already-sorted runs, so a
    * 100 TB compaction is a streaming 2-way merge per parent, no
    * re-sort of the epoch. The output pins the inverse relation:
    * per parent, the membership count, the counts drawn from each
    * child half (proving both children were consumed), and the merged
    * permutation digest — which the spec closes against
    * [[xGlobalShuffle]]: merge ∘ split = identity on the epoch
    * (same shards, same counts, same Σ pos·doc_id digests). */
  def xShardMerge(spark: SparkSession, dir: String): DataFrame = {
    val key = releaseKey
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), key.as("k"))
      .select(col("doc_id"), col("k"),
        (ascii(substring(col("k"), 1, 1)) % NumShards).cast("long").as("parent_shard"),
        (ascii(substring(col("k"), 2, 1)) % 2).cast("long").as("child_half"))
    val pos = row_number()
      .over(Window.partitionBy(col("parent_shard")).orderBy(col("k"), col("doc_id")))
      .cast("long")
    d.withColumn("pos", pos)
      .groupBy(col("parent_shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(when(col("child_half") === 0, 1L).otherwise(0L)).as("n_from_even_child"),
        sum(when(col("child_half") === 1, 1L).otherwise(0L)).as("n_from_odd_child"),
        sum(col("pos") * col("doc_id")).as("order_digest"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "x_shard_merge"         -> (xShardMerge _),
    "e2e_shard_release"     -> (e2eShardRelease _),
    "x_global_shuffle"      -> (xGlobalShuffle _),
    "x_shard_incremental"   -> (xShardIncremental _),
    "x_shard_split"         -> (xShardSplit _),
    "x_quantile_select"     -> (xQuantileSelect _),
    "x_corpus_datacard"     -> (xCorpusDatacard _),
    "x_k_anonymity"         -> (xKAnonymity _),
    "x_time_split"          -> (xTimeSplit _),
    "ta_dsir_weights"       -> (taDsirWeights _),
    "ta_pii_redact"         -> (taPiiRedact _),
    "ta_url_dedup"          -> (taUrlDedup _),
    "ta_boilerplate_grams"  -> (taBoilerplateGrams _),
    "x_sample_quota"        -> (xSampleQuota _),
    "ann_diverse_sample"    -> (annDiverseSample _),
    "x_split_assign"        -> (xSplitAssign _),
    "merge_scd2"            -> (mergeScd2 _),
    "x_corpus_mix_weights"  -> (xCorpusMixWeights _),
    "agg_winsorize"         -> (aggWinsorize _),
    "ta_feature_hashing"    -> (taFeatureHashing _),
    "ta_slice_divergence"   -> (taSliceDivergence _),
    "ta_c4_line_filter"     -> (taC4LineFilter _),
    "lm_bigram_score"       -> (lmBigramScore _),
    "sem_dedup"             -> (semDedup _),
    "x_mix_epochs"          -> (xMixEpochs _),
    "agg_robust_zscore"     -> (aggRobustZscore _),
    "e2e_train_manifest"    -> (e2eTrainManifest _),
    "ta_ngram_novelty"      -> (taNgramNovelty _),
  )

  private val duckPii = {
    val email = "(' contact u' || (doc_id % 97)::VARCHAR || '@mail.example.org')"
    val phone = "(' call 555-' || lpad((doc_id % 10000)::VARCHAR, 4, '0'))"
    val ip = ("(' from 10.' || (doc_id % 256)::VARCHAR || '.' || " +
      "((doc_id * 7) % 256)::VARCHAR || '.' || (doc_id % 250)::VARCHAR)")
    (s"text || (CASE WHEN doc_id % 4 = 0 THEN '' ELSE $email END) || " +
     s"(CASE WHEN doc_id % 5 = 0 THEN $phone || $phone ELSE $phone END) || " +
     s"(CASE WHEN doc_id % 7 = 3 THEN '' ELSE $ip END)")
  }

  private val duckEmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val duckIpRe = "([0-9]{1,3}\\.){3}[0-9]{1,3}"

  private val duckCanonUrl = {
    val raw =
      ("'HTTP://' || (CASE WHEN doc_id % 3 = 1 THEN 'cdn.Example.com' " +
       "WHEN doc_id % 3 = 2 THEN 'EXAMPLE.com' ELSE 'Example.COM' END) || " +
       "':80/docs/' || (doc_id % 40)::VARCHAR || " +
       "(CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END) || " +
       "'?utm_source=feed&id=' || (doc_id % 5)::VARCHAR || " +
       "'&utm_campaign=x#sec' || (doc_id % 7)::VARCHAR")
    (s"WITH u AS (SELECT doc_id, $raw AS raw FROM documents), " +
     "nf AS (SELECT doc_id, regexp_replace(raw, '#.*$', '') AS nofrag FROM u), " +
     "parts AS (SELECT doc_id, " +
     "lower(regexp_extract(nofrag, '^([a-zA-Z]+)://', 1)) AS scheme, " +
     "regexp_replace(nofrag, '^[a-zA-Z]+://', '') AS after FROM nf), " +
     "hp AS (SELECT *, regexp_extract(after, '^([^/?#]+)', 1) AS hostport FROM parts), " +
     "pq AS (SELECT *, lower(regexp_replace(hostport, ':80$', '')) AS host, " +
     "substr(after, length(hostport) + 1) AS pathq FROM hp), " +
     "cn AS (SELECT doc_id, scheme || '://' || host || " +
     "regexp_replace(regexp_extract(pathq, '^([^?]*)', 1), '/$', '') || " +
     "(CASE WHEN len(keep) > 0 THEN '?' || array_to_string(keep, '&') ELSE '' END) AS url_canon " +
     "FROM (SELECT *, list_sort(list_filter(string_split(regexp_extract(pathq, '\\?(.*)$', 1), '&'), " +
     "pp -> NOT starts_with(pp, 'utm_') AND pp <> '')) AS keep FROM pq))")
  }

  /** C4 CTE chain through `f` (doc_id, n_lines, n_kept, page_kept,
    * cleaned) — shared by the standalone query and the e2e manifest. */
  private val duckC4Ctes =
    ("w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
     s"base AS (SELECT doc_id, list_transform(generate_series(0, ((len(ws)+${C4LineWords - 1})//$C4LineWords) - 1), li -> " +
     "(CASE WHEN li = 0 AND doc_id % 11 = 5 THEN 'javascript ' ELSE '' END) || " +
     s"array_to_string(list_slice(ws, li*$C4LineWords+1, li*$C4LineWords+$C4LineWords), ' ') || " +
     "(CASE (doc_id*31+li) % 4 WHEN 0 THEN '.' WHEN 1 THEN '!' WHEN 2 THEN '?' ELSE '' END)" +
     ") AS ln0 FROM w), " +
     "lns AS (SELECT doc_id, list_concat(list_concat(ln0, " +
     "CASE WHEN doc_id % 53 = 7 THEN ['lorem ipsum dolor sit amet.'] ELSE []::VARCHAR[] END), " +
     "CASE WHEN doc_id % 47 = 13 THEN ['var f = function() {'] ELSE []::VARCHAR[] END) AS lines FROM base), " +
     "k AS (SELECT doc_id, lines, list_filter(lines, ll -> " +
     s"regexp_matches(ll, '[.!?]$$') AND len(string_split(ll, ' ')) >= $C4MinLineWords " +
     "AND NOT list_contains(string_split(ll, ' '), 'javascript')) AS kept FROM lns), " +
     "f AS (SELECT doc_id, len(lines)::BIGINT AS n_lines, len(kept)::BIGINT AS n_kept, " +
     "(NOT contains(lower(array_to_string(lines, chr(10))), 'lorem ipsum') " +
     "AND NOT contains(array_to_string(lines, chr(10)), '{') " +
     s"AND len(kept) >= $C4MinLines) AS page_kept, " +
     "array_to_string(kept, chr(10)) AS cleaned FROM k)")

  private val duckC4 =
    (s"WITH $duckC4Ctes " +
     "SELECT doc_id, n_lines, n_kept, page_kept, " +
     "CASE WHEN page_kept THEN " + duckPoly61("cleaned") + " ELSE NULL END AS clean_hash FROM f")

  private val duckLmBigram =
    ("WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents), " +
     "ut AS (SELECT doc_id, unnest(ws) AS tok FROM w), " +
     "uh AS (SELECT " + duckPoly61("tok") + " AS h1 FROM ut), " +
     "uc AS (SELECT h1, count(*) AS c1 FROM uh GROUP BY h1), " +
     "vv AS (SELECT count(*)::BIGINT AS v FROM uc), " +
     "bt AS (SELECT doc_id, " +
     "unnest(list_transform(generate_series(1, len(ws)-1), bi -> ws[bi])) AS w1, " +
     "unnest(list_transform(generate_series(1, len(ws)-1), bi -> ws[bi] || ' ' || ws[bi+1])) AS bg FROM w), " +
     "ph AS (SELECT doc_id, " + duckPoly61("w1") + " AS h1, " + duckPoly61("bg") + " AS h12 FROM bt), " +
     "bc AS (SELECT h12, count(*) AS c12 FROM ph GROUP BY h12) " +
     "SELECT p.doc_id, count(*) AS n_bigrams, " +
     "round(avg(ln((c.c12 + 1)::DOUBLE / (u.c1 + (SELECT v FROM vv))::DOUBLE)), 6) AS avg_logp " +
     "FROM ph p JOIN bc c USING (h12) JOIN uc u USING (h1) GROUP BY p.doc_id")

  private val duckSemCos =
    ("list_dot_product(%s::DOUBLE[], %s::DOUBLE[]) / " +
     "(sqrt(list_dot_product(%s::DOUBLE[], %s::DOUBLE[])) * sqrt(list_dot_product(%s::DOUBLE[], %s::DOUBLE[])))")
  private def semCos(a: String, b: String) = duckSemCos.format(a, b, a, a, b, b)

  private val duckSemDedup =
    ("WITH cent AS (SELECT label AS cluster, list(m ORDER BY pos) AS centroid FROM (" +
     "SELECT label, pos, avg(v) AS m FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v, " +
     "generate_subscripts(embedding, 1) AS pos FROM embeddings) GROUP BY label, pos) " +
     "GROUP BY label), " +
     "assigned AS (SELECT vec_id, cluster, embedding FROM (SELECT e.vec_id, e.embedding, c.cluster, " +
     "row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
     semCos("e.embedding", "c.centroid") + " DESC, c.cluster ASC) AS rn " +
     "FROM embeddings e, cent c) WHERE rn = 1), " +
     "p AS (SELECT a.cluster, a.vec_id AS id_a, b.vec_id AS id_b FROM assigned a " +
     "JOIN assigned b ON a.cluster = b.cluster AND a.vec_id < b.vec_id " +
     s"WHERE ${semCos("a.embedding", "b.embedding")} >= ${SimilarityQueries.NearDupThreshold}), " +
     "m AS (SELECT cluster, count(*) AS n_members FROM assigned GROUP BY cluster), " +
     "d AS (SELECT cluster, count(*) AS n_dup_pairs, count(DISTINCT id_b) AS n_dropped FROM p GROUP BY cluster) " +
     "SELECT m.cluster, m.n_members, coalesce(d.n_dup_pairs, 0)::BIGINT AS n_dup_pairs, " +
     "coalesce(d.n_dropped, 0)::BIGINT AS n_dropped, " +
     "(m.n_members - coalesce(d.n_dropped, 0))::BIGINT AS n_kept " +
     "FROM m LEFT JOIN d USING (cluster)")

  private val duckTargetShare =
    ("(CASE WHEN lang = 'en' THEN 0.4 WHEN lang = 'es' THEN 0.2 WHEN lang = 'de' THEN 0.2 " +
     "WHEN lang = 'fr' THEN 0.1 WHEN lang = 'zh' THEN 0.1 ELSE 0.0 END)::DOUBLE")

  private val duckMixEpochs =
    ("WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang), " +
     "t AS (SELECT sum(n_docs) AS n_total FROM counts), " +
     s"w AS (SELECT lang, $duckTargetShare * n_total::DOUBLE / n_docs::DOUBLE AS weight FROM counts, t), " +
     "s AS (SELECT d.doc_id, d.lang, w.weight, 'm' || d.doc_id::VARCHAR AS ms " +
     "FROM documents d JOIN w USING (lang)), " +
     "j AS (SELECT lang, weight, (" + duckPoly61("ms") + " % 1000000)::DOUBLE / 1000000.0 AS fh FROM s), " +
     "e AS (SELECT lang, floor(weight)::BIGINT + (CASE WHEN fh < weight - floor(weight) THEN 1 ELSE 0 END) AS epochs FROM j), " +
     "x AS (SELECT lang, unnest(generate_series(1, epochs)) AS i FROM e), " +
     "o AS (SELECT lang, count(*) AS n_rows_out FROM x GROUP BY lang), " +
     "tt AS (SELECT sum(n_rows_out)::DOUBLE AS t_out FROM o) " +
     "SELECT c.lang, c.n_docs, coalesce(o.n_rows_out, 0)::BIGINT AS n_rows_out, " +
     "round(coalesce(o.n_rows_out, 0)::DOUBLE / (SELECT t_out FROM tt), 6) AS realized_share " +
     "FROM counts c LEFT JOIN o USING (lang)")

  private val duckRobustZscore =
    ("WITH med AS (SELECT event_type, round(quantile_cont(value, 0.5), 6) AS med " +
     "FROM events GROUP BY event_type), " +
     "mad AS (SELECT e.event_type, round(quantile_cont(abs(e.value - m.med), 0.5), 6) AS mad, " +
     "max(m.med) AS med FROM events e JOIN med m USING (event_type) GROUP BY e.event_type) " +
     "SELECT e.event_type, count(*) AS n_events, max(d.med) AS med, max(d.mad) AS mad, " +
     "sum((abs(0.6745 * (e.value - d.med) / d.mad) > 3.5)::BIGINT)::BIGINT AS n_outliers, " +
     "round(avg(CASE WHEN abs(0.6745 * (e.value - d.med) / d.mad) <= 3.5 THEN e.value END), 6) AS mean_inliers " +
     "FROM events e JOIN mad d USING (event_type) GROUP BY e.event_type")

  private val duckManifest = {
    val langs = TargetMix.map { case (l, _) => s"'$l'" }.mkString(", ")
    (s"WITH $duckC4Ctes, " +
     "keep AS (SELECT text, min(doc_id) AS keep_id FROM documents GROUP BY text) " +
     "SELECT split, lang, count(*) AS n_docs, sum(toks)::BIGINT AS n_tokens FROM (" +
     "SELECT (CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END) AS split, " +
     "d.lang, len(string_split(d.text, ' '))::BIGINT AS toks " +
     "FROM (SELECT *, ascii(substr(md5(doc_id::VARCHAR), 1, 1)) % 10 AS b FROM documents) d " +
     "JOIN keep kp ON d.text = kp.text AND d.doc_id = kp.keep_id " +
     "JOIN f ON f.doc_id = d.doc_id " +
     s"WHERE f.page_kept AND d.lang IN ($langs)) " +
     "GROUP BY split, lang")
  }

  val oracle: Map[String, String] = Map(
    "e2e_shard_release" ->
      (s"WITH RECURSIVE ${DedupQueries.duckEdgesCte}, ${DedupQueries.duckCompCte}, " +
       "q AS (SELECT doc_id, len(list_distinct(list_filter(string_split(text, ' '), " +
       "w -> len(w) > 0)))::BIGINT AS quality FROM documents), " +
       "x AS (SELECT c.comp_id, c.node, " +
       "row_number() OVER (PARTITION BY c.comp_id ORDER BY q.quality DESC, c.node ASC) AS rn " +
       "FROM comp c JOIN q ON q.doc_id = c.node), " +
       "keepers AS (SELECT node AS doc_id FROM x WHERE rn = 1), " +
       "members AS (SELECT DISTINCT s AS doc_id FROM edges), " +
       "dropped AS (SELECT doc_id FROM members WHERE doc_id NOT IN (SELECT doc_id FROM keepers)), " +
       s"surv AS (SELECT doc_id, n_chars FROM documents WHERE n_chars >= $ReleaseMinChars " +
       "AND doc_id NOT IN (SELECT doc_id FROM dropped)), " +
       "s AS (SELECT doc_id, n_chars, md5(doc_id::VARCHAR || ':shuf42') AS k, " +
       s"(ascii(substr(md5(doc_id::VARCHAR || ':shuf42'), 1, 1)) % $NumShards)::BIGINT AS shard_id FROM surv), " +
       "p AS (SELECT shard_id, doc_id, n_chars, " +
       "row_number() OVER (PARTITION BY shard_id ORDER BY k, doc_id)::BIGINT AS pos FROM s) " +
       "SELECT shard_id, count(*) AS n_docs, sum(n_chars)::BIGINT AS n_chars_total, " +
       "sum(pos * doc_id)::BIGINT AS order_digest FROM p GROUP BY shard_id"),
    "x_global_shuffle" ->
      ("WITH s AS (SELECT doc_id, md5(doc_id::VARCHAR || ':shuf42') AS k, " +
       s"(ascii(substr(md5(doc_id::VARCHAR || ':shuf42'), 1, 1)) % $NumShards)::BIGINT AS shard_id " +
       "FROM documents), " +
       "p AS (SELECT shard_id, doc_id, " +
       "row_number() OVER (PARTITION BY shard_id ORDER BY k, doc_id)::BIGINT AS pos FROM s) " +
       "SELECT shard_id, count(*) AS n_docs, sum(pos * doc_id)::BIGINT AS order_digest, " +
       "max(CASE WHEN pos = 1 THEN doc_id END) AS head_doc FROM p GROUP BY shard_id"),
    "x_shard_split" ->
      ("WITH s AS (SELECT doc_id, md5(doc_id::VARCHAR || ':shuf42') AS k FROM documents), " +
       s"c AS (SELECT doc_id, k, ((ascii(substr(k, 1, 1)) % $NumShards) * 2 + " +
       "(ascii(substr(k, 2, 1)) % 2))::BIGINT AS child_shard FROM s), " +
       "p AS (SELECT child_shard, doc_id, " +
       "row_number() OVER (PARTITION BY child_shard ORDER BY k, doc_id)::BIGINT AS pos FROM c) " +
       "SELECT child_shard, (child_shard // 2)::BIGINT AS parent_shard, " +
       "count(*) AS n_docs, sum(pos * doc_id)::BIGINT AS order_digest " +
       "FROM p GROUP BY child_shard"),
    "x_shard_merge" ->
      ("WITH s AS (SELECT doc_id, md5(doc_id::VARCHAR || ':shuf42') AS k FROM documents), " +
       s"c AS (SELECT doc_id, k, (ascii(substr(k, 1, 1)) % $NumShards)::BIGINT AS parent_shard, " +
       "(ascii(substr(k, 2, 1)) % 2)::BIGINT AS child_half FROM s), " +
       "p AS (SELECT parent_shard, child_half, doc_id, " +
       "row_number() OVER (PARTITION BY parent_shard ORDER BY k, doc_id)::BIGINT AS pos FROM c) " +
       "SELECT parent_shard, count(*) AS n_docs, " +
       "sum(CASE WHEN child_half = 0 THEN 1 ELSE 0 END)::BIGINT AS n_from_even_child, " +
       "sum(CASE WHEN child_half = 1 THEN 1 ELSE 0 END)::BIGINT AS n_from_odd_child, " +
       "sum(pos * doc_id)::BIGINT AS order_digest FROM p GROUP BY parent_shard"),
    "x_shard_incremental" ->
      ("WITH s AS (SELECT doc_id, md5(doc_id::VARCHAR || ':shuf42') AS k, " +
       s"(ascii(substr(md5(doc_id::VARCHAR || ':shuf42'), 1, 1)) % $NumShards)::BIGINT AS shard_id " +
       "FROM documents), " +
       "b AS (SELECT shard_id, doc_id, " +
       "row_number() OVER (PARTITION BY shard_id ORDER BY k, doc_id)::BIGINT AS pos " +
       "FROM s WHERE doc_id % 2 = 0), " +
       "ba AS (SELECT shard_id, count(*)::BIGINT AS n_base, " +
       "sum(pos * doc_id)::BIGINT AS base_digest FROM b GROUP BY shard_id), " +
       "d AS (SELECT shard_id, doc_id, " +
       "row_number() OVER (PARTITION BY shard_id ORDER BY k, doc_id)::BIGINT AS dpos " +
       "FROM s WHERE doc_id % 2 = 1), " +
       "da AS (SELECT d.shard_id, count(*)::BIGINT AS n_delta, " +
       "min(CASE WHEN d.dpos = 1 THEN d.doc_id END)::BIGINT AS head_delta_doc, " +
       "sum((d.dpos + coalesce(ba.n_base, 0)) * d.doc_id)::BIGINT AS delta_digest " +
       "FROM d LEFT JOIN ba ON d.shard_id = ba.shard_id GROUP BY d.shard_id) " +
       "SELECT coalesce(ba.shard_id, da.shard_id) AS shard_id, " +
       "coalesce(ba.n_base, 0)::BIGINT AS n_base, " +
       "coalesce(da.n_delta, 0)::BIGINT AS n_delta, " +
       "coalesce(ba.base_digest, 0)::BIGINT AS base_digest, " +
       "(coalesce(ba.base_digest, 0) + coalesce(da.delta_digest, 0))::BIGINT AS epoch_digest, " +
       "da.head_delta_doc " +
       "FROM ba FULL OUTER JOIN da ON ba.shard_id = da.shard_id"),
    "x_corpus_datacard" ->
      ("WITH s AS (SELECT lang, source, count(*) AS n_docs, " +
       "sum(len(string_split(text, ' ')))::BIGINT AS n_tokens, " +
       "round(avg(n_chars), 2) AS mean_chars FROM documents GROUP BY 1, 2), " +
       "t AS (SELECT sum(n_docs) AS td, sum(n_tokens) AS tt FROM s) " +
       "SELECT lang, source, n_docs, n_tokens, mean_chars, " +
       "round(n_docs::DOUBLE / t.td, 6) AS doc_share, " +
       "round(n_tokens::DOUBLE / t.tt, 6) AS token_share FROM s, t"),
    "x_k_anonymity" ->
      ("WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day, " +
       "count(DISTINCT user_id) AS n_users FROM events GROUP BY 1, 2), " +
       "r AS (SELECT count(*) AS n_classes, " +
       s"sum(CASE WHEN n_users < $KAnonK THEN 1 ELSE 0 END)::BIGINT AS n_violating, " +
       s"sum(CASE WHEN n_users < $KAnonK THEN n_users ELSE 0 END)::BIGINT AS users_at_risk FROM c) " +
       s"SELECT c.event_type, c.day, c.n_users, c.n_users >= $KAnonK AS anonymous, " +
       "r.n_classes, r.n_violating, r.users_at_risk FROM c, r"),
    "x_time_split" ->
      (s"WITH f AS (SELECT user_id, " +
       s"max(CASE WHEN ts < TIMESTAMP '$TimeSplitCutoff' THEN 1 ELSE 0 END) AS tr, " +
       s"max(CASE WHEN ts >= TIMESTAMP '$TimeSplitCutoff' THEN 1 ELSE 0 END) AS te " +
       "FROM events GROUP BY user_id), " +
       "s AS (SELECT sum(CASE WHEN tr = 1 AND te = 1 THEN 1 ELSE 0 END)::BIGINT AS n_shared_users FROM f) " +
       s"SELECT CASE WHEN ts < TIMESTAMP '$TimeSplitCutoff' THEN 'train' ELSE 'test' END AS split, " +
       "count(*) AS n_events, count(DISTINCT user_id) AS n_users, " +
       "(SELECT n_shared_users FROM s) AS n_shared_users FROM events GROUP BY 1"),
    "ta_ngram_novelty" ->
      ("WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
       "sg AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(w) - 2, 0)), " +
       "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS gs FROM ws), " +
       "gr AS (SELECT doc_id, unnest(list_distinct(list_transform(gs, g -> " +
       duckPoly61("g") + "))) AS gh FROM sg), " +
       "fo AS (SELECT gh, min(doc_id) AS first_doc FROM gr GROUP BY gh) " +
       "SELECT gr.doc_id, count(*) AS n_grams, " +
       "sum((fo.first_doc = gr.doc_id)::BIGINT)::BIGINT AS n_novel, " +
       "round(sum((fo.first_doc = gr.doc_id)::BIGINT)::DOUBLE / count(*)::DOUBLE, 6) AS novelty " +
       "FROM gr JOIN fo USING (gh) GROUP BY gr.doc_id"),
    "ta_dsir_weights" ->
      (s"WITH tk AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok FROM documents), " +
       "tb AS (SELECT doc_id, lang, " + duckPoly61("tok") + s" % $DsirBuckets AS b FROM tk), " +
       "raw AS (SELECT b, count(*) AS c_raw FROM tb GROUP BY b), " +
       "tgt AS (SELECT b, count(*) AS c_tgt FROM tb WHERE lang = 'en' GROUP BY b), " +
       "tot AS (SELECT (SELECT sum(c_raw) FROM raw) AS t_raw, (SELECT sum(c_tgt) FROM tgt) AS t_tgt), " +
       s"lr AS (SELECT r.b, ln((coalesce(g.c_tgt, 0) + $DsirAlpha) / (t.t_tgt + ${DsirAlpha * DsirBuckets})) - " +
       s"ln((r.c_raw + $DsirAlpha) / (t.t_raw + ${DsirAlpha * DsirBuckets})) AS lr " +
       "FROM raw r LEFT JOIN tgt g USING (b), tot t) " +
       "SELECT tb.doc_id, count(*)::BIGINT AS n_tokens, round(avg(l.lr), 6) AS avg_logratio, " +
       "round(avg(l.lr), 6) > 0 AS selected FROM tb JOIN lr l USING (b) GROUP BY tb.doc_id"),
    "e2e_train_manifest" -> duckManifest,
    "x_mix_epochs" -> duckMixEpochs,
    "agg_robust_zscore" -> duckRobustZscore,
    "ta_c4_line_filter" -> duckC4,
    "lm_bigram_score" -> duckLmBigram,
    "sem_dedup" -> duckSemDedup,
    "ta_pii_redact" ->
      (s"WITH p AS (SELECT doc_id, $duckPii AS pii FROM documents), " +
       s"r AS (SELECT doc_id, pii, regexp_replace(regexp_replace(regexp_replace(" +
       s"pii, '$duckEmailRe', '<EMAIL>', 'g'), '555-[0-9]{4}', '<PHONE>', 'g'), " +
       s"'$duckIpRe', '<IP>', 'g') AS red FROM p) " +
       s"SELECT doc_id, " +
       s"len(regexp_extract_all(pii, '$duckEmailRe'))::BIGINT AS n_email, " +
       "len(regexp_extract_all(pii, '555-[0-9]{4}'))::BIGINT AS n_phone, " +
       s"len(regexp_extract_all(pii, '$duckIpRe'))::BIGINT AS n_ip, " +
       "length(red)::BIGINT AS red_len, " +
       duckPoly61("red") + " AS red_hash FROM r"),
    "ta_url_dedup" ->
      (duckCanonUrl +
       " SELECT url_canon, count(*) AS n_rows, min(doc_id) AS min_doc_id " +
       "FROM cn GROUP BY url_canon"),
    "ta_boilerplate_grams" ->
      ("WITH ws AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents), " +
       "sg AS (SELECT doc_id, list_transform(generate_series(1, greatest(len(w) - 2, 0)), " +
       "i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) AS gs FROM ws), " +
       "gr AS (SELECT doc_id, unnest(list_distinct(list_transform(gs, g -> " +
       duckPoly61("g") + "))) AS gh FROM sg), " +
       "boiler AS (SELECT gh FROM (SELECT gh, count(*) AS df FROM gr GROUP BY gh) " +
       "WHERE df * 100 >= (SELECT count(*) FROM documents) AND df >= 3) " +
       "SELECT gr.doc_id, count(*) AS n_grams, " +
       "sum((gr.gh IN (SELECT gh FROM boiler))::BIGINT)::BIGINT AS n_boiler, " +
       "round(sum((gr.gh IN (SELECT gh FROM boiler))::BIGINT)::DOUBLE / count(*)::DOUBLE, 6) AS boiler_frac " +
       "FROM gr GROUP BY gr.doc_id"),
    // threshold pinned at 6 dp in both engines; integer scores keep the
    // >= comparison away from any interpolation boundary
    "x_quantile_select" ->
      ("WITH s AS (SELECT doc_id, lang, len(string_split(text, ' '))::DOUBLE AS q FROM documents), " +
       s"t AS (SELECT lang, round(quantile_cont(q, $QuantileCut), 6) AS thr, " +
       "count(*) AS n_scored FROM s GROUP BY lang) " +
       "SELECT s.lang, max(t.n_scored) AS n_scored, count(*) AS n_kept, " +
       "round(max(t.thr), 6) AS thr, round(min(s.q), 6) AS min_kept_q " +
       "FROM s JOIN t ON s.lang = t.lang WHERE s.q >= t.thr GROUP BY s.lang"),
    "x_sample_quota" ->
      ("WITH h AS (SELECT doc_id, lang, " + duckPoly61("s") + " AS h " +
       "FROM (SELECT doc_id, lang, 'q' || doc_id::VARCHAR AS s FROM documents)) " +
       "SELECT lang, doc_id, h FROM (SELECT lang, doc_id, h, " +
       "row_number() OVER (PARTITION BY lang ORDER BY h ASC, doc_id ASC) AS rn FROM h) " +
       s"WHERE rn <= $QuotaK"),
    "ann_diverse_sample" ->
      ("WITH cent AS (SELECT label AS cluster, list(m ORDER BY pos) AS centroid FROM (" +
       "SELECT label, pos, avg(v) AS m FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v, " +
       "generate_subscripts(embedding, 1) AS pos FROM embeddings) GROUP BY label, pos) " +
       "GROUP BY label), " +
       "assigned AS (SELECT vec_id, cluster FROM (SELECT e.vec_id, c.cluster, " +
       "row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
       "list_dot_product(e.embedding::DOUBLE[], c.centroid) / " +
       "(sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) * " +
       "sqrt(list_dot_product(c.centroid, c.centroid))) DESC, c.cluster ASC) AS rn " +
       "FROM embeddings e, cent c) WHERE rn = 1), " +
       "hashed AS (SELECT cluster, vec_id, " + duckPoly61("s") + " AS h FROM " +
       "(SELECT cluster, vec_id, 'd' || vec_id::VARCHAR AS s FROM assigned)) " +
       "SELECT cluster, vec_id, rk FROM (SELECT cluster, vec_id, " +
       "row_number() OVER (PARTITION BY cluster ORDER BY h ASC, vec_id ASC)::BIGINT AS rk " +
       s"FROM hashed) WHERE rk <= $DiverseCap"),
    "x_split_assign" ->
      ("SELECT lang, (CASE WHEN b <= 7 THEN 'train' WHEN b = 8 THEN 'val' ELSE 'test' END) AS split, " +
       "count(*) AS n_docs, sum(n_chars)::BIGINT AS sum_chars FROM " +
       "(SELECT lang, n_chars, ascii(substr(md5(doc_id::VARCHAR), 1, 1)) % 10 AS b FROM documents) " +
       "GROUP BY lang, split"),
    "x_corpus_mix_weights" ->
      ("WITH counts AS (SELECT lang, count(*) AS n_docs FROM documents GROUP BY lang), " +
       "t AS (SELECT sum(n_docs) AS n_total FROM counts), " +
       "m AS (SELECT lang, n_docs, n_total, " +
       "(CASE WHEN lang = 'en' THEN 0.4 WHEN lang = 'es' THEN 0.2 WHEN lang = 'de' THEN 0.2 " +
       "WHEN lang = 'fr' THEN 0.1 WHEN lang = 'zh' THEN 0.1 ELSE 0.0 END)::DOUBLE AS target_share " +
       "FROM counts, t) " +
       "SELECT lang, n_docs::BIGINT AS n_docs, " +
       "round(n_docs::DOUBLE / n_total::DOUBLE, 6) AS actual_share, target_share, " +
       "round(target_share * n_total::DOUBLE / n_docs::DOUBLE, 6) AS weight, " +
       "round(target_share * 1000)::BIGINT AS epoch_docs FROM m"),
    "agg_winsorize" ->
      ("WITH pct AS (SELECT event_type, round(quantile_cont(value, 0.01), 6) AS lo, " +
       "round(quantile_cont(value, 0.99), 6) AS hi FROM events GROUP BY event_type) " +
       "SELECT e.event_type, count(*) AS n_events, " +
       "sum((e.value < p.lo OR e.value > p.hi)::BIGINT)::BIGINT AS n_clipped, " +
       "round(avg(e.value), 6) AS mean_raw, " +
       "round(avg(greatest(p.lo, least(p.hi, e.value))), 6) AS mean_winsor, " +
       "round(min(greatest(p.lo, least(p.hi, e.value))), 6) AS min_winsor, " +
       "round(max(greatest(p.lo, least(p.hi, e.value))), 6) AS max_winsor " +
       "FROM events e JOIN pct p USING (event_type) GROUP BY e.event_type"),
    "ta_slice_divergence" ->
      ("WITH tok AS (SELECT lang, unnest(string_split(text, ' ')) AS tok FROM documents), " +
       "ft AS (SELECT lang, tok FROM tok WHERE tok <> ''), " +
       "lt AS (SELECT lang, tok, count(*) AS n_lt FROM ft GROUP BY lang, tok), " +
       "l AS (SELECT lang, sum(n_lt) AS n_l FROM lt GROUP BY lang), " +
       "t AS (SELECT tok, sum(n_lt) AS n_t FROM lt GROUP BY tok), " +
       "tot AS (SELECT count(*)::DOUBLE AS n FROM ft) " +
       "SELECT lt.lang, max(l.n_l)::BIGINT AS n_tokens, " +
       "round(sum((lt.n_lt::DOUBLE / l.n_l::DOUBLE) * " +
       "ln((lt.n_lt::DOUBLE / l.n_l::DOUBLE) / (t.n_t::DOUBLE / (SELECT n FROM tot)))), 6) AS kl_vs_corpus " +
       "FROM lt JOIN l USING (lang) JOIN t USING (tok) GROUP BY lt.lang"),
    "ta_feature_hashing" ->
      ("WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents), " +
       "b AS (SELECT doc_id, " + duckPoly61("tok") + s" % $HashBuckets AS bucket " +
       "FROM tok WHERE tok <> '') " +
       "SELECT bucket, count(*) AS n_tokens, count(DISTINCT doc_id) AS n_docs " +
       "FROM b GROUP BY bucket"),
    "merge_scd2" ->
      ("WITH c AS (SELECT user_id, ts, event_type, event_id, " +
       "lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev FROM events), " +
       "chg AS (SELECT user_id, ts, event_type, event_id FROM c " +
       "WHERE prev IS NULL OR prev <> event_type), " +
       "iv AS (SELECT user_id, event_type, ts AS valid_from, " +
       "lead(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS valid_to FROM chg) " +
       "SELECT user_id, event_type, valid_from, valid_to, (valid_to IS NULL) AS is_current FROM iv"),
  )
}
