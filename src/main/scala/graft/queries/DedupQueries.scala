package graft.queries

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.Tables
import graft.ops.Dedup._
import graft.expr.hashfunctions.simhash64

/** Deduplication pack over `documents` (SURVEY §7 north-star): exact
  * hash-groupBy, n-gram Jaccard (exact baseline, oracle-verified),
  * MinHash+LSH banding (the 100 TB path), and SimHash hamming pairs
  * via the custom `simhash64` codegen expression.
  */
object DedupQueries {

  val ShingleN = 3
  val JaccardThreshold = 0.7
  val MinhashPerms = 32
  val Bands = 8 // 8 bands x 4 rows: P[candidate] = 1-(1-j^4)^8 ≈ 1 at j≥0.7
  val SimhashMaxHamming = 6
  val MinhashSeed = 42L
  /** The modulus both engines fold band keys under (see [[duckBand]]). */
  private val BandMod = 1000000007L

  /** The 32 affine "permutations" a·h+b (odd a): generated ONCE at
    * object init from the pinned seed, shared by the Spark query and
    * the DuckDB oracle string — the coefficients are literals in both
    * plans, so the two engines run the byte-identical minhash. */
  private[graft] val MinhashCoefs: Array[(Long, Long)] = {
    val rnd = new scala.util.Random(MinhashSeed)
    Array.fill(MinhashPerms)(
      (rnd.nextInt(Int.MaxValue).toLong | 1L, rnd.nextInt(Int.MaxValue).toLong))
  }

  /** Persisted 1-row-per-doc hashed-shingle table shared by the
    * branches of each dedup pipeline (candidate generation and exact
    * verify both consume it — one cache, not two identical ones).
    *
    * Shingling + hashing is ONE fused codegen'd expression
    * ([[graft.expr.TextHash.wordGramPoly61]]): no gram strings, no
    * intermediate array, no interpreted per-element lambdas — the
    * scan-stage shape that matters when this runs over 100 TB of text.
    * The short-doc filter stays in the cheap token-count form BEFORE
    * the hash projection so it pushes down to a single split call. */
  private[graft] def shingleTable(spark: SparkSession, dir: String): DataFrame =
    graft.Materialize.cached(shingleDocs(Tables.documents(spark, dir)))

  /** A1/exact dedup: sha256 content digest → canonical (min) doc_id +
    * group size. One hash-shuffle on the digest. */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    // unpinned scan (r15): the only scan-side work is one sha2 per row,
    // so the redistributed fact scan was a full-corpus shuffle of the
    // text column to parallelize ~milliseconds of hashing; the digest
    // groupBy's partial-agg exchange (digest, min, count — no text)
    // parallelizes the aggregation at any scale
    Tables.documentsUnpinned(spark, dir)
      .groupBy(sha2(col("text"), 256).as("digest"))
      .agg(min(col("doc_id")).as("keeper_id"), count(lit(1)).as("n_copies"))
      .select(col("digest"), col("keeper_id"), col("n_copies"))

  /** Exact 3-gram Jaccard near-dup pairs via a PREFIX-FILTERED
    * inverted-index join (PPJoin-style, Xiao et al. 2008): index each
    * doc by only the first `sz - ceil(t·sz) + 1` shingles in a global
    * canonical order (sorted 64-bit hashes). Two sets with J ≥ t share
    * ≥ ceil(t·max(szA,szB)) elements, and any two sets with overlap
    * ≥ α must collide within their (sz-α+1)-prefixes — so the prefix
    * join yields a guaranteed superset of qualifying pairs at ~(1-t) of
    * the postings volume (~10x fewer candidate pairs at t=0.7 than the
    * full inverted index). Candidates are then verified EXACTLY with
    * one array_intersect per pair. Hashing shingles to 64-bit keys cuts
    * shuffle volume ~3x; collision odds over the distinct-shingle
    * universe are ~2^-40 (and the oracle would catch one). */
  def dedupNgramJaccard(spark: SparkSession, dir: String): DataFrame =
    ngramPairsFrom(shingleTable(spark, dir))

  /** Rarest-first canonical shingle order (the PPJoin+ prefix
    * optimization, Xiao et al. 2008 §4): reorder each doc's shingle
    * array by ascending GLOBAL document frequency, ties by hash. The
    * prefix-filter theorem only needs a total order every doc agrees
    * on; choosing df-ascending puts the globally RAREST shingles in
    * each prefix, so the prefix posting lists the candidate join fans
    * out over are the SHORTEST ones. On corpora with hot shingles
    * (boilerplate 3-grams — exactly the 100 TB failure mode) hash
    * order scatters hot shingles uniformly into prefixes; df order
    * evicts them. Cost: one df aggregate over the postings plus one
    * per-doc (df, hash) re-sort — linear passes over volume the
    * candidate join already shuffles once. Verification is
    * order-independent, so the output pair set is IDENTICAL
    * (spec-measured: fewer candidates, same pairs). */
  /** Global shingle → document frequency — the rarest-first ordering
    * statistic (per-doc shingles are distinct, so count = doc count). */
  private[graft] def shingleDfreq(sh: DataFrame): DataFrame =
    sh.select(explode(col("hs")).as("shingle"))
      .groupBy(col("shingle")).agg(count(lit(1)).as("df"))

  private[graft] def rarestFirst(sh: DataFrame): DataFrame = {
    val post = sh.select(col("doc_id"), explode(col("hs")).as("shingle"))
    val dfreq = shingleDfreq(sh)
    post.join(dfreq, "shingle")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ds"))
      .select(col("doc_id"), transform(col("ds"), _.getField("shingle")).as("hs"))
  }

  /** PPJoin candidate pairs over an `ordered` (doc_id, hs) table whose
    * arrays are all sorted by ONE shared total order — the prefix,
    * size and positional filters all run before the distinct shuffle.
    * See [[dedupNgramJaccard]] for the theorem text. */
  private[graft] def ppjoinCandidates(ordered: DataFrame): DataFrame = {
    val withSz = ordered.select(col("doc_id"), col("hs"), size(col("hs")).as("sz"))
    val plen = (col("sz") - ceil(col("sz") * lit(JaccardThreshold)).cast("int")) + 1
    // posexplode keeps each prefix shingle's 1-based rank for the
    // positional filter below
    val ex = withSz.select(col("doc_id"), col("sz"),
      posexplode(slice(col("hs"), lit(1), plen)).as(Seq("pos0", "shingle")))
      .select(col("doc_id"), col("sz"), (col("pos0") + 1).as("pos"), col("shingle"))
    val a = ex.select(col("shingle"), col("doc_id").as("id_a"), col("sz").as("sz_a"), col("pos").as("pos_a"))
    val b = ex.select(col("shingle"), col("doc_id").as("id_b"), col("sz").as("sz_b"), col("pos").as("pos_b"))
    // size prefilter: j >= t implies min(sz)/max(sz) >= t
    // (j = I/(A+B-I) <= min/max). Positional filter (PPJoin): a match
    // at sorted ranks (pa, pb) bounds the achievable overlap by
    // min(szA-pa, szB-pb)+1 — this match plus everything after it —
    // which must reach α = ceil(t/(1+t)·(szA+szB)), the overlap J >= t
    // requires. Both prune candidates BEFORE the distinct shuffle.
    val alpha = ceil(lit(JaccardThreshold / (1 + JaccardThreshold)) * (col("sz_a") + col("sz_b")))
    a.join(b, Seq("shingle"))
      .filter(col("id_a") < col("id_b") &&
        col("sz_b").cast("double") >= col("sz_a") * JaccardThreshold &&
        col("sz_a").cast("double") >= col("sz_b") * JaccardThreshold &&
        (least(col("sz_a") - col("pos_a"), col("sz_b") - col("pos_b")) + 1) >= alpha)
      .select(col("id_a"), col("id_b")).distinct()
  }

  private def ngramPairsFrom(sh: DataFrame): DataFrame = {
    // candidates under the rarest-first order; exact verify per
    // candidate pair against the original hash-sorted arrays
    // (array_intersect is order-independent) — shuffle joins keyed on
    // doc_id (linear in candidates; the 100 TB shape, and no
    // driver-side collect of the persisted shingle table).
    // rarestFirst is persisted: its df-join + per-doc re-sort subtree sits
    // on BOTH sides of the prefix self-join, and exchange reuse is not
    // guaranteed to cover it once AQE re-plans.
    ppjoinCandidates(graft.Materialize.cached(rarestFirst(sh)))
      .join(sh.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("double"))
      .withColumn("j", col("inter") /
        (size(col("hs_a")) + size(col("hs_b")) - col("inter")).cast("double"))
      .filter(col("j") >= JaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))
  }

  /** Exact near-dup pairs, computed ONCE per (JVM, data dir): the pair
    * table is the shared INPUT of the whole graph/recall pack — k-core,
    * canonical pick, triangles, PageRank, components, and both recall
    * contracts all consume the same (id_a, id_b) set, and each used to
    * re-run the full PPJoin pipeline from the raw corpus (8 identical
    * passes per Verify/Bench session) — see [[graft.SessionMemo]].
    * [[dedupNgramJaccard]] itself stays on the live pipeline — it IS
    * the measurement of pair generation. */
  private[graft] def exactPairs(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.parquet(spark, "exact_pairs", dir)(
      ngramPairsFrom(shingleTable(spark, dir)))

  /** MinHash+LSH: signature → bands → bucket equi-join → exact verify.
    * Every step (poly61 shingle hash, affine perms, folded band keys)
    * has an exact DuckDB twin, so the driver hash-checks the full
    * pipeline; recall vs the exact baseline is ALSO asserted in
    * DedupQueriesSpec and oracle-enforced via dedup_minhash_recall.
    * The REGISTERED query runs the live pipeline — it IS the
    * measurement of LSH pair generation; consumers that only need the
    * pair set read [[minhashPairsArtifact]] instead (memoizing the
    * registered entry would turn the benchmark into a parquet read
    * for every invocation after the first). */
  def dedupMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairsFrom(shingleTable(spark, dir))

  /** The session-memoized MinHash pair ARTIFACT (see
    * [[graft.SessionMemo]]): the recall contract and any downstream
    * consumer fan out from this one materialization, the way a
    * production pipeline shares a persisted pair table. */
  private[graft] def minhashPairsArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.parquet(spark, "minhash_pairs", dir)(
      minhashPairsFrom(shingleTable(spark, dir)))

  /** Hot-bucket occupancy fence for the MinHash band join (df-style
    * cap, the PPJoin document-frequency trade applied to LSH buckets):
    * a band bucket holding more than [[BandBucketCap]] docs is dropped
    * from the candidate join — a low-entropy corpus (boilerplate pages,
    * constant-band degenerate text) otherwise turns ONE bucket into an
    * occ²/2 pair explosion that no later filter can undo. What a
    * dropped bucket can lose: pairs findable ONLY through that bucket —
    * at cap occupancy those members are overwhelmingly exact/near-exact
    * duplicates, which the exact-digest dedup family catches upstream
    * of any LSH pass (the production pipeline runs dedup_exact first).
    * The cap is mirrored VERBATIM in the DuckDB oracle (same named
    * constant), and it never triggers on the harness corpora (max band
    * occupancy 21 at sf0.1, OccProbe r11; DedupQueriesSpec pins the
    * gate SFs ≤ cap/4) — the fence spec drives it with a small cap on
    * an adversarial corpus instead ([[minhashCandidates]]). */
  val BandBucketCap = 4096

  private def minhashPairsFrom(sh: DataFrame): DataFrame = {
    // the (doc_id, band_val) index is MATERIALIZED once (r15): it sits
    // on THREE sides of the candidate stage (occupancy census + both
    // legs of the bucket self-join), and each un-cached reference
    // re-ran the signature build — corpus scan, shingle explode, and
    // the 32-permutation min-aggregation exchange (the pipeline's only
    // corpus-sized shuffle). 16 band rows × 16 bytes per doc is the
    // stored-index footprint a production LSH pipeline persists anyway
    // (the dedupIncremental scaladoc's "stored table" IS this).
    val banded = graft.Materialize.cached(bandedDocs(sh))
    verifyAgainst(minhashCandidates(banded, BandBucketCap), sh)
  }

  /** Candidate stage of [[minhashPairsFrom]], parameterized by the
    * occupancy cap so the fence spec can measure the adversarial case.
    * The occupancy agg shares the join's band_val partitioning (one
    * logical shuffle; AQE reuses the exchange). */
  private[graft] def minhashCandidates(banded: DataFrame, cap: Int): DataFrame = {
    val cold = banded.groupBy(col("band_val"))
      .agg(count(lit(1)).as("occ"))
      .filter(col("occ") <= cap)
      .select(col("band_val"))
    val kept = banded.join(cold, Seq("band_val"))
    val a = kept.select(col("band_val"), col("doc_id").as("id_a"))
    val b = kept.select(col("band_val"), col("doc_id").as("id_b"))
    a.join(b, Seq("band_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
  }

  /** (doc_id, band_val) LSH bucket keys for every doc of a shingle
    * table — the shared index layer under the batch pair join and the
    * incremental delta-vs-index join.
    *
    * One base hash per (doc, shingle) row; the 32 "permutations" are
    * affine maps a*h+b (odd a) min-aggregated in a SINGLE shuffle on
    * doc_id — avoids re-evaluating the shingle transform per
    * permutation (a 32x expression-inlining blow-up in the naive
    * array-expression form).
    * poly61 gives 60 bits; >> 29 keeps 31 — a 31-bit hash x 31-bit odd
    * multiplier stays within Long (ANSI mode forbids overflow), and 31
    * bits of min-hash resolution is ample.
    *
    * One folded long per band (band index is the fold seed) instead of
    * a concat_ws string: the candidate join shuffles and compares a
    * single long, and the modular fold — unlike xxhash64 — is
    * expressible in the DuckDB oracle. A cross-band fold collision can
    * only ADD a candidate pair, which the exact verify rejects — and
    * the oracle replays the identical fold, so parity is exact. */
  private[graft] def bandedDocs(sh: DataFrame): DataFrame = {
    val ex = sh.select(col("doc_id"), explode(col("hs")).as("shash"))
      .withColumn("h", shiftrightunsigned(col("shash"), 29))
    val sigCols = MinhashCoefs.zipWithIndex.map { case ((a, b), i) =>
      min(col("h") * lit(a) + lit(b)).as(s"s_$i")
    }
    val sig = ex.groupBy(col("doc_id")).agg(sigCols.head, sigCols.tail: _*)
    sig.select(col("doc_id"), bandVal)
  }

  /** `band_val`: one row per band, the band's signature columns
    * `s_<i>` folded into one long (see [[bandedDocs]]). */
  private def bandVal: org.apache.spark.sql.Column = {
    val rows = MinhashPerms / Bands
    explode(array((0 until Bands).map { bi =>
      (0 until rows).foldLeft(lit(bi.toLong): org.apache.spark.sql.Column) { (acc, r) =>
        (acc * 131L + (col(s"s_${bi * rows + r}") % BandMod)) % BandMod
      }
    }: _*)).as("band_val")
  }

  /** Incremental dedup (net-new): check only a DELTA of new documents
    * against an existing INDEX — the shape a production pipeline runs
    * on every ingest batch, where re-deduplicating the whole corpus
    * (index × index) would redo quadratically-growing work for
    * nothing. Here the corpus splits deterministically by doc_id
    * parity (odd = delta, even = index); both sides band through the
    * identical MinHash layer ([[bandedDocs]]) and the candidate join
    * is DELTA bands × INDEX bands only. At 100 TB the index side's
    * (doc, band) keys are a stored table partitioned by band — each
    * ingest batch shuffles only its own bands against it, never
    * index × index. Exact verify on candidates, same as the batch
    * pipeline; the streaming twin (cross-batch bucket state) is
    * t7_stream_lsh_dedup. */
  def dedupIncremental(spark: SparkSession, dir: String): DataFrame = {
    val sh = shingleTable(spark, dir)
    // the delta and index legs are two filters of ONE band index —
    // uncached, each leg re-ran the full signature build
    val banded = graft.Materialize.cached(bandedDocs(sh))
    val delta = banded.filter(col("doc_id") % 2 === 1)
      .select(col("band_val"), col("doc_id").as("id_a"))
    val index = banded.filter(col("doc_id") % 2 === 0)
      .select(col("band_val"), col("doc_id").as("id_b"))
    val cand = delta.join(index, Seq("band_val"))
      .select(col("id_a"), col("id_b")).distinct()
    verifyAgainst(cand, sh)
      .select(col("id_a").as("new_doc"), col("id_b").as("index_doc"), col("jaccard"))
  }

  /** Exact verify on candidate pairs only — shuffle joins keyed on
    * doc_id (the 100 TB shape: linear in candidates, no driver-side
    * collect of the shingle table; broadcasting the persisted frame
    * also proved stall-prone in long benchmark sessions). Shared by the
    * batch LSH pipeline and the streaming bucket-state form. */
  private def verifyAgainst(cand: DataFrame, sh: DataFrame): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .withColumn("j", jaccard(col("hs_a"), col("hs_b")))
      .filter(col("j") >= JaccardThreshold)
      .select(col("id_a"), col("id_b"), round(col("j"), 6).as("jaccard"))

  /** Exact-verify a STREAMED candidate set against this dir's shingle
    * table (the batch side of the streaming LSH dedup). */
  private[graft] def verifyPairs(spark: SparkSession, dir: String, cand: DataFrame): DataFrame =
    verifyAgainst(cand.select(col("id_a"), col("id_b")).distinct(), shingleTable(spark, dir))

  /** PROJECTION-ONLY banded docs for STREAMING input: per-row minhash
    * signature via array HOFs over the bound `hs` attribute — no
    * groupBy, so it runs stateless inside a streaming microbatch (the
    * batch form explodes + min-aggregates instead, trading a shuffle
    * for partial aggregation on the big corpus). Identical band values
    * to the batch pipeline — same hashes, same affine coefficients,
    * same fold. Emits (band_val, doc_id). */
  private[graft] def streamBandedDocs(docs: DataFrame): DataFrame = {
    val sigCols = MinhashCoefs.zipWithIndex.map { case ((a, b), i) =>
      array_min(transform(col("hs"), h => shiftrightunsigned(h, 29) * a + b)).as(s"s_$i")
    }
    val sig = shingleDocs(docs).select(col("doc_id") +: sigCols.toIndexedSeq: _*)
    sig.select(bandVal, col("doc_id"))
  }

  /** SimHash near-dup pairs within hamming <= 6, via PIGEONHOLE
    * bucketing (the scale shape, not a crossJoin): split each 64-bit
    * fingerprint into 8 byte chunks — two prints within hamming 6 < 8
    * differ in at most 6 chunks, so AT LEAST one chunk matches exactly
    * (Charikar/Manku-style chunked simhash dedup). Equi-join on
    * (chunk_idx, chunk_val) yields a guaranteed-complete candidate set
    * at ~8x row fan-out; the exact hamming filter then verifies
    * candidates only. Same results as the all-pairs form (the recall
    * oracle and spec pin it), but the join shuffles on a uniformly
    * distributed key instead of materializing N²/2 pairs.
    *
    * The REGISTERED query runs the live pipeline (it is the benchmark
    * of simhash pair generation, regardless of bench ordering); the
    * recall contract reads [[simhashPairsArtifact]]. */
  def dedupSimhash(spark: SparkSession, dir: String): DataFrame =
    simhashPairsLive(spark, dir)

  /** Session-memoized simhash pair ARTIFACT for downstream consumers
    * ([[dedupSimhashRecall]]) — same sharing shape as
    * [[minhashPairsArtifact]]. */
  private[graft] def simhashPairsArtifact(spark: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.parquet(spark, "simhash_pairs", dir)(
      simhashPairsLive(spark, dir))

  /** Hot-bucket escalation threshold for the simhash pigeonhole join.
    * Unlike the MinHash cap, this fence is EXACT: two prints within
    * hamming ≤ [[SimhashMaxHamming]] = 6 over 8 chunks agree on AT
    * LEAST TWO chunks (8 − 6), so a bucket hotter than the cap can
    * escalate its members to two-chunk keys — every true pair inside
    * the hot bucket still shares a second chunk and surfaces through
    * the (chunk, chunk₂) join — instead of expanding occ²/2 one-key
    * candidates. Output is provably identical to the all-pairs
    * relation, so the DuckDB all-pairs oracle keeps checking it, cap
    * triggered or not. Occupancy census (OccProbe, r11): under the old
    * BYTE-ALIGNED chunks the majority-amplified high print bits made
    * bucket (7,1) hold 4533/5000 docs at sf0.1 and the escalation's
    * two-chunk joins went quadratic at 10× — the INTERLEAVED layout
    * ([[simhashChunkExprs]]) dispersed that; the harness corpora now
    * sit far below the cap at every SF (DedupQueriesSpec pins the gate
    * SFs ≤ cap/4), and the fence spec drives the escalation with a
    * tiny cap on adversarial constant-chunk corpora
    * ([[simhashCandidates]]). */
  val SimhashBucketCap = 1024

  /** ENTROPY-RANKED chunk layout for the live pipeline: one cheap
    * aggregation pass counts each print bit's set fraction, bits are
    * ranked by balance (|frac − ½|) and dealt round-robin across the 8
    * chunks — so every chunk gets its share of the corpus's genuinely
    * discriminating bits instead of a run of majority-amplified
    * near-constant ones. On a homogeneous corpus (shared vocabulary ⇒
    * corpus-wide print-bit bias, the r11 scale finding) this is what
    * keeps bucket fractions small: the static interleave still left a
    * 43%-occupancy bucket at sf0.1 because SPECIFIC bit positions are
    * biased, which no position-oblivious layout can know. The pass is
    * a 1-row bounded collect; at 100 TB it is one partial-agg scan of
    * the (already materialized) print column, and the resulting 60-int
    * assignment rides the plan as literals. Deterministic given the
    * corpus (stable sort, ties by bit index); candidate keys only —
    * hamming, verify, and the all-pairs oracle never see the layout.
    *
    * The stats pass ([[simhashBitRanking]]) runs ONCE per (corpus dir,
    * JVM): the ranking is a pure function of the corpus, so the live
    * pipeline memoizes the 60-int order via [[graft.SessionMemo.value]]
    * (VERDICT r11 #2) and passes it here — repeat invocations (bench
    * repeats, the recall artifact, specs) reuse it instead of
    * re-scanning the print column. An EMPTY corpus has no ranking
    * (sum() is null over zero rows — the r11 ADVICE NPE); it falls back
    * to the static interleave, whose candidate set over zero docs is
    * identically empty. */
  private[graft] def simhashLayout(ranking: Option[Seq[Int]]): Seq[org.apache.spark.sql.Column] =
    ranking.map { ranked =>
      (0 until 8).map { c =>
        ranked.zipWithIndex.filter(_._2 % 8 == c).map { case (bit, r) =>
          shiftrightunsigned(col("sh"), bit).bitwiseAND(lit(1L)) * lit(1L << (r / 8))
        }.reduce(_ + _)
      }
    }.getOrElse(simhashChunkExprs(col("sh")))

  /** The stats pass: print bits ranked by balance (|set fraction − ½|,
    * most balanced first, ties by bit index). None on an empty corpus. */
  private[graft] def simhashBitRanking(s: DataFrame): Option[Seq[Int]] = {
    val aggs = (0 until 60).map(b =>
      sum(shiftrightunsigned(col("sh"), b).bitwiseAND(lit(1L))).as(s"b$b")) :+
      count(lit(1)).as("n")
    val row = s.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = row.getLong(60)
    if (n == 0) None
    else Some((0 until 60).sortBy(b => math.abs(row.getLong(b) - n / 2.0)))
  }

  private def simhashPairsLive(spark: SparkSession, dir: String): DataFrame = {
    // read by the bit-ranking stats and both bucket-join branches
    val s = graft.Materialize.cached(Tables.documents(spark, dir)
      .select(col("doc_id"), simhash64(split(col("text"), " ")).as("sh")))
    val layout = simhashLayout(
      graft.SessionMemo.value("simhash_bit_ranking", dir)(simhashBitRanking(s)))
    simhashVerifiedPairs(s, SimhashBucketCap, layout)
  }

  /** Candidate stage of the simhash pipeline over a (doc_id, sh)
    * fingerprint frame, with the two-level pigeonhole fence:
    *
    *  - COLD buckets (occupancy ≤ cap) self-join on (chunk_idx,
    *    chunk_val) — the plain one-match pigeonhole, as before.
    *  - HOT buckets escalate: each member re-keys by (hot chunk,
    *    EVERY OTHER chunk) — 7 rows per membership — and the self-join
    *    runs on the four-column two-chunk key. Completeness: a true
    *    pair (hamming ≤ 6) matches on ≥ 2 of 8 chunks; if any matching
    *    chunk's bucket is cold the cold path finds it, otherwise both
    *    are hot and the pair shares (hot chunk i, second chunk j ≠ i).
    *    A second escalation level has nothing to exploit (pairs are
    *    only guaranteed TWO matches), and a corpus degenerate past
    *    two-chunk keys has a genuinely quadratic TRUE-pair set —
    *    bounded work relative to output is the best any scheme gets.
    *
    * The occupancy table is at most 8 × 256 = 2048 rows regardless of
    * corpus size (one byte per chunk), so the hot/cold tagging join
    * broadcasts — the fence costs one tiny agg, no extra fact shuffle. */
  /** The pigeonhole chunk layout: 8 INTERLEAVED bit groups — chunk i
    * gathers print bits {i, i+8, i+16, ...} (< 60), packed low-to-high.
    * NOT byte-aligned: the 60-bit simhash print's high bits are
    * majority-amplified from slightly-biased poly61 token-hash bits,
    * so several print bits are near-CONSTANT corpus-wide and a
    * byte-aligned chunk that concentrates them becomes one Ω(N)
    * mega-bucket — measured at sf0.1: byte chunk (7,1) held 4533/5000
    * docs, and at 10× the escalation's two-chunk joins went quadratic
    * (150 s isolated; the r11 scale-curve finding). Interleaving
    * spreads the ≤1-2 biased bits across all 8 chunks, so bucket
    * occupancy is driven by the uniform low bits. Pigeonhole
    * completeness is untouched: the chunks still PARTITION the 60
    * hamming bits, so hamming ≤ 6 still forces agreement on ≥ 2 of 8.
    * The oracle needs no twin — it checks the all-pairs hamming
    * relation, not the candidate keys. */
  private[graft] def simhashChunkExprs(sh: org.apache.spark.sql.Column): Seq[org.apache.spark.sql.Column] =
    (0 until 8).map { i =>
      (0 until 8).flatMap { p =>
        val b = i + 8 * p
        if (b < 60)
          Some(shiftrightunsigned(sh, b).bitwiseAND(lit(1L)) * lit(1L << p))
        else None
      }.reduce(_ + _)
    }

  private[graft] def simhashCandidates(s: DataFrame, cap: Int,
      layout: Seq[org.apache.spark.sql.Column] = null): DataFrame =
    simhashJoin(s, cap, Option(layout), earlyHamming = false)
      .select(col("id_a"), col("id_b")).distinct()

  /** Bucket self-join shared by the CANDIDATE view (fence specs drive
    * it unfiltered) and the live pipeline's VERIFIED view. The live
    * path sets `earlyHamming`: both join sides carry their print, so
    * the hamming test FUSES into the join's whole-stage-codegen output
    * loop (xor + popcount on two longs already in the row) and the
    * quadratic bucket stream dies in-stage — instead of flooding the
    * downstream distinct's hash map with ~occ² rows, the r11 10×
    * finding: candidate-row handling, not generation, dominated the
    * 34 s simhash bench. It also makes the two post-candidate sh-fetch
    * joins unnecessary (the verified view emits hamming directly). */
  private def simhashJoin(s: DataFrame, cap: Int,
      layout: Option[Seq[org.apache.spark.sql.Column]],
      earlyHamming: Boolean): DataFrame = {
    val chunkExprs: Seq[org.apache.spark.sql.Column] =
      layout.getOrElse(simhashChunkExprs(col("sh")))
    val chunks = s.select(col("doc_id"), col("sh"),
      posexplode(array(chunkExprs: _*)).as(Seq("chunk_idx", "chunk_val")))
    val occ = chunks.groupBy(col("chunk_idx"), col("chunk_val"))
      .agg(count(lit(1)).as("occ"))
    val tagged = chunks.join(broadcast(occ), Seq("chunk_idx", "chunk_val"))
    def pairUp(m: DataFrame, keys: Seq[String]): DataFrame = {
      val a = m.select(keys.map(col) :+ col("doc_id").as("id_a") :+ col("sh").as("sh_a"): _*)
      val b = m.select(keys.map(col) :+ col("doc_id").as("id_b") :+ col("sh").as("sh_b"): _*)
      val joined = a.join(b, keys).filter(col("id_a") < col("id_b"))
      val filtered =
        if (earlyHamming)
          joined.filter(
            bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long") <= SimhashMaxHamming)
        else joined
      filtered.select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long").as("hamming"))
    }
    val coldM = tagged.filter(col("occ") <= cap)
      .select(col("chunk_idx"), col("chunk_val"), col("doc_id"), col("sh"))
    val coldCand = pairUp(coldM, Seq("chunk_idx", "chunk_val"))
    val hotM = tagged.filter(col("occ") > cap)
      .select(col("chunk_idx"), col("chunk_val"), col("doc_id"), col("sh"))
      .select(col("chunk_idx"), col("chunk_val"), col("doc_id"), col("sh"),
        posexplode(array(chunkExprs: _*)).as(Seq("idx2", "val2")))
      .filter(col("idx2") =!= col("chunk_idx"))
    val hotCand = pairUp(hotM, Seq("chunk_idx", "chunk_val", "idx2", "val2"))
    coldCand.union(hotCand)
  }

  /** Verified simhash pairs (id_a, id_b, hamming) — the live pipeline:
    * hamming filtered inside the bucket join, one distinct on the
    * survivors only. */
  private[graft] def simhashVerifiedPairs(s: DataFrame, cap: Int,
      layout: Seq[org.apache.spark.sql.Column]): DataFrame =
    simhashJoin(s, cap, Option(layout), earlyHamming = true)
      .select(col("id_a"), col("id_b"), col("hamming")).distinct()

  /** MinHash quality as ORACLE-CHECKED data: full-join the LSH pairs
    * against the exact n-gram Jaccard pairs and emit the true-pair
    * count plus boolean assertions — recall ≥ 0.9 and exact precision
    * (the verify step guarantees every emitted pair is a true pair).
    * Hash-seeded operators can never hash-match an oracle directly;
    * their quality contract can (same pattern as the sketch pack). */
  def dedupMinhashRecall(spark: SparkSession, dir: String): DataFrame = {
    // both sides read the session-memoized pair ARTIFACTS (the exact
    // pipeline via [[exactPairs]], the LSH pipeline via
    // [[minhashPairsArtifact]]) — the recall contract audits two
    // persisted pair tables, it does not re-derive them from the corpus
    val exact = exactPairs(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1).as("t"))
    val lsh = minhashPairsArtifact(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1).as("f"))
    // coalesce(...,0): a global agg over an empty (dup-free) corpus
    // yields NULL sums, and the oracle expects (0, TRUE, TRUE)
    exact.join(lsh, Seq("id_a", "id_b"), "full")
      .agg(coalesce(sum(col("t")), lit(0)).as("n_true"),
        coalesce(sum(col("t") * col("f")), lit(0)).as("hits"),
        coalesce(sum(when(col("t").isNull, 1).otherwise(0)), lit(0)).as("extras"))
      .select(col("n_true").cast("long").as("n_true_pairs"),
        (col("hits") >= col("n_true") * 0.9).as("recall_ok"),
        (col("extras") === 0).as("precision_ok"))
  }

  /** SimHash quality as oracle-checked data: recall ≥ 0.9 of the exact
    * Jaccard≥0.7 pairs among the hamming≤6 pairs (measured 0.95–1.0 at
    * sf0.001/0.01/0.1 on the poly61-voted fingerprint; SimHash admits
    * false positives by design, so precision is not asserted). */
  def dedupSimhashRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = exactPairs(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1).as("t"))
    val sh = simhashPairsArtifact(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1).as("f"))
    exact.join(sh, Seq("id_a", "id_b"), "left")
      .agg(coalesce(sum(col("t")), lit(0)).as("n_true"),
        coalesce(sum(col("t") * col("f")), lit(0)).as("hits"))
      .select(col("n_true").cast("long").as("n_true_pairs"),
        (col("hits") >= col("n_true") * 0.9).as("recall_ok"))
  }

  /** Connected components over the near-dup pair graph (net-new): the
    * step a real training-data dedup pipeline runs AFTER pair
    * generation — transitively close the pairs so each near-dup
    * CLUSTER keeps one canonical doc (pairs alone would keep both ends
    * of an a–b–c chain). Labels come from [[componentLabels]]. Oracle:
    * DuckDB recursive-CTE transitive closure over the identical pair
    * query. */
  def dedupComponents(spark: SparkSession, dir: String): DataFrame =
    componentLabels(exactPairs(spark, dir))
      .groupBy(col("comp").as("comp_id"))
      .agg(count(lit(1)).as("n_docs"), max(col("node")).as("max_doc"))

  /** Most near-dup edges [[componentLabels]] takes to the driver. The
    * pair graph has 25 edges at sf0.01, 256 at sf0.1 and 2,560 at the
    * 10x ScaleCorpus. At the bound the driver holds 1M collected edge
    * rows and a union-find over at most 2M nodes (one long and one int
    * each). A larger graph is an error that names this constant, not a
    * slower path. */
  val MaxComponentEdges = 1000000

  /** (node, comp) for every node of the pair graph `edges` (id_a, id_b):
    * comp is the smallest doc_id of the node's connected component,
    * the oracle's min-label closure. One union-find on the driver over
    * at most `maxEdges` collected edges ([[graft.LocalFrame.rows]]);
    * the labels come back as a local relation. */
  private[graft] def componentLabels(edges: DataFrame,
                                     maxEdges: Int = MaxComponentEdges): DataFrame = {
    val got = graft.LocalFrame.rows(edges.select(col("id_a"), col("id_b")), maxEdges,
      "MaxComponentEdges, near-dup pair graph edges")
    val (a, b) = (got.map(_.getLong(0)), got.map(_.getLong(1)))
    // union-find over sorted-id indices: index order is id order, so
    // linking the larger root under the smaller roots each set at its min
    val ids = (a ++ b).sorted.distinct
    val parent = Array.range(0, ids.length)
    def find(i: Int): Int = {
      var x = i
      while (parent(x) != x) { parent(x) = parent(parent(x)); x = parent(x) }
      x
    }
    def at(id: Long): Int = java.util.Arrays.binarySearch(ids, id)
    a.indices.foreach { k =>
      val (ra, rb) = (find(at(a(k))), find(at(b(k))))
      parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val schema = StructType(Seq(StructField("node", LongType), StructField("comp", LongType)))
    edges.sparkSession.createDataFrame(
      java.util.Arrays.asList(ids.indices.map(i => Row(ids(i), ids(find(i)))): _*), schema)
  }

  /** The graph loops' lineage cut: a frame of the symmetrized pair
    * graph's edges or nodes (at most 2 × [[MaxComponentEdges]] rows). */
  private def graphCut(df: DataFrame): DataFrame =
    graft.LocalFrame.of(df, 2 * MaxComponentEdges, "2 * MaxComponentEdges")

  val PagerankIters = 10

  /** Truncate the pagerank lineage every this many iterations: an
    * unrolled rank chain grows the logical plan linearly and the
    * optimizer's cost superlinearly, so past ~20 iterations planning
    * time dominates. [[graphCut]] makes the ranks (one row per node of
    * the pair graph) a leaf again. */
  val PagerankCheckpointEvery = 8

  /** PageRank over the near-dup pair graph (net-new): centrality of
    * each document inside its duplication neighborhood — the signal
    * curation pipelines use to pick the CANONICAL copy of a cluster
    * (keep the most-linked variant, drop satellites). Fixed
    * [[PagerankIters]] synchronous iterations with damping 0.85; every
    * iteration's rank is rounded to 9 dp (same pinning discipline as
    * the k-means centroids), which makes all ten iterations
    * bit-replayable by the oracle — the oracle SQL literally unrolls
    * the same ten steps as chained CTEs.
    *
    * Scale shape: the edge set (near-dup pairs only) is orders of
    * magnitude smaller than the corpus; each iteration is one
    * edge-keyed join + one node-keyed aggregate over it. The
    * degree-annotated edge frame is persisted once and reused by all
    * iterations; the final frame is the only consumer-visible output. */
  def graphPagerank(spark: SparkSession, dir: String): DataFrame =
    pagerankFrom(spark, exactPairs(spark, dir)
      .select(col("id_a"), col("id_b")))

  /** The iteration loop runs NARROW (8 shuffle partitions) and is fully
    * materialized inside that setting via a final [[graphCut]]: the
    * edge frame is the near-dup pair set — orders of magnitude smaller
    * than the corpus — so at the session's fact-tuned width each of the
    * 10 iterations paid ~3 stages of near-empty-task scheduling (this
    * loop was the suite's #1 standalone cost before). Sizing iterative
    * graph shuffles to the EDGE volume, not the corpus volume, is the
    * identical decision at 100 TB. */
  private[graft] def pagerankFrom(spark: SparkSession, pairs: DataFrame,
                                  iters: Int = PagerankIters): DataFrame =
    graft.Confs.withShufflePartitions(spark, 8) {
      val edges = pairs.select(col("id_a").as("s"), col("id_b").as("d"))
        .union(pairs.select(col("id_b").as("s"), col("id_a").as("d")))
      val deg = edges.groupBy(col("s")).agg(count(lit(1)).as("deg"))
      // hash-partition the persisted edge frame on the join key: each
      // iteration then joins against it in place (only the 1-row-per-node
      // rank frame moves) and the groupBy(d) is the iteration's one shuffle
      graft.Materialize.scoped(edges.join(deg, "s").repartition(col("s"))) { ed =>
        val n = ed.select(col("s")).distinct().count() // one scalar: node count
        var ranks = ed.select(col("s").as("node")).distinct()
          .select(col("node"), round(lit(1.0) / n, 9).as("pr"))
        for (i <- 1 to iters) {
          // ORDERED fold, not sum(): a hash aggregate accumulates
          // contributions in partial-merge arrival order, which drifts
          // the last ulp across runs AND engines — normally invisible,
          // but a sum landing exactly on a 9-dp rounding boundary would
          // flip the pinned value (the one residual flake class VERDICT
          // r4 flagged in the iterative FP pipelines). Sorting the
          // (degree-bounded) contribution list and left-folding it makes
          // the summation order identical everywhere; the oracle runs
          // the same list_sort + list_reduce. State per node is its
          // degree — bounded, so the 100 TB shape is unchanged.
          ranks = ed.join(ranks.withColumnRenamed("node", "s"), "s")
            .groupBy(col("d").as("node"))
            .agg(round(lit(0.15) / n + lit(0.85) * aggregate(
              array_sort(collect_list(col("pr") / col("deg"))), lit(0.0),
              (a, x) => a + x), 9).as("pr"))
          // bound the unrolled lineage (see [[PagerankCheckpointEvery]]);
          // values are identical — the cut only shortens the plan
          if (i % PagerankCheckpointEvery == 0 && i < iters)
            ranks = graphCut(ranks)
        }
        // materialize the LAST iterations under the narrow setting too —
        // the caller sees a local relation, not a tail of wide shuffles
        graphCut(ranks.select(col("node").as("doc_id"), col("pr")))
      }
    }

  /** Asymmetric-containment threshold (measured FP gap at the oracle
    * SFs: nearest non-qualifying pair ≤ 0.28, nearest qualifying
    * ≥ 0.88 — comparison-exact on both engines). */
  val ContainmentThreshold = 0.8

  /** Containment join (net-new): find documents whose shingle set is
    * ≥ [[ContainmentThreshold]] CONTAINED in another document's —
    * C(A→B) = |A∩B|/|A| — the asymmetric cousin of the Jaccard join
    * that catches quotes, excerpts, and boilerplate-wrapped copies
    * symmetric dedup misses (B may be much larger than A, so J(A,B)
    * stays low while A is still a near-subset). Candidate generation
    * keeps the PPJoin prefix bound on the CONTAINED side only: overlap
    * must reach ceil(t·|A|), so a qualifying pair collides within A's
    * first |A|−ceil(t·|A|)+1 sorted shingles; the container side has
    * no size bound, so it contributes its full postings — the standard
    * set-containment-join shape (prefix × full inverted index), linear
    * in corpus shingle volume, never all-pairs. Exact verify on
    * candidates only. */
  def dedupContainment(spark: SparkSession, dir: String): DataFrame = {
    // rarest-first prefix on the CONTAINED side (completeness holds for
    // ANY per-doc prefix order — df order is purely the fan-out win);
    // the container side contributes its FULL postings. All-pairs =
    // the kernel with delta = containers = the whole corpus.
    val sh = shingleTable(spark, dir)
    containmentOfDelta(sh, shingleDfreq(sh),
      sh.select(col("doc_id").as("id_b"), explode(col("hs")).as("shingle")), sh)
      .select(col("id_a").as("contained_doc"), col("id_b").as("container_doc"),
        col("containment"))
  }

  /** Incremental containment join (net-new; the [[dedupIncremental]]
    * pattern applied to [[dedupContainment]]): check only a DELTA of
    * new documents for near-containment in an existing INDEX of stored
    * documents — the per-ingest-batch shape (is this new doc an excerpt
    * of something already in the corpus?), where the batch query's
    * all-pairs postings would redo quadratic work every ingest. Delta =
    * odd doc_ids (contained side, rarest-first PREFIX shingles only);
    * index = even doc_ids (container side, FULL postings — at 100 TB a
    * stored table partitioned by shingle, so each batch shuffles only
    * its own prefix shingles against it). Exact containment verify on
    * candidates, as the batch form. */
  /** The STORED containment-index artifacts (even-id docs as the
    * indexed corpus), session-memoized ([[graft.SessionMemo]]) because
    * they are exactly what a production index persists ACROSS ingests:
    * the global shingle→document-frequency table (the rarest-first
    * ordering statistic), the container postings, and the exact
    * shingle sets for the verify. Both consumers — the batch
    * incremental query and t16's streaming form — measure the
    * delta-vs-index KERNEL; the index build amortizes over every
    * ingest, so it materializes once and the ingest paths read the
    * artifact. */
  private[graft] def containmentIndex(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val dfreq = graft.SessionMemo.parquet(spark, "containment_dfreq", dir)(
      shingleDfreq(shingleTable(spark, dir)))
    val containers = graft.SessionMemo.parquet(spark, "containment_postings", dir)(
      shingleTable(spark, dir).filter(col("doc_id") % 2 === 0)
        .select(col("doc_id").as("id_b"), explode(col("hs")).as("shingle")))
    val stored = graft.SessionMemo.parquet(spark, "containment_stored", dir)(
      shingleTable(spark, dir).filter(col("doc_id") % 2 === 0))
    (dfreq, containers, stored)
  }

  def dedupContainmentIncremental(spark: SparkSession, dir: String): DataFrame = {
    // the one-shot form IS the kernel applied to the whole delta at
    // once — the same code path t16 drives per micro-batch, so the two
    // cannot desynchronize on threshold/prefix/verify semantics. The
    // delta shingles from RAW text (shingleDocs), exactly as a t16
    // micro-batch does; the stored sides come from the shared index.
    val (dfreq, containers, stored) = containmentIndex(spark, dir)
    containmentOfDelta(
      shingleDocs(Tables.documents(spark, dir).filter(col("doc_id") % 2 === 1)
        .select(col("doc_id"), col("text"))),
      dfreq, containers, stored)
      .select(col("id_a").as("new_doc"), col("id_b").as("container_doc"),
        col("containment"))
  }

  /** (doc_id, hs) sorted-distinct shingle hashes from raw (doc_id,
    * text) rows: the one shingling expression, under [[shingleTable]]
    * (cached) and on a streaming micro-batch. */
  private[graft] def shingleDocs(raw: DataFrame): DataFrame = {
    import graft.expr.hashfunctions.word_gram_poly61
    raw.select(col("doc_id"), split(col("text"), " ").as("ws"))
      .filter(size(col("ws")) >= ShingleN)
      .select(col("doc_id"),
        array_sort(array_distinct(word_gram_poly61(col("ws"), ShingleN))).as("hs"))
  }

  /** THE containment kernel: pre-shingled `deltaSh` (doc_id, hs) rows
    * checked for ≥ [[ContainmentThreshold]] containment in a container
    * index. One definition serves all three shapes — the all-pairs
    * batch join (`dedup_containment`: delta = containers = the whole
    * corpus), the batch incremental form (delta = odd ids vs stored
    * even ids), and t16's streaming per-micro-batch form — so the
    * threshold/prefix/verify semantics cannot fork. The static sides
    * travel with the index, exactly as production stores them: `dfreq`
    * (global shingle → document frequency, the rarest-first ordering
    * statistic), `containers` ((id_b, shingle) full postings), and
    * `stored` (exact shingle sets for the verify). Only the delta's
    * rarest-first PREFIX shingles join the postings (pigeonhole: a
    * qualifying pair must collide within the first sz−ceil(t·sz)+1
    * elements of ANY per-doc order); exact verify on candidates;
    * self-pairs excluded. Per-delta-doc independence makes the result
    * batching-invariant: the union over any partition of the delta
    * equals the one-shot relation. Returns (id_a, id_b, containment). */
  private[graft] def containmentOfDelta(deltaSh: DataFrame, dfreq: DataFrame,
                                        containers: DataFrame, stored: DataFrame): DataFrame = {
    val rf = deltaSh.select(col("doc_id"), explode(col("hs")).as("shingle"))
      .join(dfreq, "shingle")
      .groupBy(col("doc_id"))
      .agg(array_sort(collect_list(struct(col("df"), col("shingle")))).as("ds"))
      .select(col("doc_id"), transform(col("ds"), _.getField("shingle")).as("rhs"),
        size(col("ds")).as("sz"))
    val plen = (col("sz") - ceil(col("sz") * lit(ContainmentThreshold)).cast("int")) + 1
    val a = rf.select(col("doc_id").as("id_a"),
      explode(slice(col("rhs"), lit(1), plen)).as("shingle"))
    val cand = a.join(containers, Seq("shingle"))
      .filter(col("id_a") =!= col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    cand.join(deltaSh.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), "id_a")
      .join(stored.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .withColumn("containment",
        size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") / size(col("hs_a")))
      .filter(col("containment") >= ContainmentThreshold)
      .select(col("id_a"), col("id_b"), round(col("containment"), 6).as("containment"))
  }

  val KcoreK = 2

  /** Peel rounds both engines run (fixed, so the oracle can unroll the
    * identical chain); DedupQueriesSpec asserts one MORE peel is a
    * no-op at harness SFs, i.e. the loop has actually reached the
    * k-core fixpoint and the fixed count is not truncating. */
  val KcorePeels = 4

  /** k-core decomposition (k = [[KcoreK]]) of the near-dup pair graph
    * (net-new): iteratively peel nodes of degree < k until the
    * remaining subgraph is the k-core — the standard "dense duplicate
    * neighborhoods" extractor (Seidman 1983; template-farm and mirror
    * clusters survive, incidental one-off pairs peel away). Each round
    * is one degree aggregate + two semi-join filters over the EDGE
    * set; like the other graph loops the shuffle width is sized to
    * edge volume, not corpus volume, and [[graphCut]] keeps the
    * per-round plan a leaf. At 100 TB the peel is iterations ×
    * O(|E|) with |E| the near-dup pairs only — orders of magnitude
    * under the corpus — and every join is an equi-join on node id. */
  def graphKcore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = exactPairs(spark, dir).select(col("id_a"), col("id_b"))
    graft.Confs.withShufflePartitions(spark, 8) {
      var ed = graphCut(pairs.union(pairs.select(col("id_b"), col("id_a"))).toDF("s", "d"))
      for (_ <- 1 to KcorePeels) {
        val keep = ed.groupBy(col("s")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= KcoreK).select(col("s"))
        ed = graphCut(ed.join(keep, "s")
          .join(keep.select(col("s").as("d")), "d")
          .select(col("s"), col("d")))
      }
      graphCut(ed.groupBy(col("s").as("doc_id")).agg(count(lit(1)).as("deg_core")))
    }
  }

  /** Canonical-copy selection (net-new): the step that CLOSES the
    * near-dup story — cluster the pair graph (connected components),
    * rank members by DEGREE centrality, keep the most-connected doc of
    * each cluster (degree tiebreak: lowest doc_id). Degree is the
    * right centrality here because it is ONE aggregate over the edge
    * set — iterating PageRank inside this composition fused two
    * iterative lineages into one AQE plan and ran 3-7x slower with
    * wild variance; the standalone [[graphPagerank]] operator covers
    * iterative centrality. The memoized pair artifact feeds both the
    * component labels and the degree count. */
  def dedupCanonical(spark: SparkSession, dir: String): DataFrame = {
    val pairs = exactPairs(spark, dir)
    val deg = pairs.select(col("id_a").as("s"))
      .union(pairs.select(col("id_b").as("s")))
      .groupBy(col("s").as("doc_id")).agg(count(lit(1)).as("degree"))
    componentLabels(pairs).join(deg, col("node") === col("doc_id"))
      .groupBy(col("comp").as("comp_id"))
      .agg(count(lit(1)).as("n_docs"),
        // max_tuple ≡ max(struct(degree, nd)) but hash-aggregable — the
        // struct-buffered Max forced the whole aggregate (count included)
        // into a SortAggregate over the member set (r15)
        graft.expr.tupleagg.max_tuple(col("degree"), (-col("doc_id")).as("nd")).as("best"))
      .select(col("comp_id"), col("n_docs"),
        (-col("best.nd")).as("canonical_doc"), col("best.degree").as("degree"))
  }

  /** Quality-aware canonical selection (net-new): [[dedupCanonical]]
    * picks each cluster's most-CONNECTED member; production curation
    * pipelines usually keep the highest-QUALITY member instead (the
    * richest variant survives, boilerplate-padded or truncated copies
    * drop). Same cluster machinery ([[componentLabels]] over the
    * memoized pair artifact), but the per-member score is a
    * document signal (distinct-word count, an exact integer both
    * engines compute identically) joined onto the labels, and the
    * arg-max is one `max(struct)` partial aggregate per cluster, no
    * window, no sort. At 100 TB the quality join is a doc_id-keyed
    * shuffle of the (tiny) cluster-member set against the corpus
    * scores; ties break to the lowest doc_id, so the pick is total. */
  def dedupKeepBest(spark: SparkSession, dir: String): DataFrame = {
    val quality = Tables.documents(spark, dir)
      .select(col("doc_id"),
        expr("size(array_distinct(filter(split(text, ' '), w -> length(w) > 0)))")
          .cast("long").as("quality"))
    componentLabels(exactPairs(spark, dir)).join(quality, col("node") === col("doc_id"))
      .groupBy(col("comp").as("comp_id"))
      .agg(count(lit(1)).as("n_docs"),
        // hash-aggregable argmax — see dedupCanonical (r15)
        graft.expr.tupleagg.max_tuple(col("quality"), (-col("doc_id")).as("nd")).as("best"))
      .select(col("comp_id"), col("n_docs"),
        (-col("best.nd")).as("keep_doc"), col("best.quality").as("quality"))
  }

  /** Triangle count over the near-dup graph (the clustering-coefficient
    * numerator — how cliquish the duplicate neighborhoods are). The
    * 100 TB trick is the DEGREE-ORDERED ORIENTATION: each undirected
    * edge points from its (degree, id)-smaller endpoint to the larger,
    * so every triangle is counted EXACTLY once and the wedge join
    * fans out from low-degree vertices only — O(Σ deg(v)·out(v)) with
    * out-degree bounded by O(√|E|) on any graph, instead of the
    * unbounded hub fan-out of the naive 3-way self-join. Two
    * equi-joins close the wedges; all counts are exact integers (no FP
    * anywhere). */
  def graphTriangles(spark: SparkSession, dir: String): DataFrame = {
    val pairs = exactPairs(spark, dir).select(col("id_a"), col("id_b"))
    val sym = pairs.union(pairs.select(col("id_b"), col("id_a")))
      .toDF("src", "dst")
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("deg"))
    val dd = sym.join(deg, "src")
      .join(deg.select(col("src").as("dst"), col("deg").as("deg_d")), "dst")
    // orient: keep the copy that points (deg, id)-upward
    // read three times by the wedge join
    val ed = graft.Materialize.cached(dd.filter(col("deg") < col("deg_d") ||
        (col("deg") === col("deg_d") && col("src") < col("dst")))
      .select(col("src").as("u"), col("dst").as("v")))
    val wedges = ed.join(ed.select(col("u").as("v"), col("v").as("w")), "v")
      .select(col("u"), col("v"), col("w"))
    val tri = wedges.join(ed.select(col("u"), col("v").as("w")), Seq("u", "w"))
    tri.agg(count(lit(1)).as("n_triangles"))
      .crossJoin(pairs.agg(count(lit(1)).as("n_edges")))
  }

  /** Gram width of [[dedupExactSubstring]] — the minimum repeat length
    * (in tokens) the span dedup detects, shared verbatim with the SQL
    * oracle. Lee et al. use 50 BPE tokens at web scale; 8 fits the
    * harness corpus (avg ~50 tokens/doc) while exercising the same
    * plan. */
  val SubstrK = 8

  /** Exact-substring span dedup — the ExactSubstr shape of Lee et al.,
    * "Deduplicating Training Data Makes Language Models Better" (ACL
    * 2022: suffix-array repeats ≥50 tokens), re-expressed at fixed
    * [[SubstrK]]-token gram granularity so it DISTRIBUTES: a repeat of
    * length L ≥ K tokens is covered exactly by its L-K+1 duplicated
    * K-grams, so the union of duplicated-gram positions, merged per
    * doc, IS the set of ≥K-token repeated substrings — no suffix array
    * needed. Every gram occurring ≥2 times in the corpus (across OR
    * within docs) marks its positions except the single globally-first
    * occurrence (min (doc_id, pos), the kept copy — Lee et al.'s
    * keep-one semantics). Three compact shuffles: (1) groupBy the
    * 60-bit poly61 gram hash — 8-byte keys, the ta_paragraph_dedup
    * trade (no gram text crosses an exchange; collisions ~n²/2⁶¹,
    * same documented widening path); (2) occurrences hash-join back to
    * the SURVIVING grams only — the candidate set shrinks to the
    * duplicate volume before any window runs; (3) a doc_id-PARTITIONED
    * gaps-and-islands window merges positions into maximal spans (one
    * doc's marked positions per partition, never a global sort).
    * Output: per-doc span count, duplicated-token count and fraction —
    * the Lee et al. removal accounting. */
  def dedupExactSubstring(spark: SparkSession, dir: String): DataFrame =
    substringSpans(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Tokenized (doc_id, ws) view shared by the substring-dedup family. */
  private def substrToks(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), split(col("text"), " ").as("ws"))

  /** One occurrence row per gram position: (doc_id, pos, 60-bit hash). */
  private def substrOcc(toks: DataFrame): DataFrame = {
    import graft.expr.hashfunctions.word_gram_poly61
    toks.filter(size(col("ws")) >= SubstrK)
      .select(col("doc_id"),
        posexplode(word_gram_poly61(col("ws"), SubstrK)).as(Seq("pos", "h")))
  }

  /** Gaps-and-islands merge of marked gram-start positions
    * (doc_id, pos) into maximal token spans (doc_id, s, e) — the
    * doc_id-partitioned window stage every family member shares. */
  private def mergeSpans(marked: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("doc_id").orderBy("pos")
    marked
      .withColumn("pmax", max(col("pos") + lit(SubstrK))
        .over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("ni", when(col("pmax").isNull || col("pos") > col("pmax"), 1).otherwise(0))
      .withColumn("island", sum(col("ni")).over(w))
      .groupBy(col("doc_id"), col("island"))
      .agg(min(col("pos")).as("s"), max(col("pos") + lit(SubstrK)).as("e"))
  }

  /** Marked positions of [[dedupExactSubstring]]: every duplicated-gram
    * occurrence except the globally-first one. */
  private def substrMarked(occ: DataFrame): DataFrame = {
    // keeper = lexicographic min (doc_id, pos) as a struct-min — NOT
    // a doc_id*2^32+pos packed long, which silently corrupts keeper
    // selection once doc_id >= 2^31 or pos >= 2^32 (production-scale
    // ids); struct comparison is overflow-free at any id width
    val key = struct(col("doc_id"), col("pos"))
    // min_tuple ≡ min(struct(doc_id, pos)) with the same overflow-free
    // per-field comparison, but hash-aggregable: the struct-buffered Min
    // planned this corpus-scale aggregate (one group per distinct gram,
    // one input row per token position) as a SortAggregate that sorted
    // every task's full occurrence stream by gram hash (r15)
    val dupGrams = occ
      .groupBy(col("h"))
      .agg(count(lit(1)).as("cnt"),
        graft.expr.tupleagg.min_tuple(col("doc_id"), col("pos")).as("keeper"))
      .filter(col("cnt") >= 2)
      .select(col("h"), col("keeper"))
    occ.join(dupGrams, "h")
      .filter(key =!= col("keeper"))
      .select(col("doc_id"), col("pos"))
  }

  /** Per-doc removal accounting over the merged spans — all docs
    * appear, span-free ones with zeros. */
  private def substrAccounting(toks: DataFrame, spans: DataFrame): DataFrame = {
    val perDoc = spans
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_dup_spans"), sum(col("e") - col("s")).as("dup_tokens"))
    toks.select(col("doc_id"), size(col("ws")).cast("long").as("total_tokens"))
      .join(perDoc, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_dup_spans"), lit(0L)).as("n_dup_spans"),
        coalesce(col("dup_tokens"), lit(0L)).cast("long").as("dup_tokens"),
        col("total_tokens"),
        round(coalesce(col("dup_tokens"), lit(0L)).cast("double") / col("total_tokens"), 3)
          .as("dup_frac"))
  }

  /** The span algebra of [[dedupExactSubstring]] over any
    * (doc_id, text) frame — split out so the spec can pin the keeper /
    * merge semantics on a hand corpus. */
  private[graft] def substringSpans(docs: DataFrame): DataFrame = {
    val toks = substrToks(docs)
    substrAccounting(toks, mergeSpans(substrMarked(substrOcc(toks))))
  }

  /** The REMOVAL twin of [[dedupExactSubstring]]: reconstruct each
    * document with its duplicated spans cut out (what Lee et al.'s
    * tool actually writes back). Spans explode to covered token
    * indexes, kept tokens survive an anti-join on (doc_id, idx), and
    * the doc rebuilds with an order-preserving sorted-struct
    * collect_list — the ta_paragraph_dedup reconstruction shape; this
    * is the ONE stage where text crosses an exchange (the rebuild
    * groupBy), exactly like the paragraph dedup's doc_id rebuild. A
    * fully-duplicated document survives as an empty string, not a
    * dropped row. */
  private[graft] def substringClean(docs: DataFrame): DataFrame = {
    val toks = substrToks(docs)
    val spans = mergeSpans(substrMarked(substrOcc(toks)))
    val covered = spans.select(col("doc_id"),
      explode(sequence(col("s"), col("e") - 1)).as("idx"))
    val kept = toks
      .select(col("doc_id"), posexplode(col("ws")).as(Seq("idx", "tok")))
      .join(covered, Seq("doc_id", "idx"), "left_anti")
      .groupBy(col("doc_id"))
      .agg(array_join(transform(
          array_sort(collect_list(struct(col("idx"), col("tok")))),
          s => s.getField("tok")), " ").as("clean_text"),
        count(lit(1)).as("n_kept_tokens"))
    toks.select(col("doc_id"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("clean_text"), lit("")).as("clean_text"),
        coalesce(col("n_kept_tokens"), lit(0L)).as("n_kept_tokens"))
  }

  def dedupExactSubstringClean(spark: SparkSession, dir: String): DataFrame =
    substringClean(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  /** Incremental twin: mark DELTA documents (odd doc_ids, the
    * [[dedupIncremental]] convention) against the INDEX (even
    * doc_ids) only — a delta gram is duplicated iff the index already
    * contains it (the index copy is the keeper by construction, so
    * every delta occurrence marks). Within-delta repeats are NOT
    * marked here — they are the next batch compaction's job, the same
    * split [[dedupContainmentIncremental]] documents. One distinct on
    * the index gram hashes + one semi-join: delta×index work only, no
    * index re-scan per epoch beyond the gram projection. */
  /** The stored-index artifact: distinct gram hashes of the index
    * corpus — 8 bytes per distinct gram, the whole thing a production
    * pipeline persists between epochs. */
  private[graft] def substrIndexGrams(index: DataFrame): DataFrame =
    substrOcc(substrToks(index)).select(col("h")).distinct()

  /** Mark one delta frame against a prepared index gram set — shared
    * by the batch incremental query and its streaming twin (t20),
    * whose batching-invariance rests on this being a pure per-doc
    * function of (doc, indexGrams). */
  private[graft] def substringIncrementalOfDelta(
      deltaDocs: DataFrame, indexGrams: DataFrame): DataFrame = {
    val delta = substrToks(deltaDocs)
    val marked = substrOcc(delta)
      .join(indexGrams, Seq("h"), "left_semi")
      .select(col("doc_id"), col("pos"))
    substrAccounting(delta, mergeSpans(marked))
  }

  private[graft] def substringIncremental(docs: DataFrame): DataFrame =
    substringIncrementalOfDelta(
      docs.filter(col("doc_id") % 2 =!= 0),
      substrIndexGrams(docs.filter(col("doc_id") % 2 === 0)))

  def dedupSubstringIncremental(spark: SparkSession, dir: String): DataFrame =
    substringIncremental(Tables.documents(spark, dir).select(col("doc_id"), col("text")))

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact_substring" -> (dedupExactSubstring _),
    "dedup_substring_clean" -> (dedupExactSubstringClean _),
    "dedup_substring_incremental" -> (dedupSubstringIncremental _),
    "graph_triangles"      -> (graphTriangles _),
    "graph_kcore"          -> (graphKcore _),
    "dedup_containment"    -> (dedupContainment _),
    "dedup_containment_incremental" -> (dedupContainmentIncremental _),
    "dedup_incremental"    -> (dedupIncremental _),
    "dedup_canonical"      -> (dedupCanonical _),
    "dedup_keep_best"      -> (dedupKeepBest _),
    "graph_pagerank"       -> (graphPagerank _),
    "dedup_exact"          -> (dedupExact _),
    "dedup_ngram_jaccard"  -> (dedupNgramJaccard _),
    "dedup_minhash_lsh"    -> (dedupMinhashLsh _),
    "dedup_simhash"        -> (dedupSimhash _),
    "dedup_minhash_recall" -> (dedupMinhashRecall _),
    "dedup_simhash_recall" -> (dedupSimhashRecall _),
    "dedup_components"     -> (dedupComponents _),
  )

  import graft.expr.hashfunctions.duckPoly61

  /** DuckDB twin of [[shingleTable]]: 3-gram strings → sorted distinct
    * poly61 hashes per doc (docs under 3 words dropped, as in Spark). */
  private[graft] val hashedShingleCte =
    ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents " +
     "WHERE len(string_split(text, ' ')) >= 3), " +
     "sg AS (SELECT doc_id, list_transform(generate_series(1, len(ws)-2), gi -> " +
     "ws[gi] || ' ' || ws[gi+1] || ' ' || ws[gi+2]) AS sg FROM t), " +
     s"sh AS (SELECT doc_id, list_sort(list_distinct(list_transform(sg, g -> ${duckPoly61("g")}))) AS hs FROM sg)")

  /** DuckDB twin of the Spark band fold (seed = band index). */
  private def duckBand(bi: Int): String = {
    val rows = MinhashPerms / Bands
    (0 until rows).foldLeft(bi.toString) { (acc, r) =>
      s"(($acc * 131 + (s_${bi * rows + r} % $BandMod)) % $BandMod)"
    }
  }

  /** Shared DuckDB replay of the MinHash band layer ([[bandedDocs]]):
    * same shingle hashes, same 32 affine perms (coefficients inlined
    * from [[MinhashCoefs]]), same folded band keys. */
  private val lshBandsCtes: String = {
    val sigCols = MinhashCoefs.zipWithIndex.map { case ((a, b), i) =>
      s"list_min(list_transform(hs, h -> (h >> 29) * $a + $b)) AS s_$i"
    }.mkString(", ")
    val bandArr = (0 until Bands).map(duckBand).mkString("[", ", ", "]")
    (hashedShingleCte +
     s", sig AS (SELECT doc_id, $sigCols FROM sh)" +
     s", bands AS (SELECT doc_id, unnest($bandArr) AS band_val FROM sig)")
  }

  /** Exact-verify tail shared by the LSH oracles. */
  private def duckVerify(aName: String, bName: String): String =
    (s"SELECT id_a AS $aName, id_b AS $bName, round(j, 6) AS jaccard FROM (" +
     "SELECT c.id_a, c.id_b, len(list_intersect(x.hs, y.hs))::DOUBLE / " +
     "(len(x.hs) + len(y.hs) - len(list_intersect(x.hs, y.hs))) AS j " +
     "FROM cand c JOIN sh x ON c.id_a = x.doc_id JOIN sh y ON c.id_b = y.doc_id) " +
     s"WHERE j >= $JaccardThreshold")

  /** Full DuckDB replay of [[dedupMinhashLsh]] — bucket join + exact
    * verify over the shared band layer, so even LSH's recall misses
    * reproduce exactly and the result hash-matches. The occupancy
    * fence replays too (same [[BandBucketCap]] constant interpolated),
    * so a capped bucket drops identically on both sides. */
  private[graft] val minhashLshSql: String =
    (lshBandsCtes +
     s", coldb AS (SELECT band_val FROM bands GROUP BY band_val HAVING count(*) <= $BandBucketCap)" +
     ", cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a " +
     "JOIN bands b USING (band_val) JOIN coldb USING (band_val) WHERE a.doc_id < b.doc_id) " +
     duckVerify("id_a", "id_b"))

  /** DuckDB replay of [[dedupIncremental]]: the same band layer, with
    * the candidate join restricted to delta (odd) × index (even). */
  private val incrementalSql: String =
    (lshBandsCtes +
     ", cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b FROM bands a " +
     "JOIN bands b USING (band_val) WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0) " +
     duckVerify("new_doc", "index_doc"))

  /** DuckDB twin of [[graft.expr.TextHash.simhash64]] (60 voting bits
    * over poly61 token hashes) + all-pairs hamming — equal to the
    * Spark pigeonhole form, whose candidate set is guaranteed complete. */
  private val simhashSql: String =
    ("WITH th AS (SELECT doc_id, list_transform(string_split(text, ' '), tk -> " +
     duckPoly61("tk") + ") AS hs FROM documents), " +
     "fp AS (SELECT doc_id, CAST(list_sum(list_transform(generate_series(0, 59), b -> " +
     "CASE WHEN list_sum(list_transform(hs, h -> CASE WHEN ((h >> b) & 1) = 1 THEN 1 ELSE -1 END)) > 0 " +
     "THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS sh FROM th) " +
     "SELECT a.doc_id AS id_a, b.doc_id AS id_b, bit_count(xor(a.sh, b.sh))::BIGINT AS hamming " +
     s"FROM fp a, fp b WHERE a.doc_id < b.doc_id AND bit_count(xor(a.sh, b.sh)) <= $SimhashMaxHamming")

  /** Shared oracle prefix: replay the exact n-gram Jaccard pair
    * pipeline and symmetrize it into a directed edge list — used by
    * both the components closure and the PageRank unroll. `pairs` and
    * `edges` are `AS MATERIALIZED`, as in [[kcoreSql]]: every user reads
    * `edges` several times, each a full all-pairs replay if inlined. */
  private[graft] val duckEdgesCte =
    ("t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
     "sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN list_distinct(" +
     "list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) " +
     "ELSE [] END AS sg FROM t), " +
     "pairs AS MATERIALIZED (SELECT id_a, id_b FROM (" +
     "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
     "len(list_intersect(a.sg, b.sg))::DOUBLE / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j " +
     "FROM sh a, sh b WHERE a.doc_id < b.doc_id) WHERE j >= 0.7), " +
     "edges AS MATERIALIZED (SELECT id_a AS s, id_b AS d FROM pairs UNION SELECT id_b, id_a FROM pairs)")

  /** DuckDB twin of [[graphPagerank]]: the ten rounded iterations
    * unrolled as chained CTEs over the identical edge replay. */
  private val pagerankCtes = {
    val iters = (1 to PagerankIters).map { i =>
      s"r$i AS (SELECT e.d AS node, " +
      // ordered fold twin: list_sort + sequential list_reduce mirrors
      // the Spark side's array_sort + aggregate (0.0 + x == x for the
      // positive contributions, so the missing fold init is immaterial)
      "round(0.15::DOUBLE / (SELECT n FROM nn) + 0.85::DOUBLE * " +
      "list_reduce(list_sort(list(r.pr / e.deg)), (a, b) -> a + b), 9) AS pr " +
      s"FROM dge e JOIN r${i - 1} r ON e.s = r.node GROUP BY e.d)"
    }.mkString(", ")
    ("deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s), " +
     "dge AS (SELECT e.s, e.d, g.deg FROM edges e JOIN deg g USING (s)), " +
     "nn AS (SELECT count(*)::DOUBLE AS n FROM deg), " +
     "r0 AS (SELECT s AS node, round(1::DOUBLE / (SELECT n FROM nn), 9) AS pr FROM deg), " +
     iters)
  }

  private val pagerankSql =
    s"WITH $duckEdgesCte, $pagerankCtes SELECT node AS doc_id, pr FROM r$PagerankIters"

  /** Transitive closure of the symmetric edge graph → per-node min
    * component label (shared by components and canonical-pick). */
  private[graft] val duckCompCte =
    ("reach AS (SELECT s AS node, d AS r FROM edges " +
     "UNION SELECT reach.node, e.d FROM reach JOIN edges e ON reach.r = e.s), " +
     "comp AS (SELECT node, least(node, min(r)) AS comp_id FROM reach GROUP BY node)")

  private val canonicalSql =
    (s"WITH RECURSIVE $duckEdgesCte, $duckCompCte, " +
     "dg AS (SELECT s AS doc_id, count(*) AS degree FROM edges GROUP BY s), " +
     "x AS (SELECT c.comp_id, c.node, g.degree, " +
     "row_number() OVER (PARTITION BY c.comp_id ORDER BY g.degree DESC, c.node ASC) AS rn, " +
     "count(*) OVER (PARTITION BY c.comp_id) AS n_docs " +
     "FROM comp c JOIN dg g ON g.doc_id = c.node) " +
     "SELECT comp_id, n_docs, node AS canonical_doc, degree FROM x WHERE rn = 1")

  /** DuckDB twin of [[graphKcore]]: the fixed peel rounds unrolled as
    * chained CTEs over the identical symmetric edge replay. The chain is
    * `AS MATERIALIZED`: each `e<i>` reads `e<i-1>` three times (directly
    * and twice through `k<i>`); left to DuckDB 1.0's CTE inlining, the
    * all-pairs edge replay under `e0` can be re-run for each of up to
    * 3^4 paths, and the query took 488 s against 10 s materialized for
    * the same relation at sf0.001 on a 4-core machine. */
  private val kcoreSql = {
    val peels = (1 to KcorePeels).map { i =>
      s"k$i AS MATERIALIZED (SELECT s FROM e${i - 1} GROUP BY s HAVING count(*) >= $KcoreK), " +
      s"e$i AS MATERIALIZED (SELECT e.s, e.d FROM e${i - 1} e JOIN k$i a ON e.s = a.s JOIN k$i b ON e.d = b.s)"
    }.mkString(", ")
    (s"WITH $duckEdgesCte, e0 AS MATERIALIZED (SELECT s, d FROM edges), $peels " +
     s"SELECT s AS doc_id, count(*)::BIGINT AS deg_core FROM e$KcorePeels GROUP BY s")
  }

  private val trianglesSql =
    (s"WITH $duckEdgesCte, " +
     "deg AS (SELECT s, count(*) AS deg FROM edges GROUP BY s), " +
     "ed AS (SELECT e.s AS u, e.d AS v FROM edges e " +
     "JOIN deg a ON a.s = e.s JOIN deg b ON b.s = e.d " +
     "WHERE a.deg < b.deg OR (a.deg = b.deg AND e.s < e.d)), " +
     "wed AS (SELECT e1.u, e1.v, e2.v AS w FROM ed e1 JOIN ed e2 ON e1.v = e2.u) " +
     "SELECT (SELECT count(*) FROM wed JOIN ed e3 ON wed.u = e3.u AND wed.w = e3.v)::BIGINT AS n_triangles, " +
     "(SELECT count(*) FROM pairs)::BIGINT AS n_edges")

  /** DuckDB twin of [[dedupExactSubstring]]: identical occurrence /
    * keeper / gaps-and-islands algebra on the gram STRINGS (the oracle
    * needs no poly61 — only the per-doc aggregates are compared, and
    * string-grouping equals hash-grouping absent 60-bit collisions).
    * Positions are 1-based here vs 0-based in Spark; every compared
    * quantity (span lengths, counts, the occurrence≠keeper test) is
    * invariant under the constant shift. */
  /** Tokenize + gram CTEs shared by the three substring-dedup oracles
    * (t: tokens, g: grams + totals, occ: 1-based positioned
    * occurrences). occ zips two same-length unnests in ONE select —
    * DuckDB aligns them positionally — instead of the former
    * unnest-pos-then-index form (`o1` carrying the whole `grams` list
    * per position row), whose CTE materialization is O(grams²) per doc
    * and ground the 10x-corpus oracle replay to a halt. */
  private[graft] val substrOccCtes = {
    val k = SubstrK
    val gramExpr = (0 until k).map(j => s"ws[i+$j]").mkString(" || ' ' || ")
    s"WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
    s"g AS (SELECT doc_id, len(ws) AS total_tokens, CASE WHEN len(ws) >= $k THEN " +
    s"list_transform(generate_series(1, len(ws)-${k - 1}), i -> $gramExpr) " +
    "ELSE [] END AS grams FROM t), " +
    "occ AS (SELECT doc_id, unnest(generate_series(1, len(grams))) AS pos, " +
    "unnest(grams) AS gram FROM g)"
  }

  /** Gaps-and-islands merge CTEs (mk -> sp), shared by the oracles. */
  private val substrSpanCtes = {
    val k = SubstrK
    s"m2 AS (SELECT doc_id, pos, max(pos+$k) OVER (PARTITION BY doc_id ORDER BY pos " +
    "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS pmax FROM mk), " +
    "m3 AS (SELECT doc_id, pos, CASE WHEN pmax IS NULL OR pos > pmax THEN 1 ELSE 0 END AS ni FROM m2), " +
    "m4 AS (SELECT doc_id, pos, sum(ni) OVER (PARTITION BY doc_id ORDER BY pos) AS island FROM m3), " +
    s"sp AS (SELECT doc_id, island, min(pos) AS s, max(pos+$k) AS e FROM m4 GROUP BY doc_id, island)"
  }

  /** Full-corpus keeper marking (dupd -> dup -> mk). The keeper is the
    * lexicographic min over (doc_id, pos) — computed in two integer
    * steps (min doc_id per dup gram, then min pos within that doc)
    * rather than one `min(struct_pack(...))`: DuckDB's struct-min
    * aggregate is pathologically slow at millions of groups (>20 min
    * and ~45 GB at the 10x bench corpus vs <1 s for this form). */
  private val substrMarkCtes =
    "dupd AS (SELECT gram, min(doc_id) AS kd FROM occ " +
    "GROUP BY gram HAVING count(*) >= 2), " +
    "dup AS (SELECT o.gram, o.doc_id AS kd, min(o.pos) AS kp FROM occ o " +
    "JOIN dupd ON o.gram = dupd.gram AND o.doc_id = dupd.kd " +
    "GROUP BY o.gram, o.doc_id), " +
    "mk AS (SELECT o.doc_id, o.pos FROM occ o JOIN dup d ON o.gram = d.gram " +
    "WHERE NOT (o.doc_id = d.kd AND o.pos = d.kp))"

  private def substrAccountingSql(docFilter: String) =
    "ag AS (SELECT doc_id, count(*) AS n_dup_spans, sum(e-s) AS dup_tokens FROM sp GROUP BY doc_id) " +
    "SELECT g.doc_id, CAST(coalesce(ag.n_dup_spans, 0) AS BIGINT) AS n_dup_spans, " +
    "CAST(coalesce(ag.dup_tokens, 0) AS BIGINT) AS dup_tokens, " +
    "CAST(g.total_tokens AS BIGINT) AS total_tokens, " +
    "round(coalesce(ag.dup_tokens, 0)::DOUBLE / g.total_tokens, 3) AS dup_frac " +
    s"FROM g LEFT JOIN ag USING (doc_id)$docFilter"

  private val substrSql =
    s"$substrOccCtes, $substrMarkCtes, $substrSpanCtes, " + substrAccountingSql("")

  /** DuckDB twin of [[substringClean]]: covered token indexes from the
    * spans, kept tokens rebuilt with an ORDER BY string_agg. */
  private val substrCleanSql =
    s"$substrOccCtes, $substrMarkCtes, $substrSpanCtes, " +
    "covered AS (SELECT doc_id, unnest(generate_series(s, e-1)) AS idx FROM sp), " +
    "tk AS (SELECT doc_id, unnest(generate_series(1, len(ws))) AS idx, " +
    "unnest(ws) AS tok FROM t), " +
    "keptt AS (SELECT tk.doc_id, tk.idx, tk.tok FROM tk LEFT JOIN covered c " +
    "ON tk.doc_id = c.doc_id AND tk.idx = c.idx WHERE c.idx IS NULL), " +
    "kept AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY idx) AS clean_text, " +
    "count(*) AS n_kept_tokens FROM keptt GROUP BY doc_id) " +
    "SELECT t.doc_id, coalesce(kept.clean_text, '') AS clean_text, " +
    "CAST(coalesce(kept.n_kept_tokens, 0) AS BIGINT) AS n_kept_tokens " +
    "FROM t LEFT JOIN kept USING (doc_id)"

  /** DuckDB twin of [[substringIncremental]]: delta occurrences marked
    * by membership in the even-doc index gram set. */
  private val substrIncrementalSql =
    s"$substrOccCtes, " +
    "ig AS (SELECT DISTINCT gram FROM occ WHERE doc_id % 2 = 0), " +
    "mk AS (SELECT doc_id, pos FROM occ WHERE doc_id % 2 <> 0 " +
    "AND gram IN (SELECT gram FROM ig)), " +
    s"$substrSpanCtes, " + substrAccountingSql(" WHERE g.doc_id % 2 <> 0")

  val oracle: Map[String, String] = Map(
    "dedup_exact_substring" -> substrSql,
    "dedup_substring_clean" -> substrCleanSql,
    "dedup_substring_incremental" -> substrIncrementalSql,
    "graph_triangles" -> trianglesSql,
    "graph_kcore" -> kcoreSql,
    "dedup_containment" ->
      (hashedShingleCte +
       " SELECT contained_doc, container_doc, round(containment, 6) AS containment FROM (" +
       "SELECT a.doc_id AS contained_doc, b.doc_id AS container_doc, " +
       "len(list_intersect(a.hs, b.hs))::DOUBLE / len(a.hs) AS containment " +
       "FROM sh a, sh b WHERE a.doc_id != b.doc_id) " +
       s"WHERE containment >= $ContainmentThreshold"),
    // delta (odd) contained in index (even) only — the candidate prefix
    // machinery is a guaranteed superset, so the replay is the exact
    // parity-sliced brute force
    "dedup_containment_incremental" ->
      (hashedShingleCte +
       " SELECT new_doc, container_doc, round(containment, 6) AS containment FROM (" +
       "SELECT a.doc_id AS new_doc, b.doc_id AS container_doc, " +
       "len(list_intersect(a.hs, b.hs))::DOUBLE / len(a.hs) AS containment " +
       "FROM sh a, sh b WHERE a.doc_id % 2 = 1 AND b.doc_id % 2 = 0) " +
       s"WHERE containment >= $ContainmentThreshold"),
    "graph_pagerank" -> pagerankSql,
    "dedup_minhash_lsh" -> minhashLshSql,
    "dedup_incremental" -> incrementalSql,
    "dedup_simhash" -> simhashSql,
    "dedup_exact" ->
      ("SELECT sha256(text) AS digest, min(doc_id) AS keeper_id, count(*) AS n_copies " +
       "FROM documents GROUP BY digest"),
    "dedup_ngram_jaccard" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
       "sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN list_distinct(" +
       "list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) " +
       "ELSE [] END AS sg FROM t) " +
       "SELECT id_a, id_b, round(j, 6) AS jaccard FROM (" +
       "SELECT a.doc_id AS id_a, b.doc_id AS id_b, " +
       "len(list_intersect(a.sg, b.sg))::DOUBLE / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j " +
       "FROM sh a, sh b WHERE a.doc_id < b.doc_id) WHERE j >= 0.7"),
    "dedup_minhash_recall" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
       "sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN list_distinct(" +
       "list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) " +
       "ELSE [] END AS sg FROM t) " +
       "SELECT count(*)::BIGINT AS n_true_pairs, TRUE AS recall_ok, TRUE AS precision_ok FROM (" +
       "SELECT a.doc_id, b.doc_id, " +
       "len(list_intersect(a.sg, b.sg))::DOUBLE / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j " +
       "FROM sh a, sh b WHERE a.doc_id < b.doc_id) WHERE j >= 0.7"),
    "dedup_simhash_recall" ->
      ("WITH t AS (SELECT doc_id, string_split(text, ' ') ws FROM documents), " +
       "sh AS (SELECT doc_id, CASE WHEN len(ws) >= 3 THEN list_distinct(" +
       "list_transform(generate_series(1, len(ws)-2), i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2])) " +
       "ELSE [] END AS sg FROM t) " +
       "SELECT count(*)::BIGINT AS n_true_pairs, TRUE AS recall_ok FROM (" +
       "SELECT a.doc_id, b.doc_id, " +
       "len(list_intersect(a.sg, b.sg))::DOUBLE / (len(a.sg) + len(b.sg) - len(list_intersect(a.sg, b.sg))) AS j " +
       "FROM sh a, sh b WHERE a.doc_id < b.doc_id) WHERE j >= 0.7"),
    "dedup_components" ->
      (s"WITH RECURSIVE $duckEdgesCte, $duckCompCte " +
       "SELECT comp_id, count(*) AS n_docs, max(node) AS max_doc FROM comp GROUP BY comp_id"),
    "dedup_canonical" -> canonicalSql,
    "dedup_keep_best" ->
      (s"WITH RECURSIVE $duckEdgesCte, $duckCompCte, " +
       "q AS (SELECT doc_id, len(list_distinct(list_filter(string_split(text, ' '), " +
       "w -> len(w) > 0)))::BIGINT AS quality FROM documents), " +
       "x AS (SELECT c.comp_id, c.node, q.quality, " +
       "row_number() OVER (PARTITION BY c.comp_id ORDER BY q.quality DESC, c.node ASC) AS rn, " +
       "count(*) OVER (PARTITION BY c.comp_id) AS n_docs " +
       "FROM comp c JOIN q ON q.doc_id = c.node) " +
       "SELECT comp_id, n_docs, node AS keep_doc, quality FROM x WHERE rn = 1"),
  )
}
