package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.Similarity._

/** Similarity-search pack over `embeddings` — the Spark-first form of
  * the reference's broadcast cross-score join (SURVEY §2.3 J6/J7 +
  * §2.4 A5/A6: BulkTanimotoSimilarity → max/argmax/top-k), generalized
  * to the engine's ANN north-star: brute-force cosine top-k as the
  * exact baseline and random-hyperplane LSH bucketing as the scale
  * path.
  *
  * Scale notes (100 TB): the brute-force queries broadcast the SMALL
  * side (query set / centroid set) so the big fact side streams through
  * a single codegen'd stage — no shuffle of the large table; top-k is a
  * per-query-partition window over the (tiny) query_id keyspace. The
  * all-pairs near-dup query is intrinsically O(N²)/crossJoin at small N;
  * at scale the LSH variant replaces it: bucket both sides on hyperplane
  * sign-bits, equi-join on bucket (co-partitioned shuffle), and verify
  * candidates with exact cosine — recall measured in SimilaritySpec.
  */
object SimilarityQueries {

  val NearDupThreshold = 0.35
  /** Banded LSH: L tables × k sign-bits. P[candidate | cos θ] =
    * 1-(1-p^k)^L with p = 1-θ/π — at k=4, L=16 recall ≈ 0.9 for
    * sim ≥ 0.35 and ≈ 1 for true near-dups, while bucket width stays
    * ~N/2^k per table. */
  val LshTables = 16
  val LshBits = 4
  val LshSeed = 42L

  /** J6/A6: exact top-5 cosine neighbors for each query vector
    * (vec_id < 5), excluding self. Broadcast the query side. */
  def annBruteTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val w = Window.partitionBy("query_id").orderBy(col("sim").desc, col("vec_id").asc)
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("sim", cosine(col("embedding"), col("q_emb")))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= 5)
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        round(col("sim"), 6).as("cos_sim"), col("rnk"))
  }

  /** ann_brute_topk in AGGREGATE form: the per-query top-k comes from
    * the bounded-heap `topk_pairs` aggregate instead of a
    * `row_number().over(Window)` — partial aggregation means each task
    * sends at most k pairs per query into the shuffle (O(queries·k)
    * exchange, independent of N), where the window form must shuffle
    * and sort ALL N·queries scored rows. Same oracle as the window
    * form — the two plans are checked equal. This is the 100 TB shape
    * for J6/A5/A6 top-k similarity. */
  def annTopkAgg(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.topkpairs.topk_pairs
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id"),
        cosine(col("embedding"), col("q_emb")).as("sim"))
      .groupBy(col("query_id"))
      .agg(topk_pairs(col("sim"), col("vec_id"), 5).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        round(col("p.score"), 6).as("cos_sim"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** Shared per-query top-k tail for the ANN search paths: scored
    * (query_id, vec_id, sim) rows → ranked (query_id, neighbor_id,
    * cos_sim, rnk) via the bounded-heap `topk_pairs` aggregate.
    * O(queries·k) shuffle bytes — each task's partial buffer carries at
    * most k pairs per query — where the `row_number().over(Window)`
    * form it replaces had to shuffle and sort EVERY scored candidate
    * row per query partition (see [[annTopkAgg]], which proves the two
    * forms equal). Identical total order: (sim desc, vec_id asc). */
  private def topkTail(scored: DataFrame, k: Int): DataFrame = {
    import graft.expr.topkpairs.topk_pairs
    scored
      .groupBy(col("query_id"))
      .agg(topk_pairs(col("sim"), col("vec_id"), k).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        round(col("p.score"), 6).as("cos_sim"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** nprobe-nearest-centroid probe sets, heap-ranked like [[topkTail]]
    * (csim desc, cluster asc — the same order the window form used):
    * (query_id, q_emb, cluster) with `nprobe` rows per query. The
    * centroid set is a ≤k-row broadcast; the probe pick never windows. */
  private def probeClusters(q: DataFrame, cents: DataFrame, nprobe: Int): DataFrame = {
    import graft.expr.topkpairs.topk_pairs
    q.crossJoin(broadcast(cents))
      .select(col("query_id"),
        cosine(col("q_emb"), col("centroid")).as("csim"), col("cluster"))
      .groupBy(col("query_id"))
      .agg(topk_pairs(col("csim"), col("cluster"), nprobe).as("top"))
      .select(col("query_id"), explode(col("top").getField("id")).as("cluster"))
      .join(broadcast(q), "query_id")
      .select(col("query_id"), col("q_emb"), col("cluster"))
  }

  /** Hard cap on the all-pairs exact baseline: O(n²) work is the POINT
    * of [[annNearDupPairs]] (it is the ground truth the LSH/IVF/PQ
    * recall contracts ratio against), but pointed at a real corpus it
    * would be a silent cluster-killer. Fail fast instead — the scale
    * path for production near-dup is [[annLshNearDup]]/semantic dedup. */
  val NearDupExactMaxRows = 100000L

  /** Embedding-cosine near-duplicate pairs (all-pairs exact form). */
  def annNearDupPairs(spark: SparkSession, dir: String): DataFrame = {
    // norms are computed once per ROW (projection below the join);
    // each pair then pays only the dot product — same double-precision
    // formula as the oracle (dot / (|a|·|b|)), just factored.
    val e = Tables.embeddings(spark, dir)
    val n = e.count()
    require(n <= NearDupExactMaxRows,
      s"annNearDupPairs is the O(n^2) exact baseline: input has $n rows " +
      s"(cap $NearDupExactMaxRows). Use annLshNearDup for corpus-scale near-dup.")
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      norm(col("embedding")).as("norm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      norm(col("embedding")).as("norm_b"))
    a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("sim") >= NearDupThreshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("cos_sim"))
  }

  /** J7-analogue: nearest label-centroid per vector → confusion counts
    * (label, predicted, n). Centroids are a 3-row broadcast. The
    * per-vector argmax is `max_by` over (sim, −pred) — a partial-
    * aggregable groupBy, where the previous `row_number().over(
    * Window.partitionBy(vec_id))` form shuffle-sorted every scored row
    * of the corpus into one-vector partitions (same tie-break: highest
    * sim, then lowest predicted label). */
  def simCentroidConfusion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // literal-argmax assignment (the ivfIndex/nearestCluster shape, r15):
    // the label-centroid table is a ≤|labels|-row model-parameter
    // transfer, so the per-vector argmax becomes a PURE PROJECTION —
    // identical cosine kernel and tie-break (sim desc, label asc) to the
    // crossJoin + max_by form it replaces, which shuffled the corpus
    // through a groupBy(vec_id) SortAggregate just to undo the ×|labels|
    // fan-out it had itself created
    val c = centroids(e, "label", "embedding")
      .select(col("label").cast("long").as("cluster"), col("centroid"))
    e.select(col("label"),
        graft.ops.Similarity.nearestCluster(c, col("embedding"))
          .cast("int").as("pred_label"))
      .groupBy(col("label"), col("pred_label"))
      .agg(count(lit(1)).as("n"))
  }

  /** LSH scale path: bucket on sign-bits (table t = the 4 coordinate
    * axes 4t..4t+3 — 16 tables exactly tile the 64 dims), equi-join on
    * bucket, exact-cosine verify. Axis-aligned planes make the bucket a
    * pure function of the data, so the DuckDB oracle replays the WHOLE
    * pipeline — including LSH's recall misses — and the driver
    * hash-checks it (driver-seeded Gaussian planes were rows-only).
    * Recall vs the exact baseline additionally oracle-enforced in
    * [[annLshRecall]]. */
  def annLshNearDup(spark: SparkSession, dir: String): DataFrame = {
    val buckets = array((0 until LshTables).map { t =>
      signBucketBits(col("embedding"), t * LshBits, LshBits)
    }: _*)
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), posexplode(buckets).as(Seq("tbl", "bucket")))
    val a = e.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
    val b = e.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"))
    // candidate ids only through the bucket join (no array shuffling);
    // dedup across tables, then join the vectors back for the exact
    // verify as two id-keyed SHUFFLE joins — pairs pay one dot product,
    // rows pay one norm. The embeddings table is corpus-sized, so it
    // must never broadcast (same rationale as DedupQueries.verifyAgainst;
    // PlanLintSpec's fact-broadcast lint enforces this).
    val cand = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val v = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    cand
      .join(v.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("norm_a")), "id_a")
      .join(v.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("norm_b")), "id_b")
      .withColumn("sim", dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("sim") >= NearDupThreshold)
      .select(col("id_a"), col("id_b"), round(col("sim"), 6).as("cos_sim"))
  }

  /** IVF ANN: coarse-quantize into 8 clusters (deterministic vec_id%8
    * seeding + Lloyd steps over 9-dp-pinned centroids), probe the 3
    * nearest clusters per query, exact top-5 within the probed subset.
    * The deterministic seeding and centroid pinning give the k-means an
    * exact DuckDB twin, so the driver hash-checks the full IVF
    * build+search; recall vs brute force is ALSO oracle-enforced in
    * [[annIvfRecall]] and asserted in the spec. */
  def annIvfTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    // ONE Lloyd step: near-random embeddings cluster poorly whether
    // refined once or twice (measured recall 0.56-0.68 at one step vs
    // 0.60-0.72 at two, both above the >=0.5 contract), and each extra
    // step costs a full assign+reduce round over the corpus
    val (assigned, cents) = ivfIndex(e, "vec_id", "embedding", k = 8, iters = 1)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probes = probeClusters(q, cents, nprobe = 3)
    topkTail(
      assigned.join(broadcast(probes), Seq("cluster"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("sim")),
      k = 5)
  }

  /** IVF index MAINTENANCE (net-new): append a delta without
    * retraining. Centroids are learned on the BASE slice only
    * (vec_id % 5 ≠ 0, ~80%), then FROZEN; every vector — the base
    * re-labeled and the 20% delta appended — is assigned by the same
    * literal-centroid argmax, a pure projection with no shuffle and no
    * further Lloyd rounds. This is how a production vector index
    * absorbs new embeddings between periodic rebuilds: assignment cost
    * is one codegen'd pass over the delta, and the search path
    * (probe 3 of 8 clusters, exact rescore) is IDENTICAL to the
    * full-build index's. Deterministic end to end (seeded k-means over
    * 9-dp-pinned centroids), so the oracle replays build, freeze,
    * append, and search exactly. */
  def annIvfAppend(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val base = e.filter(col("vec_id") % 5 =!= 0)
    val (_, cents) = ivfIndex(base, "vec_id", "embedding", k = 8, iters = 1)
    val idx = e.withColumn("cluster",
      graft.ops.Similarity.nearestCluster(cents, col("embedding")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probes = probeClusters(q, cents, nprobe = 3)
    topkTail(
      idx.join(broadcast(probes), Seq("cluster"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("sim")),
      k = 5)
  }

  /** IVF index as a PARTITIONED TABLE (net-new): the serving-side form
    * of [[annIvfTopk]] — the cluster assignment is PERSISTED once,
    * partitioned by cluster id, and each query's nprobe=3 probe set
    * becomes a partition-column IN filter, so the scan's file IO
    * touches only the probed partitions (PartitionFilters asserted in
    * the spec). At 100 TB this is how an ANN index actually deploys:
    * build once, then every search reads 3/8ths (nprobe/k) of the
    * index, not the table. The probe ids are collected to the driver —
    * a ≤15-value model decision, the same parameter transfer as the
    * centroids themselves. Results (and the oracle) are identical to
    * the in-flight IVF query. */
  def annIvfPartitioned(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val (assigned, cents) = ivfIndex(e, "vec_id", "embedding", k = 8, iters = 1)
    val out = graft.ScratchDirs.of("ivf_index", dir)
    // cluster-align the write tasks: without this every scan task emits
    // a file into every cluster dir (tasks × k files + as many commit
    // renames); aligned, the build is k files for k partitions. At real
    // index scale the same line becomes repartition(n·k, ...) to keep
    // n-way parallelism per partition dir without the all-to-all blowup.
    assigned.repartition(8, col("cluster"))
      .write.mode("overwrite").partitionBy("cluster").parquet(out)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val probes = probeClusters(q, cents, nprobe = 3)
    // INT literals: the read-back partition column is inferred as int,
    // and an untyped-cast filter can defeat partition pruning
    val probedClusters = probes.select(col("cluster")).distinct()
      .collect().map(_.getLong(0).toInt).sorted
    val idx = spark.read.parquet(out)
      .filter(col("cluster").isin(probedClusters: _*)) // static partition pruning
      .select(col("vec_id"), col("embedding"), col("cluster").cast("long").as("cluster"))
    topkTail(
      idx.join(broadcast(probes), Seq("cluster"))
        .filter(col("vec_id") =!= col("query_id"))
        .select(col("query_id"), col("vec_id"),
          cosine(col("embedding"), col("q_emb")).as("sim")),
      k = 5)
  }

  /** Int8 scalar-quantized ANN with exact rescore (net-new): the
    * SQ8 compression path real vector stores use at scale — each vector
    * is quantized to integers in [-127,127] with a per-vector scale
    * (max|x|/127), candidates come from the QUANTIZED cosine (the scale
    * cancels in cosine, so no dequantization), and only the top-20
    * candidates pay the full-precision rescore for the final top-5. At
    * 100 TB the quantized table is 4× smaller than float32 — the scan
    * and broadcast both shrink by that factor, and the exact vectors
    * are fetched for ~20 rows per query instead of all N. Quantization
    * (round half-away) and integral-double arithmetic are bit-exact in
    * both engines, so the full build+search has a DuckDB replay. */
  def annQuantizedTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      // scale materialized as its OWN attribute: the quantize lambda
      // references it per element (see Dedup.wordGrams on inlining)
      .withColumn("sc", array_max(transform(col("v"), x => abs(x))) / 127.0)
      .withColumn("q", when(col("sc") === 0, transform(col("v"), _ => lit(0.0)))
        .otherwise(transform(col("v"), x => round(x / col("sc"), 0))))
    import graft.expr.topkpairs.topk_pairs
    val qq = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("q").as("q_q"))
    // quantized-cosine candidates through the bounded heap: the scored
    // stream carries only (query_id, vec_id, qsim) — the full-precision
    // vectors no longer ride through a per-query sort shuffle
    val cand = e.crossJoin(broadcast(qq))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), cosine(col("q"), col("q_q")).as("qsim"), col("vec_id"))
      .groupBy(col("query_id"))
      .agg(topk_pairs(col("qsim"), col("vec_id"), 20).as("top"))
      .select(col("query_id"), explode(col("top").getField("id")).as("vec_id"))
    // exact rescore fetches full vectors for ~20 rows per query only:
    // broadcast the (queries·20)-row candidate set against the corpus
    topkTail(
      e.select(col("vec_id"), col("v")).join(broadcast(cand), "vec_id")
        .join(broadcast(qq.select(col("query_id"), col("qv"))), "query_id")
        .select(col("query_id"), col("vec_id"),
          cosine(col("v"), col("qv")).as("sim")),
      k = 5)
  }

  val PqSubspaces = 8
  val PqSubDim = 8
  val PqCodes = 16
  val PqRescoreK = 150
  val PqLloydSteps = 2

  /** ANN via product quantization (net-new): the classic memory-bound
    * trade — each 64-dim vector stored as 8 one-byte codes (64× smaller
    * than float32) against per-subspace codebooks of 16 centroids;
    * search scores queries against RECONSTRUCTED vectors (ADC), then
    * exact-rescores the top-[[PqRescoreK]] ADC candidates down to
    * top-5 (the pool is wide — 150 — because 16-code-per-subspace
    * quantization is coarse; rescoring is still ≪ corpus-sized).
    * Codebooks: deterministic seed
    * (vec_id % 16) + one Lloyd step, centroids pinned at 9 dp — and
    * every distance/dot is computed with FIXED left-to-right HOF
    * folds (Spark `aggregate` ≡ DuckDB `list_reduce`), so the whole
    * pipeline — codebook, assignment, ADC ranking — is bit-replayable
    * by the oracle. Scale: codebooks are a 128-row broadcast; encoding
    * is one scan + a (vec, subspace)-keyed aggregate; queries never
    * shuffle the corpus. */
  def annPqTopk(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    // subspace decomposition as a PURE PROJECTION (r14 optimization):
    // sv for subspace m is just v[m·SubDim+1 .. (m+1)·SubDim] in
    // position order, so `slice` yields it directly — the previous
    // posexplode(64 dims) → groupBy(vec_id, m) → array_sort(collect_list)
    // round-trip paid a 128k-row shuffle PER REFERENCE of this subtree
    // (the Lloyd rounds reference it 4×); identical values, zero
    // exchanges (plan: ann_pq_topk 9 → 5 Exchange)
    val sub = e.select(col("vec_id"), explode(array((0 until PqSubspaces).map(m =>
        struct(lit(m).as("m"),
          slice(col("v"), m * PqSubDim + 1, PqSubDim).as("sv"))): _*)).as("ms"))
      .select(col("vec_id"), col("ms.m").as("m"), col("ms.sv").as("sv"))
    val dims = sub.select(col("vec_id"), col("m"), posexplode(col("sv")).as(Seq("j", "x")))
    // per-subspace codebook: deterministic vec_id % 16 seed, then
    // [[PqLloydSteps]] Lloyd rounds with 9-dp-pinned means (the IVF
    // convention); each round = mean-per-(m, code, j) + re-assignment.
    // Encoding (argmin codeword) uses an ordered d2 fold over the 8
    // dims → bit-identical across engines.
    def codebookFrom(assign: DataFrame): DataFrame =
      dims.join(assign, Seq("vec_id", "m"))
        .groupBy(col("m"), col("code"), col("j")).agg(round(avg(col("x")), 9).as("c"))
        .groupBy(col("m"), col("code"))
        .agg(array_sort(collect_list(struct(col("j"), col("c")))).as("jc"))
        .select(col("m"), col("code"), transform(col("jc"), _.getField("c")).as("cv"))
    def assignFrom(cb: DataFrame): DataFrame =
      sub.join(broadcast(cb), Seq("m"))
        .withColumn("d2", aggregate(
          zip_with(col("sv"), col("cv"), (a, b) => (a - b) * (a - b)),
          lit(0.0), (acc, t) => acc + t))
        .groupBy(col("vec_id"), col("m"))
        // min_tuple ≡ min(struct(d2, code)) but hash-aggregable (primitive
        // buffer slots) — the (vec, subspace)-keyed argmin is corpus×8
        // groups, where the struct-min form sort-aggregated every scored
        // row (r15; see graft.expr.TupleExtremum)
        .agg(graft.expr.tupleagg.min_tuple(col("d2"), col("code")).as("mc"))
        .select(col("vec_id"), col("m"), col("mc.code").as("code"))
    var assign = sub.select(col("vec_id"), col("m"),
      (col("vec_id") % PqCodes).cast("int").as("code"))
    // each round's codebook is MATERIALIZED (128 rows) before the next
    // round references it: without the cut, round r's plan re-derives
    // every earlier round's aggregation chain per reference and the
    // final plan carries the whole training lineage ~4× (r14
    // optimization; localCheckpoint is within the timed query — the
    // build still runs from the parquet inputs on every invocation)
    var cbv: DataFrame = codebookFrom(assign).localCheckpoint()
    for (_ <- 1 until PqLloydSteps) {
      assign = assignFrom(cbv)
      cbv = codebookFrom(assign).localCheckpoint()
    }
    val cb2 = cbv.withColumn("cn2",
      aggregate(zip_with(col("cv"), col("cv"), (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t))
    val asg = assignFrom(cb2.select(col("m"), col("code"), col("cv")))
    val enc = asg.join(broadcast(cb2), Seq("m", "code"))
    // ADC: query subvectors against the codeword table, per-subspace
    // dots folded in m order
    val qsub = sub.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("m"), col("sv").as("qsv"))
    val pm = enc.join(broadcast(qsub), Seq("m"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("dm", aggregate(zip_with(col("qsv"), col("cv"), (a, b) => a * b),
        lit(0.0), (acc, t) => acc + t))
      .groupBy(col("query_id"), col("vec_id"))
      .agg(array_sort(collect_list(struct(col("m"), col("dm"), col("cn2")))).as("parts"))
      .select(col("query_id"), col("vec_id"),
        aggregate(transform(col("parts"), _.getField("dm")), lit(0.0), (acc, t) => acc + t).as("adot"),
        aggregate(transform(col("parts"), _.getField("cn2")), lit(0.0), (acc, t) => acc + t).as("rn2"))
    import graft.expr.topkpairs.topk_pairs
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        norm(col("v")).as("qnorm"))
    // ADC ranking through the bounded heap: at most PqRescoreK ids per
    // query cross the shuffle, not every ADC-scored corpus row
    val cand = pm.join(broadcast(q.select(col("query_id"), col("qnorm"))), Seq("query_id"))
      .select(col("query_id"),
        (col("adot") / (col("qnorm") * sqrt(col("rn2")))).as("qsim"), col("vec_id"))
      .groupBy(col("query_id"))
      .agg(topk_pairs(col("qsim"), col("vec_id"), PqRescoreK).as("top"))
      .select(col("query_id"), explode(col("top").getField("id")).as("vec_id"))
    // exact rescore of the quantized candidates only
    topkTail(
      e.select(col("vec_id"), col("v")).join(broadcast(cand), "vec_id")
        .join(broadcast(q.select(col("query_id"), col("qv"))), "query_id")
        .select(col("query_id"), col("vec_id"),
          cosine(col("v"), col("qv")).as("sim")),
      k = 5)
  }

  /** Deterministic bit fingerprint from embedding sign bits: 4 words ×
    * 16 bits, word w bit i set iff embedding[16w+i] > 0 — the stand-in
    * for ECFP fingerprints (chemistry perception is input data per
    * SURVEY §7; the RELATIONAL similarity machinery on top is what the
    * engine owns). Built with HOFs over the embedding ATTRIBUTE
    * (materialized per projection — see Dedup.wordGrams on the lambda
    * re-evaluation trap). */
  private def bitFingerprint(emb: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(3)), w =>
      aggregate(sequence(lit(1), lit(16)), lit(0L), (acc, i) =>
        acc + when(element_at(emb, (w * 16 + i).cast("int")) > 0f,
          pow(lit(2.0), (i - 1).cast("double")).cast("long")).otherwise(lit(0L))))

  /** J6 at corpus scale — banded fingerprint similarity search
    * (bit-sampling LSH for Hamming/Tanimoto, per Indyk–Motwani). The
    * reference cross-scores every compound against every reference
    * fingerprint (finalize_realease.py:199-219) — fine for 6 broadcast
    * refs, quadratic for corpus-vs-corpus search. Here each 64-bit
    * fingerprint splits into 8 one-byte bands and only pairs agreeing
    * on at least one band are scored: an equi-shuffle on (band, bits)
    * replaces the cross join, and the exact Tanimoto runs on
    * candidates only — the same candidates-only discipline as
    * dedup_minhash_lsh, with the bounded-heap top-3 tail. The oracle
    * replays the whole pipeline (bands → candidate join → exact
    * Tanimoto → heap-ordered rank) in SQL. */
  def simFpLshTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.bitsimfunctions.bit_tanimoto
    import graft.expr.topkpairs.topk_pairs
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), bitFingerprint(col("embedding")).as("fp"))
    val banded = e
      .select(col("vec_id"), explode(sequence(lit(0), lit(7))).as("band"), col("fp"))
      .select(col("vec_id"), col("band"), {
        val word = element_at(col("fp"), (col("band") / 2).cast("int") + 1)
        when(pmod(col("band"), lit(2)) === 0, pmod(word, lit(256)))
          .otherwise(floor(word / lit(256)).cast("long")).as("bits")
      })
    val cand = banded.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("band"), col("bits"))
      .join(banded.filter(col("vec_id") >= 5), Seq("band", "bits"))
      .select(col("query_id"), col("vec_id")).distinct()
    // exact verify on candidates only: corpus fps arrive by id-keyed
    // shuffle join; the 5-query fp side is a reduced broadcast
    val scored = cand
      .join(e.filter(col("vec_id") >= 5), "vec_id")
      .join(broadcast(e.filter(col("vec_id") < 5)
        .select(col("vec_id").as("query_id"), col("fp").as("qfp"))), "query_id")
      .select(col("query_id"), col("vec_id"), bit_tanimoto(col("fp"), col("qfp")).as("sim"))
    scored.groupBy(col("query_id"))
      .agg(topk_pairs(col("sim"), col("vec_id"), 3).as("top"))
      .select(col("query_id"), posexplode(col("top")).as(Seq("pos", "p")))
      .select(col("query_id"), col("p.id").as("neighbor_id"),
        round(col("p.score"), 6).as("tanimoto"), (col("pos") + 1).cast("long").as("rnk"))
  }

  /** D4+J6/A5/A6 over bit fingerprints: per item, the best reference by
    * Tanimoto (argmax with ref-id tie-break), the max similarity, and
    * the top-3 mean — the reference's `add_tanimoto_scores` triple
    * (finalize_realease.py:199-222) on the engine's fused popcount
    * kernel. Refs broadcast; one scan of the fact side. */
  def simFpTanimotoTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.bitsimfunctions._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), bitFingerprint(col("embedding")).as("fp"))
    val refs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("ref_id"), col("fp").as("ref_fp"))
    val top3 = slice(reverse(array_sort(collect_list(col("sim")))), 1, 3)
    e.filter(col("vec_id") >= 5)
      .crossJoin(broadcast(refs))
      .select(col("vec_id"), col("ref_id"), bit_tanimoto(col("fp"), col("ref_fp")).as("sim"))
      .groupBy(col("vec_id"))
      .agg(max_by(col("ref_id"), struct(col("sim"), (-col("ref_id")).as("nr"))).as("best_ref"),
        round(max(col("sim")), 6).as("max_sim"),
        round(aggregate(top3, lit(0.0), _ + _) / size(top3), 6).as("top3_mean"))
  }

  /** J7: per item the best reference under Tversky(.7,.3) AND under
    * Dice — two argmaxes in one aggregate pass over the same scored
    * rows (the reference scores both metrics per pair,
    * finalize_realease.py:407-418). */
  def simFpTverskyDice(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.bitsimfunctions._
    val e = Tables.embeddings(spark, dir)
      .select(col("vec_id"), bitFingerprint(col("embedding")).as("fp"))
    val refs = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("ref_id"), col("fp").as("ref_fp"))
    // max_tuple ≡ max_by over (score, -ref_id) — the argmax ref_id rides
    // back out as -nr (the tie-break field is the negated id, so the
    // aggregate needs no separate payload) and the max score is the
    // tuple's own first field; hash-aggregable where the max_by-of-struct
    // pair sort-aggregated the ×|refs| scored stream (r15)
    e.filter(col("vec_id") >= 5)
      .crossJoin(broadcast(refs))
      .select(col("vec_id"), col("ref_id"),
        bit_tversky(col("fp"), col("ref_fp"), 0.7, 0.3).as("tv"),
        bit_dice(col("fp"), col("ref_fp")).as("dc"))
      .groupBy(col("vec_id"))
      .agg(graft.expr.tupleagg.max_tuple(col("tv"), (-col("ref_id")).as("nr")).as("bt"),
        graft.expr.tupleagg.max_tuple(col("dc"), (-col("ref_id")).as("nr")).as("bd"))
      .select(col("vec_id"),
        (-col("bt.nr")).as("best_tversky_ref"),
        round(col("bt.tv"), 6).as("best_tversky"),
        (-col("bd.nr")).as("best_dice_ref"),
        round(col("bd.dc"), 6).as("best_dice"))
  }

  /** Session-memoized ANN search results (see [[graft.SessionMemo]]):
    * the recall/drift CONTRACT queries below consume the same search
    * outputs the standalone queries measure — each used to re-run the
    * full search pipeline per contract (brute force three times, IVF
    * twice per session). Like the dedup pack's exact-pairs table, the
    * shared result materializes once and the contracts fan out from the
    * artifact; the registered search queries themselves stay on the
    * live pipelines — they ARE the measurements. Only results with TWO
    * OR MORE contract consumers are memoized (a single-consumer memo
    * would just add a parquet round-trip). */
  private def shared(spark: SparkSession, kind: String, dir: String)
                    (build: => DataFrame): DataFrame =
    graft.SessionMemo.parquet(spark, kind, dir)(build)

  /** LSH near-dup quality as oracle-checked data (see
    * DedupQueries.dedupMinhashRecall): true-pair count + recall ≥ 0.8
    * and exact precision (cosine-verified candidates only). Measured
    * 0.94–0.96 at sf0.001/0.01/0.1 with the sign-bucket tables, so the
    * contract has margin without admitting silent erosion. */
  def annLshRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = annNearDupPairs(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1).as("t"))
    val lsh = annLshNearDup(spark, dir)
      .select(col("id_a"), col("id_b"), lit(1).as("f"))
    // coalesce(...,0): empty exact set must yield (0, TRUE, TRUE), not NULLs
    exact.join(lsh, Seq("id_a", "id_b"), "full")
      .agg(coalesce(sum(col("t")), lit(0)).as("n_true"),
        coalesce(sum(col("t") * col("f")), lit(0)).as("hits"),
        coalesce(sum(when(col("t").isNull, 1).otherwise(0)), lit(0)).as("extras"))
      .select(col("n_true").cast("long").as("n_true_pairs"),
        (col("hits") >= col("n_true") * 0.8).as("recall_ok"),
        (col("extras") === 0).as("precision_ok"))
  }

  /** Seeded 10% id-slice for [[annLshRecallSampled]]'s truth side:
    * vec_id ≡ 7 (mod 10). ScaleCorpus replica offsets are multiples of
    * 10⁸, so every replica of a sliced base vector stays in the slice —
    * the slice is a consistent 10% of ANY N× corpus. */
  val LshRecallSliceMod = 10
  val LshRecallSliceRes = 7

  /** [[annLshRecall]] with a SAMPLED truth side — the at-scale form of
    * the LSH recall contract (VERDICT r13 #3). The full contract's
    * truth side is the sanctioned O(n²) exact baseline, which at the
    * 10× corpus (50k vectors) is 1.25 B scored pairs — unverifiable in
    * practice. Here the truth is exact pairs over the seeded 10%
    * id-slice (O(n²/100) — the 10× corpus costs ~12.5 M pairs, about
    * the 1× full baseline), and the LSH side evaluates the SAME
    * production bucket geometry with the slice filter pushed below the
    * bucket join — exact, because a pair's candidacy depends only on
    * its two vectors' own sign buckets, so bucketing only slice
    * vectors yields precisely the slice-restricted candidate set of
    * the full-corpus join. Recall on the slice is unbiased for the
    * full contract for the same reason: whether a truth pair is
    * recalled is independent of slice membership. Unlike
    * annLshRecall's TRUE-pinned floor, the oracle
    * here replays BOTH sides (slice truth + full LSH) so the measured
    * recall itself is hash-checked — at gate SFs the slice holds only
    * a handful of true pairs and a single LSH miss swings the ratio
    * past any fixed floor, so the floor is asserted where it is
    * meaningful: in SimilaritySpec at the gate SFs on the FULL
    * contract, and in BASELINE.md's committed 10× replay of this one. */
  def annLshRecallSampled(spark: SparkSession, dir: String): DataFrame = {
    val inSlice = (c: org.apache.spark.sql.Column) =>
      c % LshRecallSliceMod === LshRecallSliceRes
    val e = Tables.embeddings(spark, dir).filter(inSlice(col("vec_id")))
    val n = e.count()
    require(n <= NearDupExactMaxRows,
      s"annLshRecallSampled truth slice has $n rows (cap $NearDupExactMaxRows): " +
      "raise LshRecallSliceMod before pointing it at a bigger corpus.")
    val a = e.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"),
      norm(col("embedding")).as("norm_a"))
    val b = e.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"),
      norm(col("embedding")).as("norm_b"))
    val exact = a.crossJoin(b)
      .filter(col("id_a") < col("id_b"))
      .withColumn("sim", dot(col("emb_a"), col("emb_b")) / (col("norm_a") * col("norm_b")))
      .filter(col("sim") >= NearDupThreshold)
      .select(col("id_a"), col("id_b"), lit(1).as("t"))
    // LSH side: the slice filter is pushed BELOW the bucket join.
    // This is algebraically exact, not an approximation: a pair's
    // candidacy depends only on its two vectors' own sign buckets (a
    // per-vector function), so bucketing only slice vectors yields
    // EXACTLY the slice-restricted candidate set of the full-corpus
    // join — while cutting the join mass 100×. Without the pushdown
    // the contract is unverifiable at 10×: sign-bucket candidates
    // scale n²/2^k (k=4 bits, 16 buckets), ~1.25 B pairs at 50k
    // vectors — the measured geometry's honest scale limit, recorded
    // in BASELINE.md.
    val lshBuckets = array((0 until LshTables).map { t =>
      signBucketBits(col("embedding"), t * LshBits, LshBits)
    }: _*)
    val se = e.select(col("vec_id"), posexplode(lshBuckets).as(Seq("tbl", "bucket")))
    val ca = se.select(col("tbl"), col("bucket"), col("vec_id").as("id_a"))
    val cb = se.select(col("tbl"), col("bucket"), col("vec_id").as("id_b"))
    val cand = ca.join(cb, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    val v = e.select(col("vec_id"), col("embedding"), norm(col("embedding")).as("nrm"))
    val lsh = cand
      .join(v.select(col("vec_id").as("id_a"), col("embedding").as("emb_a"), col("nrm").as("na")), "id_a")
      .join(v.select(col("vec_id").as("id_b"), col("embedding").as("emb_b"), col("nrm").as("nb")), "id_b")
      .filter(dot(col("emb_a"), col("emb_b")) / (col("na") * col("nb")) >= NearDupThreshold)
      .select(col("id_a"), col("id_b"), lit(1).as("f"))
    exact.join(lsh, Seq("id_a", "id_b"), "full")
      .agg(coalesce(sum(col("t")), lit(0)).cast("long").as("n_true"),
        coalesce(sum(col("t") * col("f")), lit(0)).cast("long").as("hits"),
        coalesce(sum(when(col("t").isNull, 1).otherwise(0)), lit(0)).as("extras"))
      .select(col("n_true").as("n_true_pairs"), col("hits"),
        when(col("n_true") === 0, lit(1.0))
          .otherwise(round(col("hits").cast("double") / col("n_true"), 6)).as("recall"),
        (col("hits") >= col("n_true") * 0.8).as("recall_ok"),
        (col("extras") === 0).as("precision_ok"))
  }

  /** IVF quality as oracle-checked data: neighbor-set recall ≥ 0.5 vs
    * brute force at 3/8 probes (measured 0.56–0.68 at all three SFs),
    * and the structural guarantee that IVF still returns exactly k per
    * query. */
  def annIvfRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = shared(spark, "ann_brute_topk", dir)(annBruteTopk(spark, dir))
      .select(col("query_id"), col("neighbor_id"), lit(1).as("t"))
    val ivf = shared(spark, "ann_ivf_topk", dir)(annIvfTopk(spark, dir))
      .select(col("query_id"), col("neighbor_id"), lit(1).as("f"))
    exact.join(ivf, Seq("query_id", "neighbor_id"), "full")
      .agg(coalesce(sum(col("t")), lit(0)).as("n_true"),
        coalesce(sum(col("t") * col("f")), lit(0)).as("hits"),
        coalesce(sum(col("f")), lit(0)).as("n_ivf"))
      .select(col("n_true").cast("long").as("n_true_neighbors"),
        (col("hits") >= col("n_true") * 0.5).as("recall_ok"),
        (col("n_ivf") === col("n_true")).as("k_ok"))
  }

  /** PQ quality as oracle-enforced data (same convention as
    * [[annIvfRecall]]): recall ≥ 0.5 of the exact top-5 among the PQ
    * top-5 (measured 0.60/0.84/0.84 at sf0.1/0.01/0.001 with the
    * 150-candidate rescore; floor leaves margin for SF-dependent
    * codebook geometry), plus exact-k completeness. */
  def annPqRecall(spark: SparkSession, dir: String): DataFrame = {
    val exact = shared(spark, "ann_brute_topk", dir)(annBruteTopk(spark, dir))
      .select(col("query_id"), col("neighbor_id"), lit(1).as("t"))
    val pq = annPqTopk(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("f"))
    exact.join(pq, Seq("query_id", "neighbor_id"), "full")
      .agg(coalesce(sum(col("t")), lit(0)).as("n_true"),
        coalesce(sum(col("t") * col("f")), lit(0)).as("hits"),
        coalesce(sum(col("f")), lit(0)).as("n_pq"))
      .select(col("n_true").cast("long").as("n_true_neighbors"),
        (col("hits") >= col("n_true") * 0.5).as("recall_ok"),
        (col("n_pq") === col("n_true")).as("k_ok"))
  }

  /** Rebuild-vs-append DRIFT contract (the follow-on to
    * [[annIvfAppend]]): a frozen-centroid index degrades as appends
    * accumulate — the operational question is WHEN to pay a rebuild.
    * This query measures exactly that decision input: neighbor-set
    * recall vs brute force for the APPENDED index (centroids trained on
    * the 80% base slice, delta absorbed without retraining) and for the
    * REBUILT index (centroids retrained on everything), plus their hit
    * difference. Contracts: the appended index holds the ≥ 0.4 floor
    * (the spec's measured envelope) and the rebuilt index holds the
    * ≥ 0.5 full-build floor from [[annIvfRecall]]. Every leg is the
    * deterministic oracle-replayable pipeline, so the drift numbers —
    * not just the booleans — hash-match. */
  def annIvfDrift(spark: SparkSession, dir: String): DataFrame = {
    val keys = Seq("query_id", "neighbor_id")
    val brute = shared(spark, "ann_brute_topk", dir)(annBruteTopk(spark, dir))
      .select(col("query_id"), col("neighbor_id"), lit(1).as("t"))
    val appended = annIvfAppend(spark, dir)
      .select(col("query_id"), col("neighbor_id"), lit(1).as("fa"))
    val rebuilt = shared(spark, "ann_ivf_topk", dir)(annIvfTopk(spark, dir))
      .select(col("query_id"), col("neighbor_id"), lit(1).as("fr"))
    brute.join(appended, keys, "full").join(rebuilt, keys, "full")
      .agg(coalesce(sum(col("t")), lit(0)).as("n_true"),
        coalesce(sum(col("t") * col("fa")), lit(0)).as("ha"),
        coalesce(sum(col("t") * col("fr")), lit(0)).as("hr"))
      .select(col("n_true").cast("long").as("n_true_neighbors"),
        col("ha").cast("long").as("appended_hits"),
        col("hr").cast("long").as("rebuilt_hits"),
        (col("ha") >= col("n_true") * 0.4).as("appended_recall_ok"),
        (col("hr") >= col("n_true") * 0.5).as("rebuilt_recall_ok"))
  }

  val JlK = 8
  val JlDim = 64

  /** Deterministic ±1 sign for (input dim `i`, output dim `j`) — an
    * integer formula both engines evaluate verbatim (Achlioptas 2003:
    * ±1 entries satisfy the JL lemma; a pseudo-random but DETERMINISTIC
    * sign pattern keeps the projection oracle-replayable, where a
    * seeded-RNG matrix would not be). */
  private def jlSign(i: Int, j: Int): Double =
    if (((i.toLong * 1315423911L + j.toLong * 2654435761L) % 97L) % 2L == 0L) 1.0
    else -1.0

  private def jlPlane(j: Int): Seq[Double] = (0 until JlDim).map(jlSign(_, j))

  /** Johnson–Lindenstrauss random projection: 64-dim float embeddings
    * down to [[JlK]] dims via the ±1 sign matrix — the standard cheap
    * pre-filter in front of exact rescoring. Each output dim is one
    * fused-loop [[graft.expr.DotProduct]] against a constant plane
    * (literal array, no per-row rebuild), so the whole projection is a
    * single codegen'd scan stage with NO shuffle and NO UDF.
    *
    * Scale shape (100 TB): projection is embarrassingly parallel
    * map-side work; the win is downstream — candidate generation and
    * shuffles carry k=8 doubles instead of d=64 floats (4× the bytes),
    * and a brute-force rescore only touches the full vectors for
    * surviving candidates. */
  def embJlProject(spark: SparkSession, dir: String): DataFrame = {
    val cols = (0 until JlK).map { j =>
      round(dot(col("embedding"), typedlit(jlPlane(j))), 6).as(s"p$j")
    }
    Tables.embeddings(spark, dir).select(col("vec_id") +: cols: _*)
  }

  /** JL distance-preservation audit over consecutive-id pairs: the
    * per-label mean of (projected²-distance / k) / (true²-distance) —
    * expectation exactly 1 under sign projections — plus a generous
    * [0.5, 2.0] contract boolean the oracle expects TRUE (measured
    * envelope at k=8: 0.79–1.36 across labels and SFs). Exact replay:
    * both engines fold the same index order, so the ratio itself is
    * compared at 6 dp, not just the contract. */
  def embJlDistortion(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val a = e.select(col("vec_id").as("pid"), col("label"), col("embedding").as("va"))
    val b = e.select((col("vec_id") - 1).as("pid"), col("embedding").as("vb"))
    val diff = zip_with(col("va"), col("vb"),
      (x, y) => x.cast("double") - y.cast("double"))
    val p2 = (0 until JlK).map { j =>
      val d = dot(col("va"), typedlit(jlPlane(j))) - dot(col("vb"), typedlit(jlPlane(j)))
      d * d
    }.reduce(_ + _)
    a.join(b, "pid")
      .withColumn("d2", dot(diff, diff))
      .withColumn("p2", p2)
      .filter(col("d2") > 0)
      .withColumn("r", col("p2") / (col("d2") * JlK))
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_pairs"), avg(col("r")).as("ar"))
      .select(col("label"), col("n_pairs"), round(col("ar"), 6).as("avg_ratio"),
        (col("ar") > 0.5 && col("ar") < 2.0).as("jl_ok"))
  }

  // NOTE (evaluated and rejected): a JL-prefiltered top-k
  // (candidates by projected L2, exact-cosine rescore) was built and
  // oracle-replayed exactly, but its recall vs the exact baseline is
  // ~30% AT ANY projected k (8..32) on this corpus — the top-5 cosine
  // margins are ~100× smaller than the JL noise floor, and no honest
  // contract holds. JL here is a distance-SKETCH (thresholded dedup,
  // clustering, shuffle-byte reduction — what [[embJlDistortion]]
  // certifies), not a top-k index; the LSH/IVF/PQ/SQ8 paths remain the
  // ANN candidates of record.

  /** RRF constant (Cormack et al. 2009, SIGIR — k=60 is the published
    * default), per-leg candidate depth, and fused output size. */
  val RrfK = 60
  val RrfLegDepth = 20
  val RrfTopK = 10

  /** Hybrid retrieval with reciprocal-rank fusion: fuse a LEXICAL
    * ranking (idf-weighted distinct-term overlap, the sparse leg) with
    * a DENSE ranking (embedding cosine) per query doc, via
    * score = Σ_legs 1/(RrfK + rank) over each leg's top-[[RrfLegDepth]]
    * — the standard hybrid-search shape behind retrieval-augmented
    * dedup/contamination tooling. Queries are the doc_id < 5 docs
    * (embeddings are 1:1 with documents in the harness corpus:
    * vec_id = doc_id).
    *
    * Scale shape (100 TB): the sparse leg is an inverted-index probe —
    * the corpus token stream is semi-joined to the (broadcast) query
    * vocabulary BEFORE the df aggregate and the per-(query, doc) score
    * shuffle, so only postings of query terms move; the dense leg
    * broadcasts the query vectors and streams the corpus through one
    * codegen stage (same as [[annBruteTopk]]; at larger query sets the
    * IVF/LSH paths replace it). Fusion itself joins two
    * O(queries · depth) rank lists — negligible. Ranks are computed on
    * 6-dp-rounded scores (comparison-exact across engines, the pack
    * convention); RRF scores are sums of two small-integer reciprocals,
    * bit-identical everywhere. A leg miss contributes 0 (standard RRF
    * over truncated lists); surfaced as rank 0 in the output. */
  def hybridRrfTopk(spark: SparkSession, dir: String): DataFrame = {
    import graft.expr.topkpairs.topk_pairs
    // per-query leg ranking through the bounded heap (score desc,
    // doc_id asc — identical to the window order): only depth ids per
    // query cross the shuffle; rank = 1 + heap position
    def legRanks(scored: DataFrame, score: String, rank: String): DataFrame =
      scored.groupBy(col("query_id"))
        .agg(topk_pairs(col(score), col("doc_id"), RrfLegDepth).as("top"))
        .select(col("query_id"), posexplode(col("top").getField("id")).as(Seq("pos", "doc_id")))
        .select(col("query_id"), col("doc_id"), (col("pos") + 1).cast("long").as(rank))
    val docs = Tables.documents(spark, dir)
    val stats = docs.agg(count(lit(1)).as("n_docs"))
    val toks = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("term"))
      .filter(col("term") =!= "").distinct()
    val qtoks = toks.filter(col("doc_id") < 5)
      .select(col("doc_id").as("query_id"), col("term"))
    // df over query terms only: global df values, but aggregated from
    // the semi-joined posting stream (inverted-index probe shape)
    val dfreq = toks
      .join(broadcast(qtoks.select(col("term")).distinct()), Seq("term"), "left_semi")
      .groupBy(col("term")).agg(count(lit(1)).as("df"))
    val idf = log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0)
    val lexr = legRanks(toks
      .join(broadcast(qtoks), "term")
      .filter(col("doc_id") =!= col("query_id"))
      .join(broadcast(dfreq), "term")
      .crossJoin(broadcast(stats))
      .groupBy(col("query_id"), col("doc_id"))
      // ordered fold, not sum(): an unordered FP hash-aggregate sum can
      // land on a 6-dp rounding boundary differently per engine/
      // partitioning and flip a rank — same fix as pagerank/entropy
      .agg(round(aggregate(array_sort(collect_list(idf)), lit(0.0), _ + _), 6).as("lex_score")),
      "lex_score", "r_lex")
    val e = Tables.embeddings(spark, dir)
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("q_emb"))
    val vecr = legRanks(e.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("doc_id"),
        round(cosine(col("embedding"), col("q_emb")), 6).as("sim")),
      "sim", "r_vec")
    // fusion input is BOUNDED by construction (≤ 2·depth rows per
    // query), so a window here is a per-query sort of ≤40 rows — not
    // the corpus-sized sort the legs above avoid
    val wf = Window.partitionBy("query_id")
      .orderBy(col("rrf").desc, col("doc_id").asc)
    lexr.join(vecr, Seq("query_id", "doc_id"), "full_outer")
      .withColumn("rrf",
        coalesce(lit(1.0) / (lit(RrfK) + col("r_lex")), lit(0.0)) +
          coalesce(lit(1.0) / (lit(RrfK) + col("r_vec")), lit(0.0)))
      .withColumn("rrf_rank", row_number().over(wf).cast("long"))
      .filter(col("rrf_rank") <= RrfTopK)
      .select(col("query_id"), col("doc_id"),
        round(col("rrf"), 6).as("rrf_score"), col("rrf_rank"),
        coalesce(col("r_lex"), lit(0L)).as("r_lex"),
        coalesce(col("r_vec"), lit(0L)).as("r_vec"))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "ann_ivf_drift"          -> (annIvfDrift _),
    "ann_ivf_append"         -> (annIvfAppend _),
    "hybrid_rrf_topk"        -> (hybridRrfTopk _),
    "emb_jl_project"         -> (embJlProject _),
    "emb_jl_distortion"      -> (embJlDistortion _),
    "ann_pq_recall"          -> (annPqRecall _),
    "ann_pq_topk"            -> (annPqTopk _),
    "ann_ivf_topk"           -> (annIvfTopk _),
    "ann_quantized_topk"     -> (annQuantizedTopk _),
    "ann_ivf_partitioned"    -> (annIvfPartitioned _),
    "ann_lsh_recall"         -> (annLshRecall _),
    "ann_lsh_recall_sampled" -> (annLshRecallSampled _),
    "ann_ivf_recall"         -> (annIvfRecall _),
    "ann_brute_topk"         -> (annBruteTopk _),
    "ann_topk_agg"           -> (annTopkAgg _),
    "ann_neardup_pairs"      -> (annNearDupPairs _),
    "sim_centroid_confusion" -> (simCentroidConfusion _),
    "ann_lsh_neardup"        -> (annLshNearDup _),
    "sim_fp_tanimoto_topk"   -> (simFpTanimotoTopk _),
    "sim_fp_lsh_topk"        -> (simFpLshTopk _),
    "sim_fp_tversky_dice"    -> (simFpTverskyDice _),
  )

  /** DuckDB twin of [[bitFingerprint]]: 4×16 sign-bit words. */
  private val fpCte =
    ("WITH fp AS (SELECT vec_id, list_transform(generate_series(0,3), w -> " +
     "CAST(list_sum(list_transform(generate_series(1,16), i -> " +
     "CASE WHEN embedding[w*16+i] > 0 THEN CAST(2**(i-1) AS BIGINT) ELSE 0 END)) AS BIGINT)) AS fp " +
     "FROM embeddings)")

  private val cosSql =
    "list_dot_product(%s::DOUBLE[], %s::DOUBLE[]) / (sqrt(list_dot_product(%s::DOUBLE[], %s::DOUBLE[])) * sqrt(list_dot_product(%s::DOUBLE[], %s::DOUBLE[])))"

  private def cos(a: String, b: String) = cosSql.format(a, b, a, a, b, b)

  /** Per-cluster per-dimension means, rounded to 9 dp — the DuckDB twin
    * of Similarity.roundedCentroids (see its scaladoc for why rounding
    * makes the whole IVF replay bit-deterministic across engines). */
  private def duckCentroids(src: String, out: String): String =
    (s"$out AS (SELECT cluster, list(m ORDER BY pos) AS centroid FROM (" +
     "SELECT cluster, pos, round(avg(x), 9) AS m FROM (" +
     s"SELECT cluster, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM $src) " +
     "GROUP BY cluster, pos) GROUP BY cluster)")

  private val bruteTopkSql =
    (s"SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, rnk FROM (" +
     s"SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, " +
     s"${cos("q.embedding", "e.embedding")} AS sim, " +
     "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
     s"${cos("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS rnk " +
     "FROM embeddings q, embeddings e WHERE q.vec_id < 5 AND e.vec_id != q.vec_id) " +
     "WHERE rnk <= 5")

  // full DuckDB replay of the IVF build + search: vec_id % 8 seed
  // assignment, ONE Lloyd step over 9-dp-pinned centroids, nprobe=3
  // probes, exact top-5 within the probed clusters — identical
  // tie-breaks (cluster asc / vec_id asc) to the Spark argmax/window.
  // Shared by the in-flight form and the partitioned-index form (same
  // relation; only the physical access path differs).
  /** DuckDB twin of [[annIvfAppend]]: centroids trained on the base
    * slice (same seed + one Lloyd step), frozen, then EVERY vector
    * assigned against them and searched — the append path replayed
    * exactly. */
  private val ivfAppendSql: String =
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
       "base AS (SELECT vec_id, v FROM e WHERE vec_id % 5 != 0), " +
       "a0 AS (SELECT vec_id, v, vec_id % 8 AS cluster FROM base), " +
       duckCentroids("a0", "c0") + ", " +
       "s1 AS (SELECT a0.vec_id, a0.v, c.cluster, " +
       s"row_number() OVER (PARTITION BY a0.vec_id ORDER BY ${cos("a0.v", "c.centroid")} DESC, c.cluster ASC) AS rn " +
       "FROM a0, c0 c), " +
       "a1 AS (SELECT vec_id, v, cluster FROM s1 WHERE rn = 1), " +
       duckCentroids("a1", "c1") + ", " +
       "idx AS (SELECT vec_id, v, cluster FROM (" +
       "SELECT e.vec_id, e.v, c.cluster, " +
       s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cluster ASC) AS rn " +
       "FROM e, c1 c) WHERE rn = 1), " +
       "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5), " +
       "pr AS (SELECT query_id, qv, cluster FROM (" +
       "SELECT q.query_id, q.qv, c.cluster, " +
       s"row_number() OVER (PARTITION BY q.query_id ORDER BY ${cos("q.qv", "c.centroid")} DESC, c.cluster ASC) AS rn " +
       "FROM q, c1 c) WHERE rn <= 3) " +
       "SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, rnk FROM (" +
       "SELECT pr.query_id, idx.vec_id AS neighbor_id, " +
       s"${cos("idx.v", "pr.qv")} AS sim, " +
       "row_number() OVER (PARTITION BY pr.query_id ORDER BY " +
       s"${cos("idx.v", "pr.qv")} DESC, idx.vec_id ASC) AS rnk " +
       "FROM idx JOIN pr ON idx.cluster = pr.cluster WHERE idx.vec_id != pr.query_id) " +
       "WHERE rnk <= 5")

  /** DuckDB twin of [[StreamingQueries.t15StreamIvfIngest]]: the whole
    * corpus assigned against the frozen base-slice quantizer (the same
    * build CTEs as [[ivfAppendSql]]), aggregated per cluster. The
    * micro-batched Spark ingest must land on these exact integer
    * counts/sums — a lost or double-delivered batch cannot. */
  private[queries] val ivfIngestCountsSql: String =
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
       "base AS (SELECT vec_id, v FROM e WHERE vec_id % 5 != 0), " +
       "a0 AS (SELECT vec_id, v, vec_id % 8 AS cluster FROM base), " +
       duckCentroids("a0", "c0") + ", " +
       "s1 AS (SELECT a0.vec_id, a0.v, c.cluster, " +
       s"row_number() OVER (PARTITION BY a0.vec_id ORDER BY ${cos("a0.v", "c.centroid")} DESC, c.cluster ASC) AS rn " +
       "FROM a0, c0 c), " +
       "a1 AS (SELECT vec_id, v, cluster FROM s1 WHERE rn = 1), " +
       duckCentroids("a1", "c1") + ", " +
       "idx AS (SELECT vec_id, cluster FROM (" +
       "SELECT e.vec_id, c.cluster, " +
       s"row_number() OVER (PARTITION BY e.vec_id ORDER BY ${cos("e.v", "c.centroid")} DESC, c.cluster ASC) AS rn " +
       "FROM e, c1 c) WHERE rn = 1) " +
       "SELECT cluster, count(*) AS n, min(vec_id) AS min_id, max(vec_id) AS max_id, " +
       "sum(vec_id)::BIGINT AS id_sum FROM idx GROUP BY cluster")

  private val ivfTopkSql: String =
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
       "a0 AS (SELECT vec_id, v, vec_id % 8 AS cluster FROM e), " +
       duckCentroids("a0", "c0") + ", " +
       "s1 AS (SELECT a0.vec_id, a0.v, c.cluster, " +
       s"row_number() OVER (PARTITION BY a0.vec_id ORDER BY ${cos("a0.v", "c.centroid")} DESC, c.cluster ASC) AS rn " +
       "FROM a0, c0 c), " +
       "a1 AS (SELECT vec_id, v, cluster FROM s1 WHERE rn = 1), " +
       duckCentroids("a1", "c1") + ", " +
       "q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5), " +
       "pr AS (SELECT query_id, qv, cluster FROM (" +
       "SELECT q.query_id, q.qv, c.cluster, " +
       s"row_number() OVER (PARTITION BY q.query_id ORDER BY ${cos("q.qv", "c.centroid")} DESC, c.cluster ASC) AS rn " +
       "FROM q, c1 c) WHERE rn <= 3) " +
       "SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, rnk FROM (" +
       "SELECT pr.query_id, a1.vec_id AS neighbor_id, " +
       s"${cos("a1.v", "pr.qv")} AS sim, " +
       "row_number() OVER (PARTITION BY pr.query_id ORDER BY " +
       s"${cos("a1.v", "pr.qv")} DESC, a1.vec_id ASC) AS rnk " +
       "FROM a1 JOIN pr ON a1.cluster = pr.cluster WHERE a1.vec_id != pr.query_id) " +
       "WHERE rnk <= 5")

  /** DuckDB twin of [[annPqTopk]]: the identical codebook, assignment,
    * and ADC ranking — every fold is list_reduce with an explicit 0
    * seed, matching Spark's left-to-right `aggregate` bit for bit. */
  private val pqTopkSql = {
    def fold8(expr: String) =
      (s"list_reduce(list_prepend(0::DOUBLE, list_transform(generate_series(1, $PqSubDim), " +
       s"fk -> $expr)), (fa, fc) -> fa + fc)")
    // Lloyd rounds unrolled: a0 = seed, cb2_k = means of a{k-1},
    // a{k} = argmin re-assignment against cb2_k (same shape as the
    // pagerank oracle's unrolled iterations)
    val steps = (1 to PqLloydSteps).map { k =>
      (s"cb_$k AS (SELECT m, code, j, round(avg(x), 9) AS c FROM d " +
       s"JOIN a_${k - 1} USING (vec_id, m) GROUP BY m, code, j), " +
       s"cb2_$k AS (SELECT m, code, list(c ORDER BY j) AS cv FROM cb_$k GROUP BY m, code), " +
       s"a_$k AS (SELECT vec_id, m, code FROM (SELECT s.vec_id, s.m, c.code, " +
       "row_number() OVER (PARTITION BY s.vec_id, s.m ORDER BY " +
       s"${fold8("(s.sv[fk]-c.cv[fk])*(s.sv[fk]-c.cv[fk])")} ASC, c.code ASC) AS rn " +
       s"FROM sub s JOIN cb2_$k c USING (m)) WHERE rn = 1)")
    }.mkString(", ")
    ("WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
     s"d AS (SELECT vec_id, (pos-1)//$PqSubDim AS m, (pos-1)%$PqSubDim AS j, x FROM " +
     "(SELECT vec_id, unnest(v) AS x, generate_subscripts(v, 1) AS pos FROM v)), " +
     "sub AS (SELECT vec_id, m, list(x ORDER BY j) AS sv FROM d GROUP BY vec_id, m), " +
     s"a_0 AS (SELECT vec_id, m, vec_id % $PqCodes AS code FROM sub), " +
     s"$steps, " +
     s"cbn AS (SELECT m, code, cv, ${fold8("cv[fk]*cv[fk]")} AS cn2 FROM cb2_$PqLloydSteps), " +
     s"enc AS (SELECT a.vec_id, a.m, c.cv, c.cn2 FROM a_$PqLloydSteps a JOIN cbn c USING (m, code)), " +
     "qs AS (SELECT vec_id AS query_id, m, sv AS qsv FROM sub WHERE vec_id < 5), " +
     s"pm AS (SELECT qs.query_id, e.vec_id, e.m, ${fold8("qs.qsv[fk]*e.cv[fk]")} AS dm, e.cn2 " +
     "FROM enc e JOIN qs USING (m) WHERE e.vec_id <> qs.query_id), " +
     "agg AS (SELECT query_id, vec_id, " +
     "list_reduce(list_prepend(0::DOUBLE, list(dm ORDER BY m)), (fa, fc) -> fa + fc) AS adot, " +
     "list_reduce(list_prepend(0::DOUBLE, list(cn2 ORDER BY m)), (fa, fc) -> fa + fc) AS rn2 " +
     "FROM pm GROUP BY query_id, vec_id), " +
     "q AS (SELECT vec_id AS query_id, v AS qv, sqrt(list_dot_product(v, v)) AS qnorm " +
     "FROM v WHERE vec_id < 5), " +
     "cand AS (SELECT query_id, vec_id FROM (SELECT a.query_id, a.vec_id, " +
     "row_number() OVER (PARTITION BY a.query_id ORDER BY a.adot/(q.qnorm*sqrt(a.rn2)) DESC, " +
     s"a.vec_id ASC) AS rn FROM agg a JOIN q USING (query_id)) WHERE rn <= $PqRescoreK) " +
     "SELECT query_id, neighbor_id, cos_sim, rnk FROM (SELECT c.query_id, " +
     s"c.vec_id AS neighbor_id, round(${cos("dv.v", "q.qv")}, 6) AS cos_sim, " +
     s"row_number() OVER (PARTITION BY c.query_id ORDER BY ${cos("dv.v", "q.qv")} DESC, " +
     "c.vec_id ASC)::BIGINT AS rnk FROM cand c JOIN v dv ON dv.vec_id = c.vec_id " +
     "JOIN q ON q.query_id = c.query_id) WHERE rnk <= 5")
  }

  /** SQL twin of [[jlPlane]] — the same integer sign formula. */
  private def duckJlPlane(j: Int): String =
    ("list_transform(generate_series(1, 64), i -> " +
     s"CASE WHEN ((i-1)*1315423911 + $j*2654435761) % 97 % 2 = 0 " +
     "THEN 1.0 ELSE -1.0 END)")

  private val duckJlDiff =
    "list_transform(generate_series(1, 64), i -> va[i] - vb[i])"

  val oracle: Map[String, String] = Map(
    // drift contract: the three legs are the existing deterministic
    // replays, composed as CTEs (DuckDB allows a WITH inside a CTE body)
    "ann_ivf_drift" ->
      (s"WITH brute AS ($bruteTopkSql), app AS ($ivfAppendSql), reb AS ($ivfTopkSql), " +
       "j AS (SELECT b.query_id, b.neighbor_id, " +
       "CASE WHEN a.neighbor_id IS NULL THEN 0 ELSE 1 END AS fa, " +
       "CASE WHEN r.neighbor_id IS NULL THEN 0 ELSE 1 END AS fr " +
       "FROM brute b LEFT JOIN app a ON b.query_id = a.query_id AND b.neighbor_id = a.neighbor_id " +
       "LEFT JOIN reb r ON b.query_id = r.query_id AND b.neighbor_id = r.neighbor_id) " +
       "SELECT count(*)::BIGINT AS n_true_neighbors, " +
       "coalesce(sum(fa), 0)::BIGINT AS appended_hits, " +
       "coalesce(sum(fr), 0)::BIGINT AS rebuilt_hits, " +
       "(coalesce(sum(fa), 0) >= count(*) * 0.4) AS appended_recall_ok, " +
       "(coalesce(sum(fr), 0) >= count(*) * 0.5) AS rebuilt_recall_ok FROM j"),
    "ann_ivf_append" -> ivfAppendSql,
    "hybrid_rrf_topk" ->
      ("WITH toks AS (SELECT DISTINCT doc_id, term FROM (" +
       "SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents) " +
       "WHERE term <> ''), " +
       "q AS (SELECT doc_id AS query_id, term FROM toks WHERE doc_id < 5), " +
       "dfreq AS (SELECT term, count(*) AS df FROM toks " +
       "WHERE term IN (SELECT term FROM q) GROUP BY term), " +
       "n AS (SELECT count(*) AS n_docs FROM documents), " +
       "lex AS (SELECT q.query_id, t.doc_id, " +
       "round(list_reduce(list_sort(list(ln((n.n_docs - f.df + 0.5) / (f.df + 0.5) + 1.0))), (a, b) -> a + b), 6) AS lex_score " +
       "FROM toks t JOIN q ON t.term = q.term JOIN dfreq f ON t.term = f.term, n " +
       "WHERE t.doc_id != q.query_id GROUP BY 1, 2), " +
       s"lexr AS (SELECT query_id, doc_id, r_lex FROM (SELECT query_id, doc_id, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY lex_score DESC, doc_id ASC) AS r_lex " +
       s"FROM lex) WHERE r_lex <= $RrfLegDepth), " +
       "vecr AS (SELECT query_id, doc_id, r_vec FROM (" +
       "SELECT qe.vec_id AS query_id, e.vec_id AS doc_id, " +
       "row_number() OVER (PARTITION BY qe.vec_id ORDER BY " +
       s"round(${cos("e.embedding", "qe.embedding")}, 6) DESC, e.vec_id ASC) AS r_vec " +
       "FROM embeddings qe, embeddings e WHERE qe.vec_id < 5 AND e.vec_id != qe.vec_id) " +
       s"WHERE r_vec <= $RrfLegDepth), " +
       "fused AS (SELECT coalesce(l.query_id, v.query_id) AS query_id, " +
       "coalesce(l.doc_id, v.doc_id) AS doc_id, l.r_lex, v.r_vec, " +
       s"coalesce(1.0::DOUBLE / ($RrfK + l.r_lex), 0) + " +
       s"coalesce(1.0::DOUBLE / ($RrfK + v.r_vec), 0) AS rrf " +
       "FROM lexr l FULL OUTER JOIN vecr v " +
       "ON l.query_id = v.query_id AND l.doc_id = v.doc_id) " +
       "SELECT query_id, doc_id, round(rrf, 6) AS rrf_score, rrf_rank, " +
       "coalesce(r_lex, 0) AS r_lex, coalesce(r_vec, 0) AS r_vec FROM (" +
       "SELECT *, row_number() OVER (PARTITION BY query_id ORDER BY rrf DESC, doc_id ASC) AS rrf_rank " +
       s"FROM fused) WHERE rrf_rank <= $RrfTopK"),
    "emb_jl_project" ->
      ("SELECT vec_id, " + (0 until JlK).map { j =>
        s"round(list_dot_product(embedding::DOUBLE[], ${duckJlPlane(j)}), 6) AS p$j"
      }.mkString(", ") + " FROM embeddings"),
    "emb_jl_distortion" ->
      ("WITH pr AS (SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings), " +
       "pairs AS (SELECT a.label, a.v AS va, b.v AS vb FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 1), " +
       s"d AS (SELECT label, list_dot_product($duckJlDiff, $duckJlDiff) AS d2, " +
       (0 until JlK).map { j =>
         s"((list_dot_product(va, ${duckJlPlane(j)}) - list_dot_product(vb, ${duckJlPlane(j)})) ** 2)"
       }.mkString(" + ") + " AS p2 FROM pairs) " +
       s"SELECT label, count(*)::BIGINT AS n_pairs, round(avg(p2/(d2*$JlK)), 6) AS avg_ratio, " +
       s"(avg(p2/(d2*$JlK)) > 0.5 AND avg(p2/(d2*$JlK)) < 2.0) AS jl_ok " +
       "FROM d WHERE d2 > 0 GROUP BY label"),
    "ann_pq_topk" -> pqTopkSql,
    "ann_ivf_topk" -> ivfTopkSql,
    "ann_ivf_partitioned" -> ivfTopkSql,
    "ann_topk_agg" -> bruteTopkSql,
    // SQ8 replay: same per-vector scale, same round-half-away
    // quantization, quantized-cosine candidates, exact top-5 rescore
    "ann_quantized_topk" ->
      ("WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings), " +
       "s AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) / 127.0 AS sc FROM e), " +
       "qt AS (SELECT vec_id, v, CASE WHEN sc = 0 THEN list_transform(v, x -> 0.0) " +
       "ELSE list_transform(v, x -> round(x / sc)) END AS q FROM s), " +
       "qq AS (SELECT vec_id AS query_id, v AS qv, q AS q_q FROM qt WHERE vec_id < 5), " +
       "cand AS (SELECT qq.query_id, qt.vec_id, qt.v, qq.qv, " +
       s"row_number() OVER (PARTITION BY qq.query_id ORDER BY ${cos("qt.q", "qq.q_q")} DESC, qt.vec_id ASC) AS rn " +
       "FROM qt, qq WHERE qt.vec_id != qq.query_id) " +
       "SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, rnk FROM (" +
       s"SELECT query_id, vec_id AS neighbor_id, ${cos("v", "qv")} AS sim, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY " +
       s"${cos("v", "qv")} DESC, vec_id ASC) AS rnk FROM cand WHERE rn <= 20) " +
       "WHERE rnk <= 5"),
    "ann_brute_topk" ->
      (s"SELECT query_id, neighbor_id, round(sim, 6) AS cos_sim, rnk FROM (" +
       s"SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id, " +
       s"${cos("q.embedding", "e.embedding")} AS sim, " +
       "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
       s"${cos("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS rnk " +
       "FROM embeddings q, embeddings e WHERE q.vec_id < 5 AND e.vec_id != q.vec_id) " +
       "WHERE rnk <= 5"),
    "ann_neardup_pairs" ->
      (s"SELECT a.vec_id AS id_a, b.vec_id AS id_b, " +
       s"round(${cos("a.embedding", "b.embedding")}, 6) AS cos_sim " +
       "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id " +
       s"AND ${cos("a.embedding", "b.embedding")} >= $NearDupThreshold"),
    "sim_centroid_confusion" ->
      ("WITH cent AS (SELECT label AS pred_label, list(m ORDER BY pos) AS centroid FROM (" +
       "SELECT label, pos, avg(v) AS m FROM (SELECT label, unnest(embedding::DOUBLE[]) AS v, " +
       "generate_subscripts(embedding, 1) AS pos FROM embeddings) GROUP BY label, pos) " +
       "GROUP BY label), " +
       "scored AS (SELECT e.label, c.pred_label, " +
       s"${cos("e.embedding", "c.centroid")} AS sim, " +
       "row_number() OVER (PARTITION BY e.vec_id ORDER BY " +
       s"${cos("e.embedding", "c.centroid")} DESC, c.pred_label ASC) AS rn " +
       "FROM embeddings e, cent c) " +
       "SELECT label, pred_label, count(*) AS n FROM scored WHERE rn = 1 " +
       "GROUP BY label, pred_label"),
    // full DuckDB replay of the sign-bucket LSH: 16 tables x 4 sign
    // bits, bucket equi-join, exact cosine verify — parity is exact
    // because sign tests and the double cosine are engine-independent
    "ann_lsh_neardup" ->
      ("WITH b AS (SELECT vec_id, g.t AS tbl, " +
       "CAST(list_sum(list_transform(generate_series(0, 3), j -> " +
       "CASE WHEN embedding[g.t*4 + j + 1] > 0 THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS bucket " +
       "FROM embeddings, generate_series(0, 15) g(t)), " +
       "cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b FROM b a " +
       "JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket WHERE a.vec_id < c.vec_id) " +
       "SELECT id_a, id_b, round(sim, 6) AS cos_sim FROM (" +
       "SELECT cand.id_a, cand.id_b, " +
       s"${cos("x.embedding", "y.embedding")} AS sim " +
       "FROM cand JOIN embeddings x ON cand.id_a = x.vec_id " +
       "JOIN embeddings y ON cand.id_b = y.vec_id) " +
       s"WHERE sim >= $NearDupThreshold"),
    "ann_lsh_recall" ->
      (s"SELECT count(*)::BIGINT AS n_true_pairs, TRUE AS recall_ok, TRUE AS precision_ok " +
       "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id " +
       s"AND ${cos("a.embedding", "b.embedding")} >= $NearDupThreshold"),
    // full replay of BOTH sides (slice truth AND the complete LSH
    // pipeline): the measured recall is hash-checked, not floor-pinned
    // — see annLshRecallSampled's scaladoc for why
    "ann_lsh_recall_sampled" ->
      // slice filter pushed below the bucket join on BOTH sides, same
      // as the Spark plan (exact: candidacy is a per-vector bucket
      // function, so bucketing only slice vectors gives precisely the
      // slice-restricted candidate set)
      ("WITH b AS (SELECT vec_id, g.t AS tbl, " +
       "CAST(list_sum(list_transform(generate_series(0, 3), j -> " +
       "CASE WHEN embedding[g.t*4 + j + 1] > 0 THEN (1::BIGINT << j) ELSE 0 END)) AS BIGINT) AS bucket " +
       s"FROM embeddings, generate_series(0, 15) g(t) " +
       s"WHERE vec_id % $LshRecallSliceMod = $LshRecallSliceRes), " +
       "cand AS (SELECT DISTINCT a.vec_id AS id_a, c.vec_id AS id_b FROM b a " +
       "JOIN b c ON a.tbl = c.tbl AND a.bucket = c.bucket WHERE a.vec_id < c.vec_id), " +
       "lsh AS (SELECT id_a, id_b, 1 AS f FROM (" +
       "SELECT cand.id_a, cand.id_b, " +
       s"${cos("x.embedding", "y.embedding")} AS sim " +
       "FROM cand JOIN embeddings x ON cand.id_a = x.vec_id " +
       "JOIN embeddings y ON cand.id_b = y.vec_id) " +
       s"WHERE sim >= $NearDupThreshold), " +
       "ex AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b, 1 AS t " +
       "FROM embeddings a, embeddings b WHERE a.vec_id < b.vec_id " +
       s"AND a.vec_id % $LshRecallSliceMod = $LshRecallSliceRes " +
       s"AND b.vec_id % $LshRecallSliceMod = $LshRecallSliceRes " +
       s"AND ${cos("a.embedding", "b.embedding")} >= $NearDupThreshold), " +
       "agg AS (SELECT coalesce(sum(t), 0)::BIGINT AS n_true, " +
       "coalesce(sum(t * f), 0)::BIGINT AS hits, " +
       "coalesce(sum(CASE WHEN t IS NULL THEN 1 ELSE 0 END), 0) AS extras " +
       "FROM ex FULL OUTER JOIN lsh USING (id_a, id_b)) " +
       "SELECT n_true AS n_true_pairs, hits, " +
       "round(CASE WHEN n_true = 0 THEN 1.0 ELSE hits::DOUBLE / n_true END, 6) AS recall, " +
       "(hits >= n_true * 0.8) AS recall_ok, (extras = 0) AS precision_ok FROM agg"),
    "ann_pq_recall" ->
      ("SELECT count(*)::BIGINT AS n_true_neighbors, TRUE AS recall_ok, TRUE AS k_ok FROM (" +
       s"SELECT q.vec_id, e.vec_id AS nid, " +
       "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
       s"${cos("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS rnk " +
       "FROM embeddings q, embeddings e WHERE q.vec_id < 5 AND e.vec_id != q.vec_id) " +
       "WHERE rnk <= 5"),
    "ann_ivf_recall" ->
      ("SELECT count(*)::BIGINT AS n_true_neighbors, TRUE AS recall_ok, TRUE AS k_ok FROM (" +
       s"SELECT q.vec_id, e.vec_id AS nid, " +
       "row_number() OVER (PARTITION BY q.vec_id ORDER BY " +
       s"${cos("q.embedding", "e.embedding")} DESC, e.vec_id ASC) AS rnk " +
       "FROM embeddings q, embeddings e WHERE q.vec_id < 5 AND e.vec_id != q.vec_id) " +
       "WHERE rnk <= 5"),
    "sim_fp_lsh_topk" ->
      (s"$fpCte, bands AS (SELECT vec_id, fp, b.band AS band, " +
       "CASE WHEN b.band % 2 = 0 THEN fp[b.band // 2 + 1] % 256 " +
       "ELSE fp[b.band // 2 + 1] // 256 END AS bits " +
       "FROM fp, (SELECT unnest(generate_series(0, 7)) AS band) b), " +
       "cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS vec_id " +
       "FROM bands q JOIN bands c ON q.band = c.band AND q.bits = c.bits " +
       "WHERE q.vec_id < 5 AND c.vec_id >= 5), " +
       "scored AS (SELECT cand.query_id, cand.vec_id, " +
       "CASE WHEN list_sum(list_transform(generate_series(1,4), k -> bit_count(q.fp[k] | c.fp[k]))) = 0 THEN 0.0 " +
       "ELSE list_sum(list_transform(generate_series(1,4), k -> bit_count(q.fp[k] & c.fp[k])))::DOUBLE / " +
       "list_sum(list_transform(generate_series(1,4), k -> bit_count(q.fp[k] | c.fp[k]))) END AS sim " +
       "FROM cand JOIN fp q ON q.vec_id = cand.query_id JOIN fp c ON c.vec_id = cand.vec_id), " +
       "ranked AS (SELECT query_id, vec_id, sim, " +
       "row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, vec_id ASC) AS rnk FROM scored) " +
       "SELECT query_id, vec_id AS neighbor_id, round(sim, 6) AS tanimoto, CAST(rnk AS BIGINT) AS rnk " +
       "FROM ranked WHERE rnk <= 3"),
    "sim_fp_tanimoto_topk" ->
      (s"$fpCte, scored AS (SELECT t.vec_id, r.vec_id AS ref_id, " +
       "CASE WHEN list_sum(list_transform(generate_series(1,4), k -> bit_count(t.fp[k] | r.fp[k]))) = 0 THEN 0.0 " +
       "ELSE list_sum(list_transform(generate_series(1,4), k -> bit_count(t.fp[k] & r.fp[k])))::DOUBLE / " +
       "list_sum(list_transform(generate_series(1,4), k -> bit_count(t.fp[k] | r.fp[k]))) END AS sim " +
       "FROM fp t, fp r WHERE t.vec_id >= 5 AND r.vec_id < 5), " +
       "ranked AS (SELECT vec_id, ref_id, sim, " +
       "row_number() OVER (PARTITION BY vec_id ORDER BY sim DESC, ref_id ASC) AS rn FROM scored), " +
       "tops AS (SELECT vec_id, list(sim ORDER BY sim DESC, ref_id ASC) AS sims FROM scored GROUP BY vec_id) " +
       "SELECT r.vec_id, max(CASE WHEN rn = 1 THEN ref_id END) AS best_ref, " +
       "round(max(sim), 6) AS max_sim, " +
       "round(any_value(list_sum(t.sims[1:3])) / 3, 6) AS top3_mean " +
       "FROM ranked r JOIN tops t ON r.vec_id = t.vec_id GROUP BY r.vec_id"),
    "sim_fp_tversky_dice" ->
      (s"$fpCte, scored AS (SELECT vec_id, ref_id, " +
       "CASE WHEN (inter + 0.7 * only_a + 0.3 * only_b) = 0 THEN 0.0 " +
       "ELSE inter / (inter + 0.7 * only_a + 0.3 * only_b) END AS tv, " +
       "CASE WHEN pa + pb = 0 THEN 0.0 ELSE 2.0 * inter / (pa + pb) END AS dc FROM (" +
       "SELECT t.vec_id, r.vec_id, " +
       "list_sum(list_transform(generate_series(1,4), k -> bit_count(t.fp[k] & r.fp[k])))::DOUBLE AS inter, " +
       "list_sum(list_transform(generate_series(1,4), k -> bit_count(t.fp[k] & ~r.fp[k])))::DOUBLE AS only_a, " +
       "list_sum(list_transform(generate_series(1,4), k -> bit_count(r.fp[k] & ~t.fp[k])))::DOUBLE AS only_b, " +
       "list_sum(list_transform(generate_series(1,4), k -> bit_count(t.fp[k])))::DOUBLE AS pa, " +
       "list_sum(list_transform(generate_series(1,4), k -> bit_count(r.fp[k])))::DOUBLE AS pb " +
       "FROM fp t, fp r WHERE t.vec_id >= 5 AND r.vec_id < 5) t(vec_id, ref_id, inter, only_a, only_b, pa, pb)), " +
       "ranked AS (SELECT vec_id, ref_id, tv, dc, " +
       "row_number() OVER (PARTITION BY vec_id ORDER BY tv DESC, ref_id ASC) AS rn_tv, " +
       "row_number() OVER (PARTITION BY vec_id ORDER BY dc DESC, ref_id ASC) AS rn_dc FROM scored) " +
       "SELECT vec_id, max(CASE WHEN rn_tv = 1 THEN ref_id END) AS best_tversky_ref, " +
       "round(max(tv), 6) AS best_tversky, " +
       "max(CASE WHEN rn_dc = 1 THEN ref_id END) AS best_dice_ref, " +
       "round(max(dc), 6) AS best_dice FROM ranked GROUP BY vec_id"),
  )
}
