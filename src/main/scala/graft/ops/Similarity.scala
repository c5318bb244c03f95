package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Vector-similarity kernels over `array<float>` embedding columns —
  * the Spark-first form of the reference's broadcast cross-score join
  * (J6/J7, finalize_realease.py:199-219): `crossJoin(broadcast(refs))`
  * + windowed top-k, with all arithmetic in double via codegen'd
  * higher-order functions (`zip_with` / `aggregate`) — no UDF.
  *
  * Scale path (100 TB): the broadcast side is the small query/ref/
  * centroid set, so the big side streams through one codegen stage with
  * NO shuffle; top-k per query is a bounded `TakeOrdered`-shaped window
  * over query_id. For ANN over a *large* query set, bucket both sides
  * (LSH) and join on bucket — turns the O(N·Q) crossJoin into a
  * co-partitioned equi-join. The engine's LSH queries use
  * [[signBucketBits]] (oracle-replayable, a pure function of the data);
  * [[randomHyperplaneBits]] remains as the seeded-Gaussian-plane
  * alternative for data whose coordinates aren't zero-centered.
  */
object Similarity {

  /** Positional dot product in double (left-to-right sum — matches the
    * DuckDB oracle's evaluation order, keeps fp drift sub-round-off).
    * Backed by the fused-loop codegen expression [[graft.expr.DotProduct]]
    * — no intermediate array, ~5x over aggregate(zip_with(...)). */
  def dot(a: Column, b: Column): Column = graft.expr.vecfunctions.dot_product(a, b)

  def norm(a: Column): Column = sqrt(dot(a, a))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /** K sign-bits of dot products against deterministic random
    * hyperplanes (seeded driver-side constant) — random-hyperplane LSH:
    * P[bit match] = 1 - angle/π. Emitted as a compact bucket id.
    *
    * Each plane is a single `typedlit` ARRAY LITERAL node. The previous
    * `array(lit, lit, ...)` form was a CreateArray with `dim` literal
    * children — 16 tables × 4 planes × 64 dims ≈ 4k expression nodes in
    * one projection, whose generated code rebuilt every plane array PER
    * ROW and took Janino seconds to compile (jstack during slow runs:
    * 8 threads in GeneratedClass.generate, the rest blocked waiting on
    * the codegen cache). A Literal array is one constant reference. */
  def randomHyperplaneBits(v: Column, dim: Int, k: Int, seed: Long): Column = {
    val rnd = new scala.util.Random(seed)
    val planes = Array.fill(k, dim)(rnd.nextGaussian())
    planes.zipWithIndex.map { case (p, i) =>
      when(dot(v, typedlit(p.toSeq)) >= 0, lit(1L << i)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /** k sign-bits of CONSECUTIVE embedding coordinates starting at
    * 0-based `startDim` — axis-aligned random-hyperplane LSH (the
    * planes are the coordinate axes; for zero-centered embeddings the
    * collision probability matches the random-plane form). Unlike
    * [[randomHyperplaneBits]] (driver-seeded Gaussian planes), the
    * bucket is a pure function of the data, so a SQL oracle can replay
    * it exactly — sign tests are bit-exact in any engine. */
  def signBucketBits(v: Column, startDim: Int, k: Int): Column =
    (0 until k).map { j =>
      when(element_at(v, startDim + j + 1) > 0f, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)

  /** IVF index: k coarse centroids learned with `iters` Lloyd steps
    * from a deterministic seed assignment (vec_id % k), then each
    * vector labeled with its nearest centroid. Returns (df + `cluster`
    * column, centroids df (cluster, centroid)). Search probes only the
    * nprobe nearest clusters per query — the classic IVF trade of
    * recall for a k/nprobe-fold candidate reduction.
    *
    * Assignment is a PURE PROJECTION: each iteration collects the k
    * (tiny: k × dim doubles) centroids to the driver — the standard
    * k-means shape, a model parameter transfer, not a data collect —
    * and reassigns via a literal argmax (`greatest` over
    * (sim, -cluster) structs, identical tie-break to the former
    * max_by). The previous form spent 3 shuffles per iteration
    * (crossJoin-score, max_by agg, join-back); now only the centroid
    * REDUCTION shuffles, which is unavoidable and tiny. */
  def ivfIndex(df: DataFrame, idCol: String, vecCol: String, k: Int,
               iters: Int): (DataFrame, DataFrame) = {
    var assigned = df.withColumn("cluster", col(idCol) % k)
    (0 until iters).foreach { _ =>
      assigned = df.withColumn("cluster",
        nearestCluster(roundedCentroids(assigned, vecCol), col(vecCol)))
    }
    // the k-row centroid table as a local relation (k × dim doubles, the
    // transfer nearestCluster makes): otherwise every consumer — the
    // nprobe probe pick, the recall/drift contracts' joins, the
    // partitioned write's pruning collect — re-derives the centroid
    // lineage (corpus scan + posexplode + 2 exchanges) PER REFERENCE
    (assigned, graft.LocalFrame.of(roundedCentroids(assigned, vecCol), k, "k centroids"))
  }

  /** Literal-argmax nearest-centroid assignment: collect the (tiny)
    * `(cluster, centroid)` table to the driver — a model-parameter
    * transfer, k × dim doubles — and emit a PURE PROJECTION column:
    * `greatest` over (cosine, -cluster) structs, i.e. highest cosine
    * with ties to the SMALLEST cluster id (the convention every DuckDB
    * oracle mirrors as `ORDER BY cos DESC, cluster ASC`). One
    * definition serves the k-means loop, the frozen-quantizer append
    * and streaming-ingest paths, and their specs — the tie-break must
    * never fork. Being literal-only, the column is usable inside a
    * streaming projection (no join, no state). */
  def nearestCluster(cents: DataFrame, vec: Column): Column = {
    val cl = cents.collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1)))
      .sortBy(_._1)
    val scored = cl.map { case (c, v) =>
      struct(cosine(vec, typedlit(v)).as("s"), lit(-c).as("nc"))
    }
    val top = if (scored.length == 1) scored.head
              else greatest(scored.toIndexedSeq: _*)
    (-top.getField("nc")).cast("long")
  }

  /** Centroids with components ROUNDED to 9 dp: the per-dimension mean
    * is the one value in the IVF pipeline whose floating-point SUMMATION
    * ORDER varies (partial aggregation merges in arrival order — across
    * engines AND across Spark runs), drifting ~1 ulp. Quantizing to 9 dp
    * makes the model parameters bit-identical everywhere, so every
    * downstream cosine/argmax/rank computed FROM them is bit-identical
    * too — a determinism pin (IVF is approximate; 9 dp is far beyond
    * any recall-relevant precision), and what lets a SQL oracle replay
    * the index build exactly. */
  private def roundedCentroids(df: DataFrame, vecCol: String): DataFrame =
    centroids(df, "cluster", vecCol)
      .select(col("cluster"), transform(col("centroid"), x => round(x, 9)).as("centroid"))

  /** Per-dimension mean vectors (centroids) by key: posexplode → one
    * partial-aggregated groupBy on (key, pos) → re-assembled array in
    * position order. Two narrow shuffles on tiny keyspaces. */
  def centroids(df: DataFrame, keyCol: String, vecCol: String): DataFrame =
    df.select(col(keyCol), posexplode(col(vecCol).cast("array<double>")).as(Seq("pos", "v")))
      .groupBy(col(keyCol), col("pos")).agg(avg(col("v")).as("m"))
      .groupBy(col(keyCol))
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col(keyCol), transform(col("pm"), _.getField("m")).as("centroid"))
}
