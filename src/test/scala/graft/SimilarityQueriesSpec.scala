package graft

import graft.queries.SimilarityQueries
import graft.ops.Similarity
import org.apache.spark.sql.functions._

class SimilarityQueriesSpec extends SparkSpecBase {

  test("every similarity query runs non-empty on the smoke SF") {
    SimilarityQueries.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("jl projection: 8 dims, matches a hand-computed row, preserves distances") {
    val proj = SimilarityQueries.embJlProject(spark, sfDir)
    assert(proj.columns.toSeq == ("vec_id" +: (0 until SimilarityQueries.JlK).map(j => s"p$j")))
    // hand-replay one row: p0 = sum_i sign(i,0) * v[i]
    val v = graft.Tables.embeddings(spark, sfDir).filter(col("vec_id") === 0)
      .select(col("embedding")).collect()(0).getSeq[Float](0)
    val sign0 = (0 until 64).map(i =>
      if (((i.toLong * 1315423911L + 0L) % 97L) % 2L == 0L) 1.0 else -1.0)
    val expect = v.zip(sign0).foldLeft(0.0) { case (acc, (x, s)) => acc + x.toDouble * s }
    val got = proj.filter(col("vec_id") === 0).collect()(0).getDouble(1)
    assert(math.abs(got - BigDecimal(expect).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble) < 1e-9,
      s"p0 mismatch: $got vs $expect")
    // distance preservation holds on every label
    val dist = SimilarityQueries.embJlDistortion(spark, sfDir).collect()
    assert(dist.nonEmpty)
    dist.foreach { r => assert(r.getBoolean(3), s"jl_ok false: $r") }
  }

  test("all-pairs exact baseline fails fast above its row cap") {
    val dir = java.nio.file.Files.createTempDirectory("neardup_cap").toString
    spark.range(SimilarityQueries.NearDupExactMaxRows + 1)
      .selectExpr("id AS vec_id", "array(1.0d, 0.0d) AS embedding", "'a' AS label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val ex = intercept[IllegalArgumentException] {
      SimilarityQueries.annNearDupPairs(spark, dir)
    }
    assert(ex.getMessage.contains("annLshNearDup"), s"guard must point at the scale path: $ex")
  }

  test("cosine kernel: self-similarity 1, symmetry, [-1,1] range") {
    import spark.implicits._
    val df = Tables.embeddings(spark, sfDir).limit(20)
    val a = df.select($"vec_id".as("ia"), $"embedding".as("ea"))
    val b = df.select($"vec_id".as("ib"), $"embedding".as("eb"))
    val sims = a.crossJoin(b)
      .select($"ia", $"ib", Similarity.cosine($"ea", $"eb").as("s"))
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    sims.foreach { case ((i, j), s) =>
      assert(s <= 1.0 + 1e-9 && s >= -1.0 - 1e-9)
      if (i == j) assert(math.abs(s - 1.0) < 1e-9)
      assert(math.abs(s - sims((j, i))) < 1e-12, s"asymmetric at ($i,$j)")
    }
  }

  test("brute topk returns exactly 5 neighbors per query, rank-ordered") {
    val rows = SimilarityQueries.annBruteTopk(spark, sfDir).collect()
    val byQ = rows.groupBy(_.getLong(0))
    assert(byQ.size == 5)
    byQ.foreach { case (q, rs) =>
      assert(rs.length == 5, s"query $q has ${rs.length} neighbors")
      val ordered = rs.sortBy(_.getLong(3)).map(_.getDouble(2))
      assert(ordered.zip(ordered.tail).forall { case (x, y) => x >= y },
        s"query $q similarities not descending")
    }
  }

  test("topk_pairs aggregate form equals the window form, with no Window in the plan") {
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3))).toSet
    val window = rows(SimilarityQueries.annBruteTopk(spark, sfDir))
    val agg = SimilarityQueries.annTopkAgg(spark, sfDir)
    assert(rows(agg) == window)
    val plan = agg.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), "aggregate form must not plan a Window")
    assert(plan.contains("topk_pairs"), plan)
  }

  test("IVF/PQ/SQ8 search paths plan no Window — bounded-heap top-k throughout") {
    // the r5 verdict item: every approximate search path must rank via
    // the O(queries·k)-shuffle topk_pairs aggregate, never a sort of
    // all scored candidates inside a per-query Window partition
    for (name <- Seq("ann_ivf_topk", "ann_ivf_append", "ann_ivf_partitioned",
                     "ann_quantized_topk", "ann_pq_topk")) {
      val plan = SimilarityQueries.queries(name)(spark, sfDir)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("Window"), s"$name still plans a Window")
      assert(plan.contains("topk_pairs"), s"$name missing topk_pairs:\n${plan.take(800)}")
    }
  }

  // a lineage cut must not live in blocks that release() drops and
  // nothing can recompute (a localCheckpoint did)
  private def runsAfterRelease(names: String*): Unit =
    for (name <- names) {
      val df = SparkEntry.queries(name)(spark, sfDir)
      GraftSession.release(spark)
      assert(df.count() > 0, s"$name returned 0 rows")
    }

  test("IVF search stays executable after the session releases cached blocks") {
    runsAfterRelease("ann_ivf_topk")
  }

  test("PQ and graph cuts stay executable after the session releases cached blocks") {
    runsAfterRelease("ann_pq_topk", "ann_pq_recall", "graph_pagerank", "graph_kcore")
  }

  test("LocalFrame: over maxRows fails naming the bound; within it, same rows and schema") {
    val df = spark.range(10).selectExpr("id", "cast(id * 2 AS int) AS twice")
    val err = intercept[IllegalStateException](LocalFrame.of(df, 5, "TenRowBound"))
    assert(err.getMessage.contains("TenRowBound"), err.getMessage)
    val five = df.filter(col("id") < 5)
    val local = LocalFrame.of(five, 5, "TenRowBound")
    assert(local.schema == five.schema)
    assert(local.collect().toSeq.sortBy(_.getLong(0)) == five.collect().toSeq.sortBy(_.getLong(0)))
  }

  test("LSH near-dup achieves >=80% recall vs exact all-pairs") {
    def pairs(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = pairs(SimilarityQueries.annNearDupPairs(spark, sfDir))
    val lsh = pairs(SimilarityQueries.annLshNearDup(spark, sfDir))
    assert(lsh.subsetOf(exact), "LSH reported a pair below threshold")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.8, f"LSH recall $recall%.2f < 0.8 (${lsh.size}/${exact.size})")
  }

  test("partitioned IVF index scan prunes to the probed clusters; equals in-flight IVF") {
    val df = SimilarityQueries.annIvfPartitioned(spark, sfDir)
    val plan = df.queryExecution.executedPlan.toString
    // several scans appear (queries, centroids, index) — the INDEX scan
    // must carry a cluster partition filter
    val pruned = "PartitionFilters: \\[([^\\]]*)\\]".r
      .findAllMatchIn(plan).exists(_.group(1).contains("cluster"))
    assert(pruned, s"index scan not partition-pruned:\n${plan.take(1500)}")
    val a = df.collect().map(_.toString).sorted.toSeq
    val b = SimilarityQueries.annIvfTopk(spark, sfDir).collect().map(_.toString).sorted.toSeq
    assert(a == b, "partitioned-index IVF diverges from the in-flight form")
  }

  test("SQ8 quantized top-k recovers >=80% of brute-force neighbors after rescore") {
    def nbrs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = nbrs(SimilarityQueries.annBruteTopk(spark, sfDir))
    val sq = nbrs(SimilarityQueries.annQuantizedTopk(spark, sfDir))
    val recall = exact.intersect(sq).size.toDouble / exact.size
    assert(recall >= 0.8, f"SQ8 recall $recall%.2f")
    assert(sq.size == exact.size, "SQ8 must still return k per query")
  }

  test("IVF top-k achieves >=50% recall of brute-force neighbors at 3/8 probes") {
    def nbrs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = nbrs(SimilarityQueries.annBruteTopk(spark, sfDir))
    val ivf = nbrs(SimilarityQueries.annIvfTopk(spark, sfDir))
    val recall = exact.intersect(ivf).size.toDouble / exact.size
    // near-random embeddings cluster poorly, so the bound is modest;
    // the structural guarantee tested here is probe-subset search
    assert(recall >= 0.5, f"IVF recall $recall%.2f")
    assert(ivf.size == exact.size, "IVF must still return k per query")
  }

  test("brute-force join broadcasts the query side (no fact shuffle)") {
    val plan = SimilarityQueries.annBruteTopk(spark, sfDir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
  }

  test("centroid confusion counts cover every vector exactly once") {
    val df = SimilarityQueries.simCentroidConfusion(spark, sfDir)
    val total = df.agg(sum("n")).collect().head.getLong(0)
    assert(total == Tables.embeddings(spark, sfDir).count())
  }

  test("hybrid RRF: complete per-query lists, scores replay from ranks, legs agree with their sources") {
    val df = SimilarityQueries.hybridRrfTopk(spark, sfDir).collect()
    val k = SimilarityQueries.RrfTopK
    // 5 queries x RrfTopK rows, ranks 1..k per query
    val byQ = df.groupBy(_.getLong(0))
    assert(byQ.size == 5, s"expected 5 queries, got ${byQ.keySet}")
    byQ.foreach { case (q, rows) =>
      assert(rows.map(_.getAs[Long]("rrf_rank")).sorted.toSeq == (1L to k), s"ranks broken for query $q")
    }
    // rrf_score must equal the RRF formula applied to the emitted leg ranks
    df.foreach { r =>
      val (rl, rv) = (r.getAs[Long]("r_lex"), r.getAs[Long]("r_vec"))
      val expect = (if (rl > 0) 1.0 / (SimilarityQueries.RrfK + rl) else 0.0) +
        (if (rv > 0) 1.0 / (SimilarityQueries.RrfK + rv) else 0.0)
      val got = r.getAs[Double]("rrf_score")
      assert(math.abs(got - expect) < 1e-6, s"rrf mismatch: $r vs $expect")
      assert(rl > 0 || rv > 0, s"row in neither leg: $r")
    }
    // dense-leg ranks agree with the exact brute-force top-5 neighbors
    val brute = SimilarityQueries.annBruteTopk(spark, sfDir)
      .select("query_id", "neighbor_id", "rnk").collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val vecLeg = df.collect { case r if r.getAs[Long]("r_vec") > 0 =>
      (r.getLong(0), r.getLong(1)) -> r.getAs[Long]("r_vec") }.toMap
    brute.foreach { case (key, rnk) =>
      vecLeg.get(key).foreach(rv => assert(rv == rnk, s"dense rank disagrees for $key: $rv vs $rnk"))
    }
  }

  test("IVF append: frozen-centroid index returns k per query and holds a recall floor") {
    def nbrs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val appended = nbrs(SimilarityQueries.annIvfAppend(spark, sfDir))
    val exact = nbrs(SimilarityQueries.annBruteTopk(spark, sfDir))
    assert(appended.size == exact.size, "append index must still return k per query")
    val recall = exact.intersect(appended).size.toDouble / exact.size
    assert(recall >= 0.4, f"append-index recall $recall%.2f below floor")
  }

  test("IVF drift contract: hits replay from the standalone legs, floors hold") {
    def nbrs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val row = SimilarityQueries.annIvfDrift(spark, sfDir).collect().head
    assert(row.getBoolean(3), s"appended index below its 0.4 recall floor: $row")
    assert(row.getBoolean(4), s"rebuilt index below its 0.5 recall floor: $row")
    val brute = nbrs(SimilarityQueries.annBruteTopk(spark, sfDir))
    val app = nbrs(SimilarityQueries.annIvfAppend(spark, sfDir))
    val reb = nbrs(SimilarityQueries.annIvfTopk(spark, sfDir))
    assert(row.getLong(0) == brute.size)
    assert(row.getLong(1) == brute.intersect(app).size)
    assert(row.getLong(2) == brute.intersect(reb).size)
  }

  test("hybrid RRF plan: lexical probe and dense leg both broadcast the query side") {
    val plan = SimilarityQueries.hybridRrfTopk(spark, sfDir)
      .queryExecution.executedPlan.toString
    // sparse leg: semi-join + term joins against broadcast query vocab
    assert(plan.contains("BroadcastHashJoin"), plan.linesIterator.take(30).mkString("\n"))
    // dense leg: corpus streams against the broadcast query vectors
    assert(plan.contains("BroadcastNestedLoopJoin"), plan.linesIterator.take(30).mkString("\n"))
    // no unfenced cartesian product anywhere
    assert(!plan.contains("CartesianProduct"), "hybrid RRF plan contains a CartesianProduct")
  }

  test("PQ top-k achieves >=50% recall and returns exact k per query") {
    def nbrs(df: org.apache.spark.sql.DataFrame) =
      df.select("query_id", "neighbor_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
    val exact = nbrs(SimilarityQueries.annBruteTopk(spark, sfDir))
    val pq = nbrs(SimilarityQueries.annPqTopk(spark, sfDir))
    val recall = exact.intersect(pq).size.toDouble / exact.size
    assert(recall >= 0.5, f"PQ recall $recall%.2f")
    assert(pq.size == exact.size, "PQ must still return k per query")
    // contract query agrees
    val row = SimilarityQueries.annPqRecall(spark, sfDir).collect()(0)
    assert(row.getBoolean(1) && row.getBoolean(2), s"contract row: $row")
  }
}
