package graft

import graft.expr.TextHash
import graft.queries.DedupQueries
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

class DedupQueriesSpec extends SparkSpecBase {

  private def pairs(df: org.apache.spark.sql.DataFrame): Set[(Long, Long)] =
    df.select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("every dedup query runs non-empty on the smoke SF") {
    DedupQueries.queries.foreach { case (name, fn) =>
      val n = fn(spark, sfDir).count()
      assert(n > 0, s"$name returned 0 rows")
    }
  }

  test("exact-substring spans: keeper-first and merge semantics on a hand corpus") {
    import spark.implicits._
    val run = (1 to 10).map(i => s"w$i").mkString(" ") // a 10-token run (K=8)
    val docs = Seq(
      (1L, run + " alpha beta gamma"),             // first occurrence -> kept, 0 marked
      (2L, "x y z " + run),                        // copies the run -> ONE merged 10-token span
      (3L, "p q r s t u v w unique tokens here"),  // no duplicated gram
      (4L, "a b c d e f g h a b c d e f g h")      // within-doc repeat: 2nd 8-gram marked
    ).toDF("doc_id", "text")
    val out = DedupQueries.substringSpans(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(out(1L) == ((0L, 0L, 13L)), s"keeper doc marked: ${out(1L)}")
    // 3 duplicated grams (positions 3,4,5) merge into [3,13): 10 tokens, 1 span
    assert(out(2L) == ((1L, 10L, 13L)), s"span merge wrong: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, 11L)))
    assert(out(4L) == ((1L, 8L, 16L)), s"within-doc keep-one wrong: ${out(4L)}")
    // removal accounting: dup_frac is dup_tokens/total_tokens rounded
    val frac = DedupQueries.substringSpans(docs)
      .filter(col("doc_id") === 2L).select("dup_frac").collect().head.getDouble(0)
    assert(frac == math.round(10.0 / 13.0 * 1000) / 1000.0)

    // the removal twin cuts exactly the spans, order-preserving
    val clean = DedupQueries.substringClean(docs).collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2)))).toMap
    assert(clean(1L) == ((run + " alpha beta gamma", 13L)), "keeper doc must be untouched")
    assert(clean(2L) == (("x y z", 3L)), s"span not cut: ${clean(2L)}")
    assert(clean(4L) == (("a b c d e f g h", 8L)))

    // the incremental twin marks DELTA (odd) against the INDEX (even)
    // only: doc1's run exists in index doc2, so the roles flip — the
    // index copy is the keeper and doc1's occurrence marks
    val inc = DedupQueries.substringIncremental(docs).collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
    assert(inc.keySet == Set(1L, 3L), "incremental must report delta docs only")
    assert(inc(1L) == ((1L, 10L, 13L)), s"index-backed span missed: ${inc(1L)}")
    assert(inc(3L) == ((0L, 0L, 11L)))
  }

  test("exact-substring spans: differential check vs an independent in-memory reference") {
    // seeded-random corpora from a tiny vocabulary (to force shared
    // grams), each checked against a plain-Scala reimplementation of
    // the Lee et al. semantics — a third implementation, independent
    // of both the Spark plan and the DuckDB oracle
    import spark.implicits._
    val k = DedupQueries.SubstrK
    def brute(docs: Seq[(Long, String)]): Map[Long, (Long, Long, Long)] = {
      val toks = docs.map { case (id, t) => id -> t.split(" ", -1).toSeq }.toMap
      val occs = for {
        (id, ws) <- toks.toSeq; p <- 0 to ws.length - k
      } yield (id, p, ws.slice(p, p + k).mkString(" "))
      val marked = occs.groupBy(_._3).values.filter(_.size >= 2).flatMap { os =>
        val keep = os.minBy(o => (o._1, o._2))
        os.filterNot(_ == keep)
      }.map(o => (o._1, o._2)).toSeq
      val spansByDoc = marked.groupBy(_._1).map { case (id, ps) =>
        val sorted = ps.map(_._2).sorted
        val spans = sorted.foldLeft(List.empty[(Int, Int)]) {
          case ((s, e) :: rest, p) if p <= e => (s, math.max(e, p + k)) :: rest
          case (acc, p)                      => (p, p + k) :: acc
        }
        id -> ((spans.length.toLong, spans.map { case (s, e) => e - s }.sum.toLong))
      }
      toks.map { case (id, ws) =>
        val (n, d) = spansByDoc.getOrElse(id, (0L, 0L))
        id -> ((n, d, ws.length.toLong))
      }
    }
    val rnd = new scala.util.Random(20260815L)
    for (trial <- 1 to 3) {
      val docs = (1L to 12L).map { id =>
        val len = 10 + rnd.nextInt(30)
        id -> (0 until len).map(_ => s"v${rnd.nextInt(4)}").mkString(" ")
      }
      val expected = brute(docs)
      val got = DedupQueries.substringSpans(docs.toDF("doc_id", "text")).collect()
        .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2), r.getLong(3)))).toMap
      assert(got == expected, s"trial $trial diverged from the reference:\n" +
        expected.keys.toSeq.sorted.map(id => s"  $id: got ${got(id)} want ${expected(id)}")
          .mkString("\n"))
    }
  }

  test("exact-substring dedup: no string column crosses a query exchange (compact-key claim)") {
    import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}
    // AQE off so the executed plan is a plain traversable tree; only
    // ENSURE_REQUIREMENTS exchanges count (the fact loader's
    // REPARTITION_BY_NUM is shared layout, and it is the ONE place the
    // raw text legitimately moves) — same convention as the paragraph
    // dedup exchange spec
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val df = DedupQueries.dedupExactSubstring(spark, sfDir)
      val exchanges = df.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec if e.shuffleOrigin == ENSURE_REQUIREMENTS => e
      }
      assert(exchanges.nonEmpty, "expected query exchanges in the plan")
      val strings = exchanges.flatMap(e =>
        e.child.output.filter(_.dataType == org.apache.spark.sql.types.StringType)
          .map(a => s"${a.name} via ${e.outputPartitioning}"))
      assert(strings.isEmpty,
        s"gram/document text crossed a dedup-decision exchange: ${strings.mkString(", ")}")
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }

  test("exact dedup partitions the corpus (group sizes sum to N)") {
    val df = DedupQueries.dedupExact(spark, sfDir)
    val total = df.agg(sum("n_copies")).collect().head.getLong(0)
    assert(total == Tables.documents(spark, sfDir).count())
  }

  test("rarest-first prefixes: no more candidates than hash order, identical pair set") {
    val sh = DedupQueries.shingleTable(spark, sfDir)
    // hash order = the arrays as shingleTable ships them (array_sort on
    // the 64-bit hashes); rarest-first reorders by (global df, hash)
    val candHash = DedupQueries.ppjoinCandidates(sh).count()
    val candRare = DedupQueries.ppjoinCandidates(DedupQueries.rarestFirst(sh)).count()
    info(s"candidates: hash-order=$candHash rarest-first=$candRare")
    assert(candRare <= candHash,
      s"rarest-first prefix produced MORE candidates ($candRare > $candHash)")
    // both orderings must verify to the identical exact pair set
    val fromHash = sh.select(col("doc_id").as("id_a"), col("hs").as("hs_a"))
    val viaRare = pairs(DedupQueries.dedupNgramJaccard(spark, sfDir))
    val bruteVerify = DedupQueries.ppjoinCandidates(sh)
      .join(fromHash, "id_a")
      .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), "id_b")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))).cast("double"))
      .filter(col("inter") / (size(col("hs_a")) + size(col("hs_b")) - col("inter")) >= DedupQueries.JaccardThreshold)
    assert(pairs(bruteVerify) == viaRare, "orderings disagree on the verified pair set")
  }

  test("minhash LSH recovers >=90% of exact jaccard near-dup pairs, no false positives") {
    val exact = pairs(DedupQueries.dedupNgramJaccard(spark, sfDir))
    val lsh = pairs(DedupQueries.dedupMinhashLsh(spark, sfDir))
    assert(exact.nonEmpty, "no planted near-dups found by exact baseline")
    assert(lsh.subsetOf(exact), "LSH emitted a pair below the verify threshold")
    val recall = lsh.size.toDouble / exact.size
    assert(recall >= 0.9, f"minhash recall $recall%.2f (${lsh.size}/${exact.size})")
  }

  test("simhash finds the planted near-dup pairs") {
    val exact = pairs(DedupQueries.dedupNgramJaccard(spark, sfDir))
    val sim = pairs(DedupQueries.dedupSimhash(spark, sfDir))
    val hit = exact.intersect(sim).size.toDouble / exact.size
    assert(hit >= 0.9, f"simhash recall vs jaccard pairs: $hit%.2f")
  }

  test("simhash kernel: identical token sets collide, disjoint ones differ") {
    import spark.implicits._
    val df = Seq(
      ("a b c d e f g h", "a b c d e f g h"),
      ("a b c d e f g h", "z y x w v u t s")
    ).toDF("s1", "s2")
      .select(graft.expr.hashfunctions.simhash64(split(col("s1"), " ")).as("h1"),
        graft.expr.hashfunctions.simhash64(split(col("s2"), " ")).as("h2"))
    val rows = df.collect()
    assert(rows(0).getLong(0) == rows(0).getLong(1))
    assert(rows(1).getLong(0) != rows(1).getLong(1))
  }

  test("pagerank: mass conserved, positive ranks, hubs outrank satellites") {
    val pr = DedupQueries.graphPagerank(spark, sfDir).cache()
    try {
      val rows = pr.collect()
      assert(rows.nonEmpty)
      assert(rows.forall(_.getDouble(1) > 0.0))
      // no dangling nodes in a symmetrized graph → total mass stays ~1
      // (9-dp per-iteration rounding drifts it by < n·1e-9 per step)
      val mass = rows.map(_.getDouble(1)).sum
      assert(math.abs(mass - 1.0) < 1e-4, s"mass=$mass")
      // node set is exactly the near-dup graph's node set
      val exact = pairs(DedupQueries.dedupNgramJaccard(spark, sfDir))
      val nodes = exact.flatMap(p => Seq(p._1, p._2)).toSet
      assert(rows.map(_.getLong(0)).toSet == nodes)
    } finally pr.unpersist()
  }

  test("pagerank at 25 iterations: lineage checkpointing bounds the plan") {
    import spark.implicits._
    // ring of 6 nodes, every one spoked to hub 7 (deg 6 vs ring deg 3)
    val edges = Seq((1L,2L),(2L,3L),(3L,4L),(4L,5L),(5L,6L),(6L,1L),
                    (1L,7L),(2L,7L),(3L,7L),(4L,7L),(5L,7L),(6L,7L))
      .toDF("id_a", "id_b")
    val t0 = System.nanoTime()
    val pr = DedupQueries.pagerankFrom(spark, edges, iters = 25)
    // the checkpointed chain keeps the analyzed plan at <= CheckpointEvery
    // iterations of depth; the unrolled form at 25 iters is ~3x this
    val nodes = pr.queryExecution.analyzed.collect { case p => p }.size
    assert(nodes < 60, s"analyzed plan has $nodes nodes — lineage not truncated")
    val rows = pr.collect()
    val elapsed = (System.nanoTime() - t0) / 1e9
    assert(elapsed < 60.0, s"25-iteration pagerank took ${elapsed}s")
    assert(rows.length == 7)
    val mass = rows.map(_.getDouble(1)).sum
    assert(math.abs(mass - 1.0) < 1e-4, s"mass=$mass")
    // hub (deg 5) must outrank every ring-only node (deg 2 or 3)
    val byNode = rows.map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(byNode(7L) == byNode.values.max, s"hub not top-ranked: $byNode")
  }

  test("canonical pick: one canonical per component, member of it, max degree") {
    val canon = DedupQueries.dedupCanonical(spark, sfDir).collect()
    val comps = DedupQueries.dedupComponents(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(canon.length == comps.size, "one row per component")
    canon.foreach { r =>
      val (comp, n, doc) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(comps(comp) == n, s"component size mismatch: $r")
      assert(doc >= comp, "canonical doc must be a member (comp id = min member)")
      assert(r.getLong(3) >= 1, "degree must be positive")
    }
  }

  test("component labels: a 25-hop chain and a disjoint pair each close to their min id") {
    import spark.implicits._
    // the chain is longer than any small fixed round count, so every
    // node must reach label 1 however far it sits from node 1
    val edges = ((1L to 25L).map(i => (i, i + 1)) :+ ((100L, 101L))).toDF("id_a", "id_b")
    val labels = DedupQueries.componentLabels(edges).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels == ((1L to 26L).map(_ -> 1L) ++ Seq(100L -> 100L, 101L -> 100L)).toMap)
  }

  test("component labels: more edges than the bound fail, naming MaxComponentEdges") {
    import spark.implicits._
    val edges = (1L to 10L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val err = intercept[IllegalStateException](DedupQueries.componentLabels(edges, maxEdges = 5))
    assert(err.getMessage.contains("MaxComponentEdges"), err.getMessage)
    assert(DedupQueries.componentLabels(edges, maxEdges = 10).count() == 11)
  }

  test("keep-best pick: same clusters as canonical, keeper has max quality") {
    val best = DedupQueries.dedupKeepBest(spark, sfDir).collect()
    val canon = DedupQueries.dedupCanonical(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toMap
    assert(best.length == canon.size, "one keeper per component")
    // per-doc quality recompute (distinct words), driver-side
    val q = graft.Tables.documents(spark, sfDir).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getAs[String]("text").split(" ").filter(_.nonEmpty).distinct.length.toLong).toMap
    // cluster membership from the components labels via the pair graph
    val pairs = DedupQueries.dedupNgramJaccard(spark, sfDir)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1)))
    val adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
    def component(seed: Long): Set[Long] = {
      var seen = Set(seed); var frontier = List(seed)
      while (frontier.nonEmpty) {
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty)).filterNot(seen)
        seen ++= next; frontier = next
      }
      seen
    }
    best.foreach { r =>
      val (comp, n, keep, quality) = (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
      assert(canon(comp) == n, s"component size mismatch: $r")
      val members = component(comp)
      assert(members.contains(keep), s"keeper $keep not a member of comp $comp")
      assert(quality == q(keep), s"reported quality mismatch: $r vs ${q(keep)}")
      assert(members.forall(m => q(m) < quality || (q(m) == quality && m >= keep)),
        s"keeper $keep (q=$quality) is not the quality-argmax of $members")
    }
  }

  test("triangle count matches brute force over the collected edge set") {
    val row = DedupQueries.graphTriangles(spark, sfDir).collect().head
    val (nTri, nEdges) = (row.getLong(0), row.getLong(1))
    val pairs = DedupQueries.dedupNgramJaccard(spark, sfDir)
      .select("id_a", "id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(nEdges.toInt == pairs.size)
    val adj = pairs.flatMap(p => Seq(p, p.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2)).toMap
    val brute = pairs.toSeq.map { case (a, b) =>
      adj.getOrElse(a, Set.empty[Long]).toSet
        .intersect(adj.getOrElse(b, Set.empty[Long]).toSet).size
    }.sum / 3 // each triangle seen from its 3 edges
    assert(nTri.toInt == brute, s"oriented count $nTri != brute $brute")
  }

  test("fnv64 kernel is stable (pinned vector)") {
    // FNV-1a 64 of "abc" — published constant
    assert(TextHash.fnv64(UTF8String.fromString("abc")) == 0xe71fa2190541574bL)
  }

  test("incremental dedup equals the mixed-parity slice of the batch LSH result") {
    val incr = DedupQueries.dedupIncremental(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // identical band layer => the delta-vs-index join must find exactly
    // the batch pairs whose endpoints straddle the parity split
    val batchMixed = pairs(DedupQueries.dedupMinhashLsh(spark, sfDir))
      .filter { case (a, b) => a % 2 != b % 2 }
      .map { case (a, b) => if (a % 2 == 1) (a, b) else (b, a) } // orient (new, index)
    assert(incr == batchMixed, s"diff=${incr.diff(batchMixed) ++ batchMixed.diff(incr)}")
    assert(incr.forall { case (n, i) => n % 2 == 1 && i % 2 == 0 })
  }

  test("containment join matches brute force over collected shingle sets") {
    val got = DedupQueries.dedupContainment(spark, sfDir).collect()
      .map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    // brute force from the same shingle definition (3-gram strings)
    val sets = Tables.documents(spark, sfDir)
      .select(col("doc_id"), split(col("text"), " ").as("ws")).collect()
      .map(r => r.getLong(0) -> r.getSeq[String](1).sliding(3).filter(_.size == 3)
        .map(_.mkString(" ")).toSet)
      .filter(_._2.nonEmpty).toMap
    val brute = (for {
      (ia, sa) <- sets; (ib, sb) <- sets if ia != ib
      c = sa.intersect(sb).size.toDouble / sa.size if c >= DedupQueries.ContainmentThreshold
    } yield (ia, ib) -> c).toMap
    assert(brute.nonEmpty, "no containment pairs planted")
    assert(got.keySet == brute.keySet,
      s"prefix-filtered candidates missed pairs: ${brute.keySet.diff(got.keySet)}")
    got.foreach { case (k, v) =>
      assert(math.abs(v - brute(k)) < 1e-6, s"containment value drift at $k")
    }
  }

  test("memoized exact-pairs table equals the live pair pipeline") {
    // the session memo must never drift from what the pipeline computes
    // (a stale or mis-keyed scratch file would poison every graph/recall
    // consumer at once)
    val live = pairs(graft.queries.DedupQueries.dedupNgramJaccard(spark, sfDir))
    val memo = pairs(graft.queries.DedupQueries.exactPairs(spark, sfDir))
    assert(memo == live, "exactPairs memo diverges from the live pipeline")
  }

  test("incremental containment equals the parity slice of the batch containment") {
    val batch = graft.queries.DedupQueries.dedupContainment(spark, sfDir)
      .filter(col("contained_doc") % 2 === 1 && col("container_doc") % 2 === 0)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val inc = graft.queries.DedupQueries.dedupContainmentIncremental(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(inc.nonEmpty, "no planted delta-vs-index containments at the smoke SF")
    assert(inc == batch, "delta-vs-index join diverges from the batch slice")
  }

  test("k-core: fixed peel count reaches the fixpoint and matches brute force") {
    val core = DedupQueries.graphKcore(spark, sfDir).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(core.nonEmpty, "2-core is empty — the planted dup clusters should survive")
    // every surviving node keeps degree >= k inside the core
    assert(core.values.forall(_ >= DedupQueries.KcoreK))
    // brute-force peel over the collected pair set until convergence;
    // also proves KcorePeels rounds suffice (fixed count isn't truncating)
    var edges = pairs(DedupQueries.dedupNgramJaccard(spark, sfDir))
      .flatMap(p => Seq(p, p.swap))
    var rounds = 0
    var changed = true
    while (changed) {
      val deg = edges.groupBy(_._1).view.mapValues(_.size).toMap
      val keep = deg.filter(_._2 >= DedupQueries.KcoreK).keySet
      val next = edges.filter(e => keep(e._1) && keep(e._2))
      changed = next != edges
      if (changed) rounds += 1
      edges = next
    }
    assert(rounds <= DedupQueries.KcorePeels,
      s"brute peel needed $rounds rounds > fixed ${DedupQueries.KcorePeels}")
    val brute = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    assert(core == brute)
  }

  test("minhash band fence: a hot bucket is dropped WHOLE (oracle-mirrored), cold buckets unaffected") {
    import spark.implicits._
    // adversarial constant-band corpus: band 7 holds 5 docs (occ 5 > cap
    // 2), band 9 holds 2 (cold) — the low-entropy shape the fence exists
    // for, driven with a tiny cap the way the BandBucketCap scaladoc says
    val banded = ((1L to 5L).map(d => (7L, d)) ++ Seq((9L, 10L), (9L, 11L)))
      .toDF("band_val", "doc_id")
    val uncapped = pairs(DedupQueries.minhashCandidates(banded, DedupQueries.BandBucketCap))
    assert(uncapped.size == 11, s"sanity: 5*4/2 + 1 uncapped candidates, got ${uncapped.size}")
    val capped = pairs(DedupQueries.minhashCandidates(banded, 2))
    assert(capped == Set((10L, 11L)),
      s"hot bucket must contribute ZERO pairs — dropped whole, exactly as the DuckDB oracle drops it: $capped")
  }

  /** Pack per-chunk values into a print under the INTERLEAVED layout
    * ([[DedupQueries.simhashChunkExprs]]): bit p of chunk c sits at
    * print bit c + 8p — the test-side inverse of the chunk exprs. */
  private def packChunks(vals: Seq[Long]): Long = {
    var sh = 0L
    for (c <- 0 until 8; p <- 0 until 8) {
      val b = c + 8 * p
      if (b < 60 && ((vals(c) >> p) & 1L) == 1L) sh |= 1L << b
    }
    sh
  }

  test("simhash fence: hot-bucket escalation is EXACT and bounded (cap=2 adversarial corpora)") {
    import spark.implicits._
    // corpus A — every shared bucket hot, every pair a true pair: doc i
    // flips one chunk-0 bit of a shared base print (pairwise hamming 2).
    // Chunks 1..7 are identical across all 5 docs, so each of their
    // buckets holds 5 > cap and the cold path finds NOTHING; all 10
    // pairs must surface through the two-chunk escalation keys — the
    // exactness claim on simhashCandidates.
    val base = 0x05A5A5A5A5A5A5AL
    val a = (0 until 5).map(i => (i.toLong, base ^ (1L << (8 * i)))).toDF("doc_id", "sh")
    val candA = pairs(DedupQueries.simhashCandidates(a, 2))
    val allA = (for (i <- 0 until 5; k <- i + 1 until 5) yield (i.toLong, k.toLong)).toSet
    assert(candA == allA,
      s"escalation != all-pairs relation; missing ${allA -- candA}, extra ${candA -- allA}")

    // corpus B — one constant chunk, everything else pairwise distinct:
    // 20 prints share chunk 0 (hot at cap 2); chunks 1..7 differ on every
    // pair, so hamming >= 7 > 6 and there are NO true pairs. Uncapped,
    // the chunk-0 bucket expands into C(20,2)=190 one-key candidates;
    // escalated, the two-chunk keys are all singletons — candidates stay
    // proportional to TRUE pairs, never occupancy².
    val b = (0 until 20).map { i =>
      val vals = 0x2AL +: (1 until 8).map(j => ((20 * j + i) % 128).toLong)
      (i.toLong, packChunks(vals))
    }.toDF("doc_id", "sh")
    assert(pairs(DedupQueries.simhashCandidates(b, DedupQueries.SimhashBucketCap)).size == 190,
      "sanity: uncapped one-key join explodes the hot bucket")
    assert(pairs(DedupQueries.simhashCandidates(b, 2)).isEmpty,
      "hot-bucket escalation must not emit occupancy² candidates for non-pairs")
  }

  test("simhash adaptive layout: EMPTY corpus falls back to the static interleave (no NPE)") {
    // r11 ADVICE: the stats pass's sum() is null over zero rows, and
    // the old getLong(0..59) threw — dedup_simhash crashed on empty
    // input where the static layout returned an empty result
    import spark.implicits._
    val empty = Seq.empty[(Long, Long)].toDF("doc_id", "sh")
    assert(DedupQueries.simhashBitRanking(empty).isEmpty)
    val chunks = DedupQueries.simhashLayout(DedupQueries.simhashBitRanking(empty))
    assert(chunks.size == 8)
    assert(pairs(DedupQueries.simhashCandidates(empty, 2, chunks)).isEmpty)
  }

  test("hot-bucket fences never trigger on the gate corpora: max occupancy far below the caps") {
    // this pin is what keeps t7 (stream keeps-first-cap semantics) equal
    // to the capped batch oracle (drops-whole-bucket semantics) at the
    // gate SFs; t7 itself also drains with failOnHotBucket = true
    val gateDirs = Seq(sfDir, "/root/testdata/sf0.01")
      .filter(d => new java.io.File(d).exists()).distinct
    assert(gateDirs.nonEmpty)
    gateDirs.foreach { dir =>
      val banded = DedupQueries.bandedDocs(DedupQueries.shingleTable(spark, dir))
      val maxBand = banded.groupBy(col("band_val")).count()
        .agg(max(col("count"))).collect()(0).getLong(0)
      assert(maxBand <= DedupQueries.BandBucketCap / 4,
        s"$dir: max band occupancy $maxBand not far below cap ${DedupQueries.BandBucketCap}")
      val s = Tables.documents(spark, dir)
        .select(col("doc_id"), graft.expr.hashfunctions.simhash64(split(col("text"), " ")).as("sh"))
      // the ENTROPY-RANKED layout the live pipeline runs (the r11 fix:
      // byte-aligned chunk (7,1) held 444/500 here and 4533/5000 at
      // sf0.1 — majority-amplified print bits made the escalation
      // quadratic at 10×); ranked dealing keeps gate buckets small
      val chunks = s.select(posexplode(array(
          DedupQueries.simhashLayout(DedupQueries.simhashBitRanking(s)): _*))
        .as(Seq("chunk_idx", "chunk_val")))
      val maxChunk = chunks.groupBy(col("chunk_idx"), col("chunk_val")).count()
        .agg(max(col("count"))).collect()(0).getLong(0)
      assert(maxChunk <= DedupQueries.SimhashBucketCap / 4,
        s"$dir: max chunk occupancy $maxChunk not far below cap ${DedupQueries.SimhashBucketCap}" +
        " — the entropy-ranked layout should keep gate buckets small; re-run OccProbe")
    }
  }
}
