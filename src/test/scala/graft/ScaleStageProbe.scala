package graft

import org.apache.spark.sql.functions._

/** Dev probe: per-stage row counts + wall times for the heavy dedup
  * families at a given SF dir — the decomposition behind BASELINE.md's
  * scale-curve table. Run:
  *   sbt 'Test/runMain graft.ScaleStageProbe /dev/shm/graft_scratch/scale10x' */
object ScaleStageProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/dev/shm/graft_scratch/scale1x")
    val spark = GraftSession.build()
    import graft.queries.DedupQueries
    def timed[T](label: String)(f: => T): T = {
      val t0 = System.nanoTime()
      val r = f
      println(f"[stage] $label%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s  -> $r")
      r
    }
    val sh = DedupQueries.shingleTable(spark, dir).persist()
    timed("shingleTable")(sh.count())
    val banded = DedupQueries.bandedDocs(sh).persist()
    timed("bandedDocs")(banded.count())
    timed("band occupancy max")(
      banded.groupBy("band_val").count().agg(max("count")).collect()(0).getLong(0))
    val cand = DedupQueries.minhashCandidates(banded, DedupQueries.BandBucketCap).persist()
    timed("minhashCandidates")(cand.count())
    timed("verify (full pipeline)")(DedupQueries.dedupMinhashLsh(spark, dir).count())
    banded.unpersist(); cand.unpersist(); sh.unpersist()
    // substring decomposition
    val docs = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    import graft.expr.hashfunctions.word_gram_poly61
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("ws")).persist()
    timed("substr toks")(toks.count())
    val occ = toks.filter(size(col("ws")) >= DedupQueries.SubstrK)
      .select(col("doc_id"),
        posexplode(word_gram_poly61(col("ws"), DedupQueries.SubstrK)).as(Seq("pos", "h")))
      .persist()
    timed("substr occ rows")(occ.count())
    timed("substr dup grams")(
      occ.groupBy(col("h")).agg(count(lit(1)).as("cnt"))
        .filter(col("cnt") >= 2).count())
    timed("substr full")(DedupQueries.dedupExactSubstring(spark, dir).count())
    occ.unpersist(); toks.unpersist()
    spark.stop()
  }
}
