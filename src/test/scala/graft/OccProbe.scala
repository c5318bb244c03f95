package graft

import org.apache.spark.sql.functions._

/** Dev probe: band/chunk bucket occupancy of the LSH fences at a given
  * SF dir — the numbers behind the fence scaladoc and the gate-SF pins.
  * Run: sbt "Test/runMain graft.OccProbe /root/testdata/sf0.1" */
object OccProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(GraftSession.sfDir)
    val spark = GraftSession.build()
    import graft.queries.DedupQueries
    val banded = DedupQueries.bandedDocs(DedupQueries.shingleTable(spark, dir))
    println("top band buckets:")
    banded.groupBy("band_val").count().orderBy(desc("count")).show(8)
    val s = Tables.documents(spark, dir)
      .select(col("doc_id"), graft.expr.hashfunctions.simhash64(split(col("text"), " ")).as("sh"))
    val chunks = s.select(posexplode(array(
        DedupQueries.simhashLayout(DedupQueries.simhashBitRanking(s.select(col("sh")))): _*))
      .as(Seq("chunk_idx", "chunk_val")))
    println("top chunk buckets:")
    chunks.groupBy("chunk_idx", "chunk_val").count().orderBy(desc("count")).show(8)
    spark.stop()
  }
}

/** Per-bit balance census of the simhash prints at a dir: prints each
  * bit's set-count — the input to the entropy-ranked chunk layout.
  * Run: sbt "Test/runMain graft.BitBalanceProbe /root/testdata/sf0.1" */
object BitBalanceProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse(GraftSession.sfDir)
    val spark = GraftSession.build()
    val s = Tables.documents(spark, dir)
      .select(graft.expr.hashfunctions.simhash64(split(col("text"), " ")).as("sh"))
    val aggs = (0 until 60).map(b =>
      sum(shiftrightunsigned(col("sh"), b).bitwiseAND(lit(1L))).as(s"b$b"))
    val row = s.agg(aggs.head, aggs.tail: _*).collect()(0)
    val n = s.count()
    val counts = (0 until 60).map(b => b -> row.getLong(b))
    println(s"[bit-balance] n=$n")
    counts.sortBy { case (_, c) => math.abs(c - n / 2.0) }.foreach { case (b, c) =>
      println(f"[bit-balance] bit $b%2d set=$c%6d frac=${c.toDouble / n}%.3f")
    }
    spark.stop()
  }
}
