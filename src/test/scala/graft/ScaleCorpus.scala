package graft

import org.apache.spark.sql.functions._

/** Bench-only N× corpus generator for the measured scale curves
  * (VERDICT r10 #2): writes documents/embeddings scaled N× from a
  * source SF dir, plus byte-copies of the static tables, so the heavy
  * dedup/ANN families can be timed at 1× and 10× with the SAME Bench
  * harness and the t(10×)/t(1×) ratio recorded in BASELINE.md.
  *
  * Scaling shape: replica k of a document renames EVERY token with a
  * `_k` suffix — shingle/gram spaces are disjoint across replicas, so
  * per-replica duplicate DENSITY (the thing that drives candidate and
  * pair counts) is preserved while corpus size multiplies; naive row
  * replication would instead make every doc a 10-way near-duplicate
  * and measure output explosion, not scaling. Embeddings get a small
  * per-replica deterministic perturbation (×(1 + k/1000)) — new ids,
  * near-identical distribution, no degenerate exact-dup geometry.
  *
  * The optional 4th arg names which dynamic tables to scale (comma
  * list; default `documents,embeddings`). `part` is the CHEM ARM
  * (VERDICT r12 #2/#6): chem/fingerprint families read `part` as their
  * molecule-seed source, so the chem 10× corpus scales `part` (replica
  * k offsets every p_partkey by k·10⁸ — fresh seeds, same uniform
  * lattice density) while the text/embedding corpora stay 1× copies.
  * Scaling part in a SEPARATE dir keeps the committed text/ANN curve
  * rows comparable across rounds.
  *
  * Run: sbt 'Test/runMain graft.ScaleCorpus /root/testdata/sf0.1 10 /dev/shm/graft_scratch/scale10x'
  *      sbt 'Test/runMain graft.ScaleCorpus /root/testdata/sf0.1 10 /dev/shm/graft_scratch/chem10x part'
  */
object ScaleCorpus {
  def main(args: Array[String]): Unit = {
    val src = args.headOption.getOrElse(GraftSession.sfDir)
    val reps = args.lift(1).map(_.toInt).getOrElse(10)
    val out = args.lift(2).getOrElse(s"${ScratchDirs.root}/scale${reps}x")
    val scaled = args.lift(3).map(_.split(",").toSet)
      .getOrElse(Set("documents", "embeddings"))
    val spark = GraftSession.build()
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val repDf = spark.range(reps).select(col("id").cast("int").as("rep"))

    if (scaled("documents"))
      spark.read.parquet(s"$src/documents.parquet").crossJoin(repDf)
        .select(
          (col("doc_id") + col("rep").cast("long") * 100000000L).as("doc_id"),
          when(col("rep") === 0, col("text"))
            .otherwise(array_join(
              transform(split(col("text"), " "), t => concat(t, lit("_"), col("rep"))), " "))
            .as("text"),
          col("lang"), col("source"), col("n_chars"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/documents.parquet")

    if (scaled("embeddings"))
      spark.read.parquet(s"$src/embeddings.parquet").crossJoin(repDf)
        .select(
          (col("vec_id") + col("rep").cast("long") * 100000000L).as("vec_id"),
          transform(col("embedding"),
            x => x * (lit(1.0f) + col("rep").cast("float") / lit(1000.0f))).as("embedding"),
          col("label"))
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    if (scaled("part")) {
      val part = spark.read.parquet(s"$src/part.parquet")
      val keyType = part.schema("p_partkey").dataType
      part.crossJoin(repDf)
        .withColumn("p_partkey",
          (col("p_partkey").cast("long") + col("rep").cast("long") * 100000000L)
            .cast(keyType))
        .drop("rep")
        .repartition(32)
        .write.mode("overwrite").parquet(s"$out/part.parquet")
    }

    // everything not scaled: byte-copy (the heavy families don't scale
    // with them; copying keeps the dir a drop-in SPARK_GRAFT_SF_DIR)
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
                  "orders", "lineitem", "events", "documents", "embeddings")
         if !scaled(t)) {
      val from = java.nio.file.Paths.get(s"$src/$t.parquet")
      if (java.nio.file.Files.exists(from))
        java.nio.file.Files.copy(from, java.nio.file.Paths.get(s"$out/$t.parquet"),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    }
    println(s"[scale-corpus] wrote ${reps}x corpus at $out (scaled: ${scaled.toSeq.sorted.mkString(",")})")
    spark.stop()
  }
}
