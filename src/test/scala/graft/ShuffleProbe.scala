package graft

/** Dev probe: per-query shuffle read/write bytes, from each run's
  * [[Ledger]] record, under the TEST session config (the GraftSession
  * test session: bench confs on local[4], 4 shuffle partitions, see
  * SparkSpecBase) — the numbers behind ShuffleDriftSpec's pins. Run:
  *   sbt 'Test/runMain graft.ShuffleProbe q1_pricing_summary,dedup_exact' */
object ShuffleProbe {
  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq).getOrElse(Seq.empty)
    val spark = SparkSpecBase.session
    names.foreach { n =>
      val fn = SparkEntry.queries(n)
      // twice: first run pays one-off materialization, second is steady
      (1 to 2).foreach { i =>
        val (out, run) = Ledger.noop(spark, s"$n run$i")(fn(spark, "/root/testdata/sf0.001"))
        out.toTry.get
        println(s"[shuffle-probe] $n run$i read=${run.shuffleRead} write=${run.shuffleWrite}")
      }
      GraftSession.release(spark)
    }
    spark.stop()
  }
}
