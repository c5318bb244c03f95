package graft

/** Pins [[ScratchDirs]]'s naming rule: a data dir's tag is an
  * identifier-safe digest that cannot alias two dirs, and no path
  * component it produces is hidden from Spark's file index. */
class ScratchDirsSpec extends SparkSpecBase {

  test("tag is [a-z0-9]+ and starts with d") {
    for (d <- Seq(sfDir, "", "/x/a.b", "relative/dir", "/d/Ünïcode dir"))
      assert(ScratchDirs.tag(d).matches("d[a-z0-9]+"), s"tag of '$d': ${ScratchDirs.tag(d)}")
  }

  test("tag separates dirs that sanitize alike or share a String.hashCode") {
    assert(ScratchDirs.tag("/x/a.b") != ScratchDirs.tag("/x/a_b"))
    assert("/d/Aa".hashCode == "/d/BB".hashCode)
    assert(ScratchDirs.tag("/d/Aa") != ScratchDirs.tag("/d/BB"))
  }

  test("no component of an of() path starts with _ or .") {
    val parts = ScratchDirs.of("memo", sfDir, "k").stripPrefix(ScratchDirs.root + "/").split("/")
    assert(parts.toSeq == Seq("memo", ScratchDirs.tag(sfDir), "k"))
    assert(!parts.exists(c => c.startsWith("_") || c.startsWith(".")), parts.mkString("/"))
  }

  test("a SessionMemo artifact is found by a glob and a recursive read of its kind dir") {
    val memo = SessionMemo.parquet(spark, "scratch_dirs_spec", sfDir)(spark.range(6).toDF())
    // memo/<sessionTag>/<kind>/<artifact>: a listing skips a hidden <artifact>
    val kindDir = new org.apache.hadoop.fs.Path(memo.inputFiles.head).getParent.getParent
    assert(kindDir.getName == "scratch_dirs_spec", kindDir)
    assert(spark.read.parquet(s"$kindDir/*").count() == 6L)
    assert(spark.read.option("recursiveFileLookup", "true").parquet(kindDir.toString).count() == 6L)
  }
}
