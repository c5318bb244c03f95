package graft

/** Scratch-space root for benchmark/verify artifacts (TSV round-trips,
  * bucketed tables, stream feed drops, republish targets, provenance
  * sidecars, [[SessionMemo]] artifacts) and Spark shuffle spill. Prefers
  * the RAM-backed tmpfs: the bench host's /tmp sits on a virtio disk
  * whose write stalls were the largest remaining run-to-run variance
  * (s1_tsv_roundtrip measured 0.9 s to 34 s across identical runs).
  * Scratch artifacts are ephemeral by definition; a cluster deployment
  * writes real sinks to HDFS/S3 and spills to local SSD. Override with
  * SPARK_GRAFT_SCRATCH.
  *
  * Naming rule: what a query derives from its data dir lives at
  * `<root>/<area>/<tag(dataDir)>/...` ([[of]]); its tables, views and
  * memory sinks carry the same [[tag]], a digest, since a sanitized path
  * aliases dirs (`/x/a.b`, `/x/a_b`) and a 32-bit `hashCode` collides.
  * No component may start with `_` or `.`: Spark's file index hides it,
  * so a listing of the parent skips the artifact. */
object ScratchDirs {
  lazy val root: String = {
    val pref = sys.env.getOrElse("SPARK_GRAFT_SCRATCH", {
      val shm = new java.io.File("/dev/shm")
      if (shm.isDirectory && shm.canWrite) "/dev/shm/graft_scratch" else "/tmp/graft_scratch"
    })
    new java.io.File(pref).mkdirs()
    pref
  }
  def dir(parts: String*): String = (root +: parts).mkString("/")

  /** `d` + the first 16 hex chars of SHA-256(`dataDir`): `[a-z0-9]`
    * only, so it is also a valid identifier, and it never starts with
    * `_` or `.`. */
  def tag(dataDir: String): String =
    "d" + java.security.MessageDigest.getInstance("SHA-256")
      .digest(dataDir.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString

  /** The scratch path of `leaf` in `area` for queries over `dataDir`. */
  def of(area: String, dataDir: String, leaf: String*): String =
    dir(area +: tag(dataDir) +: leaf: _*)

  /** Recursive delete of `path` (absent is fine); returns `path`. */
  def clear(path: String): String = {
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(path)); path
  }
}
