package graft

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Session-scoped parquet memo for SHARED derived tables: expensive
  * pipelines whose output is the common INPUT of several registered
  * queries (the exact near-dup pair table feeding the graph/recall
  * pack, the ANN search results feeding the recall/drift contracts).
  * A production pipeline materializes these once and fans consumers
  * out from the artifact; this mirrors that — the first consumer
  * computes and writes a session-scoped scratch parquet, the rest
  * read it.
  *
  * Future-holder memoization: the build job + parquet write happen
  * OUTSIDE the map's bin lock (computeIfAbsent would pin it for the
  * whole job), and the path publishes only AFTER the write succeeds —
  * on failure the entry is retracted so the next caller recomputes
  * instead of reading a half-written scratch file.
  *
  * An artifact lives at `memo/<sessionTag>/<kind>/<ScratchDirs.tag(dir)>`:
  * the per-JVM tag means a fresh session (fresh data) never reads a
  * stale file, and [[ScratchDirs.tag]] means two data dirs never alias
  * one artifact. Assumes a dir's contents are immutable within a
  * session, which the harness guarantees (testdata regen restarts the
  * JVM). */
object SessionMemo {
  private val memo = new ConcurrentHashMap[(String, String, String), CompletableFuture[Any]]()
  private lazy val sessionTag = java.lang.Long.toHexString(System.nanoTime())

  /** `build` once per (`space`, `kind`, `dir`) key: the first caller
    * builds, concurrent callers wait on its future. */
  private def once[T](space: String, kind: String, dir: String)(build: => T): T = {
    val key = (space, kind, dir)
    val fresh = new CompletableFuture[Any]()
    val prior = memo.putIfAbsent(key, fresh)
    if (prior == null) {
      try fresh.complete(build)
      catch {
        case t: Throwable =>
          memo.remove(key, fresh)
          fresh.completeExceptionally(t)
          throw t
      }
    }
    (if (prior == null) fresh else prior).join().asInstanceOf[T]
  }

  /** Small DRIVER-SIDE memoized value for (`kind`, `dir`) — the scalar
    * sibling of [[parquet]] for derived statistics that are a pure
    * function of a corpus (the entropy-ranked simhash bit layout: 60
    * ints) but cost a full corpus scan to compute. Only for BOUNDED
    * values (the caller's `build` already ends in a 1-row collect); a
    * big value belongs in [[parquet]]. */
  def value[T](kind: String, dir: String)(build: => T): T = once("value", kind, dir)(build)

  /** The memoized frame for (`kind`, `dir`), building it via `build`
    * exactly once per JVM. */
  def parquet(spark: SparkSession, kind: String, dir: String)(build: => DataFrame): DataFrame =
    Tables.parquet(spark, once("parquet", kind, dir) {
      val p = ScratchDirs.dir("memo", sessionTag, kind, ScratchDirs.tag(dir))
      build.write.mode("overwrite").parquet(p)
      p
    })
}
