package graft

import org.apache.spark.sql.DataFrame

/** The one owner of in-memory caches in `src/main`. Every reused frame
  * takes one of four forms:
  *
  *  - shared across queries: a [[SessionMemo]] artifact, on disk;
  *  - a bounded lineage cut: a [[LocalFrame]], which holds no blocks;
  *  - read by the plan a query returns: [[cached]], freed by
  *    [[GraftSession.release]] once the query has run;
  *  - read only while the query is built: [[scoped]], freed when its
  *    body returns or throws.
  *
  * Both cache forms materialize eagerly, `persist()` then `count()`,
  * before any reader runs: a frame that feeds several branches is
  * otherwise computed by concurrent AQE stages racing for the same
  * cached partitions. */
object Materialize {

  /** `df`, cached and computed, for the plan the query returns. */
  def cached(df: DataFrame): DataFrame = {
    df.persist()
    df.count()
    df
  }

  /** `body` on `df` cached and computed; `df` is unpersisted after it. */
  def scoped[T](df: DataFrame)(body: DataFrame => T): T =
    try body(cached(df)) finally df.unpersist()
}
