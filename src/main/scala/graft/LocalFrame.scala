package graft

import org.apache.spark.sql.{DataFrame, Row}

/** A bounded lineage cut as a driver-side local relation: consumers plan
  * from a leaf that holds no cached blocks, so a plan built before
  * [[GraftSession.release]] still runs after it. */
object LocalFrame {
  /** `df`'s rows, at most `maxRows`: the collect stops at `maxRows` + 1,
    * so an over-bound frame fails, naming `bound`, before it is held. */
  def rows(df: DataFrame, maxRows: Int, bound: String): Array[Row] = {
    val got = df.limit(maxRows + 1).collect()
    if (got.length > maxRows)
      throw new IllegalStateException(s"more than $maxRows rows ($bound) to collect to the driver")
    got
  }

  def of(df: DataFrame, maxRows: Int, bound: String): DataFrame =
    df.sparkSession.createDataFrame(java.util.Arrays.asList(rows(df, maxRows, bound): _*), df.schema)
}
