package org.apache.spark.sql.graftshim

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Session plumbing Spark keeps package-private, for
  * [[graft.queries.Replay]].
  */
object ClonedSession {
  /** A session on the same SparkContext with a copy of `s`'s SQL conf,
    * functions, temp views and query-execution listeners. */
  def apply(s: SparkSession): SparkSession =
    s.asInstanceOf[classic.SparkSession].cloneSession()

  /** `df`'s analyzed plan as a frame of `s`: optimized, planned and run
    * under `s`'s conf. */
  def rebind(df: DataFrame, s: SparkSession): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession],
      df.asInstanceOf[classic.Dataset[_]].queryExecution.analyzed)

  /** Blocks until every event posted so far reached its listeners. */
  def drainListeners(s: SparkSession): Unit =
    s.sparkContext.listenerBus.waitUntilEmpty()
}
