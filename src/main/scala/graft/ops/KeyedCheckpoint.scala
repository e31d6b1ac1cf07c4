package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions.col

/** Keyed localCheckpoint that PRESERVES the materialized partitioning.
  *
  * `Dataset.localCheckpoint()` under AQE snapshots the RDD with
  * `UnknownPartitioning`, so a frame that was explicitly repartitioned
  * (and sorted) on its iteration join key is re-exchanged — and re-sorted
  * — on every keyed use downstream, defeating the entire point of
  * materializing loop invariants once (pageRank-style iterative ops pay
  * one |E| exchange + sort PER ROUND for a frame that never changes).
  *
  * This helper performs the shuffle/sort BEFORE the checkpoint with an
  * explicit partition count (an explicit-N keyed repartition is never
  * AQE-coalesced, so the physical layout is exactly
  * `HashPartitioning(keys, n)` + per-partition ascending key order), then
  * re-declares those physically-true properties on the checkpointed
  * LogicalRDD — the same seam Spark's own `Dataset.checkpoint`
  * used before AQE. Purely a plan-cost device: values, row sets, and
  * partition contents are untouched.
  *
  * Lives under org.apache.spark.sql for the private[sql]
  * `Dataset.ofRows`/`LogicalRDD` access, like [[StreamBridge]]. */
object KeyedCheckpoint {

  /** Repartition `df` by `keys` into the session's shuffle-partition
    * count, sort within partitions by `keys`, localCheckpoint eagerly,
    * and return a frame whose plan DECLARES that partitioning and
    * ordering (so downstream keyed joins/aggregations on `keys` insert
    * no exchange and no sort). */
  def apply(df: DataFrame, keys: String*): DataFrame =
    apply(df, keys.toSeq, keys.toSeq)

  /** As above, but partition and sort keys differ: partitioned on
    * `partitionKeys` (enough for any equi-join whose key set is a
    * superset — HashPartitioning on a subset of the join keys satisfies
    * ClusteredDistribution), sorted within partitions by `sortKeys`
    * (which must have `partitionKeys` as a prefix for the declared
    * ordering to be meaningful to a downstream sort-merge join). The
    * walk adjacency frame is the motivating case: partitioned by m,
    * sorted (m, idx), so every hop's (m, idx) equi-join reads it with
    * no exchange AND no sort. */
  def apply(df: DataFrame, partitionKeys: Seq[String],
            sortKeys: Seq[String]): DataFrame = {
    require(sortKeys.startsWith(partitionKeys),
      s"sortKeys $sortKeys must extend partitionKeys $partitionKeys")
    val cs = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val n = cs.sessionState.conf.numShufflePartitions
    declare(
      df.repartition(n, partitionKeys.map(col): _*)
        .sortWithinPartitions(sortKeys.map(col): _*)
        .localCheckpoint(),
      n, partitionKeys, sortKeys)
  }

  private def declare(cp: DataFrame, n: Int, partitionKeys: Seq[String],
                      sortKeys: Seq[String]): DataFrame = {
    val cs = cp.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val lr = cp.queryExecution.analyzed match {
      case l: LogicalRDD => l
      case other => throw new IllegalStateException(
        s"localCheckpoint did not yield a LogicalRDD plan: $other")
    }
    def attr(k: String) =
      lr.output.find(_.name == k).getOrElse(throw new IllegalArgumentException(
        s"key column '$k' not in checkpointed output ${lr.output.map(_.name)}"))
    val partitioning = HashPartitioning(partitionKeys.map(attr), n)
    val ordering = sortKeys.map(k => SortOrder(attr(k), Ascending))
    org.apache.spark.sql.classic.Dataset.ofRows(cs,
      LogicalRDD(lr.output, lr.rdd, partitioning, ordering,
        isStreaming = false)(cs))
  }
}
