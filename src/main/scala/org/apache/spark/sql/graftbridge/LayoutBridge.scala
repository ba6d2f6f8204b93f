package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.{Ascending, SortOrder}
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.LogicalRDD

/** Physical-layout re-declaration for eagerly checkpointed frames.
  *
  * `Dataset.localCheckpoint` under AQE captures the checkpointed RDD
  * with `UnknownPartitioning(0)` (the adaptive root hides the final
  * plan's partitioning at capture time), so a frame that was
  * deliberately `repartition(k, key).sortWithinPartitions(key)`-laid-out
  * before the checkpoint loses that layout in the eyes of every later
  * `EnsureRequirements` pass — each downstream key-join re-exchanges
  * and re-sorts data that is ALREADY clustered and sorted. This shim
  * (the [[ColumnBridge]] pattern: `LogicalRDD` and `Dataset.ofRows` are
  * `private[sql]`) rebuilds the leaf with the layout it truthfully has.
  *
  * SAFETY CONTRACT: callers must guarantee the declared layout is the
  * frame's REAL layout — i.e. the checkpointed plan ended in
  * `repartition(k, col(key))` (exact `HashPartitioning`, never an
  * AQE-coalesced exchange, whose merged partitions do NOT follow the
  * hash function) followed by `sortWithinPartitions(col(key))`. A false
  * declaration silently corrupts every downstream join/aggregate that
  * trusts it. [[graft.ops.Exec.materializeClustered]] is the one
  * blessed call site; it owns that guarantee.
  */
object LayoutBridge {

  /** If `df` is a bare checkpoint leaf (`LogicalRDD`), re-declare it as
    * hash-partitioned by `keyCol` into `numPartitions` partitions and
    * sorted ascending-nulls-first by `keyCol` within partitions;
    * otherwise (the durable `persist` mode, where lineage is retained
    * and the layout stays visible to the planner through the cached
    * plan) return `df` unchanged. Statistics of the original frame are
    * carried over so join-size estimation is unaffected.
    *
    * Fails instead of declaring when the leaf's checkpointed RDD does
    * not have exactly `numPartitions` partitions (the hash layout would
    * be false), or when `keyCol` does not name exactly one output
    * column (the layout would be declared on an arbitrary one of them).
    * Names match with the session's resolver, as `col(keyCol)` does. */
  def declareHashClusteredSorted(df: DataFrame, keyCol: String,
                                 numPartitions: Int): DataFrame = {
    df.queryExecution.analyzed match {
      case lr: LogicalRDD =>
        val s = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        val resolver = s.sessionState.conf.resolver
        val attr = lr.output.filter(a => resolver(a.name, keyCol)) match {
          case Seq(a) => a
          case found => throw new IllegalArgumentException(
            s"declareHashClusteredSorted: expected exactly one column '$keyCol', " +
              s"found ${found.size} in " + lr.output.map(_.name).mkString("[", ", ", "]"))
        }
        val actual = lr.rdd.getNumPartitions
        if (actual != numPartitions) throw new IllegalStateException(
          s"declareHashClusteredSorted: checkpoint has $actual partitions, " +
            s"not the $numPartitions the hash layout requires")
        val stats = df.queryExecution.optimizedPlan.stats
        val relaid = LogicalRDD(
          lr.output, lr.rdd,
          HashPartitioning(Seq(attr), numPartitions),
          SortOrder(attr, Ascending) :: Nil,
          lr.isStreaming, lr.stream)(s, Some(stats), None)
        org.apache.spark.sql.classic.Dataset.ofRows(s, relaid)
      case _ => df
    }
  }
}
