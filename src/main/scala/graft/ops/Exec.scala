package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.storage.StorageLevel

/** Execution-policy helpers shared by the multi-consumer operators.
  *
  * The dedup/similarity operators materialize an intermediate frame that
  * several downstream branches consume (both sides of a self-join, a
  * hot-key audit, …). HOW to materialize is a deployment decision, not
  * an operator decision, so it lives behind one switch:
  *
  *   - `local` (the default on a `local[*]` master): `localCheckpoint` —
  *     blocks pinned to executors, lineage truncated. Fastest, but NOT
  *     durable: on a real cluster a lost executor (dynamic allocation,
  *     spot kill) loses blocks that cannot be recomputed, failing the
  *     query mid-flight.
  *   - `durable` (the default on any non-local master, or forced via
  *     `spark.graft.durableMaterialize=true`): eager
  *     `persist(DISK_ONLY)` — lineage is kept, so a lost block is
  *     recomputed from source instead of killing the query, and the
  *     blocks spill to disk rather than competing with shuffle memory.
  *
  * Both modes materialize EAGERLY (the persist is followed by a
  * `count()`): the consumers race otherwise — two concurrent branches
  * computing (and block-manager-contending on) the same partitions of a
  * lazily-cached frame.
  */
object Exec {

  /** Session conf key: force (`true`) or suppress (`false`) the durable
    * path; unset → decided by the master URL. */
  val DurableConf = "spark.graft.durableMaterialize"

  def materialize(df: DataFrame): DataFrame = {
    val spark = df.sparkSession
    val durable = spark.conf.getOption(DurableConf).map(_.toBoolean)
      .getOrElse(!spark.sparkContext.isLocal)
    if (durable) {
      val p = df.persist(StorageLevel.DISK_ONLY)
      p.count() // eager: see scaladoc — concurrent consumers must not race
      p
    } else df.localCheckpoint(true)
  }

  /** [[materialize]], laid out for repeated key-joins: hash-repartition
    * by `keyCol` (explicit partition count — AQE never coalesces a
    * numbered repartition, so the layout is an EXACT `HashPartitioning`
    * the bridge may truthfully re-declare), sort within partitions by
    * `keyCol`, materialize, then re-declare that layout on the
    * checkpoint leaf ([[org.apache.spark.sql.graftbridge.LayoutBridge]]
    * — localCheckpoint under AQE otherwise captures
    * `UnknownPartitioning`, and every downstream `EnsureRequirements`
    * re-exchanges AND re-sorts the frame per join). An iterative
    * consumer (PageRank's per-round `ed ⋈ sums`) then pays the exchange
    * + sort ONCE at setup instead of once per iteration; only the
    * node-sized other side moves per round.
    *
    * `numPartitions` defaults to the session's effective shuffle
    * partition count (`SQLConf.numShufflePartitions`) — the same count
    * every downstream ENSURE_REQUIREMENTS exchange targets statically,
    * so the co-join side shuffles straight into alignment (no
    * local-core-count constant; the deployment's shuffle-partition
    * setting is the scale knob). The bridge re-checks that the
    * checkpoint really has that many partitions before declaring the
    * layout. In durable mode (`persist`, lineage retained) the explicit
    * repartition+sort below the cache keeps the layout visible to the
    * planner without any re-declaration. */
  def materializeClustered(df: DataFrame, keyCol: String,
                           numPartitions: Int = 0): DataFrame = {
    import org.apache.spark.sql.functions.col
    val k =
      if (numPartitions > 0) numPartitions
      else df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf.numShufflePartitions
    val laid = df.repartition(k, col(keyCol)).sortWithinPartitions(col(keyCol))
    org.apache.spark.sql.graftbridge.LayoutBridge
      .declareHashClusteredSorted(materialize(laid), keyCol, k)
  }

  /** Release what a frame holds pinned, once every consumer's action
    * has completed. Accepts the [[materialize]] handle itself OR a
    * frame DERIVED from one (the bare-caller contract in
    * [[graft.text.Dedup.minhashSignatures]]): both storage modes are
    * swept symmetrically —
    *
    *   - '''local''' (`localCheckpoint`): checkpointed RDDs appear as
    *     `LogicalRDD` leaves of the derived plan (each materialize
    *     TRUNCATES lineage, so the leaves are exactly the frame's
    *     direct checkpoint layer) — unpersist each.
    *   - '''durable''' (`persist(DISK_ONLY)` — lineage RETAINED): walk
    *     the analyzed plan top-down and drop the TOPMOST cached node
    *     along every path ([[org.apache.spark.sql.graftbridge.CacheBridge]];
    *     `Dataset.unpersist` alone matches only the frame's own plan,
    *     so a derived frame released nothing in this mode — review
    *     r15). Stopping at the first hit mirrors the local truncation
    *     semantics: a cached node's own inputs belong to whoever built
    *     it (e.g. releasing the stats frame of
    *     [[graft.text.Dedup.collectShingleStats]] must NOT reach the
    *     still-live shingle arrays below it).
    *
    * Safe on any frame (no-op when nothing under it is pinned);
    * non-blocking. Frames that share a checkpoint with the released
    * one lose it too — release only when EVERY consumer is done (which
    * is why the mains' shared query loop,
    * [[graft.Harness.eachQuery]], additionally sweeps
    * `getPersistentRDDs` between queries; library builders release
    * explicitly instead of relying on such a sweep). */
  def release(df: DataFrame): Unit = {
    val spark = df.sparkSession
    def walk(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Unit =
      if (!org.apache.spark.sql.graftbridge.CacheBridge.uncacheIfCached(spark, p))
        p.children.foreach(walk)
    walk(df.queryExecution.analyzed)
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(false)
      case _ => ()
    }
  }
}
