package graft.ops

import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, Tables}

/** Exec.materialize must be a pure execution-policy switch: the durable
  * (cluster) path and the localCheckpoint (local) path must produce
  * identical results for the operators built on it. */
class ExecSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def runBoth(q: => org.apache.spark.sql.DataFrame): (Set[String], Set[String]) = {
    def rows(): Set[String] = q.collect().map(_.toString).toSet
    spark.conf.set(Exec.DurableConf, "false")
    val local = try rows() finally spark.conf.unset(Exec.DurableConf)
    spark.conf.set(Exec.DurableConf, "true")
    val durable = try rows() finally {
      spark.conf.unset(Exec.DurableConf)
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(false))
    }
    (local, durable)
  }

  test("ngramJaccardPairs identical under local and durable materialization") {
    val docs = Tables.documents(spark, sf)
    val (local, durable) = runBoth(
      graft.text.Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5))
    assert(local.nonEmpty || durable.isEmpty)
    assert(local == durable, s"modes diverge: only-local=${local -- durable} only-durable=${durable -- local}")
  }

  test("lshNearDup identical under local and durable materialization") {
    val emb = Tables.embeddings(spark, sf)
    val (local, durable) = runBoth(
      graft.sim.Similarity.lshNearDup(emb, "vec_id", "embedding", "label", 0.35, 4))
    assert(local == durable, s"modes diverge: only-local=${local -- durable} only-durable=${durable -- local}")
  }

  test("release on a DERIVED frame reaps the materialized parent (both modes)") {
    // r15 review: the bare-caller contract (pass the returned frame to
    // release) silently did nothing in durable mode — lineage is
    // retained there, so the parent is a cached SUBTREE, not the
    // frame's own plan; the CacheBridge walk has to find it
    import spark.implicits._
    def pinned(): Int = spark.sparkContext.getPersistentRDDs.size
    for (durable <- Seq("false", "true")) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      assert(pinned() == 0)
      spark.conf.set(Exec.DurableConf, durable)
      try {
        val parent = Exec.materialize((1 to 100).toDF("v"))
        val derived = parent.select((org.apache.spark.sql.functions.col("v") * 2).as("w"))
        assert(derived.count() == 100)
        assert(pinned() > 0)
        Exec.release(derived)
        val deadline = System.nanoTime() + 10e9.toLong
        while (pinned() > 0 && System.nanoTime() < deadline) Thread.sleep(50)
        assert(pinned() == 0,
          s"release(derived, durable=$durable) left ${pinned()} pinned RDDs")
      } finally spark.conf.unset(Exec.DurableConf)
    }
  }

  test("release stops at the topmost pinned layer — a live parent below a released child survives (both modes)") {
    // the precision rule that makes release safe mid-computation
    // (collectShingleStats releases its stats frame while the shingle
    // arrays BELOW it are still live): local mode gets this from
    // lineage truncation, durable mode from the walk stopping at the
    // first cache hit
    import spark.implicits._
    def pinned(): Int = spark.sparkContext.getPersistentRDDs.size
    for (durable <- Seq("false", "true")) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      assert(pinned() == 0)
      spark.conf.set(Exec.DurableConf, durable)
      try {
        val parent = Exec.materialize((1 to 100).toDF("v"))
        val child = Exec.materialize(
          parent.select((org.apache.spark.sql.functions.col("v") * 2).as("w")))
        assert(child.count() == 100)
        Exec.release(child)
        // the parent must still be pinned AND still serve its rows
        assert(parent.count() == 100)
        assert(pinned() > 0,
          s"release(child, durable=$durable) must not reach the live parent")
        Exec.release(parent)
        val deadline = System.nanoTime() + 10e9.toLong
        while (pinned() > 0 && System.nanoTime() < deadline) Thread.sleep(50)
        assert(pinned() == 0)
      } finally spark.conf.unset(Exec.DurableConf)
    }
  }

  test("release drops the blocks materialize pinned (both modes)") {
    // review r14: Exec.materialize pins blocks (cache-manager entry in
    // durable mode, a checkpointed RDD outside the cache manager in
    // local mode) and library callers had no release that reached both;
    // Dataset.unpersist alone misses the localCheckpoint RDD
    import spark.implicits._
    def pinned(): Int = spark.sparkContext.getPersistentRDDs.size
    for (durable <- Seq("false", "true")) {
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
      assert(pinned() == 0)
      spark.conf.set(Exec.DurableConf, durable)
      try {
        val m = Exec.materialize((1 to 100).toDF("v"))
        assert(m.count() == 100)
        assert(pinned() > 0, s"materialize(durable=$durable) pinned nothing")
        Exec.release(m)
        // unpersist(false) is async in places — poll briefly
        val deadline = System.nanoTime() + 10e9.toLong
        while (pinned() > 0 && System.nanoTime() < deadline) Thread.sleep(50)
        assert(pinned() == 0, s"release(durable=$durable) left ${pinned()} pinned RDDs")
      } finally spark.conf.unset(Exec.DurableConf)
    }
  }

  // ----- materializeClustered layout safety ----------------------------

  private def declaredLayout(df: org.apache.spark.sql.DataFrame) =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        (lr.rdd.getNumPartitions, lr.outputPartitioning)
      case other => fail(s"not a checkpoint leaf: $other")
    }

  test("materializeClustered defaults k to the session's effective shuffle partition count") {
    // with AQE coalescing on, an initial partition number overrides
    // spark.sql.shuffle.partitions for every ENSURE_REQUIREMENTS exchange;
    // string-parsing spark.sql.shuffle.partitions read 4 here
    import spark.implicits._
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum", "5")
    try {
      val expected = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
        .sessionState.conf.numShufflePartitions
      assert(expected == 5)
      val m = Exec.materializeClustered((1 to 100).map(i => (i % 7, i)).toDF("k", "v"), "k")
      val (parts, layout) = declaredLayout(m)
      assert(parts == 5)
      assert(layout.numPartitions == 5 &&
        layout.isInstanceOf[org.apache.spark.sql.catalyst.plans.physical.HashPartitioning])
      assert(m.count() == 100)
      Exec.release(m)
    } finally spark.conf.unset("spark.sql.adaptive.coalescePartitions.initialPartitionNum")
  }

  test("the layout bridge refuses a checkpoint whose partition count is not k") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val m = Exec.materialize((1 to 100).toDF("k").repartition(3, col("k")))
    val e = intercept[IllegalStateException](
      org.apache.spark.sql.graftbridge.LayoutBridge.declareHashClusteredSorted(m, "k", 4))
    assert(e.getMessage.contains("3 partitions"), e.getMessage)
    // the truthful count is declared
    val ok = org.apache.spark.sql.graftbridge.LayoutBridge.declareHashClusteredSorted(m, "k", 3)
    assert(declaredLayout(ok)._2.numPartitions == 3)
    Exec.release(m)
  }

  test("the layout bridge requires exactly one column named keyCol") {
    import spark.implicits._
    import org.apache.spark.sql.functions.col
    val a = (1 to 10).toDF("k")
    val b = (1 to 10).toDF("k")
    // a self-join keeps both `k` attributes under one name
    val twoKeys = Exec.materialize(a.join(b, a("k") === b("k")).repartition(4))
    val dup = intercept[IllegalArgumentException](
      org.apache.spark.sql.graftbridge.LayoutBridge.declareHashClusteredSorted(twoKeys, "k", 4))
    assert(dup.getMessage.contains("found 2"), dup.getMessage)
    val none = intercept[IllegalArgumentException](
      org.apache.spark.sql.graftbridge.LayoutBridge.declareHashClusteredSorted(twoKeys, "v", 4))
    assert(none.getMessage.contains("found 0"), none.getMessage)
    Exec.release(twoKeys)
  }
}
