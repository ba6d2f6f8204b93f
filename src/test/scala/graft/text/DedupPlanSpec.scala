package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Plan-shape pins for the dedup internals that only execution (not the
  * oracle scoreboard) can see. */
class DedupPlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("shingleStats: ONE corpus shuffle, zero per-key hash aggregates (sort-fold shape)") {
    val docs = (1 to 50).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta unique$i tail$i end$i"))
      .toDF("doc_id", "text")
    val arr = Dedup.shingleHashArray(docs, "doc_id", "text", 3)
    val stats = Dedup.shingleStats(arr, 10L)
    stats.collect() // finalize the adaptive plan
    val plan = stats.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    // the exploded corpus must shuffle exactly ONCE (the explicit hash
    // repartition — per-fingerprint co-location is what makes the
    // run-length count the exact df), then sort and fold WITHOUT a
    // per-key hash map: the r13 groupBy shape built final-stage hash
    // maps holding each partition's whole distinct-key set and spilled
    // 43 GiB at the 100x scale point (VERDICT r13 #3), and computed
    // the aggregate once per branch above a ReusedExchange — both
    // gone in the one-pass fold
    val exchanges = plan.linesIterator.count(_.contains("Exchange hashpartitioning"))
    assert(exchanges == 1, s"expected exactly one exchange, got $exchanges in:\n$plan")
    assert(!plan.contains("HashAggregate"),
      s"stats pass must not build per-key hash maps:\n$plan")
    // r15: the sort is IN-TASK (LongRunSort — primitive long[] chunks,
    // 8 B/element vs the generic sorter's ~36) — a Sort node here means
    // the row-sorter shape regressed back into the plan
    assert(!plan.contains("Sort ["),
      s"expected the in-task primitive sort, not a row-sorter Sort node:\n$plan")
  }

  test("bandPartitions: 4x the shuffle width; an overflowing product fails by name") {
    assert(Dedup.bandPartitions(32) == 128)
    assert(Dedup.bandPartitions(0) == 4) // a degenerate width counts as 1
    // the shuffle width is session input: a product past Int must fail
    // at plan build, not as a negative-partition repartition error
    // mid-job (ADVICE r16)
    val e = intercept[IllegalArgumentException] { Dedup.bandPartitions(Int.MaxValue) }
    assert(e.getMessage.contains("band partitions") && e.getMessage.contains("overflows"))
  }

  test("minhashCandidateIds: sort-fold pair-distinct — zero hash aggregates") {
    // r15: the cross-band candidate distinct must plan as the
    // explicit wide repartition + per-partition sort + run-length
    // fold — the hash-aggregate distinct held ~every (mostly-unique)
    // candidate pair in per-task maps and spilled 6.1 GiB at the
    // 100x scale point (dev/SCALE_r14.md §1)
    val docs = (1 to 40).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon zeta unique$i tail$i"))
      .toDF("doc_id", "text")
    val sigs = Dedup.minhashSignatures(docs, "doc_id", "text", 32, Long.MaxValue)
    val ids = Dedup.minhashCandidateIds(sigs, "doc_id", 32, 16)
    ids.collect()
    val plan = ids.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("HashAggregate"),
      s"pair-distinct must not build per-pair hash maps:\n$plan")
    assert(plan.contains("Sort"), s"expected the per-partition sort in:\n$plan")
  }

  test("bandedConfirm broadcast shape: ZERO exchanges, broadcast joins only") {
    // the r11 perf property behind dev/SCALE_r11.md's 1061→686 MiB
    // measurement: with a materialized candidate frame, the
    // candidate-sparse confirm must plan as scan + BroadcastHashJoin
    // end-to-end — any hashpartitioning exchange means the arrays are
    // being re-shuffled per side again
    val docs = (1 to 20).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon zeta unique$i tail$i"))
      .toDF("doc_id", "text")
    val base = graft.ops.Exec.materialize(
      Dedup.shingleHashArray(docs, "doc_id", "text", 3)
        .select(col("doc_id"), col("__sh").as("__r"))
        .filter(size(col("__r")) > 0))
    val sigs = base.select(col("doc_id"),
      graft.functions.MinHashSigs.sigs(col("__r"), 32).as("signature"))
    val cand = graft.ops.Exec.materialize(
      Dedup.minhashCandidatesFromSigs(sigs, "doc_id", 32, 16, 0.0)
        .select(col("id_a"), col("id_b")))
    val confirmed = Dedup.bandedConfirm(cand, base, "doc_id", 0.5,
      broadcastConfirm = true)
    confirmed.collect()
    val plan = confirmed.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    assert(!plan.contains("Exchange hashpartitioning"),
      s"broadcast confirm must not shuffle:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"broadcast confirm must not SMJ:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).length >= 2,
      s"expected the two pair joins as BHJ in:\n$plan")
  }
}
