package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** Physical-plan assertions for the flagship queries — the scale
  * contract, not just the result: dims broadcast, filters reach the
  * parquet scan, top-k compiles to TakeOrderedAndProject, scans prune
  * columns. A regression here (a broadcast silently becoming a
  * sort-merge join, a filter lifting off the scan) passes every
  * correctness check and still loses 10× at 100 TB. */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.001"

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("a4_argmin_per_group: supplier dim is broadcast, window is single-shuffle") {
    val p = plan("a4_argmin_per_group")
    assert(p.contains("BroadcastHashJoin"), s"no broadcast join:\n$p")
    assert(!p.contains("SortMergeJoin"), s"unexpected sort-merge join:\n$p")
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"more than one hash exchange:\n$p")
  }

  test("j2_left_join_dim: broadcast hint honored") {
    val p = plan("j2_left_join_dim")
    assert(p.contains("BroadcastHashJoin"))
    assert(!p.contains("SortMergeJoin"))
  }

  test("s1_scan_filter_agg: predicates reach the parquet scan; projection pruned") {
    val p = plan("s1_scan_filter_agg")
    assert(p.contains("PushedFilters: ["), s"no pushed filters:\n$p")
    assert(p.contains("l_shipdate"), s"shipdate not in pushed filters:\n$p")
    // scan must not read all 16 lineitem columns for a 4-column query
    val readSchema = p.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_extendedprice") && !readSchema.contains("l_orderkey"),
      s"column pruning failed: $readSchema")
  }

  test("o3_topk: compiles to TakeOrderedAndProject (no global sort)") {
    val p = plan("o3_topk")
    assert(p.contains("TakeOrderedAndProject"), s"top-k not fused:\n$p")
  }

  test("p1_project: bare projection is scan-only (no exchange, no sort)") {
    val p = plan("p1_project")
    assert(!p.contains("Exchange") && !p.contains("Sort"), s"projection plan bloated:\n$p")
  }

  test("s3_partitioned_scan: partition filter prunes at file listing") {
    val p = plan("s3_partitioned_scan")
    assert(p.contains("PartitionFilters"), s"no partition filters:\n$p")
    val line = p.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(line.contains("o_orderstatus"), s"status not a partition filter: $line")
  }

  /** Executed plan (AQE finalized — codegen spans only appear once the
    * adaptive plan is final). */
  private def executedPlan(name: String): String = {
    val df = SparkEntry.queries(name)(spark, sf)
    df.collect() // count() would plan a different query; collect finalizes THIS one
    df.queryExecution.executedPlan.toString
  }

  test("sim_cosine_topk: dot product runs as the native codegen kernel") {
    val p = executedPlan("sim_cosine_topk")
    assert(p.contains("vec_dot"), s"native vec_dot missing from plan:\n$p")
    // the interpreted higher-order fold it replaced must be gone
    assert(!p.contains("aggregate(zip_with"), s"interpreted HOF fold still present:\n$p")
    assert(p.contains("*("), s"no codegen span (no '*(n)' stage markers):\n$p")
  }

  test("x22_contiguous_ids: NO window operator anywhere — the single-task cliff is gone") {
    // the naive formulation is row_number() OVER (ORDER BY ...) with no
    // partition: one Window operator fed by a SinglePartition exchange.
    // The two-pass scheme must show NEITHER — numbering happens in
    // mapPartitions over the range-partitioned frame.
    val p = executedPlan("x22_contiguous_ids")
    assert(!p.contains("Window"), s"Window operator present — global sort cliff:\n$p")
    assert(!p.contains("SinglePartition"), s"SinglePartition exchange present:\n$p")
  }

  test("lshBucket: production bucketing runs inside a codegen stage") {
    // NOT the sim_lsh_bucket QUERY — that is the agreement differential,
    // whose interpreted-lambda spec side legitimately blocks codegen for
    // the shared projection. The production operator is the native
    // kernel alone, as consumed by lshNearDup.
    val df = graft.Tables.embeddings(spark, sf).select(col("vec_id"),
      graft.sim.Similarity.lshBucket(col("embedding"), 8).as("bucket"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    // the '*(n)' prefix marks operators fused into a WholeStageCodegen stage
    val line = p.linesIterator.find(_.contains("vec_lsh_bucket")).getOrElse("")
    assert(line.nonEmpty, s"native vec_lsh_bucket missing from plan:\n$p")
    assert(line.contains("*("), s"vec_lsh_bucket not in a codegen stage: $line")
  }

  test("PLANS.md audit artifact matches Explain.headline exactly (no drift)") {
    // the committed plan artifact must track the headline set: a query
    // added to the review set without a regenerated PLANS.md (or a
    // section silently dropped) fails here, so the artifact can't rot
    val plans = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("PLANS.md")), "UTF-8")
    val sections = plans.linesIterator.filter(_.startsWith("## "))
      .map(_.drop(3).trim).toSet
    val missing = Explain.headline.toSet -- sections
    val stale = sections -- Explain.headline.toSet
    assert(missing.isEmpty && stale.isEmpty,
      s"PLANS.md drift — missing: ${missing.mkString(", ")}; stale: ${stale.mkString(", ")}; " +
        "regenerate with `runMain graft.Explain --audit PLANS.md`")
  }

  test("filterUnseen: bloom probe is native might_contain inside a codegen stage") {
    // parquet-backed source: a LocalRelation would be eagerly folded by
    // ConvertToLocalRelation and leave no filter in the plan to inspect
    val docs = Tables.documents(spark, sf)
    val bloom = graft.text.CorpusSketches.fingerprintBloom(
      docs.filter(org.apache.spark.sql.functions.col("doc_id") < 100), "text", expected = 1000)
    val filtered = docs.filter(!graft.text.CorpusSketches.seenProbe("text", bloom))
    filtered.collect()
    val p = filtered.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("might_contain")).getOrElse("")
    assert(line.nonEmpty, s"native might_contain missing from plan:\n$p")
    assert(line.contains("*("), s"bloom probe not in a codegen stage: $line")
    assert(!p.contains("UDF") && !p.contains("BatchEvalPython"), s"UDF in bloom plan:\n$p")
  }

  test("j13_merge_upsert: join-free merge — one hash exchange, no join operator") {
    val p = plan("j13_merge_upsert")
    assert(!p.toLowerCase.contains("join"), s"merge should be join-free:\n$p")
    assert(p.sliding("Exchange hashpartitioning".length)
      .count(_ == "Exchange hashpartitioning") == 1,
      s"merge should shuffle once on the key:\n$p")
  }

  test("sq8: native sq8_codes kernel runs inside a codegen stage") {
    val df = graft.Tables.embeddings(spark, sf).select(col("vec_id"),
      graft.sim.Similarity.sq8(col("embedding")).as("codes"))
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("sq8_codes")).getOrElse("")
    assert(line.nonEmpty, s"native sq8_codes missing from plan:\n$p")
    assert(line.contains("*("), s"sq8_codes not in a codegen stage: $line")
  }

  test("dedup_ngram_jaccard: no window sort and no per-doc count re-join") {
    // the hot-shingle cap and the per-doc retained count are pure
    // projections over the pre-explode arrays (array_except/size) — the
    // plan must contain neither a Window (per-shingle sort) nor the old
    // groupBy-count-then-rejoin (an extra exchange of the exploded
    // stream). The only joins left are the blocking self-join.
    val p = plan("dedup_ngram_jaccard")
    assert(!p.contains("Window"), s"unexpected window in dedup plan:\n$p")
    assert(!p.toLowerCase.contains("leftanti"),
      s"hot-cap anti-join resurfaced (should be array_except projection):\n$p")
  }

  test("artifact-served decision queries plan as bare artifact scans") {
    // the ingest-artifact doctrine, pinned at the plan level: the pair
    // report and the span blocklist must LOAD their persisted artifact
    // — a Join/Exchange/Aggregate reappearing here means some code path
    // silently regressed to per-query regeneration of corpus-level
    // state (the exact cost the artifacts exist to remove at 100 TB)
    for (q <- Seq("dedup_ngram_jaccard", "text_span_crossdup",
        "dedup_minhash_lsh", "dedup_minhash_components")) {
      val p = plan(q)
      assert(p.contains("FileScan parquet") && p.contains("graft-models"),
        s"$q does not scan its persisted artifact:\n$p")
      for (op <- Seq("Join", "Exchange", "HashAggregate", "Generate"))
        assert(!p.contains(op), s"$q re-derives its artifact ($op in plan):\n$p")
    }
  }

  test("PlanCensus counts codegen spans of the final plan, below query stages too") {
    // the census once read spans off the plan string, whose only marker
    // is the `*(n)` prefix, so every row reported 0
    val df = SparkEntry.queries("a4_argmin_per_group")(spark, sf)
    df.collect()
    val root = df.queryExecution.executedPlan
    val stages = PlanCensus.finalPlanNodes(root)
      .collect { case q: org.apache.spark.sql.execution.adaptive.QueryStageExec => q }
    assert(stages.size > 1, s"not a multi-stage plan:\n$root")
    assert(PlanCensus.codegenSpans(root) > 0, s"no codegen spans counted:\n$root")
    assert(stages.exists(q => PlanCensus.codegenSpans(q.plan) > 0),
      s"no codegen span counted inside a query stage:\n$root")
  }
}
