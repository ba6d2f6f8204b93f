package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.text.{CorpusSketches, Dedup, TextOps}

/** End-to-end training-data curation pipeline — the composition the
  * individual operators exist for, runnable as
  * `runMain graft.PipelineDemo [sfDir] [outDir]`:
  *
  *   documents → expectation gate (schema-level rules, violations
  *               quarantined with reasons)
  *             → quality gate (token count / alpha ratio / lang-ID)
  *             → exact dedup (content hash, keep min id)
  *             → near-dup drop (MinHash+LSH candidates; drop the
  *               higher id of each estimated-similar pair)
  *             → PII masking (emails / IPs / phone runs → placeholders)
  *             → cap per language (hash-draw selection)
  *             → token budget accounting (BPE-ish counts)
  *             → curated parquet + metrics JSON
  *
  * Every stage is one of the engine's tested operators; the pipeline
  * adds only composition. Stage costs at scale: the gates are
  * scan-projection (no shuffle), exact dedup is one hash shuffle,
  * the near-dup drop is the banded LSH join (never all-pairs), and the
  * curated write is partitioned by language for downstream pruning.
  * [[PipelineDemoSpec]] runs it on planted data and checks every
  * stage's effect.
  */
object PipelineDemo {

  case class Result(input: Long, quarantined: Long, afterQuality: Long,
                    afterExact: Long, afterNearDup: Long, afterCap: Long,
                    tokensKept: Long)

  def curate(spark: SparkSession, docs: DataFrame,
             minTokens: Long = 5, minAlpha: Double = 0.6,
             langs: Seq[String] = Seq("en", "de", "es"),
             nearDupEstimate: Double = 0.8,
             maxPerLang: Int = Int.MaxValue): (DataFrame, Result) = {
    val input = docs.count()

    // 0. expectation gate: structural rules every downstream stage can
    //    then rely on; violators divert with named reasons instead of
    //    failing the job or vanishing
    val (sound0, quarantine) = graft.ops.Expect.check(docs, Seq(
      "text_present" -> (col("text").isNotNull && length(col("text")) > 0),
      "id_present" -> col("doc_id").isNotNull,
      "lang_present" -> col("lang").isNotNull))
    // every later funnel count re-reads this frame — materialize once
    // so the scan + gate don't re-execute per metric action (a
    // metrics-only caller would use df.observe instead, per Expect's
    // scaladoc)
    val sound = graft.ops.Exec.materialize(sound0)
    val quarantined = quarantine.count()

    // 1. quality + language gate: pure projection predicates, fused
    //    into the scan — no shuffle, no pass over rejected payloads
    val gated = sound
      .withColumn("__tok", TextOps.tokenCount(col("text")))
      .withColumn("__alpha", TextOps.alphaRatio(col("text")))
      .filter(col("__tok") >= minTokens && col("__alpha") >= minAlpha &&
        col("lang").isin(langs: _*))
    val afterQuality = gated.count()

    // 2. exact dedup: keep the minimum doc_id per content hash
    val keepers = Dedup.exact(gated, "doc_id", "text")
      .select(col("keeper_id").as("doc_id"))
    val exactDeduped = graft.ops.Exec.materialize(
      gated.join(keepers, Seq("doc_id"), "left_semi")) // consumed by minhash + the anti-join below
    val afterExact = exactDeduped.count()

    // 3. near-dup drop: LSH candidates above the estimate threshold;
    //    drop the higher id of each pair (anti-join on a tiny drop set
    //    relative to the corpus — broadcastable in the common case)
    val dropIds = Dedup.minhashCandidates(exactDeduped, "doc_id", "text",
        minEstimate = nearDupEstimate)
      .select(col("id_b").as("doc_id")).distinct()
    val deduped = exactDeduped.join(broadcast(dropIds), Seq("doc_id"), "left_anti")
    val afterNearDup = deduped.count()

    // 4. PII masking (projection) + per-language cap (one window
    //    shuffle; skip entirely when uncapped)
    val masked = deduped.withColumn("text", TextOps.maskPii(col("text")))
    val capped =
      if (maxPerLang == Int.MaxValue) masked
      else graft.ops.Sampling.capPerGroup(masked, Seq(col("lang")),
        col("doc_id"), maxPerLang)
    val curated = capped
      .withColumn("bpeish_tokens", TextOps.bpeishTokenCount(col("text")))
      .drop("__tok", "__alpha")
    val afterCap = curated.count()
    // coalesce: SUM over an empty curated set is NULL (everything
    // gated/deduped away), and getLong on it throws ROW_VALUE_IS_NULL
    val tokensKept = curated.agg(coalesce(sum(col("bpeish_tokens")), lit(0L)))
      .head().getLong(0)

    (curated, Result(input, quarantined, afterQuality, afterExact,
      afterNearDup, afterCap, tokensKept))
  }

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.length > 0) args(0) else "/root/testdata/sf0.01"
    val outDir = if (args.length > 1) args(1)
      else System.getProperty("java.io.tmpdir") + "/graft_curated"
    val spark = Harness.session("graft-pipeline-demo", Harness.cpus(8))
    val (curated, r) = curate(spark, Tables.documents(spark, sfDir))
    curated.repartition(col("lang"))
      .write.mode("overwrite").partitionBy("lang").parquet(s"$outDir/documents")
    Ioops.writeMetricsJson(s"$outDir/metrics.json", Map(
      "input" -> r.input.toDouble, "quarantined" -> r.quarantined.toDouble,
      "after_quality" -> r.afterQuality.toDouble,
      "after_exact_dedup" -> r.afterExact.toDouble,
      "after_near_dup" -> r.afterNearDup.toDouble,
      "after_cap" -> r.afterCap.toDouble,
      "bpeish_tokens_kept" -> r.tokensKept.toDouble))
    println(s"""{"input":${r.input},"quarantined":${r.quarantined},""" +
      s""""after_quality":${r.afterQuality},"after_exact":${r.afterExact},""" +
      s""""after_near_dup":${r.afterNearDup},"after_cap":${r.afterCap},""" +
      s""""tokens_kept":${r.tokensKept},"out":"$outDir"}""")
    spark.stop()
  }
}
