package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Blocked fuzzy entity matching: resolve dirty strings (typos,
  * truncations, OCR noise) against a clean dimension by edit distance —
  * the entity-resolution step of a curation pipeline (dedup catches
  * EQUAL or near-equal documents; this catches records that NAME the
  * same entity differently).
  *
  * Spark-first plan: the all-pairs levenshtein cross product is the
  * naive cliff (O(dirty · clean) string DPs), so candidates are bounded
  * by an equi-join on a caller-supplied BLOCK key — pick a fragment the
  * expected edit pattern leaves stable (a suffix when edits hit the
  * head, a phonetic code, a sorted character n-gram). Within a block,
  * the codegen'd `levenshtein` residual filters and a per-dirty-row
  * window keeps the best match (smallest distance, then smallest clean
  * id — fully deterministic, tie behavior the oracle restates).
  *
  * Recall contract: a match whose edit CHANGES the block key is never
  * seen — that is the blocking tradeoff by design; run multiple passes
  * with complementary block keys when edits can hit anywhere (the same
  * multi-probe argument as LSH banding). Skew: one hot block (e.g. a
  * default/empty name) quadratically dominates — the guard below
  * counts block occupancy and fails loudly above `maxBlockPairs`, the
  * same treatment Dedup gives hot shingles. */
object Entity {

  /** Best clean match per dirty row (inner: dirty rows with no
    * candidate within `maxDist` are dropped — route them to a second
    * pass or manual review). Output: dirty_id, dirty_name, match_id,
    * match_name, dist.
    *
    * `maxBlockPairs` bounds per-block join fan-out: candidate pairs in
    * one block = dirty occupancy × clean occupancy, and a single hot
    * block (an empty/default name shared by millions of rows) turns
    * the bounded blocked join back into the all-pairs cliff. The guard
    * rides INSIDE the query's own action — per-block counts (two
    * partial-aggregated key shuffles, linear) join onto the clean side
    * and a `raise_error` fires on the first row of an over-cap block,
    * aborting the job BEFORE the fan-out grinds through the cliff.
    * Zero extra driver actions (a collect-based pre-check priced a
    * whole extra job into every call), and it FAILS (naming the block
    * and both occupancies) rather than silently dropping, because
    * dropped blocks would change the result under the caller's feet
    * (and diverge from the SQL oracle). Callers hitting it should
    * salt/pre-split the named block or raise the cap deliberately. */
  def fuzzyMatch(dirty: DataFrame, dirtyIdCol: String, dirtyNameCol: String,
                 clean: DataFrame, cleanIdCol: String, cleanNameCol: String,
                 blockKey: Column => Column, maxDist: Int,
                 maxBlockPairs: Long = 10000000L): DataFrame = {
    require(maxDist >= 0, s"maxDist must be non-negative, got $maxDist")
    val d = dirty.select(col(dirtyIdCol).as("dirty_id"),
      col(dirtyNameCol).as("dirty_name"),
      blockKey(col(dirtyNameCol)).as("__blk"))
    val c = clean.select(col(cleanIdCol).as("match_id"),
      col(cleanNameCol).as("match_name"),
      blockKey(col(cleanNameCol)).as("__blk"))
    // per-block occupancies (doubles: two huge counts would overflow a
    // long product exactly where the guard matters most). ONE aggregate
    // over a side-tagged union instead of two aggregates + an inner
    // join (r20, guide §2.3/§2.4): both counts partial-aggregate
    // map-side and cross ONE exchange of (block, nd, nc) partials where
    // the old shape paid two key shuffles plus a join; the nd>0 ∧ nc>0
    // filter reproduces the inner join's key set exactly (a block
    // present on one side only produces zero pairs either way)
    val stats = d.select(col("__blk"), lit(1L).as("__isd"))
      .unionByName(c.select(col("__blk"), lit(0L).as("__isd")))
      .groupBy(col("__blk"))
      .agg(sum(col("__isd")).cast("double").as("__nd"),
        sum(lit(1L) - col("__isd")).cast("double").as("__nc"))
      .filter(col("__nd") > 0 && col("__nc") > 0)
    // the filter keeps the guard column referenced so column pruning
    // cannot elide the raise_error; under the cap it is a constant-true
    // predicate per clean row
    val cGuarded = c.join(stats, "__blk")
      .withColumn("__guard",
        when(col("__nd") * col("__nc") > maxBlockPairs.toDouble,
          raise_error(format_string(
            "fuzzy-match block '%s' exceeds maxBlockPairs=" + maxBlockPairs +
              " candidate pairs (%.0f dirty x %.0f clean) — salt or pre-split" +
              " the block, or raise maxBlockPairs deliberately",
            col("__blk"), col("__nd"), col("__nc"))))
          .otherwise(lit(1)))
      .filter(col("__guard") === 1)
      .select(col("match_id"), col("match_name"), col("__blk"))
    // |len(a) − len(b)| lower-bounds levenshtein — a one-comparison
    // guard that skips the O(len²) DP for most non-matches in a block
    val cand = d.join(cGuarded, "__blk")
      .filter(abs(length(col("dirty_name")) - length(col("match_name"))) <= maxDist)
      .withColumn("dist", levenshtein(col("dirty_name"), col("match_name")).cast("long"))
      .filter(col("dist") <= maxDist)
    graft.ops.Aggs.argminPerGroup(cand, Seq(col("dirty_id")),
        Seq(col("dist").asc, col("match_id").asc))
      .select("dirty_id", "dirty_name", "match_id", "match_name", "dist")
  }

  /** Multi-pass blocked matching — the EXECUTABLE form of the recall
    * contract above: run [[fuzzyMatch]] once per complementary block
    * key (a suffix pass catches head edits, a prefix pass catches tail
    * edits, a phonetic code catches respellings, …), union the
    * per-pass winners, and keep the best overall match per dirty row
    * under the SAME total order a single pass uses (smallest dist,
    * then smallest clean id — best-of-per-pass-bests equals the best
    * over the union of the pass candidate sets, because each pass's
    * window already minimizes that order). A match is found if ANY
    * pass blocks the dirty row with its entity — the multi-probe
    * recall union, same argument as LSH banding — while cost stays
    * the SUM of the bounded per-pass blocked joins, never all-pairs.
    * The final window runs over at most (passes × dirty rows), linear.
    * Each pass carries the hot-block guard independently, so one
    * pathological key space (e.g. a prefix pass over names that all
    * start identically) fails loudly instead of silently cliffing. */
  def fuzzyMatchMultiPass(dirty: DataFrame, dirtyIdCol: String, dirtyNameCol: String,
                          clean: DataFrame, cleanIdCol: String, cleanNameCol: String,
                          blockKeys: Seq[Column => Column], maxDist: Int,
                          maxBlockPairs: Long = 10000000L): DataFrame = {
    require(blockKeys.nonEmpty, "at least one block-key pass is required")
    // Shape note: one [[fuzzyMatch]] pipeline per pass, winners
    // unioned, re-ranked once. An alternative that explodes both sides
    // to (pass, block-key) rows and runs ONE composite-key join was
    // built and A/B-measured at sf0.1: it codegens fewer distinct plan
    // shapes (faster first-ever run) but serializes the passes into
    // one stage chain on doubled row counts, losing ~0.5s warm —
    // Spark schedules the per-pass subtrees CONCURRENTLY here (they
    // are independent until the final union), which is also the
    // at-scale argument: passes share no state, so a cluster runs
    // them as parallel stage graphs. Kept the per-pass form.
    val passes = blockKeys.map(bk =>
      fuzzyMatch(dirty, dirtyIdCol, dirtyNameCol, clean, cleanIdCol, cleanNameCol,
        bk, maxDist, maxBlockPairs))
    graft.ops.Aggs.argminPerGroup(passes.reduce(_.unionByName(_)), Seq(col("dirty_id")),
        Seq(col("dist").asc, col("match_id").asc))
      .select("dirty_id", "dirty_name", "match_id", "match_name", "dist")
  }
}
