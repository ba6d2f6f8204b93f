package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Exprs}
import Kmeans.Centroids

/** IVF-style approximate nearest-neighbor search: a seeded k-means coarse
  * quantizer partitions the corpus into cells; search touches only the
  * probed cells instead of the full corpus.
  *
  * Scale shape: the quantizer is tiny (k centroids) and lives in the
  * plan as a literal / broadcast; cell assignment is one projection
  * ([[Kmeans.nearest]], no shuffle beyond the scan); search joins on the
  * cell key, so cost is corpus_fraction ≈ nprobe/k per query instead of
  * 1. Composes with [[Similarity.lshNearDup]] for skew-safe within-cell
  * near-dup search. At 100 TB the quantizer is fit on a bounded sample
  * (`trainFraction`, and at most [[Kmeans.PointsPerCentroid]]·k
  * vectors), never the full corpus.
  */
object Ivf {

  /** Fit the coarse quantizer ([[Kmeans]]: one collect, then a driver-side
    * fit). Deterministic for a fixed seed and input, whatever its
    * partitioning. Fewer eligible vectors than k is a named domain error
    * (callers may catch it to fall back to brute force). */
  def fitCentroids(df: DataFrame, vecCol: String, k: Int,
                   seed: Long = 42L, trainFraction: Double = 1.0): Centroids =
    Kmeans.fit(Kmeans.trainingSet(df, vecCol, k, seed, trainFraction,
      "an IVF quantizer")(transform(_, _.cast("double"))), k, seed)

  /** Train-once/probe-many entry: the quantizer at `path` if one exists,
    * else fit on (a bounded sample of) `df` and publish — the real IVF
    * life cycle (an index build fits and saves; every search loads and
    * probes; a refit on new data would silently move cell boundaries
    * under concurrent searches). A one-subspace [[Kmeans.ensure]]
    * artifact, so the codebook rules hold: an unparseable file refits,
    * and a healthy artifact fit for a different k is loud on every serve,
    * memo hit included. Fit-then-publish and load serve identical
    * centroids (the text round trip is bit-exact, asserted in IvfSpec). */
  def fitOrLoad(df: DataFrame, vecCol: String, k: Int, path: String,
                seed: Long = 42L, trainFraction: Double = 1.0): Centroids =
    Kmeans.ensure(df.sparkSession, path, "ivf", 1, k)(
      Array(fitCentroids(df, vecCol, k, seed, trainFraction))).head

  /** Assign each [[Similarity.eligible]] vector to its nearest
    * centroid's cell — ineligible rows (NULL / NULL-element /
    * zero-norm) never enter an index or a cell join, the same
    * never-pairs contract every ANN path shares. */
  def assignCells(df: DataFrame, vecCol: String, cents: Centroids): DataFrame =
    df.filter(Similarity.eligible(col(vecCol)))
      .withColumn("cell", Kmeans.nearest(col(vecCol), cents))

  /** Per-query probed cells: rank every centroid per query (|queries| ×
    * k rows — queries and the broadcast centroid list are both small
    * sides; the corpus never participates) and keep the `nprobe`
    * nearest. Output: query_id, q_vec, q_norm (scalar L2), cell —
    * one row per (query, probed cell), ready for an equi-join on
    * `cell` against the cell-assigned corpus. */
  def probeCells(queries: DataFrame, idCol: String, vecCol: String,
                 cents: Centroids, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val table = cents.toSeq.zipWithIndex.map { case (c, i) => (i, c) }
      .toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      Similarity.l2Norm(col(vecCol)).as("q_norm"))
      .filter(col("q_norm") > 0) // Similarity.eligible on the query side
    val dists = q.crossJoin(broadcast(table))
      .withColumn("cent_dist",
        sqrt(aggregate(zip_with(transform(col("q_vec"), x => x.cast("double")), col("centroid"),
          (a, b) => (a - b) * (a - b)), lit(0.0), (acc, v) => acc + v)))
    Aggs.topNPerGroup(dists, Seq(col("query_id")),
        Seq(col("cent_dist").asc, col("cell").asc), nprobe, "__pr")
      .select(col("query_id"), col("q_vec"), col("q_norm"), col("cell"))
  }

  /** ANN top-k: per query, rank all k centroids (k is tiny — a broadcast
    * cross join), keep the `nprobe` nearest cells, then search only the
    * corpus vectors in those cells. Exact cosine + deterministic
    * tie-break within the probed set. `assigned` is the cell-assigned
    * corpus (cell, neighbor_id, c_vec, c_norm) — a persisted index's
    * rows via [[indexAssigned]], so cells and norms are paid at ingest,
    * not per search. */
  def ivfTopKFromAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, cents: Centroids,
                          k: Int = 3, nprobe: Int = 2): DataFrame = {
    val scored = scoredWithinCells(assigned, idCol, vecCol, queries, cents, nprobe)
    Aggs.topNPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_sim").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Adapt a persisted IVF-PQ index frame ([[IvfPq.ensureIndex]]
    * schema) to the cell-assigned corpus shape (cell, neighbor_id,
    * c_vec, c_norm). Norms were computed at build from the same l2Norm
    * expression and round-trip parquet doubles exactly, so scoring
    * doubles are identical to an inline assignment. */
  def indexAssigned(indexed: DataFrame): DataFrame =
    indexed.select(col("cell"), col("neighbor_id"),
      col("vec").as("c_vec"), col("norm").as("c_norm"))

  /** Shared probe→join→score head of [[ivfTopKFromAssigned]] and
    * [[ivfTopKAggFromAssigned]]: exact rounded cosine for every (query,
    * probed-cell corpus row) pair. One expression tree, so both rankers
    * see IDENTICAL doubles. */
  private def scoredWithinCells(assigned: DataFrame, idCol: String, vecCol: String,
                                queries: DataFrame, cents: Centroids,
                                nprobe: Int): DataFrame = {
    val probes = probeCells(queries, idCol, vecCol, cents, nprobe)
    probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Exprs.r4(Similarity.dot(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm"))).as("cos_sim"))
  }

  /** Aggregation-formulated twin of [[ivfTopKFromAssigned]] (same
    * `assigned` contract) — executable spec for the ranking machinery,
    * NOT the production path: the same scored pairs ranked by
    * `array_sort(collect_list(struct))` inside a hash aggregate instead
    * of a `row_number` window (negated score sorts descending, neighbor
    * id breaks ties — the same total order). Scoring arithmetic is
    * shared ([[scoredWithinCells]]), so any divergence from the window
    * form isolates a top-k machinery bug (window/sort/tie-break), which
    * is exactly what the `sim_ivf_agree` scoreboard differential
    * witnesses. */
  def ivfTopKAggFromAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                             queries: DataFrame, cents: Centroids,
                             k: Int = 3, nprobe: Int = 2): DataFrame = {
    val scored = scoredWithinCells(assigned, idCol, vecCol, queries, cents, nprobe)
    // NaN order parity (defense-in-depth — IvfSpec shows NaN scores are
    // unreachable: NaN elements are rejected at quantizer fit and a
    // zero-norm division throws under ANSI before either ranker runs):
    // were a NaN cos_sim ever to flow, the window's DESC order ranks it
    // FIRST (Spark sorts NaN as the largest double) but its negation
    // would sort LAST in the ascending struct sort (-NaN is still NaN).
    // The leading flag pins NaN rows to the front so both rankers would
    // still agree; among themselves NaN rows fall through to the
    // neighbor_id tie-break, exactly like the window's equal-keys path.
    val nanFirst = when(isnan(col("cos_sim")), lit(0)).otherwise(lit(1))
    scored.groupBy(col("query_id"))
      .agg(slice(array_sort(collect_list(struct(nanFirst.as("nan_first"),
        (-col("cos_sim")).as("neg_cos"), col("neighbor_id"),
        col("cos_sim")))), 1, k).as("__top"))
      .select(col("query_id"), posexplode(col("__top")))
      .select(col("query_id"), (col("pos") + 1).cast("int").as("rank"),
        col("col.neighbor_id").as("neighbor_id"),
        col("col.cos_sim").as("cos_sim"))
  }
}
