package graft.sim

import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Exprs}

/** IVF-style approximate nearest-neighbor search: a seeded KMeans coarse
  * quantizer partitions the corpus into cells; search touches only the
  * probed cells instead of the full corpus.
  *
  * Scale shape: centroids are tiny (k vectors) and live driver-side /
  * broadcast; cell assignment is one `model.transform` pass (linear, no
  * shuffle beyond the scan); search joins on the cell key, so cost is
  * corpus_fraction ≈ nprobe/k per query instead of 1. Composes with
  * [[Similarity.lshNearDup]] for skew-safe within-cell near-dup search.
  * At 100 TB the quantizer is fit on a bounded sample (`trainFraction`),
  * never the full corpus.
  */
object Ivf {

  /** Fit the coarse quantizer. Deterministic for a fixed seed and input. */
  def fitCentroids(df: DataFrame, vecCol: String, k: Int,
                   seed: Long = 42L, trainFraction: Double = 1.0): KMeansModel = {
    // cache: kmeans|| init rounds + Lloyd iterations each run a job over
    // the training frame — uncached, every one re-scans the source and
    // re-converts arrays to vectors
    // Similarity.eligible: NULL / NULL-element / zero-norm vectors are
    // outside the ANN contract — array_to_vector NPEs on them and a
    // zero vector would pull a centroid to the origin
    val training = (if (trainFraction < 1.0) df.sample(withReplacement = false, trainFraction, seed) else df)
      .filter(Similarity.eligible(col(vecCol)))
      .select(array_to_vector(col(vecCol)).as("__fv"))
      .cache()
    // try/finally so the advertised domain error below (which callers
    // may catch to fall back to brute force) cannot leak the cached
    // training frame (review sweep r10)
    try {
      // Named domain contract, not an MLlib crash: fitting a k-centroid
      // quantizer on fewer than k eligible vectors dies inside KMeans as
      // an uncontextualized ArrayIndexOutOfBoundsException (degenerate-
      // cardinality sweep, r10). The count is a job over the frame the
      // init rounds are about to re-scan from cache anyway.
      val nTrain = training.count()
      require(nTrain >= k,
        s"cannot fit an IVF quantizer with k=$k on $nTrain eligible training " +
          s"vector(s) — lower k (or raise trainFraction), or use brute-force " +
          s"search for corpora this small")
      // kmeans|| init kept: a badly-initialized quantizer splits true
      // clusters across cells, which directly costs near-dup recall
      // (single-cell probing); the init rounds run on the (sampled)
      // training frame, not the full corpus. One init step (not the
      // default 2) — each step is a full pass over the training frame,
      // and one oversampling round already yields ~2k well-spread
      // candidates for the final local k-means++.
      new KMeans().setK(k).setSeed(seed).setMaxIter(5).setInitSteps(1)
        .setFeaturesCol("__fv").setPredictionCol("cell")
        .fit(training)
    } finally { training.unpersist(); () }
  }

  /** S5 for the quantizer: the fitted KMeans persists like any model
    * artifact (same Spark ML writer as ml.NonCompletionModel), because
    * the real IVF life cycle is train-once / probe-many — an index build
    * job fits and saves; every search job loads and probes. Refitting
    * inside the query is both wasted work (KMeans jobs per run) and an
    * index-stability bug at scale (a refit on new data silently moves
    * cell boundaries under concurrent searches). */
  def save(model: KMeansModel, path: String): Unit =
    model.write.overwrite().save(path)

  def load(path: String): KMeansModel = KMeansModel.load(path)

  /** Train-once/probe-many entry: reuse the quantizer at `path` if one
    * exists, else fit on (a bounded sample of) `df`, save, and return
    * it — the [[graft.Artifact]] life cycle (memo, unreadable artifact
    * refits instead of throwing, atomic publish: racing cold starts
    * cannot interleave the ML writer's part files, and the loser ADOPTS
    * the winner's model from disk). Fit-then-save and load produce
    * identical centroids (the writer round-trips the model bit-exactly
    * — asserted in IvfSpec), so the probe results cannot depend on
    * which path ran. */
  def fitOrLoad(df: DataFrame, vecCol: String, k: Int, path: String,
                seed: Long = 42L, trainFraction: Double = 1.0): KMeansModel = {
    val spark = df.sparkSession
    val m = graft.Artifact.ensure(spark, path)(
      graft.Artifact.readIf(spark, s"$path/metadata")(load(path)))(
      tmp => save(fitCentroids(df, vecCol, k, seed, trainFraction), tmp))
    // loud shape check on every serve, memo hit included: the
    // persisted model carries its requested k in its params, so a
    // stale artifact fit for a different cell count fails HERE instead
    // of silently serving the wrong geometry to every probe (or being
    // silently refit over a path the caller mis-keyed)
    require(m.getK == k,
      s"quantizer artifact at $path was fit for k=${m.getK}, " +
        s"requested k=$k — stale or mis-keyed artifact path")
    m
  }

  /** Assign each [[Similarity.eligible]] vector to its nearest
    * centroid's cell — ineligible rows (NULL / NULL-element /
    * zero-norm) never enter an index or a cell join, the same
    * never-pairs contract every ANN path shares. */
  def assignCells(df: DataFrame, vecCol: String, model: KMeansModel): DataFrame =
    model.transform(df.filter(Similarity.eligible(col(vecCol)))
        .withColumn("__fv", array_to_vector(col(vecCol))))
      .drop("__fv")

  /** ANN near-duplicate pairs against a FITTED quantizer: IVF cell as
    * the block key, sign-LSH sub-buckets inside each cell (skew-safe
    * even if one cell is hot). Candidate recall is cell-collision ×
    * LSH-collision; exact cosine is still computed per candidate. */
  def ivfNearDup(df: DataFrame, idCol: String, vecCol: String,
                 model: KMeansModel, threshold: Double,
                 planes: Int): DataFrame =
    Similarity.lshNearDup(assignCells(df, vecCol, model), idCol, vecCol,
      "cell", threshold, planes)

  /** Fit-inline convenience (tests / one-shot jobs); production probes
    * load a persisted quantizer via [[fitOrLoad]]. */
  def ivfNearDup(df: DataFrame, idCol: String, vecCol: String,
                 k: Int, threshold: Double, seed: Long = 42L,
                 planes: Int = 8): DataFrame =
    ivfNearDup(df, idCol, vecCol, fitCentroids(df, vecCol, k, seed), threshold, planes)

  /** Per-query probed cells: rank every centroid per query (|queries| ×
    * k rows — queries and the broadcast centroid list are both small
    * sides; the corpus never participates) and keep the `nprobe`
    * nearest. Output: query_id, q_vec, q_norm (scalar L2), cell —
    * one row per (query, probed cell), ready for an equi-join on
    * `cell` against the cell-assigned corpus. */
  def probeCells(queries: DataFrame, idCol: String, vecCol: String,
                 model: KMeansModel, nprobe: Int): DataFrame = {
    val spark = queries.sparkSession
    import spark.implicits._
    val cents = model.clusterCenters.zipWithIndex
      .map { case (c, i) => (i, c.toArray) }.toSeq
      .toDF("cell", "centroid")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      Similarity.l2Norm(col(vecCol)).as("q_norm"))
      .filter(col("q_norm") > 0) // Similarity.eligible on the query side
    val dists = q.crossJoin(broadcast(cents))
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
    * tie-break within the probed set. */
  def ivfTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, model: KMeansModel,
              k: Int = 3, nprobe: Int = 2): DataFrame =
    ivfTopKFromAssigned(assignedFrame(corpus, idCol, vecCol, model),
      idCol, vecCol, queries, model, k, nprobe)

  /** [[ivfTopK]] against a pre-assigned frame — [[assignedFrame]]
    * recomputed inline, or a persisted index's rows via
    * [[indexAssigned]] (cells and norms paid at ingest, not per
    * search). */
  def ivfTopKFromAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                          queries: DataFrame, model: KMeansModel,
                          k: Int = 3, nprobe: Int = 2): DataFrame = {
    val scored = scoredWithinCells(assigned, idCol, vecCol, queries, model, nprobe)
    Aggs.topNPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_sim").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** The corpus side of the cell join: cell, id, vector, L2 norm. */
  def assignedFrame(corpus: DataFrame, idCol: String, vecCol: String,
                    model: KMeansModel): DataFrame =
    assignCells(corpus, vecCol, model)
      .select(col("cell"), col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
        Similarity.l2Norm(col(vecCol)).as("c_norm"))

  /** Adapt a persisted IVF-PQ index frame ([[IvfPq.ensureIndex]]
    * schema) to the [[assignedFrame]] shape. Norms were computed at
    * build from the same l2Norm expression and round-trip parquet
    * doubles exactly, so scoring doubles are identical either way. */
  def indexAssigned(indexed: DataFrame): DataFrame =
    indexed.select(col("cell"), col("neighbor_id"),
      col("vec").as("c_vec"), col("norm").as("c_norm"))

  /** Shared probe→join→score head of [[ivfTopK]] and [[ivfTopKAgg]]:
    * exact rounded cosine for every (query, probed-cell corpus row)
    * pair. One expression tree, so both rankers see IDENTICAL doubles. */
  private def scoredWithinCells(assigned: DataFrame, idCol: String, vecCol: String,
                                queries: DataFrame, model: KMeansModel,
                                nprobe: Int): DataFrame = {
    val probes = probeCells(queries, idCol, vecCol, model, nprobe)
    probes.join(assigned, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Exprs.r4(Similarity.dot(col("q_vec"), col("c_vec")) /
          (col("q_norm") * col("c_norm"))).as("cos_sim"))
  }

  /** Aggregation-formulated twin of [[ivfTopK]] — executable spec for
    * the ranking machinery, NOT the production path: the same scored
    * pairs ranked by `array_sort(collect_list(struct))` inside a hash
    * aggregate instead of a `row_number` window (negated score sorts
    * descending, neighbor id breaks ties — the same total order).
    * Scoring arithmetic is shared ([[scoredWithinCells]]), so any
    * divergence from ivfTopK isolates a top-k machinery bug
    * (window/sort/tie-break), which is exactly what the
    * `sim_ivf_agree` scoreboard differential witnesses. */
  def ivfTopKAgg(corpus: DataFrame, idCol: String, vecCol: String,
                 queries: DataFrame, model: KMeansModel,
                 k: Int = 3, nprobe: Int = 2): DataFrame =
    ivfTopKAggFromAssigned(assignedFrame(corpus, idCol, vecCol, model),
      idCol, vecCol, queries, model, k, nprobe)

  /** [[ivfTopKAgg]] against a pre-assigned frame (same contract as
    * [[ivfTopKFromAssigned]]). */
  def ivfTopKAggFromAssigned(assigned: DataFrame, idCol: String, vecCol: String,
                             queries: DataFrame, model: KMeansModel,
                             k: Int = 3, nprobe: Int = 2): DataFrame = {
    val scored = scoredWithinCells(assigned, idCol, vecCol, queries, model, nprobe)
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
