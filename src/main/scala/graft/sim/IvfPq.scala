package graft.sim

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Exprs}

/** IVF-PQ: the deployed shape of product-quantized ANN search —
  * [[Ivf]]'s coarse quantizer prunes the corpus to the `nprobe` cells
  * nearest each query, and [[Pq]] ADC scores ONLY the codes inside
  * those cells, then exact cosine reranks the per-query shortlist.
  *
  * Why the composition (vs flat [[Pq.adcTopK]]): flat ADC's cost stays
  * LINEAR in the corpus per query batch — every corpus row's codes are
  * decoded and scored against every query. That is the correct PQ
  * primitive, but past broadcast scale nobody deploys it; IVF-PQ cuts
  * the scored fraction to ≈ nprobe/k_cells while the PQ codes cut the
  * bytes per scored row (m bytes vs dim·4). The two knobs are
  * independent: cells bound WHICH rows are touched, codes bound what
  * touching a row COSTS.
  *
  * Scale shape: the index build (cell + codes per row) is a WRITE-path
  * pass — one scan, two pure projections (literal centroids, literal
  * codebooks), no shuffle — and is what a 100 TB deployment stores,
  * partitioned/bucketed by `cell` so a probed-cell read is partition
  * pruning, not a filter. The search side joins the tiny probes frame
  * (|queries| × nprobe rows, BROADCAST) against the index on `cell`,
  * so non-probed rows fall out of the hash join before any decode
  * arithmetic runs; ADC scoring and the shortlist window see only the
  * probed fraction. Exact vectors are read once more for the
  * broadcast-shortlist rerank ([[Pq.exactRerank]]).
  *
  * Recall contract: a true neighbor OUTSIDE the probed cells is never
  * seen (the IVF tradeoff — raise `nprobe`), and within probed cells
  * the ADC ordering is approximate (the PQ tradeoff — raise
  * `shortlist`); IvfPqSpec pins both regimes on planted clusters.
  * May return fewer than k rows per query (see [[Pq.exactRerank]]). */
object IvfPq {

  /** Canonical index row: `cell` (IVF partition key), `neighbor_id`,
    * `vec` (raw vector, for exact scoring/rerank), `norm` (its L2,
    * precomputed at build — one sqrt per row paid once instead of per
    * search), `pq_codes`. The search paths column-prune what they
    * don't read (PQ scoring never loads `vec`; exact-IVF scoring never
    * loads `pq_codes`). */
  def buildIndex(corpus: DataFrame, idCol: String, vecCol: String,
                 cents: Kmeans.Centroids, cb: Pq.Codebooks): DataFrame =
    Pq.encode(Ivf.assignCells(corpus, vecCol, cents), vecCol, cb)
      .select(col("cell"), col(idCol).as("neighbor_id"),
        col(vecCol).as("vec"), Similarity.l2Norm(col(vecCol)).as("norm"),
        col("pq_codes"))

  /** Build-or-load the MATERIALIZED index table — the artifact a
    * deployment stores at ingest (the module doc's write-path pass),
    * not a per-query recomputation: one scan + two pure projections,
    * written partitioned by `cell` so a probed-cell read is partition
    * pruning. Callers key `path` by source content stamp (same
    * staleness rule as the quantizer artifacts); the
    * [[graft.Artifact]] life cycle memoizes and publishes atomically
    * (two JVMs racing the same stamp cannot interleave part files
    * under one _SUCCESS — a mixed index directory duplicates
    * shortlist candidates). An unreadable or wrong-schema directory
    * behind a surviving _SUCCESS (truncated part file, external
    * tamper, the residual crash window of a lost local-FS publish
    * race nesting a temp dir inside the artifact) REBUILDS, and the
    * rebuild's commitDirAtomic entry rule replaces the broken
    * directory, so pollution self-heals on the next load. Column SET,
    * not sequence: `cell` is a partition column and its resolved
    * position is a layout detail. Fresh-build-then-read and warm load
    * serve byte-identical rows (parquet round trip), so search results
    * cannot depend on which path ran. */
  def ensureIndex(corpus: DataFrame, idCol: String, vecCol: String,
                  cents: Kmeans.Centroids, cb: Pq.Codebooks, path: String): DataFrame = {
    val spark = corpus.sparkSession
    graft.Artifact.ensure(spark, path)(graft.Artifact.readTable(spark, path)(
      _.toSet == Set("cell", "neighbor_id", "vec", "norm", "pq_codes")))(tmp =>
      buildIndex(corpus, idCol, vecCol, cents, cb)
        .write.mode("overwrite").partitionBy("cell").parquet(tmp))
  }

  /** ANN top-k through both pruning stages, against a pre-built index
    * frame ([[ensureIndex]] / [[buildIndex]] schema). `cents` and `cb`
    * follow the same train-once/probe-many life cycle as their
    * single-stage queries ([[Ivf.fitOrLoad]], [[Pq.fitOrLoad]] — fit on
    * a bounded sample, persist, load everywhere else). */
  def topKIndexed(corpus: DataFrame, idCol: String, vecCol: String,
                  queries: DataFrame, indexedFull: DataFrame,
                  cents: Kmeans.Centroids, cb: Pq.Codebooks,
                  k: Int = 3, nprobe: Int = 2, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val indexed = indexedFull.select(col("cell"), col("neighbor_id"), col("pq_codes"))
    val probes = Ivf.probeCells(queries, idCol, vecCol, cents, nprobe)
      .select(col("query_id"),
        Pq.normalizedBy(col("q_vec"), col("q_norm")).as("q_nvec"), col("cell"))
    // equi-join on cell, probes broadcast: corpus rows in non-probed
    // cells are discarded by the hash join before decode runs
    val scored = broadcast(probes).join(indexed, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Exprs.r4(Similarity.dot(col("q_nvec"),
          Pq.decode(col("pq_codes"), cb))).as("approx_cos"))
    val short = Aggs.topNPerGroup(scored, Seq(col("query_id")),
        Seq(col("approx_cos").desc, col("neighbor_id").asc), shortlist, "__rn")
      .select(col("query_id"), col("neighbor_id"))
    Pq.exactRerank(corpus, idCol, vecCol, queries, short, k)
  }
}
