package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Exprs}

/** Product quantization (PQ) for embedding columns — the ANN
  * compression regime BETWEEN [[Similarity.sq8]] (uniform per-component
  * codes, 1 byte/dim) and raw floats: split each L2-normalized vector
  * into `m` subvectors, learn a seeded KMeans codebook of `k` centroids
  * per subspace, and store each vector as just `m` small codes — the
  * shipped demo uses m=8, k=32 on 64-dim vectors: 8 byte-range codes vs
  * 64 float32s, a 32× shrink byte-packed at rest (8× in this demo's
  * plain array<int> in-memory form). Search scores a query against the
  * RECONSTRUCTION
  * (concatenated assigned centroids), the asymmetric-distance scheme:
  * query side stays exact float, corpus side travels as codes.
  *
  * Scale shape: codebooks are tiny (m·k·(dim/m) doubles) — fit once on
  * a bounded sample, persist like any model artifact (S5), embed in the
  * plan as a LITERAL, so encode/decode are pure projections over the
  * scan: no shuffle, no UDF, no per-query fitting. The code column is
  * what shuffles/broadcasts/caches at 100 TB; exact vectors are read
  * only to rerank survivors.
  *
  * Encoding is expression-only: per subspace, [[Kmeans.nearest]] — the
  * argmin [[Ivf.assignCells]] shares — over the literal codebook (first
  * minimum — deterministic tie-break). The outer per-centroid lambda references its subvector,
  * so the normalize+slice chain evaluates per CENTROID (m·k times per
  * row — the CollapseProject behavior documented on
  * Dedup.shingleHashArray; a constant factor comparable to the
  * distance arithmetic itself, not a blowup). Encode is a WRITE-path
  * op regardless: codes are computed once at ingest and stored; the
  * search path reads stored codes and never re-encodes the corpus. */
object Pq {

  /** [m][k][dim/m] centroid array — the whole index artifact. */
  type Codebooks = Array[Array[Array[Double]]]

  /** L2-normalize a float-array column (the query-side prep every ADC
    * scorer shares). */
  def normalized(vec: Column): Column =
    normalizedBy(vec, sqrt(Similarity.dot(vec, vec)))

  /** [[normalized]] against a PRE-COMPUTED norm column: the eligibility
    * filter (`norm > 0`) already paid one VecDot per row — reusing that
    * norm here keeps the filtered paths at ONE dot-product pass instead
    * of two (the r10 eligibility filters initially doubled the kernel
    * work in encode/rerank; measured on the sf0.1 bench). */
  def normalizedBy(vec: Column, nrm: Column): Column = {
    val vd = transform(vec, x => x.cast("double"))
    zip_with(vd, array_repeat(nrm, size(vec)), (x, n) => x / n)
  }

  /** Fit one seeded k-means per subspace ([[Kmeans.fit]], seed + j for
    * subspace j) on the L2-normalized training set — ONE collect
    * ([[Kmeans.trainingSet]]) serves all m subspace fits, which then
    * run on the driver. Deterministic for fixed seed and input, whatever
    * its partitioning. */
  def fit(df: DataFrame, vecCol: String, m: Int, k: Int,
          seed: Long = 42L, trainFraction: Double = 1.0): Codebooks = {
    // Similarity.eligible inside trainingSet: normalized() divides by
    // the norm, so a NULL / NULL-element / zero-norm vector is outside
    // the shared ANN contract
    val pts = Kmeans.trainingSet(df, vecCol, k, seed, trainFraction,
      "PQ codebooks")(normalized)
    val dim = pts.head.length
    require(dim % m == 0, s"dim $dim not divisible by m=$m")
    val sub = dim / m
    Array.tabulate(m)(j => Kmeans.fit(pts.map(_.slice(j * sub, (j + 1) * sub)), k, seed + j))
  }

  /** Train-once/probe-many entry, mirroring [[Ivf.fitOrLoad]]: the
    * codebook artifact at `path` ([[Kmeans.ensure]] — memo, unparseable
    * artifact rebuilds, requested (m, k) in the header, a different
    * requested shape is loud). */
  def fitOrLoad(df: DataFrame, vecCol: String, m: Int, k: Int, path: String,
                seed: Long = 42L, trainFraction: Double = 1.0): Codebooks =
    Kmeans.ensure(df.sparkSession, path, "pq", m, k)(
      fit(df, vecCol, m, k, seed, trainFraction))

  /** ONE subspace's k×sub centroid table as a literal — every consumer
    * binds per-subspace literals instead of `typedLit(whole codebook)
    * .getItem(j)` repeated per subspace reference, which embedded the
    * FULL m×k×sub table m times over in the expression tree (an m×
    * plan/task-binary bloat at deployment shapes). */
  private def subLit(cb: Codebooks, j: Int): Column =
    typedLit(cb(j).map(_.toSeq).toSeq)

  /** In-action dimension guard: a vector whose length doesn't match the
    * codebook's m·sub would otherwise be SILENTLY sliced against the
    * wrong subspaces (codes/reconstructions/scores computed over a
    * prefix — the stale-artifact failure the (m, k) header cannot see,
    * because the header doesn't know the data's dimensionality). One
    * size() compare per row; raises a diagnosable error naming both.
    * A NULL vector passes through as null (null codes / null score —
    * the pre-guard behavior): it has no dimensionality to mismatch,
    * and aborting a whole index build over one null embedding row —
    * with a "-1 dims" message, no less — is the wrong loudness. */
  private def dimGuarded(vec: Column, m: Int, sub: Int): Column =
    when(vec.isNull, lit(null).cast("array<double>"))
      .when(size(vec) === m * sub, vec)
      .otherwise(raise_error(format_string(
        s"pq: vector of %s dims does not match the codebook's m*sub=${m * sub} " +
          "— stale codebook artifact for a different embedding dimension?",
        size(vec).cast("string"))).cast("array<double>"))

  /** Add `pq_codes` (array<int>, length m) to `df` — one codegen'd
    * projection against the literal codebooks. */
  def encode(df: DataFrame, vecCol: String, cb: Codebooks): DataFrame = {
    val m = cb.length
    val sub = cb.head.head.length
    // Similarity.eligible at the encode gate: one filter covers every
    // caller (index build, flat ADC scan, rerank) — ineligible vectors
    // have no meaningful codes and the normalization would divide by
    // zero. The filter's norm is REUSED for the normalization
    // (normalizedBy), keeping encode at one dot-product per row.
    val withSubs = df.withColumn("__pq_vnorm", Similarity.l2Norm(col(vecCol)))
      .filter(col("__pq_vnorm") > 0)
      .withColumn("__pq_norm",
        dimGuarded(normalizedBy(col(vecCol), col("__pq_vnorm")), m, sub))
      .drop("__pq_vnorm")
      .select(df.columns.toIndexedSeq.map(col) ++ (0 until m).map(j =>
        slice(col("__pq_norm"), j * sub + 1, sub).as(s"__pq_sub$j")): _*)
    val codes = array((0 until m).map(j => Kmeans.nearest(col(s"__pq_sub$j"), cb(j))): _*)
    withSubs.withColumn("pq_codes", codes)
      .drop((0 until m).map(j => s"__pq_sub$j"): _*)
  }

  /** Reconstruct the (approximate) normalized vector from codes:
    * concatenation of each subspace's assigned centroid. Statically
    * unrolled `concat` over per-subspace literals (value-identical to
    * a `flatten(transform(sequence(...)))` over the whole-codebook
    * literal, without embedding that literal inside a lambda the
    * optimizer can't prune). */
  def decode(codes: Column, cb: Codebooks): Column =
    concat(cb.indices.map(j =>
      element_at(subLit(cb, j), element_at(codes, j + 1) + 1)): _*)

  /** ADC by the lookup-table formulation — the OTHER standard ADC form:
    * instead of reconstructing the corpus vector and taking one dot
    * over all dims ([[decode]] + dot), score = Σ over subspaces of
    * (query subvector · assigned centroid), the per-subspace partial
    * dots a deployed scanner precomputes into an m×k table per query.
    * Mathematically identical to the reconstruction dot; floating-point
    * summation ORDER differs (per-subspace partials vs one left fold),
    * so the two agree to ~1e-14, not bit-exactly — the
    * `sim_pq_agree` scoreboard differential witnesses agreement at
    * 1e-9. `qNorm` must already be [[normalized]]. */
  def adcLutScore(qNorm: Column, codes: Column, cb: Codebooks): Column = {
    val m = cb.length
    val sub = cb.head.head.length
    // statically unrolled left-to-right sum of one native dot per
    // subspace literal — the same fold order as the former
    // aggregate(sequence(0, m-1)) form (0.0 + t0 + t1 + …), so scores
    // are bit-identical; the query side carries its own dimension guard
    // (the corpus side is guarded at encode)
    val q = dimGuarded(qNorm, m, sub)
    (0 until m).map { j =>
      Similarity.dot(
        slice(q, j * sub + 1, sub),
        element_at(subLit(cb, j), element_at(codes, j + 1) + 1))
    }.foldLeft(lit(0.0))(_ + _)
  }

  /** ADC top-k: queries stay exact (normalized floats, broadcast); the
    * corpus is scored as its PQ reconstruction — same plan shape as
    * [[Similarity.sq8TopK]] with a far smaller corpus payload (see the
    * object doc for the exact shrink factors).
    *
    * The codes column is MATERIALIZED before decode: decode's
    * per-subspace lambda references it, and CollapseProject would
    * otherwise inline the whole argmin-encode expression into the
    * lambda — re-running the m·k distance scan m times per row (the
    * Dedup.shingleHashArray hazard, observed as a 2× query blowup at
    * sf0.1). Materializing is also the truthful deployment shape:
    * codes are STORED at ingest, search never re-encodes. */
  def adcTopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, cb: Codebooks, k: Int = 3): DataFrame = {
    val q = broadcast(queries
      .select(col(idCol).as("query_id"), col(vecCol).as("__qv"),
        Similarity.l2Norm(col(vecCol)).as("__qn"))
      .filter(col("__qn") > 0) // Similarity.eligible, norm reused below
      .select(col("query_id"), normalizedBy(col("__qv"), col("__qn")).as("q_norm")))
    val c = graft.ops.Exec.materialize(
        encode(corpus, vecCol, cb).select(col(idCol).as("neighbor_id"), col("pq_codes")))
      .select(col("neighbor_id"), decode(col("pq_codes"), cb).as("c_recon"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Exprs.r4(Similarity.dot(col("q_norm"), col("c_recon"))).as("approx_cos"))
    Aggs.topNPerGroup(scored, Seq(col("query_id")),
        Seq(col("approx_cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("approx_cos"))
  }

  /** Exact-cosine rerank of a (query_id, neighbor_id) shortlist: the
    * shortlist frame is tiny (queries × shortlist rows), so the rerank
    * join BROADCASTS it and the exact side is one corpus scan — no
    * shuffle. Returns AT MOST k rows per query: a query whose shortlist
    * carried fewer than k distinct neighbors (possible when ADC ties
    * collapse at the shortlist boundary) reranks what it has rather
    * than inventing rows — callers needing exactly-k must widen
    * `shortlist`. Shared tail of [[adcRerankTopK]] and
    * [[IvfPq.topKIndexed]]. */
  private[sim] def exactRerank(corpus: DataFrame, idCol: String, vecCol: String,
                               queries: DataFrame, short: DataFrame,
                               k: Int): DataFrame = {
    // corpus side: join the (tiny, broadcast) shortlist against RAW
    // vectors FIRST, normalize only the survivors — shortlist ids come
    // from the eligibility-gated encode/index paths, so every survivor
    // has a positive norm by provenance, and the whole-corpus
    // normalization pass r9 paid here disappears. The explicit
    // `norm > 0` guard still stands between any hostile shortlist and
    // the division. Query side: one dot, norm reused (normalizedBy).
    val survivors = broadcast(short.select(col("query_id"), col("neighbor_id")))
      .join(corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("__cv")),
        "neighbor_id")
      .select(col("query_id"), col("neighbor_id"), col("__cv"),
        Similarity.l2Norm(col("__cv")).as("__cn"))
      .filter(col("__cn") > 0)
      .select(col("query_id"), col("neighbor_id"),
        normalizedBy(col("__cv"), col("__cn")).as("c_norm"))
    val q = broadcast(queries.select(col(idCol).as("query_id"),
        col(vecCol).as("__qv"), Similarity.l2Norm(col(vecCol)).as("__qn"))
      .filter(col("__qn") > 0)
      .select(col("query_id"), normalizedBy(col("__qv"), col("__qn")).as("q_norm")))
    val reranked = survivors
      .join(q, "query_id")
      .select(col("query_id"), col("neighbor_id"),
        Exprs.r4(Similarity.dot(col("q_norm"), col("c_norm"))).as("cos_sim"))
    Aggs.topNPerGroup(reranked, Seq(col("query_id")),
        Seq(col("cos_sim").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Production PQ search: ADC prunes the corpus to a per-query
    * `shortlist`, exact cosine reranks ONLY the survivors — the
    * two-stage scheme every deployed PQ index uses, because coarse
    * codes rank neighborhoods well but not the fine order within one.
    * Cost model at 100 TB: the codes column (m bytes/vector) carries
    * the full-corpus pass; float vectors are touched for
    * shortlist/corpus of the rows. May return fewer than k rows per
    * query (see [[exactRerank]]'s contract). */
  def adcRerankTopK(corpus: DataFrame, idCol: String, vecCol: String,
                    queries: DataFrame, cb: Codebooks,
                    k: Int = 3, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k, s"shortlist $shortlist must be >= k $k")
    val short = adcTopK(corpus, idCol, vecCol, queries, cb, shortlist)
      .select(col("query_id"), col("neighbor_id"))
    exactRerank(corpus, idCol, vecCol, queries, short, k)
  }
}
