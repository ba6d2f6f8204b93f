package graft.sim

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Exec, Exprs}

/** Similarity search over embedding columns (`array<float>`).
  *
  * Baseline: brute-force cosine top-k — broadcast the (small) query set
  * against the full corpus, so the corpus side streams with no shuffle.
  * Scale paths: sign-LSH bucketing (random-hyperplane signatures → equal
  * buckets are candidates) and label/IVF-style blocking, both of which
  * turn the quadratic all-pairs join into a per-bucket join.
  *
  * All arithmetic is promoted to double *before* multiplication and
  * compared on 4-dp-rounded values, so threshold/topk boundaries are
  * stable across engines (matches the DuckDB oracle's `::DOUBLE[]`).
  */
object Similarity {

  private def toDouble(v: Column): Column = transform(v, x => x.cast("double"))

  /** Codegen'd native kernel (functions/VecDot.scala) — semantically the
    * interpreted `aggregate(zip_with(a, b, _*_), 0.0, _+_)` fold, with
    * the identical IEEE operation order, but compiled to a primitive
    * loop inside whole-stage codegen. The dot product runs once per
    * candidate *pair* in every similarity operator, so this is the
    * engine's hottest scalar kernel. */
  def dot(a: Column, b: Column): Column = graft.functions.VecDot.dot(a, b)

  def l2Norm(v: Column): Column = sqrt(dot(v, v))

  def cosine(a: Column, b: Column): Column = dot(a, b) / (l2Norm(a) * l2Norm(b))

  /** ANN eligibility: a vector participates in similarity search and
    * indexing only when its L2 norm is strictly positive. One predicate
    * covers the whole degenerate family through SQL null semantics — a
    * NULL vector or a vector with NULL elements has a NULL norm (never
    * > 0); all-zero / -0.0 vectors have norm exactly 0. This extends
    * the near-dup generators' zero-norm never-pairs contract to EVERY
    * ANN entry point (brute force, SQ8, IVF fit/assign/probe, PQ fit) —
    * without it, a single corrupt corpus row is an ANSI DIVIDE_BY_ZERO
    * or an MLlib array_to_vector NPE that kills the whole job (hostile
    * sweep, r10). The oracles carry the same `norm > 0` fold-form. */
  def eligible(vec: Column): Column = l2Norm(vec) > 0

  /** Brute-force cosine top-k: for each query vector, the k nearest
    * corpus vectors (self excluded), deterministic tie-break on id.
    * Norms are computed once per vector before the pair join — computing
    * them inside `cosine` would redo two array reductions per *pair*. */
  def bruteForceTopK(corpus: DataFrame, idCol: String, vecCol: String,
                     queries: DataFrame, k: Int = 3): DataFrame = {
    // norm > 0 on the already-computed norms: the [[eligible]] contract
    // with no second reduction per vector
    val q = broadcast(queries.select(col(idCol).as("query_id"), col(vecCol).as("q_vec"),
      l2Norm(col(vecCol)).as("q_norm"))
      .filter(col("q_norm") > 0))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("c_vec"),
      l2Norm(col(vecCol)).as("c_norm"))
      .filter(col("c_norm") > 0)
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Exprs.r4(dot(col("q_vec"), col("c_vec")) / (col("q_norm") * col("c_norm"))).as("cos_sim"))
    Aggs.topNPerGroup(scored, Seq(col("query_id")),
        Seq(col("cos_sim").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("cos_sim"))
  }

  /** Sign-LSH bucket id: `planes` pseudo-random hyperplanes whose ±1
    * components derive from murmur3(plane, dim) — fully deterministic,
    * no stored model. Equal bucket ⇒ candidate pair. Native codegen
    * kernel (functions/VecLshBucket.scala); [[lshBucketLambda]] is the
    * reference formulation it is bit-parity-tested against. */
  def lshBucket(vec: Column, planes: Int = 8): Column =
    graft.functions.VecLshBucket.bucket(vec, planes)

  /** The ±1 plane-sign matrix [[lshBucket]] derives from Spark murmur3
    * — `signs(p)(j)` is the j-th component of plane p, exactly
    * `pmod(hash(lit(p), j), 2) == 0 ? 1.0 : -1.0` (the
    * [[lshBucketLambda]] formulation; the Murmur3 seed-folding below
    * replicates Spark's `hash()` children fold: 42 → h(p) → h(j)).
    * Exported so an external SQL oracle can re-derive buckets without
    * Spark: murmur3 itself is not expressible in DuckDB, but for a
    * fixed (planes, dim) the signs are a 512-entry CONSTANT the oracle
    * embeds as a literal — the same bucket semantics, independently
    * folded. SimilaritySpec pins this matrix against the live
    * `hash()` expression so a Spark hash-seed change cannot silently
    * desync the oracle. */
  def lshSignMatrix(planes: Int, dim: Int): Array[Array[Double]] = {
    import org.apache.spark.sql.catalyst.expressions.Murmur3HashFunction
    import org.apache.spark.sql.types.IntegerType
    Array.tabulate(planes, dim) { (p, j) =>
      val h1 = Murmur3HashFunction.hash(p, IntegerType, 42L).toInt
      val h2 = Murmur3HashFunction.hash(j, IntegerType, h1.toLong).toInt
      if (h2 % 2 == 0) 1.0 else -1.0
    }
  }

  /** The higher-order-function formulation of [[lshBucket]] — kept as
    * the executable spec of the bucket semantics (VecLshBucketSpec
    * asserts bucket-for-bucket equality; interpreted, planes × dim
    * lambda dispatches per row, so not the production path). */
  def lshBucketLambda(vec: Column, planes: Int = 8): Column = {
    val vd = toDouble(vec)
    val dots = (0 until planes).map { p =>
      aggregate(
        zip_with(vd, sequence(lit(0), size(vec) - 1),
          (x, j) => x * when(pmod(hash(lit(p), j), lit(2)) === 0, 1.0).otherwise(-1.0)),
        lit(0.0), (acc, v) => acc + v)
    }
    val bucket = dots.zipWithIndex
      .map { case (dp, p) => when(dp > 0, lit(1L << p)).otherwise(lit(0L)) }
      .reduce(_ bitwiseOR _)
    // NULL vector / NULL element -> NULL bucket, matching the native
    // kernel: without the guard every null dp falls through
    // otherwise(0) and the degenerate row lands in REAL bucket 0
    // (hostile sweep, r10; the kernel-vs-spec agreement bit caught it)
    when(l2Norm(vec).isNotNull, bucket)
  }

  /** Scale path for [[blockedNearDup]]: sub-bucket each block by the
    * sign-LSH signature, so the pair join runs on (block, lsh_bucket)
    * instead of the bare block — one hot block (a skewed label / IVF
    * cell with m vectors) costs Σ m_b² over its 2^planes sub-buckets
    * instead of m². Candidates must agree on every hyperplane sign, so
    * recall is the LSH collision probability (1 − θ/π)^planes — high
    * for true near-duplicates (θ ≈ 0), and tunable via `planes`
    * (SimilaritySpec checks recall against the exact pairs on planted
    * near-dups). Exact cosine is still computed per candidate; only
    * candidate *generation* is approximate. */
  def lshNearDup(df: DataFrame, idCol: String, vecCol: String,
                 blockCol: String, threshold: Double, planes: Int = 8): DataFrame = {
    // eager materialization (Exec.materialize): both self-join sides
    // consume this, and the bucket/norm projection (planes × dim
    // interpreted array reductions per row, plus whatever produced `df`
    // — e.g. an IVF assignment) is far too expensive to compute twice
    // Zero-norm vectors (e.g. a token-less document's TF vector) carry
    // no direction: their cosine against anything is 0/0 — NaN under
    // non-ANSI doubles, a DIVIDE_BY_ZERO error under ANSI, and NULL in
    // external SQL engines (three different behaviors for one row).
    // They are excluded from pairing HERE, making "no zero-norm vector
    // ever pairs" the defined contract all three agree on.
    // filter AFTER the materialize barrier: pushed below the
    // projection, the predicate re-derives sqrt(vec_dot) per row
    // (PushPredicateThroughProject substitutes the alias) — above the
    // checkpoint it reads the already-materialized norm for free
    val withKey = Exec.materialize(df.select(col(blockCol).as("block"),
      lshBucket(col(vecCol), planes).as("bucket"),
      col(idCol), col(vecCol), l2Norm(col(vecCol)).as("norm")))
      .filter(col("norm") > 0)
    val a = withKey.select(col("block"), col("bucket"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"), col("norm").as("norm_a"))
    val b = withKey.select(col("block"), col("bucket"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"), col("norm").as("norm_b"))
    a.join(b, Seq("block", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("block"), col("id_a"), col("id_b"),
        Exprs.r4(dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** SQ8 scalar quantization of an L2-normalized embedding: each
    * component maps to an integer in [0, 255] over the fixed [-1, 1]
    * range of unit vectors — 4× fewer bytes than float32 through every
    * shuffle, broadcast, and cache at 100 TB (the memory-bound regime
    * of ANN). Fully deterministic double arithmetic (normalize, affine
    * map, floor-round), so a SQL oracle reproduces the codes exactly.
    * Callers must exclude zero vectors (norm 0 → NaN codes). */
  def sq8(vec: Column): Column = graft.functions.Sq8Codes.codes(vec)

  /** Dequantize SQ8 codes back to the unit-cube approximation of the
    * normalized vector. Quantization error per component ≤ 1/255, so
    * the reconstructed cosine is within ~0.01 of the true value —
    * rerank survivors with the exact float vectors when that matters. */
  def sq8Dequant(codes: Column): Column =
    transform(codes, v => v.cast("double") * 2.0 / 255.0 - 1.0)

  /** Quantized brute-force cosine top-k: same shape as
    * [[bruteForceTopK]], but the corpus streams as SQ8 codes and the
    * score is the dot product of the dequantized (already-normalized)
    * vectors. The demo dequantizes inline; a deployment would store the
    * codes column and keep the float vectors only for reranking. */
  def sq8TopK(corpus: DataFrame, idCol: String, vecCol: String,
              queries: DataFrame, k: Int = 3): DataFrame = {
    // [[eligible]] BEFORE quantizing: sq8 of a zero-norm vector is NaN
    // codes (the kernel's documented caller obligation)
    val q = broadcast(queries.filter(eligible(col(vecCol)))
      .select(col(idCol).as("query_id"),
        sq8Dequant(sq8(col(vecCol))).as("q_dq")))
    val c = corpus.filter(eligible(col(vecCol)))
      .select(col(idCol).as("neighbor_id"),
        sq8Dequant(sq8(col(vecCol))).as("c_dq"))
    val scored = q.join(c, col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        Exprs.r4(dot(col("q_dq"), col("c_dq"))).as("approx_cos"))
    Aggs.topNPerGroup(scored, Seq(col("query_id")),
        Seq(col("approx_cos").desc, col("neighbor_id").asc), k)
      .select(col("query_id"), col("rank"), col("neighbor_id"), col("approx_cos"))
  }

  /** Near-duplicate pairs within blocks (e.g. a label or an IVF cell):
    * the block key bounds the pair join; cosine ≥ threshold on rounded
    * values. Exact within the block — see [[lshNearDup]] for the
    * skew-safe scale path. */
  def blockedNearDup(df: DataFrame, idCol: String, vecCol: String,
                     blockCol: String, threshold: Double): DataFrame = {
    // eager materialization: consumed by both self-join sides (see
    // lshNearDup note). Zero-norm vectors never pair — the same
    // contract lshNearDup pins (0/0 cosine is NaN / ANSI error / SQL
    // NULL depending on engine; excluding the row is the one behavior
    // all three agree on, and the DuckDB oracles carry `norm > 0`).
    val withNorm = Exec.materialize(df.select(col(blockCol).as("block"), col(idCol),
      col(vecCol), l2Norm(col(vecCol)).as("norm")))
      .filter(col("norm") > 0) // post-barrier: see lshNearDup
    val a = withNorm.select(col("block"), col(idCol).as("id_a"),
      col(vecCol).as("vec_a"), col("norm").as("norm_a"))
    val b = withNorm.select(col("block"), col(idCol).as("id_b"),
      col(vecCol).as("vec_b"), col("norm").as("norm_b"))
    a.join(b, Seq("block"))
      .filter(col("id_a") < col("id_b"))
      .select(col("block"), col("id_a"), col("id_b"),
        Exprs.r4(dot(col("vec_a"), col("vec_b")) / (col("norm_a") * col("norm_b"))).as("cos_sim"))
      .filter(col("cos_sim") >= threshold)
  }

  /** Per-group element-wise mean of a vector column — embedding POOLING
    * (class centroids / prototype vectors): the reduction behind
    * nearest-class-mean classification, per-domain embedding drift
    * monitors, and warm-starting coarse quantizers. Output: group,
    * `centroid` (array<double>, rounded per element), `n_vectors`.
    *
    * Plan: posexplode the vector once, ONE (group, pos) hash aggregate
    * with decimal-routed exact sums (plain double summation is
    * partition-order-dependent — the last ulp would flip run to run and
    * against any oracle), then reassemble pos-ordered arrays in a
    * second (group) aggregate. Two shuffles; the exploded stream is
    * dim × rows of 8-byte scalars, partial-aggregated map-side. At
    * 100 TB the refinement is a native vec_sum partial aggregate
    * (k·dim running sums per map task, one shuffle, no explode); the
    * explode form is chosen here because exact cross-engine summation
    * rides the existing [[Exprs.sumExact]] decimal machinery per
    * element. */
  def labelCentroids(df: DataFrame, groupCol: String, vecCol: String): DataFrame = {
    // null vectors are EXCLUDED from both the mean and n_vectors (a
    // null row contributes no positions to posexplode; without the
    // filter it would silently shrink the denominator while any
    // row-counting oracle still saw it). Vectors must share one
    // dimension — ragged lengths shift every later position's mean.
    val pooled = df.filter(col(vecCol).isNotNull)
      .select(col(groupCol), posexplode(col(vecCol)))
      .groupBy(col(groupCol), col("pos"))
      .agg(Exprs.r4(Exprs.avgExact(col("col").cast("double"))).as("m"),
        count(lit(1)).as("n"))
    pooled.groupBy(col(groupCol))
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("m")))),
        s => s.getField("m")).as("centroid"),
        max(col("n")).as("n_vectors"))
  }
}
