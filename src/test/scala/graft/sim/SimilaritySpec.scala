package graft.sim

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Similarity-search specs: cosine correctness, brute-force top-k with
  * a planted duplicate, LSH bucket stability for identical vectors. */
class SimilaritySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def vecs = Seq(
    (1L, Array(1.0f, 0.0f, 0.0f)),
    (2L, Array(1.0f, 0.0f, 0.0f)),   // duplicate of 1
    (3L, Array(0.0f, 1.0f, 0.0f)),   // orthogonal
    (4L, Array(0.9f, 0.1f, 0.0f))    // close to 1
  ).toDF("vec_id", "embedding")

  test("cosine: identical 1, orthogonal 0") {
    val df = vecs.as("a").join(vecs.as("b"),
      col("a.vec_id") === 1 && col("b.vec_id").isin(2, 3))
      .select(col("b.vec_id").as("other"),
        Similarity.cosine(col("a.embedding"), col("b.embedding")).as("cos"))
    val m = df.collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(math.abs(m(2L) - 1.0) < 1e-12)
    assert(math.abs(m(3L)) < 1e-12)
  }

  test("brute-force top-k ranks the planted duplicate first") {
    val top = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") === 1), k = 2)
      .orderBy("rank").collect()
    assert(top(0).getLong(2) == 2L)            // neighbor_id of rank 1
    assert(top(0).getDouble(3) == 1.0)         // cos_sim
    assert(top(1).getLong(2) == 4L)
  }

  test("LSH: identical vectors land in the same bucket") {
    val b = vecs.select(col("vec_id"), Similarity.lshBucket(col("embedding"), 8).as("bucket"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(b(1L) == b(2L))
  }

  test("lshSignMatrix pins the live hash()-derived plane signs and bucket fold") {
    // (a) sign-for-sign parity: the driver-side Murmur3 seed-fold in
    // lshSignMatrix vs the live Spark hash(lit(p), j) expression — the
    // contract the sim_ivf_neardup DuckDB oracle embeds as a literal.
    // A Spark hash-seed change must fail HERE, not as a silent oracle
    // desync.
    val planes = 8; val dim = 64
    val m = Similarity.lshSignMatrix(planes, dim)
    val live = spark.range(dim.toLong).select(
      col("id").cast("int").as("j"),
      array((0 until planes).map(p =>
        when(pmod(hash(lit(p), col("id").cast("int")), lit(2)) === 0, 1.0)
          .otherwise(-1.0)): _*).as("signs"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1)).toMap
    for (p <- 0 until planes; j <- 0 until dim)
      assert(m(p)(j) == live(j)(p), s"sign mismatch at plane=$p dim=$j")
    // (b) whole-bucket parity: fold the matrix the way the oracle does
    // (left fold onto 0.0, bit set when dp > 0) and compare against the
    // production lshBucket kernel on random-ish 64-dim vectors.
    val data = (0L until 20L).map { id =>
      (id, Array.tabulate(dim)(i =>
        (((id * 37 + i * 13) % 19).toFloat - 9f) / 7f))
    }
    val expected = data.map { case (id, v) =>
      var bucket = 0L
      for (p <- 0 until planes) {
        var dp = 0.0
        for (i <- 0 until dim) dp += v(i).toDouble * m(p)(i)
        if (dp > 0) bucket |= (1L << p)
      }
      id -> bucket
    }.toMap
    val got = data.toDF("vec_id", "embedding")
      .select(col("vec_id"), Similarity.lshBucket(col("embedding"), planes).as("b"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == expected)
  }

  test("lsh near-dup: zero-norm vectors never pair (no NaN cosine, no ANSI error)") {
    // a token-less document's TF vector is all-zero: its cosine against
    // anything is 0/0 — the pinned contract (engine filter + `norm > 0`
    // in the DuckDB oracles) is that it simply never pairs
    val rows = Seq(
      (1L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (2L, Array(1.0f, 0.001f, 0.0f, 0.0f)), // near-dup of 1
      (3L, Array(0.0f, 0.0f, 0.0f, 0.0f)),   // zero-norm
      (4L, Array(0.0f, 0.0f, 0.0f, 0.0f))    // zero-norm (same bucket as 3)
    ).toDF("vec_id", "embedding").withColumn("block", lit("b"))
    val pairs = Similarity.lshNearDup(rows, "vec_id", "embedding", "block",
      threshold = 0.35, planes = 4).collect()
    val ids = pairs.flatMap(r => Seq(r.getLong(1), r.getLong(2))).toSet
    assert(!ids.contains(3L) && !ids.contains(4L),
      s"zero-norm vectors paired: ${pairs.mkString(",")}")
    assert(pairs.exists(r => r.getLong(1) == 1L && r.getLong(2) == 2L))
    assert(pairs.forall(r => !r.getDouble(3).isNaN))

    // the contract is uniform across BOTH near-dup operators sharing
    // the oracle exposure: blockedNearDup excludes the same rows
    val blocked = Similarity.blockedNearDup(rows, "vec_id", "embedding",
      "block", threshold = 0.35).collect()
    val bIds = blocked.flatMap(r => Seq(r.getLong(1), r.getLong(2))).toSet
    assert(!bIds.contains(3L) && !bIds.contains(4L),
      s"zero-norm vectors paired in blockedNearDup: ${blocked.mkString(",")}")
    assert(blocked.exists(r => r.getLong(1) == 1L && r.getLong(2) == 2L))
    assert(blocked.forall(r => !r.getDouble(3).isNaN))
  }

  test("lsh near-dup: subset of exact pairs, full recall on planted near-dups") {
    // 3 clusters of near-identical vectors (tiny deterministic jitter)
    // plus spread-out noise vectors, all in one hot block.
    // note: every ±-signed component sum of each base stays away from 0 —
    // a vector ON a hyperplane (dot≈0) legitimately flips buckets under
    // jitter, which is the (1−θ/π)^planes recall loss, not a bug
    val base = Seq(
      Array(1.0f, 0.0f, 0.0f, 0.0f),
      Array(0.0f, 1.0f, 0.0f, 0.0f),
      Array(0.9f, 0.5f, 0.3f, 0.2f))
    val rows = base.zipWithIndex.flatMap { case (v, c) =>
      (0 until 3).map { j =>
        val jit = v.zipWithIndex.map { case (x, i) => x + 0.001f * ((c * 3 + j + i) % 3) }
        ((c * 10 + j).toLong, jit)
      }
    } ++ Seq((100L, Array(1.0f, 2.0f, -1.0f, 0.5f)), (101L, Array(-1.0f, 0.3f, 2.0f, -0.7f)))
    val df = rows.toDF("vec_id", "embedding").withColumn("block", lit(1))

    val exact = Similarity.blockedNearDup(df, "vec_id", "embedding", "block", 0.999)
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap
    val lsh = Similarity.lshNearDup(df, "vec_id", "embedding", "block", 0.999, 8)
      .collect().map(r => ((r.getLong(1), r.getLong(2)), r.getDouble(3))).toMap

    // candidate generation is approximate, scoring is not: every LSH pair
    // is an exact pair with the identical rounded cosine
    assert(lsh.keySet.subsetOf(exact.keySet))
    lsh.foreach { case (k, v) => assert(exact(k) == v) }
    // planted near-dups (θ≈0) collide on every hyperplane → full recall here
    assert(exact.nonEmpty)
    assert(lsh.keySet == exact.keySet,
      s"missed pairs: ${exact.keySet -- lsh.keySet}")
  }

  test("TF-vector cosine near-dup: planted near-identical texts pair, others don't") {
    import spark.implicits._
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog", "en"),
      (2L, "the quick brown fox jumps over the lazy cat", "en"), // 1-token edit
      (3L, "completely unrelated payload about spark aggregation plans", "en"),
      (4L, "der schnelle braune fuchs springt", "de")
    ).toDF("doc_id", "text", "lang")
    val tf = graft.text.TextOps.tfVectors(docs, "doc_id", "text")
      .join(docs.select(col("doc_id"), col("lang")), Seq("doc_id"))
    val pairs = Similarity.blockedNearDup(tf, "doc_id", "tf", "lang", threshold = 0.8)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(pairs == Set((1L, 2L)), s"got $pairs")
  }

  /** The higher-order-function formulation the native SQ8 kernel
    * replaced. The norm rides in via array_repeat, which evaluates its
    * argument ONCE per row (inside the lambda the interpreted HOF would
    * re-run the dot product per element). */
  private def sq8Lambda(vec: Column): Column =
    zip_with(transform(vec, _.cast("double")),
      array_repeat(sqrt(Similarity.dot(vec, vec)), size(vec)),
      (x, nrm) => floor((x / nrm + 1) / 2 * 255 + 0.5).cast("long"))

  test("sq8: native kernel bit-matches the lambda executable spec") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val data = ((0L until 50L).map(i =>
      (i, Array.fill(24)(rnd.nextFloat() * 4 - 2))) :+
      (99L, Array(1.0f, 0.0f, -1.0f))).toDF("vec_id", "embedding")
    val both = data.select(col("vec_id"),
      Similarity.sq8(col("embedding")).as("k"),
      sq8Lambda(col("embedding")).as("s")).collect()
    both.foreach { r =>
      assert(r.getSeq[Long](1) == r.getSeq[Long](2), s"vec ${r.getLong(0)}")
    }
  }

  test("sq8: codes in [0,255]; dequantized cosine within 0.02 of exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val data = (0L until 20L).map(i =>
      (i, Array.fill(16)(rnd.nextFloat() * 2 - 1))).toDF("vec_id", "embedding")
    val codes = data.select(Similarity.sq8(col("embedding")).as("q"))
      .collect().flatMap(_.getSeq[Long](0))
    assert(codes.forall(c => c >= 0L && c <= 255L))
    // exact vs quantized cosine over all pairs
    val exact = Similarity.bruteForceTopK(data, "vec_id", "embedding", data, 19)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    val approx = Similarity.sq8TopK(data, "vec_id", "embedding", data, 19)
      .collect().map(r => (r.getLong(0), r.getLong(2)) -> r.getDouble(3)).toMap
    assert(exact.keySet == approx.keySet)
    exact.foreach { case (k, c) =>
      assert(math.abs(approx(k) - c) <= 0.02, s"$k exact=$c approx=${approx(k)}")
    }
  }

  test("blocked near-dup finds exactly the above-threshold pairs in the block") {
    val blocked = vecs.withColumn("block", lit(1))
    // cos(1,2)=1; cos(1,4)=cos(2,4)=0.9/sqrt(0.82)≈0.9939; all ≥ 0.995? no —
    // use 0.995 so only the exact duplicate survives.
    val strict = Similarity.blockedNearDup(blocked, "vec_id", "embedding", "block", 0.995)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSeq
    assert(strict == Seq((1L, 2L)))
    val loose = Similarity.blockedNearDup(blocked, "vec_id", "embedding", "block", 0.99)
      .collect().map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(loose == Set((1L, 2L), (1L, 4L), (2L, 4L)))
  }

  test("labelCentroids: exact element-wise means, ordered, with group sizes") {
    val df = Seq(
      ("a", Array(1.0f, 2.0f, 3.0f)),
      ("a", Array(3.0f, 2.0f, 1.0f)),
      ("a", Array(2.0f, 2.0f, 2.0f)),
      ("b", Array(-1.0f, 0.5f, 10.0f))
    ).toDF("label", "embedding")
    val got = Similarity.labelCentroids(df, "label", "embedding")
      .select("label", "centroid", "n_vectors")
      .as[(String, Seq[Double], Long)].collect().sortBy(_._1).toSeq
    assert(got == Seq(
      ("a", Seq(2.0, 2.0, 2.0), 3L),
      ("b", Seq(-1.0, 0.5, 10.0), 1L)))
  }
}
