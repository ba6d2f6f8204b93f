package graft.sim

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** IVF specs on planted well-separated clusters: the quantizer puts a
  * cluster in one cell, probed top-k matches brute force when the probe
  * covers the true cluster. */
class IvfSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // 3 clusters at mutually distant corners, 4 members each with tiny
  // jitter (components chosen so no ±-signed sum is near 0 — see
  // SimilaritySpec note on vectors ON an LSH hyperplane)
  private lazy val vecs = {
    val base = Seq(
      Array(10.0f, 1.0f, 0.5f, 0.25f),
      Array(0.5f, 10.0f, 1.0f, 0.25f),
      Array(0.25f, 0.5f, 10.0f, 1.0f))
    base.zipWithIndex.flatMap { case (v, c) =>
      (0 until 4).map { j =>
        ((c * 10 + j).toLong,
          v.zipWithIndex.map { case (x, i) => x + 0.01f * ((c + j + i) % 3) })
      }
    }.toDF("vec_id", "embedding")
  }

  /** The cell-assigned corpus side of the probe join, assigned inline
    * (the board reads it from a persisted index). */
  private def assigned(corpus: org.apache.spark.sql.DataFrame, cents: Kmeans.Centroids) =
    Ivf.assignCells(corpus, "embedding", cents)
      .select(col("cell"), col("vec_id").as("neighbor_id"), col("embedding").as("c_vec"),
        Similarity.l2Norm(col("embedding")).as("c_norm"))

  test("quantizer separates planted clusters into distinct cells") {
    val model = Ivf.fitCentroids(vecs, "embedding", 3, seed = 7L)
    val cells = Ivf.assignCells(vecs, "embedding", model)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val byCluster = cells.groupBy(_._1 / 10).view.mapValues(_.map(_._2).toSet)
    byCluster.foreach { case (c, cs) =>
      assert(cs.size == 1, s"cluster $c split across cells $cs")
    }
    assert(byCluster.values.flatten.toSet.size == 3)
  }

  test("sampled-fit quantizer (the 100-TB path) still separates clusters") {
    // trainFraction < 1 is how the quantizer stays bounded at corpus
    // scale; on planted well-separated clusters even a half sample must
    // yield centroids that keep each cluster in one cell
    val model = Ivf.fitCentroids(vecs, "embedding", 3, seed = 7L, trainFraction = 0.6)
    val cells = Ivf.assignCells(vecs, "embedding", model)
      .select(col("vec_id"), col("cell")).collect()
      .map(r => r.getLong(0) -> r.getInt(1))
    val byCluster = cells.groupBy(_._1 / 10).view.mapValues(_.map(_._2).toSet)
    byCluster.foreach { case (c, cs) =>
      assert(cs.size == 1, s"cluster $c split across cells $cs")
    }
  }

  test("quantizer persists via S5: save/load round-trips centroids bit-exactly") {
    val dir = java.nio.file.Files.createTempDirectory("ivf_rt").toString + "/q"
    val model = Ivf.fitCentroids(vecs, "embedding", 3, seed = 7L)
    // the first fitOrLoad fits and publishes; after the memo is dropped
    // the second one reads the text artifact back from disk
    val published = Ivf.fitOrLoad(vecs, "embedding", 3, dir, seed = 7L)
    graft.Artifact.invalidate(dir)
    val viaLoad = Ivf.fitOrLoad(vecs, "embedding", 3, dir, seed = 7L)
    assert(!(viaLoad eq published))
    assert(model.map(_.toSeq).toSeq == published.map(_.toSeq).toSeq)
    assert(model.map(_.toSeq).toSeq == viaLoad.map(_.toSeq).toSeq)
    // probes against the loaded quantizer agree with the in-memory fit's
    val a = Ivf.assignCells(vecs, "embedding", model)
      .select(col("vec_id"), col("cell")).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    val b = Ivf.assignCells(vecs, "embedding", viaLoad)
      .select(col("vec_id"), col("cell")).collect().map(r => (r.getLong(0), r.getInt(1))).toSet
    assert(a == b)
    // a stale artifact fit for a DIFFERENT k must fail loudly, never
    // silently serve the wrong cell geometry (nor silently refit over
    // a path the caller mis-keyed) — the Pq header rule
    val boom = intercept[IllegalArgumentException] {
      Ivf.fitOrLoad(vecs, "embedding", 5, dir, seed = 7L)
    }
    assert(boom.getMessage.contains("was fit for k=3"),
      s"wrong rejection message: ${boom.getMessage}")
  }

  test("ivf top-k with a covering probe matches brute force") {
    val model = Ivf.fitCentroids(vecs, "embedding", 3, seed = 7L)
    val queries = vecs.filter(col("vec_id") === 0 || col("vec_id") === 10)
    val ivf = Ivf.ivfTopKFromAssigned(assigned(vecs, model), "vec_id", "embedding",
      queries, model, k = 2, nprobe = 1)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    val brute = Similarity.bruteForceTopK(vecs, "vec_id", "embedding", queries, k = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1)) -> r.getLong(2)).toMap
    // nprobe=1 suffices: each query's true neighbors share its cell
    assert(ivf == brute, s"ivf=$ivf brute=$brute")
  }

  test("degenerate vectors never rank — excluded by eligibility, NaN fit stays loud") {
    import spark.implicits._
    // Two ways a NaN score could theoretically arise, both cut off
    // upstream of the top-k machinery (so the window-vs-agg ranking
    // twins can never silently disagree on NaN order — the agg twin's
    // nan_first flag is defense-in-depth, not a live code path):
    // (1) NaN elements — rejected by the quantizer's training-set check
    val withNaN = Seq((0L, Array(1.0f, 0.0f)), (1L, Array(Float.NaN, 1.0f)))
      .toDF("vec_id", "embedding")
    val e1 = intercept[Exception] {
      Ivf.fitCentroids(withNaN, "embedding", k = 2, seed = 3L)
    }
    assert(e1.getMessage.contains("NaN"), e1.getMessage)
    // (2) a zero-norm vector — EXCLUDED by the shared eligibility
    // contract (Similarity.eligible, r10): it never reaches the
    // scoring division, never ranks, and both ranking twins agree —
    // where the pre-r10 behavior was an ANSI DIVIDE_BY_ZERO abort of
    // the whole search
    val withZero = Seq(
      (0L, Array(1.0f, 0.0f)), (1L, Array(0.9f, 0.1f)),
      (2L, Array(0.0f, 0.0f)), (3L, Array(0.5f, 0.5f))
    ).toDF("vec_id", "embedding")
    val model = Ivf.fitCentroids(withZero, "embedding", k = 2, seed = 3L)
    val q = withZero.filter(col("vec_id") === 0)
    val a = Ivf.ivfTopKFromAssigned(assigned(withZero, model), "vec_id", "embedding",
      q, model, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    val b = Ivf.ivfTopKAggFromAssigned(assigned(withZero, model), "vec_id", "embedding",
      q, model, k = 3, nprobe = 2)
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getLong(2), r.getDouble(3))).toSet
    assert(a == b, s"twins diverge: $a vs $b")
    assert(!a.exists(_._3 == 2L), s"zero-norm vector ranked: $a")
    assert(a.nonEmpty && a.forall(t => !t._4.isNaN))
  }

  test("fitting with fewer eligible vectors than k is a named domain error, not an MLlib crash") {
    // degenerate-cardinality sweep (r10): a 1-row corpus previously died
    // inside KMeans as an uncontextualized ArrayIndexOutOfBoundsException
    val tiny = Seq((0L, Array(1.0f, 2.0f, 3.0f, 4.0f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Ivf.fitCentroids(tiny, "embedding", k = 4, seed = 1L)
    }
    assert(e.getMessage.contains("eligible training"), e.getMessage)
  }
}
