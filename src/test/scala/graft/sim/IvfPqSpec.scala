package graft.sim

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** IVF-PQ composition: both pruning stages behave — the cell join
  * really restricts scoring to probed cells, recall on planted
  * clusters survives the double approximation, and widening either
  * knob (nprobe, shortlist) converges on the exact answer. */
class IvfPqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** IVF-PQ top-k over an index built inline (the board loads a
    * persisted one). Materialized, as the persisted index is: decode's
    * lambda references pq_codes, and CollapseProject would otherwise
    * inline the whole argmin encode into it per subspace reference. */
  private def topK(corpus: org.apache.spark.sql.DataFrame, idCol: String, vecCol: String,
                   queries: org.apache.spark.sql.DataFrame, cents: Kmeans.Centroids,
                   cb: Pq.Codebooks, k: Int, nprobe: Int, shortlist: Int) =
    IvfPq.topKIndexed(corpus, idCol, vecCol, queries,
      graft.ops.Exec.materialize(IvfPq.buildIndex(corpus, idCol, vecCol, cents, cb)),
      cents, cb, k, nprobe, shortlist)

  private def unit(v: Array[Double]) = {
    val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
  }

  /** 16 planted clusters × 8 members (the PqSpec corpus shape): member
    * cosine ~0.9 within a cluster, ~0 across — true top-3 are cluster
    * siblings. */
  private lazy val planted = {
    val rnd = new scala.util.Random(20260813L)
    val rows = for {
      cl <- 0 until 16
      base = unit(Array.fill(64)(rnd.nextGaussian()))
      mem <- 0 until 8
      noise = Array.fill(64)(rnd.nextGaussian() * 0.04)
    } yield ((cl * 8 + mem).toLong,
      unit(base.zip(noise).map { case (a, b) => a + b }).map(_.toFloat).toSeq)
    rows.toDF("vec_id", "embedding")
  }

  test("planted clusters: IVF-PQ recall@3 vs brute force; probed-cell containment") {
    val df = planted
    val model = Ivf.fitCentroids(df, "embedding", k = 16, seed = 5L)
    val cb = Pq.fit(df, "embedding", m = 8, k = 16, seed = 1L)
    val queries = df.filter(col("vec_id") % 8 === 0 && col("vec_id") < 80)
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = topK(df, "vec_id", "embedding", queries, model, cb,
        k = 3, nprobe = 2, shortlist = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recall = exact.keys.toSeq.map(qi =>
      (exact(qi) intersect approx.getOrElse(qi, Set.empty)).size.toDouble / 3).sum / exact.size
    assert(recall >= 0.8, s"planted-cluster IVF-PQ recall@3 = $recall")

    // containment: every returned neighbor must live in one of the
    // query's probed cells — the pruning claim itself, not just recall
    val cells = Ivf.assignCells(df, "embedding", model)
      .select("vec_id", "cell").as[(Long, Int)].collect().toMap
    val probed = Ivf.probeCells(queries, "vec_id", "embedding", model, 2)
      .select("query_id", "cell").as[(Long, Int)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    for ((qi, ns) <- approx; n <- ns)
      assert(probed(qi).contains(cells(n)),
        s"neighbor $n of query $qi is in cell ${cells(n)}, outside probed ${probed(qi)}")
  }

  test("widening both knobs converges IVF-PQ on the exact top-k") {
    val df = planted
    val model = Ivf.fitCentroids(df, "embedding", k = 4, seed = 5L)
    val cb = Pq.fit(df, "embedding", m = 8, k = 16, seed = 1L)
    val queries = df.filter(col("vec_id") % 8 === 0 && col("vec_id") < 80)
    // nprobe = all cells and shortlist = corpus: only the rerank's exact
    // cosine decides, so the result must EQUAL brute force (same
    // tie-break) — pins the composition's join/window machinery
    val full = topK(df, "vec_id", "embedding", queries, model, cb,
        k = 3, nprobe = 4, shortlist = 128)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, 3)
      .select("query_id", "rank", "neighbor_id", "cos_sim")
      .as[(Long, Int, Long, Double)].collect().sortBy(r => (r._1, r._2))
    assert(full.toSeq == exact.toSeq)
  }

  test("real corpus composes with persisted artifacts end-to-end") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_ivfpq").toString
    val model = Ivf.fitOrLoad(emb, "embedding", 16, tmp + "/quantizer")
    val cb = Pq.fitOrLoad(emb, "embedding", m = 8, k = 32, tmp + "/cb")
    val out = topK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), model, cb, k = 3, nprobe = 4, shortlist = 50)
      .collect()
    assert(out.length > 0 && out.length <= 30)
    // deterministic: second run over the SAME loaded artifacts matches
    val out2 = topK(emb, "vec_id", "embedding",
        emb.filter(col("vec_id") < 10), model, cb, k = 3, nprobe = 4, shortlist = 50)
      .collect()
    assert(out.map(_.toSeq).toSeq == out2.map(_.toSeq).toSeq)
  }

  test("ensureIndex: a polluted index directory self-heals on the next load") {
    val dir = "/root/testdata/sf0.001"
    val emb = graft.Tables.embeddings(spark, dir)
    val tmp = java.nio.file.Files.createTempDirectory("graft_idxheal").toString
    val model = Ivf.fitOrLoad(emb, "embedding", 16, tmp + "/quantizer")
    val cb = Pq.fitOrLoad(emb, "embedding", m = 8, k = 32, tmp + "/cb")
    val idxPath = tmp + "/idx"
    val first = IvfPq.ensureIndex(emb, "vec_id", "embedding", model, cb, idxPath)
      .orderBy("neighbor_id").collect().map(_.toSeq).toSeq
    // the residual crash window of a lost local-FS publish race: a temp
    // directory nested INSIDE the artifact — a conflicting non-`cell=`
    // parquet tree under the surviving _SUCCESS, which partition
    // discovery cannot reconcile (or which poisons the resolved schema)
    val nested = new java.io.File(idxPath, "idx.tmp-deadbeef")
    emb.limit(3).write.parquet(nested.toString)
    graft.Artifact.invalidate(idxPath)
    val healed = IvfPq.ensureIndex(emb, "vec_id", "embedding", model, cb, idxPath)
      .orderBy("neighbor_id").collect().map(_.toSeq).toSeq
    assert(healed == first, "rebuilt index must serve the same rows")
    assert(!nested.exists, "the rebuild must have replaced the polluted directory")
  }
}
