package graft.sim

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Product quantization: deterministic fit, bit-exact save/load, valid
  * codes, argmin optimality of the encoder, reconstruction quality
  * beats a deliberately-wrong assignment, and ADC top-k recall vs the
  * exact brute force. */
class PqSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val dir = "/root/testdata/sf0.001"
  private lazy val emb = graft.Tables.embeddings(spark, dir)
  private def freshPath() = java.nio.file.Files
    .createTempDirectory("graft_pq").toString + "/cb"

  /** The codebooks persisted at `p`, read back from disk. */
  private def onDisk(p: String): Pq.Codebooks =
    Kmeans.parse("pq", Kmeans.readText(p, spark.sparkContext.hadoopConfiguration))._2

  test("fit is deterministic; save/load round-trips bit-exactly") {
    val a = Pq.fit(emb, "embedding", m = 4, k = 8, seed = 7L)
    val b = Pq.fit(emb, "embedding", m = 4, k = 8, seed = 7L)
    assert(a.flatten.flatten.toSeq == b.flatten.flatten.toSeq)
    val c = Kmeans.parse("pq", new String(Kmeans.render("pq", 4, 8, a), "UTF-8"))._2
    assert(a.flatten.flatten.toSeq == c.flatten.flatten.toSeq)
    assert(a.length == 4 && a.head.length == 8 && a.head.head.length == 16)
  }

  test("fitOrLoad: stale artifact for a DIFFERENT requested shape fails loudly; same shape reloads") {
    val p = freshPath()
    val first = Pq.fitOrLoad(emb, "embedding", m = 4, k = 8, p, seed = 7L)
    // same requested shape: loads (memo cleared by using a fresh key path? —
    // the memo key includes (path, m, k), so a different shape misses it
    // and goes to disk, where the header must reject the stale artifact)
    val boom = intercept[IllegalArgumentException] {
      Pq.fitOrLoad(emb, "embedding", m = 4, k = 16, p, seed = 7L)
    }
    assert(boom.getMessage.contains("was fit for (m=4, k=8)"),
      s"wrong rejection message: ${boom.getMessage}")
    val again = Pq.fitOrLoad(emb, "embedding", m = 4, k = 8, p, seed = 7L)
    assert(first.flatten.flatten.toSeq == again.flatten.flatten.toSeq)
  }

  test("codes are in range and the encoder picks the nearest centroid") {
    val cb = Pq.fit(emb, "embedding", m = 4, k = 8, seed = 7L)
    val coded = Pq.encode(emb, "embedding", cb)
      .select(col("vec_id"), col("pq_codes"),
        transform(col("embedding"), x => x.cast("double")).as("v"))
      .as[(Long, Seq[Int], Seq[Double])].collect()
    assert(coded.forall(_._2.forall(c => c >= 0 && c < 8)))
    // re-derive the argmin on the driver for a few rows
    for ((_, codes, v) <- coded.take(20)) {
      val nrm = math.sqrt(v.map(x => x * x).sum)
      val n = v.map(_ / nrm)
      for (j <- 0 until 4) {
        val sub = n.slice(j * 16, (j + 1) * 16)
        val d2 = cb(j).map(c => sub.zip(c).map { case (a, b) => (a - b) * (a - b) }.sum)
        assert(d2(codes(j)) == d2.min, s"subspace $j: code ${codes(j)} not argmin")
      }
    }
  }

  test("assigned codes reconstruct better than a rotated assignment") {
    val cb = Pq.fit(emb, "embedding", m = 4, k = 8, seed = 7L)
    val scored = Pq.encode(emb, "embedding", cb)
      .select(
        Similarity.dot(Pq.decode(col("pq_codes"), cb),
          transform(col("embedding"), x => x.cast("double") /
            sqrt(Similarity.dot(col("embedding"), col("embedding"))))).as("good"),
        Similarity.dot(
          Pq.decode(transform(col("pq_codes"), c => pmod(c + 1, lit(8))), cb),
          transform(col("embedding"), x => x.cast("double") /
            sqrt(Similarity.dot(col("embedding"), col("embedding"))))).as("bad"))
      .agg(avg(col("good")), avg(col("bad"))).head()
    assert(scored.getDouble(0) > scored.getDouble(1),
      s"PQ reconstruction (${scored.getDouble(0)}) should beat rotated codes (${scored.getDouble(1)})")
  }

  test("self-retrieval: each vector's own codes rank it at the top of ADC") {
    // sharp end-to-end coherence witness on the REAL corpus: scoring a
    // query against its own reconstruction must put the query itself at
    // (or very near) the top of 500 — any encode/decode mismatch
    // (subspace order, 0/1-based indexing, normalization drift) breaks
    // this long before it shows in aggregate stats
    val cb = Pq.fit(emb, "embedding", m = 8, k = 32, seed = 42L)
    val queries = emb.filter(col("vec_id") < 10)
    val q = broadcast(queries.select(col("vec_id").as("query_id"),
      transform(col("embedding"), x => x.cast("double") /
        sqrt(Similarity.dot(col("embedding"), col("embedding")))).as("q_norm")))
    val c = Pq.encode(emb, "embedding", cb)
      .select(col("vec_id").as("neighbor_id"),
        Pq.decode(col("pq_codes"), cb).as("c_recon"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(Similarity.dot(col("q_norm"), col("c_recon")).desc,
        col("neighbor_id").asc)
    val selfRank = q.join(c, lit(true))
      .withColumn("rank", row_number().over(w))
      .filter(col("query_id") === col("neighbor_id"))
      .select("rank").as[Int].collect()
    assert(selfRank.length == 10)
    assert(selfRank.count(_ <= 10) >= 9, s"self ranks: ${selfRank.toSeq}")
  }

  test("ADC+rerank recall on clustered data; worst-case floor on the real corpus") {
    // data WITH structure (the regime PQ exists for): 16 planted
    // clusters, members = unit direction + small noise (per-component
    // σ = 0.04 ⇒ noise NORM ≈ 0.32 over 64 dims ⇒ pairwise member
    // cosine ~0.9 — the norm, not the component σ, is what sets the
    // cluster tightness). The cluster siblings are the true top-3 and
    // must survive a 20-of-128 shortlist.
    val rnd = new scala.util.Random(20260812L)
    def unit(v: Array[Double]) = {
      val n = math.sqrt(v.map(x => x * x).sum); v.map(_ / n)
    }
    val rows = for {
      cl <- 0 until 16
      base = unit(Array.fill(64)(rnd.nextGaussian()))
      mem <- 0 until 8
      noise = Array.fill(64)(rnd.nextGaussian() * 0.04)
    } yield ((cl * 8 + mem).toLong, unit(base.zip(noise).map { case (a, b) => a + b }).map(_.toFloat).toSeq)
    val df = rows.toDF("vec_id", "embedding")
    val cb = Pq.fit(df, "embedding", m = 8, k = 16, seed = 1L)
    // NOT limit(10): limit is row-order-dependent and each consumer
    // below re-executes it — the exact and approx sides could query
    // DIFFERENT vectors
    val queries = df.filter(col("vec_id") % 8 === 0 && col("vec_id") < 80)
    val exact = Similarity.bruteForceTopK(df, "vec_id", "embedding", queries, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approx = Pq.adcRerankTopK(df, "vec_id", "embedding", queries, cb,
        k = 3, shortlist = 20)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    // .toSeq before map: keys is a Set, and Set.map would COLLAPSE
    // equal per-query recall values before the sum
    val recall = exact.keys.toSeq.map(qi =>
      (exact(qi) intersect approx.getOrElse(qi, Set.empty)).size.toDouble / 3).sum / exact.size
    assert(recall >= 0.8, s"clustered recall@3 = $recall")

    // the real corpus is PQ's worst case (best neighbors at cosine
    // ~0.33, below code resolution): assert the shortlist still beats
    // random selection (50/499 ≈ 0.1) rather than a high absolute bar
    val cbE = Pq.fit(emb, "embedding", m = 8, k = 32, seed = 42L)
    val qE = emb.filter(col("vec_id") < 10)
    val exactE = Similarity.bruteForceTopK(emb, "vec_id", "embedding", qE, 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val approxE = Pq.adcRerankTopK(emb, "vec_id", "embedding", qE, cbE, 3, 50)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val recallE = exactE.keys.toSeq.map(qi =>
      (exactE(qi) intersect approxE.getOrElse(qi, Set.empty)).size.toDouble / 3).sum / exactE.size
    assert(recallE > 0.1, s"worst-case recall@3 = $recallE (random ≈ 0.1)")
  }

  test("encode fails loudly on a vector dimension the codebook was not fit for") {
    // a stale codebook for a different embedding dim would otherwise
    // silently slice a prefix of each vector into the wrong subspaces
    val cb = Pq.fit(emb, "embedding", m = 4, k = 8, seed = 7L) // fit on 64-dim
    val wrongDim = Seq((1L, (0 until 32).map(_.toFloat)))
      .toDF("vec_id", "embedding")
    val boom = intercept[Exception] {
      Pq.encode(wrongDim, "embedding", cb).collect()
    }
    def msgs(t: Throwable): String = {
      var cur: Throwable = t; val sb = new StringBuilder
      while (cur != null) { sb ++= Option(cur.getMessage).getOrElse(""); cur = cur.getCause }
      sb.toString
    }
    assert(msgs(boom).contains("does not match the codebook"), msgs(boom))
    // a NULL vector is DROPPED at the encode gate (Similarity.eligible,
    // r10) — one null embedding row must not abort a whole index build,
    // and it gets no codes row either (the shared ANN eligibility
    // contract: ineligible vectors never enter an index)
    val withNull = Seq((1L, Option.empty[Seq[Float]]), (2L, Some((0 until 64).map(_.toFloat))))
      .toDF("vec_id", "embedding")
    val rows = Pq.encode(withNull, "embedding", cb)
      .select("vec_id", "pq_codes").collect()
    assert(rows.length == 1 && rows.head.getLong(0) == 2L)
  }

  test("publish hygiene: overwrite works, no temp orphans, corrupt artifact replaced") {
    val p = freshPath()
    val cb = Pq.fitOrLoad(emb, "embedding", m = 4, k = 8, p, seed = 7L)
    assert(onDisk(p).flatten.flatten.toSeq == cb.flatten.flatten.toSeq)
    val parent = new java.io.File(p).getParentFile
    assert(parent.listFiles.forall(f => !f.getName.contains(".tmp-")),
      s"orphan temps: ${parent.listFiles.map(_.getName).mkString(",")}")
    // a corrupt artifact (raw overwrite behind the checksum layer) must
    // be REPLACED by fitOrLoad — the entry-broken capture — and the
    // rebuilt artifact must load with the shape header intact
    java.nio.file.Files.writeString(java.nio.file.Paths.get(p), "garbage")
    graft.Artifact.invalidate(p) // drop the memo: the next ensure reads the disk
    val re = Pq.fitOrLoad(emb, "embedding", m = 4, k = 8, p, seed = 7L)
    assert(re.flatten.flatten.toSeq == cb.flatten.flatten.toSeq)
    assert(onDisk(p).flatten.flatten.toSeq == cb.flatten.flatten.toSeq)
    assert(parent.listFiles.forall(f => !f.getName.contains(".tmp-")))
  }

  test("fitting with fewer eligible vectors than k is a named domain error, not an MLlib crash") {
    // degenerate-cardinality sweep (r10): a 1-row corpus previously died
    // inside KMeans as an uncontextualized ArrayIndexOutOfBoundsException
    val tiny = Seq((0L, Array.fill(16)(0.5f))).toDF("vec_id", "embedding")
    val e = intercept[IllegalArgumentException] {
      Pq.fit(tiny, "embedding", m = 4, k = 8, seed = 1L)
    }
    assert(e.getMessage.contains("eligible training"), e.getMessage)
  }
}
