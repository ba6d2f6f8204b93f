package graft.text

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite
import graft.{SparkTestSession, TempDirs}

/** Persisted n-gram pair-graph artifact ([[Dedup.ensurePairGraph]]):
  * the artifact serves byte-identical pairs/components to a direct
  * computation, warm loads don't recompute, a corrupted artifact
  * rebuilds instead of being trusted, and a regenerated source routes
  * to a NEW artifact (the staleness life cycle every graft artifact
  * follows).
  */
class PairGraphSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("text", StringType)))

  /** Small corpus with a planted chained near-dup cluster {0,1,2}
    * (pairwise 3-gram Jaccard ≥ 0.5) plus unrelated singletons. */
  private def corpus(tag: String): Seq[Row] = Seq(
    Row(0L, "alpha beta gamma delta epsilon zeta"),
    Row(1L, "alpha beta gamma delta epsilon eta"),
    Row(2L, "alpha beta gamma delta epsilon theta"),
    Row(3L, s"totally different content about $tag pipelines"),
    Row(4L, s"yet another unrelated $tag document entirely"))

  private def writeDocs(dir: String, tag: String): Unit =
    spark.createDataFrame(
      spark.sparkContext.parallelize(corpus(tag), 1), docSchema)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")

  private def collectedPairs(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("artifact pairs/components match the direct computation; warm load identical") {
    TempDirs.withTempDir("graft_pg") { dir =>
      writeDocs(dir, "spark")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = dir + "/pair_graph_artifact"
      val (pairs, comp) = Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      val directPairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.5)
      assert(collectedPairs(pairs) == collectedPairs(directPairs))
      assert(collectedPairs(pairs).nonEmpty, "planted cluster must produce pairs")
      val directComp = graft.ops.Components
        .connectedComponents(directPairs, "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(comp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == directComp)
      // memo hit: same tuple instance back, no second build
      val again = Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      assert(again._1 eq pairs)
      // cold re-load in the same session (memo dropped): same rows
      graft.Artifact.invalidate(path)
      val (reloaded, _) = Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      assert(collectedPairs(reloaded) == collectedPairs(pairs))
    }
  }

  test("corrupted artifact rebuilds instead of being trusted") {
    TempDirs.withTempDir("graft_pg_bad") { dir =>
      writeDocs(dir, "flink")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = dir + "/pair_graph_artifact"
      val (pairs, _) = Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      val want = collectedPairs(pairs)
      // clobber one half with a wrong-schema frame behind a _SUCCESS
      graft.Artifact.invalidate(path)
      spark.range(3).toDF("not_the_schema")
        .write.mode("overwrite").parquet(s"$path/components")
      val (p2, c2) = Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      assert(collectedPairs(p2) == want)
      assert(c2.columns.toSeq == Seq("node", "component"))
    }
  }

  test("regenerated source routes to a NEW artifact (stamped path + prebuild)") {
    // the scoreboard wiring: TextSim.ngramPairGraph keys the path by
    // the documents stamp, so an in-place rewrite (+ catalog
    // invalidation, the documented contract) builds a second artifact
    // generation instead of serving the first (and prunes the first)
    TempDirs.withTempDir("graft_pg_stamp") { dir =>
      val slug = dir.replaceAll("[^A-Za-z0-9.]", "_")
      def artifacts(): Set[String] = {
        val models = new java.io.File(System.getProperty("java.io.tmpdir"), "graft-models")
        Option(models.list()).getOrElse(Array.empty)
          .filter(n => n.startsWith("ngram_pairs_n3_t05_") && n.contains(slug)).toSet
      }
      writeDocs(dir, "gen1")
      val g1 = graft.queries.TextSim.ngramPairGraph(spark, dir)
      assert(g1._1.count() > 0)
      val gen1 = artifacts()
      assert(gen1.size == 1, s"expected one artifact, got $gen1")
      Thread.sleep(5)
      writeDocs(dir, "generation two with different text")
      graft.Tables.invalidate(dir)
      graft.queries.TextSim.ngramPairGraph(spark, dir)
      // the publish of the new generation prunes the superseded one
      val gen2 = artifacts()
      assert(gen2.size == 1 && gen2 != gen1,
        s"regeneration must leave exactly one, new artifact: gen1=$gen1 gen2=$gen2")
    }
  }

  test("params stamp: mismatched parameters at the same path fail loudly, artifact untouched") {
    // ADVICE r11 #2: the route/n/threshold live IN the artifact
    // (`_params`, committed in the same atomic rename), not in caller
    // path convention — a different parameterization at the same path
    // is a caller collision and must be loud, never a silent serve or
    // a silent clobber of the other caller's artifact.
    TempDirs.withTempDir("graft_pg_params") { dir =>
      writeDocs(dir, "stamp")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = dir + "/pair_graph_artifact"
      val (pairs, _) = Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      val want = collectedPairs(pairs)
      // memo-hit path verifies: no invalidate, different threshold
      val eMemo = intercept[IllegalArgumentException] {
        Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.7, path)
      }
      assert(eMemo.getMessage.contains("threshold=0.5") &&
        eMemo.getMessage.contains("threshold=0.7"), eMemo.getMessage)
      // cold-probe path verifies: memo dropped, same mismatch
      graft.Artifact.invalidate(path)
      val eCold = intercept[IllegalArgumentException] {
        Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.7, path)
      }
      assert(eCold.getMessage.contains("DIFFERENT artifact"), eCold.getMessage)
      // the refusal must not have touched the artifact: the original
      // parameterization still loads the original rows
      graft.Artifact.invalidate(path)
      val (again, _) = Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      assert(collectedPairs(again) == want)
      // minhash family carries the same stamp discipline
      val mhPath = dir + "/mh_artifact"
      Dedup.ensureMinhashPairGraph(docs, "doc_id", "text", 16, 4, 0.5, mhPath)
      val eMh = intercept[IllegalArgumentException] {
        Dedup.ensureMinhashPairGraph(docs, "doc_id", "text", 16, 8, 0.5, mhPath)
      }
      assert(eMh.getMessage.contains("bands=4") && eMh.getMessage.contains("bands=8"),
        eMh.getMessage)
    }
  }

  test("auto df-guard stamps its RESOLUTION: engaged == manual-cap artifact, clean == uncapped artifact") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, concat, lit}
    TempDirs.withTempDir("graft_pg_auto") { dir =>
      // ENGAGED half: a 1500-doc boilerplate cohort (block-trigram df =
      // 1500, hot mass ≈ 9e6 > AutoEngageHotPairs) + one clean dup pair
      spark.range(1, 1501).select(col("id").as("doc_id"),
          concat(lit("shared boilerplate header block repeated verbatim across cohort tail "),
            col("id"), lit(" unique "), col("id") * 7, lit(" suffix "), col("id") * 13).as("text"))
        .unionByName(Seq((2001L, "a genuinely clean document body one two three four"),
            (2002L, "a genuinely clean document body one two three four"))
          .toDF("doc_id", "text"))
        .write.mode("overwrite").parquet(s"$dir/hot.parquet")
      val hot = spark.read.parquet(s"$dir/hot.parquet")
      val hotPath = dir + "/mh_auto_hot"
      val (autoPairs, _) = Dedup.ensureMinhashPairGraph(hot, "doc_id", "text", 16, 8, 0.5, hotPath)
      val want = collectedPairs(autoPairs)
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$hotPath/_params")) ==
        Dedup.minhashPairGraphStamp(16, 8, 0.5, Dedup.DefaultMaxShingleDf),
        "engaged auto must stamp the RESOLVED cap")
      // a manual default-cap caller ADOPTS the engaged-auto artifact
      // (identical content by construction — same detector, exact confirm)
      graft.Artifact.invalidate(hotPath)
      val (manual, _) = Dedup.ensureMinhashPairGraph(hot, "doc_id", "text", 16, 8, 0.5,
        hotPath, maxShingleDf = Dedup.DefaultMaxShingleDf)
      assert(collectedPairs(manual) == want)
      // an explicitly-UNCAPPED caller is a caller collision: loud, no clobber
      graft.Artifact.invalidate(hotPath)
      val e = intercept[IllegalArgumentException] {
        Dedup.ensureMinhashPairGraph(hot, "doc_id", "text", 16, 8, 0.5,
          hotPath, maxShingleDf = Long.MaxValue)
      }
      assert(e.getMessage.contains("maxShingleDf"), e.getMessage)
      // CLEAN half: auto resolves uncapped and stamps the pre-cap format,
      // so an explicitly-uncapped caller adopts it unchanged
      writeDocs(dir, "auto")
      val clean = spark.read.parquet(s"$dir/documents.parquet")
      val cleanPath = dir + "/mh_auto_clean"
      val (cleanPairs, _) = Dedup.ensureMinhashPairGraph(clean, "doc_id", "text", 16, 4, 0.5, cleanPath)
      assert(java.nio.file.Files.readString(java.nio.file.Paths.get(s"$cleanPath/_params")) ==
        Dedup.minhashPairGraphStamp(16, 4, 0.5),
        "un-engaged auto must stamp the uncapped format (pre-cap artifacts interop)")
      graft.Artifact.invalidate(cleanPath)
      val (uncapped, _) = Dedup.ensureMinhashPairGraph(clean, "doc_id", "text", 16, 4, 0.5,
        cleanPath, maxShingleDf = Long.MaxValue)
      assert(collectedPairs(uncapped) == collectedPairs(cleanPairs))
    }
  }

  test("params stamp: a banded (routed) artifact is refused by an exact consumer") {
    import spark.implicits._
    TempDirs.withTempDir("graft_pg_route") { dir =>
      // dense template corpus: routeDense + a tiny cap forces the banded
      // route, so the artifact is stamped route=banded
      val dense = ((1 to 30).map(i =>
          (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta iota kappa unique$i tail$i")) ++
        Seq((31L, "omega psi chi phi upsilon tau sigma rho pi omicron"),
            (32L, "omega psi chi phi upsilon tau sigma rho pi omicron")))
        .toDF("doc_id", "text")
      val path = dir + "/routed_graph"
      val (pairs, _) = Dedup.ensurePairGraph(dense, "doc_id", "text", 3, 0.5, path,
        maxCandidatePairs = 100L, routeDense = true)
      val want = collectedPairs(pairs)
      assert(want.nonEmpty)
      // an exact-path consumer at the same path: loud, naming the stamp
      graft.Artifact.invalidate(path)
      val e = intercept[IllegalArgumentException] {
        Dedup.ensurePairGraph(dense, "doc_id", "text", 3, 0.5, path)
      }
      assert(e.getMessage.contains("route=banded") && e.getMessage.contains("route=exact"),
        e.getMessage)
      // a routeDense consumer with the SAME cap accepts the stamp
      graft.Artifact.invalidate(path)
      val (ok, _) = Dedup.ensurePairGraph(dense, "doc_id", "text", 3, 0.5, path,
        maxCandidatePairs = 100L, routeDense = true)
      assert(collectedPairs(ok) == want)
      // a routeDense consumer with a DIFFERENT cap is refused: the cap
      // decides where the route flips, so under ITS parameters this
      // corpus might have stayed exact — serving it the banded pairs
      // would be silent recall loss (review r12)
      graft.Artifact.invalidate(path)
      val eCap = intercept[IllegalArgumentException] {
        Dedup.ensurePairGraph(dense, "doc_id", "text", 3, 0.5, path,
          maxCandidatePairs = 999999L, routeDense = true)
      }
      assert(eCap.getMessage.contains("maxCandidatePairs=100") &&
        eCap.getMessage.contains("maxCandidatePairs=999999"), eCap.getMessage)
    }
  }

  test("params stamp: present-but-unreadable stamp fails loudly, never rebuilds") {
    // review r12: an IO failure reading a PRESENT stamp must not be
    // conflated with a MISSING one — the missing path rebuilds, and a
    // rebuild deletes the destination, i.e. a transient read fault on
    // another parameterization's healthy artifact would clobber it.
    // Corrupting the stamp in place via raw java.nio breaks its Hadoop
    // LocalFS .crc sidecar, making the next FS read throw — exists()
    // true, open/read fails: exactly the conflated case.
    TempDirs.withTempDir("graft_pg_iofail") { dir =>
      writeDocs(dir, "iofail")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = dir + "/pair_graph_artifact"
      Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      val stampPath = java.nio.file.Paths.get(s"$path/_params")
      java.nio.file.Files.write(stampPath, "corrupted-past-the-crc".getBytes("UTF-8"))
      graft.Artifact.invalidate(path)
      val e = intercept[IllegalStateException] {
        Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      }
      assert(e.getMessage.contains("cannot be read"), e.getMessage)
      // the refusal must not have touched the artifact's data halves
      assert(new java.io.File(s"$path/pairs/_SUCCESS").exists())
    }
  }

  test("params stamp: a pre-stamp artifact (no _params) rebuilds and gains one") {
    TempDirs.withTempDir("graft_pg_legacy") { dir =>
      writeDocs(dir, "legacy")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = dir + "/pair_graph_artifact"
      val (pairs, _) = Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      val want = collectedPairs(pairs)
      // simulate an r11-generation artifact: halves intact, stamp absent
      assert(new java.io.File(s"$path/_params").delete(), "stamp must exist to delete")
      graft.Artifact.invalidate(path)
      val (p2, c2) = Dedup.ensurePairGraph(docs, "doc_id", "text", 3, 0.5, path)
      assert(collectedPairs(p2) == want)
      assert(c2.columns.toSeq == Seq("node", "component"))
      val stamp = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(s"$path/_params")), "UTF-8")
      assert(stamp == "kind=ngram;n=3;threshold=0.5;route=exact", stamp)
    }
  }

  test("minhash pair-graph artifact matches the direct computation (shared core)") {
    TempDirs.withTempDir("graft_pg_mh") { dir =>
      // near-identical long docs (J = 0.9): a 16-hash estimate of the
      // J = 0.6 corpus above is too noisy to clear the 0.5 emission
      // threshold reliably — this test pins the ARTIFACT life cycle, not
      // minhash recall (DedupSpec owns that)
      spark.createDataFrame(spark.sparkContext.parallelize(Seq(
        Row(0L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"),
        Row(1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda nu"),
        Row(2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda xi"),
        Row(3L, "totally different content about trino pipelines and engines"),
        Row(4L, "yet another unrelated trino document entirely on its own")), 1),
        docSchema).write.mode("overwrite").parquet(s"$dir/documents.parquet")
      val docs = spark.read.parquet(s"$dir/documents.parquet")
      val path = dir + "/mh_pair_graph_artifact"
      val (pairs, comp) = Dedup.ensureMinhashPairGraph(
        docs, "doc_id", "text", 16, 4, 0.5, path)
      val direct = Dedup.minhashCandidates(docs, "doc_id", "text", 16, 4, 0.5)
      assert(collectedPairs(pairs) == collectedPairs(direct))
      assert(collectedPairs(pairs).nonEmpty, "planted cluster must produce candidates")
      val directComp = graft.ops.Components
        .connectedComponents(direct, "id_a", "id_b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(comp.collect().map(r => (r.getLong(0), r.getLong(1))).toSet == directComp)
      // corrupt half rebuilds, same as the n-gram artifact (shared core)
      graft.Artifact.invalidate(path)
      spark.range(2).toDF("wrong").write.mode("overwrite").parquet(s"$path/pairs")
      val (p2, _) = Dedup.ensureMinhashPairGraph(
        docs, "doc_id", "text", 16, 4, 0.5, path)
      assert(collectedPairs(p2) == collectedPairs(direct))
    }
  }
}
