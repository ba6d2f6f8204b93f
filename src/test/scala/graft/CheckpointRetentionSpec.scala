package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Checkpoint-retention discipline (r15 review — the generalization of
  * ADVICE r14's resolveMinhashCap finding): every operator that
  * materializes an intermediate frame must release it at the point it
  * becomes dead — artifact BUILDS must leave NOTHING pinned (their
  * returned frames are parquet reads), query paths must leave pinned
  * only the checkpoints their returned frame actually reads. Each test
  * pins the exact surviving set, so a reintroduced leak fails by name.
  *
  * Counting is `sc.getPersistentRDDs` — it sees BOTH storage modes
  * (localCheckpoint pins RDDs directly; durable persist registers its
  * RDD too), and the suite-level sweep isolates tests from each other
  * the same way ExecSpec does. Releases are non-blocking, so counts
  * poll briefly.
  */
class CheckpointRetentionSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def sweep(): Unit = {
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(true))
    assert(pinned() == 0)
  }
  private def pinned(): Int = spark.sparkContext.getPersistentRDDs.size
  private def assertPinned(expect: Int, what: String): Unit = {
    val deadline = System.nanoTime() + 10e9.toLong
    while (pinned() != expect && System.nanoTime() < deadline) Thread.sleep(50)
    assert(pinned() == expect,
      s"$what: expected exactly $expect pinned RDDs, got ${pinned()}")
  }

  /** The PairGraphSpec planted near-dup corpus (sparse — exact route). */
  private def sparseDocs = Seq(
    (0L, "alpha beta gamma delta epsilon zeta"),
    (1L, "alpha beta gamma delta epsilon eta"),
    (2L, "alpha beta gamma delta epsilon theta"),
    (3L, "totally different content about retention pipelines"),
    (4L, "yet another unrelated retention document entirely"))
    .toDF("doc_id", "text")

  /** The DedupSpec planted dense corpus (routes banded at cap 100). */
  private def denseDocs = ((1 to 30).map(i =>
      (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta iota kappa unique$i tail$i")) ++
    Seq((31L, "omega psi chi phi upsilon tau sigma rho pi omicron"),
        (32L, "omega psi chi phi upsilon tau sigma rho pi omicron")))
    .toDF("doc_id", "text")

  test("ngramJaccardPairs exact route pins ONLY the exploded join frame") {
    sweep()
    // three materializes run (per-doc arrays, the stats frame, the
    // pre-partitioned exploded frame); only the last backs the
    // returned frame — arr and the stats checkpoint must be gone
    val pairs = graft.text.Dedup.ngramJaccardPairs(
      sparseDocs, "doc_id", "text", 3, 0.5)
    assert(pairs.count() >= 3)
    assertPinned(1, "exact ngram route (want: withN only)")
    sweep()
  }

  test("ngramJaccardPairs banded route pins ONLY the confirm's candidate + pruned frames") {
    sweep()
    // the banded route materializes arr, stats, base, sigs, cand, and
    // the pruned confirm side; the returned frame reads cand + pruned
    // only — arr/stats/sigs are dead in-function, base via the
    // documented releaseBasePruned ownership transfer
    val routed = graft.text.Dedup.ngramJaccardPairs(
      denseDocs, "doc_id", "text", 3, 0.5,
      maxCandidatePairs = 100L, routeDense = true)
    assert(routed.count() >= 1)
    assertPinned(2, "banded ngram route (want: cand + pruned confirm side)")
    sweep()
  }

  test("ensurePairGraph cold build leaves ZERO pinned checkpoints (both routes)") {
    for (routeDense <- Seq(false, true)) {
      sweep()
      val dir = java.nio.file.Files.createTempDirectory("graft_leak_pg").toString
      val docs = if (routeDense) denseDocs else sparseDocs
      val (pairs, comps) = graft.text.Dedup.ensurePairGraph(
        docs, "doc_id", "text", 3, 0.5, s"$dir/pg",
        maxCandidatePairs = if (routeDense) 100L else graft.text.Dedup.DefaultMaxCandidatePairs,
        routeDense = routeDense)
      // the returned frames are persisted parquet reads — nothing from
      // the build computation (including Components' star rounds on
      // the distributed path) may stay pinned
      assert(pairs.count() >= 1 && comps.count() >= 2)
      assertPinned(0, s"ensurePairGraph build (routeDense=$routeDense)")
    }
  }

  test("ensurePairGraph cold build leaves ZERO pinned checkpoints under DURABLE materialization") {
    // the durable mode retains lineage, so the build-path reap has to
    // find cached PARENT plans inside derived frames (the CacheBridge
    // walk) — the mode where release used to be a silent no-op
    sweep()
    spark.conf.set(graft.ops.Exec.DurableConf, "true")
    try {
      val dir = java.nio.file.Files.createTempDirectory("graft_leak_pgd").toString
      val (pairs, _) = graft.text.Dedup.ensurePairGraph(
        denseDocs, "doc_id", "text", 3, 0.5, s"$dir/pg",
        maxCandidatePairs = 100L, routeDense = true)
      assert(pairs.count() >= 1)
      assertPinned(0, "durable ensurePairGraph build")
    } finally spark.conf.unset(graft.ops.Exec.DurableConf)
  }

  test("ensureMinhashPairGraph cold build leaves ZERO pinned checkpoints") {
    // the r14/r15 resolver-release work, pinned end-to-end: the
    // resolver's shared shingle checkpoint, the signature build, the
    // pair computation, and the components run must ALL be reaped once
    // the three persisted halves land
    sweep()
    val dir = java.nio.file.Files.createTempDirectory("graft_leak_mh").toString
    val (pairs, comps) = graft.text.Dedup.ensureMinhashPairGraph(
      denseDocs, "doc_id", "text", numHashes = 32, bands = 16,
      minEstimate = 0.0, path = s"$dir/mh")
    assert(pairs.count() >= 1 && comps.count() >= 2)
    assertPinned(0, "ensureMinhashPairGraph build")
  }

  test("explicit minhash df cap: builds release the resolver's shared shingle arrays") {
    // an explicit finite cap skips the row-count gate, so the resolver
    // materializes its shared per-doc arrays on every call (the auto
    // cases above never pass the gate on this 32-doc corpus) — the
    // ResolvedCap.sharedArr release rule, pinned past the gate: cap 20
    // blacklists the 30-doc head's trigrams
    sweep()
    val dir = java.nio.file.Files.createTempDirectory("graft_leak_mhcap").toString
    val (pairs, comps) = graft.text.Dedup.ensureMinhashPairGraph(
      denseDocs, "doc_id", "text", numHashes = 32, bands = 16,
      minEstimate = 0.0, path = s"$dir/mh", maxShingleDf = 20L)
    assert(pairs.count() >= 1 && comps.count() >= 2)
    assertPinned(0, "explicit-cap ensureMinhashPairGraph build")
    val cand = graft.text.Dedup.minhashCandidates(
      denseDocs, "doc_id", "text", numHashes = 32, bands = 16,
      minEstimate = 0.0, maxShingleDf = 20L)
    assert(cand.count() >= 1)
    assertPinned(1, "explicit-cap minhashCandidates (want: signature frame only)")
    sweep()
  }

  test("minhashCandidates pins ONLY the signature frame") {
    sweep()
    // the resolver's shared shingle checkpoint must be released once
    // signatures are materialized (r14 ADVICE); the signature frame
    // backs the returned candidates (3 consumers) and stays
    val cand = graft.text.Dedup.minhashCandidates(
      denseDocs, "doc_id", "text", numHashes = 32, bands = 16,
      minEstimate = 0.0)
    assert(cand.count() >= 1)
    assertPinned(1, "minhashCandidates (want: signature frame only)")
    sweep()
  }

  test("ensureBigramModel cold build releases the token checkpoint") {
    sweep()
    val dir = java.nio.file.Files.createTempDirectory("graft_leak_lm").toString
    val m = graft.text.TextOps.ensureBigramModel(sparseDocs, "text", s"$dir/lm")
    assert(m.count() >= 1)
    assertPinned(0, "ensureBigramModel build")
  }

  test("pmiBigrams pins ONLY the two count tables") {
    sweep()
    val pmi = graft.text.TextOps.pmiBigrams(denseDocs, "text", minCount = 2L)
    assert(pmi.count() >= 1)
    assertPinned(2, "pmiBigrams (want: unigram + bigram count tables)")
    sweep()
  }

  test("retained-by-contract sites pin exactly the checkpoints their returned frame reads") {
    // The other half of the audit: operators whose materialized frame
    // BACKS the returned (lazy) result must retain exactly that frame —
    // pinning the count both directions catches a future leak AND a
    // future over-release (a released checkpoint a returned frame still
    // reads fails with an unrecoverable missing-block error at action
    // time). Callers own the release via Exec.release(returned frame);
    // Bench sweeps between queries.
    val bench = Seq((100L, "alpha beta gamma delta epsilon zeta")).toDF("doc_id", "text")
    val cases: Seq[(String, Int, () => org.apache.spark.sql.DataFrame)] = Seq(
      // r19: the contaminated-id materialize + count probe became an
      // AQE-delegated anti-join — decontaminate pins nothing now
      ("decontaminate (nothing — AQE-delegated anti-join)", 0,
        () => graft.text.Dedup.decontaminate(sparseDocs, bench, "doc_id", "text")),
      // r19: tf is materialized so the df-frequency aggregate reads it
      // instead of re-tokenizing the corpus (pruning splits the two
      // subtrees past exchange reuse, and AQE did not reuse the stage
      // even when a tautological filter restored canonical equality)
      ("tfidfTopTerms (tf aggregate)", 1,
        () => graft.text.TextOps.tfidfTopTerms(denseDocs, "doc_id", "text")),
      ("incrementalNew (probed batch)", 1,
        () => graft.text.Dedup.incrementalNew(sparseDocs,
          denseDocs.limit(5), "doc_id", "text", expected = 100L)),
      ("bm25TopDocs (candidate hit set)", 1,
        () => graft.text.TextOps.bm25TopDocs(denseDocs, "doc_id", "text",
          bench, "doc_id", "text", k = 3)),
      ("jsDivergence (joined vocabulary)", 1,
        () => graft.text.TextOps.jsDivergence(sparseDocs, denseDocs, "text")),
      ("weightedMedian (ranged copy)", 1,
        () => graft.ops.Aggs.weightedMedian(
          denseDocs.select(col("doc_id") % 4, col("doc_id").cast("double"), lit(1.0))
            .toDF("k", "v", "w"), col("k"), col("v"), col("w"))),
      ("contiguousIds (ranged copy)", 1,
        () => graft.ops.Ids.contiguousIds(sparseDocs, "rid", Seq(col("doc_id")))))
    cases.foreach { case (what, expect, run) =>
      sweep()
      val out = run()
      assert(out.count() >= 1, s"$what: empty result")
      assertPinned(expect, what)
      // the returned frame must still be fully consumable from its
      // pinned checkpoints (over-release shows up here)
      assert(out.count() >= 1, s"$what: result not re-readable")
      graft.ops.Exec.release(out)
    }
    sweep()
  }

  test("connectedComponents star path pins ONLY the edge input and the converged state") {
    sweep()
    // a 40-node path graph needs several star rounds — every
    // superseded round's checkpoint must be released as the next one
    // lands, not retained until a session sweep
    val edges = (1L until 40L).map(i => (i, i + 1)).toDF("a", "b")
    val cc = graft.ops.Components.connectedComponents(
      edges, "a", "b", localSolveMaxEdges = 0L)
    val comps = cc.collect()
    assert(comps.length == 40 && comps.forall(_.getLong(1) == 1L))
    assertPinned(2, "star components (want: edge input + converged state)")
    sweep()
  }

  test("pagerank truncation releases the superseded materialized ranks") {
    sweep()
    // 17 iterations truncate at i=8 and i=16; the i=8 frame must be
    // gone once i=16's lands (bare unpersist missed the localCheckpoint
    // RDD — it pinned every truncation for the session)
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 1L), (3L, 4L)).toDF("s", "t")
    val pr = graft.ops.PageRank.pagerank(edges, col("s"), col("t"), iterations = 17)
    assert(pr.count() == 4)
    // r19: nodes is a lazy derivation of the edge frame now (consumed
    // once, at emission) — only the degree-edges checkpoint and the
    // newest truncation survive
    assertPinned(2, "pagerank x17 (want: degree-edges + latest truncation)")
    sweep()
  }
}
