package graft.text

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Dedup operator specs: exact keeper semantics, Jaccard on known
  * overlaps, MinHash estimate ≈ 1 for identical docs, SimHash equality
  * for identical docs and closeness for near-identical docs. */
class DedupSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Contamination against the benchmark's distinct shingle set. */
  private def contaminationScore(corpus: org.apache.spark.sql.DataFrame,
                                 bench: org.apache.spark.sql.DataFrame,
                                 idCol: String, textCol: String) =
    Dedup.contaminationScoreAgainst(corpus,
      Dedup.shingleHashes(bench, idCol, textCol).select("shingle_h").distinct(),
      idCol, textCol, 3)

  private val docA = "the quick brown fox jumps over the lazy dog again and again"
  private val docB = "the quick brown fox jumps over the lazy dog again and again" // dup of A
  private val docC = "the quick brown fox jumps over the lazy cat again and again" // near-dup
  private val docD = "completely different content with no overlap whatsoever here now"

  private def docs = Seq((1L, docA), (2L, docB), (3L, docC), (4L, docD))
    .toDF("doc_id", "text")

  test("exact dedup groups identical texts and keeps min id") {
    val out = Dedup.exact(docs, "doc_id", "text")
      .orderBy("keeper_id")
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    assert(out.toSeq == Seq((1L, 2L), (3L, 1L), (4L, 1L)))
  }

  test("contamination score: benchmark self = 1, disjoint = 0, partial hand-checked") {
    // benchmark = doc 1. doc 4 shares nothing. doc 3 differs in one
    // word ("cat" for "dog"): of its 10 distinct shingles, the 3
    // containing "cat" are clean → 7/10 contaminated.
    val bench = docs.filter(col("doc_id") === 1)
    val got = contaminationScore(docs, bench, "doc_id", "text")
      .select("doc_id", "n_shingles", "n_common", "contamination")
      .as[(Long, Long, Long, Double)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(got(1L)._3 == 1.0 && got(2L)._3 == 1.0, s"dup of the benchmark is fully contaminated: $got")
    assert(got(4L) == ((7L, 0L, 0.0)), got(4L))
    assert(got(3L) == ((10L, 7L, 0.7)), got(3L))
    // empty benchmark → everything scores 0, rows survive
    val zeros = contaminationScore(docs, docs.filter(col("doc_id") < 0),
        "doc_id", "text")
      .select("contamination").as[Double].collect()
    assert(zeros.length == 4 && zeros.forall(_ == 0.0))
    // sub-n docs have no shingles and are absent
    val tiny = Seq((9L, "one two")).toDF("doc_id", "text")
    assert(contaminationScore(tiny, bench, "doc_id", "text").count() == 0)
  }

  test("ngram Jaccard: identical docs 1.0, near-dups high, disjoint absent") {
    val pairs = Dedup.ngramJaccardPairs(docs, "doc_id", "text", 3, 0.3)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(pairs((1L, 2L)) == 1.0)
    assert(pairs.contains((1L, 3L)) && pairs((1L, 3L)) > 0.3 && pairs((1L, 3L)) < 1.0)
    assert(!pairs.keys.exists { case (a, b) => b == 4L || a == 4L })
  }

  test("ngram Jaccard: hot-shingle DF cap bounds the pair join") {
    // Plant one hot shingle ("zz yy xx") shared by ALL docs; docs 1/2 also
    // share their full text. With the cap below the hot shingle's DF the
    // only pair evidence left is the genuinely shared rare shingles.
    val planted = Seq(
      (1L, "zz yy xx alpha beta gamma delta"),
      (2L, "zz yy xx alpha beta gamma delta"),
      (3L, "zz yy xx totally unrelated words here"),
      (4L, "zz yy xx other disjoint content entirely"),
      (5L, "zz yy xx fifth unique document body text")
    ).toDF("doc_id", "text")
    // uncapped: every doc pair shares the hot shingle → 10 candidate pairs
    val uncapped = Dedup.ngramJaccardPairs(planted, "doc_id", "text", 3, 0.0, Long.MaxValue)
    assert(uncapped.count() == 10)
    // capped below the hot shingle's DF (5): only 1-2 remain candidates
    val capped = Dedup.ngramJaccardPairs(planted, "doc_id", "text", 3, 0.0, 4L)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(capped.keySet == Set((1L, 2L)))
    assert(capped((1L, 2L)) == 1.0) // Jaccard over retained shingles only
    // cap above the true max DF: identical to uncapped (the sf0.01/0.1
    // guarantee behind the unchanged oracle hash)
    val wide = Dedup.ngramJaccardPairs(planted, "doc_id", "text", 3, 0.0, 5L)
    assert(wide.count() == 10)
  }

  test("ngram Jaccard: dense corpus fails loudly naming the banded path; routeDense takes it") {
    // Planted DENSE corpus (VERDICT r10 #2): 30 docs sharing a 10-token
    // template (8 common shingles, each df=30 — far below the hot cap,
    // so the guard does NOT shed them) + one identical pair. Post-guard
    // candidate mass = Σ df·(df−1)/2 ≈ 8·435 + …, well above the test
    // cap of 100 — the exact blocking join would be quadratic here.
    val dense = ((1 to 30).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon zeta eta theta iota kappa unique$i tail$i")) ++
      Seq((31L, "omega psi chi phi upsilon tau sigma rho pi omicron"),
          (32L, "omega psi chi phi upsilon tau sigma rho pi omicron")))
      .toDF("doc_id", "text")
    // default: loud failure naming the routed alternative and the knob
    val e = intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(dense, "doc_id", "text", 3, 0.5,
        maxCandidatePairs = 100L).count()
    }
    assert(e.getMessage.contains("routeDense") && e.getMessage.contains("MinHash"),
      s"failure must name the banded path and the opt-in flag: ${e.getMessage}")
    // routeDense = true: banded MinHash candidates + exact confirm.
    // Every emitted pair must carry the EXACT path's value (routed ⊆
    // exact with equal jaccard), the identical pair must surface at
    // 1.0, and recall over this high-sim corpus must be near-total.
    val exact = Dedup.ngramJaccardPairs(dense, "doc_id", "text", 3, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val routed = Dedup.ngramJaccardPairs(dense, "doc_id", "text", 3, 0.5,
        maxCandidatePairs = 100L, routeDense = true)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    routed.foreach { case (k, v) =>
      assert(exact.get(k).contains(v), s"routed pair $k=$v not value-equal to exact ${exact.get(k)}") }
    assert(routed((31L, 32L)) == 1.0)
    assert(routed.size >= (exact.size * 0.95).toInt,
      s"recall too low: routed ${routed.size} of exact ${exact.size}")
    // bandedBands = 8 (4-row bands, p = s⁴ per band): the chance-
    // collision-shedding configuration must keep value-parity and find
    // every exact duplicate — s = 1 collides in every band at any width
    val wide = Dedup.ngramJaccardPairs(dense, "doc_id", "text", 3, 0.5,
        maxCandidatePairs = 100L, routeDense = true, bandedBands = 8)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    wide.foreach { case (k, v) =>
      assert(exact.get(k).contains(v), s"wide-band pair $k=$v not value-equal to exact ${exact.get(k)}") }
    assert(wide((31L, 32L)) == 1.0, s"wide bands missed the planted duplicate: $wide")
  }

  test("bandedConfirm: broadcast and shuffled shapes are value-identical") {
    // the size guard picks the shape from the candidate count at run
    // time, so the dense (shuffled SMJ) branch never fires on small
    // specs — pin value parity between BOTH branches explicitly on one
    // corpus (r11: the broadcast shape is a pure plan change; any
    // value divergence is a bug in the prune, not a trade)
    val docs = ((1 to 12).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon zeta unique$i tail$i")) ++
      Seq((13L, "alpha beta gamma delta epsilon zeta unique1 tail1")))
      .toDF("doc_id", "text")
    val arr = Dedup.shingleHashArray(docs, "doc_id", "text", 3)
    val base = arr.select(col("doc_id"), col("__sh").as("__r"))
      .filter(size(col("__r")) > 0)
    val sigs = base.select(col("doc_id"),
      graft.functions.MinHashSigs.sigs(col("__r"), 32).as("signature"))
    val cand = Dedup.minhashCandidatesFromSigs(sigs, "doc_id", 32, 16, 0.0)
      .select(col("id_a"), col("id_b"))
    def run(bcast: Boolean) =
      Dedup.bandedConfirm(cand, base, "doc_id", 0.5, broadcastConfirm = bcast)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val (bc, sh) = (run(true), run(false))
    assert(bc == sh, s"broadcast/shuffled confirm diverged: $bc vs $sh")
    assert(bc.contains((1L, 13L)) && bc((1L, 13L)) == 1.0, s"planted dup missing: $bc")
    // this corpus is DENSE (candidate docs = the corpus), so run(false)
    // above took the UNPRUNED branch. A sparse corpus — candidate docs
    // a small minority — takes the r13 PRUNED middle tier (semi-join
    // on candidate ids before the shuffled confirm); pin its parity too
    val sparse = ((1 to 12).map(i =>
        (i.toLong, s"doc$i body$i words$i entirely$i unrelated$i content$i")) ++
      Seq((13L, "a planted duplicate pair lives right here now"),
          (14L, "a planted duplicate pair lives right here now")))
      .toDF("doc_id", "text")
    val sArr = Dedup.shingleHashArray(sparse, "doc_id", "text", 3)
    val sBase = sArr.select(col("doc_id"), col("__sh").as("__r"))
      .filter(size(col("__r")) > 0)
    val sCand = Dedup.minhashCandidatesFromSigs(
        sBase.select(col("doc_id"),
          graft.functions.MinHashSigs.sigs(col("__r"), 32).as("signature")),
        "doc_id", 32, 16, 0.0)
      .select(col("id_a"), col("id_b"))
    def runSparse(bcast: Boolean) =
      Dedup.bandedConfirm(sCand, sBase, "doc_id", 0.5, broadcastConfirm = bcast)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val (sbc, ssh) = (runSparse(true), runSparse(false))
    assert(sbc == ssh, s"broadcast/pruned-shuffled confirm diverged: $sbc vs $ssh")
    assert(sbc.get((13L, 14L)).contains(1.0), s"planted dup missing: $sbc")
  }

  test("bandedConfirm: byte gate demotes an oversized payload to the pruned shuffled shape") {
    // ADVICE r11 #1: the broadcast eligibility is a candidate COUNT
    // gate; the payload BYTES are measured over the pruned frame and
    // an oversized one must demote — value-identically — instead of
    // broadcasting MB-scale arrays into the driver. A zero budget
    // forces the demotion deterministically on any corpus.
    val docs = ((1 to 12).map(i =>
        (i.toLong, s"alpha beta gamma delta epsilon zeta unique$i tail$i")) ++
      Seq((13L, "alpha beta gamma delta epsilon zeta unique1 tail1")))
      .toDF("doc_id", "text")
    val arr = Dedup.shingleHashArray(docs, "doc_id", "text", 3)
    val base = arr.select(col("doc_id"), col("__sh").as("__r"))
      .filter(size(col("__r")) > 0)
    val sigs = base.select(col("doc_id"),
      graft.functions.MinHashSigs.sigs(col("__r"), 32).as("signature"))
    val cand = Dedup.minhashCandidatesFromSigs(sigs, "doc_id", 32, 16, 0.0)
      .select(col("id_a"), col("id_b"))
    val kept = Dedup.bandedConfirm(cand, base, "doc_id", 0.5, broadcastConfirm = true)
    val demoted = Dedup.bandedConfirm(cand, base, "doc_id", 0.5,
      broadcastConfirm = true, maxBroadcastBytes = 0L)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(rows(demoted) == rows(kept),
      "byte-gate demotion must be a pure plan change")
    // shape witness on what the gate actually controls: the broadcast
    // HINTS on the confirm sides. (Join OPERATOR assertions are
    // fixture-dependent here — this tiny in-memory base carries size
    // stats, so Spark statically broadcasts it under the 10 MB
    // auto-threshold either way; on the real path base is
    // checkpointed/stat-less and the hint is exactly what separates
    // zero-exchange from SMJ — DedupPlanSpec pins that.)
    assert(!demoted.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "zero budget must drop the broadcast hints from the confirm joins")
    assert(kept.queryExecution.analyzed.toString.contains("ResolvedHint"),
      "in-budget confirm must keep its broadcast hints")
  }

  test("minhash maxShingleDf: boilerplate cohort sheds from candidates, true dups survive") {
    // dev/SCALE_r12.md: a block shared by a cohort of m docs gives the
    // cohort pairwise LSH collisions growing m² — vocabulary-invariant.
    // The guard removes shingles with df > cap BEFORE signatures, so
    // the cohort stops colliding while exact duplicates (identical
    // retained sets) still collide in every band.
    val boiler = "copyright header all rights reserved by the corpus authority"
    val docs = ((1 to 12).map(i =>
        (i.toLong, s"$boiler unique$i words$i tail$i extra$i")) ++
      Seq((13L, "a genuinely distinct document body one two three"),
          (14L, "a genuinely distinct document body one two three")))
      .toDF("doc_id", "text")
    def cands(cap: Long) =
      Dedup.minhashCandidates(docs, "doc_id", "text", numHashes = 16,
          bands = 8, minEstimate = 0.0, maxShingleDf = cap)
        .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    val uncapped = cands(Long.MaxValue)
    val cohortPairs = uncapped.keys.filter { case (a, b) => a <= 12 && b <= 12 }
    assert(cohortPairs.nonEmpty, s"fixture must collide the cohort: $uncapped")
    assert(uncapped.get((13L, 14L)).contains(1.0), s"true dup missing: $uncapped")
    // cap below the cohort df (12) but above every non-boilerplate df:
    // cohort pairs vanish, the true duplicate still estimates 1.0
    val capped = cands(8L)
    assert(!capped.keys.exists { case (a, b) => a <= 12 && b <= 12 },
      s"capped candidates must shed the boilerplate cohort: $capped")
    assert(capped.get((13L, 14L)).contains(1.0), s"true dup must survive the cap: $capped")
    // a cap above the true max df is a no-op: bit-identical candidates
    assert(cands(1000L) == uncapped, "inactive cap must be value-identical")
  }

  test("minhash maxShingleDf: pure-boilerplate duplicates drop from signatures by contract") {
    // review r12: a doc whose EVERY shingle exceeds the cap retains
    // nothing and emits NO pairs — even when those docs are exact
    // duplicates of each other (pure-furniture duplicates are exact
    // content-hash dedup's job, not a similarity question). The
    // scaladoc states this boundary; this pins it.
    val boiler = "copyright header all rights reserved by the corpus authority"
    val docs = (1 to 10).map(i => (i.toLong, boiler)).toDF("doc_id", "text")
    val capped = Dedup.minhashCandidates(docs, "doc_id", "text", numHashes = 16,
        bands = 8, minEstimate = 0.0, maxShingleDf = 5L)
    assert(capped.count() == 0, "all-boilerplate docs must emit no pairs under the cap")
    assert(Dedup.minhashSignatures(docs, "doc_id", "text", 16, maxShingleDf = 5L)
      .count() == 0, "all-boilerplate docs must drop from signatures under the cap")
    // and the exact content-hash operator — the documented tool for
    // this shape — still groups all ten under one keeper
    val groups = Dedup.exact(docs, "doc_id", "text").collect()
    assert(groups.length == 1 && groups.head.getLong(2) == 10L,
      s"exact dedup must group all 10 copies: ${groups.mkString(",")}")
  }

  test("hot-shingle stats: the one pass equals the exact aggregate, boundary df == cap not hot") {
    // cohort of 12 docs sharing a boilerplate block (block trigrams
    // df = 12) + one true-dup pair (their trigrams df = 2). The minhash
    // df cap runs the exact path's stats pass over the resolver's
    // per-doc DISTINCT arrays; its blacklist must equal the aggregate
    // twin's and the explicit-cap resolution must serve exactly it.
    val boiler = "copyright header all rights reserved by the corpus authority"
    val cdocs = ((1 to 12).map(i =>
        (i.toLong, s"$boiler unique$i words$i tail$i extra$i")) ++
      Seq((13L, "a genuinely distinct document body one two three"),
          (14L, "a genuinely distinct document body one two three")))
      .toDF("doc_id", "text")
    val raw = Dedup.shingleHashArray(cdocs, "doc_id", "text", distinct = false)
    val arr = Dedup.shingleHashArray(cdocs, "doc_id", "text")
    def hotOf(cap: Long) = Dedup.collectShingleStats(arr, cap)((hot, _) => hot).get
    for (cap <- Seq(1L, 2L, 5L, 11L, 12L, 13L)) {
      val hot = hotOf(cap)
      val want = Dedup.shingleStatsAgg(arr, cap).collect()
        .filter(_.getInt(0) == 0).map(r => (r.getLong(1), r.getLong(2))).toSet
      val got = hot.map(r => (r.getLong(1), r.getLong(2))).toSet
      assert(got == want, s"cap=$cap: $got != $want")
      val resolved = Dedup.resolveMinhashCap(cdocs, "doc_id", "text", cap)
      try assert(resolved.cap == cap && resolved.blacklist.map(_.toSet).contains(want.map(_._1)),
        s"cap=$cap: resolver blacklist ${resolved.blacklist.map(_.toSet)} != ${want.map(_._1)}")
      finally resolved.sharedArr.foreach(graft.ops.Exec.release)
      // exact mass re-derived independently: Σ df·(df−1)/2 over hot
      val wantMass = raw.select(explode(array_distinct(col("__sh"))).as("s"))
        .filter(col("s").isNotNull).groupBy("s").count()
        .filter(col("count") > cap)
        .agg(coalesce(sum(col("count") * (col("count") - 1) / 2), lit(0.0)))
        .head().getDouble(0)
      assert(Dedup.hotMass(hot) == wantMass, s"cap=$cap mass: ${Dedup.hotMass(hot)} != $wantMass")
    }
    // boundary: the block trigrams have df exactly 12 — a cap of 12
    // must NOT flag them (the contract is strictly greater)
    assert(hotOf(12L).isEmpty)
    assert(hotOf(11L).nonEmpty)
  }

  test("minhash df cap counts documents, not occurrences: a trigram repeated inside one doc is not hot") {
    // doc 1 repeats its three trigrams 4-5 times each (df 1); "shared
    // tail words" sits in 4 docs (df 4). Resolved from raw text at
    // cap 3, only the df-4 trigram is hot — a stats pass over
    // occurrence counts (non-distinct arrays) would blacklist doc 1's
    // repeats too.
    val abc = Seq.fill(5)("alpha beta gamma").mkString(" ")
    val docs = (Seq((1L, abc)) ++ Seq("one", "two", "three", "four").zipWithIndex.map {
      case (w, i) => ((i + 2).toLong, s"$w shared tail words") })
      .toDF("doc_id", "text")
    def fp(t: String) = Dedup.shingleHashArray(Seq((0L, t)).toDF("doc_id", "text"),
      "doc_id", "text").head().getSeq[Long](1).head
    val resolved = Dedup.resolveMinhashCap(docs, "doc_id", "text", 3L)
    try {
      val bl = resolved.blacklist.get.toSet
      assert(bl == Set(fp("shared tail words")),
        s"blacklist must hold only the df-4 trigram, got ${bl.size} entries " +
          "(an in-document repeat counted as df?)")
    } finally resolved.sharedArr.foreach(graft.ops.Exec.release)
  }

  test("minhash auto df-guard: engages on a real cohort, matches the manual cap; clean corpus bit-identical") {
    // 1500 docs sharing a 10-token boilerplate head: 8 block trigrams
    // at df = 1500 > DefaultMaxShingleDf, hot mass ≈ 8 × 1.12e6 ≈ 9e6
    // > AutoEngageHotPairs — the PUBLIC default path must engage. Two
    // clean exact-duplicate docs are the retention witnesses.
    val cohort = spark.range(1, 1501).select(col("id").as("doc_id"),
      concat(lit("shared boilerplate header block repeated verbatim across cohort tail "),
        col("id"), lit(" unique "), col("id") * 7, lit(" suffix "), col("id") * 13).as("text"))
    val hot = cohort.unionByName(
      Seq((2001L, "a genuinely clean document body one two three four"),
          (2002L, "a genuinely clean document body one two three four"))
        .toDF("doc_id", "text"))
    def sigSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Int](1).toVector)).toSet
    val auto = sigSet(Dedup.minhashSignatures(hot, "doc_id", "text", 16))
    val manual = sigSet(Dedup.minhashSignatures(hot, "doc_id", "text", 16,
      maxShingleDf = Dedup.DefaultMaxShingleDf))
    val uncapped = sigSet(Dedup.minhashSignatures(hot, "doc_id", "text", 16,
      maxShingleDf = Long.MaxValue))
    assert(auto == manual, "engaged auto must equal the manual default cap exactly")
    assert(auto != uncapped, "the fixture must actually engage (cohort shingles shed)")
    // candidates: the true dup survives at estimate 1.0; the cohort
    // (sharing ONLY hot shingles) no longer pairs above threshold
    val cand = Dedup.minhashCandidates(hot, "doc_id", "text", numHashes = 16,
        bands = 8, minEstimate = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cand.get((2001L, 2002L)).contains(1.0), s"true dup must survive: $cand")
    assert(!cand.keys.exists { case (a, b) => a <= 1500 && b <= 1500 },
      s"cohort pairs must shed under the engaged guard: ${cand.take(5)}")
    // clean corpus (hot mass 0): auto must be BIT-identical to uncapped
    val clean = docs
    assert(sigSet(Dedup.minhashSignatures(clean, "doc_id", "text", 16)) ==
      sigSet(Dedup.minhashSignatures(clean, "doc_id", "text", 16, Long.MaxValue)),
      "un-engaged auto must be value-identical to uncapped")
    // an oversized blacklist DISENGAGES auto (the pre-guard default,
    // loud warn) instead of hard-failing a corpus that ran fine before
    // the guard existed; the explicit-cap wrapper keeps the loud
    // failure with the remedy (review r13)
    val dis = Dedup.resolveMinhashCap(hot, "doc_id", "text",
      Dedup.AutoShingleDf, maxBlacklistRows = 3L)
    assert(dis.cap == Long.MaxValue && dis.blacklist.isEmpty,
      "auto must disengage (uncapped) when the blacklist exceeds the driver bound")
    val eOver = intercept[IllegalArgumentException] {
      Dedup.resolveMinhashCap(hot, "doc_id", "text",
        Dedup.DefaultMaxShingleDf, maxBlacklistRows = 3L)
    }
    assert(eOver.getMessage.contains("hot-shingle blacklist") &&
      eOver.getMessage.contains("raise maxShingleDf"), eOver.getMessage)
    // explicit values below 1 (other than the sentinel) are loud
    intercept[IllegalArgumentException] {
      Dedup.minhashSignatures(clean, "doc_id", "text", 16, maxShingleDf = 0L)
    }
    intercept[IllegalArgumentException] {
      Dedup.ngramJaccardPairs(clean, "doc_id", "text", 3, 0.5,
        maxShingleDf = Dedup.AutoShingleDf)
    }
  }

  test("collectShingleStats: guard bounds ONLY the blacklist rows; all-hot final runs stream both emissions") {
    // r15 (ADVICE r14): the stats collect previously probed the raw
    // fold output, so the per-partition mass-partial rows counted
    // against the 4M blacklist bound (a blacklist just under the
    // bound tripped the guard with a hot-shingle misattribution) and
    // Guard's CollectLimit ramp re-ran the stats sort per attempt.
    // Now: a corpus whose blacklist has exactly `bound` hot shingles
    // must PASS at maxBlacklistRows = bound (the partial rows — one
    // per stats partition, far more than `bound` here — no longer
    // count), and one more hot shingle must fail with the blacklist
    // message.
    val cohort = (1 to 9).flatMap(d => (1 to 5).map(c =>
      ((d * 10 + c).toLong, s"shared boiler block d$d common text")))
      .toDF("doc_id", "text")
    val arr = Dedup.shingleHashArray(cohort, "doc_id", "text", 3)
    val nHot = Dedup.shingleStats(arr, 2L).collect().count(_.getInt(0) == 0)
    assert(nHot > 1, s"fixture needs >1 hot shingle, got $nHot")
    def hotOf(bound: Long) =
      Dedup.collectShingleStats(arr, 2L, maxBlacklistRows = bound)((h, _) => h)
    val hot = hotOf(nHot.toLong).get
    assert(hot.length == nHot, "at-bound blacklist must pass the guard")
    assert(hotOf(nHot.toLong - 1).isEmpty,
      "one hot shingle past the bound must report over")
    // all-hot corpus (every shingle df=5 > cap=2): every partition's
    // FINAL run is hot, exercising the streaming fold's two-pending
    // emissions at stream end (hot row, then the mass partial); the
    // sub-cap mass must be zero and the blacklist must match the
    // aggregate spec twin
    val wantHot = Dedup.shingleStatsAgg(arr, 2L).collect()
      .filter(_.getInt(0) == 0).map(_.getLong(1)).toSet
    assert(hot.map(_.getLong(1)).toSet == wantHot, "blacklist != aggregate spec twin")
    val allDup = (1 to 5).map(i => (i.toLong, "one single shared body of text"))
      .toDF("doc_id", "text")
    val (h2, m2) = Dedup.collectShingleStats(
      Dedup.shingleHashArray(allDup, "doc_id", "text", 3), 2L)((h, m) => (h, m())).get
    assert(h2.nonEmpty && m2 == 0.0,
      s"all-hot corpus: expected nonempty blacklist with zero sub-cap mass, got ${h2.length}/$m2")
  }

  test("collectShingleStats: the candidate mass costs a job only when the caller reads it") {
    // the exact path's density router reads the mass; the minhash cap
    // weighs only the hot rows' own df, so an explicit-cap resolution
    // must cost the shared-array build plus the hot-row collect and
    // nothing more (the mass sum used to run on every resolution)
    val cohort = (1 to 9).flatMap(d => (1 to 5).map(c =>
      ((d * 10 + c).toLong, s"shared boiler block d$d common text")))
      .toDF("doc_id", "text")
    def jobsOf(body: => Unit): Int = {
      val meter = graft.Harness.meter(spark)
      try { val before = meter.settle().jobs; body; meter.settle().jobs - before }
      finally meter.close()
    }
    val arr = graft.ops.Exec.materialize(Dedup.shingleHashArray(cohort, "doc_id", "text"))
    try {
      val hotOnly = jobsOf(Dedup.collectShingleStats(arr, 2L)((h, _) => h))
      val withMass = jobsOf(Dedup.collectShingleStats(arr, 2L)((h, m) => (h, m())))
      assert(withMass == hotOnly + 1, s"the mass sum is one job: $hotOnly -> $withMass")
      val arrJobs = jobsOf(graft.ops.Exec.release(graft.ops.Exec.materialize(
        Dedup.shingleHashArray(cohort, "doc_id", "text"))))
      val resolveJobs = jobsOf(
        Dedup.resolveMinhashCap(cohort, "doc_id", "text", 2L).sharedArr
          .foreach(graft.ops.Exec.release))
      assert(resolveJobs == arrJobs + hotOnly,
        s"explicit-cap resolution ran $resolveJobs jobs, want $arrJobs + $hotOnly " +
          "(the array build and the hot-row collect, no mass job)")
    } finally graft.ops.Exec.release(arr)
  }

  test("auto df-guard row-count gate: skip-below-bound == detector-run; the looser pair-bound is unsound") {
    // r14 (VERDICT r13 #2): N docs <= DefaultMaxShingleDf => no shingle
    // can exceed the cap (df <= N), so auto skips the detector and
    // returns the uncapped plan. Pin skip == stats-pass run: a 900-doc
    // corpus ALL sharing a boilerplate head (the worst case below the
    // bound) must resolve uncapped under the gate, carry an empty
    // blacklist under the stats pass, and produce identical signatures.
    val sub = spark.range(1, 901).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta shared head "),
        col("id"), lit(" unique "), col("id") * 7).as("text"))
    val gated = Dedup.resolveMinhashCap(sub, "doc_id", "text", Dedup.AutoShingleDf)
    assert(gated.cap == Long.MaxValue && gated.blacklist.isEmpty &&
      gated.sharedArr.isEmpty, "gate must skip the detector below the doc bound")
    val hotBelow = Dedup.collectShingleStats(
      Dedup.shingleHashArray(sub, "doc_id", "text"), Dedup.DefaultMaxShingleDf)((h, _) => h).get
    assert(hotBelow.isEmpty && Dedup.hotMass(hotBelow) == 0.0,
      "stats-pass result below the bound must be un-engaged — the gate's claim")
    def sigSet(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getSeq[Int](1).toVector)).toSet
    assert(sigSet(Dedup.minhashSignatures(sub, "doc_id", "text", 16)) ==
      sigSet(Dedup.minhashSignatures(sub, "doc_id", "text", 16, Long.MaxValue)),
      "gated auto must be value-identical to uncapped")
    // FALSIFICATION of the looser VERDICT-proposed gate (skip while
    // N(N-1)/2 <= engage mass, i.e. N <= ~1414): the engage mass SUMS
    // over hot shingles. 1,100 docs sharing a 4-token head carry TWO
    // trigram shingles at df = 1,100 > cap => mass = 2 * C(1100, 2) =
    // 1,208,900 > 1e6 — the detector ENGAGES inside that bound's skip
    // zone, so skipping there would change results (defect class #21:
    // a bound that fits the intuition can still be wrong).
    val cohort = spark.range(1, 1101).select(col("id").as("doc_id"),
      concat(lit("alpha beta gamma delta "),
        col("id"), lit(" unique "), col("id") * 7).as("text"))
    assert(1100L * 1099 / 2 <= Dedup.AutoEngageHotPairs,
      "fixture must sit inside the unsound bound's skip zone")
    val engaged = Dedup.resolveMinhashCap(cohort, "doc_id", "text", Dedup.AutoShingleDf)
    assert(engaged.cap == Dedup.DefaultMaxShingleDf &&
      engaged.blacklist.exists(_.length == 2),
      s"1100-doc 2-shingle cohort must engage (got cap=${engaged.cap}, " +
        s"blacklist=${engaged.blacklist.map(_.length)})")
  }

  test("minhash: identical docs estimate 1.0 and are candidates") {
    val cand = Dedup.minhashCandidates(docs, "doc_id", "text", 16, 4, 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    assert(cand((1L, 2L)) == 1.0)
  }

  test("simhash: identical docs equal, near-dups within small hamming distance") {
    val sh = Dedup.simhash(docs, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(sh(1L) == sh(2L))
    val hammingAC = java.lang.Long.bitCount(sh(1L) ^ sh(3L))
    val hammingAD = java.lang.Long.bitCount(sh(1L) ^ sh(4L))
    assert(hammingAC < hammingAD, s"near-dup hamming $hammingAC !< disjoint $hammingAD")
  }

  test("decontaminate drops benchmark-overlapping docs, keeps clean ones") {
    import spark.implicits._
    val benchmark = Seq(
      (900L, "the quick brown fox jumps over the lazy dog tonight")
    ).toDF("doc_id", "text")
    val corpus = Seq(
      // verbatim leak: shares every benchmark shingle
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      // partial leak: a 7-token benchmark phrase -> 5 common 3-grams
      (2L, "witness the quick brown fox jumps over the barn"),
      // brief echo: only 2 common 3-grams -> survives minCommon=5
      (3L, "he saw the quick brown fox and left quickly after"),
      // clean
      (4L, "completely unrelated text about spark query planning today")
    ).toDF("doc_id", "text")
    val kept5 = graft.text.Dedup.decontaminate(corpus, benchmark,
      "doc_id", "text", n = 3, minCommon = 5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept5 == Set(3L, 4L), s"minCommon=5 kept $kept5")
    // the minCommon=1 path (broadcast semi, no count) drops any overlap
    val kept1 = graft.text.Dedup.decontaminate(corpus, benchmark,
      "doc_id", "text", n = 3, minCommon = 1)
      .select("doc_id").as[Long].collect().toSet
    assert(kept1 == Set(4L), s"minCommon=1 kept $kept1")
  }

  test("decontaminate: majority-contaminated corpus identical under broadcast and shuffled anti-join") {
    import spark.implicits._
    // A pathological benchmark that overlaps MOST of the corpus: the
    // size-guard must flip the keep-side anti-join to the shuffled path
    // without changing the result.
    val body = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    val corpusRows = (1L to 9L).map(i => (i, s"prefix$i $body suffix$i")) :+
      (10L, "totally clean document about unrelated matters entirely here today")
    // r19: a positive maxBroadcastIds defers the strategy to AQE, so the
    // broadcast leg must PROVE it actually planned a broadcast anti-join
    // (a silent AQE decline would degenerate this differential into
    // shuffle-vs-shuffle) — and the <=0 leg must prove the merge pin held.
    // r20: the broadcast leg runs in an ISOLATED session (own SQLConf on
    // the shared SparkContext) with adaptive off and the broadcast
    // threshold pinned at Long.MaxValue, so the static planner picks the
    // broadcast anti-join DETERMINISTICALLY (size estimates can't demote
    // it) and nothing mutates the shared session's conf — the r19
    // set/unset of spark.sql.adaptive.enabled was estimate- and
    // environment-sensitive and flaked the driver's run.
    val iso = spark.newSession()
    iso.conf.set("spark.sql.adaptive.enabled", "false")
    iso.conf.set("spark.sql.autoBroadcastJoinThreshold", Long.MaxValue.toString)
    val viaBroadcast = {
      val isoBench = iso.createDataFrame(Seq((900L, body))).toDF("doc_id", "text")
      val isoCorpus = iso.createDataFrame(corpusRows).toDF("doc_id", "text")
      val f = Dedup.decontaminate(isoCorpus, isoBench, "doc_id", "text",
        n = 3, minCommon = 3, maxBroadcastIds = Long.MaxValue)
      // collect() on the frame ITSELF finalizes its own QueryExecution —
      // a derived .select would leave the plan under assertion unexecuted
      val bRows = f.collect()
      val bPlan = f.queryExecution.executedPlan.toString
      // line-level: the ANTI-join itself must be broadcast (phase 2's
      // inner benchmark join is a hinted broadcast in BOTH legs, so a
      // plan-wide contains() would not distinguish the strategies)
      assert(bPlan.linesIterator.exists(l =>
          l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
        s"broadcast leg did not plan a broadcast anti-join:\n$bPlan")
      bRows.map(_.getAs[Long]("doc_id")).toSet
    }
    // Shuffled leg on the shared session: the merge hint pins SMJ under
    // static planning and AQE re-optimization alike.
    val benchmark = Seq((900L, body)).toDF("doc_id", "text")
    val corpus = corpusRows.toDF("doc_id", "text")
    val sFrame = Dedup.decontaminate(corpus, benchmark, "doc_id", "text",
      n = 3, minCommon = 3, maxBroadcastIds = 0L)
    val sRows = sFrame.collect()
    val viaShuffle = sRows.map(_.getAs[Long]("doc_id")).toSet
    val sPlan = sFrame.queryExecution.executedPlan.toString
    assert(sPlan.linesIterator.exists(l =>
        l.contains("SortMergeJoin") && l.contains("LeftAnti")),
      s"merge-pinned leg did not plan a sort-merge anti-join:\n$sPlan")
    assert(!sPlan.linesIterator.exists(l =>
        l.contains("BroadcastHashJoin") && l.contains("LeftAnti")),
      s"merge-pinned leg planned a broadcast anti-join anyway:\n$sPlan")
    assert(viaBroadcast == Set(10L), s"broadcast path kept $viaBroadcast")
    assert(viaShuffle == viaBroadcast, s"shuffled path diverged: $viaShuffle")
  }

  test("decontaminate: bloom gate changes nothing at high fpp (exact confirm wins)") {
    import spark.implicits._
    // Force a sloppy bloom (fpp 0.5 over a tiny set): phase 1 over-flags
    // aggressively, phase 2's exact confirm must still produce the exact
    // answer — including keeping docs whose overlap is below minCommon.
    val benchmark = Seq((900L, "the quick brown fox jumps over the lazy dog tonight"))
      .toDF("doc_id", "text")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog tonight"),
      (2L, "he saw the quick brown fox and left quickly after"),
      (3L, "completely unrelated text about spark query planning today")
    ).toDF("doc_id", "text")
    val kept = Dedup.decontaminate(corpus, benchmark, "doc_id", "text",
        n = 3, minCommon = 5, bloomFpp = 0.5)
      .select("doc_id").as[Long].collect().toSet
    assert(kept == Set(2L, 3L), s"kept $kept")
  }

  test("incrementalNew admits exactly the fingerprint-new batch rows") {
    // Corpus: A and D. Batch: an exact copy of A (id 10), a copy of A
    // differing only in punctuation/case (id 11 — same NORMALIZED
    // fingerprint, so a duplicate), the near-dup C (one word changed —
    // a DIFFERENT fingerprint, so admitted), and a fresh doc (id 13).
    val corpus = Seq((1L, docA), (4L, docD)).toDF("doc_id", "text")
    val batch = Seq(
      (10L, docA),
      (11L, docA.toUpperCase + "!!!"),
      (12L, docC),
      (13L, "entirely new content never seen before in any corpus")
    ).toDF("doc_id", "text")
    val got = Dedup.incrementalNew(corpus, batch, "doc_id", "text", 1000L)
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == Seq(12L, 13L), s"got ${got.toSeq}")
  }

  test("incrementalNew equals the plain anti-join even at pathological fpp") {
    // fpp 0.5 floods the exact-confirm phase with false positives; the
    // result must not change (phase 2 recovers every one of them).
    val corpus = (0L until 50L).map(i => (i, s"corpus doc number $i with body")).toDF("doc_id", "text")
    // Batch rows i in [0,50) duplicate corpus texts; [50,80) are new.
    val batch = (0L until 80L).map(i => (100 + i, s"corpus doc number $i with body")).toDF("doc_id", "text")
    val loose = Dedup.incrementalNew(corpus, batch, "doc_id", "text", 1000L, fpp = 0.5)
      .select("doc_id").as[Long].collect().sorted
    val tight = Dedup.incrementalNew(corpus, batch, "doc_id", "text", 1000L, fpp = 0.001)
      .select("doc_id").as[Long].collect().sorted
    assert(loose.toSeq == (150L until 180L), s"got ${loose.toSeq}")
    assert(loose.toSeq == tight.toSeq)
  }

  test("incrementalNew admits a fully-dup-free batch (empty positive set)") {
    // No batch row duplicates the corpus and the tight fpp yields no
    // bloom false positives — so the positive set driving the reverse
    // gate's bloom is EMPTY. Everything must still be admitted (this
    // is the normal daily-crawl case, and the regression shape for the
    // zero-row bloomFilter NPE).
    val corpus = (0L until 20L).map(i => (i, s"established corpus text $i body")).toDF("doc_id", "text")
    val batch = (0L until 10L).map(i => (100 + i, s"brand new crawl item $i payload")).toDF("doc_id", "text")
    val got = Dedup.incrementalNew(corpus, batch, "doc_id", "text", 1000L, fpp = 0.001)
      .select("doc_id").as[Long].collect().sorted
    assert(got.toSeq == (100L until 110L), s"got ${got.toSeq}")
  }

  test("minhash components: LSH clustering matches exact-pair clustering on planted chained dups") {
    import graft.ops.Components
    // Chained duplicates: A~B and B~C strongly similar (so both the
    // exact Jaccard pairs and the LSH candidates find the chain), D/E a
    // second pair, F a singleton. Pair-local keeping would keep a member
    // of {A,B,C} twice; components must resolve each chain to ONE group.
    val base = "zero one two three four five six seven eight nine ten eleven twelve"
    val chained = Seq(
      (1L, base),
      (2L, base + " thirteen"),
      (3L, base + " thirteen fourteen"),
      (20L, "totally different body of words about streaming engines and state"),
      (21L, "totally different body of words about streaming engines and state"),
      (30L, "a lone document with nothing in common with any other one here")
    ).toDF("doc_id", "text")
    def clusters(pairs: org.apache.spark.sql.DataFrame): Set[Set[Long]] =
      Components.connectedComponents(pairs, "id_a", "id_b")
        .collect().map(r => r.getLong(1) -> r.getLong(0))
        .groupBy(_._1).values.map(_.map(_._2).toSet).toSet
    val exactCl = clusters(Dedup.ngramJaccardPairs(chained, "doc_id", "text", 3, 0.5))
    val lshCl = clusters(Dedup.minhashCandidates(chained, "doc_id", "text", 16, 4, 0.5))
    assert(exactCl == Set(Set(1L, 2L, 3L), Set(20L, 21L)), s"exact clustering: $exactCl")
    assert(lshCl == exactCl, s"LSH clustering diverged: $lshCl vs $exactCl")
  }

  test("simhashNearDup: chunk banding finds exactly the brute-force pairs") {
    for (k <- Seq(0, 3, 7)) {
      val banded = Dedup.simhashNearDup(docs, "doc_id", "text", maxHamming = k)
        .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getInt(2)).toMap
      // brute force over the same signatures: the pigeonhole banding
      // must lose nothing and invent nothing
      val sig = Dedup.simhash(docs, "doc_id", "text")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val brute = (for {
        a <- sig.keys; b <- sig.keys if a < b
        h = java.lang.Long.bitCount(sig(a) ^ sig(b)) if h <= k
      } yield (a, b) -> h).toMap
      assert(banded == brute, s"k=$k: banded=$banded brute=$brute")
    }
  }
}
