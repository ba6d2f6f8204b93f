package graft.text

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Exec, Exprs, Guard}

/** Deduplication operators for 100-TB-scale corpora: exact, n-gram
  * Jaccard, MinHash+LSH, SimHash. All are shuffle-on-key dataflows
  * (group-by content hash / shingle / band bucket) with no driver-side
  * loops, so they parallelize by key at any scale; the LSH variants
  * bound the candidate-pair explosion that makes naive all-pairs
  * dedup quadratic.
  */
object Dedup {

  /** Exact dedup by content hash: one hash-shuffle, keeps the minimum id
    * per text as the canonical keeper. */
  def exact(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_copies"))

  /** Per-document distinct `window`-token spans, exploded in the scan
    * projection — THE span semantics (tokenizer, window arithmetic,
    * per-doc distinct, sub-window docs absent) shared by the blocklist
    * builder and both coverage probes: one definition, so the builder
    * and its probes can never drift apart on what counts as a span
    * (`idCols` empty for the doc-anonymous blocklist build). */
  private def docSpans(df: DataFrame, idCols: Seq[org.apache.spark.sql.Column],
                       textCol: String, window: Int): DataFrame = {
    val t = graft.text.TextOps.tokens(col(textCol))
    df.select(idCols :+ t.as("__t"): _*)
      .filter(size(col("__t")) >= window)
      .select(idCols :+ explode(array_distinct(transform(
        sequence(lit(1), size(col("__t")) - (window - 1)),
        i => concat_ws(" ", slice(col("__t"), i, lit(window)))))).as("span"): _*)
  }

  /** Cross-document span duplication: every `window`-token span that
    * occurs in at least `minDocs` DISTINCT documents, with its document
    * frequency — the C4-style boilerplate-detection step (navigation
    * chrome, license footers, template text repeat VERBATIM across
    * pages; doc-level near-dup never sees them). The emitted table is
    * the boilerplate blocklist; the strip step is an anti-join of each
    * doc's exploded spans against it.
    *
    * Within one document a span counts ONCE no matter how often it
    * repeats (internal repetition is [[TextOps.repetitionStats]]'
    * business) — hence the per-doc distinct before the corpus count
    * ([[docSpans]]). Docs shorter than `window` contribute nothing
    * (filtered BEFORE `sequence`, which would otherwise descend for
    * negative spans).
    *
    * Scale shape: span explosion AND the per-doc distinct are
    * scan-local (`array_distinct` in the projection — a `.distinct()`
    * would be a second full shuffle on (doc, span)); the ONE shuffle
    * aggregates document frequency on the span string with map-side
    * partial counts absorbing hot boilerplate. */
  def crossDocSpans(df: DataFrame, textCol: String,
                    window: Int = 4, minDocs: Long = 2L): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    require(minDocs >= 2, s"minDocs must be >= 2, got $minDocs")
    docSpans(df, Seq.empty, textCol, window)
      .groupBy(col("span")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") >= minDocs)
  }

  /** Boilerplate coverage per document: how much of each doc is made of
    * cross-document spans — the DECISION step on top of
    * [[crossDocSpans]]' blocklist. Emits per doc its distinct-span
    * count, how many of those spans are corpus boilerplate (in the
    * blocklist), and the fraction — threshold it to drop
    * template-dominated pages, or anti-join the flagged spans to strip.
    * Same span semantics as [[crossDocSpans]] (per-doc distinct,
    * sub-`window` docs absent).
    *
    * `blocklist` is PRE-BUILT ([[crossDocSpans]] /
    * [[ensureSpanBlocklist]] schema: span, n_docs — already filtered to
    * ≥ minDocs): only the per-doc span scan, the probe join, and the
    * doc-keyed coverage aggregate run — the span-keyed blocklist
    * shuffle was paid once at ingest. The probe join is left to AQE: a
    * small blocklist (the common case) broadcasts, so the probe side
    * never exchanges; a pathological one falls back to a shuffle join.
    * The blocklist must come from the SAME corpus generation (stamp the
    * artifact path) or coverage fractions silently drift. */
  def spanCoverageWithBlocklist(df: DataFrame, idCol: String, textCol: String,
                                window: Int, blocklist: DataFrame): DataFrame = {
    require(window >= 2, s"window must be >= 2, got $window")
    docSpans(df, Seq(col(idCol)), textCol, window)
      .join(blocklist.select(col("span"), lit(1).as("__boiler")),
        Seq("span"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_spans"), count(col("__boiler")).as("n_boiler"))
      .withColumn("boiler_frac", graft.ops.Exprs.r4(
        col("n_boiler").cast("double") / col("n_spans").cast("double")))
  }

  /** Build-or-load the [[crossDocSpans]] boilerplate blocklist as a
    * persisted artifact — the C4-style span table is corpus-level
    * state exactly like the pair graph and the bigram LM: one
    * span-keyed shuffle over the whole corpus at ingest, then every
    * strip/coverage/report consumer loads it. Same life cycle as
    * [[ensurePairGraph]] ([[graft.Artifact]]): stamp-keyed path,
    * per-JVM memo, integrity probe with rebuild-on-mismatch, atomic
    * publish. */
  def ensureSpanBlocklist(df: DataFrame, textCol: String,
                          window: Int, minDocs: Long, path: String): DataFrame =
    graft.Artifact.table(df.sparkSession, path, Seq("span", "n_docs"))(
      crossDocSpans(df, textCol, window, minDocs))

  /** 64-bit shingle fingerprints per document, built without
    * materializing shingle strings: xxhash64 folds the n token strings
    * of each gram directly. `distinct` dedups grams *within* a document
    * (set semantics, required by Jaccard; MinHash skips it — min is
    * multiset-insensitive). Downstream blocking joins and DF counts run
    * on 8-byte longs instead of ~25-byte strings: smaller shuffles,
    * cheaper compares. Expected colliding gram pairs ≈ d²/2⁶⁵ for d
    * distinct grams corpus-wide (~0.03 at 10⁹, ~3·10⁴ at 10¹²); a
    * collision shifts one candidate pair's intersection count by ±1 —
    * noise far below the threshold margin for true near-dups —
    * documented and accepted. */
  def shingleHashes(df: DataFrame, idCol: String, textCol: String,
                    n: Int = 3, distinct: Boolean = true): DataFrame =
    shingleHashArray(df, idCol, textCol, n, distinct)
      .select(col(idCol), explode(col("__sh")).as("shingle_h"))

  /** The pre-explode form of [[shingleHashes]]: one `array<bigint>` of
    * shingle fingerprints per document, via the native `shingle_hashes`
    * kernel — tokenize once, fingerprint every gram in one fused codegen
    * loop. The per-document array is what the projection-shaped
    * signature kernels ([[minhashSignatures]]) consume — no explode, no
    * shuffle. (The higher-order formulation is kept in SigKernelsSpec,
    * the executable spec the kernel is parity-tested against — and a
    * cautionary tale: with the token array in its projection,
    * CollapseProject inlines the split() into every element_at and
    * re-tokenizes the document per gram.) */
  def shingleHashArray(df: DataFrame, idCol: String, textCol: String,
                       n: Int = 3, distinct: Boolean = true): DataFrame =
    df.select(col(idCol),
      graft.functions.ShingleHashes
        .shingles(TextOps.tokens(col(textCol)), n, distinct).as("__sh"))

  /** Exact n-gram Jaccard near-dup pairs: explode shingles, self-join on
    * shingle (blocking — only docs sharing ≥1 shingle ever meet), count
    * common shingles, Jaccard = |∩| / |∪|. Compared on the rounded value
    * so threshold boundaries are engine-stable. Blocking/counting run on
    * [[shingleHashes]] fingerprints (value-identical to string shingles
    * modulo the documented collision bound).
    *
    * `maxShingleDf` bounds the skew bomb in the blocking join: a
    * high-document-frequency shingle (a stop-phrase like "of the the")
    * creates an O(df²) pair bucket — at corpus scale a single hot
    * 3-gram is a job-killer. Shingles with document frequency above the
    * cap are dropped *before* the join (and before the per-doc counts,
    * so Jaccard stays internally consistent: it is computed over the
    * retained shingle set). Hot-shingle handling is linear (one hash
    * count per shingle + a broadcast anti-join), never quadratic. With
    * the cap above the
    * corpus's true max DF the result is exactly the uncapped Jaccard —
    * the testdata max is 25 at sf0.1, so the default drops nothing
    * there; at 100 TB the cap is the documented approximation: near-dup
    * evidence from ultra-common shingles carries no signal anyway. */
  /** Density cliff for the EXACT pair path, in SURVIVING candidate
    * rows: the blocking join emits exactly Σ_shingle df·(df−1)/2 rows
    * over the post-guard DF distribution — the quantity
    * dev/SCALE_r10.md measured growing superlinearly. Note the cap
    * counts the ordered pairs that survive the `id_a < id_b`
    * predicate, which Spark applies AFTER the equi-join match: the
    * physical join ITERATES ~Σ df² matches per shingle (≈ 2× the
    * counted mass, plus df self-matches), so physical join work is a
    * known constant factor above the knob — the knob still scales 1:1
    * with it (ADVICE r11 #5). 2e9 candidates ≈ tens of GB of
    * pair-frame shuffle before the length filter sees a row: past this
    * the exact algorithm is the wrong tool regardless of cluster size,
    * and the banded MinHash path (candidates linear in docs-per-bucket)
    * is the documented alternative. The r10 scale generator's 10×
    * point sits ~2 orders of magnitude below the cliff; sf0.1 testdata
    * (max DF 25) is ~5 orders below — the default never routes them. */
  val DefaultMaxCandidatePairs: Long = 2000000000L

  /** Candidate-count ceiling for the banded route's broadcast confirm
    * shape: below it, the candidate ids and both pruned array sides are
    * ELIGIBLE for broadcast (zero confirm exchanges); above it, the
    * confirm stays a shuffled SMJ. The count is a cheap first gate
    * (the candidate frame is already materialized); the byte estimate
    * that actually sizes the broadcast payload is measured inside
    * [[bandedConfirm]] against [[MaxBroadcastConfirmBytes]], because a
    * "~800 B of retained arrays per doc" assumption does not hold for
    * MB-scale documents — few candidates can still carry a driver-
    * crushing payload (ADVICE r11 #1). The realistic near-dup density
    * sits far below this count (the 30× scale point has 15k). */
  val MaxBroadcastConfirmCandidates: Long = 100000L

  /** Byte budget for the broadcast confirm shape's payload — the
    * pruned per-doc retained-shingle arrays, the WIDEST rows in the
    * dedup pipeline. Measured (Σ array lengths × 8 B element payload
    * + 64 B/row envelope) over the already-materialized pruned frame
    * in one cheap aggregate, never assumed from the candidate count.
    * Above the budget [[bandedConfirm]] demotes to the shuffled join
    * over the SAME pruned frame — the semi-join pruning win is kept;
    * only the broadcast is dropped. 1 GiB: both confirm sides
    * broadcast the frame independently, so the worst-case driver hold
    * is ~2× this — comfortable inside default driver memory and far
    * under Spark's 8 GB per-table broadcast hard cap. */
  val MaxBroadcastConfirmBytes: Long = 1L << 30

  /** Byte budget for broadcasting the candidate-ID set into the
    * confirm's pruning semi-join when the pair count is past
    * [[MaxBroadcastConfirmCandidates]] (r13). Ids are scalars — a few
    * dozen bytes each, measured (octet_length + 16 B envelope), never
    * assumed — so tens of millions of candidate docs still fit; a
    * broadcast id semi prunes inside the base scan and saves the full
    * base-table shuffle a shuffled semi would pay (dev/SCALE_r13.md
    * §5: that shuffle was the banded family's whole superlinear
    * term). */
  val MaxBroadcastIdBytes: Long = 256L << 20

  /** `bandedBands` tunes the ROUTED path's recall/shuffle trade
    * (ignored on the exact path): the 32-hash signature splits into
    * `bandedBands` bands of 32/bands rows, so a pair's band-collision
    * probability is s^(32/bands) per band and recall
    * 1−(1−s^(32/bands))^bands. The default 16 (2-row bands) favors
    * recall; on corpora whose RANDOM-pair similarity is non-negligible
    * (small/fixed vocabularies), chance collisions grow ~n² and can
    * push the confirm stage past its broadcast cap — fewer, wider
    * bands (e.g. 8 ⇒ s⁴) shed them at the candidate-generation stage
    * (the components-family knob witness, dev/SCALE_r11.md). Exact
    * duplicates (s = 1) collide in every band at any width. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Long = DefaultMaxShingleDf,
                        maxCandidatePairs: Long = DefaultMaxCandidatePairs,
                        routeDense: Boolean = false,
                        bandedBands: Int = 16): DataFrame =
    ngramJaccardPairsRouted(df, idCol, textCol, n, threshold, maxShingleDf,
      maxCandidatePairs, routeDense, bandedBands)._1

  /** [[ngramJaccardPairs]] plus the route actually taken (`"exact"` |
    * `"banded"`) — the density decision is made here, per corpus, so
    * only this layer knows which algorithm produced the rows. The
    * artifact layer ([[ensurePairGraph]]) stamps the route into the
    * persisted `_params` sidecar: a banded (recall < 1) graph must
    * never be served to a consumer that asked for the exact one. */
  private[text] def ngramJaccardPairsRouted(
                        df: DataFrame, idCol: String, textCol: String,
                        n: Int = 3, threshold: Double = 0.5,
                        maxShingleDf: Long = DefaultMaxShingleDf,
                        maxCandidatePairs: Long = DefaultMaxCandidatePairs,
                        routeDense: Boolean = false,
                        bandedBands: Int = 16): (DataFrame, String) = {
    // the AUTO sentinel is a minhash-path contract; here df > -1 would
    // silently blacklist EVERY shingle — fail loudly instead
    require(maxShingleDf >= 1,
      s"maxShingleDf must be >= 1 on the exact ngram path (got $maxShingleDf; " +
        "AutoShingleDf applies only to the minhash path)")
    // Eagerly materialize the PRE-EXPLODE per-doc shingle arrays once
    // (Exec.materialize — local checkpoint locally, durable persist on
    // a cluster): both downstream branches consume them, a lazy
    // .cache() would race the consumers into computing the same
    // partitions, and the array form checkpoints one row per document
    // instead of one per (doc, shingle).
    val arr = Exec.materialize(shingleHashArray(df, idCol, textCol, n))
    // The DF cap: one partial-aggregated hash count finds the *hot*
    // shingles (df > cap). Hot shingles are rare by construction — that
    // is the point of the cap (|hot| < total shingle rows / cap) — so
    // they come back to the driver as a small constant array, and both
    // the per-doc retained count AND the hot-shingle removal become a
    // scan-projection kernel: ZERO extra shuffles (the former
    // groupBy-count-then-rejoin shape shuffled the exploded stream
    // twice more). The removal is [[graft.functions.LongSetRemove]],
    // not `array_except(__sh, lit(hot))`: array_except rebuilds its
    // comparison hash set from the literal ON EVERY ROW — O(rows ×
    // |hot|), the per-row cliff this cap exists to avoid — while the
    // kernel sorts the blacklist once and probes by binary search
    // (equal output on these distinct arrays, pinned in
    // SigKernelsSpec). The guard fails loudly if a pathological
    // corpus/cap combination would materialize an oversized blacklist.
    // Density routing (VERDICT r10 #2): the same per-shingle DF pass
    // that finds the hot shingles also yields the EXACT count of the
    // blocking join's SURVIVING output — Σ over retained shingles of
    // df·(df−1)/2 ordered-pair rows (id_a < id_b is a post-join
    // predicate, so the physical join iterates ~Σ df² matches, a
    // known ≈2× constant above this count — see
    // DefaultMaxCandidatePairs) — which is the one measured
    // superlinear quantity of the exact path (dev/SCALE_r10.md). Both
    // facts ride ONE evaluation of ONE sort-fold pass (r14/r15 — see
    // [[shingleStats]] and [[collectShingleStats]] for the
    // materialize-probe-release collect discipline): hot rows bound
    // by the blacklist guard, mass partials summed on the driver.
    // Density is summed in DOUBLE: it is a routing decision, not a
    // result, and a petabyte corpus's Σdf² overflows long.
    val (hotRows, candidateMass) =
      collectShingleStats(arr, maxShingleDf)((hot, mass) => (hot, mass()))
        .getOrElse(throw blacklistOverflow(maxShingleDf, MaxBlacklistRows))
    val retained =
      if (hotRows.isEmpty) col("__sh")
      else graft.functions.LongSetRemove.remove(col("__sh"), hotRows.map(_.getLong(1)))
    if (candidateMass > maxCandidatePairs) {
      if (!routeDense)
        throw new IllegalArgumentException(
          f"ngramJaccardPairs: corpus too dense for the exact pair path — the " +
          f"blocking join would emit ${candidateMass}%.3g candidate rows " +
          f"(> maxCandidatePairs = $maxCandidatePairs; Σ df·(df−1)/2 over retained " +
          f"shingles). Pass routeDense = true to take the banded MinHash path " +
          f"(exact Jaccard on LSH candidates — recall<1 on low-sim pairs), raise " +
          f"maxCandidatePairs, or lower maxShingleDf to shed the densest shingles.")
      val log = org.apache.logging.log4j.LogManager.getLogger(getClass)
      log.warn(f"ngramJaccardPairs: routing dense corpus (${candidateMass}%.3g candidate " +
        f"rows > $maxCandidatePairs) to the banded MinHash path")
      val banded = bandedJaccardPairs(
        arr.select(col(idCol), retained.as("__r")), idCol, threshold,
        bands = bandedBands)
      // bandedJaccardPairs materializes its retained base EAGERLY as
      // its first step, so by the time it returns `arr` has no
      // consumer left — the returned frame reads the banded path's own
      // checkpoints. Release it here instead of pinning one
      // corpus-sized copy until a session-level sweep (the
      // resolveMinhashCap retention rule, r15 review).
      Exec.release(arr)
      return (banded, "banded")
    }
    // Per-doc retained-shingle count attached *before* the pair join
    // (linear rows — the post-aggregation alternative joins the
    // quadratic pair frame twice), which enables the exact
    // AllPairs/PPJoin *length filter*: J(a,b) ≤ min(nₐ,n_b)/max(nₐ,n_b),
    // so pairs whose sizes are too lopsided are dropped before the
    // pair aggregation ever sees them. The bound uses a 1e-4 slack so
    // pairs whose true Jaccard rounds up to the 4-dp threshold survive.
    // Explode once and pre-partition on the join key INSIDE the
    // materialization: both self-join sides then inherit
    // HashPartitioning(shingle_h) from the same materialized frame, so
    // the blocking join plans with ZERO exchanges under it (sorts
    // only) — the aliased-sides formulation re-shuffled the exploded
    // stream twice (column renames defeat Spark's ReuseExchange). One
    // full shuffle of the shingled corpus instead of two at 100 TB.
    val withN = Exec.materialize(
      arr.select(col(idCol), retained.as("__r"))
        .select(col(idCol), size(col("__r")).as("n_sh"), explode(col("__r")).as("shingle_h"))
        .repartition(col("shingle_h")))
    // withN is the last consumer of the per-doc arrays — the returned
    // frame reads withN's checkpoint, never arr's (r15 review: same
    // retention rule as the banded route above)
    Exec.release(arr)
    val a = withN.select(col(idCol).as("id_a"), col("shingle_h"), col("n_sh").as("n_a"))
    val b = withN.select(col(idCol).as("id_b"), col("shingle_h"), col("n_sh").as("n_b"))
    val tEff = threshold - 1e-4
    (a.join(b, Seq("shingle_h"))
      .filter(col("id_a") < col("id_b") &&
        least(col("n_a"), col("n_b")) >= greatest(col("n_a"), col("n_b")) * tEff)
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("common"), max(col("n_a")).as("n_a"), max(col("n_b")).as("n_b"))
      .select(col("id_a"), col("id_b"),
        Exprs.r4(col("common").cast("double") /
          (col("n_a") + col("n_b") - col("common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold), "exact")
  }

  /** The one df pass behind every hot-shingle decision — the exact
    * path's guard AND density router, and the minhash df cap
    * ([[resolveMinhashCap]]): hot-shingle rows (`__t = 0`, value in
    * `__v`, its df in `__df`) plus per-partition PARTIAL sums of the
    * post-guard candidate-mass Σ df·(df−1)/2 (`__t = 1`, partial in
    * `__mass` — [[collectShingleStats]] sums them on the driver and
    * bounds ONLY the `__t = 0` rows against the blacklist guard's 4M
    * bound).
    *
    * Shape (r14, VERDICT r13 #3; sort kernel swapped r15): ONE shuffle
    * of the exploded corpus hash-partitioned on the fingerprint, an
    * IN-TASK primitive sort ([[graft.ops.LongRunSort]] — 8 B/element
    * `long[]` chunks, LZ4 raw-long spill past the chunk budget), and a
    * streaming run-length fold emitting both outputs in one pass. The
    * r13 shape was a groupBy-count whose FINAL-stage hash maps held
    * each partition's whole distinct-key set — ~31M keys/task at the
    * 100× scale point, 43 GiB of measured memory spill
    * (dev/SCALE_r13.md §5's residual) — and computed that aggregate
    * TWICE above one ReusedExchange (once per branch). The r14
    * `sortWithinPartitions` kernel fixed that but still paid the
    * generic row sorter's ~36 B/record for an 8-byte key and spilled
    * 6.6 GiB at 100× with the width ladder exhausted
    * (dev/SCALE_r15.md §2b); the primitive kernel holds the same
    * partition in 4.5× less memory. Mostly-unique keys — the exact
    * regime that defeats hash aggregation — are the sort's best case.
    *
    * Trade, explicit: the hash shape combined duplicate keys map-side
    * BEFORE the shuffle; this shape shuffles the raw exploded stream,
    * so a shingle of document frequency df ships df rows instead of
    * min(df, P) partials — the delta is the corpus's duplicate-shingle
    * occurrence mass, measured at the 30×/100× scale points against
    * the spill it removes (dev/SCALE_r14.md).
    *
    * Partitioning contract: the EXPLICIT partition count pins a plain
    * hash exchange that AQE neither coalesces nor splits, so every
    * occurrence of a fingerprint lands in exactly one partition and
    * the run-length count IS the exact df. Blacklist and mass are
    * property-differentialed against the aggregate formulation
    * ([[shingleStatsAgg]]) under repartitioning in DedupPropertySpec;
    * the one-exchange/zero-hash-aggregate plan is pinned in
    * DedupPlanSpec.
    *
    * Null array elements carry no blocking power (the pair join's
    * equi-key never matches null) and the signature kernels skip
    * them — so they must neither join the blacklist (a hot null would
    * NPE the typed collect at the call site) nor inflate the
    * candidate-mass routing sum (defect class #5: null keys group as
    * a value). The run length is a DOCUMENT frequency only over
    * per-document DISTINCT arrays — every caller passes
    * `shingleHashArray(distinct = true)`.
    *
    * `chunkLongs` is the in-task sort budget; `0` derives it from the
    * executor (see [[graft.ops.LongRunSort.runCursor]]) — a positive
    * value exists only to force the spill path in tests. */
  private[text] def shingleStats(arr: DataFrame, maxShingleDf: Long,
      chunkLongs: Int = 0): DataFrame = {
    val spark = arr.sparkSession
    import spark.implicits._
    // 4x the session's shuffle width: a SORT buffers its whole
    // partition where a hash exchange streams, so the stats stage
    // wants narrower partitions than the join stages the session knob
    // is sized for. Measured at the 30x/100x scale points
    // (dev/SCALE_r14.md): 1x-width sorts spilled 1.9/4.9 GiB under the
    // collect's ramp attempt, 4x fits 30x outright and cuts 100x to
    // its last ramp attempt; 8x REGRESSES — the map-side shuffle
    // writer's per-partition buffers overflow instead (9.2 GiB map
    // spill, +25% wall). Extra reduce tasks are milliseconds each, and
    // this pass runs once per corpus generation (artifact build),
    // never per decision query.
    val parts = 4 * math.max(1, spark.sessionState.conf.numShufflePartitions)
    // In-task primitive sort (r15, [[graft.ops.LongRunSort]]): the
    // generic sortWithinPartitions buffered ~36 bytes/record for this
    // 8-byte payload and spilled 6.6 GiB of sorter memory at the 100×
    // scale point with the width ladder exhausted (6× regresses into
    // map-side writer spill — dev/SCALE_r15.md §2b). The kernel sorts
    // the same stream in one long[] chunk at exactly 8 B/element
    // (4.5× denser), spilling LZ4-framed raw longs past the chunk
    // budget OR when the task memory manager asks (r16: the chunk is
    // acquired as an execution-memory grant, so Spark sees it and can
    // reclaim it under pressure). The budget is derived per-executor
    // inside the task (a quarter of the JVM's per-core heap share) as
    // a fairness ceiling.
    arr.select(explode(col("__sh")).as("shingle_h"))
      .filter(col("shingle_h").isNotNull)
      .repartition(parts, col("shingle_h"))
      .as[Long]
      .mapPartitions { it =>
        // Streaming run-length fold — O(1) state outside the sort
        // chunk, NO per-partition hot buffer: a pathological low-cap
        // corpus can make most of a partition's shingles hot, and
        // buffering its hot rows would OOM the task where the
        // driver-side 4M-row guard is the intended loud failure
        // (ADVICE r14). Hot rows stream out as their runs close; the
        // partition's mass partial follows the last run. The fold
        // consumes the primitive cursor, not the boxed-tuple view:
        // with mostly-unique keys a tuple per run is ~3 allocations
        // per input element — at 10⁹ elements the GC churn would
        // cost more than the spill this kernel removes
        val runs = graft.ops.LongRunSort.runCursor(it, chunkLongs)
        new Iterator[(Int, Long, Long, Double)] {
          private var mass = 0.0
          private var massEmitted = false
          private var hasPending = false
          private var pending: (Int, Long, Long, Double) = null
          private def advance(): Unit = {
            while (!hasPending && runs.nextRun()) {
              val cnt = runs.runCount
              if (cnt > maxShingleDf) { pending = (0, runs.runValue, cnt, 0.0); hasPending = true }
              else mass += cnt.toDouble * (cnt - 1).toDouble / 2.0
            }
            if (!hasPending && !massEmitted) {
              pending = (1, 0L, 0L, mass); hasPending = true; massEmitted = true
            }
          }
          override def hasNext: Boolean = { advance(); hasPending }
          override def next(): (Int, Long, Long, Double) = {
            advance()
            if (!hasPending) throw new NoSuchElementException("stats fold drained")
            hasPending = false
            pending
          }
        }
      }.toDF("__t", "__v", "__df", "__mass")
  }

  /** The one evaluation + driver collect of [[shingleStats]]:
    * `Some(use(hot rows, candidate mass))`, or `None` when the
    * blacklist holds more than `maxBlacklistRows` shingles — the
    * caller picks the loud remedy ([[blacklistOverflow]]: the exact
    * path, explicit minhash caps) or auto mode's disengage
    * ([[resolveMinhashCap]]).
    *
    * The stats frame is [[graft.ops.Exec.materialize]]d BEFORE the
    * guard probes it (r15): [[graft.ops.Guard]]'s CollectLimit ramps
    * partition prefixes (1 → 4 → 16 → 64 …), and since EVERY
    * partition emits a mass-partial row the probe always scans to
    * exhaustion — so the ramp's later attempts ran the stats sort at
    * full 32-task concurrency under squeezed per-task memory grants
    * (the 64-partition attempt alone spilled 4.9 GiB at the 100×
    * scale point, dev/SCALE_r14.md §1). Materializing runs the sort
    * once as one job and the ramp then reads pinned tiny blocks; the
    * checkpoint is released before returning (failure paths
    * included).
    *
    * The guard bounds ONLY the `__t = 0` blacklist rows (ADVICE r14):
    * the former probe counted the mass-partial rows against the same
    * 4M bound, so a blacklist just under it tripped the guard with a
    * message misattributing the excess to hot shingles.
    *
    * The mass is one more job — a collect of the pinned per-partition
    * partials, summed on the driver (a global aggregate adds a
    * shuffle stage, i.e. a second job under AQE) — so `use` gets it as
    * a thunk and only a caller that reads it pays: the exact path's
    * density router does; the minhash cap, which weighs the hot rows'
    * own df, does not. The thunk is valid only inside `use`. */
  private[text] def collectShingleStats[T](arr: DataFrame, maxShingleDf: Long,
      maxBlacklistRows: Long = MaxBlacklistRows)(
      use: (Array[org.apache.spark.sql.Row], () => Double) => T): Option[T] = {
    val statsMat = Exec.materialize(shingleStats(arr, maxShingleDf))
    try Guard.probe(statsMat.filter(col("__t") === 0), maxBlacklistRows).map { hot =>
      use(hot, () => statsMat.filter(col("__t") === 1).select(col("__mass"))
        .collect().iterator.map(_.getDouble(0)).sum)
    } finally Exec.release(statsMat)
  }

  /** The loud failure for a blacklist past the driver bound, naming
    * the remedy. */
  private def blacklistOverflow(cap: Long, maxBlacklistRows: Long): IllegalArgumentException =
    Guard.overCap(s"hot-shingle blacklist (df > $cap)", maxBlacklistRows,
      "raise maxShingleDf or pre-filter boilerplate before dedup")

  /** Σ df·(df−1)/2 over collected hot rows: the quadratic pair mass a
    * hot cohort injects into every band join downstream. */
  private[text] def hotMass(hot: Array[org.apache.spark.sql.Row]): Double =
    hot.iterator.map { r => val d = r.getLong(2).toDouble; d * (d - 1.0) / 2.0 }.sum

  /** The r13 aggregate formulation of [[shingleStats]] — kept as the
    * executable spec the sort-fold is property-differentialed against
    * (its final-stage hash maps hold every distinct key and spill at
    * scale, so it is not the production path). Emits the 1-row global
    * mass sum; the call-site contract (sum the `__t = 1` rows) covers
    * both shapes. */
  private[text] def shingleStatsAgg(arr: DataFrame, maxShingleDf: Long): DataFrame = {
    val dfCounts = arr.select(explode(col("__sh")).as("shingle_h"))
      .filter(col("shingle_h").isNotNull)
      .groupBy(col("shingle_h"))
      .agg(count(lit(1)).as("__df"))
    dfCounts.filter(col("__df") > maxShingleDf)
      .select(lit(0).as("__t"), col("shingle_h").as("__v"), col("__df"), lit(0.0).as("__mass"))
      .unionAll(dfCounts.select(
        lit(1).as("__t"), lit(0L).as("__v"), lit(0L).as("__df"),
        coalesce(sum(when(col("__df") <= maxShingleDf,
          col("__df").cast("double") * (col("__df") - 1).cast("double") / 2)),
          lit(0.0)).as("__mass")))
  }

  /** The dense-corpus route of [[ngramJaccardPairs]]: MinHash-banded
    * candidate generation + exact-Jaccard confirm, over the SAME
    * retained (post hot-shingle removal) distinct shingle arrays the
    * exact path scores — so every emitted pair carries the exact
    * path's exact `jaccard` value and schema; the only divergence is
    * recall (a true pair whose docs collide in no band is missed).
    * 32 hashes × `bands` bands (default 16 ⇒ 2 rows/band, recall
    * 1−(1−s²)¹⁶: ≈0.99 at s=0.5, ≈0.9998 at s=0.7 — the high-sim
    * pairs dedup exists to find are essentially never missed; see
    * [[ngramJaccardPairs]]'s `bandedBands` doc for when fewer, wider
    * bands are the right trade). Candidates are NOT pre-filtered
    * on the signature estimate (`minEstimate = 0`): the exact confirm
    * is the filter, so banding is the only recall loss. Scale shape:
    * candidates are linear in docs-per-bucket (never Σdf² — the cliff
    * that routed here), and the confirm joins the candidate pairs back
    * to the per-doc arrays — linear in candidates. */
  private def bandedJaccardPairs(retainedArr: DataFrame, idCol: String,
                                 threshold: Double,
                                 bands: Int = 16): DataFrame = {
    val numHashes = 32
    // eager: 3 consumers (signature derivation + both confirm sides)
    val base = Exec.materialize(retainedArr.filter(size(col("__r")) > 0))
    val sigs = Exec.materialize(base.select(col(idCol),
      graft.functions.MinHashSigs.sigs(col("__r"), numHashes).as("signature")))
    // eager: 3+ consumers below (the count probe, the id-prune union
    // reading it twice on the broadcast branch, the confirm chain).
    // IDs only (r15): this route confirms with exact Jaccard, so the
    // signature-estimate join would compute a column the next line
    // discards — see minhashCandidateIds
    val cand = Exec.materialize(
      minhashCandidateIds(sigs, idCol, numHashes, bands))
    // the signatures fed ONLY the candidate generation (this route
    // confirms over the retained ARRAYS in `base`) — dead once cand is
    // materialized (r15 review: the resolveMinhashCap retention rule)
    Exec.release(sigs)
    // Confirm-stage shape, size-guarded: the per-doc retained arrays
    // are the WIDEST rows in this pipeline (~8 B × shingles/doc), and
    // a checkpointed frame carries NO size stats, so the static plan
    // for the confirm joins is always SMJ — which shuffles the full
    // array table per join side regardless of how few candidates
    // exist (AQE can only switch the join operator after the input
    // stages have already shuffled, so it never wins the exchange
    // back). Candidates are SPARSE in the realistic near-dup regime,
    // so when the (already-materialized, cheap-to-count) candidate
    // set is small we force the broadcast shape end-to-end: broadcast
    // the candidate ids into a semi that scan-filters the array
    // table, then broadcast both pruned array sides into the pair
    // joins — ZERO confirm-stage exchanges (A/B at the 10× scale
    // point, like-for-like single-family JVMs: banded family shuffle
    // write 1061 → 685 MiB, wall 45 → 27 s; the remainder is the band
    // join + signature-estimate joins, which are the linear floor —
    // dev/SCALE_r11.md). Above the cap, broadcasting the id set would
    // risk the driver, but bandedConfirm still PRUNES the shuffled
    // confirm through a candidate-id semi-join while candidate docs
    // are a minority of the corpus (r13 — dev/SCALE_r13.md §5); only
    // a corpus whose candidates rival it keeps the unpruned SMJ.
    val nCand = cand.count()
    val bcastEligible = nCand <= MaxBroadcastConfirmCandidates
    org.apache.logging.log4j.LogManager.getLogger(getClass).info(
      f"bandedConfirm shape: $nCand%,d candidate pairs → " +
        (if (bcastEligible) "broadcast-eligible (byte gate decides)"
         else "shuffled confirm (prune gate decides)"))
    bandedConfirm(cand, base, idCol, threshold, broadcastConfirm = bcastEligible,
      releaseBasePruned = true)
  }

  /** The exact-Jaccard confirm stage of the banded route, with the
    * join shape explicit so EVERY shape is value-parity-testable
    * (DedupSpec pins them equal on the same corpus):
    * `broadcastConfirm = true` is the candidate-sparse plan (zero
    * exchanges), `false` the dense fallback.
    *
    * `broadcastConfirm = true` is an ELIGIBILITY, not a command: the
    * broadcast payload (the pruned retained-shingle arrays) is
    * byte-measured over the materialized pruned frame, and above
    * `maxBroadcastBytes` the stage demotes to the shuffled join over
    * that same pruned frame — value-identical (the pruning semi-join
    * only drops docs in no candidate pair), loudly logged, and never
    * a driver OOM on a long-document corpus (ADVICE r11 #1).
    *
    * `broadcastConfirm = false` PRUNES TOO when it pays (r13, the fix
    * behind the family's former 1.37 top-decade shuffle exponent —
    * dev/SCALE_r13.md §5): the per-stage classification showed the
    * whole excess was this branch's UNPRUNED SMJ shuffling the full
    * retained-array table the moment candidates crossed the broadcast
    * count gate, while the candidate docs were still ≪ the corpus. A
    * shuffled semi-join on the candidate ids now prunes the confirm
    * sides whenever distinct candidate docs ≤ half the corpus (both
    * counts are cheap: cand is materialized, base is materialized);
    * past that — candidates genuinely rivaling the corpus — pruning
    * would add a full base shuffle for nothing and the unpruned SMJ
    * remains the right plan. All three shapes are value-identical by
    * the same argument: pruning only drops docs in no candidate
    * pair. */
  /** `releaseBasePruned` (r15 review): when true, the PRUNED shapes
    * release `base`'s pinned blocks as soon as the pruned frame is
    * materialized — at that point the confirm reads only the pruned
    * copy and `base` is a dead corpus-sized checkpoint. Opt-in
    * (default false) because it transfers ownership: the production
    * caller ([[bandedJaccardPairs]]) never touches `base` again, while
    * the spec twins deliberately reuse one `base` across several
    * shape calls. The unpruned shape keeps `base` live regardless. */
  private[text] def bandedConfirm(cand: DataFrame, base: DataFrame,
                                  idCol: String, threshold: Double,
                                  broadcastConfirm: Boolean,
                                  maxBroadcastBytes: Long = MaxBroadcastConfirmBytes,
                                  maxIdBytes: Long = MaxBroadcastIdBytes,
                                  releaseBasePruned: Boolean = false): DataFrame = {
    val log = org.apache.logging.log4j.LogManager.getLogger(getClass)
    def sides(needed: DataFrame, bcast: Boolean) = {
      val a = needed.select(col(idCol).as("id_a"), col("__r").as("__ra"))
      val b = needed.select(col(idCol).as("id_b"), col("__r").as("__rb"))
      if (bcast) (broadcast(a), broadcast(b)) else (a, b)
    }
    val candIds = cand.select(col("id_a").as(idCol))
      .unionAll(cand.select(col("id_b").as(idCol))).distinct()
    val (a, b) =
      if (broadcastConfirm) {
        // eager: both confirm sides read the pruned table
        val needed = Exec.materialize(
          base.join(broadcast(candIds), Seq(idCol), "left_semi"))
        if (releaseBasePruned) Exec.release(base) // confirm reads `needed` only now
        // three measured terms: array element payload, the id column
        // (octet_length of its string form — exact for string ids, the
        // wide case the estimate exists for; ≈ digit count for fixed-
        // width numerics, whose real 8 B sit inside the 64 B/row
        // envelope anyway — ADVICE r12 #3), and a per-row envelope.
        // Both confirm sides broadcast this frame independently, so
        // the worst-case driver hold stays ~2× the budget (documented
        // at MaxBroadcastConfirmBytes).
        val st = needed.agg(
          coalesce(sum(size(col("__r")).cast("long")), lit(0L)),
          count(lit(1)),
          coalesce(sum(octet_length(col(idCol).cast("string")).cast("long")), lit(0L))).head()
        val estBytes = st.getLong(0) * 8L + st.getLong(1) * 64L + st.getLong(2)
        if (estBytes <= maxBroadcastBytes) sides(needed, bcast = true)
        else {
          log.warn(
            f"bandedConfirm: pruned confirm payload ≈ ${estBytes}%,d B exceeds the " +
              f"broadcast budget ($maxBroadcastBytes%,d B) — demoting to the shuffled " +
              "confirm over the pruned frame (value-identical, no broadcast)")
          sides(needed, bcast = false)
        }
      } else {
        // eager: the gate aggregate AND the semi-join both read the
        // distinct id set — lazy, the unionAll+distinct over the
        // (large, that's why we're here) candidate frame would run
        // twice (review r13)
        val ids0 = Exec.materialize(candIds)
        val idStats = ids0.agg(count(lit(1)),
          coalesce(sum(octet_length(col(idCol).cast("string")).cast("long")), lit(0L))).head()
        val (nIds, idBytes) = (idStats.getLong(0), idStats.getLong(1) + idStats.getLong(0) * 16L)
        val nBase = base.count()
        if (nIds * 2 <= nBase) {
          // prune pays. The semi-join side matters as much as the
          // pruning (measured, dev/SCALE_r13.md §5): a SHUFFLED semi
          // re-shuffles the full base table — exactly the bytes the
          // prune saves — so while the id set fits the broadcast
          // budget (ids are scalars: ~16 B each even at millions of
          // candidates), broadcast it and prune INSIDE the base scan;
          // the confirm then shuffles only the pruned rows and the
          // base table never shuffles at all. Only an id set past the
          // budget pays the shuffled semi (still one base shuffle +
          // pruned confirm — beats the unpruned SMJ's two full-base
          // shuffles whenever pruning is strong).
          val byBcast = idBytes <= maxIdBytes
          log.info(f"bandedConfirm: $nIds%,d candidate docs of $nBase%,d (~$idBytes%,d id B) — " +
            s"pruning via a ${if (byBcast) "broadcast" else "shuffled"} candidate-id semi-join")
          val ids = if (byBcast) broadcast(ids0) else ids0
          val pruned = Exec.materialize(base.join(ids, Seq(idCol), "left_semi"))
          // both inputs of the pruned materialize are dead now: the
          // confirm reads only the pruned copy (r15 review — the
          // resolveMinhashCap retention rule; `base` by the documented
          // opt-in, the id set unconditionally — it was materialized
          // here and has no consumer outside this branch)
          Exec.release(ids0)
          if (releaseBasePruned) Exec.release(base)
          sides(pruned, bcast = false)
        } else {
          log.info(f"bandedConfirm: $nIds%,d candidate docs rival the corpus ($nBase%,d) — " +
            "unpruned shuffled confirm (pruning would add a base shuffle for nothing)")
          Exec.release(ids0) // the gate aggregate was its only consumer
          sides(base, bcast = false)
        }
      }
    cand.join(a, Seq("id_a")).join(b, Seq("id_b"))
      .withColumn("__common", size(array_intersect(col("__ra"), col("__rb"))))
      .select(col("id_a"), col("id_b"),
        Exprs.r4(col("__common").cast("double") /
          (size(col("__ra")) + size(col("__rb")) - col("__common"))).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Benchmark decontamination — the training-data hygiene operator:
    * drop every corpus document sharing at least `minCommon` distinct
    * word-n-gram fingerprints with ANY benchmark document (eval-set
    * leakage into pretraining data is measured exactly this way).
    *
    * Scale shape, two-phase:
    *
    *   1. '''Cheap gate''' — the benchmark's distinct shingle set (small
    *      by definition: an eval set) is folded into a Bloom filter,
    *      embedded as a literal and probed per element of the pre-explode
    *      per-doc shingle array: `size(filter(__sh, might_contain)) ≥
    *      minCommon`. A pure projection over one corpus scan — no
    *      explode, no shuffle, no per-shingle rows. Bloom false
    *      positives only OVER-flag (fixed by phase 2); there are no
    *      false negatives, so no contaminated doc escapes the gate.
    *   2. '''Exact confirm''' — only the (rare) flagged docs explode
    *      their shingles into the broadcast join + distinct-overlap
    *      count of the exact definition. Results are therefore
    *      bit-identical to the single-phase exact operator.
    *
    * The final keep-side anti-join's strategy is AQE's runtime-size
    * decision: contaminated ids broadcast when the finished build side
    * is actually small (the realistic case — contamination is rare),
    * and run as a shuffled `left_anti` when a pathological benchmark
    * overlaps most of the corpus (a forced broadcast there would ship
    * an id set proportional to the corpus to every task).
    * `maxBroadcastIds <= 0` pins the shuffled path outright; ANY
    * positive value defers to AQE — the r19 contract change, stated
    * plainly: the parameter's MAGNITUDE is no longer enforced (the
    * former explicit materialize + count() probe cost two extra jobs
    * per call for a less-informed version of the same decision; AQE's
    * byte-sized conversion threshold is the cap now). A session with
    * AQE disabled plans the join from static estimates — correct
    * either way; pass <= 0 to pin the never-broadcast shape there.
    *
    * Fingerprint collisions can spuriously drop a doc with probability
    * ≈ |corpus shingles|·|benchmark shingles|/2⁶⁴ — the same accepted
    * bound as [[shingleHashes]], and the conservative direction for
    * decontamination (never keeps a contaminated doc). */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    idCol: String, textCol: String,
                    n: Int = 3, minCommon: Int = 1,
                    bloomFpp: Double = 0.01,
                    maxBroadcastIds: Long = 10000000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // Benchmark shingle set: an eval set is driver-sized BY DEFINITION
    // (the exact-confirm phase broadcasts it regardless), so collect it
    // in ONE job and derive the count, the Bloom filter, and the
    // confirm-join side from the driver copy — the former
    // materialize + count + distributed-bloom chain cost three serial
    // jobs for the same bytes. Guarded: a benchmark too big to collect
    // is a usage error (chunk it), not a silent OOM.
    val benchArr: Array[Long] = Guard.driverLiteral(
      shingleHashes(benchmark, idCol, textCol, n)
        .select(col("shingle_h")).distinct().as[Long],
      "benchmark shingle set", 20000000L,
      "too large to broadcast; decontaminate against it in chunks")
    decontaminateWith(corpus, benchArr, idCol, textCol, n, minCommon,
      bloomFpp, maxBroadcastIds)
  }

  /** [[decontaminate]] against a PRE-DISTINCTED benchmark shingle set
    * (the [[ensureShingleSet]] artifact): the bloom literal still needs
    * the driver array, but sourcing it from the persisted set turns the
    * per-invocation explode+distinct shuffle over the CORPUS into a
    * scan of a tiny parquet. The tiny set is deliberately
    * re-distincted on load for tamper resilience (see the inline note
    * — a few-partition exchange, not the corpus-shingle shuffle the
    * artifact exists to avoid). Same guard, same results. */
  def decontaminateAgainst(corpus: DataFrame, benchShingles: DataFrame,
                           idCol: String, textCol: String,
                           n: Int = 3, minCommon: Int = 1,
                           bloomFpp: Double = 0.01,
                           maxBroadcastIds: Long = 10000000L): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // .distinct() kept even though the artifact's BUILD distincts: the
    // loader's integrity probe checks schema, not content, so a
    // tampered/foreign table with duplicated rows would otherwise
    // inflate the phase-2 overlap counts past minCommon (silent
    // over-deletion). Over the tiny persisted set this is a
    // few-partition exchange, not the per-invocation corpus-shingle
    // shuffle the artifact exists to avoid.
    val benchArr: Array[Long] = Guard.driverLiteral(
      benchShingles.select(col("shingle_h")).distinct().as[Long],
      "benchmark shingle set", 20000000L,
      "too large to broadcast; decontaminate against it in chunks")
    decontaminateWith(corpus, benchArr, idCol, textCol, n, minCommon,
      bloomFpp, maxBroadcastIds)
  }

  private def decontaminateWith(corpus: DataFrame, benchArr: Array[Long],
                                idCol: String, textCol: String,
                                n: Int, minCommon: Int,
                                bloomFpp: Double,
                                maxBroadcastIds: Long): DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Literal}
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import org.apache.spark.util.sketch.BloomFilter
    val spark = corpus.sparkSession
    import spark.implicits._
    if (benchArr.isEmpty) return corpus // empty benchmark: nothing to drop
    val bloom = BloomFilter.create(benchArr.length.toLong, bloomFpp)
    benchArr.foreach(bloom.putLong)
    val benchSh = spark.createDataset(benchArr.toIndexedSeq).toDF("shingle_h")
    val bos = new java.io.ByteArrayOutputStream()
    bloom.writeTo(bos)
    val bloomBytes = bos.toByteArray
    def probe(x: Column): Column = ColumnBridge.column(BloomFilterMightContain(
      Literal(bloomBytes), ColumnBridge.expression(x)))
    // Phase 1: zero-shuffle projection gate over the pre-explode shingle
    // array (distinct within doc, matching the exact overlap's set
    // semantics). Null/short docs: size(null) = -1 → never flagged →
    // kept, same as the exact path (they have no shingles to overlap).
    val flagged = shingleHashArray(corpus, idCol, textCol, n)
      .filter(size(filter(col("__sh"), (x: Column) => probe(x))) >= minCommon)
    // Phase 2: exact distinct-overlap count over flagged docs only,
    // reusing their already-computed shingle arrays.
    val flaggedSh = flagged.select(col(idCol), explode(col("__sh")).as("shingle_h"))
    val contaminated =
      if (minCommon <= 1)
        flaggedSh.join(broadcast(benchSh), Seq("shingle_h"), "left_semi")
          .select(col(idCol)).distinct()
      else
        flaggedSh.join(broadcast(benchSh), Seq("shingle_h"))
          .groupBy(col(idCol))
          .agg(count(lit(1)).as("__common"))
          .filter(col("__common") >= minCommon)
          .select(col(idCol))
    // Keep-side anti-join, strategy delegated to AQE (r19 optimization):
    // the earlier shape paid an eager materialize PLUS a count() probe —
    // two extra Spark jobs on every call — to decide broadcast-vs-shuffle
    // from a row count the driver had to fetch first. AQE makes the same
    // decision from the ACTUAL byte size of the finished build side at
    // runtime (a strictly better-informed version of the same guard), and
    // `contaminated` now has exactly one consumer, so nothing needs the
    // checkpoint barrier. Result rows are identical under either join
    // strategy (DedupSpec's broadcast-vs-shuffle differential).
    // `maxBroadcastIds <= 0` pins the shuffled path (merge hint) — the
    // knob's remaining contract surface for tests and for deployments
    // that must never build a broadcast relation here; any positive cap
    // defers to AQE's size-based conversion.
    val keySide =
      if (maxBroadcastIds <= 0) contaminated.hint("merge") else contaminated
    corpus.join(keySide, Seq(idCol), "left_anti")
  }

  /** Graded decontamination: per-document CONTAMINATION SCORE — the
    * fraction of the doc's distinct n-gram shingles that appear in the
    * benchmark — instead of [[decontaminate]]'s binary drop. The score
    * lets a pipeline THRESHOLD (drop ≥ 0.8, review 0.2–0.8, keep the
    * rest), rank worst-first for audit, and monitor contamination
    * drift per source over time.
    *
    * `benchShingles` is the PRE-DISTINCTED benchmark shingle set (one
    * `shingle_h` long column — the [[ensureShingleSet]] artifact): a
    * scan of a tiny parquet that ships straight into a BROADCAST hash
    * relation — a per-shingle O(1) probe, NOT a plan literal
    * (`array_intersect` against a literal array rebuilds its hash set
    * per ROW: O(|benchmark|) per document). Spark's broadcast-build
    * limit fails loudly on an oversized set rather than silently
    * degrading. The exploded per-doc distinct shingles take one marker
    * left join against the broadcast, then ONE shuffle — a single
    * doc-keyed aggregate counts total and hit shingles together. One
    * row per document that shingles at `n` (≥ n tokens); an empty
    * benchmark scores everything 0. Same fingerprint-collision bound as
    * [[shingleHashes]]; the score depends only on the shingle SET. */
  def contaminationScoreAgainst(corpus: DataFrame, benchShingles: DataFrame,
                                idCol: String, textCol: String,
                                n: Int): DataFrame = {
    // .distinct() for the same corruption-resilience reason as
    // [[decontaminateAgainst]]: a duplicated artifact row would count
    // a shingle hit twice through the left join (n_common > n_shingles,
    // contamination > 1). Tiny-table exchange, not the corpus shuffle.
    val benchSh = benchShingles.select(col("shingle_h")).distinct()
      .withColumn("__hit", lit(1L))
    shingleHashes(corpus, idCol, textCol, n) // distinct within doc
      .join(broadcast(benchSh), Seq("shingle_h"), "left")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        coalesce(sum(col("__hit")), lit(0L)).as("n_common"))
      .select(col(idCol), col("n_shingles"), col("n_common"),
        Exprs.r4(col("n_common").cast("double") / col("n_shingles").cast("double"))
          .as("contamination"))
  }

  /** Incremental-ingest dedup with an EXACT result: the batch rows
    * whose normalized-text fingerprint does not already exist in the
    * corpus — the daily-crawl admission step, where yesterday's corpus
    * is 100 TB and today's batch is not.
    *
    * Two-phase, mirroring [[decontaminate]]'s bloom-then-confirm but
    * in the admission direction:
    *
    *   1. A Bloom filter of the CORPUS fingerprints
    *      ([[CorpusSketches.fingerprintBloom]] — at scale a maintained
    *      artifact, built once and updated per ingest, not recomputed)
    *      gates the batch as a scan-local codegen projection. Bloom
    *      negatives have NO false-negative risk: those rows are
    *      definitely new and bypass the corpus entirely.
    *   2. Only bloom POSITIVES — the true duplicates plus an fpp-sized
    *      sliver of new rows — reach the exact confirm: a `left_anti`
    *      join against the corpus's distinct fingerprints. So the
    *      result is bit-identical to the plain anti-join, but the
    *      corpus-sized join touches an fpp-bounded fraction of the
    *      batch instead of all of it.
    *
    * The confirm side is itself gated by a REVERSE bloom (built over
    * the positive fingerprints, probed in the corpus scan projection):
    * corpus fingerprints that can't possibly match a positive never
    * enter the distinct/anti-join shuffle, so the confirm's shuffle is
    * O(positives + fpp·corpus), not O(corpus). The corpus SCAN is one
    * irreducible pass either way (it feeds the corpus bloom build at
    * this call-shape; a deployment loads that bloom as a maintained
    * artifact and the reverse gate makes the confirm the only corpus
    * touch). Dropping a corpus row the gate excludes cannot change the
    * result: bloom filters have no false negatives, so every corpus
    * fingerprint equal to some positive's fingerprint survives the
    * gate — the anti-join verdict per positive is unchanged.
    *
    * Null-text batch rows carry a null fingerprint, which joins
    * nothing — they are admitted (gate them upstream). Emits (id,
    * fingerprint). */
  def incrementalNew(corpus: DataFrame, batch: DataFrame,
                     idCol: String, textCol: String,
                     expected: Long, fpp: Double = 0.01): DataFrame =
    incrementalNew(corpus, batch, idCol, textCol,
      CorpusSketches.fingerprintBloom(corpus, textCol, expected, fpp),
      expected, fpp)

  /** [[incrementalNew]] against a PRE-BUILT corpus bloom (the
    * maintained-artifact life cycle — [[CorpusSketches.bloomOrLoad]]):
    * the corpus is then touched only by the reverse-gated exact
    * confirm, never by a sketch rebuild. The bloom must have been
    * built with [[CorpusSketches.fingerprintBloom]]'s hash domain over
    * the SAME corpus (a stale filter admits/flags the wrong rows —
    * stamp the artifact path). `expected`/`fpp` still size the
    * reverse positive-set bloom. */
  def incrementalNew(corpus: DataFrame, batch: DataFrame,
                     idCol: String, textCol: String,
                     bloom: org.apache.spark.util.sketch.BloomFilter,
                     expected: Long, fpp: Double): DataFrame = {
    // materialized: THREE consumers walk this frame (the fresh filter,
    // the positive-set bloom build — itself an eager action — and the
    // anti-join's positive side), and each would otherwise re-run the
    // batch scan + fingerprint + probe projection from scratch
    // (Exec.materialize's multi-consumer rule)
    val probed = graft.ops.Exec.materialize(batch.select(col(idCol),
      TextOps.fingerprint(col(textCol)).as("fingerprint"),
      CorpusSketches.seenProbe(textCol, bloom).as("__seen")))
    // Explicit null routing, not null-arm coalesces: the probe column
    // is NEVER null (xxhash64 folds a null fingerprint to its seed —
    // see fingerprintBloom), so the old coalesce fallbacks were
    // dead code and a null-text row rode the bloom's verdict on the
    // constant seed hash: a seed-hash positive would drag every
    // null-fingerprint row into `positives`, and its null fingerprint
    // would insert the seed key into the reverse gate — widening the
    // corpus-side confirm for nothing (the anti-join admits null
    // fingerprints regardless). Null fingerprints are admitted
    // DIRECTLY, matching the documented contract.
    val fresh = probed.filter(col("fingerprint").isNull || !col("__seen"))
    val positives = probed.filter(col("fingerprint").isNotNull && col("__seen"))
    // reverse gate: bloom of the positive fingerprints (driver-sized
    // sketch, sized by the same `expected` bound) restricts the corpus
    // fingerprint scan before the distinct shuffle
    val posBloom = CorpusSketches.fpColumnBloom(
      positives, col("fingerprint"), expected, fpp)
    val corpusFps = corpus
      .select(TextOps.fingerprint(col(textCol)).as("fingerprint"))
      .filter(coalesce(CorpusSketches.fpProbe(col("fingerprint"), posBloom), lit(false)))
      .distinct()
    val recovered = positives
      .join(corpusFps, Seq("fingerprint"), "left_anti")
    fresh.drop("__seen")
      .unionByName(recovered.drop("__seen"))
      .select(col(idCol), col("fingerprint"))
  }

  /** Sentinel for `maxShingleDf`: run the hot-shingle stats pass
    * ([[collectShingleStats]] at [[DefaultMaxShingleDf]]) and engage
    * the cap only when the measured quadratic candidate mass from
    * hot shingles exceeds [[AutoEngageHotPairs]] — the
    * boilerplate-cohort guard as a DEFAULT, not advice (VERDICT r12
    * #1: the user who most needs the cap — raw minhash over an
    * unstripped web crawl — is exactly the one who won't know to set
    * it). When the cap does not engage, results are bit-identical
    * to the uncapped path. */
  val AutoShingleDf: Long = -1L

  /** The default df cap: shared between the exact ngram path's
    * hot-shingle guard and the minhash auto guard's engaged value —
    * one constant, so the two paths cannot drift on what "hot" means
    * (the parameters-next-to-artifacts defect class). */
  val DefaultMaxShingleDf: Long = 1000L

  /** Auto-engage threshold, in quadratic candidate pairs
    * (Σ over hot shingles of df·(df−1)/2 — the pair mass a
    * boilerplate cohort injects into every band join downstream).
    * Below it the hot shingles are real but harmless (a df=1001
    * stop-phrase ≈ 5×10⁵ pairs — noise next to any corpus-scale band
    * join) and auto mode leaves the corpus untouched; above it the
    * cohort is the n² hazard dev/SCALE_r12.md measured and the cap
    * engages, loudly. Engaging changes results only for documents
    * that SHARE text with >1000 others — the documented capped
    * semantics. */
  private[graft] val AutoEngageHotPairs: Double = 1e6

  /** Driver bound on a collected hot-shingle blacklist: past it the
    * guard cannot hold the removal set. The exact path and explicit
    * minhash caps fail loudly with the remedy ([[blacklistOverflow]]);
    * the AUTO path must NOT turn a corpus that ran fine under the
    * pre-r13 uncapped default into a hard failure, so it DISENGAGES
    * loudly instead ([[resolveMinhashCap]]). */
  private[graft] val MaxBlacklistRows: Long = 4000000L

  /** A resolved df cap. `blacklist` is present exactly when the
    * stats pass ran and the cap is finite (engaged auto, explicit
    * finite caps); possibly empty. `sharedArr`, when present, is the
    * resolver's materialized per-doc shingle-array checkpoint
    * ([[graft.ops.Exec.materialize]]) that the stats pass and the
    * signature projection both read — so [[minhashSignaturesResolved]]
    * never re-tokenizes what the stats pass just scanned. The caller
    * that consumes the resolution OWNS its release
    * ([[graft.ops.Exec.release]]) once the derived signatures are
    * persisted or fully consumed. */
  private[text] case class ResolvedCap(cap: Long,
      blacklist: Option[Array[Long]], sharedArr: Option[DataFrame])

  /** Resolve a requested `maxShingleDf`. Explicit `Long.MaxValue`
    * passes through untouched (uncapped single-scan plan, zero cost);
    * explicit finite caps run the stats pass ([[collectShingleStats]],
    * the exact path's one df pass) here, over resolver-owned
    * materialized arrays (r15 — see [[ResolvedCap]]);
    * [[AutoShingleDf]] runs it at [[DefaultMaxShingleDf]] and engages
    * that cap only above [[AutoEngageHotPairs]].
    *
    * Two r14 cost levers (VERDICT r13 #2), both provably
    * behavior-free:
    *
    *   - '''Row-count skip gate''': a shingle's document frequency is
    *     bounded by the corpus's document count, so
    *     `N ≤ DefaultMaxShingleDf` ⇒ the blacklist is PROVABLY empty
    *     and the un-engaged result is known without running the stats
    *     pass — the uncapped plan returns directly. The count is one
    *     column-pruned scan, orders cheaper than the tokenize pass it
    *     skips. NOTE the looser VERDICT-proposed bound — skip while
    *     N(N−1)/2 ≤ the engage mass — is NOT sound: the engage mass
    *     SUMS over hot shingles, so a cohort of m > cap docs sharing k
    *     shingles carries k·m(m−1)/2 pairs and crosses any fixed mass
    *     once k is large enough — e.g. 1,100 docs sharing two 3-gram
    *     shingles ≈ 1.2e6 pairs, inside that bound's skip zone (pinned
    *     in DedupSpec).
    *   - '''Shared materialized arrays''': past the gate the resolver
    *     materializes the shingle arrays ONCE ([[graft.ops.Exec.materialize]])
    *     and both consumers — the stats pass and the signature build —
    *     read that checkpoint. The r13 resolver re-tokenized per pass
    *     to avoid the write; measured at +2 s on the 1× scale leg and
    *     +3 s at 100× vs the manual cap (dev/SCALE_r13.md §2) — the
    *     write is cheaper than the rescans at every measured point,
    *     and the scoreboard's small corpora never reach here (the gate
    *     returns first).
    *
    * The shared arrays are per-document DISTINCT: the stats fold's
    * run length is then the document frequency (a shingle repeated
    * within one document counts once), and a signature — a min over
    * the set — is unchanged by the dedup.
    *
    * Engaged auto is blacklist-identical to an explicit
    * `maxShingleDf = DefaultMaxShingleDf` (same pass, same cap), so
    * the two stamp and interoperate identically; un-engaged auto
    * returns the uncapped path bit-identically. An oversized
    * blacklist fails an explicit cap loudly and disengages auto. */
  private[text] def resolveMinhashCap(df: DataFrame, idCol: String, textCol: String,
      requested: Long,
      engageHotPairs: Double = AutoEngageHotPairs,
      maxBlacklistRows: Long = MaxBlacklistRows): ResolvedCap = {
    if (requested == Long.MaxValue) return ResolvedCap(Long.MaxValue, None, None)
    val auto = requested == AutoShingleDf
    require(auto || requested >= 1,
      s"maxShingleDf must be >= 1, Long.MaxValue (off), or AutoShingleDf (-1), got $requested")
    val log = org.apache.logging.log4j.LogManager.getLogger(getClass)
    // engageHotPairs < 0 means "engage on ANY hot mass, even zero"
    // (test mechanics) — the gate's skip is only provable when a zero
    // mass resolves un-engaged, i.e. for non-negative thresholds
    if (auto && engageHotPairs >= 0) {
      val nDocs = df.count()
      if (nDocs <= DefaultMaxShingleDf) {
        log.debug(s"minhash df-guard: $nDocs docs <= cap $DefaultMaxShingleDf — " +
          "no shingle can exceed the cap; skipping the stats pass (uncapped plan)")
        return ResolvedCap(Long.MaxValue, None, None)
      }
    }
    val cap = if (auto) DefaultMaxShingleDf else requested
    // the resolver OWNS the shared checkpoint: every caller that
    // persists the signatures (ensureMinhashPairGraph,
    // minhashCandidates) releases it through `sharedArr`, and a
    // failure here releases it before rethrowing
    val arr = Exec.materialize(shingleHashArray(df, idCol, textCol, distinct = true))
    val stats =
      try collectShingleStats(arr, cap, maxBlacklistRows)((hot, _) => hot)
      catch { case t: Throwable => Exec.release(arr); throw t }
    stats match {
      case None if !auto =>
        Exec.release(arr)
        throw blacklistOverflow(cap, maxBlacklistRows)
      case None =>
        // a corpus whose hot set exceeds the guard's driver bound ran
        // FINE under the pre-auto default — auto must not turn it into
        // a hard failure (review r13). Disengage, loudly: the caller
        // keeps the uncapped semantics they always had, with the knob
        // named.
        log.warn(f"minhash df-guard DISENGAGED: more than $maxBlacklistRows%,d shingles " +
          f"exceed df=$cap — the blacklist is past the guard's driver bound. Proceeding " +
          "UNCAPPED (the pre-guard default); set an explicit, higher maxShingleDf or " +
          "pre-strip boilerplate to re-arm the guard.")
        ResolvedCap(Long.MaxValue, None, Some(arr))
      case Some(hot) =>
        val blacklist = hot.map(_.getLong(1))
        val mass = hotMass(hot)
        if (!auto) ResolvedCap(cap, Some(blacklist), Some(arr))
        else if (mass > engageHotPairs) {
          val maxDf = hot.iterator.map(_.getLong(2)).maxOption.getOrElse(0L)
          log.warn(f"minhash df-guard AUTO-ENGAGED at maxShingleDf=$cap: " +
            f"${blacklist.length}%,d shingles exceed the cap (max df $maxDf%,d; " +
            f"~$mass%.3g quadratic candidate pairs shed — a boilerplate cohort grows " +
            "LSH candidates as cohort², see dev/SCALE_r12.md). Pass " +
            "maxShingleDf=Long.MaxValue to disable or an explicit cap to tune.")
          ResolvedCap(cap, Some(blacklist), Some(arr))
        } else {
          if (mass > 0)
            log.info(f"minhash df-guard: ${blacklist.length}%,d hot shingles " +
              f"(~$mass%.3g pairs) below the auto-engage mass " +
              f"($engageHotPairs%.3g) — leaving the corpus uncapped")
          ResolvedCap(Long.MaxValue, None, Some(arr))
        }
    }
  }

  /** MinHash signatures: k independent hash functions simulated by
    * seeding Spark's murmur3 with the hash index; signature = per-doc
    * array of minima, computed by the native `minhash_sigs` kernel
    * inside the scan projection — ZERO shuffle (the grouped form below
    * shuffles every (doc, shingle) row; at 100 TB that is a full
    * shuffle of the shingled corpus for no semantic gain). Shingle
    * fingerprints come pre-explode from [[shingleHashArray]];
    * duplicates kept — min() is multiset-insensitive, so
    * array_distinct would be pure cost. Documents with no shingles are
    * filtered (cardinality parity with the grouped form, which has no
    * row to aggregate for them).
    *
    * `maxShingleDf` is the BOILERPLATE-COHORT guard the corrected r12
    * scale attribution calls for (dev/SCALE_r12.md): a block of text
    * shared by a cohort of m documents — boilerplate headers/footers,
    * license blocks, navigation chrome — gives the cohort pairwise
    * similarity that collides in LSH bands and grows candidates as
    * m², regardless of vocabulary size or band width. Shingles with
    * document frequency above the cap are removed BEFORE signatures
    * (the exact path's one df pass, [[collectShingleStats]], + the
    * same LongSetRemove scan kernel as [[ngramJaccardPairs]]'s cap —
    * never a re-join), so a cohort's shared block stops contributing
    * to its signatures and the m² candidate mass never materializes.
    * The DEFAULT is [[AutoShingleDf]] (r13): the stats pass runs at
    * [[DefaultMaxShingleDf]] and the cap engages — loudly — only when
    * the measured hot-pair mass crosses [[AutoEngageHotPairs]];
    * otherwise results are bit-identical to the uncapped path. Auto's
    * cost (r14): corpora of ≤ [[DefaultMaxShingleDf]] docs skip the
    * stats pass entirely (one cheap count — the blacklist is provably
    * empty there); larger corpora tokenize ONCE into a shared
    * checkpoint that the stats pass and the signature projection both
    * read ([[resolveMinhashCap]]). Explicit `Long.MaxValue` keeps the
    * single-scan, zero-checkpoint uncapped plan with no stats pass at
    * all.
    *
    * Exact duplicates with ANY retained shingle still collide in
    * every band (identical retained sets). The boundary case is
    * explicit contract: a document whose EVERY shingle exceeds the
    * cap (a pure-boilerplate page duplicated beyond the cap) retains
    * nothing and is DROPPED from signatures — it emits no near-dup
    * pairs here, the same rule as a no-shingle document. That is
    * deliberate: past the cap the shared text is corpus furniture,
    * and pure-furniture duplicates are [[exact]] content-hash dedup's
    * job (which needs no shingles), not a similarity question. The
    * documented approximation matches the exact path's: near-dup
    * evidence from ultra-common shingles carries no signal. DF counts
    * DISTINCT docs per shingle (a shingle repeated within one doc is
    * one).
    *
    * '''Checkpoint retention''' (ADVICE r14): resolutions that run
    * the stats pass (auto past the row-count gate, explicit finite
    * caps) tokenize the corpus into an [[graft.ops.Exec.materialize]]
    * checkpoint that the RETURNED (lazy) frame reads — the pinned
    * blocks stay held for the session. A caller that persists or
    * fully consumes the signatures should pass the returned frame to
    * [[graft.ops.Exec.release]] (the release walks the derived plan
    * and reaches the checkpoint — under BOTH storage modes since r15;
    * the durable mode's retained lineage previously made the walk a
    * no-op for derived frames); [[minhashCandidates]] and
    * [[ensureMinhashPairGraph]] do exactly that internally. Explicit
    * `Long.MaxValue` never checkpoints (single-scan plan). */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16,
                        maxShingleDf: Long = AutoShingleDf): DataFrame =
    minhashSignaturesResolved(df, idCol, textCol, numHashes,
      resolveMinhashCap(df, idCol, textCol, maxShingleDf))

  /** [[minhashSignatures]] after cap resolution — split out so
    * [[ensureMinhashPairGraph]] can resolve ONCE (stamping the
    * resolved cap) and share the stats pass's blacklist with the
    * signature build instead of running it twice. */
  private[text] def minhashSignaturesResolved(df: DataFrame, idCol: String, textCol: String,
      numHashes: Int, resolved: ResolvedCap): DataFrame = {
    // resolutions that ran the stats pass (auto past the row-count
    // gate, explicit finite caps — r15) carry the
    // resolver's materialized arrays: the signature projection reads
    // that checkpoint instead of re-tokenizing the corpus. Uncapped /
    // gate-skipped resolutions keep the single-scan zero-checkpoint
    // plan.
    val arr = resolved.sharedArr.getOrElse(
      shingleHashArray(df, idCol, textCol, distinct = false))
    val retained = resolved.blacklist match {
      case Some(bl) if bl.nonEmpty =>
        graft.functions.LongSetRemove.remove(col("__sh"), bl)
      case _ => col("__sh")
    }
    arr.select(col(idCol), retained.as("__r"))
      .filter(size(col("__r")) > 0)
      .select(col(idCol),
        graft.functions.MinHashSigs.sigs(col("__r"), numHashes).as("signature"))
  }

  /** The explode + groupBy formulation of [[minhashSignatures]] — kept
    * as the executable spec the native kernel is bit-parity-tested
    * against (SigKernelsSpec); one full shuffle, so not the production
    * path. */
  def minhashSignaturesGrouped(df: DataFrame, idCol: String, textCol: String,
                               numHashes: Int = 16): DataFrame = {
    val sh = shingleHashes(df, idCol, textCol, distinct = false)
      .withColumnRenamed("shingle_h", "shb")
      // null hashes filtered before the re-mix: `hash` folds over its
      // args SKIPPING nulls, so hash(i, null) = hash-of-just-i — a
      // non-null constant that would join the min; the kernel skips
      // null elements entirely, and this spec must agree
      .filter(col("shb").isNotNull)
    val mins = (0 until numHashes).map(i => min(hash(lit(i), col("shb"))).as(s"h$i"))
    sh.groupBy(col(idCol))
      .agg(mins.head, mins.tail: _*)
      .select(col(idCol), array((0 until numHashes).map(i => col(s"h$i")): _*).as("signature"))
  }

  /** MinHash+LSH candidate pairs: band the signature, bucket-join on
    * (band, band key), estimate Jaccard as the fraction of agreeing
    * signature positions. The band join is the scale path: candidate
    * generation is linear in docs-per-bucket, never all-pairs. */
  def minhashCandidates(df: DataFrame, idCol: String, textCol: String,
                        numHashes: Int = 16, bands: Int = 4,
                        minEstimate: Double = 0.5,
                        maxShingleDf: Long = AutoShingleDf): DataFrame = {
    // eager: see ngramJaccardPairs — 3 consumers (banding + 2 join
    // sides). Once the signature frame is materialized the resolver's
    // shared shingle checkpoint has no further consumer — release it
    // here (failure paths included) instead of retaining one
    // corpus-sized pinned copy for the session (ADVICE r14; bare
    // minhashSignatures callers own that release — see its scaladoc)
    val resolved = resolveMinhashCap(df, idCol, textCol, maxShingleDf)
    val sigs =
      try Exec.materialize(
        minhashSignaturesResolved(df, idCol, textCol, numHashes, resolved))
      finally resolved.sharedArr.foreach(Exec.release)
    minhashCandidatesFromSigs(sigs, idCol, numHashes, bands, minEstimate)
  }

  /** [[minhashCandidates]] over a PRE-COMPUTED signature frame
    * (idCol, signature int array) — the artifact path:
    * [[ensureMinhashPairGraph]] persists the signatures and derives
    * the pairs from the persisted copy, so the two halves are
    * consistent by construction and an external oracle can re-derive
    * banding/estimate/threshold from the same signature table the
    * engine banded. */
  def minhashCandidatesFromSigs(sig: DataFrame, idCol: String,
                                numHashes: Int, bands: Int,
                                minEstimate: Double): DataFrame = {
    val cand = minhashCandidateIds(sig, idCol, numHashes, bands)
    val sa = sig.select(col(idCol).as("id_a"), col("signature").as("sig_a"))
    val sb = sig.select(col(idCol).as("id_b"), col("signature").as("sig_b"))
    cand.join(sa, Seq("id_a")).join(sb, Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        Exprs.r4(graft.functions.VecEqCount.eqCount(col("sig_a"), col("sig_b"))
          .cast("double") / numHashes).as("est_jaccard"))
      .filter(col("est_jaccard") >= minEstimate)
  }

  /** The banded bucket join + cross-band pair-distinct of
    * [[minhashCandidatesFromSigs]], WITHOUT the signature-estimate
    * join — candidate IDS only. The routed confirm path
    * ([[bandedJaccardPairs]]) consumes candidates at `minEstimate = 0`,
    * where the estimate would be computed only to be discarded: two
    * shuffled joins of the full signature table per 100×-scale build,
    * for a column the exact confirm recomputes exactly (r15; the
    * `est ≥ 0` filter kept every row — `est_jaccard` is never
    * null/NaN on length-`numHashes` signature arrays, so dropping the
    * joins is value-identical).
    *
    * The pair-distinct dedups cross-band collisions (a pair surfaces
    * once per colliding band; different bands land in different
    * bucket-join partitions, so map-side combining catches none of
    * it) as the r14 SORT-FOLD shape, not a hash aggregate: candidate
    * pairs are mostly unique — the regime where a per-task hash map
    * holds ~every row and spills (the 6.1 GiB at the 100× scale
    * point, dev/SCALE_r14.md §1) — while a sort spills sequentially
    * at worst and the run-length dedup streams in O(1) state. Same
    * 4×-session-width lever as [[shingleStats]], measured there:
    * narrower sort partitions shed reduce-side spill and there is no
    * map-side aggregation phase to overflow (the explicit repartition
    * IS the exchange). Property-differentialed against `.distinct()`
    * in DedupPropertySpec. Rows compare by structural Row equality —
    * equal to SQL distinct for the integral/string id columns this
    * path supports (floating-point ids, where SQL normalizes
    * -0.0/NaN, are not a supported doc-id type anywhere in this
    * module). */
  private[text] def minhashCandidateIds(sig: DataFrame, idCol: String,
                                        numHashes: Int, bands: Int): DataFrame = {
    val raw = bandPairsRaw(sig, idCol, numHashes, bands)
    val wide = 4 * math.max(1,
      sig.sparkSession.sessionState.conf.numShufflePartitions)
    val sorted = raw
      .repartition(wide, col("id_a"), col("id_b"))
      .sortWithinPartitions(col("id_a"), col("id_b"))
    sorted.mapPartitions { it =>
      // run-length distinct over the sorted stream: the Dataset
      // deserializer yields fresh Row objects, so holding the previous
      // row across elements is safe
      var prev: org.apache.spark.sql.Row = null
      it.filter { r => val keep = prev == null || r != prev; if (keep) prev = r; keep }
    }(org.apache.spark.sql.Encoders.row(sorted.schema))
  }

  /** The band exchange's width as a multiple of the session's shuffle
    * width. 4× is the measured best; 8× regressed (dev/SCALE_r15c.md,
    * and the comment in [[bandPairsRaw]]). */
  private[text] val BandWidthMult: Int = 4

  /** The band exchange's partition count: `BandWidthMult × shuffle
    * width` (the session's shuffle partitions), computed
    * overflow-checked — the shuffle width is session input, so a
    * product past Int fails AT PLAN BUILD by name instead of surfacing
    * mid-job as an opaque negative-partition repartition error
    * (ADVICE r16). */
  private[text] def bandPartitions(shuffleWidth: Int): Int = {
    val base = math.max(1, shuffleWidth)
    try math.multiplyExact(BandWidthMult, base) catch {
      case _: ArithmeticException => throw new IllegalArgumentException(
        s"band partitions: $BandWidthMult times the session's shuffle " +
          s"partitions ($base) overflows Int — lower spark.sql.shuffle.partitions")
    }
  }

  /** The pre-distinct band-collision pair stream of
    * [[minhashCandidateIds]] (a pair appears once per colliding
    * band) — split out so the sort-fold distinct has an executable
    * spec twin (`.distinct()` over this stream, DedupPropertySpec). */
  private[text] def bandPairsRaw(sig: DataFrame, idCol: String,
                                 numHashes: Int, bands: Int): DataFrame = {
    // bands must tile the signature exactly: bands > numHashes makes
    // perBand = 0 and EVERY band key the constant hash(0) — the bucket
    // join degenerates to a full corpus cross product; a non-divisor
    // silently drops trailing signature positions from banding (weaker
    // candidate recall than the parameters claim); bands = 0 divides
    // by zero. All are parameter bugs — fail loudly.
    require(bands >= 1 && numHashes % bands == 0,
      s"bands ($bands) must be a positive divisor of numHashes ($numHashes)")
    val rows = bands
    val perBand = numHashes / bands
    val banded = sig.select(col(idCol), col("signature"),
        posexplode(transform(sequence(lit(0), lit(rows - 1)), b =>
          hash((lit(0) +: (0 until perBand).map(j =>
            element_at(col("signature"), b * perBand + j + 1))): _*))))
      .select(col(idCol), col("pos").as("band"), col("col").as("band_key"))
      // Explicit 4x-width repartition on the join key (r15): both
      // self-join sides inherit this ONE exchange (ReusedExchange —
      // the rename projections preserve the partitioning), so the
      // SMJ plans zero exchanges of its own and its per-partition
      // sorts run 4x narrower. At the 100x scale point the session-
      // width sorts' working sets sat just above the 32-concurrent
      // per-task memory grant and spilled 6.0 GiB mem / 1.4 GiB disk
      // (the "candidate-distinct materialize" residual of
      // dev/SCALE_r14.md §1 — stage-mapped to THESE sorts, not the
      // distinct); 4x fits (dev/SCALE_r15.md, with the width ladder
      // counterfactuals). At the session width this engine pins (32),
      // 4x = 128 stays under the default
      // spark.shuffle.sort.bypassMergeThreshold (200); a session wider
      // than 50 crosses it and the map side switches from the bypass
      // writer to sort-based shuffle — the regime where r14's 8x
      // stats-width leg regressed (defect class #27) — though at
      // genuinely cluster-scale widths sort-based writing is the norm
      // regardless and the 4x RATIO, not the absolute count, is the
      // measured lever.
      // BandWidthMult: the measured lever for the band-join sorts'
      // per-partition working set (see the paragraph above). The 300x
      // ladder re-confirmed 4x: at 8x the exchange's map side crosses
      // bypassMergeThreshold, switches to sort-based shuffle writing,
      // and spills 9.4 GB itself (+36% family wall) for only a partial
      // SMJ-sort reduction (dev/SCALE_r15c.md). A constant, not a conf
      // key: no caller ever set another value.
      .repartition(bandPartitions(sig.sparkSession.sessionState.conf.numShufflePartitions),
        col("band"), col("band_key"))
    val a = banded.select(col(idCol).as("id_a"), col("band"), col("band_key"))
    val b = banded.select(col(idCol).as("id_b"), col("band"), col("band_key"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
  }

  /** SimHash: 64-bit signature from token hashes — per bit, sum ±1 over
    * tokens by whether the token hash has that bit set; bit j of the
    * signature is 1 iff the sum is positive. Computed by the native
    * `simhash64` kernel inside the scan projection — ZERO shuffle (the
    * grouped form below explodes every token and shuffles to a 64-sum
    * aggregate; at 100 TB that is a full shuffle of the tokenized
    * corpus). Token-less documents are filtered (cardinality parity
    * with the grouped form). */
  def simhash(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextOps.tokens(col(textCol)).as("__toks"))
      .filter(size(col("__toks")) > 0)
      .select(col(idCol),
        graft.functions.SimHash64.simhash(col("__toks")).as("simhash"))

  /** The explode + groupBy formulation of [[simhash]] — kept as the
    * executable spec the native kernel is bit-parity-tested against
    * (SigKernelsSpec); one full shuffle, so not the production path. */
  def simhashGrouped(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    // null tokens filtered, not hashed: Spark's xxhash64 SKIPS a null
    // input and returns its seed (42) rather than null, so an
    // unfiltered null token would contribute the constant 42's bits —
    // the kernel contract (shared with the native simhash64) is that
    // null elements contribute NOTHING
    val tok = df.select(col(idCol), explode(TextOps.tokens(col(textCol))).as("token"))
      .filter(col("token").isNotNull)
      .select(col(idCol), xxhash64(col("token")).as("h"))
    val bitSums = (0 until 64).map { j =>
      sum(when(shiftright(col("h"), j).bitwiseAND(lit(1L)) === 1L, 1).otherwise(-1)).as(s"b$j")
    }
    tok.groupBy(col(idCol))
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol),
        (0 until 64).map(j => when(col(s"b$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ bitwiseOR _).as("simhash"))
  }

  /** SimHash near-dup pairs: all pairs whose 64-bit signatures differ in
    * at most `maxHamming` bits — EXACT over the signature space, via the
    * pigeonhole banding trick: split the signature into `maxHamming + 1`
    * chunks; two signatures within the Hamming budget must agree on at
    * least one whole chunk (at most `maxHamming` chunks can contain a
    * differing bit), so the (chunk index, chunk value) bucket join
    * produces every qualifying pair — never all-pairs, candidates are
    * linear in bucket occupancy, exactly the MinHash-band shape. True
    * Hamming distance is then one codegen'd `bit_count(xor)` per
    * candidate. */
  def simhashNearDup(df: DataFrame, idCol: String, textCol: String,
                     maxHamming: Int = 3): DataFrame =
    // eager: both self-join sides consume the signatures
    simhashNearDupFromSigs(Exec.materialize(simhash(df, idCol, textCol)),
      idCol, maxHamming)

  /** [[simhashNearDup]] over a PRE-COMPUTED signature frame (idCol,
    * simhash) — the artifact path ([[ensureSimhashSigs]]): banding,
    * the bucket join, hamming, and the threshold all run against the
    * persisted table, which is also what an external oracle
    * re-derives the pairs from. */
  def simhashNearDupFromSigs(sig: DataFrame, idCol: String,
                             maxHamming: Int): DataFrame = {
    require(maxHamming >= 0 && maxHamming < 16, "maxHamming in [0, 16)")
    val chunks = maxHamming + 1
    val width = 64 / chunks // last chunk absorbs the remainder bits
    val banded = sig.select(col(idCol), col("simhash"),
      posexplode(array((0 until chunks).map { c =>
        val lo = c * width
        val w = if (c == chunks - 1) 64 - lo else width
        // unsigned chunk extract: shift right then mask w bits
        shiftrightunsigned(col("simhash"), lo)
          .bitwiseAND(lit(if (w >= 64) -1L else (1L << w) - 1L))
      }: _*)))
      .select(col(idCol), col("simhash"), col("pos").as("chunk"), col("col").as("chunk_val"))
    val a = banded.select(col(idCol).as("id_a"), col("simhash").as("sh_a"),
      col("chunk"), col("chunk_val"))
    val b = banded.select(col(idCol).as("id_b"), col("simhash").as("sh_b"),
      col("chunk"), col("chunk_val"))
    a.join(b, Seq("chunk", "chunk_val"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).as("hamming"))
      .distinct() // a pair can agree on several chunks
      .filter(col("hamming") <= maxHamming)
  }

  /** Canonical `_params` stamp of the ngram pair-graph artifact — ONE
    * definition shared by [[ensurePairGraph]] (which writes and
    * verifies it) and every external witness (RaceCanary asserts the
    * on-disk stamp byte-for-byte), so the format cannot drift between
    * generator and witness (the parameters-next-to-artifacts defect
    * class; ADVICE r12 #2). `maxCandidatePairs` joins the stamp only
    * on the banded route — the cap decides where the route flips, so
    * it parameterizes banded recall but not exact values. */
  private[graft] def ngramPairGraphStamp(n: Int, threshold: Double, route: String,
      maxCandidatePairs: Long = DefaultMaxCandidatePairs): String =
    s"kind=ngram;n=$n;threshold=$threshold;route=$route" +
      (if (route == "banded") s";maxCandidatePairs=$maxCandidatePairs" else "")

  /** [[ngramPairGraphStamp]]'s sibling for the minhash artifact: the
    * df cap joins the stamp ONLY when set, so default callers keep
    * presenting the stamp every pre-cap artifact already carries, and
    * an auto-resolved cap stamps IDENTICALLY to the same manual cap
    * (same blacklist by construction — the artifacts are
    * interchangeable). */
  private[graft] def minhashPairGraphStamp(numHashes: Int, bands: Int,
      minEstimate: Double, maxShingleDf: Long = Long.MaxValue): String =
    s"kind=minhash;numHashes=$numHashes;bands=$bands;minEstimate=$minEstimate" +
      (if (maxShingleDf == Long.MaxValue) "" else s";maxShingleDf=$maxShingleDf")

  /** Build-or-load the exact n-gram Jaccard pair graph AND its
    * connected-component assignment as ONE persisted artifact —
    * returns (pairs, components): pairs = [[ngramJaccardPairs]] rows
    * (id_a, id_b, jaccard), components =
    * [[graft.ops.Components.connectedComponents]] rows (node,
    * component) over exactly those pairs.
    *
    * The pair graph is the single most expensive dedup intermediate
    * (a shingle-blocked self-join over the whole corpus), and every
    * downstream dedup DECISION — the pair report, the cluster
    * assignment, the per-cluster representative choice — re-derives
    * from it. At 100 TB you build it once per ingest generation and
    * every decision query loads it, exactly the
    * [[TextOps.ensureBigramModel]] / [[graft.sim.IvfPq.ensureIndex]]
    * life cycle: callers key `path` by a source content stamp
    * ([[graft.Ioops.sourceStamp]]), the per-JVM memo skips the
    * re-read, and an unreadable or wrong-schema artifact rebuilds
    * instead of being trusted.
    *
    * Layout: `path/pairs` + `path/components` + the `path/_params`
    * parameter stamp, committed atomically TOGETHER
    * ([[graft.Ioops.commitDirAtomic]] over the parent) so a loader can
    * never see pairs of one generation next to components of another,
    * nor a stamp describing data it was not committed with. Components are derived from the persisted pairs
    * (written, then read back), so the two halves are consistent even
    * if the in-flight pair plan were nondeterministic. Parquet
    * round-trips longs and 4-dp-rounded doubles exactly, so
    * build-then-read and warm load serve byte-identical rows.
    *
    * `maxCandidatePairs` / `routeDense` pass through to
    * [[ngramJaccardPairs]] — without them a dense corpus could never
    * build this artifact (the loud density failure had no thread
    * through here). `routeDense = true` changes RECALL, so it is a
    * DIFFERENT artifact. The route actually taken (plus n/threshold)
    * is STAMPED into the artifact's `_params` sidecar and VERIFIED on
    * every load — not left to caller path convention, the repo's own
    * parameters-next-to-artifacts defect class (ADVICE r11 #2): a
    * banded graph at an exact consumer's path fails loudly instead of
    * silently serving lower-recall pairs. A `routeDense = true`
    * caller accepts either an exact stamp (full recall satisfies
    * everyone; the route is the corpus's density decision, which the
    * caller cannot know) or a banded stamp carrying ITS OWN
    * `maxCandidatePairs` — the cap decides where the route flips, so
    * a banded graph built under a different cap may have routed where
    * this caller's parameters would have stayed exact, and is a
    * different artifact. A `routeDense = false` caller accepts only
    * the exact stamp (cap-independent: exact values are exact under
    * any cap). */
  def ensurePairGraph(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, threshold: Double,
                      path: String,
                      maxCandidatePairs: Long = DefaultMaxCandidatePairs,
                      routeDense: Boolean = false): (DataFrame, DataFrame) = {
    def params(route: String) = ngramPairGraphStamp(n, threshold, route, maxCandidatePairs)
    val accepted: Set[String] =
      if (routeDense) Set(params("exact"), params("banded")) else Set(params("exact"))
    val (pairs, comps, _) = ensureGraphArtifact(docs.sparkSession, path,
      Seq("id_a", "id_b", "jaccard"), None,
      accepted, accepted.mkString(" or ")) { _ =>
      val (p, route) = ngramJaccardPairsRouted(docs, idCol, textCol, n, threshold,
        maxCandidatePairs = maxCandidatePairs, routeDense = routeDense)
      (p, params(route))
    }
    (pairs, comps)
  }

  /** [[ensurePairGraph]] for the MinHash/LSH candidate generator — the
    * pairing that actually runs at 100 TB (the exact-Jaccard variant
    * is the oracle path). Same life cycle: one banded self-join per
    * corpus generation persisted as `path/pairs` + `path/components`,
    * stamp-keyed path, per-JVM memo, integrity probe with rebuild,
    * atomic publish. Parameters belong in the path name (a different
    * numHashes/bands/minEstimate is a different artifact). */
  def ensureMinhashPairGraph(docs: DataFrame, idCol: String, textCol: String,
                             numHashes: Int, bands: Int, minEstimate: Double,
                             path: String,
                             maxShingleDf: Long = AutoShingleDf): (DataFrame, DataFrame) = {
    // THREE persisted halves here: signatures are written first and the
    // pairs derived from the PERSISTED copy (then components from the
    // persisted pairs) — one derivation chain, so an external oracle
    // re-banding the signature table must reproduce the pair rows
    // exactly (up to 32-bit band-key hash collisions, the same
    // accepted bound as the banding itself). An old two-half artifact
    // at this path fails the signatures probe and rebuilds.
    // The df cap joins the stamp ONLY when set: a capped signature
    // table is a different artifact, while default callers keep
    // presenting the stamp every pre-cap artifact already carries.
    // An AUTO caller resolves to one of the two EXISTING stamps —
    // engaged auto builds the same blacklist as an explicit
    // DefaultMaxShingleDf (provably: same stats pass, same cap),
    // un-engaged auto the same table as uncapped — so it ACCEPTS both
    // on load (the resolution is the corpus's density decision, which
    // a loader cannot know without paying the stats pass; the corpus is
    // pinned by the caller's stamp-keyed path and the stats pass is
    // deterministic, so the builder's resolution is THE resolution).
    // The stats pass itself runs lazily: only a cache-miss build pays
    // it, never a memo/disk hit.
    val acceptedCaps: Set[Long] =
      if (maxShingleDf == AutoShingleDf) Set(Long.MaxValue, DefaultMaxShingleDf)
      else Set(maxShingleDf)
    val accepted = acceptedCaps.map(c =>
      minhashPairGraphStamp(numHashes, bands, minEstimate, c))
    var resolvedForced = false
    lazy val resolved = {
      resolvedForced = true
      resolveMinhashCap(docs, idCol, textCol, maxShingleDf)
    }
    val (pairs, comps, stamped) =
      try ensureGraphArtifact(docs.sparkSession, path,
        Seq("id_a", "id_b", "est_jaccard"),
        Some((Seq(idCol, "signature"),
          () => minhashSignaturesResolved(docs, idCol, textCol, numHashes, resolved))),
        accepted, accepted.toSeq.sorted.mkString(" or "))(
        sig => (minhashCandidatesFromSigs(sig.get, idCol, numHashes, bands, minEstimate),
          minhashPairGraphStamp(numHashes, bands, minEstimate, resolved.cap)))
      finally
        // when this call ran the resolver, its shared shingle
        // checkpoint has no consumer past the persisted artifact —
        // drop the pinned blocks on success AND on a failed build (a
        // commit-path IO failure after the resolver materialized would
        // otherwise leak them — ADVICE r14), instead of leaving one
        // corpus-sized copy per build to a session-level sweep
        if (resolvedForced) resolved.sharedArr.foreach(Exec.release)
    // ADVICE r13 #1: an auto caller ADOPTING an UNCAPPED artifact takes
    // someone else's guard resolution — correct when the builder was
    // itself auto (deterministic stats pass, same corpus via the
    // stamp-keyed path), but an explicitly-built Long.MaxValue graph at
    // a shared path bypasses the guard silently. Make the adoption
    // visible (info, once per path per JVM). "Adopted" = THIS call's
    // resolver never ran (disk hit, memo hit, or a build another caller
    // of this JVM's memo performed — including an explicit uncapped
    // one); a build this call resolved itself stays quiet.
    if (maxShingleDf == AutoShingleDf && !resolvedForced &&
        stamped == minhashPairGraphStamp(numHashes, bands, minEstimate, Long.MaxValue) &&
        adoptionLogged.add(path))
      org.apache.logging.log4j.LogManager.getLogger(getClass).info(
        s"minhash pair graph at $path: auto df-guard caller adopted a pre-built UNCAPPED " +
          "artifact — the builder's resolution (or an explicit Long.MaxValue build) is " +
          "being served; delete the artifact to re-resolve under auto")
    (pairs, comps)
  }

  /** Paths whose uncapped-adoption info line has been emitted (once
    * per JVM — the adoption is a per-artifact fact, not a per-call
    * event). */
  private val adoptionLogged =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Build-or-load a persisted DISTINCT shingle-hash set (one
    * `shingle_h` long column) for a document set — the
    * benchmark/eval-set artifact every decontamination query probes.
    * An eval set changes once per benchmark release while the corpus
    * is scored against it continuously, so the explode+distinct job
    * belongs at ingest, not per decision query. Consumers:
    * [[contaminationScoreAgainst]] broadcasts the returned frame
    * directly (zero driver collect); [[decontaminateAgainst]] collects
    * it for the bloom literal (a tiny-file scan, no shuffle). */
  def ensureShingleSet(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, path: String): DataFrame =
    graft.Artifact.table(docs.sparkSession, path, Seq("shingle_h"))(
      shingleHashes(docs, idCol, textCol, n)
        .select(col("shingle_h")).distinct())

  /** Build-or-load the persisted SimHash signature table (idCol,
    * simhash) — the ingest artifact a deployed simhash dedup stores
    * next to the corpus (signatures are recomputed never, banded per
    * decision query). The xxhash64 token hashing stays engine-side in
    * the artifact build (pinned kernel-vs-spec by `dedup_simhash`);
    * everything downstream — chunk banding, the bucket join, hamming,
    * the threshold — is pure arithmetic an external SQL oracle
    * re-derives from this table. */
  def ensureSimhashSigs(docs: DataFrame, idCol: String, textCol: String,
                        path: String): DataFrame =
    graft.Artifact.table(docs.sparkSession, path, Seq(idCol, "simhash"))(
      simhash(docs, idCol, textCol))

  /** Shared build-or-load core for the two pair-graph artifacts: ONE
    * definition of the layout (`pairs` + `components` halves committed
    * atomically TOGETHER so a loader can never see pairs of one
    * generation next to components of another), the integrity probe,
    * and the derive-components-from-PERSISTED-pairs rule (consistent
    * halves even if the in-flight pair plan were nondeterministic).
    *
    * The build-or-load core with an OPTIONAL persisted `signatures`
    * half (schema, builder). When present, signatures are written and
    * read back BEFORE the pair build, and `pairsFrom` receives the
    * persisted frame — the derivation chain signatures → pairs →
    * components runs entirely over persisted predecessors, so the
    * three halves are one consistent generation even if an in-flight
    * plan were nondeterministic.
    *
    * Every artifact carries a `_params` sidecar (the canonical
    * parameter string `pairsFrom` returns beside the frame, committed
    * in the SAME atomic rename as the data it describes), and every
    * load — cold probe AND warm memo hit — verifies the stamp against
    * the caller's `accepted` set. The failure modes split three ways:
    * a MISSING stamp is a pre-stamp or broken artifact (regenerable by
    * construction) and rebuilds; a PRESENT-but-unaccepted stamp is a
    * caller collision — two parameterizations sharing one path — and
    * fails loudly WITHOUT touching the artifact (a rebuild would
    * silently clobber the other caller's data); an accepted stamp
    * proceeds to the per-half schema/readability probes.
    *
    * Returns (pairs, components, stamp) — the stamp so a caller that
    * accepts several parameterizations can see WHICH one it was served
    * (the auto-adoption visibility rule in [[ensureMinhashPairGraph]]). */
  private def ensureGraphArtifact(spark: org.apache.spark.sql.SparkSession,
                                  path: String, pairCols: Seq[String],
                                  sigHalf: Option[(Seq[String], () => DataFrame)],
                                  accepted: Set[String], wantDesc: String)(
                                  pairsFrom: Option[DataFrame] => (DataFrame, String)): (DataFrame, DataFrame, String) = {
    // Loud BEFORE the rebuild decision: an unaccepted stamp on a
    // readable artifact is a different parameterization's artifact,
    // not a broken one.
    def verify(stamp: String): Unit =
      require(accepted.contains(stamp),
        s"pair-graph artifact at $path carries parameters [$stamp] but this " +
          s"caller requires [$wantDesc] — a different parameterization is a " +
          "DIFFERENT artifact; give it its own path")
    def half(sub: String, cols: Seq[String]): Option[DataFrame] =
      graft.Artifact.readTable(spark, s"$path/$sub")(_ == cols)
    def readParams(): Option[String] = {
      val p = new org.apache.hadoop.fs.Path(s"$path/_params")
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) None
      else try {
        val in = fs.open(p)
        try Some(new String(in.readAllBytes(),
          java.nio.charset.StandardCharsets.UTF_8))
        finally in.close()
      } catch { case scala.util.control.NonFatal(e) =>
        // a PRESENT stamp that cannot be read is NOT "missing":
        // mapping it to None would route into the rebuild path,
        // whose commitDirAtomic deletes the destination — i.e. a
        // transient IO error reading another parameterization's
        // healthy artifact would silently clobber it, the exact
        // hazard the stamp exists to prevent. Loud beats silent;
        // the stamp is committed atomically with the data, so a
        // present-but-unreadable one means external damage or a
        // transient fault — both operator territory, not rebuild
        // territory.
        throw new IllegalStateException(
          s"pair-graph parameter stamp at $path/_params exists but cannot " +
            "be read — refusing to guess between 'transient IO fault' and " +
            "'damaged artifact'; inspect (and if damaged, delete) the " +
            s"artifact directory: ${e.getMessage}", e)
      }
    }
    def load(): Option[((DataFrame, DataFrame), String)] =
      readParams().flatMap { stamp =>
        verify(stamp)
        if (!sigHalf.forall(sc => half("signatures", sc._1).isDefined)) None
        else for {
          p <- half("pairs", pairCols)
          c <- half("components", Seq("node", "component"))
        } yield ((p, c), stamp)
      }
    val ((pairs, comps), stamped) = graft.Artifact.ensure(spark, path)(load()) { tmp =>
      val sigPersisted = sigHalf.map { case (_, build) =>
        build().write.mode("overwrite").parquet(s"$tmp/signatures")
        spark.read.parquet(s"$tmp/signatures")
      }
      val (pairsDf, actualParams) = pairsFrom(sigPersisted)
      pairsDf.write.mode("overwrite").parquet(s"$tmp/pairs")
      // the pair computation's checkpoints (the exact route's
      // exploded join frame, the banded route's base/candidate
      // frames) have no consumer past the parquet just written —
      // everything below reads persisted copies. Exec.release
      // walks the derived plan and reaps them in both storage
      // modes (r15 review; the deeper intermediates each released
      // at their own dead point inside the computation).
      graft.ops.Exec.release(pairsDf)
      val persisted = spark.read.parquet(s"$tmp/pairs")
      val comps = graft.ops.Components
        .connectedComponents(persisted, "id_a", "id_b")
      comps.write.mode("overwrite").parquet(s"$tmp/components")
      // the star path materializes its edge input + converged
      // state (a graph past the local-solve guard — exactly the
      // 100-TB build); dead once the parquet lands, same reap
      // rule as the pairs frame above
      graft.ops.Exec.release(comps)
      val params = new org.apache.hadoop.fs.Path(s"$tmp/_params")
      val out = params.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .create(params, true)
      try out.write(actualParams.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      finally out.close()
    }
    // The memo hit path must verify too: the probe above runs only for
    // the FIRST caller per (session, path) — a later caller with
    // different parameters would otherwise be served the memoized
    // frames with no check at all (the same silent-collision hazard,
    // one cache closer).
    verify(stamped)
    (pairs, comps, stamped)
  }
}
