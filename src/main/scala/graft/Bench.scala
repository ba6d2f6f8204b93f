package graft

/** Benchmark main (driver contract): runs every `SparkEntry.queries`
  * entry on `SPARK_GRAFT_SF_DIR` and prints ONE JSON line with
  * per-query wall-clock. An untimed warmup pass ([[Harness.setUp]])
  * touches every table and runs one trivial job first so
  * JVM/codegen/file-listing startup cost is not attributed to whichever
  * query happens to run first.
  *
  * Emission order (clip-safety contract, VERDICT r19 #3 — the r18
  * round-over-round table was lost to a log tail that clipped the
  * per-query map mid-line): the full line WITH the `queries` map prints
  * FIRST, and a compact map-free line (total + `per_query_json` pointer)
  * prints LAST, so any tail window that keeps ≥ one whole line yields a
  * parseable total. Per-query records of note, in lookup order:
  *   1. the `SPARK_GRAFT_BENCH_JSON` sidecar
  *      (`/root/repo/bench_perquery_latest.json` — the full line,
  *      overwritten per run, named by the compact line's
  *      `per_query_json` field);
  *   2. `dev/bench_perquery_history.jsonl` — append-only archive, one
  *      full line per run, `bench_label`-tagged for dev runs (an
  *      UNLABELED full-battery sf0.1 line is a driver leg) — the
  *      canonical cross-round per-query history. */
object Bench {

  /** The r1 cold-leg anchor total (sec): every round's raw bench total
    * is judged against 2× this figure (the standing raw gate). The
    * reference never published latencies, so this committed constant
    * IS the quantitative baseline — keep it in sync with BASELINE.md's
    * gate discussion if the gate is ever re-epoched. */
  private[graft] val RawGateRefSec = 42.9

  /** The scale every gate reference was measured at: [[RawGateRefSec]],
    * dev/BENCH_ANCHORS.json and dev/BENCH_PERQUERY_REF.json are all
    * sf0.1 figures, so a run on any other SF dir is not a gate reading. */
  private[graft] val GateScale = "sf0.1"

  /** The last path segment of an SF dir (`/data/sf0.1/` → `sf0.1`). */
  private def scaleOf(sfDir: String): String =
    sfDir.split('/').filter(_.nonEmpty).lastOption.getOrElse(sfDir)

  /** Board-median drift above this means the container ran materially
    * off epoch speed — the raw gate number is weather until read
    * through `value_normalized`. r16's driver leg (drift 2.215, raw
    * 2.94× while normalized 1.33× was the best of any round) is the
    * motivating case: the first raw-gate breach that was pure weather,
    * adjudicated only by after-the-fact analysis. With this field the
    * sidecar labels it at emission time (VERDICT r16 #2). */
  private[graft] val DriftAlertFactor = 1.5

  /** `raw_breach` adjudication band (VERDICT r18 #1, pre-registered in
    * dev/BENCH_NORM_r19.md BEFORE any r19 leg): when the raw gate is
    * breached, a per-query drift-adjusted board median inside this
    * band says the BINARY ran at epoch speed and the excess lives in
    * a contention tail — a code regression moves the board (median
    * leaves the band); contention moves a tail (median stays in band
    * while the total blows out, the r18 driver shape: 2.376× raw at
    * drift 1.474 with board median 1.036). Inclusive both ends. */
  private[graft] val RawBreachMedianLo = 0.90
  private[graft] val RawBreachMedianHi = 1.15

  /** Median of an ASCENDING-sorted sequence — the one definition
    * behind the anchor drift factor and [[boardMedian]] (review r19:
    * three inline copies would silently diverge on a future edit). */
  private[graft] def medianOfSorted(xs: Seq[Double]): Double = {
    val n = xs.size
    if (n % 2 == 1) xs(n / 2) else (xs(n / 2 - 1) + xs(n / 2)) / 2
  }

  /** Per-query (name, drift-adjusted ratio, absolute drift-adjusted
    * excess) against the committed references — the one builder behind
    * BOTH the excursion labels and [[boardMedian]], so the two
    * calibration layers can never disagree on which (query, ref)
    * pairs are admissible (ref > 0, query timed). Empty when refs or
    * drift are unavailable. */
  private def adjVsRefs(timed: Map[String, Double],
      refs: Map[String, Double], drift: Double): Seq[(String, Double, Double)] =
    if (refs.isEmpty || !(drift > 0)) Seq.empty
    else timed.toSeq.flatMap { case (q, t) =>
      refs.get(q).collect {
        case ref if ref > 0 => (q, t / ref / drift, t - drift * ref)
      }
    }

  /** Median over all timed queries with a committed positive
    * reference of `t / ref / drift` — the whole-board drift-adjusted
    * parity statistic VERDICT r18 used to hand-adjudicate the first
    * driver raw-gate breach, now computed by the bench itself. Unlike
    * the 12-anchor drift median this spans every scoreboard query
    * (dev/BENCH_PERQUERY_REF.json covers all 158), so a stalled tail
    * cannot hide in it and a uniform slowdown divides out through
    * `drift`. None when refs or drift are unavailable — the caller
    * treats "cannot adjudicate" as INVESTIGATE, loudly, never as a
    * silent pass. Pure so BenchSpec pins it without a SparkSession. */
  private[graft] def boardMedian(timed: Map[String, Double],
      refs: Map[String, Double], drift: Double): Option[Double] = {
    val ratios = adjVsRefs(timed, refs, drift).map(_._2).sorted
    if (ratios.isEmpty) None else Some(medianOfSorted(ratios))
  }

  /** Self-adjudicating gate fields appended to both printed JSON lines
    * and the sidecar: `raw_gate_ratio` / `norm_gate_ratio` (vs the
    * committed r1 anchor), `gate_partial` (true when the reading is
    * NOT a gate reading: failed queries or a dev subset, so the ratios
    * cover only the completed queries, or an `sfDir` whose scale is not
    * [[GateScale]], so the references do not apply),
    * `drift_alert` (true when the board median says the container ran
    * > [[DriftAlertFactor]]× off epoch IN EITHER DIRECTION — a
    * too-fast container can mask a real regression behind a passing
    * raw gate, the mirror image of the r16 weather breach), and a
    * one-line `bench_verdict` carrying every number a reader needs to
    * classify a breach as weather vs code without reconstructing the
    * analysis. From r19 (VERDICT r18 #1) the classification itself is
    * emitted: `board_median` (the [[boardMedian]] statistic, whenever
    * computable) and — on a full-battery raw-gate breach —
    * `raw_breach`: `"weather"` iff the median sits inside
    * [[RawBreachMedianLo]]..[[RawBreachMedianHi]] AND the normalized
    * ratio still passes the 2× gate, else `"investigate"` (including
    * when the median or drift is unavailable: cannot-adjudicate means
    * human required, loudly). Never emitted on a partial battery —
    * partial ratios are not a gate reading at all. This closes the
    * r18 gray zone where `raw 2.38x` and `drift_alert:false` rode the
    * same line with no rule naming which wins; it applies equally
    * when `drift_alert` IS up (the r16 breach class adjudicates
    * weather under the same statistic). All numbers through
    * [[Ioops.jsonNum]] (Locale.ROOT) — the f-interpolator formats in
    * the JVM default locale and a de_DE deployment would emit comma
    * decimals (the review-r14 class). Pure string function so
    * BenchSpec pins it without a SparkSession; `driftInfo` is
    * (medianDrift, nAnchors, minRatio, maxRatio) exactly as the
    * anchor-calibration block computes it. */
  private[graft] def gateVerdictJson(total: Double,
      driftInfo: Option[(Double, Int, Double, Double)],
      nFailed: Int = 0, subset: Boolean = false,
      boardMed: Option[Double] = None, sfDir: String = GateScale): String = {
    import Ioops.{jsonEscape, jsonNum}
    val rawRatio = total / RawGateRefSec
    val scale = scaleOf(sfDir)
    val reasons = Seq(
      Option.when(subset)("query subset"),
      Option.when(nFailed > 0)(s"$nFailed failed"),
      Option.when(scale != GateScale)(
        s"scale $scale, gate references are $GateScale")).flatten
    val partial = reasons.nonEmpty
    val breach = rawRatio > 2.0 && !partial
    val partialNote =
      if (!partial) ""
      else s"PARTIAL RUN (${reasons.mkString("; ")}): " +
        "ratios are not comparable to the references -- not a gate reading; "
    val rawPart = partialNote +
      s"raw ${jsonNum(rawRatio, 2)}x vs ${jsonNum(RawGateRefSec, 1)}s r1 anchor (gate 2x)"
    val base = s""","raw_gate_ratio":${jsonNum(rawRatio, 3)},"gate_partial":$partial"""
    val medianField =
      boardMed.map(m => s""","board_median":${jsonNum(m, 3)}""").getOrElse("")
    driftInfo match {
      case Some((drift, _, lo, hi)) =>
        val normRatio = total / drift / RawGateRefSec
        val alert = drift > DriftAlertFactor || drift < 1.0 / DriftAlertFactor
        val medInBand = boardMed.exists(m =>
          m >= RawBreachMedianLo && m <= RawBreachMedianHi)
        val weather = breach && medInBand && normRatio <= 2.0
        val breachTxt =
          if (!breach) ""
          else boardMed match {
            case Some(m) =>
              s"; raw breach adjudication: board median ${jsonNum(m, 3)} " +
                (if (medInBand) "in" else "OUTSIDE") +
                s" [${jsonNum(RawBreachMedianLo, 2)},${jsonNum(RawBreachMedianHi, 2)}]" +
                s", normalized ${jsonNum(normRatio, 2)}x " +
                (if (normRatio <= 2.0) "<=" else ">") + " 2x gate => " +
                (if (weather) "WEATHER (environment, not code)" else "INVESTIGATE")
            case None =>
              "; raw breach adjudication: board median unavailable => INVESTIGATE"
          }
        val verdict = rawPart +
          s"; drift ${jsonNum(drift, 3)} spread [${jsonNum(lo, 2)},${jsonNum(hi, 2)}]" +
          s"; normalized ${jsonNum(normRatio, 2)}x" +
          (if (alert) s" -- DRIFT ALERT: container ran >${jsonNum(DriftAlertFactor, 1)}x " +
            "off epoch (slow or fast); adjudicate on the normalized figure and the " +
            "anchor spread, not the raw total"
           else "") + breachTxt
        base + medianField + s""","norm_gate_ratio":${jsonNum(normRatio, 3)}""" +
          s""","drift_alert":$alert""" +
          (if (breach) s""","raw_breach":"${if (weather) "weather" else "investigate"}"""" else "") +
          s""","bench_verdict":${jsonEscape(verdict)}"""
      case None =>
        // no drift: a breach cannot be normalized or board-adjusted —
        // adjudication is impossible by construction, so it must read
        // INVESTIGATE, never silently pass as weather. board_median is
        // drift-divided, so it is structurally absent here even if a
        // caller supplied one (review r19: the invariant lives in the
        // emitter, not in call-site discipline)
        val breachTxt =
          if (!breach) ""
          else "; raw breach adjudication: drift unavailable => INVESTIGATE"
        val verdict = rawPart +
          "; anchors unavailable -- raw-only reading, drift unknown" + breachTxt
        base + s""","drift_alert":false""" +
          (if (breach) s""","raw_breach":"investigate"""" else "") +
          s""","bench_verdict":${jsonEscape(verdict)}"""
    }
  }

  /** name → double map from a committed JSON calibration file
    * (`{..., "<field>": {"name": 1.23, ...}}`) — the shared reader
    * behind both [[BENCH_ANCHORS|the anchor file]] and the per-query
    * excursion references, so the degrade-don't-abort contract (any
    * read failure surfaces as a caller-handled exception, never a
    * crash mid-bench) lives in one place. */
  private def readNamedDoubles(path: String, field: String): Map[String, Double] = {
    val node = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(java.nio.file.Files.readString(java.nio.file.Paths.get(path)))
    val m = node.get(field)
    scala.jdk.CollectionConverters.IteratorHasAsScala(m.fieldNames()).asScala
      .map(k => k -> m.get(k).asDouble()).toMap
  }

  /** At most this many entries are LISTED in `query_excursions`: the
    * compact totals line exists to survive a ~2000-char log-tail
    * window, and a pathological leg flagging dozens of queries would
    * grow that line past its own guarantee on exactly the legs where
    * the label matters most (review r18). The listed subset is the
    * worst offenders by ratio; `n_excursions` always carries the TRUE
    * count and `excursions_truncated:true` marks the cap — no silent
    * truncation. */
  private[graft] val MaxExcursionsListed = 8

  /** A query is an excursion when its drift-adjusted ratio vs the
    * committed per-query reference exceeds this factor. 3× is the
    * pre-registered rule (dev/BENCH_NORM_r18.md, VERDICT r17 #3):
    * the board-median `drift_alert` is blind to single-query stalls
    * by construction — r17 leg 9 carried `p7_null_fill` at 10.6×
    * while the board read 0.993 — so stalls get their own label. */
  private[graft] val ExcursionFactor = 3.0

  /** ... AND its absolute drift-adjusted excess must clear this floor:
    * a 20 ms query reading 70 ms is scheduler noise, not a stall
    * worth labeling (3× alone would flag sub-100ms queries on any
    * busy leg; the r17 leg-9 stalls were ~0.5 s and ~1.5 s absolute). */
  private[graft] val ExcursionAbsFloorSec = 0.25

  /** `query_excursions` sidecar fragment (VERDICT r17 #3): for each
    * timed query with a committed reference, flag it when
    * `(t / ref) / drift > ` [[ExcursionFactor]] AND
    * `t - drift * ref > ` [[ExcursionAbsFloorSec]] — the same
    * label-at-emission treatment board drift got in r17, applied
    * per-query. Emits the flagged names with their drift-adjusted
    * ratios plus `n_excursions` (an empty object on a clean leg, so
    * absence of the FIELD means "not evaluated" — no refs or no
    * drift — never "no excursions"). Reporting only, never a gate:
    * a missing reference file or query degrades to no flag. Pure
    * string function (numbers via the Locale.ROOT `jsonNum`) so
    * BenchSpec pins it without a SparkSession. */
  private[graft] def excursionsJson(timed: Map[String, Double],
      refs: Map[String, Double], drift: Double): String = {
    import Ioops.jsonNum
    if (refs.isEmpty || !(drift > 0)) return ""
    val flagged = adjVsRefs(timed, refs, drift).collect {
      case (q, adj, excess)
          if adj > ExcursionFactor && excess > ExcursionAbsFloorSec =>
        q -> adj
    }
    // worst offenders listed (bounded — see MaxExcursionsListed),
    // name-sorted within the selection for diffability; keys through
    // the shared escaper like every other string on the line — names
    // are code-defined identifiers today, but a quote or backslash in
    // a future one must not corrupt the one machine-readable line the
    // sidecar guarantees (ADVICE r18)
    val listed = flagged.sortBy(-_._2).take(MaxExcursionsListed).sortBy(_._1)
      .map { case (q, r) => s"""${Ioops.jsonEscape(q)}:${jsonNum(r, 2)}""" }
    s""","query_excursions":${listed.mkString("{", ",", "}")}""" +
      s""","n_excursions":${flagged.size}""" +
      (if (flagged.size > listed.size) s""","excursions_truncated":true""" else "")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // driver contract: bench runs at local[32] unless overridden
    val spark = Harness.session("graft-bench", Harness.cpus(32), benchProfile = true)
    val setup = Harness.setUp(spark, sfDir, "[bench]")
    // dev-loop subset (names csv): targeted A/B timing of a few queries
    // without the full 158-query run. Unset = driver contract (all).
    val only = sys.env.get("SPARK_GRAFT_BENCH_ONLY").map(Harness.csvNames)
    val results: Seq[(String, Either[String, Double])] =
      Harness.eachQuery(spark, only) { (_, fn) =>
        val t0 = System.nanoTime()
        try { fn(spark, sfDir).count(); Right((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          e.printStackTrace()
          val msg = Option(e.getMessage).getOrElse("").replaceAll("[\"\\\\\\n\\r\\t]", " ").take(160)
          Left(e.getClass.getSimpleName + ": " + msg)
        }
      }
    // Load-normalized total (VERDICT r10 #1): the cold gate number was
    // riding box weather — 51.9→60.8s across three rounds on frozen
    // code+scoreboard while the driver number improved. Calibrate
    // against ~12 code-stable anchor queries whose reference times are
    // COMMITTED (dev/BENCH_ANCHORS.json, epoch = the r10 cold leg):
    // drift_factor = median over anchors of (time_now / time_ref), and
    // value_normalized = raw_total / drift_factor. A uniform box
    // slowdown moves every anchor together and divides out; a real code
    // regression moves its query AGAINST the anchors and survives
    // normalization. Anchors were chosen as the lowest-CV queries
    // across the three r10 same-day control legs (all CV <= 2.7%).
    // MEDIAN (not mean) so one anomalous anchor leg cannot steer the
    // factor. Missing file / subset run (< 6 anchors timed) => raw-only
    // output, never a crash: normalization is reporting, not a gate.
    val timedMap = results.collect { case (k, Right(v)) => k -> v }.toMap
    val driftInfo: Option[(Double, Int, Double, Double)] = try {
      val anchors = readNamedDoubles(sys.env.getOrElse("SPARK_GRAFT_BENCH_ANCHORS",
        "/root/repo/dev/BENCH_ANCHORS.json"), "anchors")
      val ratios = anchors.toSeq.flatMap { case (a, ref) =>
        timedMap.get(a).collect { case now if ref > 0 => now / ref }
      }.sorted
      if (ratios.size < 6) None
      else Some((medianOfSorted(ratios), ratios.size, ratios.head, ratios.last))
    } catch { case e: Exception =>
      System.err.println(s"[bench] anchor calibration unavailable (continuing raw-only): ${e.getMessage}")
      None
    }
    // anchor_spread = [min, max] per-anchor ratio: uniform box weather
    // moves all anchors TOGETHER (tight spread around the median); a
    // code change that regresses an anchor query moves that one anchor
    // AGAINST the rest (spread blows out on one side) — the median
    // alone would silently absorb it into the drift factor. A max/med
    // above ~1.5 means "inspect the anchors before trusting
    // value_normalized" (and rotate the regressed query out of
    // dev/BENCH_ANCHORS.json if the change is intentional).
    // Per-query excursion references (VERDICT r17 #3): committed
    // epoch-2-normalized per-query medians over the ten r17 cold legs
    // (dev/BENCH_PERQUERY_REF.json — covers every scoreboard query,
    // unlike the 12-anchor set). Missing/unreadable file degrades to
    // no labels, never a crash: excursion labeling is reporting.
    val perQueryRefs: Map[String, Double] = try {
      readNamedDoubles(sys.env.getOrElse("SPARK_GRAFT_BENCH_PERQUERY_REF",
        "/root/repo/dev/BENCH_PERQUERY_REF.json"), "refs")
    } catch { case e: Exception =>
      System.err.println(s"[bench] per-query refs unavailable (no excursion labels): ${e.getMessage}")
      Map.empty
    }
    val failed = results.collect { case (k, Left(_)) => "\"" + k + "\"" }
    val total = results.collect { case (_, Right(v)) => v }.sum
    // ADVICE r17: `gate_partial`'s subset arm fires only when queries
    // were ACTUALLY excluded — an ONLY filter that happens to name the
    // full battery is a complete, gate-valid run
    val subsetRun = results.size < SparkEntry.queries.size
    // the whole-board parity statistic behind `raw_breach` (VERDICT
    // r18 #1): per-query refs + the anchor drift, both already loaded
    val boardMed = driftInfo.flatMap { case (drift, _, _, _) =>
      boardMedian(timedMap, perQueryRefs, drift)
    }
    val normFields = driftInfo.map { case (drift, n, lo, hi) =>
      s""","drift_factor":${Ioops.jsonNum(drift, 4)},"n_anchors":$n,"anchor_spread":[${Ioops.jsonNum(lo, 4)},${Ioops.jsonNum(hi, 4)}],"value_normalized":${Ioops.jsonNum(total / drift, 3)}"""
    }.getOrElse("") +
      gateVerdictJson(total, driftInfo, nFailed = failed.size, subset = subsetRun,
        boardMed = boardMed, sfDir = sfDir) +
      driftInfo.map { case (drift, _, _, _) =>
        excursionsJson(timedMap, perQueryRefs, drift)
      }.getOrElse("")
    // a broken query must surface as an error marker, never a fake timing
    val qs = results.map {
      case (k, Right(v)) => "\"" + k + "\":" + v
      case (k, Left(e))  => "\"" + k + "\":\"err:" + e + "\""
    }.mkString("{", ",", "}")
    // Full per-query line first (driver contract shape). The driver's
    // log capture keeps only the last ~2000 chars, and 80 queries of
    // timings exceed that — so ALSO print a compact, self-contained
    // totals line LAST. Whatever line the tail window preserves intact
    // is valid JSON carrying metric/value/unit/sf; the per-query map
    // rides in the big line (and mostly survives in the tail for human
    // readers even when its head is clipped).
    // setup is reported, never billed: the per-phase map is the
    // evidence trail for environment attributions (a slow driver-side
    // "table_bytes" or "prebuild" phase explains a cold container
    // without touching the measured totals)
    val setupJson = setup.phases.map { case (n, s) => s""""$n":${Ioops.jsonNum(s, 3)}""" }
      .mkString("{", ",", "}")
    val setupFields =
      s""","setup_sec":${Ioops.jsonNum(setup.phases.map(_._2).sum, 3)},"setup":$setupJson""" +
        setup.err.map(e => s""","setup_err":${Ioops.jsonEscape(e)}""").getOrElse("")
    // Emission timestamp (ISO-8601 UTC — locale-free by construction):
    // lets any archived copy of this line be matched to its BENCH_r{N}
    // without filesystem mtimes. Sidecar-schema provenance (VERDICT
    // r17 #6 discipline): `emitted_utc`, `query_excursions`,
    // `n_excursions` date from r18; `gate_partial` from r17 leg 5.
    val emittedUtc = java.time.Instant.now().toString
    // Recipe label (VERDICT r18 #2): history lines 0/3 of the r18 era
    // were dev runs holding the two best raw totals ever recorded,
    // indistinguishable in-line from cold legs. An optional label
    // (`cold-leg-N`, `dev-warm`, ...) names the recipe at emission;
    // the driver sets none, so an unlabeled full-battery sf0.1 line
    // from r19 on IS a driver leg (provenance: dev/BENCH_NORM_r19.md
    // §2 marks the pre-label era).
    val labelField = sys.env.get("SPARK_GRAFT_BENCH_LABEL").filter(_.nonEmpty)
      .map(l => s""","bench_label":${Ioops.jsonEscape(l)}""").getOrElse("")
    val bigLine = s"""{"queries":$qs,"failed":${failed.mkString("[", ",", "]")},"sf":"$sfDir","n_queries":${results.size}$normFields$setupFields,"emitted_utc":"$emittedUtc"$labelField,"metric":"total","unit":"sec","value":$total}"""
    // Durable sidecar: the complete per-query map survives regardless of
    // any log tail window — BENCH_r{N} regression analysis reads this
    // file when the printed big line is clipped. Path is overridable so
    // concurrent bench runs don't clobber each other.
    val sidecar = sys.env.getOrElse("SPARK_GRAFT_BENCH_JSON",
      "/root/repo/bench_perquery_latest.json")
    try java.nio.file.Files.writeString(java.nio.file.Paths.get(sidecar), bigLine + "\n")
    catch { case e: Exception =>
      System.err.println(s"[bench] sidecar write failed ($sidecar): ${e.getMessage}")
    }
    // Append-only archive (VERDICT r17 #2): the latest-file overwrite
    // lost every pre-r17 driver per-query history — each run now ALSO
    // appends its line (timestamped above) to a history file that
    // nothing truncates, so driver legs survive round turnover without
    // builder intervention. Same degrade-don't-abort contract.
    // Interleaving-safe under concurrent bench JVMs (review r18): the
    // latest-file path is per-run overridable exactly because two
    // benches can run at once, and a multi-KB line under plain APPEND
    // can be split across write syscalls at the JDK layer — an
    // exclusive inter-process FileLock around one whole-buffer write
    // keeps every history line intact.
    val history = sys.env.getOrElse("SPARK_GRAFT_BENCH_HISTORY",
      "/root/repo/dev/bench_perquery_history.jsonl")
    try {
      import java.nio.file.StandardOpenOption._
      val ch = java.nio.channels.FileChannel.open(
        java.nio.file.Paths.get(history), CREATE, WRITE, APPEND)
      try {
        // tryLock with a bounded retry, not a blocking lock(): a
        // concurrent bench JVM dying or hanging while holding the
        // lock must degrade this run to a stderr note — the sidecar
        // already holds the line — never block emission indefinitely
        // (ADVICE r18; the degrade-don't-abort contract)
        var lock: java.nio.channels.FileLock = null
        var tries = 0
        while (lock == null && tries < 50 &&
            !Thread.currentThread().isInterrupted) {
          lock = ch.tryLock()
          if (lock == null) {
            tries += 1
            // preserve the interrupt instead of letting it surface as
            // a mislabeled "append failed" in the outer catch — the
            // loop exits on the flag and degrades normally (review r19)
            try Thread.sleep(100)
            catch { case _: InterruptedException =>
              Thread.currentThread().interrupt()
            }
          }
        }
        if (lock == null)
          System.err.println(
            s"[bench] history lock unavailable after 5s ($history): append skipped; line is in $sidecar")
        else
          try ch.write(java.nio.ByteBuffer.wrap(
            (bigLine + "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8)))
          finally lock.release()
      } finally ch.close()
    } catch { case e: Exception =>
      System.err.println(s"[bench] history append failed ($history): ${e.getMessage}")
    }
    // escape the env-supplied path: a quote, backslash, or control
    // char in it would break the ONE line whose machine-readability
    // the sidecar exists to guarantee — through the shared escaper
    // (copies drift; review r13)
    val sidecarJson = Ioops.jsonEscape(sidecar)
    println(bigLine)
    // labelField on BOTH lines: the compact line is the one the
    // driver's ~2000-char log tail preserves, and an unlabeled
    // full-battery sf0.1 line is read as a driver leg from r19 on —
    // a labeled dev run must not masquerade there (review r19)
    println(s"""{"metric":"total","unit":"sec","value":$total,"sf":"$sfDir","n_queries":${results.size},"n_failed":${failed.size}$normFields$setupFields$labelField,"per_query_json":$sidecarJson}""")
    if (failed.nonEmpty) { spark.stop(); sys.exit(1) }
    spark.stop()
  }
}
