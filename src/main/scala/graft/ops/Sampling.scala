package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Deterministic, engine-reproducible sampling for training-data mixes.
  *
  * `df.sample()` draws from a per-partition RNG: the result changes
  * under repartitioning, task retries re-draw, and no other engine can
  * reproduce the sample for an audit. Training-data curation needs the
  * opposite — a sample that is a pure FUNCTION of each row's key:
  * re-runs are identical, the decision is auditable per row, adding
  * data never flips the decision for existing rows, and raising a rate
  * strictly grows the sample (nested samples, so ablation subsets of a
  * data mix are subsets in fact).
  *
  * Mechanism: the first 4 hex chars of md5(key) are a uniform draw over
  * [0, 65536); a rate r keeps rows whose prefix string-compares below
  * the 4-hex-digit threshold round(r·65536). String comparison makes
  * the predicate portable verbatim to any engine with md5 — the DuckDB
  * oracle runs the identical expression. Pure projection + filter:
  * ZERO shuffle, fully pushable.
  */
object Sampling {

  /** 4-hex-digit threshold for a keep-rate in [0, 1]. */
  private def rateThreshold(rate: Double): String = {
    require(rate >= 0.0 && rate <= 1.0, s"rate $rate outside [0, 1]")
    f"${math.min(math.round(rate * 65536.0), 65535L)}%04x"
  }

  /** The uniform draw: first 4 hex chars of md5 of the key rendered as
    * a string (stringification pins the bytes hashed — engines agree on
    * the decimal rendering of a long, not on its binary layout). */
  def hashDraw(key: Column): Column = substring(md5(key.cast("string")), 1, 4)

  /** Stratified hash sample: per-stratum keep-rates (a training-mix
    * spec: "50% of en, 25% of de, …"), one CASE expression resolving
    * the stratum's threshold, one filter — a row is kept when its key's
    * [[hashDraw]] falls below its stratum's rate. Rates quantize to
    * 1/65536 steps (1.0 keeps ~65535/65536). Strata absent from `rates`
    * fall back to `defaultRate`. */
  def stratifiedSample(df: DataFrame, key: Column, stratum: Column,
                       rates: Map[String, Double], defaultRate: Double): DataFrame = {
    val threshold = rates.foldLeft(lit(rateThreshold(defaultRate))) {
      case (acc, (s, r)) => when(stratum === s, lit(rateThreshold(r))).otherwise(acc)
    }
    df.filter(hashDraw(key) < threshold)
  }

  /** Importance-weighted deterministic sampling: per-row keep
    * probability = `rate` (a COLUMN, clamped to [0, 1]) — "sample
    * proportional to quality score", the weighted half of a training
    * mix. Same draw as [[stratifiedSample]], so the decision stays a pure,
    * auditable function of the key, and a row's fate is monotone in
    * its rate: raising a row's rate can only flip it from dropped to
    * kept. The threshold is rendered per row with the floor-form
    * rounding (`floor(x + 0.5)`) every cross-engine number here uses —
    * NOT `round()` — so the DuckDB oracle reproduces the cut exactly.
    *
    * Quantization at the top end (same 16-bit grid [[stratifiedSample]]
    * documents): the draw is compared against a 4-hex threshold, so
    * rate 1.0 keeps 65535/65536 of rows — the single draw equal to
    * "ffff" is dropped. Callers needing a true keep-all at rate ≥ 1
    * should skip the filter (both engine and oracle sides) rather
    * than expect this function to special-case it. */
  def weightedSample(df: DataFrame, key: Column, rate: Column): DataFrame = {
    val scaled = floor(least(greatest(rate, lit(0.0)), lit(1.0)) * 65536.0 + 0.5)
    val threshold = format_string("%04x",
      least(scaled, lit(65535.0)).cast("long"))
    df.filter(hashDraw(key) < threshold)
  }

  /** Cap each group at `n` rows — the "at most N documents per domain /
    * source / language" curation gate — selecting the n rows with the
    * SMALLEST hash draws (tie-broken by key), so the selection is as
    * auditable, retry-stable, and engine-reproducible as [[stratifiedSample]]
    * and is NESTED: capPerGroup(m) ⊆ capPerGroup(n) for m ≤ n, and the
    * kept set never changes for a group that only gained rows with
    * larger draws. One shuffle (the window's group partitioning).
    *
    * Skew: a hot group sorts all its rows in one window partition.
    * Because selection is by smallest draw, a hash pre-filter composes
    * SOUNDLY when a group is known to be huge: any draw threshold that
    * retains ≥ n of the group's rows provably preserves the result
    * (everything it drops sorts after the kept n), so
    * a [[stratifiedSample]] with a conservative per-group rate
    * bounds the window input at ~rate·|group| without changing the
    * output — verify the ≥ n retention per group and fall back for the
    * (vanishingly rare) under-filled ones. */
  def capPerGroup(df: DataFrame, group: Seq[Column], key: Column, n: Int): DataFrame = {
    require(n > 0, s"cap must be positive, got $n")
    Aggs.topNPerGroup(df, group, Seq(hashDraw(key), key), n, "__graft_rn")
      .drop("__graft_rn")
  }

  /** Budgeted selection: walk each group in a caller-supplied priority
    * order and keep rows while the RUNNING total of `weightCol` stays
    * within `budget` — "fill each language's token quota with the
    * best-scoring documents first", the mixing step that turns scored
    * corpora into a train set with a per-source size contract.
    *
    * Semantics (spelled so the oracle can restate them): a row is kept
    * iff the cumulative weight up to AND INCLUDING it (in priority
    * order) is ≤ budget. Greedy-prefix, not knapsack: one oversized
    * top-priority row can block a group (its inclusive cumsum already
    * exceeds the budget) — the deterministic, explainable contract a
    * data pipeline wants, not an optimizer. `orderBy` must be a TOTAL
    * order within each group or the kept set is partition-order-
    * dependent (same contract as every window in this file).
    *
    * Integer weights keep the running sum EXACT — no float
    * accumulation at any scale. One shuffle (the group window);
    * a hot group serializes its own window, the documented bound
    * shared with capPerGroup. */
  def takeUntilBudget(df: DataFrame, group: Seq[Column], orderBy: Seq[Column],
                      weightCol: String, budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    require(orderBy.nonEmpty, "takeUntilBudget needs a total priority order")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(group: _*).orderBy(orderBy: _*)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    df.withColumn("__graft_cum", sum(col(weightCol).cast("long")).over(w))
      .filter(col("__graft_cum") <= budget).drop("__graft_cum")
  }

  /** Deterministic train/val/test (or any k-way) split assignment:
    * each row's label is a pure function of its key — the same row
    * lands in the same split on every engine, every re-run, and every
    * corpus revision (adding rows never moves existing ones across
    * splits, so eval sets stay eval sets as the corpus grows — the
    * property a time-based or positional split lacks).
    *
    * `fractions` = ordered (label, fraction) list; fractions must be
    * positive and sum to ≤ 1 (a deficit leaves a remainder bucket that
    * falls to the LAST label — spelled this way so the thresholds are
    * closed-form for the oracle). Cut points quantize to the draw's
    * 1/65536 resolution, same as [[stratifiedSample]]. Zero shuffle: one
    * CASE over the hash draw in the scan projection. */
  def splitAssign(df: DataFrame, key: Column,
                  fractions: Seq[(String, Double)]): DataFrame = {
    require(fractions.nonEmpty, "splitAssign needs at least one label")
    require(fractions.forall(_._2 > 0.0), s"fractions must be positive: $fractions")
    val total = fractions.map(_._2).sum
    require(total <= 1.0 + 1e-9, s"fractions sum to $total > 1")
    val cuts = fractions.scanLeft(0.0)(_ + _._2).tail
    val draw = hashDraw(key)
    val labeled = fractions.init.zip(cuts.init).foldRight(
      lit(fractions.last._1): Column) { case (((label, _), cut), rest) =>
      when(draw < lit(rateThreshold(math.min(cut, 1.0))), lit(label))
        .otherwise(rest)
    }
    // The CASE tests cuts in ascending order, so the FIRST matching
    // threshold wins — identical to the oracle's CASE. A NULL key gets
    // a NULL label, loud and filterable downstream — without the guard
    // every when() condition evaluates null and the row falls through
    // the CASE into the LAST label, silently contaminating the eval
    // split with unkeyed rows (the samplers' null-key drop, made visible
    // instead of a drop: a split assigner must account for every row).
    df.withColumn("split", when(key.isNotNull, labeled))
  }

  /** Training-mix weights: for each group (source, language, domain),
    * the sampling weight and epoch count that hit a UNIFORM target
    * mixture under a total `budget` of `weight` units (tokens, chars,
    * bytes) — the step that turns per-source token accounting into the
    * knobs a data loader consumes ("sample CommonCrawl at 0.3, repeat
    * books 4 times").
    *
    * Per group: `actual_total` = its summed weight; `target_total` =
    * budget div n_groups (INTEGER division — engine-exact, the
    * remainder is deliberately unallocated rather than float-split);
    * `sample_weight` = min(1, target/actual) — the keep-rate to feed
    * [[weightedSample]] when a group overshoots its quota;
    * `epochs` = ceil(target/actual) — the repeat count when a group
    * undershoots it (data-constrained regime), 0 when target is 0.
    * One IEEE double division per group for the weight (deterministic
    * cross-engine), integer arithmetic everywhere else.
    *
    * Groups with a nonpositive or null weight sum are absent by
    * contract. Scale shape: ONE map-side-combined aggregate over the
    * corpus to group cardinality; the group count rides back as a
    * broadcast 1-row aggregate — the corpus itself never shuffles
    * twice and nothing group-cardinality-sized leaves the executors. */
  def mixWeights(df: DataFrame, group: Column, weight: Column,
                 budget: Long): DataFrame = {
    require(budget > 0, s"budget must be positive, got $budget")
    val per = df.groupBy(group)
      .agg(sum(weight.cast("long")).as("actual_total"))
      .filter(col("actual_total") > 0)
    val n = per.agg(count(lit(1)).as("__n_groups"))
    per.crossJoin(broadcast(n))
      .withColumn("target_total", expr(s"${budget}L div __n_groups"))
      .withColumn("sample_weight", graft.ops.Exprs.r4(least(lit(1.0),
        col("target_total").cast("double") / col("actual_total").cast("double"))))
      .withColumn("epochs",
        expr("(target_total + actual_total - 1L) div actual_total"))
      .drop("__n_groups")
  }

  /** Hex digit → 0–15 via ascii arithmetic (md5 hex is lowercase on
    * every engine; `ascii` exists everywhere, `conv` does not). */
  private def nibble(c: Column): Column =
    when(ascii(c) <= 57, ascii(c) - 48).otherwise(ascii(c) - 87)

  /** Deterministic shard assignment + within-shard ordering — the
    * "global shuffle" of a training-data layout, as a pure function of
    * each row's key: `shard` = the first 16 bits of md5(key) mod
    * `nShards`, `pos` = the row's 1-based rank within its shard by
    * (full hash, key). Re-runs, other engines, and task retries
    * produce the identical layout; appending new rows never moves an
    * existing row to a different shard (it can only re-rank within the
    * one shard it lands in) — so incremental corpus builds don't
    * reshuffle history.
    *
    * Scale shape: ONE hash shuffle on `shard` + a per-shard sort (the
    * window). Pick `nShards` ≥ cluster parallelism so each shard
    * (n/nShards rows) sorts in one task — the knob a 100 TB layout
    * tunes anyway because shard files are the unit downstream loaders
    * read. `nShards` ≤ 65536 (the draw's resolution). Null keys are
    * the caller's bug: the hash propagates null and the row sorts into
    * shard null, visibly, rather than being silently dropped.
    *
    * `key` must be unique per row (it is the total order's tiebreak —
    * duplicate keys make `pos` ambiguous under the same contract as
    * every window in this file). */
  def shardAssign(df: DataFrame, key: Column, nShards: Int): DataFrame = {
    require(nShards >= 1 && nShards <= 65536,
      s"nShards must be in [1, 65536], got $nShards")
    val hx = md5(key.cast("string"))
    val v = ((nibble(substring(hx, 1, 1)) * 16 + nibble(substring(hx, 2, 1))) * 16 +
      nibble(substring(hx, 3, 1))) * 16 + nibble(substring(hx, 4, 1))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("__graft_shard")).orderBy(hx.asc, key.asc)
    df.withColumn("__graft_shard", v % nShards)
      .withColumn("pos", row_number().over(w))
      .withColumnRenamed("__graft_shard", "shard")
  }
}
