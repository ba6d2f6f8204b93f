package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** A1–A11 aggregation / window idioms (SURVEY.md §2.4–2.5).
  *
  * The reference expresses all of these through pandas groupby idioms
  * that silently depend on physical row order (`tail(1)`, `idxmin`,
  * `drop_duplicates` keep-first). Every helper here makes the ordering
  * explicit — a total order with tie-break keys — so results are
  * deterministic on a distributed engine (SURVEY.md §7.5 risk 1).
  *
  * Every per-group pick in the library goes through this object, in one
  * of two forms. The window form ([[argminPerGroup]] for one row,
  * [[topNPerGroup]] for k rows; pandas `idxmin`/`tail(1)`/`nlargest`)
  * keeps whole rows and plans as a `row_number` window plus filter, so
  * Spark's window group-limit pushdown applies. The aggregate form
  * ([[argminSelect]]/[[argmaxSelect]], `min_by`/`max_by` over a struct)
  * keeps selected fields only and combines map-side. Which one wins
  * depends on size: at sf0.1 board sizes the aggregate is about 2×
  * faster, but on the season pipeline's 120-play clean stage it was
  * slower (a traced `season` A/B of the two forms, seeds 43-48:
  * `domain.clean_s` median 8.24 → 8.70 s, task time 11.5 → 12.9 s), so
  * `Cleaning` and `Datasets` keep the window form. The score stage picks its last frame with `max_by`
  * because that pick rides in the same aggregate as the PELT score
  * ([[graft.domain.Scoring]]).
  */
object Aggs {

  private def rn(partition: Seq[Column], order: Seq[Column]): Column =
    row_number().over(Window.partitionBy(partition: _*).orderBy(order: _*))

  /** A4/A5: argmin-per-group (tracking.py:426-437 `idxmin` + join-back)
    * and, with a descending `order`, last-row-per-group
    * (deception.py:8-15 `tail(1)`). Keeps exactly one row per group:
    * the minimum of `order` — callers must include tie-break columns
    * for determinism. */
  def argminPerGroup(df: DataFrame, partition: Seq[Column], order: Seq[Column]): DataFrame =
    df.withColumn("__rn", rn(partition, order))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** A4/A5 as ONE aggregate: group keys + the `payload` fields of the
    * row minimizing `order` (a composite total order, lexicographic
    * struct comparison). Unlike [[argminPerGroup]] (window: shuffles
    * every row, then sorts whole partitions by (group, order)), `min_by`
    * aggregates partially map-side — shuffle traffic is one row per
    * (mapper, group). The struct-typed buffer does force SortAggregate
    * (var-width buffers aren't hash-aggregable), but those sorts are on
    * the group key only and run over the combined (reduced) stream —
    * measured ~2× faster than the window form at sf0.1, and the gap
    * widens with row count / group fan-in at scale. Prefer it whenever
    * only selected fields of the winning row are needed. */
  def argminSelect(df: DataFrame, groupCols: Seq[Column], order: Seq[Column],
                   payload: Seq[String]): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(min_by(struct(payload.map(col): _*), struct(order: _*)).as("__w"))
      .select(groupCols ++ payload.map(p => col(s"__w.$p").as(p)): _*)

  /** [[argminSelect]] with the order reversed: the row *maximizing*
    * `order` (pandas `tail(1)` after an ascending sort). */
  def argmaxSelect(df: DataFrame, groupCols: Seq[Column], order: Seq[Column],
                   payload: Seq[String]): DataFrame =
    df.groupBy(groupCols: _*)
      .agg(max_by(struct(payload.map(col): _*), struct(order: _*)).as("__w"))
      .select(groupCols ++ payload.map(p => col(s"__w.$p").as(p)): _*)

  /** Top-N (N>1) rows per group with the rank kept (quadrant.ipynb
    * cell 4: `nlargest(5, 'distance_from_center')` per quadrant).
    * `order` must be a total order (tie-break keys) for determinism;
    * compiles to one window over a single shuffle on the group key. */
  def topNPerGroup(df: DataFrame, partition: Seq[Column], order: Seq[Column],
                   n: Int, rankCol: String = "rank"): DataFrame =
    df.withColumn(rankCol, rn(partition, order))
      .filter(col(rankCol) <= n)

  /** A6: grouped-filter by group size (quadrant.ipynb cell 2:
    * `groupby(...).filter(lambda g: len(g) >= n)`), via a window count —
    * no join, single shuffle on the partition keys. */
  def groupSizeFilter(df: DataFrame, partition: Seq[Column], minRows: Long): DataFrame =
    df.withColumn("__n", count(lit(1)).over(Window.partitionBy(partition: _*)))
      .filter(col("__n") >= minRows)
      .drop("__n")

  /** A7: grouped-filter by distinct-count transform (tracking.py:523-528:
    * keep plays where nunique(player_role) == k). */
  def distinctCountFilter(df: DataFrame, partition: Seq[Column],
                          valueCol: Column, k: Int): DataFrame =
    df.withColumn("__k", size(collect_set(valueCol).over(Window.partitionBy(partition: _*))))
      .filter(col("__k") === k)
      .drop("__k")

  /** Weighted median per group: the smallest value whose cumulative
    * weight reaches half the group's total — "median price weighted by
    * quantity", the robust center of any frequency-weighted
    * distribution (an unweighted median silently treats a 10 000-unit
    * line and a 1-unit line as equals).
    *
    * Weights are quantized to 1e-7 fixed-point integers before
    * the cumulative sum ([[Exprs.sumExact]]'s convention): the running
    * total and the `2·cum ≥ total` verdict are exact integer
    * comparisons, so the selected value never flaps with partition
    * order or engine summation the way a double cumsum would at a
    * half-total tie.
    *
    * Shape — the [[Ids.contiguousIds]] two-pass scheme, not a
    * per-group window: a `RANGE`-frame cumulative window computes the
    * same verdict but funnels each group's ENTIRE row set through one
    * task (the per-group single-task cliff — with 3 groups at 100 TB,
    * three tasks do all the work). Here the rows range-partition and
    * sort by (group, value) — every core holds a slice of the global
    * order — then (1) two cheap map-side passes over the partitioned
    * rows: a COUNT pass (one long per partition) that decides the
    * high-cardinality fallback before anything group-sized reaches
    * the driver, and a partials pass that stream-folds
    * per-(partition, group) weight sums (groups are contiguous within
    * a partition by the sort, so no shuffle and no hash table — just
    * a running fold) and collects them (≤ partitions + groups rows:
    * range partitioning keeps each group contiguous, and the count
    * pass has already proven groups ≤ cap — that count pass IS one
    * extra scan of the materialized frame, the deliberate price of
    * making the fallback decision with one long per partition instead
    * of discovering over-cap cardinality only after buffering
    * group-sized data in tasks and on the driver), (2) the driver
    * prefix-sums them into
    * per-(partition, group) offsets and per-group totals, and (3) each
    * partition scans its slice once with its offset seeded, emitting
    * the FIRST row whose doubled running weight reaches the group
    * total. The global answer is the min emitted value per group
    * (candidate rows in later partitions are provably larger — the
    * sort is global). The input is materialized once so both passes
    * see the same range boundaries (the Ids contract); crucially both
    * passes walk the SAME `ranged.rdd` with `mapPartitionsWithIndex`,
    * so the partition-index domain of the pass-1 offsets and the
    * pass-2 lookups agree BY CONSTRUCTION (the earlier SQL
    * `spark_partition_id()` form coupled two different plans' index
    * spaces as an implicit invariant — and ran a full SHUFFLE
    * aggregate twice, once for the cardinality cap and once for the
    * collect; the count pass here is a scan of the checkpointed
    * frame, not a re-aggregation). The per-row accumulation uses
    * arbitrary-precision integers, so no scale wraps it. Selecting min-over-qualifying-rows makes the
    * row-wise cumulative equivalent to the tie-inclusive RANGE form: a
    * value qualifies iff its tie group's closing cumulative qualifies,
    * and min() only reads the smallest qualifying value. Rows with
    * null value or null/non-positive weight are dropped (a zero weight
    * can't move the median; a negative one has no meaning here).
    *
    * Contract: the driver holds one (partial-sum) row per (partition,
    * group) and broadcasts the offset/total maps, so the group count
    * must be driver-bounded — the grouped-median shape (a handful to
    * millions of groups, not billions). Above `maxTwoPassGroups`
    * partial rows the implementation falls back to the per-group
    * RANGE-frame window form: for that many groups the per-group row
    * sets are small, which is exactly the regime where the window's
    * group-per-task parallelism is fine and the cliff this scheme
    * removes does not exist. The count pass makes that decision with
    * one long per partition on the driver — an over-cap input never
    * materializes a single partial row driver-side. */
  def weightedMedian(df: DataFrame, key: Column, value: Column,
                     weight: Column,
                     maxTwoPassGroups: Int = MaxTwoPassGroups): DataFrame = {
    val spark = df.sparkSession
    // per-row quanta as LONG, not DECIMAL(19,0): the ceilings are the
    // same magnitude (9.2e18 vs 1e19 — both fail only for weights
    // beyond ~1e11 at 1e-7 quantization), and getLong in the two RDD
    // passes skips a per-row Decimal → BigDecimal → BigInteger
    // conversion chain that dominated the scan cost. Accumulation
    // stays arbitrary-precision (BigInt) so group totals never wrap.
    val wq = floor(weight * 1e7 + 0.5).cast("long")
    val ranged = Exec.materialize(
      df.filter(value.isNotNull && weight.isNotNull && weight > 0)
        .select(key.as("key"), value.as("w_median"), wq.as("__w"))
        .repartitionByRange(col("key"), col("w_median"))
        .sortWithinPartitions(col("key"), col("w_median")))
    // pass 1a: per-partition distinct-group COUNTS — a streaming fold
    // emitting ONE long per partition, so the fallback decision for
    // ultra-high-cardinality inputs is made before anything
    // group-sized ever reaches the driver (the bounded-driver
    // contract: the count-probe must not itself collect up to
    // partitions × cap partial rows to discover the input is over the
    // cap). Cheap: a map-side scan of the already-materialized frame,
    // no shuffle, no buffer. Keys arrive contiguously
    // (sortWithinPartitions), so group boundaries are normKey
    // transitions — SQL grouping normalizes -0.0 → 0.0 and
    // canonicalizes NaN, while raw Row values do not (boxed
    // Double(-0.0) != 0.0) and binary keys compare referentially as
    // Array[Byte]; normKey gives every pass (and the sort, which
    // already normalizes) one equality.
    val cap = maxTwoPassGroups
    val groupCounts: Array[Long] = ranged.rdd.mapPartitions { it =>
      var n = 0L
      val runs = runFold(it)(_ => ())((a, _) => a)
      while (runs.hasNext) { runs.next(); n += 1 }
      Iterator.single(n)
    }.collect()
    if (groupCounts.sum > cap)
      return windowedWeightedMedian(ranged)
    // pass 1b: per-(partition, group) weight sums over the SAME
    // ranged.rdd — exactly groupCounts.sum ≤ cap rows reach the
    // driver (the materialized frame is immutable between jobs, so
    // the 1a bound holds for 1b by construction). Defense-in-depth on
    // that immutability: [[Exec.materialize]]'s durable mode is
    // persist(DISK_ONLY) — a cache, not a checkpoint — so a lost
    // partition recomputes from lineage, and a NONDETERMINISTIC
    // upstream could then present more groups than 1a counted. Each
    // task truncates its emission at cap+1 runs (bounding both the
    // task buffer and the driver collect at partitions·(cap+1) even
    // then), and the driver re-checks the collected length: over-cap
    // partials fall back to the windowed form instead of seeding
    // pass 2 with sums 1a never vetted.
    val partials: Array[(Int, Any, BigInt)] =
      ranged.rdd.mapPartitionsWithIndex { case (pid, it) =>
        runFold(it)(r => BigInt(r.getLong(2)))((a, r) => a + BigInt(r.getLong(2)))
          .take(cap + 1)
          .map { case (k, s) => (pid, k, s) }
      }.collect()
    if (partials.length > cap)
      return windowedWeightedMedian(ranged)
    val totals: Map[Any, BigInt] =
      partials.groupBy(_._2).map { case (g, xs) => g -> xs.iterator.map(_._3).sum }
    val offsets: Map[(Int, Any), BigInt] = partials.groupBy(_._2).flatMap {
      case (g, xs) =>
        val inOrder = xs.sortBy(_._1)
        val offs = inOrder.scanLeft(BigInt(0))((acc, t) => acc + t._3).init
        inOrder.map(_._1).zip(offs).map { case (pid, off) => (pid, g) -> off }
    }
    // broadcast once instead of riding every task closure
    val bTotals = spark.sparkContext.broadcast(totals)
    val bOffsets = spark.sparkContext.broadcast(offsets)
    // pass 2: offset-seeded scan; at most one candidate per (partition,
    // group) — the first row whose doubled running weight reaches the
    // group total
    // any pass-2 key or (pid, key) slice absent from the pass-1 maps is
    // the same frame presenting different rows across jobs — fail loudly
    // (a defaulted offset would seed a silently wrong cumulative)
    def diverged(what: String): Nothing = throw new IllegalStateException(
      s"weightedMedian: $what appeared in pass 2 that pass 1 never saw — " +
        "the input frame changed between jobs (nondeterministic upstream " +
        "recomputed from lineage?)")
    val cands = ranged.rdd.mapPartitionsWithIndex { case (pid, it) =>
      var curKey: Any = null
      var started = false
      var cum = BigInt(0)
      var emitted = false
      it.flatMap { row =>
        val k = normKey(row.get(0))
        if (!started || k != curKey) {
          curKey = k; started = true; emitted = false
          cum = bOffsets.value.getOrElse((pid, k), diverged(s"group slice ($pid, $k)"))
        }
        if (emitted) None
        else {
          cum += BigInt(row.getLong(2))
          if (cum * 2 >= bTotals.value.getOrElse(k, diverged(s"group $k"))) {
            emitted = true
            Some(org.apache.spark.sql.Row(row.get(0), row.get(1)))
          } else None
        }
      }
    }
    val outSchema = org.apache.spark.sql.types.StructType(
      Seq(ranged.schema("key"), ranged.schema("w_median")))
    spark.createDataFrame(cands, outSchema)
      .groupBy(col("key")).agg(min(col("w_median")).as("w_median"))
  }

  /** Driver-map row cap for the two-pass scheme (≈ tens of MB of
    * driver memory at the cap; beyond it the window fallback wins
    * anyway — see [[weightedMedian]]). */
  val MaxTwoPassGroups: Int = 1000000

  /** Stream one `(normKey, accumulated)` pair per contiguous same-key
    * run of `it` — THE definition of a group boundary, shared by
    * passes 1a and 1b so the cap decision and the collected partials
    * cannot disagree on what counts as a group (the ranged frame keeps
    * each group contiguous within a partition, so a run IS a
    * (partition, group) slice). Lazy: emits as it scans, buffers
    * nothing beyond the current accumulator. */
  private def runFold[A](it: Iterator[org.apache.spark.sql.Row])(
      init: org.apache.spark.sql.Row => A)(
      acc: (A, org.apache.spark.sql.Row) => A): Iterator[(Any, A)] =
    new Iterator[(Any, A)] {
      private var pending: org.apache.spark.sql.Row =
        if (it.hasNext) it.next() else null
      def hasNext: Boolean = pending != null
      def next(): (Any, A) = {
        if (pending == null) throw new NoSuchElementException("empty run iterator")
        val k = normKey(pending.get(0))
        var a = init(pending)
        pending = null
        while (pending == null && it.hasNext) {
          val row = it.next()
          if (normKey(row.get(0)) == k) a = acc(a, row)
          else pending = row
        }
        (k, a)
      }
    }

  /** One equality for both passes: SQL grouping's float normalization
    * (-0.0 → 0.0, canonical NaN — boxed `equals` already unifies NaN)
    * applied to raw Row values, and value-comparable binary keys.
    * Recurses into struct (Row) and array (Seq) keys — SQL normalizes
    * floats INSIDE nested grouping keys too, so a struct key with a
    * -0.0 field must land in the same group as its +0.0 twin. */
  private def normKey(k: Any): Any = k match {
    case d: java.lang.Double  => java.lang.Double.valueOf(d.doubleValue + 0.0d)
    case f: java.lang.Float   => java.lang.Float.valueOf(f.floatValue + 0.0f)
    case a: Array[Byte]       => a.toSeq
    case r: org.apache.spark.sql.Row => r.toSeq.map(normKey)
    case s: Seq[_]            => s.map(normKey)
    case other                => other
  }

  /** High-cardinality fallback: the tie-inclusive RANGE-frame window
    * form over the already-ranged rows (same verdict, per-group
    * single-task — fine when groups are many and small). */
  private def windowedWeightedMedian(ranged: DataFrame): DataFrame = {
    val cum = Window.partitionBy(col("key")).orderBy(col("w_median"))
      .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("key"))
    // cast back to decimal for the windowed sums: a long sum could
    // overflow (ANSI throw) on extreme group totals where the decimal
    // accumulator — like the two-pass path's BigInt — cannot
    ranged
      .withColumn("__cum", sum(col("__w").cast("decimal(19,0)")).over(cum))
      .withColumn("__tot", sum(col("__w").cast("decimal(19,0)")).over(tot))
      .filter(col("__cum") * 2 >= col("__tot"))
      .groupBy(col("key")).agg(min(col("w_median")).as("w_median"))
  }
}
