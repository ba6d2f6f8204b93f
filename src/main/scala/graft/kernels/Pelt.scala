package graft.kernels

import scala.collection.mutable

/** K2: PELT change-point detection with L2 cost (SURVEY.md §2.9).
  *
  * Reimplements, from its published semantics, the algorithm the
  * reference invokes via `ruptures.Pelt(model="l2").fit(signal)
  * .predict(pen=0.01)` (reference `src/metrics/deception.py:33-36`):
  * Killick et al., "Optimal detection of changepoints with a linear
  * computational cost" (JASA 2012). Matches the reference's effective
  * configuration: `min_size=2`, candidate breakpoints on a `jump=5`
  * grid, penalty added per segment, L2 segment cost = within-segment
  * sum of squared deviations from the segment mean.
  *
  * Also implements the reference's post-hoc *max-magnitude selection*
  * (`deception.py:41-78`): among detected change points, pick the one
  * whose adjacent-segment mean difference is largest, and the fallback
  * (`deception.py:39-40,97-104`) when no change point is found.
  *
  * Pure JVM-local kernel: runs per play/user after a single shuffle on
  * the group key, inside the native aggregate
  * ([[graft.functions.PeltDeception]], the pipeline's path) or a
  * `Dataset.groupByKey(...).mapGroups` (the board's reference form) —
  * series are 10–70 points, so O(n²/jump) is negligible and the
  * operator scales with the number of groups, not series length.
  */
object Pelt {
  val DefaultPenalty = 0.01
  val MinSize = 2
  val Jump = 5

  /** Per-key series cap for the collecting forms (the native aggregate
    * and the `mapGroups` query): a series longer than this is truncated
    * to its FIRST `MaxSeriesPoints` points in (order, tie) order — the
    * same documented-truncation stance as the hot-shingle DF cap in
    * [[graft.text.Dedup.ngramJaccardPairs]]. Domain series are 10–70
    * points; the cap exists so one pathological key (a user with 10⁸
    * events) costs bounded task memory (~2.4 MB of triples) instead of
    * an executor OOM. Truncation is deterministic (order, tie) — not
    * arrival order — so retries and partial-buffer merge order cannot
    * change which points survive. */
  val MaxSeriesPoints: Int = 100000

  /** The `cap` smallest elements of `it` under `ord`, returned ascending,
    * in O(cap) memory (size-capped max-heap) and O(n log cap) time —
    * the bounded replacement for `it.toArray.sortBy(...)` when one key
    * may hold an unbounded series. */
  def boundedCollect[T](it: Iterator[T], cap: Int, ord: Ordering[T])(
      implicit ct: scala.reflect.ClassTag[T]): Array[T] = {
    val heap = mutable.PriorityQueue.empty[T](ord) // max at head
    it.foreach { x =>
      if (heap.size < cap) heap += x
      else if (ord.lt(x, heap.head)) { heap.dequeue(); heap += x }
    }
    heap.toArray.sorted(ord)
  }

  /** L2 cost of segment [start, end): sum of squared deviations from the
    * segment mean (two-pass, matching numpy's `var(ddof=0) * len`). */
  private def l2Cost(prefix: Array[Double], prefixSq: Array[Double],
                     start: Int, end: Int): Double = {
    val n = end - start
    if (n <= 0) return 0.0
    val sum = prefix(end) - prefix(start)
    val sumSq = prefixSq(end) - prefixSq(start)
    val mean = sum / n
    math.max(0.0, sumSq - 2 * mean * sum + n * mean * mean)
  }

  /** Optimal segmentation ends (exclusive, ascending, final element =
    * signal.length), like ruptures' `predict`: e.g. Seq(10, 25, 40) for
    * a 40-point series with change points at 10 and 25. */
  def segment(signal: Array[Double], pen: Double = DefaultPenalty): Seq[Int] = {
    val n = signal.length
    if (n < 2 * MinSize) return Seq(n)
    val prefix = new Array[Double](n + 1)
    val prefixSq = new Array[Double](n + 1)
    var i = 0
    while (i < n) {
      prefix(i + 1) = prefix(i) + signal(i)
      prefixSq(i + 1) = prefixSq(i) + signal(i) * signal(i)
      i += 1
    }
    // Candidate breakpoints: the jump grid ≥ min_size, plus n itself.
    val ind = (0 until n by Jump).filter(_ >= MinSize) :+ n
    // partitions(t) = (total cost incl. penalties, segment ends) of the
    // best segmentation of [0, t).
    val partitions = mutable.Map(0 -> (0.0, List.empty[Int]))
    var admissible = List.empty[Int]
    for (bkp <- ind) {
      val newAdm = ((bkp - MinSize) / Jump) * Jump
      admissible = admissible :+ newAdm
      val sub = admissible.flatMap { t =>
        partitions.get(t).map { case (c, ends) =>
          (t, c + l2Cost(prefix, prefixSq, t, bkp) + pen, ends :+ bkp)
        }
      }
      val best = sub.minBy(_._2)
      partitions(bkp) = (best._2, best._3)
      // PELT pruning: keep t only while its subproblem could still win.
      val keep = sub.collect { case (t, c, _) if c <= best._2 + pen => t }.toSet
      admissible = admissible.filter(keep)
    }
    partitions(n)._2
  }

  /** The reference's `detect_change_point` (deception.py:18-80): run
    * PELT, then pick the change point with max |mean(after) − mean(before)|
    * between adjacent segments; return the signal length when no change
    * point was detected (the caller's fallback sentinel). */
  def changePoint(signal: Array[Double], pen: Double = DefaultPenalty): Int = {
    val n = signal.length
    val cps = segment(signal, pen)
    if (cps.length <= 1) return n
    def mean(a: Int, b: Int): Double = {
      var s = 0.0; var i = a
      while (i < b) { s += signal(i); i += 1 }
      s / (b - a)
    }
    var bestIdx = 0
    var bestMag = Double.NegativeInfinity
    for (i <- 0 until cps.length - 1) {
      val cp = cps(i)
      val startPrev = if (i > 0) cps(i - 1) else 0
      val mag =
        if (cp > startPrev && cps(i + 1) > cp)
          math.abs(mean(cp, cps(i + 1)) - mean(startPrev, cp))
        else 0.0
      if (mag > bestMag) { bestMag = mag; bestIdx = i } // argmax keeps first
    }
    cps(bestIdx)
  }

  /** [[changePoint]] and the K3 deception score (deception.py:83-117:
    * mean(signal[cp:]) − mean(signal[:cp]); fallback last − first when
    * no change point) from ONE segmentation — every caller wants both,
    * and computing them separately runs the full PELT dynamic program
    * twice per group. */
  def changePointAndScore(signal: Array[Double],
                          pen: Double = DefaultPenalty): (Int, Double) = {
    val n = signal.length
    val cp = changePoint(signal, pen)
    val score =
      if (n == 0) 0.0
      else if (cp == n) signal(n - 1) - signal(0)
      else {
        def mean(a: Int, b: Int): Double = {
          var s = 0.0; var i = a
          while (i < b) { s += signal(i); i += 1 }
          s / (b - a)
        }
        mean(cp, n) - mean(0, cp)
      }
    (cp, score)
  }
}
