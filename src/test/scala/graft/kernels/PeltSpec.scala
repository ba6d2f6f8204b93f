package graft.kernels

import org.scalatest.funsuite.AnyFunSuite

/** K2/K3 kernel tests (SURVEY.md §5.2): hand-computed change points,
  * the no-change-point fallback (deception.py:39-40,97-104), and an
  * optimality property — PELT must return the minimum-penalized-cost
  * segmentation among all jump-grid/min-size-legal segmentations
  * (checked against a brute-force enumerator). */
class PeltSpec extends AnyFunSuite {

  private def sse(xs: Seq[Double]): Double = {
    if (xs.isEmpty) return 0.0
    val m = xs.sum / xs.length
    xs.map(x => (x - m) * (x - m)).sum
  }

  /** All segmentations with breakpoints on the jump grid (≥ min_size,
    * gaps ≥ min_size), their total cost incl. one penalty per segment. */
  private def bruteBest(signal: Array[Double], pen: Double): Double = {
    val n = signal.length
    val grid = (0 until n by Pelt.Jump).filter(_ >= Pelt.MinSize).filter(_ <= n - Pelt.MinSize)
    def cost(ends: List[Int]): Double = {
      val bounds = 0 +: ends :+ n
      bounds.sliding(2).map { case Seq(a, b) => sse(signal.slice(a, b)) + pen }.sum
    }
    def subsets(xs: List[Int]): List[List[Int]] = xs match {
      case Nil => List(Nil)
      case h :: t => val rest = subsets(t); rest ++ rest.map(h :: _)
    }
    subsets(grid.toList)
      .filter(s => (0 +: s.sorted :+ n).sliding(2).forall { case Seq(a, b) => b - a >= Pelt.MinSize })
      .map(s => cost(s.sorted)).min
  }

  test("constant series: no change point, fallback sentinel") {
    val s = Array.fill(20)(3.0)
    assert(Pelt.segment(s) == Seq(20))
    assert(Pelt.changePoint(s) == 20)
    assert(Pelt.changePointAndScore(s)._2 == 0.0) // last - first
  }

  test("clean step on the jump grid is found") {
    val s = Array.fill(5)(0.0) ++ Array.fill(5)(5.0)
    assert(Pelt.segment(s) == Seq(5, 10))
    assert(Pelt.changePoint(s) == 5)
    assert(math.abs(Pelt.changePointAndScore(s)._2 - 5.0) < 1e-12)
  }

  test("off-grid step snaps to nearest grid break") {
    // true step at 3; only grid candidate is 5
    val s = Array(0.0, 0.0, 0.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0, 5.0)
    assert(Pelt.changePoint(s) == 5)
    // deception = mean(s[5:]) - mean(s[:5]) = 5 - 2 = 3
    assert(math.abs(Pelt.changePointAndScore(s)._2 - 3.0) < 1e-12)
  }

  test("short series (< 2*min_size) falls back to last-first") {
    val s = Array(0.1, 0.9, 0.4)
    assert(Pelt.segment(s) == Seq(3))
    assert(math.abs(Pelt.changePointAndScore(s)._2 - 0.3) < 1e-12)
  }

  test("two steps: max-magnitude selection picks the larger jump") {
    // steps at 5 (+1) and at 10 (+10): magnitude of cp=10 is larger
    val s = Array.fill(5)(0.0) ++ Array.fill(5)(1.0) ++ Array.fill(5)(11.0)
    val cps = Pelt.segment(s)
    assert(cps.contains(10))
    assert(Pelt.changePoint(s) == 10)
  }

  test("empty and singleton series are safe") {
    assert(Pelt.changePointAndScore(Array.empty[Double])._2 == 0.0)
    assert(Pelt.changePointAndScore(Array(0.7))._2 == 0.0)
  }

  test("property: PELT output is legal and near the brute-force optimum (200 seeded cases)") {
    // The reference algorithm (ruptures Pelt with jump=5) is deliberately
    // approximate: admissible-set pruning at a grid point can drop a
    // predecessor that a *later* point needed (the pruner can't become
    // its predecessor when the final segment would violate min_size).
    // So we assert legality + can't-beat-exhaustive + bounded slack, not
    // exact optimality — fidelity to the published algorithm wins.
    val rng = new scala.util.Random(42)
    for (_ <- 1 to 200) {
      val n = 4 + rng.nextInt(19)
      val signal = Array.fill(n)(rng.nextDouble() * 10 - 5)
      val ends = Pelt.segment(signal, 0.5)
      // legality: ascending, final = n, interior on the jump grid,
      // every segment >= min_size
      assert(ends.last == n)
      assert(ends == ends.sorted)
      assert(ends.init.forall(e => e % Pelt.Jump == 0 && e >= Pelt.MinSize))
      assert((0 +: ends.toList).sliding(2).forall { case Seq(a, b) => b - a >= Pelt.MinSize })
      val bounds = 0 +: ends.toList
      val peltCost = bounds.zip(ends).map { case (a, b) =>
        sse(signal.slice(a, b)) + 0.5
      }.sum
      val best = bruteBest(signal, 0.5)
      assert(peltCost >= best - 1e-9, s"pelt beat exhaustive?! $peltCost < $best")
      assert(peltCost <= best * 1.05 + 1.0,
        s"pelt too far from optimum: $peltCost vs $best for n=$n ends=$ends")
    }
  }
}
