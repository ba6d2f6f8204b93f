package graft.kernels

import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.functions.PeltDeception

/** The per-key series cap (Pelt.MaxSeriesPoints): a pathological key —
  * orders of magnitude beyond the domain's 10–70-point series — must
  * complete in bounded memory, and truncation must be deterministic
  * (the first `maxPoints` points in (order, tie) order), not
  * arrival-order-dependent. */
class PeltBoundSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("boundedCollect keeps the cap-smallest elements, ascending, from a 10^6 iterator") {
    val n = 1000000
    // worst-case arrival: strictly descending, so the heap churns on every element
    val it = Iterator.range(0, n).map(i => ((n - 1 - i).toLong, 0L, (n - 1 - i).toDouble))
    val got = Pelt.boundedCollect(it, 500,
      Ordering.by((x: (Long, Long, Double)) => (x._1, x._2)))
    assert(got.length == 500)
    assert(got.map(_._1).toSeq == (0L until 500L).toSeq)
  }

  test("native aggregate truncates a pathological key to maxPoints, matching the direct kernel") {
    val cap = 500
    val df = spark.range(200000).select(
      lit(1L).as("user_id"),
      (col("id") % 97).cast("double").as("value"),
      col("id").as("tsm"),
      col("id").as("event_id"))
    val agg = ColumnBridge.column(PeltDeception(
      ColumnBridge.expression(col("value")),
      ColumnBridge.expression(col("tsm")),
      ColumnBridge.expression(col("event_id")),
      Pelt.DefaultPenalty, cap).toAggregateExpression())
    val row = df.groupBy(col("user_id")).agg(agg.as("pd")).select("pd.*").head()
    // the cap compacts partial buffers map-side (2×cap trigger) and once
    // more at eval — the surviving series must be exactly the first cap
    // points, so the result equals the kernel run directly on them
    val first = (0 until cap).map(i => (i % 97).toDouble).toArray
    assert(row.getInt(0) == cap, s"n_points ${row.getInt(0)} != cap $cap")
    assert(row.getInt(1) == Pelt.changePoint(first))
    assert(math.abs(row.getDouble(2) - Pelt.changePointAndScore(first)._2) < 1e-12)
  }

  test("mapGroups form stays identical to the uncapped result for in-domain series") {
    // 70-point series, far under the cap: boundedCollect must be a pure
    // drop-in for toArray.sortBy
    val vals = (0 until 70).map(i => math.sin(i * 0.3) * 10)
    val it = vals.zipWithIndex.map { case (v, i) => (i.toLong, i.toLong, v) }
      .reverseIterator
    val got = Pelt.boundedCollect(it, Pelt.MaxSeriesPoints,
      Ordering.by((x: (Long, Long, Double)) => (x._1, x._2))).map(_._3)
    assert(got.toSeq == vals)
  }
}
