package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Sketch aggregates (a14) are oracle-exempt — their internals are
  * engine-specific — so this spec bounds them against the exact answers
  * on the same data: HLL++ relative error within its configured rsd,
  * GK quantiles within rank error 1/accuracy. */
class SketchSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private val sf = "/root/testdata/sf0.01"

  test("approx_count_distinct within 3×rsd of exact per group") {
    val li = Tables.lineitem(spark, sf)
    val rows = li.groupBy(col("l_returnflag"))
      .agg(
        countDistinct(col("l_orderkey")).as("exact"),
        approx_count_distinct(col("l_orderkey"), 0.02).as("approx"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (exact, approx) = (r.getLong(1), r.getLong(2))
      val relErr = math.abs(approx - exact).toDouble / exact
      assert(relErr <= 0.06, s"${r.getString(0)}: exact=$exact approx=$approx rel=$relErr")
    }
  }

  test("bloom pre-filter: no false negatives; unseen docs mostly survive") {
    import spark.implicits._
    val corpus = (0 until 400).map(i => (i.toLong, s"historical document number $i body"))
      .toDF("doc_id", "text")
    val bloom = graft.text.CorpusSketches.fingerprintBloom(corpus, "text", expected = 1000)
    // new batch: 50 true duplicates of the corpus + 200 genuinely new
    val batch = ((0 until 50).map(i => (1000L + i, s"historical document number $i body")) ++
      (0 until 200).map(i => (2000L + i, s"fresh unseen document $i payload")))
      .toDF("doc_id", "text")
    val kept = batch.filter(!graft.text.CorpusSketches.seenProbe("text", bloom))
      .collect().map(_.getLong(0)).toSet
    // bloom guarantee: every true duplicate is dropped
    assert(kept.forall(_ >= 2000L), s"duplicate admitted: ${kept.filter(_ < 2000L)}")
    // fpp 1%: out of 200 new docs, expect ~2 false drops; allow 10
    assert(kept.size >= 190, s"too many false positives: kept ${kept.size}/200")
  }

  test("bloom pre-filter: null-text docs are kept, not crashed on") {
    import spark.implicits._
    val corpus = Seq((1L, "seen doc")).toDF("doc_id", "text")
    val bloom = graft.text.CorpusSketches.fingerprintBloom(corpus, "text", expected = 100)
    val batch = Seq((1L, Some("seen doc")), (2L, None: Option[String]), (3L, Some("new doc")))
      .toDF("doc_id", "text")
    val kept = batch.filter(!graft.text.CorpusSketches.seenProbe("text", bloom))
      .collect().map(_.getLong(0)).toSet
    assert(kept == Set(2L, 3L), s"null-text handling wrong: kept $kept")
  }

  test("percentile_approx within rank error 1/accuracy of the exact quantile") {
    val li = Tables.lineitem(spark, sf)
    val acc = 1000
    val got = li.groupBy(col("l_returnflag"))
      .agg(percentile_approx(col("l_extendedprice"), lit(0.5), lit(acc)).as("p50"))
      .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
    // the GK guarantee is on *rank*: the returned element's true rank is
    // within n/acc of the target rank
    got.foreach { case (flag, p50) =>
      val vals = li.filter(col("l_returnflag") === flag)
        .select(col("l_extendedprice")).collect().map(_.getDouble(0)).sorted
      val n = vals.length
      val rank = vals.count(_ <= p50)
      assert(math.abs(rank - 0.5 * n) <= n.toDouble / acc + 1,
        s"$flag: rank $rank of $n for p50=$p50")
    }
  }
}
