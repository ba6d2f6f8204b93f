package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Property tests for the expectation gate: on random frames with null
  * columns — the gate's hardest case, since a NULL predicate counts as
  * a VIOLATION by contract — the clean/quarantine split must exactly
  * partition the input (no row lost, none duplicated), every clean row
  * must satisfy all rules under the null-is-violation semantics, every
  * quarantined row must carry exactly its failing rules, and the audit
  * must count every configured rule including the quiet ones. */
class ExpectPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import org.apache.spark.sql.functions.col

  private type R = (Long, Option[Long], Option[Double])

  private val caseGen: Gen[Seq[R]] = for {
    n <- Gen.chooseNum(0, 50)
    rows <- Gen.listOfN(n, for {
      a <- Gen.frequency(1 -> Gen.const(Option.empty[Long]),
        5 -> Gen.chooseNum(-5L, 5L).map(Some(_)))
      b <- Gen.frequency(1 -> Gen.const(Option.empty[Double]),
        5 -> Gen.chooseNum(-20, 20).map(i => Some(i / 4.0)))
    } yield (a, b))
  } yield rows.zipWithIndex.map { case ((a, b), i) => (i.toLong, a, b) }

  // (name, Spark predicate, driver predicate under SQL three-valued
  // logic with null => violated)
  private def ruleSet = Seq(
    ("a_positive", col("a") > 0,
      (r: R) => r._2.exists(_ > 0)),
    ("b_small", col("b") < 2.0,
      (r: R) => r._3.exists(_ < 2.0)),
    ("a_lt_b", col("a").cast("double") < col("b"),
      (r: R) => (for { a <- r._2; b <- r._3 } yield a.toDouble < b).getOrElse(false)))

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("a", LongType, nullable = true),
    StructField("b", DoubleType, nullable = true)))

  test("check() exactly partitions the input with per-row failing-rule lists") {
    val cases = Gen.listOfN(6, caseGen).sample.getOrElse(Nil)
    assert(cases.nonEmpty)
    cases.foreach { rows =>
      val df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows.map { case (i, a, b) =>
          Row(i, a.map(Long.box).orNull, b.map(Double.box).orNull) }, 3), schema)
      val (clean, quarantined) = Expect.check(df, ruleSet.map(r => (r._1, r._2)))
      val cleanIds = clean.collect().map(_.getLong(0)).toSet
      val qRows = quarantined.collect()
        .map(r => r.getLong(0) -> r.getSeq[String](3).toList).toMap
      // exact partition of the input
      assert(cleanIds.intersect(qRows.keySet).isEmpty)
      assert(cleanIds ++ qRows.keySet == rows.map(_._1).toSet)
      // per-row reference: failing rules in configured order
      rows.foreach { r =>
        val failing = ruleSet.collect { case (n, _, p) if !p(r) => n }
        if (failing.isEmpty) assert(cleanIds.contains(r._1), s"row $r must be clean")
        else assert(qRows.get(r._1).contains(failing),
          s"row $r must quarantine with $failing, got ${qRows.get(r._1)}")
      }
      // the one-scan audit covers quiet rules with n = 0
      val audit = Expect.checkAudit(df, ruleSet.map(r => (r._1, r._2)))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantCounts = ruleSet.map { case (n, _, p) =>
        n -> rows.count(r => !p(r)).toLong }.toMap ++ Map(
        "rows_passed" -> cleanIds.size.toLong,
        "rows_quarantined" -> qRows.size.toLong)
      assert(audit == wantCounts, s"rows=$rows:\n$audit\nvs $wantCounts")
    }
  }
}
