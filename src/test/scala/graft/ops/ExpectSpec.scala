package graft.ops

import graft.SparkTestSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Expectation gate: clean/quarantine split is a partition of the
  * input, violation lists name every broken rule, NULL predicates
  * quarantine. */
class ExpectSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val df = Seq(
    (1L, Some(10.0), "a"),   // clean
    (2L, Some(-5.0), "b"),   // breaks positive
    (3L, None, "c"),         // NULL → breaks positive
    (4L, Some(200.0), ""),   // breaks bounded AND nonempty
    (5L, Some(3.0), "e")     // clean
  ).toDF("id", "v", "s")

  private val rules = Seq(
    "positive" -> (col("v") > 0),
    "bounded" -> (coalesce(col("v"), lit(0.0)) < 100),
    "nonempty" -> (length(col("s")) > 0))

  test("split partitions the input; violations name every broken rule") {
    val (good, bad) = Expect.check(df, rules)
    assert(good.select("id").as[Long].collect().sorted.toSeq == Seq(1L, 5L))
    val v = bad.select(col("id"), col("violations"))
      .as[(Long, Seq[String])].collect().toMap
    assert(v(2L) == Seq("positive"))
    assert(v(3L) == Seq("positive"))         // NULL comparison quarantines
    assert(v(4L) == Seq("bounded", "nonempty"))
    assert(good.count() + bad.count() == df.count())
    assert(good.columns.toSeq == df.columns.toSeq) // original schema out
  }

  test("all rules pass → empty quarantine; empty rules rejected") {
    val (good, bad) = Expect.check(df, Seq("tautology" -> lit(true)))
    assert(bad.count() == 0 && good.count() == df.count())
    intercept[IllegalArgumentException] { Expect.check(df, Seq.empty) }
  }

  test("checkAudit equals the composed check+audit+counts form (one scan, r19)") {
    // the one-scan audit must report EXACTLY the rows the three-scan
    // composition reported: per-rule counts (quiet rules at 0) plus the
    // passed/quarantined totals — on the mixed corpus, on a
    // violation-free corpus, and on an empty one
    def composed(in: org.apache.spark.sql.DataFrame,
                 rs: Seq[(String, org.apache.spark.sql.Column)]): Map[String, Long] = {
      val (good, bad) = Expect.check(in, rs)
      (ExpectReference.audit(bad, rs.map(_._1))
        .unionByName(good.agg(count(lit(1)).as("n"))
          .select(lit("rows_passed").as("rule"), col("n")))
        .unionByName(bad.agg(count(lit(1)).as("n"))
          .select(lit("rows_quarantined").as("rule"), col("n"))))
        .as[(String, Long)].collect().toMap
    }
    def oneScan(in: org.apache.spark.sql.DataFrame,
                rs: Seq[(String, org.apache.spark.sql.Column)]): Map[String, Long] =
      Expect.checkAudit(in, rs).as[(String, Long)].collect().toMap
    assert(oneScan(df, rules) == composed(df, rules))
    assert(oneScan(df, rules)("rows_quarantined") == 3L) // sanity anchor
    val quietRules = Seq("tautology" -> lit(true))
    assert(oneScan(df, quietRules) == composed(df, quietRules))
    val empty = df.filter(lit(false))
    assert(oneScan(empty, rules) == composed(empty, rules))
    assert(oneScan(empty, rules).values.forall(_ == 0L))
    intercept[IllegalArgumentException] { Expect.checkAudit(df, Seq.empty) }
    // duplicate names would diverge from the composed form (contains vs
    // explode multiplicity) — refused loudly, by name
    val dup = intercept[IllegalArgumentException] {
      Expect.checkAudit(df, Seq("a" -> lit(true), "a" -> lit(false)))
    }
    assert(dup.getMessage.contains("duplicate rule names") &&
      dup.getMessage.contains("a"))
  }

  test("the same gate runs unchanged on a stream (stateless projection+filter)") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[(Long, Option[Double], String)]
    val (good, bad) = Expect.check(
      input.toDF().toDF("id", "v", "s"), rules)
    val q1 = good.writeStream.format("memory").queryName("exp_good")
      .outputMode("append").start()
    val q2 = bad.select(col("id"), col("violations"))
      .writeStream.format("memory").queryName("exp_bad")
      .outputMode("append").start()
    try {
      input.addData(Seq((1L, Some(10.0), "a"), (2L, Some(-5.0), "b"),
        (3L, None, "c")))
      q1.processAllAvailable(); q2.processAllAvailable()
      assert(spark.table("exp_good").select("id").as[Long].collect().toSeq == Seq(1L))
      val v = spark.table("exp_bad").as[(Long, Seq[String])].collect().toMap
      assert(v(2L) == Seq("positive") && v(3L) == Seq("positive"))
    } finally { q1.stop(); q2.stop() }
  }
}
