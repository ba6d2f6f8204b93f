package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Salting must never change results — only the exchange layout. */
class SkewSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // one hot key (90% of rows) + a long tail
  private lazy val fact = ((1 to 900).map(i => (1L, i.toDouble)) ++
    (1 to 100).map(i => (1L + i % 7, i * 0.5)))
    .toDF("k", "v")
  private lazy val dim = (1L to 8L).map(k => (k, s"name_$k")).toDF("k", "name")

  test("saltedJoin equals the plain join, any salt width") {
    val plain = fact.join(dim, Seq("k")).orderBy("k", "v", "name")
      .collect().toSeq
    for (salt <- Seq(2, 8)) {
      val salted = Skew.saltedJoin(fact, dim, Seq("k"), salt)
        .orderBy("k", "v", "name").collect().toSeq
      assert(salted == plain, s"salt=$salt")
    }
  }

  test("AQE skew-join split engages on a planted hot key (SMJ skew=true)") {
    // The complementary half of the skew story: manual salting (above)
    // is for shapes AQE can't fix; this pins that AQE's runtime split
    // DOES engage on a plain shuffled equi-join with one hot key — the
    // tracking-data skew risk SURVEY §7.5 names — so the claim is a
    // witnessed plan property, not prose. Thresholds are lowered to
    // make the 4-partition local shuffle look skewed; restored after.
    val keys = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.autoBroadcastJoinThreshold",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "64KB")
      spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "32KB")
      spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
      // one hot key carrying ~100k rows vs a 50-key tail; both sides
      // big enough (or broadcast-disabled) to shuffle → sort-merge join
      val hotFact = spark.range(100000).select(lit(1L).as("k"), col("id").as("v"))
        .union(spark.range(2000).select((col("id") % 49 + 2).as("k"), col("id").as("v")))
      val wide = spark.range(51).select(col("id").as("k"),
        concat(lit("payload_"), col("id")).as("w"))
      val joined = hotFact.join(wide, Seq("k"))
      assert(joined.count() == 102000L)
      joined.collect()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"expected AQE to mark the hot-key join skew=true:\n${plan.take(3000)}")
    } finally saved.foreach { case (k, v) =>
      v match { case Some(x) => spark.conf.set(k, x); case None => spark.conf.unset(k) }
    }
  }
}
