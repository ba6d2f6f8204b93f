package graft.ops

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

class SamplingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private lazy val ids = (0L until 20000L).toDF("id")

  /** A one-stratum [[Sampling.stratifiedSample]]: every row at `rate`. */
  private def hashSample(df: org.apache.spark.sql.DataFrame,
                         key: org.apache.spark.sql.Column, rate: Double) =
    Sampling.stratifiedSample(df, key, org.apache.spark.sql.functions.lit(""), Map.empty, rate)

  test("takeUntilBudget: greedy-prefix semantics, oversized heads block, groups independent") {
    // priority = w desc, id asc; group a cumsums 5, 8, 10, 11 → budget 9
    // keeps {5, 3}; the later 1 (which WOULD fit 5+3+1) stays dropped —
    // greedy prefix by contract, not knapsack
    val df = Seq(
      ("a", 1L, 5L), ("a", 2L, 3L), ("a", 3L, 2L), ("a", 4L, 1L),
      ("b", 5L, 100L), ("b", 6L, 1L), // oversized head blocks the whole group
      ("c", 7L, 9L)                   // exactly the budget is kept (<=)
    ).toDF("g", "id", "w")
    val kept = Sampling.takeUntilBudget(df, Seq(col("g")),
        Seq(col("w").desc, col("id").asc), "w", budget = 9L)
      .select("id").as[Long].collect().toSet
    assert(kept == Set(1L, 2L, 7L), kept)
    intercept[IllegalArgumentException] {
      Sampling.takeUntilBudget(df, Seq(col("g")), Seq(col("w")), "w", budget = 0L)
    }
  }

  test("hashSample hits the rate within sampling error") {
    for (rate <- Seq(0.1, 0.5, 0.9)) {
      val kept = hashSample(ids, col("id"), rate).count()
      val expect = 20000 * rate
      // md5 prefix is uniform; 4σ binomial tolerance
      val tol = 4 * math.sqrt(20000 * rate * (1 - rate))
      assert(math.abs(kept - expect) < tol, s"rate=$rate kept=$kept")
    }
  }

  test("samples are deterministic and nested across rates") {
    val k30 = hashSample(ids, col("id"), 0.3).collect().map(_.getLong(0)).toSet
    val k30b = hashSample(ids, col("id"), 0.3).collect().map(_.getLong(0)).toSet
    val k60 = hashSample(ids, col("id"), 0.6).collect().map(_.getLong(0)).toSet
    assert(k30 == k30b)            // pure function of the key
    assert(k30.subsetOf(k60))      // raising the rate only adds rows
  }

  test("rate 0 keeps nothing; out-of-range rates are rejected") {
    assert(hashSample(ids, col("id"), 0.0).count() == 0)
    intercept[IllegalArgumentException] {
      hashSample(ids, col("id"), 1.5)
    }
  }

  test("stratifiedSample applies each stratum's rate and the default") {
    val df = (0L until 8000L).map(i => (i, s"s${i % 4}")).toDF("id", "g")
    val got = Sampling.stratifiedSample(df, col("id"), col("g"),
      Map("s0" -> 0.5, "s1" -> 0.1), defaultRate = 0.02)
    val byG = got.groupBy("g").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    def tol(n: Long, r: Double) = 4 * math.sqrt(n * r * (1 - r))
    assert(math.abs(byG("s0") - 1000) < tol(2000, 0.5))
    assert(math.abs(byG("s1") - 200) < tol(2000, 0.1))
    assert(math.abs(byG.getOrElse("s2", 0L) - 40) < tol(2000, 0.02))
    // stratum decision is independent of the stratum column: the same
    // key keeps/drops identically under every rate ordering
    val again = Sampling.stratifiedSample(df, col("id"), col("g"),
      Map("s1" -> 0.1, "s0" -> 0.5), defaultRate = 0.02)
    assert(got.collect().map(_.getLong(0)).toSet == again.collect().map(_.getLong(0)).toSet)
  }

  test("capPerGroup keeps at most n per group, nested across caps, add-stable") {
    val df = (0L until 500L).map(i => (i, s"g${i % 3}")).toDF("id", "g")
    val cap5 = Sampling.capPerGroup(df, Seq(col("g")), col("id"), 5)
    val counts = cap5.groupBy("g").count().collect().map(_.getLong(1))
    assert(counts.forall(_ == 5))
    // nested: the 3-cap selection is a subset of the 5-cap selection
    val cap3 = Sampling.capPerGroup(df, Seq(col("g")), col("id"), 3)
      .collect().map(_.getLong(0)).toSet
    val cap5Set = cap5.collect().map(_.getLong(0)).toSet
    assert(cap3.subsetOf(cap5Set))
    // add-stable: new rows whose draw sorts after the kept set do not
    // change the selection (drop half the non-selected rows and re-cap)
    val kept = cap5Set
    val shrunk = df.filter(col("id").isin(kept.toSeq: _*) || col("id") % 2 === 0)
    val again = Sampling.capPerGroup(shrunk, Seq(col("g")), col("id"), 5)
      .collect().map(_.getLong(0)).toSet
    assert(again == kept)
  }

  test("capPerGroup with a group smaller than the cap keeps it whole") {
    val df = Seq((1L, "a"), (2L, "a"), (3L, "b")).toDF("id", "g")
    assert(Sampling.capPerGroup(df, Seq(col("g")), col("id"), 10).count() == 3)
  }

  test("splitAssign: exhaustive labeling, stability, and sane proportions") {
    val df = (0L until 2000L).map(i => (i, s"r$i")).toDF("id", "payload")
    val out = Sampling.splitAssign(df, col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("id", "split").as[(Long, String)].collect()
    assert(out.length == 2000)
    val byLabel = out.groupBy(_._2).view.mapValues(_.length).toMap
    assert(byLabel.keySet == Set("train", "val", "test"))
    // hash-uniform: 2000 draws land within generous binomial bounds
    assert(byLabel("train") > 1480 && byLabel("train") < 1720, s"$byLabel")
    assert(byLabel("val") > 120 && byLabel("val") < 280, s"$byLabel")
    // growth-stable: the first 1000 rows keep their labels verbatim
    val again = Sampling.splitAssign(df.filter(col("id") < 1000), col("id"),
      Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
      .select("id", "split").as[(Long, String)].collect().toMap
    val first = out.filter(_._1 < 1000).toMap
    assert(again == first)
  }

  test("splitAssign: deficit falls to the last label; bad fractions rejected") {
    val df = (0L until 400L).map(i => (i, i)).toDF("id", "v")
    val out = Sampling.splitAssign(df, col("id"),
      Seq("a" -> 0.25, "b" -> 0.25)).select("split").as[String].collect()
    // remainder bucket (draws ≥ 0.5) joins "b"
    assert(out.count(_ == "b") > out.count(_ == "a"))
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(df, col("id"), Seq("a" -> 0.7, "b" -> 0.4))
    }
    intercept[IllegalArgumentException] {
      Sampling.splitAssign(df, col("id"), Seq.empty)
    }
  }

  test("splitAssign: a null key gets a NULL label, never the last split") {
    val df = Seq((Some(1L), "a"), (Some(2L), "b"), (None, "unkeyed"))
      .toDF("id", "payload")
    val out = Sampling.splitAssign(df, col("id"),
      Seq("train" -> 0.8, "test" -> 0.2))
      .select("payload", "split").as[(String, Option[String])].collect().toMap
    assert(out("unkeyed").isEmpty,
      "a null key must surface as a null label, not silently join 'test'")
    assert(out("a").nonEmpty && out("b").nonEmpty)
  }

  test("mixWeights: hand-computed weights and epochs on a 3-source corpus") {
    // totals a=100, b=50, c=10; budget 90 over 3 groups → target 30:
    // a keeps 30/100 = 0.3 in 1 epoch, b 0.6 in 1, c repeats 3× at 1.0
    val df = ((0 until 10).map(i => ("a", 10L)) ++
      (0 until 5).map(_ => ("b", 10L)) ++ Seq(("c", 10L)))
      .toDF("src", "w")
    val out = Sampling.mixWeights(df, col("src"), col("w"), budget = 90L)
      .as[(String, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4, r._5))).toMap
    assert(out("a") == ((100L, 30L, 0.3, 1L)), s"got $out")
    assert(out("b") == ((50L, 30L, 0.6, 1L)))
    assert(out("c") == ((10L, 30L, 1.0, 3L)))
  }

  test("mixWeights: sub-group-count budget yields zero targets; empty groups absent") {
    val df = Seq(("a", Some(5L)), ("b", Some(3L)), ("c", Some(0L)),
      ("d", None: Option[Long])).toDF("src", "w")
    val out = Sampling.mixWeights(df, col("src"), col("w"), budget = 2L)
      .as[(String, Long, Long, Double, Long)].collect()
      .map(r => r._1 -> ((r._3, r._4, r._5))).toMap
    // c (zero weight) and d (null weight) are absent; 2 div 2 groups = 1
    assert(out.keySet == Set("a", "b"), s"got $out")
    assert(out("a") == ((1L, 0.2, 1L)) && out("b") == ((1L, 0.3333, 1L)))
    intercept[IllegalArgumentException] {
      Sampling.mixWeights(df, col("src"), col("w"), budget = 0L)
    }
  }

  test("capPerGroup equals the brute-force smallest-draw selection") {
    import java.security.MessageDigest
    def draw(id: Long): String = MessageDigest.getInstance("MD5")
      .digest(id.toString.getBytes("UTF-8"))
      .take(2).map(b => f"${b & 0xff}%02x").mkString
    val rows = (0L until 300L).map(i => (i, s"g${i % 5}"))
    val df = rows.toDF("id", "g")
    val want = rows.groupBy(_._2).flatMap { case (_, grp) =>
      grp.sortBy { case (id, _) => (draw(id), id) }.take(7)
    }.map(_._1).toSet
    val got = Sampling.capPerGroup(df, Seq(col("g")), col("id"), 7)
      .select("id").as[Long].collect().toSet
    assert(got == want)
  }
}
