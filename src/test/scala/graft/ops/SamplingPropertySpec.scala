package graft.ops

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Property tests for deterministic sampling: `capPerGroup` on random
  * frames must keep EXACTLY the n smallest (md5-draw, key) rows per
  * group — reproduced by a driver reference spelling the same draw —
  * independent of partitioning, and the kept sets must NEST
  * (cap m ⊆ cap n for m ≤ n, the auditability contract). A one-stratum
  * `stratifiedSample` must select exactly the reference's draw-threshold rows. */
class SamplingPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._
  import org.apache.spark.sql.functions.col

  /** A one-stratum [[Sampling.stratifiedSample]]: every row at `rate`. */
  private def hashSample(df: org.apache.spark.sql.DataFrame,
                         key: org.apache.spark.sql.Column, rate: Double) =
    Sampling.stratifiedSample(df, key, org.apache.spark.sql.functions.lit(""), Map.empty, rate)

  // (group, key) with keys globally unique — the documented tie-break
  // contract (duplicate keys within a group have no defined order)
  private val caseGen: Gen[Seq[(Long, Long)]] = for {
    n <- Gen.chooseNum(0, 60)
    gs <- Gen.listOfN(n, Gen.chooseNum(0L, 4L))
  } yield gs.zipWithIndex.map { case (g, i) => (g, i.toLong) }

  private def draw(key: Long): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    md.digest(key.toString.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.substring(0, 4)
  }

  test("capPerGroup keeps exactly the n smallest draws per group, and caps nest") {
    val cases = Gen.listOfN(6, caseGen).sample.getOrElse(Nil)
    assert(cases.nonEmpty)
    cases.foreach { rows =>
      val df = rows.toDF("g", "k").repartition(5)
      def kept(n: Int): Set[(Long, Long)] =
        Sampling.capPerGroup(df, Seq(col("g")), col("k"), n)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want3 = rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy { case (_, k) => (draw(k), k) }.take(3)
      }.toSet
      val got3 = kept(3)
      assert(got3 == want3, s"rows=$rows:\n$got3\nvs $want3")
      val got1 = kept(1)
      assert(got1.subsetOf(got3), s"caps must nest: $got1 not in $got3")
      assert(got1 == rows.groupBy(_._1).toSeq.flatMap { case (_, rs) =>
        rs.sortBy { case (_, k) => (draw(k), k) }.take(1) }.toSet)
    }
  }

  test("hashSample equals the driver draw-threshold selection") {
    val cases = Gen.listOfN(4, caseGen).sample.getOrElse(Nil)
    assert(cases.nonEmpty)
    cases.foreach { rows =>
      val df = rows.toDF("g", "k").repartition(3)
      Seq(0.25, 0.5).foreach { rate =>
        val got = hashSample(df, col("k"), rate)
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        // the operator's threshold: first 4 hex nibbles < rate * 16^4
        val thr = "%04x".format(math.round(rate * 65536).toInt)
        val want = rows.filter { case (_, k) => draw(k) < thr }.toSet
        assert(got == want, s"rate=$rate rows=$rows:\n$got\nvs $want")
      }
    }
  }
}
