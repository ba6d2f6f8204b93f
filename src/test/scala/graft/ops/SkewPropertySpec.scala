package graft.ops

import org.scalacheck.Gen
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Property tests for the skew-salting primitives: on random fact/dim
  * pairs — null join keys (match nothing, survive left-side
  * preservation), exact-duplicate fact rows (the rowSaltCol case),
  * duplicate dim keys (fan-out must be reproduced exactly), one-sided
  * keys — the salted join must be MULTISET-identical to the plain join
  * for every supported join type and both salt modes. Salting is a
  * placement change; any value divergence is a correctness bug. */
class SkewPropertySpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private val factGen: Gen[Seq[(Option[Long], Long)]] = for {
    n <- Gen.chooseNum(0, 50)
    rows <- Gen.listOfN(n, for {
      k <- Gen.frequency(1 -> Gen.const(Option.empty[Long]),
        8 -> Gen.chooseNum(0L, 5L).map(Some(_)))
      p <- Gen.chooseNum(0L, 3L) // narrow: exact duplicate rows likely
    } yield (k, p))
  } yield rows

  private val dimGen: Gen[Seq[(Option[Long], Long)]] = for {
    n <- Gen.chooseNum(0, 12)
    rows <- Gen.listOfN(n, for {
      k <- Gen.frequency(1 -> Gen.const(Option.empty[Long]),
        8 -> Gen.chooseNum(0L, 7L).map(Some(_))) // some keys fact-less
      d <- Gen.chooseNum(100L, 104L)
    } yield (k, d))
  } yield rows

  private def multiset(df: org.apache.spark.sql.DataFrame): Map[Seq[Any], Int] =
    df.collect().toSeq.map(_.toSeq).groupBy(identity).map { case (r, g) => r -> g.size }

  test("saltedJoin is multiset-identical to the plain join, all types and salt modes") {
    val cases = Gen.listOfN(5, Gen.zip(factGen, dimGen)).sample.getOrElse(Nil)
    assert(cases.nonEmpty)
    cases.foreach { case (f, d) =>
      val fact = f.toDF("k", "p")
      val dim = d.toDF("k", "d")
      Seq("inner", "left", "left_semi", "left_anti").foreach { jt =>
        val plain = multiset(fact.join(dim, Seq("k"), jt))
        Seq(false, true).foreach { spread =>
          val salted = multiset(
            Skew.saltedJoin(fact, dim, Seq("k"), salt = 3, joinType = jt,
              spreadDuplicates = spread))
          assert(salted == plain,
            s"type=$jt spread=$spread fact=$f dim=$d:\n$salted\nvs $plain")
        }
      }
    }
  }
}
