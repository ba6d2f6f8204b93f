package graft.kernels

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** The pelt_deception TypedImperativeAggregate must agree exactly with
  * the driver-side Pelt kernel on explicitly ordered series — including
  * when partial buffers merge out of order across partitions. */
class KernelAggSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  test("pelt_deception aggregate matches the Pelt kernel per group") {
    val rng = new scala.util.Random(11)
    val rows = for {
      uid <- 1L to 20L
      i <- 0 until (10 + rng.nextInt(40))
    } yield (uid, i.toLong * 1000, i.toLong,
      if (i < 15) rng.nextDouble() * 0.2 else 0.7 + rng.nextDouble() * 0.2)
    // repartition(7) scatters each series across partitions: the
    // aggregate sees arbitrary merge order and must re-sort in eval
    val df = rows.toDF("user_id", "tsm", "event_id", "value").repartition(7)

    val got = df.groupBy(col("user_id"))
      .agg(call_function("pelt_deception", col("value"), col("tsm"), col("event_id")).as("pd"))
      .select(col("user_id"), col("pd.n_points"), col("pd.change_point"), col("pd.deception_score"))
      .collect().map(r => r.getLong(0) -> ((r.getInt(1), r.getInt(2), r.getDouble(3)))).toMap

    val want = rows.groupBy(_._1).map { case (uid, rs) =>
      val signal = rs.sortBy(r => (r._2, r._3)).map(_._4).toArray
      uid -> ((signal.length, Pelt.changePoint(signal), Pelt.changePointAndScore(signal)._2))
    }
    assert(got == want)
  }

  test("pelt_deception is callable from SQL via the injected extension") {
    Seq((1L, 0L, 0L, 0.1), (1L, 1L, 1L, 0.1), (1L, 2L, 2L, 0.9), (1L, 3L, 3L, 0.9))
      .toDF("user_id", "tsm", "event_id", "value")
      .createOrReplaceTempView("pelt_in")
    val r = spark.sql(
      """SELECT user_id, pelt_deception(value, tsm, event_id) AS pd
        |FROM pelt_in GROUP BY user_id""".stripMargin)
      .select(col("user_id"), col("pd.n_points")).head()
    assert(r.getLong(0) == 1L && r.getInt(1) == 4)
  }
}
