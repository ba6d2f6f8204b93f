package graft.functions

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Z-order kernel: bit-level parity with a naive reference interleave,
  * codegen parity, and curve locality. */
class ZOrderSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def naive(x: Long, y: Long): Long = {
    var r = 0L
    var i = 0
    while (i < 32) {
      r |= ((x >> i) & 1L) << (2 * i)
      r |= ((y >> i) & 1L) << (2 * i + 1)
      i += 1
    }
    r
  }

  test("interleave matches the naive per-bit reference on random longs") {
    val rnd = new scala.util.Random(5)
    (0 until 2000).foreach { _ =>
      val (x, y) = (rnd.nextLong() & 0xFFFFFFFFL, rnd.nextLong() & 0xFFFFFFFFL)
      assert(ZOrderKey.interleave(x, y) == naive(x, y), s"x=$x y=$y")
    }
    assert(ZOrderKey.interleave(0L, 0L) == 0L)
    assert(ZOrderKey.interleave(0xFFFFFFFFL, 0L) == 0x5555555555555555L)
    assert(ZOrderKey.interleave(0L, 0xFFFFFFFFL) == 0xAAAAAAAAAAAAAAAAL)
  }

  test("expression form matches the scala kernel and runs in codegen") {
    // spark.range, not a local Seq: ConvertToLocalRelation would fold a
    // projection over LocalRelation eagerly and leave no plan to assert
    val df = spark.range(500)
      .select((col("id") * 7 % 256).as("x"), (col("id") * 13 % 256).as("y"))
      .select(col("x"), col("y"), ZOrderKey.zkey(col("x"), col("y")).as("z"))
    df.collect().foreach { r =>
      assert(r.getLong(2) == ZOrderKey.interleave(r.getLong(0), r.getLong(1)))
    }
    val p = df.queryExecution.executedPlan.toString
    val line = p.linesIterator.find(_.contains("z_order_key")).getOrElse("")
    assert(line.contains("*("), s"z_order_key not in a codegen stage: $line")
  }

  test("same-quadrant points share the leading z-bits (curve locality)") {
    // 16-bit domain: the top bit of each dimension is output bits 31/30
    val inQ11 = ZOrderKey.interleave(0x8000L + 5, 0x8000L + 9)
    val inQ00 = ZOrderKey.interleave(5L, 9L)
    assert((inQ11 >> 30) == 3L && (inQ00 >> 30) == 0L)
  }
}
