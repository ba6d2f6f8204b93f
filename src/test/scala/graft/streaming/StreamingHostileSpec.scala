package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Hostile-row parity for the streaming surface (r10: the batch
  * scoreboard runs green over the hostile twin, but stream-vs-batch
  * agreement was only pinned on clean fixtures). The single-code-path
  * contract must hold on the row classes HostileGen plants: here, NULL
  * group keys. */
class StreamingHostileSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  private def ts(minutes: Int): Timestamp = new Timestamp(60000L * (minutes + 60))

  test("session windows: a NULL user_id is a GROUP on stream and batch alike") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Option[Long], Long, Timestamp, Double)]
    val rows = Seq(
      (Some(1L), 101L, ts(0), 1.0),
      (None, 901L, ts(1), 2.0),            // NULL user: a real group
      (None, 902L, ts(3), 3.0),            // same NULL-user session
      (Some(1L), 102L, ts(2), 4.0),
      (Some(9L), 999L, ts(5000), 0.0))     // watermark advancer
    val stream = input.toDF().toDF("user_id", "event_id", "ts", "value")
      .select(col("user_id"), col("ts"), col("value"))
    val q = Streaming.sessionAgg(stream, "10 minutes", watermark = Some("0 seconds"))
      .writeStream.format("memory").queryName("hostile_sess")
      .outputMode(OutputMode.Append).start()
    input.addData(rows); q.processAllAvailable()
    input.addData(Seq((Some(9L), 998L, ts(6000), 0.0))); q.processAllAvailable()
    q.stop()

    def norm(df: org.apache.spark.sql.DataFrame) = df.collect().map { r =>
      (if (r.isNullAt(0)) -1L else r.getLong(0), r.getTimestamp(1),
        r.getTimestamp(2), r.getLong(3), r.getDouble(4))
    }.toSet
    val streamed = norm(spark.table("hostile_sess"))
    val batchDf = rows.toDF("user_id", "event_id", "ts", "value")
      .select(col("user_id"), col("ts"), col("value"))
    // final watermark is ts(6000): user 9's FIRST session (end
    // ts(5000)+gap) is closed under it and must appear on both sides
    val closed = norm(Streaming.sessionAgg(batchDf, "10 minutes"))
      .filter(_._3.getTime < ts(6000).getTime)
    assert(streamed == closed, s"streamed=$streamed\nclosed=$closed")
    // the NULL-user session exists, merged events 901+902 (gap 2 min)
    assert(streamed.exists(s => s._1 == -1L && s._4 == 2L && s._5 == 5.0),
      s"null-user session missing: $streamed")
  }
}
