package graft.streaming

import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** Streaming specs: the same transform over a batch frame and a
  * MemoryStream must agree (the single-code-path contract); watermarked
  * append-mode sessions flush exactly when the watermark passes; the
  * interval joins emit only in-interval matches, and a left-outer
  * unmatched row once the watermark passes. */
class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // +1h base: an event AT the initial watermark (epoch 0) is dropped by
  // the stateful late-row filter — a real semantics corner, avoided here
  private def ts(minutes: Int): Timestamp = new Timestamp(60000L * (minutes + 60))

  // user 1: two sessions (10-min gap splits at >=10min); user 2: one
  private val batch1 = Seq(
    (1L, 101L, ts(0), 1.5), (1L, 102L, ts(5), 2.5),
    (2L, 201L, ts(2), 10.0))
  private val batch2 = Seq(
    (1L, 103L, ts(30), 4.0),   // new session for user 1
    (2L, 202L, ts(1000), 0.25) // far future: advances the watermark
  )

  test("session windows: stream (append, watermarked) matches batch on closed sessions") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp, Double)]
    val stream = input.toDF().toDF("user_id", "event_id", "ts", "value")
      .select(col("user_id"), col("ts"), col("value"))
    val q = Streaming.sessionAgg(stream, "10 minutes", watermark = Some("0 seconds"))
      .writeStream.format("memory").queryName("sess").outputMode(OutputMode.Append).start()
    input.addData(batch1); q.processAllAvailable()
    input.addData(batch2); q.processAllAvailable()
    q.stop()

    val streamed = spark.table("sess")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    val batchDf = (batch1 ++ batch2).toDF("user_id", "event_id", "ts", "value")
      .select(col("user_id"), col("ts"), col("value"))
    val all = Streaming.sessionAgg(batchDf, "10 minutes")
      .collect().map(r => (r.getLong(0), r.getTimestamp(1), r.getTimestamp(2),
        r.getLong(3), r.getDouble(4))).toSet
    // watermark sits at ts(1000): every session ending before it has
    // flushed — only the watermark-advancing event's own session is open
    val closed = all.filter(_._3.getTime < ts(1000).getTime)
    assert(streamed == closed, s"streamed=$streamed\nclosed=$closed")
    assert(closed.size == 3) // two sessions for user 1, one for user 2
  }

  test("sliding windows: the w4 transform runs unchanged on a stream") {
    implicit val ctx = spark.sqlContext
    val input = MemoryStream[(Long, Long, Timestamp, Double)]
    val stream = input.toDF().toDF("user_id", "event_id", "ts", "value")
    // the exact w4 shape: 1h windows sliding every 15min
    val agg = stream
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start").as("window_start"), col("n"))
    val q = agg.writeStream.format("memory").queryName("slide")
      .outputMode(OutputMode.Complete).start()
    input.addData(batch1 ++ batch2); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("slide")
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    val batch = (batch1 ++ batch2).toDF("user_id", "event_id", "ts", "value")
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n"))
      .select(col("w.start"), col("n"))
      .collect().map(r => (r.getTimestamp(0), r.getLong(1))).toSet
    assert(streamed == batch)
    // every event contributes to exactly 4 windows
    assert(streamed.toSeq.map(_._2).sum == (batch1 ++ batch2).size * 4L)
  }

  test("stream-stream interval join matches rows within the interval only") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val imps = MemoryStream[(Long, Timestamp, Long)]
    val l = clicks.toDF().toDF("user_id", "click_ts", "click_id")
    val r = imps.toDF().toDF("user_id", "imp_ts", "imp_id")
    val joined = Streaming.intervalJoinStreams(l, r, "user_id",
      "click_ts", "imp_ts", watermark = "0 seconds", interval = "10 minutes")
    val q = joined.writeStream.format("memory").queryName("sj")
      .outputMode(OutputMode.Append).start()
    clicks.addData(Seq((1L, ts(0), 11L), (2L, ts(0), 12L)))
    imps.addData(Seq(
      (1L, ts(5), 91L),   // within 10 min of click 11 -> match
      (1L, ts(20), 92L),  // outside the interval -> no match
      (2L, ts(3), 93L),   // within -> match
      (3L, ts(4), 94L)))  // key with no click -> no match
    q.processAllAvailable()
    // advance both watermarks so all matches have flushed
    clicks.addData(Seq((9L, ts(2000), 0L)))
    imps.addData(Seq((9L, ts(3000), 0L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sj")
      .select(col("click_id"), col("imp_id"))
      .collect().map(r0 => (r0.getLong(0), r0.getLong(1))).toSet
    assert(got == Set((11L, 91L), (12L, 93L)), s"got=$got")
  }

  test("left-outer interval join emits unmatched clicks once the watermark passes") {
    implicit val ctx = spark.sqlContext
    val clicks = MemoryStream[(Long, Timestamp, Long)]
    val imps = MemoryStream[(Long, Timestamp, Long)]
    val l = clicks.toDF().toDF("user_id", "click_ts", "click_id")
    val r = imps.toDF().toDF("user_id", "imp_ts", "imp_id")
    val joined = Streaming.intervalJoinStreams(l, r, "user_id",
      "click_ts", "imp_ts", watermark = "0 seconds", interval = "10 minutes",
      joinType = "left_outer")
    val q = joined.writeStream.format("memory").queryName("sjl")
      .outputMode(OutputMode.Append).start()
    clicks.addData(Seq((1L, ts(0), 11L), (2L, ts(0), 12L)))
    imps.addData(Seq(
      (1L, ts(5), 91L),   // within -> inner match
      (2L, ts(20), 92L))) // outside the interval -> click 12 is unmatched
    q.processAllAvailable()
    // the unmatched left row may only surface after the LEFT watermark
    // passes click_ts + interval — advance both far beyond it
    clicks.addData(Seq((9L, ts(2000), 0L)))
    imps.addData(Seq((9L, ts(3000), 0L)))
    q.processAllAvailable()
    q.stop()
    val got = spark.table("sjl")
      .select(col("click_id"), col("imp_id"))
      .collect().map(r0 => (r0.getLong(0),
        if (r0.isNullAt(1)) -1L else r0.getLong(1))).toSet
    // click 11 matched; click 12 emitted with a NULL imp (the negative
    // answer), never a (12, 92) row
    assert(got == Set((11L, 91L), (12L, -1L)), s"got=$got")
  }
}
