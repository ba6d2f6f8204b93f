package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Exprs

/** Watermarked event-time transforms (extension — the reference is
  * batch-only, SURVEY.md §2.10; labeled as such). Each is written once
  * and runs identically over a batch frame or a `readStream` frame: the
  * board's w2, w3 and w5 queries run them as batch frames, and
  * `StreamingSpec` runs them over a `MemoryStream`.
  *
  *   - session windows (built-in `session_window`, gap-merged),
  *   - the stream-stream interval join, inner or left outer.
  *
  * Watermarks bound state size, so neither accumulates unbounded
  * state on a stream.
  */
object Streaming {

  /** Per-user session windows: events closer than `gap` merge into one
    * session; `session_end` is last-event time + gap (Spark
    * `session_window` semantics — an event exactly `gap` later starts a
    * NEW session). The same gaps-and-islands semantics are SQL-expressible
    * for the DuckDB oracle (lag + running break-count). */
  def sessionAgg(events: DataFrame, gap: String,
                 watermark: Option[String] = None): DataFrame = {
    val src = watermark.fold(events)(w => events.withWatermark("ts", w))
    src.groupBy(col("user_id"), session_window(col("ts"), gap).as("session"))
      .agg(count(lit(1)).as("n_events"),
        Exprs.r2(Exprs.sumExact(col("value"))).as("sum_value"))
      .select(col("user_id"), col("session.start").as("session_start"),
        col("session.end").as("session_end"), col("n_events"), col("sum_value"))
  }

  /** Watermarked stream-stream interval join — the clicks⋈impressions
    * shape: match right-stream rows to left-stream rows on `key` when
    * the right event lands within [left ts, left ts + interval]. BOTH
    * sides carry watermarks and the join condition bounds event-time
    * distance, so each side's state store retains only
    * watermark + interval of history — without the interval bound a
    * stream-stream join must buffer one side forever (unbounded state
    * is the 100-TB/day failure mode; Spark would reject the plan).
    * Column names must be disjoint apart from `key`.
    *
    * `joinType` `"inner"` (default) or `"left_outer"` — the
    * unmatched-clicks shape ("which clicks never converted inside the
    * window?"): a left row with no in-interval right match is emitted
    * with nulled right columns, but only once the LEFT watermark passes
    * its interval end — before that a matching right row could still
    * arrive, so outer results trail the inner ones by up to
    * watermark + interval (the streaming-correctness price of asking a
    * negative; same state bound as inner). */
  def intervalJoinStreams(left: DataFrame, right: DataFrame, key: String,
                          leftTs: String, rightTs: String,
                          watermark: String, interval: String,
                          joinType: String = "inner"): DataFrame = {
    require(Set("inner", "left_outer").contains(joinType),
      s"joinType must be inner or left_outer, got $joinType")
    val l = left.withWatermark(leftTs, watermark)
    val r = right.withWatermark(rightTs, watermark).withColumnRenamed(key, "__rk")
    l.join(r, expr(
      s"$key = __rk AND $rightTs >= $leftTs AND " +
        s"$rightTs <= $leftTs + INTERVAL $interval"), joinType)
      .drop("__rk")
  }
}
