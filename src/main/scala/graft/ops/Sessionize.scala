package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Batch sessionization (gaps-and-islands): split each key's event
  * stream into sessions wherever the gap between consecutive events
  * exceeds `gap` — the batch twin of the streaming session window
  * (`Streaming.sessionAgg` / w2), for backfills and historical
  * re-sessionization where the input is a static table, not a stream.
  *
  * Spark-first plan: one window pass per key ordered by time —
  * `lag(ts)` marks session starts (`gap` exceeded or first event), a
  * running `sum` over the same window numbers the sessions. ONE shuffle
  * on the key; the per-(key, session) aggregate that callers almost
  * always run next reuses that partitioning (HashPartitioning(key)
  * satisfies the clustered distribution of (key, session_id), so
  * Catalyst inserts no second exchange — asserted in SessionizeSpec).
  * Skew bound: one hot key serializes its own window — the same bound
  * any per-key ordered computation has; a key's event count, not the
  * table size, is the scaling limit, which holds at 100 TB where
  * per-entity streams stay bounded while entities multiply.
  *
  * Determinism: session BOUNDARIES depend only on the ts values (equal
  * timestamps have gap 0, never a boundary), and `tieBreak` makes the
  * within-key sort total so the row-frame running sum is reproducible
  * under retries. Gap comparison is in exact integer microseconds
  * (`unix_micros`), engine-identical with the DuckDB oracle's
  * `epoch_us`.
  *
  * NULL timestamps must be filtered upstream: they sort first within
  * their key and a null gap comparison starts a new session at the
  * first real timestamp, which is rarely the intended reading of an
  * event with no time. */
object Sessionize {

  /** Add a `session_id` column (1-based, per key, in time order) to
    * `df`. `gapSeconds` is the strict boundary: a new session starts
    * when `ts - prev_ts > gapSeconds`. */
  def sessionize(df: DataFrame, key: Column, ts: Column,
                 gapSeconds: Long, tieBreak: Column): DataFrame = {
    val order = Window.partitionBy(key).orderBy(ts, tieBreak)
    val newSession = when(
      lag(unix_micros(ts), 1).over(order).isNull ||
        unix_micros(ts) - lag(unix_micros(ts), 1).over(order) > gapSeconds * 1000000L,
      1L).otherwise(0L)
    df.withColumn("session_id",
      sum(newSession).over(order.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
  }
}
