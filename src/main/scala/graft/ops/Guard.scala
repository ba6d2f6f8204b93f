package graft.ops

import org.apache.spark.sql.Dataset

/** Uniform size-guarded driver materialization.
  *
  * Several operators deliberately pull a BOUNDED result to the driver
  * because the driver-local algorithm beats another distributed round
  * (a hot-shingle blacklist folded into the scan projection, a
  * benchmark shingle set that the confirm phase broadcasts anyway, a
  * component graph small enough for union-find). Each of those is a
  * scale cliff if the bound silently fails to hold, so every such
  * collect routes through here: one probe convention
  * (`limit(cap + 1)`), one failure convention (size, cap, and the
  * documented remedy in the message).
  *
  * `limit(cap + 1)` is the cheapest possible probe: CollectLimit scans
  * partitions incrementally (1, 4, 16, …) and aborts as soon as
  * cap + 1 rows surface, so the OVER-cap case — exactly where the
  * input is pathologically large — never pays a full pass, and the
  * under-cap case executes the upstream plan exactly once and keeps
  * every row. The former collect-then-require shape materialized the
  * whole oversized result before rejecting it. */
object Guard {

  /** Probe-collect: `Some(rows)` when `ds` holds at most `cap` rows,
    * `None` otherwise (for callers with a distributed fallback path —
    * see [[Components.connectedComponents]]). */
  def probe[T](ds: Dataset[T], cap: Long): Option[Array[T]] = {
    require(cap > 0 && cap <= Int.MaxValue - 1L,
      s"driver-literal cap must be in [1, ${Int.MaxValue - 1}], got $cap")
    val rows = ds.limit(cap.toInt + 1).collect()
    if (rows.length <= cap) Some(rows) else None
  }

  /** Collect a driver-side literal or fail loudly: `name` identifies
    * what was being materialized, `remedy` tells the caller what to do
    * about it (raise which knob, pre-filter what, chunk how). */
  def driverLiteral[T](ds: Dataset[T], name: String, cap: Long, remedy: String): Array[T] =
    probe(ds, cap).getOrElse(throw overCap(name, cap, remedy))

  /** [[driverLiteral]]'s failure, for callers that [[probe]] first and
    * decide per call site whether an over-cap result is fatal. */
  def overCap(name: String, cap: Long, remedy: String): IllegalArgumentException =
    new IllegalArgumentException(
      s"$name exceeds the driver-materialization cap of $cap rows — $remedy")
}
