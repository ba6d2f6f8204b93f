package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.kernels.Pelt

/** Sequential per-group kernels (SURVEY.md §2.9): PELT change-point +
  * deception score over per-user ordered event-value series — the one
  * operator family that is genuinely not SQL-expressible (excluded from
  * the oracle map per the driver contract; covered by PeltSpec). The
  * `k2_pelt_agree` differential exposes the mapGroups-vs-native-agg
  * bit-parity to the driver scoreboard with an exact oracle.
  *
  * The native aggregate is the PELT path of the paper's pipeline
  * (`domain.Scoring` runs it next to the last-frame pick in one
  * aggregate); [[peltMapGroups]] stays here as the board's reference
  * form, the independent formulation `k2_pelt_agree` compares it with.
  */
object Kernels {
  import Relational.Q

  /** Kernel input domain: a change-point series is (key, ordered ts,
    * numeric value) — a row with a NULL in any of the four fields has
    * no place in it (no position in the order, or no measurable value)
    * and would crash the typed encoder (NOT_NULL_ASSERT_VIOLATION).
    * Excluded HERE, identically for both kernel forms, the same
    * documented drop contract as Trend's null-y rows. */
  private def peltInput(s: SparkSession, d: String): DataFrame =
    Tables.events(s, d)
      .select(col("user_id"), col("value"), unix_micros(col("ts")).as("tsm"), col("event_id"))
      .filter(col("user_id").isNotNull && col("value").isNotNull &&
        col("tsm").isNotNull && col("event_id").isNotNull)

  /** K2/K3: one shuffle on the group key, then a JVM-local kernel per
    * group (`groupByKey.mapGroups`) over the explicitly ordered series
    * — the Spark shape of deception.py:83-136. */
  private def peltMapGroups(s: SparkSession, d: String): DataFrame = {
    import s.implicits._
    val ev = peltInput(s, d)
      .as[(Long, Double, Long, Long)]
    ev.groupByKey(_._1)
      .mapGroups { (uid, it) =>
        // explicit total order (ts, event_id) — pandas relied on file
        // order — collected under the Pelt.MaxSeriesPoints cap so one
        // pathological key cannot OOM the task (bounded heap, not
        // it.toArray)
        val signal = Pelt.boundedCollect(
          it.map(r => (r._3, r._4, r._2)), Pelt.MaxSeriesPoints,
          Ordering.by((x: (Long, Long, Double)) => (x._1, x._2))).map(_._3)
        val (cp, score) = Pelt.changePointAndScore(signal)
        (uid, signal.length, cp, math.rint(score * 10000) / 10000)
      }
      .toDF("user_id", "n_points", "change_point", "deception_score")
  }

  /** K2/K3 as the native Catalyst aggregate (functions.PeltDeception,
    * injected via spark.sql.extensions): same kernel, but composable
    * inside a plain groupBy.agg / SQL call — and partial buffers merge
    * map-side like any aggregate. */
  private def peltAgg(s: SparkSession, d: String): DataFrame =
    peltInput(s, d)
      .groupBy(col("user_id"))
      .agg(call_function("pelt_deception",
        col("value"), col("tsm"), col("event_id")).as("pd"))
      .select(col("user_id"), col("pd.n_points").as("n_points"),
        col("pd.change_point").as("change_point"),
        (rint(col("pd.deception_score") * 10000) / 10000).as("deception_score"))

  val queries: Map[String, Q] = Map(
    "k2_pelt_changepoint" -> ((s, d) => peltMapGroups(s, d)),

    // No oracle for the raw kernels (PELT isn't SQL-expressible);
    // PeltSpec + KernelAggSpec pin them against brute force.
    "k2_pelt_agg" -> ((s, d) => peltAgg(s, d)),

    // Driver-witnessed self-consistency differential (same pattern as
    // dedup_simhash / sim_lsh_bucket): the mapGroups form and the native
    // Catalyst aggregate must emit identical (n_points, change_point,
    // rounded score) per user. The raw values have no DuckDB oracle, but
    // the AGREEMENT bit is exact — any kernel/agg divergence flips a 1
    // to 0 and the scoreboard hash goes red.
    "k2_pelt_agree" -> ((s, d) => {
      val a = peltMapGroups(s, d)
      val b = peltAgg(s, d).select(col("user_id").as("uid_b"),
        col("n_points").as("np_b"), col("change_point").as("cp_b"),
        col("deception_score").as("ds_b"))
      a.join(b, col("user_id") === col("uid_b"))
        .select(col("user_id"),
          (col("n_points") === col("np_b") &&
            col("change_point") === col("cp_b") &&
            col("deception_score") === col("ds_b")).cast("int").as("pelt_agree"))
    })
  )

  val oracles: Map[String, String] = Map(
    // The agreement differential has a trivial exact oracle: one row
    // per user with at least one kernel-eligible row (the null-field
    // drop contract on peltInput), all bits 1.
    "k2_pelt_agree" ->
      """SELECT DISTINCT user_id, CAST(1 AS INTEGER) AS pelt_agree FROM events
        |WHERE user_id IS NOT NULL AND value IS NOT NULL
        |  AND ts IS NOT NULL AND event_id IS NOT NULL""".stripMargin
  )
}
