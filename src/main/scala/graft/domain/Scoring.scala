package graft.domain

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.functions.PeltDeception
import graft.ops.Exprs

/** Entry point 3 — deception + recovery scores (reference
  * `src/metrics/`). One aggregate on the play key computes both: the
  * native PELT aggregate ([[graft.functions.PeltDeception]], K2/K3) over
  * the frame-ordered probability series, and a `max_by` pick of the
  * last frame, whose fields carry the ids and the recovery score. The
  * reference reads each play's series twice (deception.py for PELT,
  * recovery.py for `tail(1)`) and joins the two; here one shuffle on
  * the play key feeds both aggregates. The aggregate is the pipeline's
  * PELT path; the board's `k2_pelt_changepoint` keeps the
  * `groupByKey.mapGroups` form as its reference, and `k2_pelt_agree`
  * pins the two bit-equal. */
object Scoring {

  /** J7 assembly (compute_scores.py:13-50): per play, the K2+K3
    * change-point deception score (deception.py:83-136) and the X12
    * outcome-weighted recovery score on the last frame
    * (recovery.py:65-79), with the last frame's receiver and defender.
    * The series is ordered by `frame_id` (frames are unique per play)
    * and capped at `Pelt.MaxSeriesPoints`; a frame with a null
    * probability takes no part in the series. `spark` is unused: the
    * aggregate column is built without the session's function
    * registry. */
  def computeScores(spark: SparkSession, results: DataFrame): DataFrame = {
    val last = max_by(struct(col("receiver_id"), col("defender_id"), col("pass_result"),
      col("non_completion_probability")), col("frame_id"))
    results.groupBy(col("game_id"), col("play_id"))
      .agg(PeltDeception.column(col("non_completion_probability"),
          col("frame_id").cast("long"), lit(0L)).as("__pd"),
        last.as("__last"))
      .select(col("game_id"), col("play_id"), col("__last.defender_id").as("defender_id"),
        col("__last.receiver_id").as("receiver_id"),
        col("__pd.deception_score").as("deception_score"),
        Exprs.recoveryScore(col("__last.pass_result"), col("__last.non_completion_probability"))
          .as("recovery_score"))
  }
}
