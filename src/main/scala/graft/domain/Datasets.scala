package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Exec, Exprs}
import Schemas._

/** Entry point 2 — train/test/inference dataset creation (reference
  * `create_datasets.py` + `inference/create_dataset.py`).
  *
  * K1, the per-play feature extraction the reference implements as a
  * per-group Python loop (features.py:63-150), is *relationalized* into
  * one conditional hash aggregation + column math (SURVEY.md §2.9) —
  * a single shuffle on the play key and whole-stage codegen'd geometry,
  * instead of 88 lines of driver-side row picking. Groups missing a
  * role drop out via null filtering (the reference's
  * `IndexError → continue`). */
object Datasets {

  /** A5: last frame per (game, play, nfl) with explicit ordering
    * (create_datasets.py:16-25 `tail(1)` relies on file order). */
  def lastFramePerPlayer(tracking: DataFrame): DataFrame =
    Aggs.argminPerGroup(tracking,
      Seq(col("game_id"), col("play_id"), col("nfl_id")),
      Seq(col("frame_id").desc))

  /** X10 (create_datasets.py:28-43). */
  def withBinaryTarget(df: DataFrame, plays: DataFrame): DataFrame =
    df.join(plays.select(col("game_id"), col("play_id"), col("pass_result")),
      Seq("game_id", "play_id"), "left")
      .withColumn("is_non_completion", (col("pass_result") =!= "C").cast("int"))
      .drop("pass_result")

  /** K1 featurizer. `perFrame=false` → one row per play on the at-throw
    * frame (training, features.py); `perFrame=true` → one row per frame
    * (inference, inference/create_dataset.py). `targetCol` carries the
    * label expression (binary target for training; raw pass_result for
    * inference).
    *
    * Note on rounding: the reference emits Python `round(v, 2)`; we emit
    * the engine-portable floor-form `Exprs.r2` — identical except exact
    * half-boundary doubles (see Exprs.rnd scaladoc), covered by unit
    * tests rather than a SQL oracle. */
  def featurize(df: DataFrame, perFrame: Boolean, targetCol: Column): DataFrame = {
    val keys: Seq[Column] =
      if (perFrame) Seq(col("game_id"), col("play_id"), col("frame_id"))
      else Seq(col("game_id"), col("play_id"))
    def roleAgg(cond: Column, c: Column) = max(when(cond, c))
    val isQb = col("player_role") === Passer
    val isRec = col("player_role") === TargetedReceiver
    val isDef = col("player_side") === Defense

    val agged = df.groupBy(keys: _*).agg(
      roleAgg(isQb, col("x")).as("qb_x"), roleAgg(isQb, col("y")).as("qb_y"),
      roleAgg(isQb, col("s")).as("qb_s"),
      roleAgg(isRec, col("x")).as("rec_x"), roleAgg(isRec, col("y")).as("rec_y"),
      roleAgg(isRec, col("s")).as("rec_s"), roleAgg(isRec, col("nfl_id")).as("receiver_id"),
      roleAgg(isDef, col("x")).as("def_x"), roleAgg(isDef, col("y")).as("def_y"),
      roleAgg(isDef, col("s")).as("def_s"), roleAgg(isDef, col("dir")).as("def_dir"),
      roleAgg(isDef, col("o")).as("def_o"), roleAgg(isDef, col("nfl_id")).as("defender_id"),
      max(targetCol).as("target"))

    val present = agged.filter(
      col("qb_x").isNotNull && col("rec_x").isNotNull && col("def_x").isNotNull)

    val airYards = col("rec_x") - col("qb_x")
    val separation = Exprs.dist(col("rec_x"), col("rec_y"), col("def_x"), col("def_y"))
    val angleToRec = Exprs.bearing(col("rec_y") - col("def_y"), col("rec_x") - col("def_x"))
    val orientError = Exprs.angleDiff(col("def_o"), angleToRec)
    val closing = Exprs.closingSpeed(col("def_x"), col("def_y"), col("def_s"),
      col("def_dir"), col("rec_x"), col("rec_y"))
    val airFloor = Exprs.clampMin(airYards, 1.0)

    present.select(
      (keys :+ col("receiver_id") :+ col("defender_id")) ++ Seq(
        Exprs.r2(airYards).as("air_yards"),
        Exprs.r2(separation).as("separation"),
        Exprs.r2(Exprs.dist(col("qb_x"), col("qb_y"), col("rec_x"), col("rec_y"))).as("qb_to_rec_dist"),
        Exprs.r2(Exprs.dist(col("def_x"), col("def_y"), col("qb_x"), col("qb_y"))).as("pressure_dist"),
        Exprs.r2(col("rec_s")).as("rec_speed"),
        Exprs.r2(col("def_s")).as("def_speed"),
        Exprs.r2(col("qb_s")).as("qb_speed"),
        Exprs.r2(closing).as("closing_speed"),
        Exprs.r2(orientError).as("def_orientation_error"),
        Exprs.flag(orientError > 120).as("def_back_to_rec"),
        Exprs.r2(Exprs.boundaryDist(col("rec_x"), col("rec_y"))).as("rec_boundary_dist"),
        Exprs.flag(col("rec_s") > 6).as("rec_running_away"),
        Exprs.r2(pow(separation, 2)).as("separation_sq"),
        Exprs.r2(separation / airFloor).as("sep_per_air_yard"),
        Exprs.r2(closing / airFloor).as("closing_per_yard"),
        col("target")): _*)
  }

  /** Training dataset: at-throw (last) frame per player, binary target,
    * per-play features (create_datasets.py:46-65). */
  def trainingFeatures(cleanedBefore: DataFrame, plays: DataFrame): DataFrame = {
    val lastFrames = lastFramePerPlayer(cleanedBefore)
    val labeled = withBinaryTarget(lastFrames, plays)
    featurize(labeled, perFrame = false, col("is_non_completion"))
  }

  /** Inference dataset: features per *frame*, raw pass_result carried as
    * target (inference/create_dataset.py:17-105). */
  def inferenceFeatures(cleanedBefore: DataFrame, plays: DataFrame): DataFrame = {
    val labeled = cleanedBefore.join(
      plays.select(col("game_id"), col("play_id"), col("pass_result")),
      Seq("game_id", "play_id"), "left")
    featurize(labeled, perFrame = true, col("pass_result"))
  }

  /** 9/9 week split (settings.py:62-63, create_datasets.py:102-103).
    * Reference-faithful edge case: a feature row whose (game_id,
    * play_id) has NO match in `weeks` joins week = null and lands in
    * NEITHER split — the same silent drop the reference's pandas
    * merge-then-compare produces (NaN week fails both comparisons).
    * Audit `weeks` completeness upstream if every labeled row must be
    * accounted for.
    *
    * The week-joined features are built once with [[Exec.materialize]],
    * so train and test do not each recompute them. Release contract:
    * both returned frames read that one materialized layer. Once the
    * last consumer of either has run its action, pass either frame to
    * [[Exec.release]]; that releases both, and neither they nor frames
    * derived from them may be used afterwards. */
  def trainTestSplit(features: DataFrame, weeks: DataFrame,
                     numTrainWeeks: Int = 9): (DataFrame, DataFrame) = {
    val withWeek = Exec.materialize(features.join(
      weeks.select(col("game_id"), col("play_id"), col("week")).dropDuplicates("game_id", "play_id"),
      Seq("game_id", "play_id"), "left"))
    (withWeek.filter(col("week") <= numTrainWeeks).drop("week"),
      withWeek.filter(col("week") > numTrainWeeks).drop("week"))
  }
}
