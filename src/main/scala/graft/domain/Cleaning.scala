package graft.domain

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.{Aggs, Exec, Exprs, Joins}
import Schemas._

/** Entry point 1 — the cleaning pipeline (reference
  * `src/data_processing/cleaning/`, recomposed per SURVEY.md §3).
  *
  * Differences from the reference are architectural, not semantic: the
  * per-week file loop becomes a single partitioned DataFrame (a `week`
  * column instead of 18 files); key-slice-then-inner-merge existence
  * filters become native left-semi joins; pandas keep-first dedups get
  * explicit total orders; the row-wise team `apply` becomes a codegen'd
  * CASE expression (SURVEY.md §4).
  */
object Cleaning {
  private val playKeys = Seq("game_id", "play_id")
  private val playerKeys = Seq("game_id", "play_id", "nfl_id")

  val TrackingColsBefore: Seq[String] = Seq(
    "game_id", "play_id", "nfl_id", "frame_id", "play_direction",
    "player_side", "player_role", "x", "y", "s", "a", "dir", "o")

  /** players dim (players.py:87-122): unique nfl_id with keep-*first*
    * semantics made explicit — order by (week, game, play, frame).
    *
    * The ordered dim is built once with [[Exec.materialize]] and the
    * audit runs over that layer, so raw tracking is read for the dim
    * once, not once per consumer. Release contract: the returned frame
    * reads that materialized layer. Once its last consumer has run its
    * action, pass it to [[Exec.release]]; neither it nor frames derived
    * from it may be used afterwards. */
  def playersDataset(trackingBefore: DataFrame): DataFrame = {
    val cols = Seq("nfl_id", "player_name", "player_height", "player_weight",
      "player_birth_date", "player_position")
    val deduped = Aggs.argminPerGroup(
      trackingBefore.select((cols.map(col) ++ Seq(col("week"), col("game_id"), col("play_id"), col("frame_id"))): _*),
      Seq(col("nfl_id")),
      Seq(col("week").asc, col("game_id").asc, col("play_id").asc, col("frame_id").asc))
      .select(cols.map(col): _*)
    // Fail-fast checks (players.py:57-58 null keys, players.py:80-81
    // weight domain) fused into ONE aggregate over the already-deduped
    // rows — a raw-tracking null nfl_id survives the dedup as its own
    // group, so checking post-dedup is equivalent and avoids two extra
    // eager full scans of raw tracking per pipeline build.
    val dim = Exec.materialize(deduped.orderBy("nfl_id"))
    val audit = dim.agg(
      count(when(col("nfl_id").isNull, 1)).as("null_keys"),
      count(when(col("player_weight") <= 0, 1)).as("bad_weights")).head()
    if (audit.getLong(0) != 0 || audit.getLong(1) != 0) Exec.release(dim)
    require(audit.getLong(0) == 0, "Found null nfl_id values")
    require(audit.getLong(1) == 0, "Invalid player_weight values (must be positive)")
    dim
  }

  /** plays cleaning (plays.py:198-229): project → route filter →
    * attach play-level tracking cols → flip ball landing.
    *
    * Release contract: the returned frame reads a materialized layer
    * ([[Exec.materialize]]), so its consumers share one read of raw
    * tracking. Once its last consumer has run its action, pass it to
    * [[Exec.release]]; neither it nor frames derived from it may be
    * used afterwards. */
  def processPlays(rawPlays: DataFrame, trackingBefore: DataFrame): DataFrame = {
    val playCols = Schemas.rawPlays.fieldNames.toSeq
    val projected = rawPlays.select(playCols.map(col): _*)
      .dropDuplicates(playKeys) // plays.py:74-76 (rows are play-unique upstream)
    val routed = projected.filter(col("route_of_targeted_receiver").isin(ReceiverRoutes: _*))
    // coverage filter intentionally disabled, as in the reference (plays.py:221)
    val trackCols = trackingBefore
      .select(col("game_id"), col("play_id"), col("play_direction"),
        col("absolute_yardline_number"), col("ball_land_x"), col("ball_land_y"))
      .dropDuplicates(playKeys)
    val joined = routed.join(trackCols, playKeys, "inner")
    val isLeft = col("play_direction") === "left"
    Exec.materialize(joined
      .withColumn("ball_land_x", Exprs.flipCoord(isLeft, col("ball_land_x"), FieldLength))
      .withColumn("ball_land_y", Exprs.flipCoord(isLeft, col("ball_land_y"), FieldWidth)))
  }

  /** J3 (tracking.py:92-121): broadcast the players dim onto tracking. */
  def addPlayerInfo(tracking: DataFrame, players: DataFrame): DataFrame = {
    val dim = players.select(col("nfl_id"), col("player_name"), col("player_position"))
      .dropDuplicates("nfl_id")
    Joins.leftJoinDim(tracking, dim, Seq("nfl_id"))
  }

  /** J4+X7 (tracking.py:124-165): resolve team from side via a CASE
    * expression instead of the reference's row-wise Python apply. */
  def addTeamInfo(tracking: DataFrame, rawPlays: DataFrame): DataFrame = {
    val dim = rawPlays.select(col("game_id"), col("play_id"),
      col("possession_team"), col("defensive_team")).dropDuplicates(playKeys)
    tracking.join(broadcast(dim), playKeys, "left")
      .withColumn("team",
        when(col("player_side") === Defense, col("defensive_team"))
          .when(col("player_side") === Offense, col("possession_team"))
          .otherwise(lit(null).cast("string")))
      .drop("possession_team", "defensive_team")
  }

  /** X2 (tracking.py:168-201): standardize to left-to-right. Angles flip
    * only when present — the after-throw frame carries no o/dir
    * (tracking.py:197-200 guards the same way). */
  def convertPlaysLeftToRight(df: DataFrame): DataFrame = {
    val isLeft = col("play_direction") === "left"
    val coords = df.withColumn("x", Exprs.flipCoord(isLeft, col("x"), FieldLength))
      .withColumn("y", Exprs.flipCoord(isLeft, col("y"), FieldWidth))
    if (df.columns.contains("o") && df.columns.contains("dir"))
      coords.withColumn("o", Exprs.flipAngle(isLeft, col("o")))
        .withColumn("dir", Exprs.flipAngle(isLeft, col("dir")))
    else coords
  }

  /** J5 (tracking.py:204-233): keep rows whose (game, play, nfl) key
    * appears in `other`. */
  def keepPlayersPresentIn(df: DataFrame, other: DataFrame): DataFrame =
    Joins.semiFilter(df, other.select(playerKeys.map(col): _*), playerKeys)

  /** A4 flagship (tracking.py:390-453): per play, the defender with the
    * minimum mean distance to the targeted receiver; output is that
    * defender's rows plus the receiver's rows. Tie-break on nfl_id
    * (pandas `idxmin` keeps the first row — order-dependent; here it is
    * explicit, SURVEY.md §7.5). */
  def closestDefender(df: DataFrame): DataFrame = {
    val receiver = df.filter(col("player_role") === TargetedReceiver)
    val recCoords = receiver.select(col("game_id"), col("play_id"), col("frame_id"),
      col("x").as("x_rec"), col("y").as("y_rec"))
    val defenders = df.filter(col("player_side") === Defense)
    val meanDist = defenders
      .join(recCoords, playKeys :+ "frame_id", "inner")
      .groupBy(col("game_id"), col("play_id"), col("nfl_id"))
      .agg(avg(Exprs.dist(col("x"), col("y"), col("x_rec"), col("y_rec"))).as("mean_distance"))
    val closestKeys = Aggs.argminPerGroup(meanDist,
      Seq(col("game_id"), col("play_id")),
      Seq(col("mean_distance").asc, col("nfl_id").asc))
      .select(playerKeys.map(col): _*)
    val closestRows = Joins.semiFilter(defenders, closestKeys, playerKeys)
    closestRows.unionByName(receiver)
  }

  /** 1v1 filter (tracking.py:269-315): keep plays with exactly one
    * targeted receiver and one defensive back — fused into ONE
    * aggregation (two conditional count-distincts) instead of the
    * reference's two aggs + three joins (SURVEY.md §4). */
  def playsWithOneReceiverAndOneDb(df: DataFrame): DataFrame = {
    val counts = df.groupBy(col("game_id"), col("play_id")).agg(
      countDistinct(when(col("player_role") === TargetedReceiver, col("nfl_id")))
        .as("receiver_count"),
      countDistinct(when(col("player_side") === Defense &&
        col("player_position").isin(DbPositions: _*), col("nfl_id")))
        .as("db_count"))
    val keep = counts.filter(col("receiver_count") === 1 && col("db_count") === 1)
      .select(playKeys.map(col): _*)
    Joins.semiFilter(df, keep, playKeys)
  }

  /** Ball-landing filter (tracking.py:318-387): last frame per play →
    * side pivot (explicit values) → distance to ball landing < 3 yd for
    * receiver OR defender. */
  def filterPlaysByBallLandingDistance(tracking: DataFrame, plays: DataFrame): DataFrame = {
    val lastFrames = tracking
      .withColumn("__max_f", max(col("frame_id")).over(
        org.apache.spark.sql.expressions.Window.partitionBy(playKeys.map(col): _*)))
      .filter(col("frame_id") === col("__max_f"))
    val pivoted = lastFrames
      .groupBy(col("game_id"), col("play_id"))
      .pivot("player_side", Seq(Offense, Defense))
      .agg(first(col("x")).as("x"), first(col("y")).as("y"))
      .withColumnRenamed(s"${Offense}_x", "x_rec_last")
      .withColumnRenamed(s"${Offense}_y", "y_rec_last")
      .withColumnRenamed(s"${Defense}_x", "x_def_last")
      .withColumnRenamed(s"${Defense}_y", "y_def_last")
    val withBall = pivoted.join(
      plays.select(col("game_id"), col("play_id"), col("ball_land_x"), col("ball_land_y")),
      playKeys, "inner")
    val keep = withBall.filter(
      Exprs.dist(col("x_rec_last"), col("y_rec_last"), col("ball_land_x"), col("ball_land_y")) < 3 ||
        Exprs.dist(col("x_def_last"), col("y_def_last"), col("ball_land_x"), col("ball_land_y")) < 3)
      .select(playKeys.map(col): _*)
    Joins.semiFilter(tracking, keep, playKeys)
  }

  /** Full per-season tracking clean (clean_tracking_data,
    * tracking.py:456-549) over a partitioned DataFrame — the reference's
    * week loop is replaced by data partitioning; at cluster scale the
    * `week` column is a partition-pruning key. Returns (before, after).
    *
    * The data flow is a DAG, not a tree: every intermediate with more
    * than one consumer is cut with [[Exec.materialize]], so it is
    * planned, compiled and run once instead of once per use. Three plan
    * simplifications rest on key containment (player key = game, play,
    * nfl_id):
    *
    *   - the pre-throw tracking is enriched once; the passer rows and
    *     the post-throw-present rows are row filters of it (the player
    *     and team left joins go to key-unique dims, so enrichment
    *     commutes with row filters);
    *   - the reference's re-sync of the closest rows against the
    *     pre-throw rows is the identity: a closest row kept its role or
    *     side only by matching the slice, so its key is already present;
    *   - the final pre-throw filter is one semi-join against the final
    *     post-throw rows, whose keys are a subset of every earlier
    *     stage's keys.
    *
    * Release contract: the returned frames read materialized layers
    * (checkpointed blocks locally, `DISK_ONLY` cache on a cluster), and
    * the after frame's layer is also one of the before frame's. Once the
    * last consumer of either frame has run its action, pass the before
    * frame to [[Exec.release]]; that releases both, and neither they nor
    * frames derived from them may be used afterwards. Intermediate
    * layers are released here, as soon as the next layer is built. */
  def cleanTracking(before: DataFrame, after: DataFrame,
                    players: DataFrame, rawPlays: DataFrame,
                    cleanedPlays: DataFrame): (DataFrame, DataFrame) = {
    val enriched = Exec.materialize(addTeamInfo(addPlayerInfo(
      before.select(TrackingColsBefore.map(col): _*), players), rawPlays))
    val qb = enriched.filter(col("player_role") === Passer)
    val filteredBefore0 = Exec.materialize(keepPlayersPresentIn(enriched, after))

    val beforeSlice = filteredBefore0
      .select(col("game_id"), col("play_id"), col("nfl_id"),
        col("player_side"), col("player_role"), col("play_direction"))
      .dropDuplicates(playerKeys) // many_to_one enforced (tracking.py:77-90)
    val afterEnriched = Exec.materialize(after.join(beforeSlice, playerKeys, "left"))
    val afterClosest = closestDefender(afterEnriched)

    val afterStd = Exec.materialize(addTeamInfo(addPlayerInfo(
      convertPlaysLeftToRight(afterClosest), players), rawPlays))
    Exec.release(afterEnriched)
    val after1v1 = Exec.materialize(playsWithOneReceiverAndOneDb(afterStd))
    Exec.release(afterStd)
    val afterFinal = Exec.materialize(
      filterPlaysByBallLandingDistance(after1v1, cleanedPlays))
    Exec.release(after1v1)

    val filteredBefore2 = keepPlayersPresentIn(filteredBefore0, afterFinal)
    val withQb = filteredBefore2.unionByName(qb)
    val roleComplete = Aggs.distinctCountFilter(withQb, playKeys.map(col),
      col("player_role"), 3) // tracking.py:523-528
    val beforeFinal = convertPlaysLeftToRight(roleComplete)
    (beforeFinal, afterFinal)
  }

  /** plays ∩ tracking (plays.py:232-300): left-semi. */
  def filterPlaysWithTracking(plays: DataFrame, cleanedBefore: DataFrame): DataFrame =
    Joins.semiFilter(plays, cleanedBefore.select(playKeys.map(col): _*), playKeys)
}
