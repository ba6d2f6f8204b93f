package graft.domain

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.ops.Aggs
import Cleaning._
import Schemas._

/** The tree-shaped `Cleaning.cleanTracking` that the DAG form replaced,
  * kept verbatim as the differential reference: every intermediate is
  * re-derived per use, the pre-throw tracking is enriched twice, the
  * closest rows are re-synced against the pre-throw rows, and the final
  * pre-throw filter is a chain of two semi-joins. Test-only. */
private[domain] object CleaningReference {
  private val playKeys = Seq("game_id", "play_id")
  private val playerKeys = Seq("game_id", "play_id", "nfl_id")

  def cleanTracking(before: DataFrame, after: DataFrame,
                    players: DataFrame, rawPlays: DataFrame,
                    cleanedPlays: DataFrame): (DataFrame, DataFrame) = {
    val qb = addTeamInfo(addPlayerInfo(
      before.filter(col("player_role") === Passer)
        .select(TrackingColsBefore.map(col): _*), players), rawPlays)

    val before1 = keepPlayersPresentIn(before, after)
    val filteredBefore0 = addTeamInfo(addPlayerInfo(
      before1.select(TrackingColsBefore.map(col): _*), players), rawPlays)

    val beforeSlice = filteredBefore0
      .select(col("game_id"), col("play_id"), col("nfl_id"),
        col("player_side"), col("player_role"), col("play_direction"))
      .dropDuplicates(playerKeys)
    val afterEnriched = after.join(beforeSlice, playerKeys, "left")

    val afterClosest = closestDefender(afterEnriched)
    val filteredBefore1 = keepPlayersPresentIn(filteredBefore0, afterClosest)
    val afterSynced = keepPlayersPresentIn(afterClosest, filteredBefore1)

    val afterStd = addTeamInfo(addPlayerInfo(
      convertPlaysLeftToRight(afterSynced), players), rawPlays)
    val after1v1 = playsWithOneReceiverAndOneDb(afterStd)
    val afterFinal = filterPlaysByBallLandingDistance(after1v1, cleanedPlays)

    val filteredBefore2 = keepPlayersPresentIn(filteredBefore1, afterFinal)
    val withQb = filteredBefore2.unionByName(qb)
    val roleComplete = Aggs.distinctCountFilter(withQb, playKeys.map(col),
      col("player_role"), 3)
    val beforeFinal = convertPlaysLeftToRight(roleComplete)
    (beforeFinal, afterFinal)
  }
}
