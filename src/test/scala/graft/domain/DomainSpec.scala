package graft.domain

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession
import graft.kernels.Pelt
import graft.ops.{Exec, Exprs}

/** Domain-pipeline spec over a deterministic synthetic tracking fixture
  * covering FIXTURES.md's edge cases: a valid 1v1 play, a two-receiver
  * play (dropped), a far-ball-landing play (dropped), a left-direction
  * play (flipped), a missing-QB play (dropped by the role-count filter),
  * and a filtered route (dropped in plays cleaning). */
class DomainSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  // the fixture's players dim and plays are materialized layers
  override def afterAll(): Unit =
    try Seq(players, cleanedPlays).foreach(Exec.release) finally super.afterAll()

  // ----- fixture ------------------------------------------------------
  // before-throw rows: (game, play, nfl, frame, dir, side, role, x, y, s, a, dirAngle, o,
  //                     absYard, ballX, ballY, name, height, weight, bdate, position, week)
  private def beforeRow(play: Long, nfl: Long, frame: Int, role: String, side: String,
                        x: Double, y: Double, direction: String = "right",
                        ballX: Double = 63.5, ballY: Double = 30.2,
                        position: String = "CB") =
    (1L, play, nfl, frame, direction, side, role, x, y, 5.0, 1.0, 90.0, 45.0,
      60, ballX, ballY, s"P$nfl", "6-2", 200.0, "1995-01-01", position, 1)

  private val beforeCols = Seq("game_id", "play_id", "nfl_id", "frame_id",
    "play_direction", "player_side", "player_role", "x", "y", "s", "a", "dir", "o",
    "absolute_yardline_number", "ball_land_x", "ball_land_y",
    "player_name", "player_height", "player_weight", "player_birth_date",
    "player_position", "week")

  private def play(playId: Long, withQb: Boolean = true, nReceivers: Int = 1,
                   ballX: Double = 63.5, ballY: Double = 30.2,
                   direction: String = "right") = {
    val frames = 1 to 3
    val qb = if (withQb) frames.map(f =>
      beforeRow(playId, 10, f, Schemas.Passer, Schemas.Offense, 40.0, 25.0,
        direction, ballX, ballY, "QB")) else Seq.empty
    val recs = (0 until nReceivers).flatMap(i => frames.map(f =>
      beforeRow(playId, 20 + i, f, Schemas.TargetedReceiver, Schemas.Offense,
        50.0 + f, 30.0, direction, ballX, ballY, "WR")))
    val db = frames.map(f =>
      beforeRow(playId, 30, f, "Defensive Coverage", Schemas.Defense,
        52.0 + f, 30.0, direction, ballX, ballY, "CB"))
    val farDef = frames.map(f =>
      beforeRow(playId, 31, f, "Defensive Coverage", Schemas.Defense,
        80.0, 10.0, direction, ballX, ballY, "CB"))
    qb ++ recs ++ db ++ farDef
  }

  private lazy val before: DataFrame =
    (play(1) ++ play(2, nReceivers = 2) ++ play(3, ballX = 10.0, ballY = 5.0) ++
      play(4, direction = "left") ++ play(5, withQb = false))
      .toDF(beforeCols: _*)

  // after-throw: ids + coordinates only (schema A3); frames 4..6;
  // receiver/defender converge on the landing spot, far defender stays far
  private lazy val after: DataFrame = {
    val rows = for {
      playId <- Seq(1L, 2L, 3L, 4L, 5L)
      (nfl, baseX, baseY) <- Seq((20L, 54.0, 30.0), (21L, 54.0, 32.0),
        (30L, 56.0, 30.0), (31L, 80.0, 10.0))
      if nfl != 21L || playId == 2L // second receiver exists only in play 2
      frame <- 4 to 6
    } yield (1L, playId, nfl, frame,
      if (nfl == 31L) 80.0 else baseX + (frame - 3) * 3.0,
      if (nfl == 31L) 10.0 else baseY)
    rows.toDF("game_id", "play_id", "nfl_id", "frame_id", "x", "y")
  }

  private def rawPlaysFor(ids: Seq[Long]): DataFrame = {
    val rows = ids.map(p => Row(1L, p, 2023, 1, 1, "10:00", 1,
      "H", "V", "desc", 10, "H", "V", 30, "N", if (p == 1L) "C" else "I", 10.0,
      "SG", "3x1", if (p == 5L) "GO" else "IN", "N", "TRADITIONAL", 5.0,
      "MAN_COVERAGE", "C1"))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows), Schemas.rawPlays)
  }

  private lazy val rawPlays: DataFrame = rawPlaysFor(Seq(1L, 2L, 3L, 4L, 5L))

  private lazy val players = Cleaning.playersDataset(before)
  private lazy val cleanedPlays = Cleaning.processPlays(rawPlays, before)
  private lazy val cleaned = Cleaning.cleanTracking(before, after, players, rawPlays, cleanedPlays)

  // ----- cleaning -----------------------------------------------------

  test("players dataset is unique by nfl_id with validated weights") {
    val p = players.collect()
    assert(p.map(_.getLong(0)).distinct.length == p.length)
    assert(p.length == 5) // 10, 20, 21, 30, 31
  }

  test("plays cleaning keeps routes IN/OUT/HITCH and flips left ball landings") {
    val plays = cleanedPlays.collect()
    // play 5 (route GO) dropped
    assert(!plays.map(_.getLong(1)).contains(5L))
    // play 4 is left-direction: ball_land flipped 120-63.5=56.5, 53.3-30.2=23.1
    val p4 = cleanedPlays.filter(col("play_id") === 4).head()
    assert(p4.getAs[Double]("ball_land_x") == 56.5)
    assert(p4.getAs[Double]("ball_land_y") == 23.1)
  }

  test("closest defender picks the minimum-mean-distance defender only") {
    val enriched = after.join(
      before.select(col("game_id"), col("play_id"), col("nfl_id"),
        col("player_side"), col("player_role"), col("play_direction"))
        .dropDuplicates("game_id", "play_id", "nfl_id"),
      Seq("game_id", "play_id", "nfl_id"), "left")
    val out = Cleaning.closestDefender(enriched.filter(col("play_id") === 1))
    val ids = out.select("nfl_id").distinct().as[Long].collect().toSet
    assert(ids == Set(20L, 30L)) // receiver + closest defender; 31 dropped
  }

  test("cleaning keeps the valid plays and drops 2-receiver / far-ball / no-QB plays") {
    val (beforeFinal, afterFinal) = cleaned
    val beforePlays = beforeFinal.select("play_id").distinct().as[Long].collect().toSet
    val afterPlays = afterFinal.select("play_id").distinct().as[Long].collect().toSet
    assert(beforePlays == Set(1L, 4L), s"before plays: $beforePlays")
    // play 2: two receivers → dropped; play 3: ball far → dropped;
    // play 5: no QB → role count 2 → dropped from before (after keeps it
    // only if it survived earlier filters — route GO removed it from
    // cleaned plays, so the ball-landing inner join drops it too)
    assert(afterPlays == Set(1L, 4L), s"after plays: $afterPlays")
  }

  test("left-direction play is flipped to left-to-right in cleaned output") {
    val (beforeFinal, _) = cleaned
    val rec4 = beforeFinal
      .filter(col("play_id") === 4 && col("player_role") === Schemas.TargetedReceiver &&
        col("frame_id") === 1)
      .head()
    assert(rec4.getAs[Double]("x") == 69.0) // 120 - 51
    assert(rec4.getAs[Double]("y") == 23.3) // r2(53.3 - 30.0) — rounded at flip
    assert(rec4.getAs[Double]("dir") == 270.0) // (90+180)%360
  }

  // ----- the DAG clean against the tree-shaped reference --------------

  private def rowBag(df: DataFrame): Map[Row, Int] =
    df.collect().groupBy(identity).map { case (r, rs) => r -> rs.length }

  /** Both outputs of `Cleaning.cleanTracking` equal the reference's as
    * row multisets, with the same columns in the same order. Returns
    * the (before, after) row counts so callers can check the case was
    * not vacuous. */
  private def assertMatchesReference(label: String, before: DataFrame,
                                     after: DataFrame, raw: DataFrame): (Int, Int) = {
    val players = Cleaning.playersDataset(before)
    val plays = Cleaning.processPlays(raw, before)
    val (gotB, gotA) = Cleaning.cleanTracking(before, after, players, raw, plays)
    val (refB, refA) = CleaningReference.cleanTracking(before, after, players, raw, plays)
    try {
      val sizes = for ((side, got, ref) <- Seq(("before", gotB, refB), ("after", gotA, refA)))
        yield {
          assert(got.schema == ref.schema, s"$label $side schema")
          val (g, r) = (rowBag(got), rowBag(ref))
          assert(g == r, s"$label $side: only new ${g.toSet -- r.toSet}, " +
            s"only reference ${r.toSet -- g.toSet}")
          g.values.sum
        }
      (sizes(0), sizes(1))
    } finally Seq(gotB, players, plays).foreach(Exec.release)
  }

  test("DAG clean equals the tree-shaped reference on the hand fixture, both materialize modes") {
    for (durable <- Seq("false", "true")) {
      spark.conf.set(Exec.DurableConf, durable)
      try {
        val (nBefore, nAfter) =
          assertMatchesReference(s"fixture durable=$durable", before, after, rawPlays)
        assert(nBefore > 0 && nAfter > 0)
      } finally spark.conf.unset(Exec.DurableConf)
    }
  }

  test("DAG clean equals the tree-shaped reference on synthetic seasons, seeds 42-44") {
    for (seed <- Seq(42L, 43L, 44L)) {
      val specs = SyntheticSeason.playSpecs(120, seed)
      val (nBefore, nAfter) = assertMatchesReference(s"seed $seed",
        SyntheticSeason.trackingBefore(spark, specs),
        SyntheticSeason.trackingAfter(spark, specs),
        SyntheticSeason.rawPlays(spark, specs))
      assert(nBefore > 0 && nAfter > 0, s"seed $seed cleaned to nothing")
    }
  }

  test("DAG clean equals the reference on rows that could break key containment") {
    // the three containment arguments (enrichment commutes with row
    // filters, the closest rows need no re-sync, one semi-join replaces
    // the chain) must survive nulls and duplicates:
    //   - a null nfl_id in post-throw tracking (play 1, frame 4)
    //   - every post-throw row of play 4 duplicated
    //   - post-throw rows of player 40, who has no pre-throw rows
    //   - a play (6, a copy of play 1) whose play_direction is null
    val hostileBefore = before.union(
      play(6, direction = null).toDF(beforeCols: _*))
    val afterOpt = after.select(col("game_id"), col("play_id"),
      col("nfl_id").cast("long"), col("frame_id"), col("x"), col("y"))
    val extra = (Seq[(Long, Long, Option[Long], Int, Double, Double)](
      (1L, 1L, None, 4, 55.0, 30.0)) ++
      (4 to 6).map(f => (1L, 1L, Option(40L), f, 54.5, 30.0)) ++
      (4 to 6).flatMap(f => Seq((1L, 6L, Option(20L), f, 54.0 + (f - 3) * 3.0, 30.0),
        (1L, 6L, Option(30L), f, 56.0 + (f - 3) * 3.0, 30.0),
        (1L, 6L, Option(31L), f, 80.0, 10.0))))
      .toDF("game_id", "play_id", "nfl_id", "frame_id", "x", "y")
    val hostileAfter = afterOpt.union(afterOpt.filter(col("play_id") === 4)).union(extra)
    // one local relation per input: the reference re-plans each input
    // per use, and a union-shaped input makes its adaptive plan explode
    def flat(df: DataFrame): DataFrame =
      spark.createDataFrame(java.util.Arrays.asList(df.collect(): _*), df.schema)
    assert(hostileAfter.filter(col("nfl_id").isNull).count() == 1)
    val (nBefore, nAfter) = assertMatchesReference("hostile",
      flat(hostileBefore), flat(hostileAfter), rawPlaysFor(Seq(1L, 2L, 3L, 4L, 5L, 6L)))
    assert(nBefore > 0 && nAfter > 0)
  }

  test("the cleaned before frame plans only its final layer's exchanges") {
    // the tree-shaped clean planned 38 shuffle and 45 broadcast
    // exchanges (plus 79 reused) for one seeded-season write of the
    // cleaned before frame, and 38 and 69 (plus 57 reused) on this
    // fixture. Every shared intermediate is now a materialized layer,
    // so only the final semi-join (two shuffles, turned into one
    // broadcast at run time), the union and the role-count window (one
    // shuffle) are planned. A regrown tree fails these pins loudly.
    val (beforeFinal, _) = cleaned
    beforeFinal.collect()
    val nodes = graft.PlanCensus.finalPlanNodes(beforeFinal.queryExecution.executedPlan)
    import org.apache.spark.sql.execution.exchange.{BroadcastExchangeExec, ShuffleExchangeExec}
    val shuffles = nodes.count(_.isInstanceOf[ShuffleExchangeExec])
    val broadcasts = nodes.count(_.isInstanceOf[BroadcastExchangeExec])
    assert((shuffles, broadcasts) == ((3, 1)),
      s"shuffle/broadcast exchanges:\n${beforeFinal.queryExecution.executedPlan}")
  }

  // ----- features -----------------------------------------------------

  test("featurizer: one row per valid play with hand-checked geometry") {
    val (beforeFinal, _) = cleaned
    val feats = Datasets.trainingFeatures(beforeFinal, cleanedPlays)
    val rows = feats.collect()
    assert(rows.length == 2) // plays 1 and 4
    val f1 = feats.filter(col("play_id") === 1).head()
    // last frame (3): qb (40,25), rec (53,30), def (55,30)
    assert(f1.getAs[Double]("air_yards") == 13.0)
    assert(f1.getAs[Double]("separation") == 2.0)
    assert(f1.getAs[Long]("receiver_id") == 20L)
    assert(f1.getAs[Long]("defender_id") == 30L)
    assert(f1.getAs[Int]("target") == 0) // play 1 pass_result C
    assert(f1.getAs[Double]("rec_boundary_dist") == 23.3) // min(30, 23.3, 53, 67)
    // defender at (55,30) moving dir=90° (unit vec (cos90, sin90)=(0,1));
    // rec-def = (-2, 0) → closing = -(5*0*-2 + 5*1*0)/2 = 0
    assert(f1.getAs[Double]("closing_speed") == 0.0)
  }

  test("per-frame inference features carry pass_result and one row per frame") {
    val (beforeFinal, _) = cleaned
    val inf = Datasets.inferenceFeatures(beforeFinal, cleanedPlays)
    assert(inf.filter(col("play_id") === 1).count() == 3) // frames 1..3
    assert(inf.filter(col("play_id") === 1).select("target")
      .distinct().as[String].collect().toSeq == Seq("C"))
  }

  // ----- scoring ------------------------------------------------------

  test("scores: deception matches the Pelt kernel, recovery is piecewise") {
    val probs1 = Array(0.2, 0.2, 0.2, 0.2, 0.2, 0.8, 0.8, 0.8, 0.8, 0.8)
    val probs2 = Array(0.5, 0.5, 0.5)
    val results =
      (probs1.zipWithIndex.map { case (p, i) => (1L, 1L, i + 1, 20L, 30L, "C", p) } ++
        probs2.zipWithIndex.map { case (p, i) => (1L, 2L, i + 1, 21L, 31L, "IN", p) })
        .toSeq.toDF("game_id", "play_id", "frame_id", "receiver_id", "defender_id",
          "pass_result", "non_completion_probability")
    val scores = Scoring.computeScores(spark, results).collect()
      .map(r => r.getLong(1) -> r).toMap
    val s1 = scores(1L)
    assert(s1.getAs[Long]("defender_id") == 30L)
    assert(math.abs(s1.getAs[Double]("deception_score") - Pelt.changePointAndScore(probs1)._2) < 1e-12)
    assert(math.abs(s1.getAs[Double]("deception_score") - 0.6) < 1e-12)
    // play1 C → recovery = -p_last = -0.8
    assert(math.abs(s1.getAs[Double]("recovery_score") - (-0.8)) < 1e-12)
    // play2 IN → 1.2*(1-0.5) = 0.6
    assert(math.abs(scores(2L).getAs[Double]("recovery_score") - 0.6) < 1e-12)
  }

  /** Two plays' frames in REVERSED frame order over 3 input partitions;
    * receiver and defender ids change per frame, so only the last frame
    * carries the expected ids. */
  private val reversedProbs = Map(
    1L -> Array(0.1, 0.15, 0.1, 0.12, 0.1, 0.7, 0.75, 0.8, 0.7, 0.72, 0.74, 0.9),
    2L -> Array(0.6, 0.4, 0.5, 0.3, 0.35, 0.2, 0.25))
  private def reversedResults: DataFrame = {
    val rows = reversedProbs.toSeq.sortBy(_._1).flatMap { case (playId, ps) =>
      ps.indices.map(i => (7L, playId, i + 1, 100L + i, 200L + i,
        if (playId == 1L) "I" else "C", ps(i)))
    }.reverse
    spark.sparkContext.parallelize(rows, 3).toDF("game_id", "play_id", "frame_id",
      "receiver_id", "defender_id", "pass_result", "non_completion_probability")
  }

  test("scores: frames arriving out of order over 3 partitions score the frame-sorted series") {
    val scores = Scoring.computeScores(spark, reversedResults).collect()
      .map(r => r.getAs[Long]("play_id") -> r).toMap
    assert(scores.keySet == Set(1L, 2L))
    for ((playId, ps) <- reversedProbs) {
      val r = scores(playId)
      val n = ps.length
      assert(r.getAs[Long]("game_id") == 7L)
      assert(r.getAs[Double]("deception_score") == Pelt.changePointAndScore(ps)._2, s"play $playId")
      // ids and the recovery score come from the last frame (frame n)
      assert(r.getAs[Long]("receiver_id") == 100L + n - 1, s"play $playId")
      assert(r.getAs[Long]("defender_id") == 200L + n - 1, s"play $playId")
    }
    // play 1 I → 1 − p_last; play 2 C → −p_last
    assert(math.abs(scores(1L).getAs[Double]("recovery_score") - (1.0 - 0.9)) < 1e-12)
    assert(math.abs(scores(2L).getAs[Double]("recovery_score") - (-0.25)) < 1e-12)
  }

  test("scores: one aggregate on the play key plans exactly one shuffle exchange") {
    // the typed mapGroups + last-frame window + join form planned 3
    val scores = Scoring.computeScores(spark, reversedResults)
    scores.collect()
    val nodes = graft.PlanCensus.finalPlanNodes(scores.queryExecution.executedPlan)
    val shuffles = nodes.count(
      _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])
    assert(shuffles == 1, s"shuffle exchanges:\n${scores.queryExecution.executedPlan}")
  }

  // ----- presentation-layer data prep (teams dim, animation) ----------

  test("teams dim: 32 rows, unique abbrs, known lookups") {
    assert(Teams.All.size == 32)
    assert(Teams.All.map(_.abbr).distinct.size == 32)
    assert(Teams.byAbbr("KC").exists(t => t.name == "Chiefs" && t.primary == "#E31837"))
    assert(Teams.byAbbr("GB").exists(_.city == "Green Bay"))
    val dim = Teams.dim(spark)
    assert(dim.count() == 32)
    assert(dim.columns.toSeq == Seq("team_id", "abbr", "city", "team_name",
      "primary_color", "secondary_color"))
  }

  test("frameOffsetUnion stitches after-frames past max(before), play.py:130-133 semantics") {
    val before = Seq((1L, 1L, 0.1), (1L, 2L, 0.2), (1L, 7L, 0.3))
      .toDF("play_id", "frame_id", "v")
    val after = Seq((1L, 1L, 0.4), (1L, 2L, 0.5))
      .toDF("play_id", "frame_id", "v")
    val got = Animation.frameOffsetUnion(before, after, "frame_id")
      .orderBy("frame_id").collect().map(r => (r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 0.1), (2L, 0.2), (7L, 0.3), (8L, 0.4), (9L, 0.5)))
    // empty before: offset degenerates to 0, no null frames
    val emptyBefore = before.filter(col("frame_id") < 0)
    val still = Animation.frameOffsetUnion(emptyBefore, after, "frame_id")
      .orderBy("frame_id").collect().map(_.getLong(1)).toSeq
    assert(still == Seq(1L, 2L))
  }

  test("line of scrimmage + first down flip under left play direction (play.py:194-203)") {
    val df = Seq(("left", 80.0, 7.0), ("right", 80.0, 7.0))
      .toDF("play_direction", "absolute_yardline_number", "yards_to_go")
    val got = df.select(col("play_direction"),
      Exprs.lineOfScrimmage(col("play_direction"), col("absolute_yardline_number")).as("los"),
      Exprs.firstDownLine(col("play_direction"), col("absolute_yardline_number"),
        col("yards_to_go")).as("fd"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    assert(got("left") == ((120.0 - 80.0 - 10.0, 30.0 + 7.0)))
    assert(got("right") == ((70.0, 77.0)))
  }
}
