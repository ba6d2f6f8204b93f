package graft

import org.apache.spark.sql.functions._
import graft.domain.{Cleaning, Datasets, Scoring, SyntheticSeason}
import graft.ml.NonCompletionModel
import graft.ops.Exec

/** End-to-end domain run mirroring the reference's three entry points
  * (README.md:43-144): clean → featurize/split → train GBT grid → score
  * per-frame probabilities → deception + recovery. Runs on the
  * deterministic synthetic season (`runMain graft.DomainDemo [nPlays]`)
  * and prints one JSON summary line. */
object DomainDemo {
  def main(args: Array[String]): Unit = {
    val nPlays = if (args.nonEmpty) args(0).toInt else 120
    val spark = Harness.session("graft-domain-demo", Harness.cpus(8))

    val specs = SyntheticSeason.playSpecs(nPlays)
    val before = SyntheticSeason.trackingBefore(spark, specs)
    val after = SyntheticSeason.trackingAfter(spark, specs)
    val raw = SyntheticSeason.rawPlays(spark, specs)

    // entry point 1 — cleaning
    val players = Cleaning.playersDataset(before)
    val plays0 = Cleaning.processPlays(raw, before)
    val (cleanBefore, _) =
      Cleaning.cleanTracking(before, after, players, raw, plays0)
    val plays = Cleaning.filterPlaysWithTracking(plays0, cleanBefore)
    val keptPlays = plays.count()

    // entry point 2 — datasets + training
    val feats = Datasets.trainingFeatures(cleanBefore, plays)
    val (train, test) = Datasets.trainTestSplit(feats, raw)
    val (trainN, testN) = (train.count(), test.count())
    val grid = Seq(
      NonCompletionModel.GridPoint(20, 0.1, 3, 0.8, 1.0, 0.0),
      NonCompletionModel.GridPoint(40, 0.1, 4, 0.8, 1.0, 0.0))
    val (model, best, metrics) = NonCompletionModel.gridSearch(train, test, grid)
    Exec.release(train) // the split's one layer: releases test too

    // S5: persist the grid winner and reload it for inference — the
    // train-now/score-later split of the reference (inference.py:47);
    // plus the plain metrics sink (SURVEY §7.6, replaces MLflow logging)
    val modelDir = java.nio.file.Files.createTempDirectory("graft_demo_model").toString
    NonCompletionModel.save(model, s"$modelDir/best")
    val reloaded = NonCompletionModel.load(s"$modelDir/best")
    Ioops.writeMetricsJson(s"$modelDir/metrics.json", Map(
      "auc" -> metrics.auc, "logloss" -> metrics.logloss, "brier" -> metrics.brier))

    // entry point 3 — per-frame inference + scores (reloaded model)
    val inferenceFeats = Datasets.inferenceFeatures(cleanBefore, plays)
    val scoredFrames = NonCompletionModel.score(reloaded,
        inferenceFeats.withColumnRenamed("target", "pass_result"))
      .select(col("game_id"), col("play_id"), col("frame_id"),
        col("receiver_id"), col("defender_id"), col("pass_result"),
        col("non_completion_probability"))
    val scores = Scoring.computeScores(spark, scoredFrames)
    val nScores = scores.count()
    val sample = scores.orderBy(col("game_id"), col("play_id")).limit(3).collect()
      .map(r => s"""{"play":${r.getLong(1)},"deception":${Ioops.jsonNum(r.getDouble(4), 4)},"recovery":${Ioops.jsonNum(r.getDouble(5), 4)}}""")
      .mkString("[", ",", "]")
    // the sample above is the last consumer of the cleaned frames, the
    // players dim and the plays; the after frame's layer is one of the
    // before frame's, so the first release covers both
    Seq(cleanBefore, players, plays0).foreach(Exec.release)

    println(
      s"""{"plays_kept":$keptPlays,"train_rows":$trainN,"test_rows":$testN,""" +
        s""""best_maxIter":${best.maxIter},"auc":${metrics.auc},""" +
        s""""logloss":${metrics.logloss},"brier":${metrics.brier},""" +
        s""""scored_plays":$nScores,"sample_scores":$sample}""")
    spark.stop()
  }
}
