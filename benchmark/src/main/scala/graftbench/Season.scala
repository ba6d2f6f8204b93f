package graftbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.Ioops
import graft.domain.{Cleaning, Datasets, Schemas, Scoring, SyntheticSeason}
import graft.ml.NonCompletionModel

/** The paper's pipeline as six timed stages over a synthetic season.
  *
  * Set-up generates the season into CSV directories shaped like the
  * competition's input files. Each stage reads the previous stage's
  * files and writes its own, so every stage pays its own read and write,
  * as the reference pipeline does. Clean writes the cleaned pre-throw
  * tracking and the plays with tracking; the cleaned post-throw tracking
  * is not written, since no later stage reads it. */
object Season {
  /** The first point of `graft.DomainDemo`'s two-point grid. One point
    * keeps a run inside the benchmark's time budget; GBT training is
    * driver-bound (many small jobs) at either size. */
  val Grid: Seq[NonCompletionModel.GridPoint] = Seq(
    NonCompletionModel.GridPoint(20, 0.1, 3, 0.8, 1.0, 0.0))

  private val beforeSchema = StructType(
    Schemas.rawTrackingBefore.fields :+ StructField("week", IntegerType))

  private val scoredSchema = StructType(Seq(
    StructField("game_id", LongType), StructField("play_id", LongType),
    StructField("frame_id", IntegerType), StructField("receiver_id", LongType),
    StructField("defender_id", LongType), StructField("pass_result", StringType),
    StructField("non_completion_probability", DoubleType)))

  /** Writes the raw plays, pre-throw and post-throw tracking tables. */
  def generate(spark: SparkSession, nPlays: Int, seed: Long, dir: String): Unit = {
    val specs = SyntheticSeason.playSpecs(nPlays, seed)
    Ioops.writeCsv(SyntheticSeason.rawPlays(spark, specs), s"$dir/plays")
    Ioops.writeCsv(SyntheticSeason.trackingBefore(spark, specs), s"$dir/tracking_before")
    Ioops.writeCsv(SyntheticSeason.trackingAfter(spark, specs), s"$dir/tracking_after")
  }

  /** Runs the six stages from `in` (raw CSVs) into `out`. Each stage is
    * one op: `op(stage)(body)` times it and records a failure. Returns
    * the model metrics, or None if training did not complete. */
  def run(spark: SparkSession, in: String, out: String,
          op: String => (=> Unit) => Unit): Option[NonCompletionModel.Metrics] = {
    def read(schema: StructType, name: String): DataFrame =
      Ioops.readCsv(spark, schema, s"$out/$name")
    def write(df: DataFrame, name: String): StructType = {
      Ioops.writeCsv(df, s"$out/$name")
      df.schema
    }
    var schemas = Map.empty[String, StructType]
    var model: Option[org.apache.spark.ml.PipelineModel] = None
    var reloaded: Option[org.apache.spark.ml.PipelineModel] = None
    var metrics: Option[NonCompletionModel.Metrics] = None

    op("domain.clean") {
      val raw = Ioops.readCsv(spark, Schemas.rawPlays, s"$in/plays")
      val before = Ioops.readCsv(spark, beforeSchema, s"$in/tracking_before")
      val after = Ioops.readCsv(spark, Schemas.rawTrackingAfter, s"$in/tracking_after")
      val players = Cleaning.playersDataset(before)
      val plays0 = Cleaning.processPlays(raw, before)
      val (cleanBefore, _) =
        Cleaning.cleanTracking(before, after, players, raw, plays0)
      schemas += "clean_before" -> write(cleanBefore, "clean_before")
      // plays with tracking, filtered against the written tracking file
      val plays = Cleaning.filterPlaysWithTracking(plays0,
        read(schemas("clean_before"), "clean_before"))
      schemas += "clean_plays" -> write(plays, "clean_plays")
    }
    op("domain.featurize") {
      val cleanBefore = read(schemas("clean_before"), "clean_before")
      val plays = read(schemas("clean_plays"), "clean_plays")
      val raw = Ioops.readCsv(spark, Schemas.rawPlays, s"$in/plays")
      val (train, test) = Datasets.trainTestSplit(
        Datasets.trainingFeatures(cleanBefore, plays), raw)
      schemas ++= Map("train" -> write(train, "train"), "test" -> write(test, "test"),
        "inference" -> write(Datasets.inferenceFeatures(cleanBefore, plays), "inference"))
    }
    op("ml.train") {
      val (m, _, ms) = NonCompletionModel.gridSearch(
        read(schemas("train"), "train"), read(schemas("test"), "test"), Grid)
      model = Some(m)
      metrics = Some(ms)
    }
    op("ml.persist") {
      NonCompletionModel.save(model.get, s"$out/model")
      reloaded = Some(NonCompletionModel.load(s"$out/model"))
      val m = metrics.get
      Ioops.writeMetricsJson(s"$out/metrics.json",
        Map("auc" -> m.auc, "logloss" -> m.logloss, "brier" -> m.brier))
    }
    op("ml.infer") {
      val feats = read(schemas("inference"), "inference")
      val scored = NonCompletionModel.score(reloaded.get,
          feats.withColumnRenamed("target", "pass_result"))
        .select(scoredSchema.fieldNames.map(col).toIndexedSeq: _*)
      write(scored, "scored_frames")
    }
    op("domain.score") {
      val frames = read(scoredSchema, "scored_frames")
      write(Scoring.computeScores(spark, frames), "scores.csv")
    }
    metrics
  }
}
