package graft.ml

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import graft.SparkTestSession

/** K4–K6 spec: the pipeline surface (features in → probability out →
  * metrics) on a deterministic separable synthetic set. Model-quality
  * parity with the reference is asserted as ranges (SURVEY.md §7.5
  * risk 4), mirroring the reference's own manual model selection. */
class NonCompletionModelSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  import spark.implicits._

  /** Separable synthetic features: tight coverage (low separation, high
    * closing speed) → non-completion. */
  private lazy val data = {
    val rng = new scala.util.Random(42)
    val rows = (1 to 400).map { i =>
      val nonComp = i % 2
      val sep = if (nonComp == 1) 1.0 + rng.nextDouble() else 5.0 + 3 * rng.nextDouble()
      val closing = if (nonComp == 1) 4.0 + rng.nextDouble() else rng.nextDouble()
      (1L, i.toLong, 20L, 30L, sep, 10.0 + rng.nextDouble(), 8.0, 5.0, 4.0, 1.0,
        closing, 30.0 + rng.nextDouble() * 10, 10.0, if (sep < 4) 1 else 0,
        sep / 10.0, nonComp)
    }
    rows.toDF("game_id", "play_id", "receiver_id", "defender_id",
      "separation", "qb_to_rec_dist", "pressure_dist", "rec_speed", "def_speed",
      "qb_speed", "closing_speed", "def_orientation_error", "rec_boundary_dist",
      "rec_running_away", "sep_per_air_yard", "target")
  }

  // NOTE: not named `train`/`test` — `test` would shadow ScalaTest's
  // registration method and test("...") would resolve as Dataset.apply.
  private lazy val trainDf = data.filter(col("play_id") <= 300)
  private lazy val testDf = data.filter(col("play_id") > 300)

  private lazy val fitted = {
    val tiny = Seq(NonCompletionModel.GridPoint(10, 0.1, 3, 1.0, 1.0, 0.0),
      NonCompletionModel.GridPoint(20, 0.1, 3, 1.0, 1.0, 0.0))
    NonCompletionModel.gridSearch(trainDf, testDf, tiny)
  }

  test("grid search picks a model with strong metrics on separable data") {
    val (_, point, metrics) = fitted
    assert(point.maxIter == 20 || point.maxIter == 10)
    assert(metrics.auc > 0.95, s"auc=${metrics.auc}")
    assert(metrics.logloss < 0.5, s"logloss=${metrics.logloss}")
    assert(metrics.brier < 0.15, s"brier=${metrics.brier}")
  }

  test("scoring emits probabilities in [0,1] per row") {
    val (model, _, _) = fitted
    val scored = NonCompletionModel.score(model, testDf)
    assert(scored.count() == 100)
    val bounds = scored.agg(min("non_completion_probability"),
      max("non_completion_probability")).head()
    assert(bounds.getDouble(0) >= 0.0 && bounds.getDouble(1) <= 1.0)
  }

  test("S5: save/load round-trip reproduces probabilities exactly") {
    val (model, _, _) = fitted
    val dir = java.nio.file.Files.createTempDirectory("graft_model").toString + "/gbt"
    NonCompletionModel.save(model, dir)
    val reloaded = NonCompletionModel.load(dir)
    def probs(m: org.apache.spark.ml.PipelineModel) =
      NonCompletionModel.score(m, testDf)
        .select("play_id", "non_completion_probability")
        .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(probs(model) == probs(reloaded)) // bit-identical, not approximate
  }

  test("K7: permutation importance ranks signal features above constants") {
    val (model, _, _) = fitted
    val imp = NonCompletionModel.permutationImportance(model, testDf,
      features = Seq("separation", "closing_speed", "qb_speed"), nRepeats = 2).toMap
    // qb_speed is constant in the synthetic set: permuting it is the
    // identity, so its importance is 0 up to summation-order ulps —
    // the known-noise floor
    assert(math.abs(imp("qb_speed")) < 1e-12, s"qb_speed delta=${imp("qb_speed")}")
    assert(imp("separation") > 0.1, s"separation delta=${imp("separation")}")
    assert(imp("separation") > imp("qb_speed"))
  }
}
