package graft.ml

import org.apache.spark.ml.{Pipeline, PipelineModel}
import org.apache.spark.ml.classification.GBTClassifier
import org.apache.spark.ml.evaluation.BinaryClassificationEvaluator
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.ops.Exprs

/** K4–K6: the non-completion-probability classifier (reference
  * `src/training/` + `src/inference.py`), on Spark ML.
  *
  * The reference trains XGBoost (`XGBClassifier`, model.py:13-58) over a
  * 64-combo cartesian grid (settings.py:110-123, train.py:136-144); on a
  * no-extra-deps Spark build the gradient-boosted-tree surface is
  * `GBTClassifier` (same features in → probability out contract;
  * model-quality parity asserted as ranges, not exact values — the
  * reference itself selects models manually, README.md:97-114). Grid
  * fits are independent — on a cluster they parallelize via
  * `CrossValidator.setParallelism`; here the explicit loop keeps the
  * selection criterion identical to the reference's (min test logloss).
  */
object NonCompletionModel {

  /** Feature columns after the reference's permutation-importance
    * exclusions (train.py:26-39): ids, target, separation_sq, air_yards,
    * closing_per_yard, def_back_to_rec are dropped. */
  val FeatureCols: Seq[String] = Seq(
    "separation", "qb_to_rec_dist", "pressure_dist",
    "rec_speed", "def_speed", "qb_speed",
    "closing_speed", "def_orientation_error",
    "rec_boundary_dist", "rec_running_away", "sep_per_air_yard")

  case class GridPoint(maxIter: Int, stepSize: Double, maxDepth: Int,
                       subsample: Double, featureSubset: Double, minInfoGain: Double)

  /** Reduced analogue of the reference grid (settings.py:110-120) — the
    * axes map: n_estimators→maxIter, learning_rate→stepSize,
    * max_depth→maxDepth, subsample→subsamplingRate,
    * colsample_bytree→featureSubsetStrategy, reg_lambda→minInfoGain. */
  def defaultGrid: Seq[GridPoint] = for {
    iters <- Seq(50, 100)
    lr <- Seq(0.05, 0.1)
    depth <- Seq(4, 5)
  } yield GridPoint(iters, lr, depth, 0.8, 1.0, 0.0)

  def assembler: VectorAssembler = new VectorAssembler()
    .setInputCols(FeatureCols.toArray).setOutputCol("features")

  def pipeline(p: GridPoint): Pipeline = {
    val gbt = new GBTClassifier()
      .setLabelCol("target").setFeaturesCol("features")
      .setMaxIter(p.maxIter).setStepSize(p.stepSize).setMaxDepth(p.maxDepth)
      .setSubsamplingRate(p.subsample).setMinInfoGain(p.minInfoGain)
      .setSeed(42)
    new Pipeline().setStages(Array(assembler, gbt))
  }

  /** S5 (train.py:176, inference.py:47): persist the fitted pipeline so
    * train-now/score-later works across processes — the reference saves
    * via MLflow's sklearn flavor and reloads it for inference; here it
    * is the Spark ML writer (assembler + GBT stages, one directory). */
  def save(model: PipelineModel, path: String): Unit =
    model.write.overwrite().save(path)

  def load(path: String): PipelineModel = PipelineModel.load(path)

  /** K5 (inference.py:34-51): probability of the positive class. */
  def score(model: PipelineModel, df: DataFrame): DataFrame =
    model.transform(df)
      .withColumn("non_completion_probability",
        vector_to_array(col("probability"))(1))
      .drop("features", "rawPrediction", "probability", "prediction")

  case class Metrics(auc: Double, logloss: Double, brier: Double)

  /** K6 (evaluate.py:44-48): AUC via the ML evaluator; log-loss and
    * Brier as aggregate expressions over the scored frame. */
  def evaluate(scored: DataFrame): Metrics = {
    val auc = new BinaryClassificationEvaluator()
      .setLabelCol("target").setRawPredictionCol("non_completion_probability")
      .setMetricName("areaUnderROC")
      .evaluate(scored.withColumn("non_completion_probability",
        col("non_completion_probability").cast("double")))
    val y = col("target").cast("double")
    val row = scored.agg(
      clampedLogloss.as("logloss"),
      avg(pow(col("non_completion_probability") - y, 2)).as("brier")).head()
    Metrics(auc, row.getDouble(0), row.getDouble(1))
  }

  /** ONE definition of the clamped cross-entropy (eps = 1e-15, the
    * sklearn clamp) — shared by [[evaluate]]'s reported metric and
    * [[loglossOf]]'s grid-search/permutation selection metric, so a
    * future change to the clamp or eps cannot make the selector and
    * the report silently disagree. */
  private def clampedLogloss: Column = {
    val eps = 1e-15
    val p = greatest(least(col("non_completion_probability"), lit(1 - eps)), lit(eps))
    val y = col("target").cast("double")
    avg(-(y * log(p) + (lit(1.0) - y) * log(lit(1.0) - p)))
  }

  private def loglossOf(scored: DataFrame): Double =
    scored.agg(clampedLogloss).head().getDouble(0)

  /** K7 (train.py:61-97): permutation feature importance — per feature,
    * destroy its signal by globally permuting the column (seeded
    * `rand` sort, contiguous index re-join) and report the mean
    * log-loss increase over `nRepeats` re-scorings. The permutation is
    * fully distributed: both sides get a `zipWithIndex` row id (two
    * linear passes, no driver collect) and re-join on it — the same
    * join-on-synthetic-key shape works at any scale, though like the
    * reference's sklearn `permutation_importance` this is a reporting
    * tool (nFeatures × nRepeats scoring jobs), not a hot path. */
  def permutationImportance(model: PipelineModel, df: DataFrame,
                            features: Seq[String] = FeatureCols,
                            seed: Long = 42L, nRepeats: Int = 3): Seq[(String, Double)] = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.LongType
    val spark = df.sparkSession
    def withIdx(d: DataFrame): DataFrame = spark.createDataFrame(
      d.rdd.zipWithIndex().map { case (r, i) => Row.fromSeq(r.toSeq :+ i) },
      d.schema.add("__idx", LongType))
    // cache: consumed sequentially ~2×nRepeats×nFeatures times from the
    // driver loop (no concurrent-consumer race, unlike the dedup paths)
    val indexed = withIdx(df).cache()
    val base = loglossOf(score(model, indexed))
    val out = features.zipWithIndex.map { case (f, fi) =>
      val deltas = (0 until nRepeats).map { rep =>
        val perm = withIdx(
          indexed.select(col(f).as("__pv")).orderBy(rand(seed + fi * 1000L + rep)))
        val swapped = indexed.drop(f).join(perm, "__idx")
          .withColumnRenamed("__pv", f)
        loglossOf(score(model, swapped)) - base
      }
      f -> deltas.sum / nRepeats
    }
    indexed.unpersist()
    out.sortBy(-_._2)
  }

  /** K4 grid search: fit each point on train, pick min logloss on test —
    * the reference's selection criterion (README.md:97-114). */
  def gridSearch(train: DataFrame, test: DataFrame,
                 grid: Seq[GridPoint] = defaultGrid): (PipelineModel, GridPoint, Metrics) = {
    val results = grid.map { p =>
      val model = pipeline(p).fit(train)
      val m = evaluate(score(model, test))
      (model, p, m)
    }
    results.minBy(_._3.logloss)
  }
}
