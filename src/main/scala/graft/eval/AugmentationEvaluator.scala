package graft.eval

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

/** Augmentation evaluator with BASELINE MEMOIZATION — the reference's
  * sibling of the predictive evaluator caches the baseline leg to JSON
  * so it is computed exactly once across a sweep of synthetic
  * candidates (augmentation_evaluator.py:112-127; SURVEY §4). The
  * augmented leg always runs; only the (synthetic-independent)
  * baseline is cacheable.
  */
object AugmentationEvaluator {

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  final case class Baseline(maeTrain: Double, maeVal: Double, maeTest: Double)

  def loadBaseline(path: String): Option[Baseline] = {
    val p = Paths.get(path)
    if (!Files.exists(p)) None
    else {
      val n = mapper.readTree(Files.readString(p))
      Some(Baseline(n.get("mae_train").asDouble(),
        n.get("mae_val").asDouble(), n.get("mae_test").asDouble()))
    }
  }

  def saveBaseline(b: Baseline, path: String): Unit =
    Files.writeString(Paths.get(path), mapper.writeValueAsString(Map(
      "mae_train" -> b.maeTrain, "mae_val" -> b.maeVal, "mae_test" -> b.maeTest)))

  /** Like PredictiveEvaluator.evaluate but with the baseline leg read
    * from / written to `baselineCache`: on a cache hit the baseline
    * predictor is NOT retrained — only the augmented leg runs (the
    * point of the cache across a candidate sweep). Returns the same
    * one-row key contract. */
  def evaluate(synthetic: DataFrame, realTrain: DataFrame, realVal: DataFrame,
               realTest: DataFrame, orderCols: Seq[String], price: String,
               baselineCache: String, windowSize: Int = 24, horizon: Int = 1,
               seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    import PredictiveEvaluator.{fitPredictor, indexed, mae, windowsXy}
    val spark = synthetic.sparkSession

    val baseline = loadBaseline(baselineCache)
    if (baseline.isEmpty) {
      // cold path: full evaluation, then persist the baseline leg
      val full = PredictiveEvaluator.evaluate(synthetic, realTrain, realVal,
        realTest, orderCols, price, windowSize, horizon, seed, maxIter)
      val r = full.first()
      saveBaseline(Baseline(
        r.getAs[Double]("baseline_mae_train"),
        r.getAs[Double]("baseline_mae_val"),
        r.getAs[Double]("baseline_mae_test")), baselineCache)
      return full
    }
    val b = baseline.get

    // warm path: augmented leg only
    val (nTrain, nSyn, aTrain, aVal, aTest, dist) = graft.core.Scope.cached { keep =>
      val sTrain = keep(indexed(realTrain, orderCols, price))
      val sSyn = keep(indexed(synthetic, orderCols, price))
      val nTrain = sTrain.count(); val nSyn = sSyn.count()
      val augmented = sSyn.unionByName(
        sTrain.withColumn("rn", org.apache.spark.sql.functions.col("rn")
          .plus(org.apache.spark.sql.functions.lit(nSyn))))
      val wVal = windowsXy(indexed(realVal, orderCols, price), windowSize, horizon)
      val wTest = windowsXy(indexed(realTest, orderCols, price), windowSize, horizon)
      val wAug = keep(windowsXy(augmented, windowSize, horizon))
      val aug = fitPredictor(wAug, seed, maxIter)
      (nTrain, nSyn, mae(aug, wAug), mae(aug, wVal), mae(aug, wTest),
        DistributionEvaluator.evaluate(sTrain, sSyn, Seq("rn"), "p"))
    }
    val nVal = realVal.count(); val nTest = realTest.count()
    val dVal = aVal - b.maeVal; val dTest = aTest - b.maeTest

    import spark.implicits._
    val core = Seq((
      b.maeTrain, b.maeVal, b.maeTest, aTrain, aVal, aTest,
      dVal, dTest,
      dVal / (b.maeVal + 1e-12) * 100.0, dTest / (b.maeTest + 1e-12) * 100.0,
      nTrain, nSyn, nSyn + nTrain, nVal, nTest,
      windowSize, horizon, dVal < 0, dTest < 0))
      .toDF("baseline_mae_train", "baseline_mae_val", "baseline_mae_test",
        "augmented_mae_train", "augmented_mae_val", "augmented_mae_test",
        "mae_delta_val", "mae_delta_test",
        "mae_pct_change_val", "mae_pct_change_test",
        "n_real_train", "n_synthetic", "n_augmented_train", "n_val", "n_test",
        "window_size", "horizon",
        "synthetic_helps_val", "synthetic_helps_test")
    val distRenamed = dist.columns.foldLeft(dist)((d, c) =>
      d.withColumnRenamed(c, s"dist_$c"))
    core.crossJoin(distRenamed)
  }
}
