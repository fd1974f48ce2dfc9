package graft.eval

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.regression.{GBTRegressionModel, GBTRegressor}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}

/** THE reference metric (SURVEY §3.3): does augmenting a predictor's
  * training set with synthetic data reduce MAE on real val/test?
  * Ref: sdg_plugins/evaluator/predictive_evaluator.py:169-287.
  *
  * Faithful semantics:
  *  - windows: X = strictly-past window of `windowSize` prices, y =
  *    price at +horizon after the window end (ref :54-72 — identical to
  *    SeriesOps.supervisedWindows), raw prices, no normalization;
  *  - augmentation: synthetic PREPENDED to real train at the series
  *    level, windows built ACROSS the seam (ref :223-229, SURVEY U2);
  *  - deltas: augmented − baseline; pct vs baseline + 1e-12; verdict
  *    booleans delta < 0; n_* bookkeeping; dist_* secondary metrics
  *    merged from DistributionEvaluator (ref :267-275).
  *
  * Documented deviation (SURVEY §7.3): the predictor is an MLlib
  * GBTRegressor on the flattened window (the reference's 32-unit LSTM
  * has no Spark-native training story) — both legs use the identical
  * model + seed, so the baseline-vs-augmented deltas stay meaningful.
  *
  * Scale: windowing is one window-function pass per leg; training is
  * MLlib's distributed gradient boosting; evaluation is one agg per
  * split. Nothing data-sized touches the driver.
  */
object PredictiveEvaluator {

  /** Rows above which the distributed index/window builders engage. */
  private[eval] val BigSeriesRows = SeriesOps.BigSeriesRows

  /** Dense 1-based long index in orderCols order — shared builder
    * ([[SeriesOps.indexedSeries]]): row_number for bounded series, a
    * distributed range-sort + zipWithIndex (long counter) above
    * [[BigSeriesRows]]. */
  private[eval] def indexed(df: DataFrame, orderCols: Seq[String], price: String,
                            big: Boolean = false): DataFrame =
    SeriesOps.indexedSeries(df, orderCols, price, big)

  /** Supervised windows on an indexed (rn, p) series → (features, label).
    * Big series use the chunked halo-replicated build (windows form
    * within fixed-size chunk partitions — parallel at any length);
    * bounded series take the direct single-pass build. */
  private[eval] def windowsXy(series: DataFrame, windowSize: Int, horizon: Int,
                              big: Boolean = false): DataFrame = {
    val xy =
      if (big)
        SeriesOps.chunkedSupervisedWindows(series, "rn", "p", windowSize,
          horizon, chunkSize = 4096, "x", "y")
      else
        SeriesOps.supervisedWindows(series, SeriesSpec(Nil, Seq("rn")), "p",
          windowSize, horizon, "x", "y")
    xy.select(array_to_vector(col("x")).as("features"), col("y").as("label"))
  }

  private[eval] def fitPredictor(train: DataFrame, seed: Long,
                           maxIter: Int): GBTRegressionModel =
    new GBTRegressor()
      .setMaxIter(maxIter).setMaxDepth(5).setStepSize(0.1)
      .setSeed(seed)
      .fit(train)

  private[eval] def mae(model: GBTRegressionModel, df: DataFrame): Double =
    model.transform(df)
      .agg(avg(abs(col("prediction") - col("label"))))
      .first().getDouble(0)

  def evaluate(synthetic: DataFrame, realTrain: DataFrame, realVal: DataFrame,
               realTest: DataFrame, orderCols: Seq[String], price: String,
               windowSize: Int = 24, horizon: Int = 1,
               seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    val spark = synthetic.sparkSession

    // leg sizes first: they gate the distributed-vs-direct index/window
    // builders AND feed the output bookkeeping — four independent
    // count jobs, submitted concurrently (guide §2.6)
    val (nTrain, nSyn, nVal, nTest) = graft.core.Par.par4(
      realTrain.count(), synthetic.count(), realVal.count(), realTest.count())
    def isBig(n: Long) = n > BigSeriesRows

    val (baseMaes, augMaes, dist) = graft.core.Scope.cached { keep =>
      val sTrain = keep(indexed(realTrain, orderCols, price, isBig(nTrain)))
      val sVal = indexed(realVal, orderCols, price, isBig(nVal))
      val sTest = indexed(realTest, orderCols, price, isBig(nTest))
      val sSyn = keep(indexed(synthetic, orderCols, price, isBig(nSyn)))

      // synthetic ⧺ real: re-index real rows after the synthetic block so
      // windows straddle the seam exactly like np.concatenate (U2)
      val augmented = keep(sSyn
        .unionByName(sTrain.withColumn("rn", col("rn") + lit(nSyn))))

      val wTrain = keep(windowsXy(sTrain, windowSize, horizon, isBig(nTrain)))
      val wVal = keep(windowsXy(sVal, windowSize, horizon, isBig(nVal)))
      val wTest = keep(windowsXy(sTest, windowSize, horizon, isBig(nTest)))
      val wAug = keep(windowsXy(augmented, windowSize, horizon, isBig(nSyn + nTrain)))

      // the BASELINE chain (fit + 3 MAEs), the AUGMENTED chain (fit + 3
      // MAEs) and the secondary distribution record are mutually
      // independent — three concurrent driver chains (guide §2.6); inside
      // each chain the three MAE aggregations after the fit are
      // independent too. Both GBT fits keep the identical data, params
      // and seed, so every leg computes exactly what it did sequentially.
      graft.core.Par.par3(
        {
          val base = fitPredictor(wTrain, seed, maxIter)
          graft.core.Par.par3(mae(base, wTrain), mae(base, wVal), mae(base, wTest))
        },
        {
          val aug = fitPredictor(wAug, seed, maxIter)
          graft.core.Par.par3(mae(aug, wAug), mae(aug, wVal), mae(aug, wTest))
        },
        // secondary distribution metrics: dist_* of synthetic vs real train
        DistributionEvaluator.evaluate(sTrain, sSyn, Seq("rn"), "p"))
    }
    val (bTrain, bVal, bTest) = baseMaes
    val (aTrain, aVal, aTest) = augMaes

    val dVal = aVal - bVal
    val dTest = aTest - bTest

    import spark.implicits._
    val core = Seq((
      bTrain, bVal, bTest, aTrain, aVal, aTest,
      dVal, dTest,
      dVal / (bVal + 1e-12) * 100.0, dTest / (bTest + 1e-12) * 100.0,
      nTrain, nSyn, nSyn + nTrain, nVal, nTest,
      windowSize, horizon,
      dVal < 0, dTest < 0))
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
