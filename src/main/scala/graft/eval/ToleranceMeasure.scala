package graft.eval

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.BlockBootstrap

/** The reference's tolerance-measurement harness: run the SAME
  * evaluation with N different synthetic-data seeds and measure how
  * much the fitness varies due to the synthetic seed alone — the spread
  * sets the consensus tolerance margin for honest evaluators.
  * Ref: measure_tolerance.py:305-335 — fitness mean/std/min/max/range,
  * max relative deviation from the mean, recommended margin =
  * min(2 × max_relative_dev, 0.50) with a 0.20 fallback for
  * near-zero means.
  *
  * Fitness here is the augmented validation MAE from
  * [[AugmentationEvaluator]] (the engine's predictor leg); the baseline
  * trains ONCE via the shared cache, so the sweep cost is one
  * augmented fit per seed — and the seed dimension is exactly the
  * embarrassingly parallel axis at scale.
  */
object ToleranceMeasure {

  /** Generic leg: measure fitness spread over seeds for any
    * seed-parameterized synthetic generator. */
  def measure(realTrain: DataFrame, realVal: DataFrame, realTest: DataFrame,
              orderCols: Seq[String], price: String,
              genBySeed: Long => DataFrame, seeds: Seq[Long],
              baselineCache: String, windowSize: Int = 24, horizon: Int = 1,
              maxIter: Int = 20): DataFrame = {
    val spark = realTrain.sparkSession
    val fits = seeds.map { s =>
      val m = AugmentationEvaluator.evaluate(genBySeed(s), realTrain, realVal,
        realTest, orderCols, price, baselineCache, windowSize, horizon,
        seed = 42L, maxIter = maxIter).first()
      (s, m.getAs[Double]("augmented_mae_val"),
        m.getAs[Double]("augmented_mae_test"))
    }
    val f = fits.map(_._2)
    val mean = f.sum / f.length
    val std = math.sqrt(f.map(x => (x - mean) * (x - mean)).sum / f.length)
    val (mn, mx) = (f.min, f.max)
    val (maxRelDev, margin) =
      if (math.abs(mean) > 1e-10) {
        val d = f.map(x => math.abs(x - mean) / math.abs(mean)).max
        (d, math.min(d * 2.0, 0.50))
      } else (mx - mn, 0.20)
    import spark.implicits._
    Seq((f.length.toLong, mean, std, mn, mx, mx - mn, maxRelDev, margin))
      .toDF("n_seeds", "fitness_mean", "fitness_std", "fitness_min",
        "fitness_max", "fitness_range", "max_relative_dev",
        "recommended_tolerance_margin")
  }

  /** v2 harness (measure_tolerance_v2.py:150-290): train the predictor
    * ONCE on real data, then evaluate the FIXED model across N
    * seed-varied synthetic TEST sets — same weights + different
    * synthetic data ⇒ the variance measures the synthetic-seed noise an
    * honest evaluator must tolerate. Output keys mirror the v2 summary:
    * real_val_mae baseline, syn mean/std/min/max, max relative
    * deviation, real-vs-syn gap, margin = min(2·max_dev, 0.50). */
  def measureV2(realTrain: DataFrame, realVal: DataFrame,
                orderCols: Seq[String], price: String,
                genBySeed: Long => DataFrame, seeds: Seq[Long],
                windowSize: Int = 24, horizon: Int = 1,
                seed: Long = 42L, maxIter: Int = 20): DataFrame = {
    val spark = realTrain.sparkSession
    val wVal = PredictiveEvaluator.windowsXy(
      PredictiveEvaluator.indexed(realVal, orderCols, price),
      windowSize, horizon)
    val model = graft.core.Scope.cached { keep =>
      PredictiveEvaluator.fitPredictor(keep(PredictiveEvaluator.windowsXy(
        PredictiveEvaluator.indexed(realTrain, orderCols, price),
        windowSize, horizon)), seed, maxIter)
    }
    val realMae = PredictiveEvaluator.mae(model, wVal)
    val synMaes = seeds.map { sd =>
      val wSyn = PredictiveEvaluator.windowsXy(
        PredictiveEvaluator.indexed(genBySeed(sd), orderCols, price),
        windowSize, horizon)
      PredictiveEvaluator.mae(model, wSyn)
    }
    val mean = synMaes.sum / synMaes.length
    val std = math.sqrt(synMaes.map(x => (x - mean) * (x - mean)).sum / synMaes.length)
    val maxDev =
      if (mean > 0) synMaes.map(x => math.abs(x - mean) / mean).max else 0.0
    val gap = if (realMae > 0) math.abs(realMae - mean) / realMae else 0.0
    import spark.implicits._
    Seq((seeds.length.toLong, realMae, mean, std, synMaes.min, synMaes.max,
      maxDev, gap, math.min(maxDev * 2.0, 0.50)))
      .toDF("n_seeds", "real_val_mae", "syn_mae_mean", "syn_mae_std",
        "syn_mae_min", "syn_mae_max", "max_relative_dev", "real_vs_syn_gap",
        "recommended_tolerance_margin")
  }

  /** v2 concrete leg: block-bootstrap synthetic TEST sets (v2's
    * generate_synthetic_test builds windows from a block-bootstrap walk
    * of the real series). */
  def blockBootstrapToleranceV2(realTrain: DataFrame, realVal: DataFrame,
                                orderCols: Seq[String], price: String,
                                nSeeds: Int = 8, seedStart: Long = 100L,
                                nSamples: Int = 500, blockSize: Int = 30,
                                windowSize: Int = 24, horizon: Int = 1,
                                maxIter: Int = 20): DataFrame = {
    def gen(seed: Long): DataFrame = {
      val s = BlockBootstrap.generate(realTrain, orderCols, price, blockSize,
          nSamples, seed)
        .withColumnRenamed("typical_price", price)
      orderCols.foldLeft(s)((d, c) => d.withColumn(c, col("rn"))).drop("rn")
    }
    measureV2(realTrain, realVal, orderCols, price, gen,
      (seedStart until seedStart + nSeeds).toSeq, windowSize, horizon,
      maxIter = maxIter)
  }

  /** The reference's concrete leg: block-bootstrap synthetic data. */
  def blockBootstrapTolerance(spark: SparkSession, realTrain: DataFrame,
                              realVal: DataFrame, realTest: DataFrame,
                              orderCols: Seq[String], price: String,
                              baselineCache: String, nSeeds: Int = 10,
                              nSamples: Int = 500, blockSize: Int = 30,
                              windowSize: Int = 24, horizon: Int = 1,
                              maxIter: Int = 20): DataFrame = {
    def gen(seed: Long): DataFrame = {
      val s = BlockBootstrap.generate(realTrain, orderCols, price, blockSize,
          nSamples, seed)
        .withColumnRenamed("typical_price", price)
      orderCols.foldLeft(s)((d, c) => d.withColumn(c, col("rn"))).drop("rn")
    }
    measure(realTrain, realVal, realTest, orderCols, price, gen,
      (1 to nSeeds).map(_.toLong), baselineCache, windowSize, horizon, maxIter)
  }
}
