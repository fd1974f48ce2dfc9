package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}
import graft.stats.{Divergence, SeriesStats, Spectral}

/** The retired single-series evaluator legs, kept as the oracle that
  * EvalSpec holds `DistributionEvaluator.evaluate` and
  * `CompositeMetric.score` to: every metric computed on one unkeyed
  * labeled returns frame with the single-series [[Divergence.histJsd]] /
  * [[Divergence.ecdfStats]] and scalar driver-side arithmetic. */
object EvalOracle {

  private def labeledReturns(real: DataFrame, synth: DataFrame,
                             orderCols: Seq[String], price: String): DataFrame = {
    def labeled(df: DataFrame, lab: String): DataFrame =
      df.select((lit(lab).as("lab") +: col(price).cast("double").as("_p")
        +: orderCols.map(col)): _*)
    SeriesOps.logReturns(
        labeled(real, "real").unionByName(labeled(synth, "synth")),
        SeriesSpec(Seq("lab"), orderCols), "_p", "ret")
      .filter(col("ret").isNotNull)
      .select((col("lab") +: col("ret") +: orderCols.map(col)): _*)
      .persist()
  }

  private def prefix(u: DataFrame, lab: String, orderCols: Seq[String]): Array[Double] =
    u.filter(col("lab") === lab).orderBy(orderCols.map(col): _*)
      .limit(SeriesStats.MaxCollectRows)
      .select("ret").collect().map(_.getDouble(0))

  /** The distribution record as one local Row. */
  def evaluate(real: DataFrame, synth: DataFrame, orderCols: Seq[String],
               price: String, withAdf: Boolean = true): org.apache.spark.sql.Row = {
    val u = labeledReturns(real, synth, orderCols, price)
    try {
      val kl = Divergence.histJsd(u, "ret", col("lab"), "real", "synth", 100)
        .select(col("kl_divergence"))
      val wass = Divergence.ecdfStats(u, "ret", col("lab"), "real", "synth")
        .select(col("wasserstein").as("wasserstein_distance"))
      val w = Window.partitionBy(col("lab")).orderBy(orderCols.map(col): _*)
      val lagged = u
        .withColumn("l1", lag(col("ret"), 1).over(w))
        .withColumn("l5", lag(col("ret"), 5).over(w))
        .withColumn("l10", lag(col("ret"), 10).over(w))
        .groupBy(col("lab")).agg(
          avg(col("ret")).as("mean"),
          stddev_pop(col("ret")).as("std"),
          coalesce(corr(col("ret"), col("l1")), lit(0.0)).as("ac1"),
          coalesce(corr(col("ret"), col("l5")), lit(0.0)).as("ac5"),
          coalesce(corr(col("ret"), col("l10")), lit(0.0)).as("ac10"))
      def side(lab: String, c: String) = max(when(col("lab") === lab, col(c)))
      val sides = lagged.groupBy().agg(
        side("real", "mean").as("real_return_mean"),
        side("synth", "mean").as("synthetic_return_mean"),
        side("real", "std").as("real_return_std"),
        side("synth", "std").as("synthetic_return_std"),
        side("real", "ac1").as("real_autocorr_lag1"),
        side("synth", "ac1").as("synthetic_autocorr_lag1"),
        side("real", "ac5").as("real_autocorr_lag5"),
        side("synth", "ac5").as("synthetic_autocorr_lag5"),
        side("real", "ac10").as("real_autocorr_lag10"),
        side("synth", "ac10").as("synthetic_autocorr_lag10"))
      def adfOf(lab: String): Double =
        if (!withAdf) -1.0
        else {
          val s = prefix(u, lab, orderCols)
          if (s.length <= 31) -1.0
          else scala.util.Try(graft.stats.Adf.test(s).pValue).getOrElse(-1.0)
        }
      kl.crossJoin(wass).crossJoin(sides)
        .withColumn("real_adf_pvalue", lit(adfOf("real")))
        .withColumn("synthetic_adf_pvalue", lit(adfOf("synth")))
        .withColumn("quality_score",
          col("kl_divergence") + lit(0.1) * col("wasserstein_distance") +
            abs(col("real_return_std") - col("synthetic_return_std")))
        .collect().head
    } finally u.unpersist()
  }

  /** The composite (score, details). */
  def score(real: DataFrame, synth: DataFrame, orderCols: Seq[String],
            price: String, withExpensive: Boolean = true,
            weights: Map[String, Double] = graft.eval.CompositeMetric.DefaultWeights)
      : (Double, Map[String, Double]) = {
    val spark = real.sparkSession
    val u = labeledReturns(real, synth, orderCols, price)
    try {
      val js = Divergence.histJsd(u, "ret", col("lab"), "real", "synth", 99)
        .first().getAs[Double]("js_divergence")
      val ks = Divergence.ecdfStats(u, "ret", col("lab"), "real", "synth")
        .first().getAs[Double]("ks_stat")
      val w = Window.partitionBy(col("lab")).orderBy(orderCols.map(col): _*)
      val lagged = u.withColumn("l1", lag(col("ret"), 1).over(w))
        .withColumn("l5", lag(col("ret"), 5).over(w))
        .withColumn("l24", lag(col("ret"), 24).over(w))
        .groupBy(col("lab")).agg(
          coalesce(corr(col("ret"), col("l1")), lit(0.0)).as("ac1"),
          coalesce(corr(col("ret"), col("l5")), lit(0.0)).as("ac5"),
          coalesce(corr(col("ret"), col("l24")), lit(0.0)).as("ac24"),
          coalesce(corr(abs(col("ret")), abs(col("l1"))), lit(0.0)).as("vc"),
          stddev_pop(col("ret")).as("std"),
          skewness(col("ret")).as("skew"),
          (kurtosis(col("ret")) + 3.0).as("kurt_raw"))
        .collect().map(r => r.getString(0) -> r).toMap
      val (re, sy) = (lagged("real"), lagged("synth"))
      val (hr, hs, spectral) =
        if (!withExpensive) (0.0, 0.0, 0.0)
        else {
          def hurst(df: DataFrame): Double =
            SeriesStats.hurst(df.select((col(price).cast("double").as("_p") +:
                orderCols.map(col)): _*), SeriesSpec(Nil, orderCols), "_p")
              .first().getAs[Double]("hurst")
          (hurst(real), hurst(synth), Spectral.distance(spark,
            prefix(u, "real", orderCols), prefix(u, "synth", orderCols)))
        }
      def ratioDev(r: Double, s: Double): Double =
        if (math.abs(r) > 1e-6) math.abs(s / r - 1.0) else math.abs(s)
      val kurtR = re.getAs[Double]("kurt_raw")
      val details = Map(
        "js_divergence" -> js,
        "ks_statistic" -> ks,
        "ac_lag1" -> ratioDev(re.getAs[Double]("ac1"), sy.getAs[Double]("ac1")),
        "ac_lag5" -> ratioDev(re.getAs[Double]("ac5"), sy.getAs[Double]("ac5")),
        "ac_lag24" -> ratioDev(re.getAs[Double]("ac24"), sy.getAs[Double]("ac24")),
        "hurst_diff" -> math.abs(hs - hr),
        "vol_cluster" -> ratioDev(re.getAs[Double]("vc"), sy.getAs[Double]("vc")),
        "spectral" -> spectral,
        "skew_diff" -> math.abs(sy.getAs[Double]("skew") - re.getAs[Double]("skew")),
        "kurt_diff" -> math.abs(sy.getAs[Double]("kurt_raw") - kurtR) / math.max(kurtR, 1.0),
        "std_ratio" -> math.abs(sy.getAs[Double]("std") / re.getAs[Double]("std") - 1.0))
      (weights.map { case (k, wt) => wt * details(k) }.sum / weights.values.sum, details)
    } finally u.unpersist()
  }
}
