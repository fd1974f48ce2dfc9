package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.eval.SeriesKernel.{Moments, Side, div, ecdf, histJs2, lagCorr, nullableDoubles}
import graft.stats.{SeriesStats, Spectral}

/** C8: composite quality score — weighted sum of 11 normalized
  * sub-metrics over real vs synthetic price series (0 = perfect).
  * Ref: composite_metric.py:66-153 (weights table :78-90).
  *
  * Deviations (documented per SURVEY §5 tolerance rules):
  *  - JS uses the shared-support 99-bin probability histogram of
  *    SeriesKernel.histJs2 (reference: 99 linspace-edge density
  *    bins with pre-normalization ε — numerically equivalent smoothing).
  *  - Hurst uses SeriesStats' segment-on-values R/S variant
  *    (reference diffs within each segment); both are standard R/S
  *    estimators and agree on the reference's fixtures to ~1e-2.
  */
object CompositeMetric {

  val DefaultWeights: Map[String, Double] = Map(
    "js_divergence" -> 3.0, "ks_statistic" -> 2.0,
    "ac_lag1" -> 2.0, "ac_lag5" -> 1.5, "ac_lag24" -> 1.0,
    "hurst_diff" -> 2.0, "vol_cluster" -> 1.5, "spectral" -> 1.5,
    "skew_diff" -> 1.0, "kurt_diff" -> 1.0, "std_ratio" -> 2.0)

  /** The 9 kernel-computed component names, in output order. */
  private val CoreComponents = Seq("js_divergence", "ks_statistic",
    "ac_lag1", "ac_lag5", "ac_lag24", "vol_cluster", "skew_diff",
    "kurt_diff", "std_ratio")

  /** One series' 9 core components from its two return arrays: JS
    * (unsquared, 99 bins, shared support), KS, ratio-deviation
    * autocorrelations (1/5/24) and |ret| volatility clustering, skew and
    * kurtosis diffs (population moments) and the std ratio. `fill` maps
    * each per-side aggregate first (null is NaN). */
  private def components(real: Side, synth: Side,
                         fill: Double => Double): Seq[Double] = {
    def aggs(s: Side): Seq[Double] = {
      val m = new Moments(s.rets)
      Seq(lagCorr(s.rets, 1), lagCorr(s.rets, 5), lagCorr(s.rets, 24),
        lagCorr(s.rets, 1, math.abs), m.stdPop, m.skewness,
        m.kurtosis + 3.0).map(fill) // kurt_raw: fisher=False
    }
    val Seq(rac1, rac5, rac24, rvc, rstd, rskew, rkurt) = aggs(real)
    val Seq(sac1, sac5, sac24, svc, sstd, sskew, skurt) = aggs(synth)
    def ratioDev(r: Double, s: Double) =
      if (math.abs(r) > 1e-6) math.abs(s / r - 1.0) else math.abs(s)
    // greatest() skips a null kurtosis; the numerator is null then anyway
    val kurtFloor = if (rkurt.isNaN) 1.0 else math.max(rkurt, 1.0)
    Seq(math.sqrt(histJs2(real.rets, synth.rets, 99)),
      ecdf(real.rets, synth.rets)._2,
      ratioDev(rac1, sac1), ratioDev(rac5, sac5), ratioDev(rac24, sac24),
      ratioDev(rvc, svc), math.abs(sskew - rskew),
      math.abs(skurt - rkurt) / kurtFloor, math.abs(div(sstd, rstd) - 1.0))
  }

  /** The reference's one-series composite: (score, details) — score 0 =
    * perfect, higher = worse. All 11 components come from one
    * one-series [[SeriesKernel]] pass (no exchange), collected: the
    * 9 core components, each side's hurst on its first
    * [[SeriesStats.MaxCollectRows]] PRICES (the single-series
    * [[SeriesStats.hurst]] estimate: clamped to [0, 1], 0.5 when too
    * short) and the spectral distance of the first
    * [[SeriesStats.MaxCollectRows]] returns. A per-side aggregate that
    * is null (the skewness or kurtosis of a constant side) counts as
    * 0.0; a component that stays undefined (an empty side) reads NaN.
    * Nothing is read twice, so nothing is materialized.
    * @param withExpensive false skips the hurst + spectral legs (their
    *        details report 0.0) — used by the oracle-checkable core
    *        variant, whose components are all SQL-expressible. */
  def score(real: DataFrame, synth: DataFrame, orderCols: Seq[String],
            price: String,
            weights: Map[String, Double] = DefaultWeights,
            withExpensive: Boolean = true): (Double, Map[String, Double]) = {
    val cap = SeriesStats.MaxCollectRows
    def hurst(s: Side) = SeriesStats.hurstOfPrefix(s.prices.take(cap))._1
    val names = CoreComponents ++ Seq("hurst_diff", "spectral")
    val row = SeriesKernel.run(real, synth, None,
        orderCols, price, "_k",
        StructType(names.map(StructField(_, DoubleType, nullable = false)))) {
        (r, s) =>
          Some(components(r, s, d => if (d.isNaN) 0.0 else d) ++ (
            if (!withExpensive) Seq(0.0, 0.0)
            else Seq(math.abs(hurst(s) - hurst(r)),
              Spectral.distance(r.rets.take(cap), s.rets.take(cap)))))
      }
      .collect().head
    val details = names.map(c => c -> row.getAs[Double](c)).toMap
    val totalW = weights.values.sum
    val s = weights.map { case (k, wt) => wt * details(k) }.sum / totalW
    (s, details)
  }

  /** The deterministic core per series (the q31f component
    * set): one row of the 9 kernel components per `seriesCol` value
    * (a side with no returns leaves the components it feeds null). The
    * hurst/spectral legs are [[scoreGroupedFull]]'s. Oracle-gated by
    * q31b. */
  def scoreGrouped(real: DataFrame, synth: DataFrame, seriesCol: String,
                   orderCols: Seq[String], price: String): DataFrame =
    SeriesKernel.run(real, synth, Some(col(seriesCol)), orderCols, price, seriesCol,
      nullableDoubles(CoreComponents: _*))((r, s) => Some(components(r, s, identity)))

  /** PER-SERIES FULL composite: all 11 reference components + the
    * weighted composite score, one row per series — the complete
    * composite_metric.py record at many-series scale, from the same
    * kernel pass as [[scoreGrouped]]'s 9 components. hurst per side on
    * PRICES follows [[SeriesStats.hurstGrouped]] (hurst_diff =
    * |h_synth − h_real|, each side rounded to 4) and the spectral
    * distance follows [[Spectral.distanceGrouped]] (common length,
    * capped at 2²⁰ points). Series too short for the R/S fit (fewer
    * than 8 prices per side) or with an empty side are dropped — the
    * reference errors on such inputs; here they simply have no row.
    * The series key is cast to long. Oracle-gated by q31c.
    * `weightOrder` fixes the fold order of the weighted sum so the
    * score is reproducible across engines. */
  val WeightOrder: Seq[(String, Double)] = Seq(
    "js_divergence" -> 3.0, "ks_statistic" -> 2.0,
    "ac_lag1" -> 2.0, "ac_lag5" -> 1.5, "ac_lag24" -> 1.0,
    "hurst_diff" -> 2.0, "vol_cluster" -> 1.5, "spectral" -> 1.5,
    "skew_diff" -> 1.0, "kurt_diff" -> 1.0, "std_ratio" -> 2.0)

  def scoreGroupedFull(real: DataFrame, synth: DataFrame, seriesCol: String,
                       orderCols: Seq[String], price: String): DataFrame = {
    def hurst(s: Side): Option[Double] =
      SeriesStats.hurstOfSeries(s.prices, 100).map { case (h, _) =>
        BigDecimal(math.min(math.max(h, 0.0), 1.0))
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
    val names = CoreComponents ++ Seq("hurst_diff", "spectral")
    val weights = WeightOrder.map { case (c, wt) => names.indexOf(c) -> wt }
    val totalW = WeightOrder.map(_._2).sum
    SeriesKernel.run(real, synth, Some(col(seriesCol).cast("long")), orderCols,
      price, seriesCol, nullableDoubles(names :+ "composite_score": _*)) {
      (r, s) =>
        val n = math.min(math.min(r.rets.length, s.rets.length), 1 << 20)
        for (hr <- hurst(r); hs <- hurst(s) if n > 0) yield {
          val all = components(r, s, identity) ++ Seq(math.abs(hs - hr),
            Spectral.distance(r.rets.take(n), s.rets.take(n)))
          all :+ weights.map { case (i, wt) => all(i) * wt }.reduce(_ + _) / totalW
        }
    }
  }

  /** Details as a one-row DataFrame (for sinks/views). */
  def scoreDf(real: DataFrame, synth: DataFrame, orderCols: Seq[String],
              price: String, withExpensive: Boolean = true): DataFrame = {
    val spark = real.sparkSession
    val (s, d) = score(real, synth, orderCols, price,
      withExpensive = withExpensive)
    import spark.implicits._
    Seq((s, d("js_divergence"), d("ks_statistic"), d("ac_lag1"), d("ac_lag5"),
      d("ac_lag24"), d("hurst_diff"), d("vol_cluster"), d("spectral"),
      d("skew_diff"), d("kurt_diff"), d("std_ratio")))
      .toDF("composite_score", "js_divergence", "ks_statistic", "ac_lag1",
        "ac_lag5", "ac_lag24", "hurst_diff", "vol_cluster", "spectral",
        "skew_diff", "kurt_diff", "std_ratio")
  }
}
