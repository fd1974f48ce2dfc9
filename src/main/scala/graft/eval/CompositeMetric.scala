package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.eval.DistributionEvaluator.{OneSeries, groupedReturns, returnPrefixes}
import graft.series.SeriesSpec
import graft.stats.{Divergence, SeriesStats, Spectral}

/** C8: composite quality score — weighted sum of 11 normalized
  * sub-metrics over real vs synthetic price series (0 = perfect).
  * Ref: composite_metric.py:66-153 (weights table :78-90).
  *
  * Deviations (documented per SURVEY §5 tolerance rules):
  *  - JS uses the shared-support 99-bin probability histogram of
  *    Divergence.histJsdGrouped (reference: 99 linspace-edge density
  *    bins with pre-normalization ε — numerically equivalent smoothing).
  *  - Hurst uses SeriesStats.hurst's segment-on-values R/S variant
  *    (reference diffs within each segment); both are standard R/S
  *    estimators and agree on the reference's fixtures to ~1e-2.
  */
object CompositeMetric {

  val DefaultWeights: Map[String, Double] = Map(
    "js_divergence" -> 3.0, "ks_statistic" -> 2.0,
    "ac_lag1" -> 2.0, "ac_lag5" -> 1.5, "ac_lag24" -> 1.0,
    "hurst_diff" -> 2.0, "vol_cluster" -> 1.5, "spectral" -> 1.5,
    "skew_diff" -> 1.0, "kurt_diff" -> 1.0, "std_ratio" -> 2.0)

  /** The reference's one-series composite: (score, details) — score 0 =
    * perfect, higher = worse. The 9 SQL-expressible components come from
    * the keyed core ([[scoreGroupedCore]]'s legs) over one
    * [[DistributionEvaluator.groupedReturns]] checkpoint with one
    * constant series key. In the same concurrent fan-out, the FFT leg
    * takes both labels' bounded return prefixes from that checkpoint in
    * one collect, and the two hurst legs fit on PRICES from the start.
    * A side aggregate that is null (the skewness or kurtosis of a
    * constant side) counts as 0.0; a component that stays undefined (an
    * empty side) reads NaN. Every storage block the call created is
    * released before it returns, or throws.
    * @param withExpensive false skips the hurst + spectral legs (their
    *        details report 0.0) — used by the oracle-checkable core
    *        variant, whose components are all SQL-expressible. */
  def score(real: DataFrame, synth: DataFrame, orderCols: Seq[String],
            price: String,
            weights: Map[String, Double] = DefaultWeights,
            withExpensive: Boolean = true): (Double, Map[String, Double]) = {
    val spark = real.sparkSession
    val spec = SeriesSpec(Nil, orderCols)
    def hurstOf(df: DataFrame): Double =
      SeriesStats.hurst(df.select((col(price).cast("double").as("_p") +:
          orderCols.map(col)): _*), spec, "_p")
        .first().getAs[Double]("hurst")
    val ((hr, hs), (core, rets)) = graft.core.Scope.released(spark) {
      graft.core.Par.par2(
        if (!withExpensive) (0.0, 0.0)
        else graft.core.Par.par2(hurstOf(real), hurstOf(synth)),
        {
          val u = groupedReturns(real, synth, OneSeries, orderCols, price)
          graft.core.Par.par2(
            componentsOf(scoreSides(u, orderCols), c => coalesce(col(c), lit(0.0)))
              .collect().head,
            if (!withExpensive) Map.empty[String, Array[Double]]
            else returnPrefixes(u, orderCols))
        })
    }
    def side(lab: String) = rets.getOrElse(lab, Array.empty[Double])
    val spectral =
      if (!withExpensive) 0.0
      else Spectral.distance(spark, side("real"), side("synth"))
    val details = CoreComponents.map { c =>
        c -> (if (core.isNullAt(core.fieldIndex(c))) Double.NaN else core.getAs[Double](c))
      }.toMap ++
      Map("hurst_diff" -> math.abs(hs - hr), "spectral" -> spectral)
    val totalW = weights.values.sum
    val s = weights.map { case (k, wt) => wt * details(k) }.sum / totalW
    (s, details)
  }

  /** The deterministic core per series (the q31f component
    * set): one row of the 9 SQL-expressible components per `seriesCol`
    * value — JS (unsquared, 99 bins, per-key support), KS, ratio-dev
    * autocorrs (1/5/24), |ret| vol clustering, skew/kurt diffs
    * (population moments), std ratio. Every stage is keyed on the
    * series — the million-series composite-scoring shape. The
    * hurst/spectral legs are [[scoreGroupedFull]]'s. Oracle-gated by
    * q31b. */
  def scoreGrouped(real: DataFrame, synth: DataFrame, seriesCol: String,
                   orderCols: Seq[String], price: String): DataFrame =
    graft.core.Scope.materialized(real.sparkSession) {
      scoreGroupedCore(
        groupedReturns(real, synth, col(seriesCol), orderCols, price),
        seriesCol, orderCols)
    }

  private[eval] def scoreGroupedCore(u: DataFrame, seriesCol: String,
                                     orderCols: Seq[String]): DataFrame =
    componentsOf(scoreSides(u, orderCols), col, col("_k").as(seriesCol))

  /** The 9 SQL-expressible component names, in output order. */
  private val CoreComponents = Seq("js_divergence", "ks_statistic",
    "ac_lag1", "ac_lag5", "ac_lag24", "vol_cluster", "skew_diff",
    "kurt_diff", "std_ratio")

  /** Per series `_k`: JS, KS and every per-side aggregate the ratio and
    * moment components read (prefix r = real, s = synth). */
  private def scoreSides(u: DataFrame, orderCols: Seq[String]): DataFrame = {
    val js = Divergence.histJsdGrouped(u, "ret", col("lab"), "real", "synth",
        99, "_k")
      .select(col("_k"), col("js_divergence"))
    val ks = Divergence.ecdfStatsGrouped(u, "ret", col("lab"), "real",
        "synth", "_k")
      .select(col("_k"), col("ks_stat").as("ks_statistic"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_k"), col("lab")).orderBy(orderCols.map(col): _*)
    val lagged = u
      .withColumn("l1", lag(col("ret"), 1).over(w))
      .withColumn("l5", lag(col("ret"), 5).over(w))
      .withColumn("l24", lag(col("ret"), 24).over(w))
      .groupBy(col("_k"), col("lab")).agg(
        coalesce(corr(col("ret"), col("l1")), lit(0.0)).as("ac1"),
        coalesce(corr(col("ret"), col("l5")), lit(0.0)).as("ac5"),
        coalesce(corr(col("ret"), col("l24")), lit(0.0)).as("ac24"),
        coalesce(corr(abs(col("ret")), abs(col("l1"))), lit(0.0)).as("vc"),
        stddev_pop(col("ret")).as("std"),
        skewness(col("ret")).as("skew"),
        (kurtosis(col("ret")) + 3.0).as("kurt_raw")) // fisher=False
    def side(lab: String, c: String) =
      max(when(col("lab") === lab, col(c)))
    val piv = lagged.groupBy(col("_k")).agg(
      side("real", "ac1").as("rac1"), side("synth", "ac1").as("sac1"),
      side("real", "ac5").as("rac5"), side("synth", "ac5").as("sac5"),
      side("real", "ac24").as("rac24"), side("synth", "ac24").as("sac24"),
      side("real", "vc").as("rvc"), side("synth", "vc").as("svc"),
      side("real", "std").as("rstd"), side("synth", "std").as("sstd"),
      side("real", "skew").as("rskew"), side("synth", "skew").as("sskew"),
      side("real", "kurt_raw").as("rkurt"), side("synth", "kurt_raw").as("skurt"))
    js.join(ks, "_k").join(piv, "_k")
  }

  /** The 9 components over [[scoreSides]], each per-side aggregate read
    * through `side`, after the `lead` columns. */
  private def componentsOf(sides: DataFrame, side: String => Column,
                           lead: Column*): DataFrame = {
    def ratioDev(r: Column, s: Column) =
      when(abs(r) > 1e-6, abs(s / r - 1.0)).otherwise(abs(s))
    sides.select(lead ++ Seq(
      col("js_divergence"), col("ks_statistic"),
      ratioDev(side("rac1"), side("sac1")).as("ac_lag1"),
      ratioDev(side("rac5"), side("sac5")).as("ac_lag5"),
      ratioDev(side("rac24"), side("sac24")).as("ac_lag24"),
      ratioDev(side("rvc"), side("svc")).as("vol_cluster"),
      abs(side("sskew") - side("rskew")).as("skew_diff"),
      (abs(side("skurt") - side("rkurt")) / greatest(side("rkurt"), lit(1.0)))
        .as("kurt_diff"),
      abs(side("sstd") / side("rstd") - 1.0).as("std_ratio")): _*)
  }

  /** PER-SERIES FULL composite: all 11 reference components + the
    * weighted composite score, one row per series — the complete
    * composite_metric.py record at many-series scale. Extends
    * [[scoreGrouped]]'s 9 SQL-expressible components with the two
    * formerly driver-bounded legs, both now keyed end-to-end:
    * hurst per (series, half) on PRICES via
    * [[SeriesStats.hurstGrouped]] (hurst_diff = |h_synth − h_real|,
    * each side rounded to 4 as the grouped estimator emits) and
    * spectral distance per series via [[Spectral.distanceGrouped]]'s
    * in-partition FFT. Series too short for the R/S fit (fewer than 8
    * return rows per half) are dropped — the reference errors on such
    * inputs; here they simply have no row. Oracle-gated by q31c.
    * `weightOrder` fixes the fold order of the weighted sum so the
    * score is reproducible across engines. */
  val WeightOrder: Seq[(String, Double)] = Seq(
    "js_divergence" -> 3.0, "ks_statistic" -> 2.0,
    "ac_lag1" -> 2.0, "ac_lag5" -> 1.5, "ac_lag24" -> 1.0,
    "hurst_diff" -> 2.0, "vol_cluster" -> 1.5, "spectral" -> 1.5,
    "skew_diff" -> 1.0, "kurt_diff" -> 1.0, "std_ratio" -> 2.0)

  def scoreGroupedFull(real: DataFrame, synth: DataFrame, seriesCol: String,
                       orderCols: Seq[String], price: String): DataFrame =
    graft.core.Scope.materialized(real.sparkSession) {
    // ONE materialized returns exchange feeds both the 9-component core
    // and the spectral leg (which would otherwise re-derive the same
    // labeled logReturns window from prices — guide §2.4, remove
    // shuffles outright); only the hurst leg reads PRICES and keeps
    // its own pass
    val u = groupedReturns(real, synth, col(seriesCol), orderCols, price)
    val core = scoreGroupedCore(u, seriesCol, orderCols)
      .withColumn(seriesCol, col(seriesCol).cast("long"))
    def labeled(df: DataFrame, lab: String): DataFrame =
      df.select((col(seriesCol).cast("long").as("_k") +: lit(lab).as("lab") +:
        col(price).cast("double").as("_p") +: orderCols.map(col)): _*)
    val hu = SeriesStats.hurstGrouped(
      labeled(real, "real").unionByName(labeled(synth, "synth")),
      SeriesSpec(Seq("_k", "lab"), orderCols), "_p")
    val hpiv = hu.groupBy(col("_k")).agg(
        max(when(col("lab") === "real", col("hurst"))).as("hr"),
        max(when(col("lab") === "synth", col("hurst"))).as("hs"))
      .filter(col("hr").isNotNull && col("hs").isNotNull)
      .select(col("_k").as(seriesCol), abs(col("hs") - col("hr")).as("hurst_diff"))
    val sp = Spectral.distanceGroupedFromReturns(u, seriesCol, orderCols)
      .groupBy(col(seriesCol))
      .agg(max(col("spectral_distance")).as("spectral"))
    val withAll = core.join(hpiv, seriesCol).join(sp, seriesCol)
    val totalW = WeightOrder.map(_._2).sum
    val weighted = WeightOrder.map { case (c, wt) => col(c) * lit(wt) }
      .reduce(_ + _) / lit(totalW)
    withAll.withColumn("composite_score", weighted)
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
