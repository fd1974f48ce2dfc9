package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}

/** A10–A13 order-dependent series statistics (SURVEY.md §2.4), one
  * result row per series (spec.partitionCols). All are window-function +
  * hash-agg pipelines: a single shuffle on the series key.
  */
object SeriesStats {

  /** Bound on any single-series driver collect (Hurst/ADF/FFT legs):
    * statistics fitted on an ordered prefix of at most this many rows,
    * making the collect O(1) in input scale. */
  val MaxCollectRows: Int = 20000

  /** A10: autocorrelation of `value` at lag k (Pearson corr of the
    * series with its own lag; pairs with a null lag are skipped — same
    * as np.corrcoef over the aligned slices).
    * Ref: distribution_evaluator.py:43-46. */
  def autocorr(df: DataFrame, spec: SeriesSpec, value: String, k: Int,
               out: String = "acf"): DataFrame =
    df.withColumn("_lag", lag(col(value), k).over(spec.w))
      .groupBy(spec.partitionCols.map(col): _*)
      .agg(corr(col(value), col("_lag")).as(out))

  /** A12: leverage effect — corr(ret_t, |ret_{t+k}|).
    * Ref: evaluate_all_generators.py:77-82. */
  def leverage(df: DataFrame, spec: SeriesSpec, value: String, k: Int = 1,
               out: String = "leverage"): DataFrame =
    df.withColumn("_fwd", abs(lead(col(value), k).over(spec.w)))
      .groupBy(spec.partitionCols.map(col): _*)
      .agg(corr(col(value), col("_fwd")).as(out))

  /** A13+W10: maximum drawdown — min over t of (p_t − peak_t)/peak_t.
    * Ref: evaluate_all_generators.py:110-113. */
  def maxDrawdown(df: DataFrame, spec: SeriesSpec, price: String,
                  out: String = "max_drawdown"): DataFrame = {
    val peaked = SeriesOps.runningPeak(df, spec, price, "_peak")
    peaked.groupBy(spec.partitionCols.map(col): _*)
      .agg(min((col(price) - col("_peak")) / col("_peak")).as(out))
  }

  /** C6 at scale: R/S Hurst per SERIES via an IN-PARTITION one-pass
    * R/S sweep inside [[SeriesOps.runs]] over a single exchange on the
    * series key (the c01b/g04tb shape) — the many-series path where
    * nothing is collected and no partition is global. The previous
    * formulation exploded every row onto (series, lag) — O(n·maxLag)
    * materialized rows through two window
    * stages, which the 10× series-LENGTH scale run measured at ratio
    * 9.6 while every other per-series family sat at 0.9–2.1; this one
    * does the identical arithmetic (complete segments only, population
    * std, s > 1e-12 and rs_mean > 0 filters, OLS slope with the
    * degenerate-slope → 0.0 convention) on an in-task array, emitting
    * one row per series. Per-task memory is one series of doubles —
    * the same task-must-fit contract as the FFT path
    * ([[graft.stats.Spectral.distanceGrouped]]). The collected-prefix
    * [[hurst]] remains the single-bounded-series variant (SURVEY §2.4
    * C6 disposition). Null values are skipped (the fixtures carry
    * none). Ref: distribution_evaluator-style R/S, composite_metric.py
    * Hurst leg.
    * Output per series: (partitionCols, hurst r4 clamped [0,1], n_lags). */
  def hurstGrouped(df: DataFrame, spec: SeriesSpec, value: String,
                   maxLagCap: Int = 100): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val nPc = spec.partitionCols.length
    val keyCols = spec.partitionCols.map(col)
    val input = df
      .select((keyCols :+ col(value).cast("double").as("__x")) ++
        spec.orderCols.map(col): _*)
      .repartition(keyCols: _*)
      .sortWithinPartitions((spec.partitionCols ++ spec.orderCols).map(col): _*)
    val midSchema = StructType(input.schema.fields.take(nPc) ++ Seq(
      StructField("hurst", DoubleType, nullable = false),
      StructField("n_lags", LongType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(midSchema)
    val raw = input.mapPartitions { rows =>
      SeriesOps.runs(rows)(r => (0 until nPc).map(r.get)) { (key, run) =>
        val xs = run.filter(r => !r.isNullAt(nPc)).map(_.getDouble(nPc)).toArray
        hurstOfSeries(xs, maxLagCap).map { case (slope, nLags) =>
          Row.fromSeq(key :+ slope :+ nLags)
        }
      }
    }
    // identical clamp/round expression to the broadcast variant: OLS
    // slope clamped to [0,1], round half-up to 4 (degenerate-slope
    // series already carry 0.0 from hurstOfSeries; the 0.5 coalesce arm
    // is unreachable — kept for expression parity with the oracle)
    raw.select((keyCols :+
      round(coalesce(least(greatest(col("hurst"), lit(0.0)), lit(1.0)),
        lit(0.5)), 4).as("hurst")) :+ col("n_lags"): _*)
  }

  /** One series' R/S sweep: for each lag 2..min(maxLagCap, n/4), mean/
    * pop-std/cumdev-range per COMPLETE segment, rs_mean = avg(R/S) over
    * segments with s > 1e-12, then the OLS slope of ln(rs_mean) on
    * ln(lag). None when the series is too short (maxlag < 2) or no lag
    * survives the filters (both cases emit no row, matching the
    * grouped-SQL predecessor); slope 0.0 when the fit is degenerate
    * (single lag point — SQL regr_slope NULL → greatest(NULL, 0.0)).
    * O(n) per lag ⇒ O(n·min(100, n/4)) per series, no materialization. */
  private[graft] def hurstOfSeries(xs: Array[Double],
                                   maxLagCap: Int): Option[(Double, Long)] = {
    val n = xs.length
    val maxlag = math.min(maxLagCap, n / 4)
    if (maxlag < 2) return None
    var sLx = 0.0; var sLy = 0.0; var sLxx = 0.0; var sLxy = 0.0
    val lxs = Array.newBuilder[Double]
    val lys = Array.newBuilder[Double]
    var lag = 2
    while (lag <= maxlag) {
      val nSeg = n / lag
      var sumRs = 0.0; var nRs = 0
      var s0 = 0
      while (s0 < nSeg) {
        val off = s0 * lag
        var m = 0.0; var i = 0
        while (i < lag) { m += xs(off + i); i += 1 }
        m /= lag
        var v = 0.0; var cum = 0.0
        var cmax = Double.NegativeInfinity; var cmin = Double.PositiveInfinity
        i = 0
        while (i < lag) {
          val d = xs(off + i) - m
          v += d * d
          cum += d
          if (cum > cmax) cmax = cum
          if (cum < cmin) cmin = cum
          i += 1
        }
        val s = math.sqrt(v / lag)
        if (s > 1e-12) { sumRs += (cmax - cmin) / s; nRs += 1 }
        s0 += 1
      }
      if (nRs > 0) {
        val rsMean = sumRs / nRs
        if (rsMean > 0) { lxs += math.log(lag.toDouble); lys += math.log(rsMean) }
      }
      lag += 1
    }
    val lx = lxs.result(); val ly = lys.result()
    val np = lx.length
    if (np == 0) return None
    var i = 0
    while (i < np) { sLx += lx(i); sLy += ly(i); i += 1 }
    val mx = sLx / np; val my = sLy / np
    i = 0
    while (i < np) {
      sLxx += (lx(i) - mx) * (lx(i) - mx)
      sLxy += (lx(i) - mx) * (ly(i) - my)
      i += 1
    }
    val slope = if (sLxx == 0.0) 0.0 else sLxy / sLxx
    Some((slope, np.toLong))
  }

  /** [[hurst]]'s (estimate, n_lags) on an in-memory ordered prefix
    * (also the one-series composite's kernel leg): the R/S sweep of
    * [[hurstOfSeries]] with the slope clamped to [0, 1] and unrounded;
    * (0.5, 0) when the series is too short for two lags (< 8 rows),
    * (0.0, 0) when no lag survives the filters. */
  private[graft] def hurstOfPrefix(xs: Array[Double]): (Double, Long) =
    if (xs.length < 8) (0.5, 0L)
    else hurstOfSeries(xs, 100).fold((0.0, 0L)) { case (slope, nLags) =>
      (math.min(math.max(slope, 0.0), 1.0), nLags)
    }

  /** C6: Hurst exponent via rescaled-range (R/S) analysis.
    * Ref: composite_metric.py:25-47. For each lag ∈ [2, min(100, n/4)]:
    * chop the series into ⌊n/lag⌋ full segments; per segment
    * R = range of the cumulative deviations from the segment mean and
    * S = population std; Hurst = slope of log(mean R/S) vs log(lag),
    * clipped to [0,1] (0.5 when degenerate).
    *
    * The fit runs on the driver over an ordered prefix of at most
    * `maxRows` observations with [[hurstOfPrefix]], the same R/S sweep
    * the grouped [[hurstGrouped]] and the composite's kernel run: one
    * bounded collect, no further job. A single ordered series is
    * driver-bounded by definition; the cluster dimension for Hurst is
    * many series ([[hurstGrouped]]), not rows of one series.
    * Output: single row (hurst, n_lags).
    */
  def hurst(df: DataFrame, spec: SeriesSpec, value: String,
            maxRows: Int = SeriesStats.MaxCollectRows): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    // CONTRACT: the R/S fit runs on an ordered prefix of ≤ maxRows
    // observations (the reference fits on ≤ ~7.4k rows; R/S slope
    // estimates stabilize well below this cap). This bounds the driver
    // collect regardless of input scale.
    val series = df
      .orderBy(spec.orderCols.map(col): _*)
      .limit(maxRows)
      .select(col(value).cast("double"))
      .collect().map(_.getDouble(0))
    Seq(hurstOfPrefix(series)).toDF("hurst", "n_lags")
  }

  /** Ljung–Box portmanteau test of no autocorrelation up to lag `h`
    * (beyond reference; Ljung & Box 1978 — the standard residual
    * whiteness check after fitting any series generator, the natural
    * complement to the per-lag A10 autocorr): with the full-series
    * acf estimator ρ_k = Σ(x_t−x̄)(x_{t−k}−x̄) / Σ(x_t−x̄)²,
    * Q = n(n+2)·Σ_{k≤h} ρ_k²/(n−k), and the p-value is the χ²_h
    * survival function — `h` EVEN by contract so it has the
    * closed finite form exp(−Q/2)·Σ_{j<h/2}(Q/2)^j/j!, exact in both
    * engines (no incomplete-gamma dependency).
    *
    * Scale shape: one shuffle on the series key; the mean is a
    * full-partition window (same exchange), the h lags ride the same
    * window order, and everything reduces in one keyed hash agg. */
  /** Jarque–Bera normality test per series (beyond reference; Jarque
    * & Bera 1980 — the standard "are these returns actually Gaussian"
    * check, the companion to [[ljungBox]]'s whiteness): with
    * population skewness S and EXCESS kurtosis K from
    * [[Moments.describe]], JB = n/6·(S² + K²/4); the null
    * distribution is χ²₂, whose survival function IS exp(−JB/2)
    * exactly (dof 2 — no incomplete gamma), so both engines compute
    * the identical closed form. Same scale shape as the moments op:
    * two keyed hash aggs with a broadcast rejoin. */
  def jarqueBera(df: DataFrame, spec: SeriesSpec,
                 value: String): DataFrame = {
    val m = Moments.describe(df.filter(col(value).isNotNull), value,
      spec.partitionCols)
    val n = col("n").cast("double")
    val kExc = col("kurt_raw") - lit(3.0)
    m.withColumn("kurt_excess", kExc)
      .withColumn("jb_stat",
        n / 6.0 * (col("skew") * col("skew") +
          col("kurt_excess") * col("kurt_excess") / 4.0))
      .withColumn("p_value", exp(-col("jb_stat") / 2.0))
      .select((spec.partitionCols.map(col) ++ Seq(col("n"), col("skew"),
        col("kurt_excess"), col("jb_stat"), col("p_value"))): _*)
  }

  /** Wald–Wolfowitz sign-runs randomness test per series (beyond
    * reference; Wald & Wolfowitz 1940): signs of the value itself
    * (zero-crossing variant — no mean/median threshold, so the cut is
    * integer-deterministic in both engines; exact zeros are dropped,
    * the standard treatment). With n₁ positives, n₂ negatives and R
    * observed runs, E[R] = 2n₁n₂/n + 1,
    * Var[R] = 2n₁n₂(2n₁n₂−n)/(n²(n−1)), z = (R−E)/√Var, and the
    * two-sided normal p-value via the Abramowitz–Stegun 7.1.26 erfc
    * polynomial — a fixed Horner chain both engines evaluate in the
    * identical order. Scale shape: one shuffle on the series key
    * (the lag window), then a keyed hash agg; all O(n) per series. */
  def runsTest(df: DataFrame, spec: SeriesSpec, value: String): DataFrame = {
    val keys = spec.partitionCols
    val x = df.filter(col(value).isNotNull && col(value) =!= 0.0)
      .withColumn("_s", when(col(value) > 0, lit(1)).otherwise(lit(-1)))
    val prev = lag(col("_s"), 1).over(spec.w)
    val chg = x.withColumn("_chg",
      when(prev.isNotNull && col("_s") =!= prev, lit(1)).otherwise(lit(0)))
    val g = chg.groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("_s") === 1, lit(1L)).otherwise(lit(0L))).as("n_pos"),
        sum(when(col("_s") === -1, lit(1L)).otherwise(lit(0L))).as("n_neg"),
        (lit(1L) + sum(col("_chg"))).as("n_runs"))
    val n1 = col("n_pos").cast("double")
    val n2 = col("n_neg").cast("double")
    val n = n1 + n2
    val mu = lit(2.0) * n1 * n2 / n + lit(1.0)
    val v = lit(2.0) * n1 * n2 * (lit(2.0) * n1 * n2 - n) /
      (n * n * (n - lit(1.0)))
    val z = (col("n_runs").cast("double") - mu) / sqrt(v)
    // erfc(|z|/√2) via A&S 7.1.26 — the Horner chain is mirrored
    // verbatim in the oracle so both engines round identically
    val ax = abs(col("_z")) / sqrt(lit(2.0))
    val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * ax)
    val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
      t * (lit(1.421413741) + t * (lit(-1.453152027) +
        t * lit(1.061405429)))))
    val p = poly * exp(-ax * ax)
    g.withColumn("_z",
        when(col("n_pos") > 0 && col("n_neg") > 0, z))
      .withColumn("z_score", round(col("_z"), 6))
      .withColumn("p_value",
        when(col("_z").isNotNull, round(p, 6)))
      .drop("_z")
  }

  /** CUSUM drift statistic per series (beyond reference; Page 1954's
    * cumulative-sum control chart reduced to its batch diagnostic):
    * S_t = Σ_{i≤t}(x_i − x̄) in series order; emits the max/min
    * excursion and the rescaled range R/(σ√n) — the Brownian-bridge
    * normalization under which a stable series is O(1) and a
    * mean-shifted one grows like √n. Complements [[welchDrift]] (which
    * needs the break at the midpoint; CUSUM sees a break anywhere).
    * Scale shape: one series-keyed window (mean + running sum ride the
    * same exchange) and one keyed agg — the q06 cumsum precedent. */
  def cusum(df: DataFrame, spec: SeriesSpec, value: String): DataFrame = {
    val keys = spec.partitionCols
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val wRun = spec.w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val x = df.filter(col(value).isNotNull)
      .withColumn("_mu", avg(col(value)).over(wAll))
      .withColumn("_s", sum(col(value) - col("_mu")).over(wRun))
    val g = x.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n_obs"),
        max(col("_s")).as("_cmax"),
        min(col("_s")).as("_cmin"),
        stddev_pop(col(value)).as("_sd"))
    // + 0.0 collapses IEEE −0.0 to +0.0 (round(−1e-9, 6) signs differ
    // across engines; the gate compares bit patterns)
    g.withColumn("cusum_max", round(col("_cmax"), 6) + lit(0.0))
      .withColumn("cusum_min", round(col("_cmin"), 6) + lit(0.0))
      .withColumn("rr_stat",
        when(col("_sd") > 0, round((col("_cmax") - col("_cmin")) /
          (col("_sd") * sqrt(col("n_obs").cast("double"))), 6)))
      .drop("_cmax", "_cmin", "_sd")
  }

  /** Welch two-sample t-test per series between the chronological
    * first and second half (beyond reference; Welch 1947) — the
    * standard "did the mean drift" diagnostic next to [[runsTest]]'s
    * randomness and [[ljungBox]]'s whiteness. Sample variances,
    * t = (m₁−m₂)/√(s₁²/n₁+s₂²/n₂), Welch–Satterthwaite df, and a
    * two-sided p under the NORMAL approximation of the t null (halves
    * are ≥30 obs at fixture scale; documented approximation, same A&S
    * erfc Horner chain as [[runsTest]] so both engines round alike).
    * Scale shape: one series-keyed window for the split + one keyed
    * hash agg. */
  def welchDrift(df: DataFrame, spec: SeriesSpec, value: String): DataFrame = {
    val keys = spec.partitionCols
    val x = df.filter(col(value).isNotNull)
      .withColumn("_rn", row_number().over(spec.w))
      .withColumn("_n_all",
        count(lit(1)).over(org.apache.spark.sql.expressions.Window
          .partitionBy(keys.map(col): _*)))
      .withColumn("_half",
        when(col("_rn") <= col("_n_all") / 2, lit(1)).otherwise(lit(2)))
    val g = x.groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("_half") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("_half") === 2, lit(1L)).otherwise(lit(0L))).as("n2"),
        avg(when(col("_half") === 1, col(value))).as("_m1"),
        avg(when(col("_half") === 2, col(value))).as("_m2"),
        var_samp(when(col("_half") === 1, col(value))).as("_v1"),
        var_samp(when(col("_half") === 2, col(value))).as("_v2"))
    val se1 = col("_v1") / col("n1").cast("double")
    val se2 = col("_v2") / col("n2").cast("double")
    val t0 = (col("_m1") - col("_m2")) / sqrt(se1 + se2)
    val dfw = (se1 + se2) * (se1 + se2) /
      (se1 * se1 / (col("n1").cast("double") - lit(1.0)) +
        se2 * se2 / (col("n2").cast("double") - lit(1.0)))
    val ax = abs(col("_t")) / sqrt(lit(2.0))
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * ax)
    val poly = tt * (lit(0.254829592) + tt * (lit(-0.284496736) +
      tt * (lit(1.421413741) + tt * (lit(-1.453152027) +
        tt * lit(1.061405429)))))
    val p = poly * exp(-ax * ax)
    g.withColumn("_t", when(col("n1") > 1 && col("n2") > 1, t0))
      .withColumn("mean_diff", round(col("_m1") - col("_m2"), 6))
      .withColumn("t_stat", round(col("_t"), 6))
      .withColumn("df_w", round(when(col("_t").isNotNull, dfw), 6))
      .withColumn("p_value", when(col("_t").isNotNull, round(p, 6)))
      .drop("_m1", "_m2", "_v1", "_v2", "_t")
  }

  def ljungBox(df: DataFrame, spec: SeriesSpec, value: String,
               h: Int = 10): DataFrame = {
    require(h > 0 && h % 2 == 0,
      s"even h keeps the chi-square survival closed-form, got $h")
    val keys = spec.partitionCols
    val xbar = avg(col(value)).over(
      org.apache.spark.sql.expressions.Window
        .partitionBy(keys.map(col): _*))
    val centered = df.filter(col(value).isNotNull)
      .withColumn("_c", col(value) - xbar)
    val withLags = (1 to h).foldLeft(centered)((acc, k) =>
      acc.withColumn(s"_c$k", lag(col("_c"), k).over(spec.w)))
    val aggs = Seq(
      count(col("_c")).as("n_obs"),
      sum(col("_c") * col("_c")).as("_den")) ++
      (1 to h).map(k => sum(col("_c") * col(s"_c$k")).as(s"_num$k"))
    val g = withLags.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val n = col("n_obs").cast("double")
    val q = (1 to h).map { k =>
      val rho = col(s"_num$k") / col("_den")
      rho * rho / (n - lit(k.toDouble))
    }.reduce(_ + _) * n * (n + lit(2.0))
    val t = col("_q") / lit(2.0)
    val survival = (0 until h / 2).map { j =>
      val fact = (1 to j).foldLeft(1.0)(_ * _.toDouble)
      pow(t, lit(j.toDouble)) / lit(fact)
    }.reduce(_ + _) * exp(-t)
    g.withColumn("_q", q)
      .withColumn("q_stat", round(col("_q"), 6))
      .withColumn("p_value", round(survival, 6))
      .drop(("_den" +: "_q" +: (1 to h).map(k => s"_num$k")): _*)
  }

  /** KPSS level-stationarity test per series (beyond reference;
    * Kwiatkowski, Phillips, Schmidt & Shin 1992) — the complement of
    * the ADF test ([[Adf]]): ADF's null is a unit root, KPSS's null is
    * stationarity, and the pair's four verdict combinations are the
    * standard pre-modeling routing table. η = Σ S_t² / (n²·s²(l)) with
    * S_t the running sum of demeaned values and s²(l) the Bartlett-
    * weighted long-run variance at the statsmodels-legacy bandwidth
    * l = ⌊4·(n/100)^0.25⌋ (capped at `maxLag` — the cap never binds at
    * fixture scale); the p-value is the standard piecewise-linear
    * interpolation of the KPSS critical-value table, clamped to
    * [0.01, 0.10] — both engines evaluate the identical CASE chain.
    *
    * Scale shape: one series-keyed window exchange (mean, running sum
    * and the ≤ maxLag lag columns all ride it) and one keyed hash agg
    * — the c03 Ljung–Box shape exactly; the lag-product sums are
    * included per row only while j ≤ l, so the bandwidth is honored
    * without a second pass. Output per series: (partitionCols, n_obs,
    * n_lags, kpss_stat r6, p_value r6). */
  def kpss(df: DataFrame, spec: SeriesSpec, value: String,
           maxLag: Int = 8): DataFrame = {
    val keys = spec.partitionCols
    val wAll = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col): _*)
    val wRun = spec.w.rowsBetween(
      org.apache.spark.sql.expressions.Window.unboundedPreceding,
      org.apache.spark.sql.expressions.Window.currentRow)
    val x = df.filter(col(value).isNotNull)
      .withColumn("_mu", avg(col(value)).over(wAll))
      .withColumn("_nw", count(lit(1)).over(wAll))
      .withColumn("_e", col(value) - col("_mu"))
      .withColumn("_s", sum(col("_e")).over(wRun))
      .withColumn("_lw", least(
        floor(lit(4.0) * pow(col("_nw").cast("double") / lit(100.0),
          lit(0.25))), lit(maxLag.toLong)))
    val withLags = (1 to maxLag).foldLeft(x)((acc, j) =>
      acc.withColumn(s"_e$j", lag(col("_e"), j).over(spec.w)))
    val aggs = Seq(
      count(lit(1)).as("n_obs"),
      max(col("_lw")).as("n_lags"),
      sum(col("_s") * col("_s")).as("_ss"),
      sum(col("_e") * col("_e")).as("_g0")) ++
      (1 to maxLag).map(j =>
        sum(when(lit(j) <= col("_lw"), col("_e") * col(s"_e$j")))
          .as(s"_g$j"))
    val g = withLags.groupBy(keys.map(col): _*)
      .agg(aggs.head, aggs.tail: _*)
    val nd = col("n_obs").cast("double")
    val ld = col("n_lags").cast("double")
    // s² = γ0 + 2·Σ w_j·γ_j with w_j = 1 − j/(l+1); the Σ is a FIXED
    // j=1..maxLag expression chain (same op order as the oracle SQL),
    // out-of-bandwidth terms contribute exactly 0
    val s2 = (1 to maxLag).foldLeft(col("_g0") / nd) { (acc, j) =>
      acc + lit(2.0) * when(lit(j) <= col("n_lags"),
        (lit(1.0) - lit(j.toDouble) / (ld + lit(1.0))) *
          (coalesce(col(s"_g$j"), lit(0.0)) / nd)).otherwise(lit(0.0))
    }
    val stat = col("_ss") / (nd * nd) / col("_s2")
    // piecewise-linear p from the KPSS table (10/5/2.5/1% critical
    // values 0.347/0.463/0.574/0.739), clamped to [0.01, 0.10]
    def seg(x0: Double, p0: Double, x1: Double, p1: Double) =
      lit(p0) + (col("_stat") - lit(x0)) *
        lit((p1 - p0) / (x1 - x0))
    val p = when(col("_stat") <= 0.347, lit(0.10))
      .when(col("_stat") <= 0.463, seg(0.347, 0.10, 0.463, 0.05))
      .when(col("_stat") <= 0.574, seg(0.463, 0.05, 0.574, 0.025))
      .when(col("_stat") <= 0.739, seg(0.574, 0.025, 0.739, 0.01))
      .otherwise(lit(0.01))
    g.withColumn("_s2", s2)
      .withColumn("_stat", stat)
      .withColumn("kpss_stat", round(col("_stat"), 6))
      .withColumn("p_value", round(p, 6))
      .drop((Seq("_ss", "_g0", "_s2", "_stat") ++
        (1 to maxLag).map(j => s"_g$j")): _*)
  }

  /** Mann–Kendall trend test + Sen's slope per series (beyond
    * reference; Mann 1945, Kendall 1975, Sen 1968): the standard
    * nonparametric "is there a monotonic trend" diagnostic next to
    * [[cusum]]'s break detection — S = Σ_{i<j} sgn(x_j−x_i), the
    * tie-corrected variance n(n−1)(2n+5)−Σt(t−1)(2t+5) over 18, the
    * continuity-corrected z = (S∓1)/√Var, a two-sided p via the same
    * A&S 7.1.26 erfc Horner chain as [[runsTest]], and Sen's slope =
    * median of all pairwise (x_j−x_i)/(j−i) with the explicit
    * two-middle-rank average (so both engines hit the identical one
    * rounding — no quantile-interpolation formula dependence).
    *
    * Scale shape: ONE exchange on the series key, then an in-partition
    * [[SeriesOps.runs]] pass — the O(n²)
    * pair sweep never materializes rows, and `maxN` prefix-caps the
    * per-task work/memory (slope buffer = n²/2 doubles) the same way
    * the fit-prefix caps bound the GARCH/ADF legs; the cap never binds
    * at fixture scale and exists for pathological stragglers. All
    * integer accumulations (S, ties, n-polynomials) are exact in
    * double below 2⁵³, so op order cannot diverge across engines.
    * Output per series: (partitionCols, n_obs, s_stat, z_score r6,
    * p_value r6, sen_slope r6); z/p null when Var ≤ 0. */
  def mannKendall(df: DataFrame, spec: SeriesSpec, value: String,
                  maxN: Int = 2048): DataFrame = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types.{DoubleType, LongType, StructField, StructType}
    val nPc = spec.partitionCols.length
    val keyCols = spec.partitionCols.map(col)
    val input = df.filter(col(value).isNotNull)
      .select((keyCols :+ col(value).cast("double").as("__x")) ++
        spec.orderCols.map(col): _*)
      .repartition(keyCols: _*)
      .sortWithinPartitions((spec.partitionCols ++ spec.orderCols).map(col): _*)
    val midSchema = StructType(input.schema.fields.take(nPc) ++ Seq(
      StructField("n_obs", LongType, nullable = false),
      StructField("s_stat", LongType, nullable = false),
      StructField("z", DoubleType, nullable = true),
      StructField("p", DoubleType, nullable = true),
      StructField("sen", DoubleType, nullable = false)))
    implicit val enc: org.apache.spark.sql.Encoder[Row] =
      org.apache.spark.sql.Encoders.row(midSchema)
    val raw = input.mapPartitions { rows =>
      SeriesOps.runs(rows)(r => (0 until nPc).map(r.get)) { (key, run) =>
        val xs = run.take(maxN).map(_.getDouble(nPc)).toArray
        mannKendallOfSeries(xs).map { case (n, s, z, p, sen) =>
          Row.fromSeq(key ++ Seq(n, s, z, p, sen))
        }
      }
    }
    // + 0.0 collapses IEEE −0.0 (gate compares bit patterns)
    raw.select((keyCols :+ col("n_obs") :+ col("s_stat") :+
      (round(col("z"), 6) + lit(0.0)).as("z_score") :+
      round(col("p"), 6).as("p_value") :+
      (round(col("sen"), 6) + lit(0.0)).as("sen_slope")): _*)
  }

  /** Trend / seasonal strength per series (c15, beyond reference;
    * Wang, Smith & Hyndman 2006 — the feature pair every forecasting
    * report leads with): over a [[graft.series.SeriesOps.seasonalDecompose]]
    * frame (trend T, seasonal S, remainder R per row),
    * F_trend = max(0, 1 − Var(R)/Var(T+R)) and
    * F_seas = max(0, 1 − Var(R)/Var(S+R)) — near 1 when the component
    * explains the detrended/deseasonalized variance, near 0 when the
    * series is remainder-dominated. Sample variances over the rows
    * where the decomposition is complete (trend non-null — the w15
    * centered-MA edge rows drop on both engines identically).
    *
    * Scale shape: w15's series-keyed windows + ONE further keyed agg;
    * the inputs are w15's r6-ROUNDED components, so both engines
    * aggregate identical doubles and the only fresh FP is the variance
    * fold (r6-contained). Output per series: (partitionCols, n_obs,
    * f_trend r6, f_seasonal r6). */
  def decompositionStrength(df: DataFrame, spec: SeriesSpec,
                            value: String, period: Int = 7): DataFrame = {
    val dec = graft.series.SeriesOps
      .seasonalDecompose(df, spec, value, period)
      .filter(col("trend").isNotNull)
    val g = dec.groupBy(spec.partitionCols.map(col): _*)
      .agg(count(lit(1)).as("n_obs"),
        var_samp(col("resid")).as("_vr"),
        var_samp(col("trend") + col("resid")).as("_vtr"),
        var_samp(col("seasonal") + col("resid")).as("_vsr"))
    // degenerate-variance guard (the c14 when(_var > 0) pattern): a
    // flat component (_vtr/_vsr = 0) or a single complete row (Spark
    // var_samp → NaN, DuckDB → NULL) yields NULL on both engines —
    // never a NaN-vs-NULL divergence (NaN > 0 is false in Spark, so
    // the guard absorbs both shapes); the c15 oracle carries the same
    // CASE
    g.withColumn("f_trend", when(col("_vtr") > 0,
        round(greatest(lit(0.0),
          lit(1.0) - col("_vr") / col("_vtr")), 6)))
      .withColumn("f_seasonal", when(col("_vsr") > 0,
        round(greatest(lit(0.0),
          lit(1.0) - col("_vr") / col("_vsr")), 6)))
      .drop("_vr", "_vtr", "_vsr")
  }

  /** Wilcoxon rank-sum / Mann–Whitney U drift test per series (beyond
    * reference; Wilcoxon 1945, Mann & Whitney 1947): the RANK-based
    * complement to [[welchDrift]]'s mean test between the
    * chronological halves — outlier-robust and distribution-free,
    * the pair every drift report carries. Average ranks for ties
    * (rank_min + (t−1)/2 — exact halves in double), U₁ = R₁ −
    * n₁(n₁+1)/2, tie-corrected σ²_U = n₁n₂/12·[(n+1) −
    * Σ(t³−t)/(n(n−1))] with the tie term accumulated per ROW as
    * Σ(eq²−1) (= Σ_groups t³−t, exact integers), continuity-corrected
    * z, two-sided p via the shared A&S erfc chain.
    *
    * Scale shape: the [[welchDrift]] exchange plus a value-ordered
    * rank on the same series key (second sort, same shuffle) and one
    * keyed agg. Output per series: (partitionCols, n1, n2, u_stat,
    * z_score r6, p_value r6); z/p null when the variance degenerates
    * (all values tied). */
  def rankSumDrift(df: DataFrame, spec: SeriesSpec,
                   value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = spec.partitionCols
    val wAll = Window.partitionBy(keys.map(col): _*)
    val wVal = Window.partitionBy(keys.map(col): _*).orderBy(col(value))
    val wTie = Window.partitionBy((keys.map(col) :+ col(value)): _*)
    val x = df.filter(col(value).isNotNull)
      .withColumn("_rn", row_number().over(spec.w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_half",
        when(col("_rn") <= col("_n") / 2, lit(1)).otherwise(lit(2)))
      .withColumn("_rk", rank().over(wVal).cast("long"))
      .withColumn("_eq", count(lit(1)).over(wTie))
      .withColumn("_avgrk",
        col("_rk").cast("double") +
          (col("_eq").cast("double") - lit(1.0)) / lit(2.0))
    val g = x.groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("_half") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("_half") === 2, lit(1L)).otherwise(lit(0L))).as("n2"),
        sum(when(col("_half") === 1, col("_avgrk"))
          .otherwise(lit(0.0))).as("_r1"),
        sum(col("_eq") * col("_eq") - lit(1L)).as("_tie"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val nd = n1 + n2
    val u1 = col("_r1") - n1 * (n1 + lit(1.0)) / lit(2.0)
    val muU = n1 * n2 / lit(2.0)
    val varU = n1 * n2 / lit(12.0) *
      ((nd + lit(1.0)) -
        col("_tie").cast("double") / (nd * (nd - lit(1.0))))
    val z0 = when(col("_u") > col("_mu"),
        (col("_u") - lit(0.5) - col("_mu")) / sqrt(col("_var")))
      .when(col("_u") < col("_mu"),
        (col("_u") + lit(0.5) - col("_mu")) / sqrt(col("_var")))
      .otherwise(lit(0.0))
    val ax = abs(col("_z")) / sqrt(lit(2.0))
    val tt = lit(1.0) / (lit(1.0) + lit(0.3275911) * ax)
    val poly = tt * (lit(0.254829592) + tt * (lit(-0.284496736) +
      tt * (lit(1.421413741) + tt * (lit(-1.453152027) +
        tt * lit(1.061405429)))))
    val p = poly * exp(-ax * ax)
    g.withColumn("_u", u1)
      .withColumn("_mu", muU)
      .withColumn("_var", varU)
      .withColumn("_z", when(col("_var") > 0, z0))
      .withColumn("u_stat", round(col("_u"), 6))
      .withColumn("z_score", round(col("_z"), 6) + lit(0.0))
      .withColumn("p_value", when(col("_z").isNotNull, round(p, 6)))
      .drop("_r1", "_tie", "_u", "_mu", "_var", "_z")
  }

  /** Cramér–von Mises two-sample drift statistic per series (c16,
    * beyond reference; Anderson 1962, "On the Distribution of the
    * Two-Sample Cramér–von Mises Criterion"): the ECDF-integral
    * complement to [[welchDrift]] (means) and [[rankSumDrift]]
    * (locations) between the chronological halves — sensitive to ANY
    * distribution change (shape, scale, tails), not just a location
    * shift. Anderson's rank computing formula:
    * U = n1·Σᵢ(rᵢ−i)² + n2·Σⱼ(sⱼ−j)² over the pooled ranks r/s and
    * own-sample indices i/j, T = U/(n1·n2·N) − (4·n1·n2 − 1)/(6·N).
    * Every rank and both Σ(…)² accumulate as EXACT integers (ties
    * broken on the order cols, so both engines replay the same total
    * order); the only FP ops are the final two products/divisions,
    * op-order-mirrored in the oracle. Under H0, E[T] = 1/6 + 1/(6N);
    * significance is read from Anderson's table (T ≥ 0.461 ≈ 5%), so
    * no p-value approximation is emitted.
    *
    * Scale shape: the c14 exchange — one chronological row_number, a
    * value-ordered pooled rank and a value-ordered within-half rank
    * on the same series-keyed exchange (extra sorts, no extra
    * shuffle width), one keyed agg. Output per series:
    * (partitionCols, n1, n2, u_stat, t_stat r6). */
  def cvmDrift(df: DataFrame, spec: SeriesSpec,
               value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = spec.partitionCols
    val wAll = Window.partitionBy(keys.map(col): _*)
    val wVal = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(value) +: spec.orderCols.map(col)): _*)
    val x = df.filter(col(value).isNotNull)
      .withColumn("_rn", row_number().over(spec.w))
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_half",
        when(col("_rn") <= col("_n") / 2, lit(1)).otherwise(lit(2)))
      .withColumn("_r", row_number().over(wVal).cast("long"))
    val wOwn = Window.partitionBy((keys.map(col) :+ col("_half")): _*)
      .orderBy((col(value) +: spec.orderCols.map(col)): _*)
    val y = x.withColumn("_i", row_number().over(wOwn).cast("long"))
      .withColumn("_d2",
        (col("_r") - col("_i")) * (col("_r") - col("_i")))
    val g = y.groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("_half") === 1, lit(1L)).otherwise(lit(0L))).as("n1"),
        sum(when(col("_half") === 2, lit(1L)).otherwise(lit(0L))).as("n2"),
        sum(when(col("_half") === 1, col("_d2"))
          .otherwise(lit(0L))).as("_s1"),
        sum(when(col("_half") === 2, col("_d2"))
          .otherwise(lit(0L))).as("_s2"))
    val n1 = col("n1").cast("double")
    val n2 = col("n2").cast("double")
    val nn = n1 + n2
    val u = n1 * col("_s1").cast("double") + n2 * col("_s2").cast("double")
    g.select((keys.map(col) :+ col("n1") :+ col("n2") :+
      round(u, 6).as("u_stat") :+
      round(u / (n1 * n2 * nn) -
        (lit(4.0) * n1 * n2 - lit(1.0)) / (lit(6.0) * nn), 6)
        .as("t_stat")): _*)
  }

  /** Pettitt change-point test per series (beyond reference; Pettitt
    * 1979): the nonparametric "WHERE did the level shift" companion to
    * [[cusum]]'s drift excursion and [[mannKendall]]'s monotonic
    * trend. U_t = Σ_{i≤t} Σ_{j>t} sgn(x_j − x_i); K = max_t |U_t|,
    * τ = the argmax (first if tied), and the approximate significance
    * p ≈ 2·exp(−6K²/(n³+n²)) (Pettitt's eq. 10), clamped to ≤ 1.
    *
    * NOT the textbook O(n²) pair sweep: U_t − U_{t−1} telescopes to
    * V_t = Σ_{j≠t} sgn(x_j − x_t) = n − 2·rank_t + 2 − eq_t (rank =
    * min-rank of x_t ascending, eq = tie-group size), so the whole
    * statistic is three SERIES-KEYED windows — a value-ordered rank, a
    * tie count, a time-ordered cumsum — and one keyed agg. Every
    * accumulated quantity (rank, V, U, K) is an exact integer, so
    * engine FP order cannot diverge; the single FP expression is the
    * p-value, mirrored op-for-op in the oracle. τ tie-breaks to the
    * SMALLEST t via max(struct(K, −t)). Output per series:
    * (partitionCols, n_obs, k_stat, tau, p_value r6). */
  def pettitt(df: DataFrame, spec: SeriesSpec, value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = spec.partitionCols
    val wAll = Window.partitionBy(keys.map(col): _*)
    val wVal = Window.partitionBy(keys.map(col): _*).orderBy(col(value))
    val wTie = Window.partitionBy((keys.map(col) :+ col(value)): _*)
    val x = df.filter(col(value).isNotNull)
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_rk", rank().over(wVal).cast("long"))
      .withColumn("_eq", count(lit(1)).over(wTie))
      .withColumn("_v",
        col("_n") - lit(2L) * col("_rk") + lit(2L) - col("_eq"))
      .withColumn("_t", row_number().over(spec.w).cast("long"))
      .withColumn("_u", sum(col("_v")).over(spec.running))
    // t = n is excluded: U_n ≡ 0 by antisymmetry, and keeping it would
    // let a flat series tie-break τ to n instead of 1
    val g = x.filter(col("_t") < col("_n"))
      .groupBy(keys.map(col): _*)
      .agg(max(col("_n")).as("n_obs"),
        max(struct(abs(col("_u")).as("k"), (-col("_t")).as("negt")))
          .as("_best"))
    val kd = col("k_stat").cast("double")
    val nd = col("n_obs").cast("double")
    g.withColumn("k_stat", col("_best.k"))
      .withColumn("tau", -col("_best.negt"))
      .withColumn("p_value", round(least(lit(1.0),
        lit(2.0) * exp(lit(-6.0) * kd * kd /
          (nd * nd * nd + nd * nd))), 6))
      .drop("_best")
  }

  /** Anderson–Darling normality test per series (beyond reference;
    * Anderson & Darling 1954, case-3 estimated-parameter variant with
    * D'Agostino & Stephens 1986 table 4.9 p-values): the heavier-
    * tailed complement to [[jarqueBera]] — JB sees only the 3rd/4th
    * moments, A² weights the whole ECDF with emphasis on the tails.
    * z-scores from the sample mean/std (ddof 1), sorted ascending;
    * A² = −n − (1/n)·Σ_k [(2k−1)·lnΦ(z_k) + (2n−2k+1)·ln(1−Φ(z_k))]
    * (the reversed-index pairing folded into one pass over the sorted
    * rank k), A*² = A²·(1 + 0.75/n + 2.25/n²), p from the four-segment
    * exp chain. Φ via the same A&S 7.1.26 erfc Horner chain as
    * [[runsTest]]/[[welchDrift]] in both engines — a documented
    * approximation whose op order the oracle mirrors exactly; tails
    * are floored at 1e-300 so ln never sees 0.
    *
    * Scale shape: two series-keyed windows (moments; the value-ordered
    * row_number — same exchange, second sort) and one keyed agg. Tie
    * rows swap only equal terms, so the rank's order-col tie-break
    * keeps both engines' sums identical. Output per series:
    * (partitionCols, n_obs, a2_stat r6, a2_mod r6, p_value r6). */
  def andersonDarling(df: DataFrame, spec: SeriesSpec,
                      value: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val keys = spec.partitionCols
    val wAll = Window.partitionBy(keys.map(col): _*)
    val wVal = Window.partitionBy(keys.map(col): _*)
      .orderBy((col(value) +: spec.orderCols.map(col)): _*)
    def erfcChain(a: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      val t = lit(1.0) / (lit(1.0) + lit(0.3275911) * a)
      val poly = t * (lit(0.254829592) + t * (lit(-0.284496736) +
        t * (lit(1.421413741) + t * (lit(-1.453152027) +
          t * lit(1.061405429)))))
      poly * exp(-a * a)
    }
    def erfc(u: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      when(u >= 0, erfcChain(u)).otherwise(lit(2.0) - erfcChain(-u))
    val x = df.filter(col(value).isNotNull)
      .withColumn("_n", count(lit(1)).over(wAll))
      .withColumn("_mu", avg(col(value)).over(wAll))
      .withColumn("_sd", stddev_samp(col(value)).over(wAll))
      .withColumn("_z", (col(value) - col("_mu")) / col("_sd"))
      .withColumn("_k", row_number().over(wVal).cast("long"))
    val phi = lit(0.5) * erfc(-col("_z") / sqrt(lit(2.0)))
    val phiC = lit(0.5) * erfc(col("_z") / sqrt(lit(2.0)))
    val term =
      (lit(2L) * col("_k") - lit(1L)).cast("double") *
        log(greatest(phi, lit(1e-300))) +
      (lit(2L) * col("_n") - lit(2L) * col("_k") + lit(1L)).cast("double") *
        log(greatest(phiC, lit(1e-300)))
    // degenerate guard (the welch/c14 when(_var > 0) pattern): an
    // all-tied series (_sd = 0) or a single row (Spark stddev_samp →
    // NaN, DuckDB → NULL) nulls every term — NaN > 0 is false, so the
    // guard absorbs both shapes and the series' sum degrades to NULL
    // on both engines instead of a NaN-vs-NULL divergence; n ≥ 2
    // non-constant rows are required for a defined A²
    val g = x.withColumn("_term", when(col("_sd") > 0, term))
      .groupBy(keys.map(col): _*)
      .agg(max(col("_n")).as("n_obs"), sum(col("_term")).as("_s"))
    val nd = col("n_obs").cast("double")
    val a2 = -nd - col("_s") / nd
    val aStar = col("_a2") * (lit(1.0) + lit(0.75) / nd +
      lit(2.25) / (nd * nd))
    val a = col("_as")
    val p = when(a >= 0.6,
        exp(lit(1.2937) - lit(5.709) * a + lit(0.0186) * a * a))
      .when(a > 0.34,
        exp(lit(0.9177) - lit(4.279) * a - lit(1.38) * a * a))
      .when(a > 0.2, lit(1.0) -
        exp(lit(-8.318) + lit(42.796) * a - lit(59.938) * a * a))
      .otherwise(lit(1.0) -
        exp(lit(-13.436) + lit(101.14) * a - lit(223.73) * a * a))
    g.withColumn("_a2", a2)
      .withColumn("_as", aStar)
      .withColumn("a2_stat", round(col("_a2"), 6))
      .withColumn("a2_mod", round(col("_as"), 6))
      // p gated on the sum existing: Spark greatest() SKIPS nulls
      // (greatest(0.0, null) = 0.0) while the clamp must stay NULL for
      // a degenerate series, matching the oracle's NULL propagation
      .withColumn("p_value", when(col("_s").isNotNull,
        round(least(lit(1.0), greatest(lit(0.0), p)), 6)))
      .drop("_s", "_a2", "_as")
  }

  /** One series' Mann–Kendall sweep (n ≥ 2; None below). The slope
    * median averages the two middle RANKS ((m+1)/2, (m+2)/2 in 1-based
    * integer division — equal when m is odd), mirrored literally in the
    * oracle SQL, so even-m medians cost exactly one (a+b) rounding plus
    * an exact /2 in both engines. */
  private[stats] def mannKendallOfSeries(xs: Array[Double])
      : Option[(Long, Long, java.lang.Double, java.lang.Double, Double)] = {
    val n = xs.length
    if (n < 2) return None
    var s = 0L
    val slopes = new Array[Double](n * (n - 1) / 2)
    var m = 0
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        val d = xs(j) - xs(i)
        if (d > 0) s += 1 else if (d < 0) s -= 1
        slopes(m) = d / (j - i).toDouble
        m += 1
        j += 1
      }
      i += 1
    }
    java.util.Arrays.sort(slopes)
    val lo = (m + 1) / 2; val hi = (m + 2) / 2 // 1-based middle ranks
    val sen = (slopes(lo - 1) + slopes(hi - 1)) / 2.0
    // tie groups over exact double equality (same parquet doubles on
    // both engines; counts are exact integers < 2^53)
    val tieCounts = new java.util.HashMap[Double, Int]()
    xs.foreach(x => tieCounts.merge(x, 1, _ + _))
    var tieTerm = 0.0
    tieCounts.values.forEach { c =>
      val t = c.toDouble
      tieTerm += t * (t - 1.0) * (2.0 * t + 5.0)
    }
    val nd = n.toDouble
    val varS = (nd * (nd - 1.0) * (2.0 * nd + 5.0) - tieTerm) / 18.0
    if (varS <= 0) Some((n.toLong, s, null, null, sen))
    else {
      val z =
        if (s > 0) (s.toDouble - 1.0) / math.sqrt(varS)
        else if (s < 0) (s.toDouble + 1.0) / math.sqrt(varS)
        else 0.0
      // A&S 7.1.26 erfc chain — op order mirrors runsTest/the oracle
      val ax = math.abs(z) / math.sqrt(2.0)
      val t = 1.0 / (1.0 + 0.3275911 * ax)
      val poly = t * (0.254829592 + t * (-0.284496736 +
        t * (1.421413741 + t * (-1.453152027 + t * 1.061405429))))
      val p = poly * math.exp(-ax * ax)
      Some((n.toLong, s, z, p, sen))
    }
  }
}
