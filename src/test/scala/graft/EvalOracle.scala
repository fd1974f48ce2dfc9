package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}
import graft.stats.{Divergence, SeriesStats, Spectral}

/** The retired SQL evaluator legs, kept as the oracles EvalSpec holds
  * the per-series kernel to. The single-series [[evaluate]] / [[score]]
  * compute every metric on one unkeyed labeled returns frame with
  * [[Divergence.histJsd]] / [[Divergence.ecdfStats]] and scalar
  * driver-side arithmetic; the grouped [[evaluateGrouped]] /
  * [[scoreGrouped]] are the keyed window + hash-aggregate pipelines
  * (per-key histogram, ECDF, lag and pivot legs) the many-series
  * evaluators ran before; [[hurst]] is the retired q16 per-lag R/S
  * Hurst query. */
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
            EvalOracle.hurst(df.select((col(price).cast("double").as("_p") +:
                orderCols.map(col)): _*), SeriesSpec(Nil, orderCols), "_p")
              .first().getAs[Double]("hurst")
          (hurst(real), hurst(synth), Spectral.distance(
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

  // ── grouped oracle: the retired keyed SQL legs ───────────────────────

  /** Labeled per-series returns `(_k, lab, ret, orderCols…)`. */
  private def groupedReturns(real: DataFrame, synth: DataFrame, seriesCol: String,
                             orderCols: Seq[String], price: String): DataFrame = {
    def labeled(df: DataFrame, lab: String): DataFrame =
      df.select((col(seriesCol).as("_k") +: lit(lab).as("lab") +:
        col(price).cast("double").as("_p") +: orderCols.map(col)): _*)
    SeriesOps.logReturns(
        labeled(real, "real").unionByName(labeled(synth, "synth")),
        SeriesSpec(Seq("_k", "lab"), orderCols), "_p", "ret")
      .filter(col("ret").isNotNull)
      .select((col("_k") +: col("lab") +: col("ret") +: orderCols.map(col)): _*)
  }

  /** Per-key JS²/JS over a per-key combined min..max support; a key
    * whose range is zero has no bin and emits no row. */
  def histJsdGrouped(df: DataFrame, value: String, label: Column,
                     a: String, b: String, nBins: Int, key: String): DataFrame = {
    val two = df.filter(label.isin(a, b))
      .select(col(key).as("_k"), col(value).cast("double").as("v"), label.as("lab"))
    val wK = Window.partitionBy(col("_k"))
    val counts = two
      .withColumn("lo", min(col("v")).over(wK))
      .withColumn("hi", max(col("v")).over(wK))
      .withColumn("bucket", graft.stats.Histogram.bucketCol(col("v"), col("lo"),
        col("hi"), nBins))
      .filter(col("bucket").isNotNull)
      .groupBy(col("_k"), col("bucket"))
      .agg(
        sum(when(col("lab") === a, 1).otherwise(0)).as("ca"),
        sum(when(col("lab") === b, 1).otherwise(0)).as("cb"))
    val allBins = counts.select(col("_k")).distinct()
      .select(col("_k"), explode(sequence(lit(0), lit(nBins - 1))).as("bucket"))
    val eps = 1e-10
    val smoothed = allBins.join(counts, Seq("_k", "bucket"), "left")
      .select(col("_k"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
      .withColumn("ta", sum(col("ca")).over(wK))
      .withColumn("tb", sum(col("cb")).over(wK))
      .withColumn("pa_raw", col("ca") / col("ta") + eps)
      .withColumn("pb_raw", col("cb") / col("tb") + eps)
      .withColumn("tpa", sum(col("pa_raw")).over(wK))
      .withColumn("tpb", sum(col("pb_raw")).over(wK))
      .withColumn("pa", col("pa_raw") / col("tpa"))
      .withColumn("pb", col("pb_raw") / col("tpb"))
      .withColumn("m", (col("pa") + col("pb")) / 2)
    smoothed.groupBy(col("_k")).agg(
      (sum(col("pa") * log(col("pa") / col("m"))) * 0.5 +
        sum(col("pb") * log(col("pb") / col("m"))) * 0.5).as("kl_divergence"))
      .withColumn("js_divergence", sqrt(col("kl_divergence")))
      .withColumnRenamed("_k", key)
  }

  /** Per-key (wasserstein, ks_stat) over the key's distinct support. */
  def ecdfStatsGrouped(df: DataFrame, value: String, label: Column,
                       a: String, b: String, key: String): DataFrame = {
    val perValue = df.filter(label.isin(a, b))
      .select(col(key).as("_k"), col(value).cast("double").as("v"), label.as("lab"))
      .groupBy(col("_k"), col("v"))
      .agg(
        sum(when(col("lab") === a, 1).otherwise(0)).as("na"),
        sum(when(col("lab") === b, 1).otherwise(0)).as("nb"))
    val wKey = Window.partitionBy(col("_k"))
    val wIn = Window.partitionBy(col("_k")).orderBy(col("v"))
    val run = wIn.rowsBetween(Window.unboundedPreceding, 0)
    perValue
      .withColumn("ta", sum(col("na")).over(wKey))
      .withColumn("tb", sum(col("nb")).over(wKey))
      .withColumn("fa", sum(col("na")).over(run) / col("ta"))
      .withColumn("fb", sum(col("nb")).over(run) / col("tb"))
      .withColumn("dx", lead(col("v"), 1).over(wIn) - col("v"))
      .withColumn("gap", abs(col("fa") - col("fb")))
      .groupBy(col("_k")).agg(
        sum(when(col("dx").isNotNull, col("gap") * col("dx")).otherwise(0.0))
          .as("wasserstein"),
        max(col("gap")).as("ks_stat"))
      .withColumnRenamed("_k", key)
  }

  private def side(lab: String, c: String) = max(when(col("lab") === lab, col(c)))

  /** The distribution record per series, no ADF leg. */
  def evaluateGrouped(real: DataFrame, synth: DataFrame, seriesCol: String,
                      orderCols: Seq[String], price: String): DataFrame = {
    val u = groupedReturns(real, synth, seriesCol, orderCols, price)
    val kl = histJsdGrouped(u, "ret", col("lab"), "real", "synth", 100, "_k")
      .select(col("_k"), col("kl_divergence"))
    val wass = ecdfStatsGrouped(u, "ret", col("lab"), "real", "synth", "_k")
      .select(col("_k"), col("wasserstein").as("wasserstein_distance"))
    val w = Window.partitionBy(col("_k"), col("lab")).orderBy(orderCols.map(col): _*)
    val pivoted = u
      .withColumn("l1", lag(col("ret"), 1).over(w))
      .withColumn("l5", lag(col("ret"), 5).over(w))
      .withColumn("l10", lag(col("ret"), 10).over(w))
      .groupBy(col("_k"), col("lab")).agg(
        avg(col("ret")).as("mean"),
        stddev_pop(col("ret")).as("std"),
        coalesce(corr(col("ret"), col("l1")), lit(0.0)).as("ac1"),
        coalesce(corr(col("ret"), col("l5")), lit(0.0)).as("ac5"),
        coalesce(corr(col("ret"), col("l10")), lit(0.0)).as("ac10"))
      .groupBy(col("_k")).agg(
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
    kl.join(wass, "_k").join(pivoted, "_k")
      .withColumn("quality_score",
        col("kl_divergence") + lit(0.1) * col("wasserstein_distance") +
          abs(col("real_return_std") - col("synthetic_return_std")))
      .withColumnRenamed("_k", seriesCol)
  }

  /** The composite's 9 SQL components per series. */
  def scoreGrouped(real: DataFrame, synth: DataFrame, seriesCol: String,
                   orderCols: Seq[String], price: String): DataFrame = {
    val u = groupedReturns(real, synth, seriesCol, orderCols, price)
    val js = histJsdGrouped(u, "ret", col("lab"), "real", "synth", 99, "_k")
      .select(col("_k"), col("js_divergence"))
    val ks = ecdfStatsGrouped(u, "ret", col("lab"), "real", "synth", "_k")
      .select(col("_k"), col("ks_stat").as("ks_statistic"))
    val w = Window.partitionBy(col("_k"), col("lab")).orderBy(orderCols.map(col): _*)
    val piv = u
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
        (kurtosis(col("ret")) + 3.0).as("kurt_raw"))
      .groupBy(col("_k")).agg(
        side("real", "ac1").as("rac1"), side("synth", "ac1").as("sac1"),
        side("real", "ac5").as("rac5"), side("synth", "ac5").as("sac5"),
        side("real", "ac24").as("rac24"), side("synth", "ac24").as("sac24"),
        side("real", "vc").as("rvc"), side("synth", "vc").as("svc"),
        side("real", "std").as("rstd"), side("synth", "std").as("sstd"),
        side("real", "skew").as("rskew"), side("synth", "skew").as("sskew"),
        side("real", "kurt_raw").as("rkurt"), side("synth", "kurt_raw").as("skurt"))
    def ratioDev(r: Column, s: Column) =
      when(abs(r) > 1e-6, abs(s / r - 1.0)).otherwise(abs(s))
    js.join(ks, "_k").join(piv, "_k").select(
      col("_k").as(seriesCol), col("js_divergence"), col("ks_statistic"),
      ratioDev(col("rac1"), col("sac1")).as("ac_lag1"),
      ratioDev(col("rac5"), col("sac5")).as("ac_lag5"),
      ratioDev(col("rac24"), col("sac24")).as("ac_lag24"),
      ratioDev(col("rvc"), col("svc")).as("vol_cluster"),
      abs(col("sskew") - col("rskew")).as("skew_diff"),
      (abs(col("skurt") - col("rkurt")) / greatest(col("rkurt"), lit(1.0)))
        .as("kurt_diff"),
      abs(col("sstd") / col("rstd") - 1.0).as("std_ratio"))
  }

  /** The full composite per series: [[scoreGrouped]] joined with the
    * per-side grouped hurst on prices and the grouped spectral distance,
    * then the weighted score in [[graft.eval.CompositeMetric.WeightOrder]]. */
  def scoreGroupedFull(real: DataFrame, synth: DataFrame, seriesCol: String,
                       orderCols: Seq[String], price: String): DataFrame = {
    val core = scoreGrouped(real, synth, seriesCol, orderCols, price)
      .withColumn(seriesCol, col(seriesCol).cast("long"))
    def labeled(df: DataFrame, lab: String): DataFrame =
      df.select((col(seriesCol).cast("long").as("_k") +: lit(lab).as("lab") +:
        col(price).cast("double").as("_p") +: orderCols.map(col)): _*)
    val hpiv = SeriesStats.hurstGrouped(
        labeled(real, "real").unionByName(labeled(synth, "synth")),
        SeriesSpec(Seq("_k", "lab"), orderCols), "_p")
      .groupBy(col("_k")).agg(side("real", "hurst").as("hr"),
        side("synth", "hurst").as("hs"))
      .filter(col("hr").isNotNull && col("hs").isNotNull)
      .select(col("_k").as(seriesCol), abs(col("hs") - col("hr")).as("hurst_diff"))
    val sp = Spectral.distanceGrouped(real, synth, seriesCol, orderCols, price)
      .groupBy(col(seriesCol)).agg(max(col("spectral_distance")).as("spectral"))
    val weights = graft.eval.CompositeMetric.WeightOrder
    core.join(hpiv, seriesCol).join(sp, seriesCol)
      .withColumn("composite_score",
        weights.map { case (c, wt) => col(c) * lit(wt) }.reduce(_ + _) /
          lit(weights.map(_._2).sum))
  }

  /** The retired q16 single-series R/S Hurst: the ordered prefix
    * broadcast, one task per lag (cumulative-deviation range started
    * at 0), and a SQL `regr_slope` over the surviving lags — the oracle
    * [[SeriesStats.hurst]] is held to. Output: single row (hurst, n_lags). */
  def hurst(df: DataFrame, spec: SeriesSpec, value: String,
            maxRows: Int = SeriesStats.MaxCollectRows): DataFrame = {
    val spark = df.sparkSession
    val series = df
      .orderBy(spec.orderCols.map(col): _*)
      .limit(maxRows)
      .select(col(value).cast("double"))
      .collect().map(_.getDouble(0))
    val n = series.length
    val maxLag = math.min(100L, n.toLong / 4).toInt
    if (maxLag < 2)
      return spark.sql("SELECT CAST(0.5 AS DOUBLE) AS hurst, CAST(0 AS BIGINT) AS n_lags")
    val bc = spark.sparkContext.broadcast(series)
    import spark.implicits._
    val perLag = spark.range(2, maxLag + 1).as[Long].mapPartitions { lags =>
      val x = bc.value
      lags.flatMap { lagL =>
        val lag = lagL.toInt
        val nSeg = x.length / lag
        var sumRs = 0.0; var nRs = 0
        var s0 = 0
        while (s0 < nSeg) {
          val off = s0 * lag
          // segment mean
          var m = 0.0; var i = 0
          while (i < lag) { m += x(off + i); i += 1 }
          m /= lag
          // pop std + cumdev range in one pass
          var v = 0.0; var cum = 0.0; var cmax = 0.0; var cmin = 0.0
          i = 0
          while (i < lag) {
            val d = x(off + i) - m
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
        if (nRs > 0 && sumRs > 0) Some((lag, sumRs / nRs)) else None
      }
    }.toDF("lag", "rs_mean").filter(col("rs_mean") > 0)
    perLag.groupBy().agg(
      regr_slope(log(col("rs_mean")), log(col("lag").cast("double"))).as("slope"),
      count(lit(1)).as("n_lags"))
      .select(
        coalesce(least(greatest(col("slope"), lit(0.0)), lit(1.0)), lit(0.5)).as("hurst"),
        col("n_lags"))
  }
}
