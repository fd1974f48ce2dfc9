package graft.eval

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}
import graft.stats.Divergence

/** The reference's secondary-metric evaluator: compares synthetic vs
  * real price series on their return distributions and produces the
  * flat metric record (SURVEY §1.1 "Metrics record").
  * Ref: sdg_plugins/evaluator/distribution_evaluator.py:85-116.
  *
  * Output: one-row DataFrame with the reference's exact keys —
  * kl_divergence (the squared-JS misnomer, kept for parity),
  * wasserstein_distance, real/synthetic_return_mean/std (population),
  * real/synthetic_autocorr_lag{1,5,10}, real/synthetic_adf_pvalue
  * (−1.0 "statsmodels unavailable" fallback, matching the reference's
  * behavior when the lib is missing — a full MacKinnon ADF is out of
  * v1 scope, SURVEY C5), quality_score = kl + 0.1·wass + |Δstd|.
  *
  * One implementation per metric: the one-series [[evaluate]] and the
  * many-series [[evaluateGrouped]] run the same keyed window+agg core
  * ([[groupedCore]]) over the same checkpointed returns
  * ([[groupedReturns]]); [[evaluate]] keys every row by one constant.
  */
object DistributionEvaluator {

  /** [[evaluate]]'s deterministic core per series: one metric
    * record per `seriesCol` value (series present in either table;
    * metrics involving a missing side go null-driven like the
    * reference's degenerate cases). Every stage — returns, per-key
    * JS²/Wasserstein/KS ([[Divergence.histJsdGrouped]] /
    * [[Divergence.ecdfStatsGrouped]]), moments, autocorrs — is keyed
    * hash aggregation over (series, label): the shape that scores
    * millions of real-vs-synthetic series pairs in one pass at 100 TB.
    * No ADF leg (that is [[evaluate]]'s driver-side C5 path). */
  def evaluateGrouped(real: DataFrame, synth: DataFrame, seriesCol: String,
                      orderCols: Seq[String], price: String): DataFrame =
    graft.core.Scope.materialized(real.sparkSession) {
      groupedCore(groupedReturns(real, synth, col(seriesCol), orderCols, price),
        seriesCol, orderCols)
    }

  /** The labeled per-series returns frame every metric leg consumes,
    * keyed by `key` (a series column, or [[OneSeries]]) — built and
    * MATERIALIZED (localCheckpoint) once so callers composing several
    * legs (the q30b core + ADF record) share one window exchange
    * instead of re-deriving it per leg. localCheckpoint
    * rather than persist (r17): it truncates the lineage, so the ~10
    * downstream leg subtrees carry a one-node scan instead of the full
    * window chain each — the r17 q31c plan was 100 kB formatted and paid
    * seconds of cold planning/codegen from exactly this. Partitioning
    * and in-partition order metadata survive the checkpoint, so the
    * keyed window/agg legs still skip their exchange+sort. */
  private[eval] def groupedReturns(real: DataFrame, synth: DataFrame,
                                   key: Column, orderCols: Seq[String],
                                   price: String): DataFrame = {
    def labeled(df: DataFrame, lab: String): DataFrame =
      df.select((key.as("_k") +: lit(lab).as("lab") +:
        col(price).cast("double").as("_p") +: orderCols.map(col)): _*)
    val labSpec = SeriesSpec(Seq("_k", "lab"), orderCols)
    SeriesOps.logReturns(
        labeled(real, "real").unionByName(labeled(synth, "synth")),
        labSpec, "_p", "ret")
      .filter(col("ret").isNotNull)
      .select((col("_k") +: col("lab") +: col("ret") +: orderCols.map(col)): _*)
      .localCheckpoint()
  }

  private[eval] def groupedCore(u: DataFrame, seriesCol: String,
                                orderCols: Seq[String]): DataFrame = {
    val kl = Divergence.histJsdGrouped(u, "ret", col("lab"), "real", "synth",
        100, "_k")
      .select(col("_k"), col("kl_divergence"))
    val wass = Divergence.ecdfStatsGrouped(u, "ret", col("lab"), "real",
        "synth", "_k")
      .select(col("_k"), col("wasserstein").as("wasserstein_distance"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_k"), col("lab")).orderBy(orderCols.map(col): _*)
    val lagged = u
      .withColumn("l1", lag(col("ret"), 1).over(w))
      .withColumn("l5", lag(col("ret"), 5).over(w))
      .withColumn("l10", lag(col("ret"), 10).over(w))
      .groupBy(col("_k"), col("lab")).agg(
        avg(col("ret")).as("mean"),
        stddev_pop(col("ret")).as("std"),
        coalesce(corr(col("ret"), col("l1")), lit(0.0)).as("ac1"),
        coalesce(corr(col("ret"), col("l5")), lit(0.0)).as("ac5"),
        coalesce(corr(col("ret"), col("l10")), lit(0.0)).as("ac10"))
    val pivoted = lagged.groupBy(col("_k")).agg(
      max(when(col("lab") === "real", col("mean"))).as("real_return_mean"),
      max(when(col("lab") === "synth", col("mean"))).as("synthetic_return_mean"),
      max(when(col("lab") === "real", col("std"))).as("real_return_std"),
      max(when(col("lab") === "synth", col("std"))).as("synthetic_return_std"),
      max(when(col("lab") === "real", col("ac1"))).as("real_autocorr_lag1"),
      max(when(col("lab") === "synth", col("ac1"))).as("synthetic_autocorr_lag1"),
      max(when(col("lab") === "real", col("ac5"))).as("real_autocorr_lag5"),
      max(when(col("lab") === "synth", col("ac5"))).as("synthetic_autocorr_lag5"),
      max(when(col("lab") === "real", col("ac10"))).as("real_autocorr_lag10"),
      max(when(col("lab") === "synth", col("ac10"))).as("synthetic_autocorr_lag10"))

    // the checkpointed returns blocks feed all three metric legs; the
    // public entry points materialize the record and release them via
    // Scope.materialized before returning
    kl.join(wass, "_k").join(pivoted, "_k")
      .withColumn("quality_score",
        col("kl_divergence") + lit(0.1) * col("wasserstein_distance") +
          abs(col("real_return_std") - col("synthetic_return_std")))
      .withColumnRenamed("_k", seriesCol)
  }

  /** PER-SERIES ADF legs for the grouped metric record (the leg
    * [[evaluateGrouped]] omits): one row per series with the reference
    * record's real/synthetic adf p-values plus the τ statistic and the
    * AIC-chosen lag ([[graft.stats.Adf.closedForm2]] — maxlag=2
    * closed-form witness; q30 carries the maxlag=20 production path).
    *
    * Scale shape: the logReturns window already hash-clusters and sorts
    * rows by (series, label, order); consecutive-run grouping in
    * mapPartitions then fits every series with NO second exchange and
    * memory bounded by one capped series (the g01b pattern). One keyed
    * shuffle total for a million series. */
  def adfGrouped(real: DataFrame, synth: DataFrame, seriesCol: String,
                 orderCols: Seq[String], price: String,
                 maxRows: Int = graft.stats.SeriesStats.MaxCollectRows): DataFrame = {
    def labeled(df: DataFrame, isReal: Int): DataFrame =
      df.select((col(seriesCol).cast("long").as("_k") +: lit(isReal).as("lab") +:
        col(price).cast("double").as("_p") +: orderCols.map(col)): _*)
    val labSpec = SeriesSpec(Seq("_k", "lab"), orderCols)
    val u = SeriesOps.logReturns(
        labeled(real, 1).unionByName(labeled(synth, 0)),
        labSpec, "_p", "ret")
      .filter(col("ret").isNotNull)
      .select(col("_k"), col("lab"), col("ret"))
    adfFromClustered(u, seriesCol, maxRows)
  }

  /** The full grouped metric record in ONE pass over the shared
    * returns frame: [[evaluateGrouped]]'s core joined with the
    * [[adfGrouped]] legs, both consuming the SAME persisted
    * (series, label)-clustered returns — one window exchange total
    * instead of each leg re-deriving its own (the q30b shape). The
    * ADF leg sees the identical per-(series, label) return sequences
    * [[adfGrouped]] builds itself (the label string maps to its int
    * AFTER the clustering, preserving runs), so every output value is
    * unchanged. `seriesCol` must be long-typed (the adfGrouped
    * contract). */
  def evaluateGroupedWithAdf(real: DataFrame, synth: DataFrame,
                             seriesCol: String, orderCols: Seq[String],
                             price: String,
                             maxRows: Int =
                               graft.stats.SeriesStats.MaxCollectRows): DataFrame =
    graft.core.Scope.materialized(real.sparkSession) {
      val u = groupedReturns(real, synth, col(seriesCol), orderCols, price)
      val core = groupedCore(u, seriesCol, orderCols)
      val adf = adfFromClustered(
        u.select(col("_k").cast("long").as("_k"),
          when(col("lab") === "real", 1).otherwise(0).as("lab"), col("ret")),
        seriesCol, maxRows)
        .select(col(seriesCol), col("real_adf_pvalue"),
          col("synthetic_adf_pvalue"))
      core.join(adf, seriesCol)
    }

  /** Consecutive-run ADF fit over an already-(series, label)-clustered
    * (_k long, lab int, ret) frame — the shared tail of [[adfGrouped]]
    * and [[evaluateGroupedWithAdf]]. */
  private def adfFromClustered(u: DataFrame, seriesCol: String,
                               maxRows: Int): DataFrame = {
    val spark = u.sparkSession
    import spark.implicits._
    val perLab = u.as[(Long, Int, Double)].mapPartitions { rows =>
      val it = rows.buffered
      new Iterator[(Long, Int, Double, Double, Int)] {
        def hasNext: Boolean = it.hasNext
        def next(): (Long, Int, Double, Double, Int) = {
          val sid = it.head._1; val lab = it.head._2
          val b = Array.newBuilder[Double]
          var kept = 0
          while (it.hasNext && it.head._1 == sid && it.head._2 == lab) {
            val v = it.next()._3
            // fit-prefix cap: same first-maxRows contract as the
            // driver-side collect path (and the oracle's rk filter)
            if (kept < maxRows) { b += v; kept += 1 }
          }
          val r = graft.stats.Adf.closedForm2(b.result())
          (sid, lab, r.tau, r.pValue, r.usedLag)
        }
      }
    }.toDF("_k", "lab", "tau", "pv", "ulag")
    perLab.groupBy(col("_k")).agg(
        coalesce(max(when(col("lab") === 1, col("tau"))), lit(0.0)).as("real_adf_tau"),
        coalesce(max(when(col("lab") === 1, col("pv"))), lit(-1.0)).as("real_adf_pvalue"),
        coalesce(max(when(col("lab") === 1, col("ulag"))), lit(-1)).as("real_adf_lag"),
        coalesce(max(when(col("lab") === 0, col("tau"))), lit(0.0)).as("synthetic_adf_tau"),
        coalesce(max(when(col("lab") === 0, col("pv"))), lit(-1.0)).as("synthetic_adf_pvalue"),
        coalesce(max(when(col("lab") === 0, col("ulag"))), lit(-1)).as("synthetic_adf_lag"))
      .withColumnRenamed("_k", seriesCol)
  }

  /** The reference's one-series metric record, on the keyed cores with
    * one constant series key: [[groupedReturns]] checkpoints the labeled
    * returns once (clustered by (key, label), sorted by time), and two
    * concurrent legs read that checkpoint — [[groupedCore]]'s record
    * and, with `withAdf`, both labels' bounded return prefixes
    * ([[returnPrefixes]], one collect) for the driver-side ADF (C5,
    * graft.stats.Adf). A side with ≤ 31 returns, or whose ADF fit is
    * singular, keeps the reference's −1.0 "unavailable" sentinel, as
    * does every side when `withAdf` is false. The record is collected
    * and returned as a local one-row frame (no row when both sides are
    * empty); every storage block the call created is released before it
    * returns, or throws. One series
    * occupies one keyed partition per label — many series go through
    * [[evaluateGrouped]]. */
  def evaluate(real: DataFrame, synth: DataFrame,
               orderCols: Seq[String], price: String,
               withAdf: Boolean = true): DataFrame = {
    val spark = real.sparkSession
    graft.core.Scope.released(spark) {
      val u = groupedReturns(real, synth, OneSeries, orderCols, price)
      val (core, (adfReal, adfSynth)) = graft.core.Par.par2(
        {
          val c = groupedCore(u, "_k", orderCols).drop("_k")
          spark.createDataFrame(java.util.Arrays.asList(c.collect(): _*), c.schema)
        },
        if (!withAdf) (-1.0, -1.0)
        else {
          val prefixes = returnPrefixes(u, orderCols)
          def adfOf(lab: String): Double = {
            val s = prefixes.getOrElse(lab, Array.empty[Double])
            if (s.length <= 31) -1.0 // reference sentinel when untestable
            else
              // the reference wraps adfuller in try/except and publishes
              // -1.0; a constant or barely-long-enough series makes the
              // OLS normal equations singular here
              scala.util.Try(graft.stats.Adf.test(s).pValue).getOrElse(-1.0)
          }
          (adfOf("real"), adfOf("synth"))
        })
      core.withColumn("real_adf_pvalue", lit(adfReal))
        .withColumn("synthetic_adf_pvalue", lit(adfSynth))
        .select((core.columns.init ++ Seq("real_adf_pvalue",
          "synthetic_adf_pvalue", "quality_score")).map(col): _*)
    }
  }

  /** The series key the one-series evaluators group by. */
  private[eval] val OneSeries = lit(0L)

  /** Both labels' first [[graft.stats.SeriesStats.MaxCollectRows]]
    * returns in time order, from a [[groupedReturns]] checkpoint of one
    * series, in one collect. The checkpoint is already clustered by
    * (key, label) and sorted by time, so the row_number adds no
    * exchange. */
  private[eval] def returnPrefixes(u: DataFrame,
                                   orderCols: Seq[String]): Map[String, Array[Double]] = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("_k"), col("lab")).orderBy(orderCols.map(col): _*)
    u.withColumn("_rk", row_number().over(w))
      .filter(col("_rk") <= graft.stats.SeriesStats.MaxCollectRows)
      .select(col("lab"), col("_rk"), col("ret"))
      .collect()
      .groupBy(_.getString(0))
      .view.mapValues(_.sortBy(_.getInt(1)).map(_.getDouble(2))).toMap
  }
}
