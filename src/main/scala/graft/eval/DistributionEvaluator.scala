package graft.eval

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import graft.eval.SeriesKernel.{Moments, Side, ecdf, histJs2, lagCorr, nullableDoubles}
import graft.stats.{Adf, SeriesStats}

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
  * many-series [[evaluateGrouped]] / [[evaluateGroupedWithAdf]] /
  * [[adfGrouped]] all run [[SeriesKernel]] — one pass over each series'
  * two return arrays, after one exchange on the series key — and differ
  * only in the ADF leg they add; [[evaluate]] runs it as one series,
  * with no exchange, and collects its one record.
  */
object DistributionEvaluator {

  /** The record's columns before the ADF legs, in output order. */
  private val CoreFields = Seq("kl_divergence", "wasserstein_distance",
    "real_return_mean", "synthetic_return_mean", "real_return_std",
    "synthetic_return_std", "real_autocorr_lag1", "synthetic_autocorr_lag1",
    "real_autocorr_lag5", "synthetic_autocorr_lag5", "real_autocorr_lag10",
    "synthetic_autocorr_lag10")

  /** One series' deterministic record ([[CoreFields]], then
    * quality_score), from its two return arrays: JS² over a 100-bin
    * shared-support histogram, ECDF Wasserstein, population moments and
    * `coalesce(corr, 0)` autocorrelations. A side with no returns reads
    * null. */
  private def core(real: Side, synth: Side): Seq[Double] = {
    val kl = histJs2(real.rets, synth.rets, 100)
    val wass = ecdf(real.rets, synth.rets)._1
    val (mr, ms) = (new Moments(real.rets), new Moments(synth.rets))
    def acs(k: Int) = Seq(lagCorr(real.rets, k), lagCorr(synth.rets, k))
    Seq(kl, wass, mr.mean, ms.mean, mr.stdPop, ms.stdPop) ++ acs(1) ++
      acs(5) ++ acs(10) :+ (kl + 0.1 * wass + math.abs(mr.stdPop - ms.stdPop))
  }

  private val CoreSchema = nullableDoubles(CoreFields :+ "quality_score": _*)

  /** ADF p-value columns: the −1.0 sentinel is never null. */
  private def adfFields(names: String*): Seq[StructField] =
    names.map(StructField(_, DoubleType, nullable = false))

  /** [[evaluate]]'s deterministic record per series: one row per
    * `seriesCol` value present in either table (a side with no returns
    * reads null, like the reference's degenerate cases). No ADF leg
    * (that is [[evaluateGroupedWithAdf]]'s). */
  def evaluateGrouped(real: DataFrame, synth: DataFrame, seriesCol: String,
                      orderCols: Seq[String], price: String): DataFrame =
    SeriesKernel.run(real, synth, Some(col(seriesCol)), orderCols, price, seriesCol,
      CoreSchema)((r, s) => Some(core(r, s)))

  /** PER-SERIES ADF legs (the c05 record): per series, each side's τ,
    * MacKinnon p and AIC-chosen lag from [[Adf.closedForm2]] (maxlag=2
    * closed form; q30 carries the maxlag=20 production path) on its
    * first `maxRows` returns; a side with no returns reads
    * (0.0, −1.0, −1). The series key is cast to long. */
  def adfGrouped(real: DataFrame, synth: DataFrame, seriesCol: String,
                 orderCols: Seq[String], price: String,
                 maxRows: Int = SeriesStats.MaxCollectRows): DataFrame = {
    def legs(s: Side): Seq[Any] =
      if (s.rets.isEmpty) Seq[Any](0.0, -1.0, -1)
      else {
        val r = Adf.closedForm2(s.rets.take(maxRows))
        Seq[Any](r.tau, r.pValue, r.usedLag)
      }
    def side(p: String) = adfFields(s"${p}_adf_tau", s"${p}_adf_pvalue") :+
      StructField(s"${p}_adf_lag", IntegerType, nullable = false)
    SeriesKernel.run(real, synth, Some(col(seriesCol).cast("long")), orderCols,
      price, seriesCol, StructType(side("real") ++ side("synthetic"))) {
      (r, s) => Some(legs(r) ++ legs(s))
    }
  }

  /** The full grouped metric record: [[evaluateGrouped]]'s columns,
    * then each side's closed-form ADF p-value as [[adfGrouped]] computes
    * it, from the same kernel pass. */
  def evaluateGroupedWithAdf(real: DataFrame, synth: DataFrame,
                             seriesCol: String, orderCols: Seq[String],
                             price: String,
                             maxRows: Int = SeriesStats.MaxCollectRows): DataFrame = {
    def pValue(s: Side): Double =
      if (s.rets.isEmpty) -1.0 else Adf.closedForm2(s.rets.take(maxRows)).pValue
    SeriesKernel.run(real, synth, Some(col(seriesCol)), orderCols, price, seriesCol,
      StructType(CoreSchema.fields ++
        adfFields("real_adf_pvalue", "synthetic_adf_pvalue"))) {
      (r, s) => Some(core(r, s) ++ Seq(pValue(r), pValue(s)))
    }
  }

  /** The reference's one-series metric record: the kernel run as one
    * series (no exchange), collected. Each side's ADF (C5,
    * [[Adf.test]], maxlag 20) runs on its first
    * [[SeriesStats.MaxCollectRows]] returns inside the same task; a side
    * with ≤ 31 returns, or whose ADF fit is singular, keeps the
    * reference's −1.0 "unavailable" sentinel, as does every side when
    * `withAdf` is false. Returned as a local one-row frame (no row when
    * both sides have no returns). Nothing is read twice, so nothing is
    * materialized. */
  def evaluate(real: DataFrame, synth: DataFrame,
               orderCols: Seq[String], price: String,
               withAdf: Boolean = true): DataFrame = {
    def pValue(s: Side): Double = {
      val x = s.rets.take(SeriesStats.MaxCollectRows)
      if (!withAdf || x.length <= 31) -1.0 // reference sentinel when untestable
      else
        // the reference wraps adfuller in try/except and publishes
        // -1.0; a constant or barely-long-enough series makes the
        // OLS normal equations singular here
        scala.util.Try(Adf.test(x).pValue).getOrElse(-1.0)
    }
    val record = SeriesKernel.run(real, synth, None, orderCols, price,
        "_k", StructType(CoreSchema.fields.init ++
          adfFields("real_adf_pvalue", "synthetic_adf_pvalue") :+
          CoreSchema.fields.last)) { (r, s) =>
        val c = core(r, s)
        Some(c.init ++ Seq(pValue(r), pValue(s), c.last))
      }
      .drop("_k")
    real.sparkSession.createDataFrame(
      java.util.Arrays.asList(record.collect(): _*), record.schema)
  }
}
