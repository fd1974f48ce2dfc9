package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Fitted GARCH(1,1): σ²_t = ω + α·r²_{t−1} + β·σ²_{t−1}. */
final case class GarchFit(omega: Double, alpha: Double, beta: Double,
                          longRunVar: Double, logLik: Double)

/** C10: GARCH(1,1) fit by grid search with variance targeting.
  * Ref: regime_hmm_garch.py:23-62 — α×β grid with α+β < 0.999, ω from
  * variance targeting ω = var·(1−α−β), Gaussian log-likelihood through
  * the sequential σ² recursion; best LL wins (O5 argmax).
  *
  * Scale split (SURVEY §2.4 C10): the grid is embarrassingly parallel —
  * one Spark task per (α, β) candidate, each running the cheap O(n)
  * recursion over the broadcast return series; `max_by` picks the
  * winner. The data-sized work (the returns themselves) is reduced to
  * one ordered collect of a bounded series (the reference operates on
  * ≤ ~10⁴ returns; for longer series fit per-window or per-regime
  * slices, which is how the reference uses it).
  */
object Garch {

  val DefaultAlphas: Seq[Double] = Seq(0.01, 0.05, 0.10, 0.15, 0.20, 0.25)
  val DefaultBetas: Seq[Double] = Seq(0.50, 0.60, 0.70, 0.75, 0.80, 0.85, 0.90, 0.95)

  /** Gaussian log-likelihood of returns under a (ω, α, β) candidate. */
  private def logLik(r: Array[Double], omega: Double, alpha: Double,
                     beta: Double, initVar: Double): Double = {
    var sigma2 = initVar
    var ll = 0.0
    var t = 0
    while (t < r.length) {
      if (t > 0) sigma2 = omega + alpha * r(t - 1) * r(t - 1) + beta * sigma2
      val s2 = math.max(sigma2, 1e-12)
      ll += -0.5 * (math.log(2.0 * math.Pi * s2) + r(t) * r(t) / s2)
      t += 1
    }
    ll
  }

  /** Fit on an ordered returns column. Deterministic. */
  def fit(returns: DataFrame, orderCols: Seq[String], value: String,
          alphas: Seq[Double] = DefaultAlphas,
          betas: Seq[Double] = DefaultBetas): GarchFit = {
    val spark = returns.sparkSession
    import spark.implicits._
    val r = returns
      .orderBy(orderCols.map(col): _*)
      .select(col(value).cast("double"))
      .collect().map(_.getDouble(0))
    val variance = {
      val mean = r.sum / r.length
      r.map(x => (x - mean) * (x - mean)).sum / r.length
    }
    val bc = spark.sparkContext.broadcast(r)
    val grid = for {
      a <- alphas; b <- betas if a + b < 0.999
    } yield (a, b)
    val fits = grid.toDF("alpha", "beta").as[(Double, Double)]
      .map { case (a, b) =>
        val omega = variance * (1.0 - a - b)
        (omega, a, b, variance, logLik(bc.value, omega, a, b, variance))
      }
      .toDF("omega", "alpha", "beta", "long_run_var", "ll")
    val best = fits
      .orderBy(col("ll").desc, col("alpha"), col("beta"))
      .first()
    GarchFit(best.getDouble(0), best.getDouble(1), best.getDouble(2),
      best.getDouble(3), best.getDouble(4))
  }

  /** [[fit]] for MANY already-collected series in ONE job: the same
    * grid, variance targeting, log-likelihood recursion and
    * (ll desc, α, β) winner per series, over the broadcast series map
    * instead of one sequential collect + grid job per series. The
    * |series| × |grid| candidates are a local relation, so the job runs
    * min(|candidates|, defaultParallelism) tasks, each scoring its
    * slice of the candidates. Numerics are
    * byte-identical to per-series [[fit]] calls: each task sees the
    * same ordered return array, computes the same driver-order
    * variance sum, and the driver argmax applies the same
    * (ll desc, α asc, β asc) tie-break. */
  def fitMany(spark: SparkSession, series: Map[Int, Array[Double]],
              alphas: Seq[Double] = DefaultAlphas,
              betas: Seq[Double] = DefaultBetas): Map[Int, GarchFit] = {
    if (series.isEmpty) return Map.empty
    import spark.implicits._
    val bc = spark.sparkContext.broadcast(series)
    val grid = for {
      k <- series.keys.toSeq.sorted
      a <- alphas; b <- betas if a + b < 0.999
    } yield (k, a, b)
    val fits = grid.toDF("k", "alpha", "beta").as[(Int, Double, Double)]
      .map { case (k, a, b) =>
        val r = bc.value(k)
        val variance = {
          val mean = r.sum / r.length
          r.map(x => (x - mean) * (x - mean)).sum / r.length
        }
        val omega = variance * (1.0 - a - b)
        (k, omega, a, b, variance, logLik(r, omega, a, b, variance))
      }.collect()
    fits.groupBy(_._1).map { case (k, cs) =>
      val best = cs.minBy(c => (-c._6, c._3, c._4))
      k -> GarchFit(best._2, best._3, best._4, best._5, best._6)
    }
  }

  /** The G5 fit stage as a checkable frame: one GARCH grid PER REGIME
    * label (ref regime_hmm_garch.py:96-128 fits one GARCH per HMM
    * regime). The cluster dimension is regimes × (α,β) candidates; each
    * task replays the O(n) σ² recursion over its regime's broadcast
    * return subsequence (ordered by `orderCols` within the regime).
    * Output: (regime, alpha, beta, omega, long_run_var, ll). */
  def gridPerRegime(returns: DataFrame, orderCols: Seq[String], value: String,
                    regime: String,
                    alphas: Seq[Double] = DefaultAlphas,
                    betas: Seq[Double] = DefaultBetas): DataFrame = {
    val spark = returns.sparkSession
    import spark.implicits._
    val collected = returns
      .orderBy(orderCols.map(col): _*)
      .select(col(regime).cast("int"), col(value).cast("double"))
      .collect().map(r => (r.getInt(0), r.getDouble(1)))
    // groupBy preserves encounter order => per-regime subsequences stay
    // in series order
    val byRegime = collected.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    val bc = spark.sparkContext.broadcast(byRegime)
    val grid = for {
      k <- byRegime.keys.toSeq.sorted
      a <- alphas; b <- betas if a + b < 0.999
    } yield (k, a, b)
    grid.toDF("regime", "alpha", "beta").as[(Int, Double, Double)]
      .map { case (k, a, b) =>
        val r = bc.value(k)
        val mean = r.sum / r.length
        val variance = r.map(x => (x - mean) * (x - mean)).sum / r.length
        val omega = variance * (1.0 - a - b)
        (k, a, b, omega, variance, logLik(r, omega, a, b, variance))
      }
      .toDF("regime", "alpha", "beta", "omega", "long_run_var", "ll")
  }

  /** PER-SERIES grid: every series' full (α, β) grid scored inside its
    * group — ONE shuffle on the series key, then
    * [[graft.series.SeriesOps.runs]] over the window's clustering — so
    * at scale the work distributes as series × configs with each σ²
    * recursion bounded by one series. Oracle-gated by
    * q29b (keyed recursive-CTE replay). */
  def gridGrouped(returns: DataFrame, seriesCol: String,
                  orderCols: Seq[String], value: String,
                  alphas: Seq[Double] = DefaultAlphas,
                  betas: Seq[Double] = DefaultBetas): DataFrame = {
    val spark = returns.sparkSession
    import spark.implicits._
    val spec = graft.series.SeriesSpec(Seq(seriesCol), orderCols)
    val indexed = returns
      .withColumn("rn", row_number().over(spec.w))
      .select(col(seriesCol).cast("long").as("sid"), col("rn"),
        col(value).cast("double").as("v"))
    val grid = for { a <- alphas; b <- betas if a + b < 0.999 } yield (a, b)
    indexed.as[(Long, Int, Double)].mapPartitions { rows =>
      graft.series.SeriesOps.runs(rows)(_._1) { (sid, run) =>
        val r = run.map(_._3).toArray
        if (r.isEmpty) Iterator.empty
        else {
          val mean = r.sum / r.length
          val variance = r.map(x => (x - mean) * (x - mean)).sum / r.length
          grid.iterator.map { case (a, b) =>
            val omega = variance * (1.0 - a - b)
            (sid, a, b, omega, variance, logLik(r, omega, a, b, variance))
          }
        }
      }
    }.toDF(seriesCol, "alpha", "beta", "omega", "long_run_var", "ll")
  }

  /** The full scored grid as a DataFrame (for inspection / queries). */
  def grid(returns: DataFrame, orderCols: Seq[String], value: String,
           alphas: Seq[Double] = DefaultAlphas,
           betas: Seq[Double] = DefaultBetas): DataFrame = {
    val spark = returns.sparkSession
    import spark.implicits._
    val r = returns
      .orderBy(orderCols.map(col): _*)
      .select(col(value).cast("double"))
      .collect().map(_.getDouble(0))
    val mean = r.sum / r.length
    val variance = r.map(x => (x - mean) * (x - mean)).sum / r.length
    val bc = spark.sparkContext.broadcast(r)
    val grid = for { a <- alphas; b <- betas if a + b < 0.999 } yield (a, b)
    grid.toDF("alpha", "beta").as[(Double, Double)]
      .map { case (a, b) =>
        val omega = variance * (1.0 - a - b)
        (a, b, omega, variance, logLik(bc.value, omega, a, b, variance))
      }
      .toDF("alpha", "beta", "omega", "long_run_var", "ll")
  }
}
