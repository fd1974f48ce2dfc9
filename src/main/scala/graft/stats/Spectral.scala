package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}

/** C7: spectral distance — RMSE between the sum-normalized FFT power
  * spectra of two equal-length series.
  * Ref: composite_metric.py:50-56 (full fft, |X_k|², /(Σ+1e-20),
  * sqrt(mean((p−q)²))).
  *
  * Spark-first design: the DFT is computed as a distributed sum over
  * frequencies — `spark.range(n)` × broadcast series, each task computes
  * |Σ_t x_t e^{−2πikt/n}|² for its k values. O(n²) work split across
  * the cluster with no shuffle (one final agg); for the reference's
  * n ≤ ~10⁴ this beats shipping an FFT library, and at larger n the
  * series itself would be windowed per-partition anyway.
  */
object Spectral {

  /** Power spectrum |X_k|², k = 0..n−1, of a driver-resident series. */
  def powerSpectrum(spark: SparkSession, series: Array[Double]): DataFrame = {
    val n = series.length
    val bc = spark.sparkContext.broadcast(series)
    import spark.implicits._
    spark.range(n).as[Long].mapPartitions { ks =>
      val x = bc.value
      val m = x.length
      ks.map { k =>
        var re = 0.0; var im = 0.0
        var t = 0
        while (t < m) {
          val ang = -2.0 * math.Pi * k * t / m
          re += x(t) * math.cos(ang)
          im += x(t) * math.sin(ang)
          t += 1
        }
        (k, re * re + im * im)
      }
    }.toDF("k", "power")
  }

  /** PER-SERIES spectral distance, fully IN-PLAN: for each series key,
    * the real/synth return halves are truncated to their common length
    * n and each half's n-point power spectrum is computed by an
    * IN-PARTITION FFT (`Fft.dftReal`, Bluestein for arbitrary n —
    * O(n log n) per series) inside [[SeriesOps.runs]] over a single
    * exchange on the series key. Spectra are sum-normalized
    * and reduced to the RMSE distance; emits one row per (series, k)
    * plus the per-series distance.
    *
    * `maxPoints` (default 2²⁰) bounds per-task memory — a single series
    * must fit one task (~4 doubles × next-pow2(2n) for the Bluestein
    * buffers ≈ 70 MB at the default). Unlike the previous exploded-DFT
    * shape the bound is NOT silent: every output row carries a `capped`
    * flag (1 when the common half-length exceeded maxPoints and the
    * spectrum is a prefix-DFT, 0 when it is the full-length
    * composite_metric.py value).
    * Ref formula: composite_metric.py:50-56. Oracle-gated by c01b. */
  def distanceGrouped(real: DataFrame, synth: DataFrame, seriesCol: String,
                      orderCols: Seq[String], price: String,
                      maxPoints: Int = 1 << 20): DataFrame = {
    def labeled(df: DataFrame, lab: String): DataFrame =
      df.select((col(seriesCol).cast("long").as("_k") +: lit(lab).as("lab") +:
        col(price).cast("double").as("_p") +: orderCols.map(col)): _*)
    val labSpec = SeriesSpec(Seq("_k", "lab"), orderCols)
    distanceGroupedFromReturns(
      SeriesOps.logReturns(
          labeled(real, "real").unionByName(labeled(synth, "synth")),
          labSpec, "_p", "ret")
        .filter(col("ret").isNotNull),
      seriesCol, orderCols, maxPoints)
  }

  /** [[distanceGrouped]] over an ALREADY-BUILT labeled returns frame
    * (`(_k, lab ∈ {real, synth}, ret, orderCols…)` — the
    * CompositeMetric/DistributionEvaluator shared shape): callers that
    * computed the returns for their other metric legs reuse that one
    * window exchange instead of re-deriving it from prices. Values are
    * identical — the per-(series, half) return sequences and their
    * t-order are the same either way. */
  def distanceGroupedFromReturns(rets0: DataFrame, seriesCol: String,
                                 orderCols: Seq[String],
                                 maxPoints: Int = 1 << 20): DataFrame = {
    val spark = rets0.sparkSession
    import spark.implicits._
    // t = per-(series, half) position; rides the returns window's
    // (sid, lab) exchange+sort, so it costs no further shuffle
    val rets = rets0
      .withColumn("t",
        row_number().over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("_k"), col("lab"))
          .orderBy(orderCols.map(col): _*)) - 1)
      .select(col("_k").cast("long").as("sid"),
        (col("lab") === "real").as("is_real"),
        col("t"), col("ret"))
    // ONE exchange on the series key; the in-partition sort puts each
    // series' two halves back to back in t-order (real first), so
    // SeriesOps.runs below needs no per-group shuffle or state
    val sorted = rets
      .repartition(col("sid"))
      .sortWithinPartitions(col("sid"), col("is_real").desc, col("t"))
      .as[(Long, Boolean, Long, Double)]
    sorted.mapPartitions { rows =>
      SeriesOps.runs(rows)(_._1) { (sid, run) =>
        val rb = Array.newBuilder[Double]
        val sb = Array.newBuilder[Double]
        run.foreach(r => if (r._2) rb += r._4 else sb += r._4)
        val ra = rb.result(); val sa = sb.result()
        val n0 = math.min(ra.length, sa.length)
        val capped = if (n0 > maxPoints) 1 else 0
        val n = math.min(n0, maxPoints)
        if (n == 0) Iterator.empty else {
          val pa = Fft.powerSpectrum(ra.take(n))
          val pb = Fft.powerSpectrum(sa.take(n))
          // same fold order as composite_metric.py:50-56
          val za = pa.sum + 1e-20
          val zb = pb.sum + 1e-20
          var acc = 0.0; var k = 0
          while (k < n) {
            val d = pa(k) / za - pb(k) / zb; acc += d * d; k += 1
          }
          val dist = math.sqrt(acc / n)
          Iterator.tabulate(n)(k => (sid, k, pa(k) / za, pb(k) / zb, dist, capped))
        }
      }
    }.toDF(seriesCol, "k", "p_real", "p_synth", "spectral_distance", "capped")
  }

  /** Spectral distance between two in-memory series (truncated to common
    * length) by FFT (O(n log n), the reference's shape) — on the driver
    * or inside a task (the evaluators' per-series kernel); the
    * distributed DFT above remains the path for spectra of series too
    * long to FFT in one task. */
  def distance(a: Array[Double], b: Array[Double]): Double = {
    val n = math.min(a.length, b.length)
    if (n == 0) return 0.0
    val pa = Fft.powerSpectrum(a.take(n))
    val pb = Fft.powerSpectrum(b.take(n))
    val sa = pa.sum + 1e-20
    val sb = pb.sum + 1e-20
    var acc = 0.0
    var k = 0
    while (k < n) {
      val d = pa(k) / sa - pb(k) / sb
      acc += d * d
      k += 1
    }
    math.sqrt(acc / n)
  }
}
