package graft.eval

import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

import graft.series.{SeriesOps, SeriesSpec}

/** The per-series metric kernel both evaluators run, for one series and
  * for millions. Keyed calls hash-cluster the labeled prices of both
  * tables on the series key alone; that exchange also satisfies the
  * (key, label) log-returns window, which only adds an in-partition
  * sort. One-series calls coalesce both labeled sides into one partition
  * instead (the series' rows meet in one task either way), so they plan
  * no exchange at all. [[graft.series.SeriesOps.runs]] then hands each
  * series' two sides — its prices and its returns, in time order — to a
  * record function that computes every metric from those arrays: at most
  * one exchange and no materialized intermediate per call, instead of a
  * SQL leg (and its exchanges and jobs) per metric.
  *
  * A series' two sides are held in one task, as the reference's numpy
  * evaluators hold them in one process and as the per-series ADF, hurst
  * and FFT kernels already did: per-task memory is one series of
  * doubles per side. The many-series shape scales by series count.
  *
  * The metric helpers below reproduce the retired SQL legs value for
  * value: moments and `corr` use Spark's aggregate update formulas in
  * row (time) order, and a SQL null is carried as NaN (the inputs are
  * finite log returns, so no metric is NaN otherwise) and written back
  * as null by [[run]]. The single-series regime fit reuses them
  * ([[graft.gen.RegimeConditional]]). */
private[graft] object SeriesKernel {

  /** One side of one series, in time order: its non-null prices and its
    * log returns (first row and null returns dropped). */
  final case class Side(prices: Array[Double], rets: Array[Double])

  /** One row per series present in `real` or `synth` (keyed by `key`,
    * output under `keyName` with the key's type; `None` treats each
    * table as one series, keyed by a constant `0L`): `record(real,
    * synth)` as the `fields` columns, or no row when it returns None. A
    * double field that is NaN is written as null. */
  def run(real: DataFrame, synth: DataFrame, key: Option[Column],
          orderCols: Seq[String], price: String, keyName: String,
          fields: StructType)(record: (Side, Side) => Option[Seq[Any]]): DataFrame = {
    val k = key.getOrElse(lit(0L))
    // the window below re-sorts each series, so an input's own global
    // sort (CsvIO.loadMultipleCsv ends in one) is dropped unexecuted
    def labeled(df: DataFrame, isReal: Boolean): DataFrame =
      PlanBridge.withoutTopSorts(df).select((k.as("_k") +: lit(isReal).as("_real") +:
        col(price).cast("double").as("_p") +: orderCols.map(col)): _*)
    val sides = labeled(real, isReal = true).unionByName(labeled(synth, isReal = false))
    val clustered = if (key.isDefined) sides.repartition(col("_k")) else sides.coalesce(1)
    val rows = SeriesOps.logReturns(clustered,
        SeriesSpec(Seq("_k", "_real"), orderCols), "_p", "ret")
      .select(col("_k"), col("_real"), col("_p"), col("ret"))
    val schema = StructType(
      StructField(keyName, rows.schema("_k").dataType) +: fields.fields)
    val nullable = fields.fields.map(f => f.nullable)
    rows.mapPartitions { part =>
      SeriesOps.runs(part)(_.get(0)) { (key, run) =>
        def side(isReal: Boolean): Side = {
          val ps = Array.newBuilder[Double]; val rs = Array.newBuilder[Double]
          while (run.hasNext && run.head.getBoolean(1) == isReal) {
            val r = run.next()
            if (!r.isNullAt(2)) ps += r.getDouble(2)
            if (!r.isNullAt(3)) rs += r.getDouble(3)
          }
          Side(ps.result(), rs.result())
        }
        // the window sorts each key's rows synth (false) first
        val synthSide = side(isReal = false)
        val realSide = side(isReal = true)
        if (realSide.rets.isEmpty && synthSide.rets.isEmpty) None
        else record(realSide, synthSide).map { vs =>
          Row.fromSeq(key +: vs.zip(nullable).map {
            case (d: Double, true) if d.isNaN => null
            case (v, _) => v
          })
        }
      }
    }(Encoders.row(schema))
  }

  /** Nullable double columns (a NaN value is written as null). */
  def nullableDoubles(names: String*): StructType =
    StructType(names.map(StructField(_, DoubleType)))

  /** SQL `a / b` on doubles with ANSI off: null (NaN) for a zero divisor. */
  def div(a: Double, b: Double): Double = if (b == 0.0) Double.NaN else a / b

  /** Spark's central-moment aggregate buffer (`avg`, `stddev_pop`,
    * `stddev_samp`, `skewness`, `kurtosis`) updated over `xs(from until
    * until)` in order. */
  final class Moments(xs: Array[Double], from: Int, until: Int) {
    def this(xs: Array[Double]) = this(xs, 0, xs.length)
    private var n = 0.0; private var sum = 0.0; private var avg = 0.0
    private var m2 = 0.0; private var m3 = 0.0; private var m4 = 0.0
    private var i = from
    while (i < until) {
      val x = xs(i)
      sum += x
      val newN = n + 1.0
      val delta = x - avg
      val deltaN = delta / newN
      val newM2 = m2 + delta * (delta - deltaN)
      val delta2 = delta * delta
      val deltaN2 = deltaN * deltaN
      val newM3 = m3 - 3.0 * deltaN * newM2 + delta * (delta2 - deltaN2)
      m4 = m4 - 4.0 * deltaN * newM3 - 6.0 * deltaN2 * newM2 +
        delta * (delta * delta2 - deltaN * deltaN2)
      m3 = newM3; m2 = newM2; avg = avg + deltaN; n = newN
      i += 1
    }
    def mean: Double = div(sum, n)
    def stdPop: Double = if (n == 0.0) Double.NaN else math.sqrt(m2 / n)
    /** null (NaN) for fewer than two values, as Spark's `stddev_samp`. */
    def stdSamp: Double = if (n <= 1.0) Double.NaN else math.sqrt(m2 / (n - 1.0))
    def skewness: Double =
      if (n == 0.0 || m2 == 0.0) Double.NaN
      else div(math.sqrt(n) * m3, math.sqrt(m2 * m2 * m2))
    def kurtosis: Double =
      if (n == 0.0 || m2 == 0.0) Double.NaN else div(n * m4, m2 * m2) - 3.0
  }

  /** `coalesce(corr(f(x_t), f(x_{t−k})), 0)` in Spark's Pearson update
    * order; a side with no returns stays null. */
  def lagCorr(xs: Array[Double], k: Int, f: Double => Double = identity): Double = {
    if (xs.isEmpty) return Double.NaN
    var n = 0.0; var xAvg = 0.0; var yAvg = 0.0
    var ck = 0.0; var xMk = 0.0; var yMk = 0.0
    var t = k
    while (t < xs.length) {
      val x = f(xs(t)); val y = f(xs(t - k))
      val newN = n + 1.0
      val dx = x - xAvg
      val dy = y - yAvg
      val newXAvg = xAvg + dx / newN
      val newYAvg = yAvg + dy / newN
      ck += dx * (y - newYAvg)
      xMk += dx * (x - newXAvg)
      yMk += dy * (y - newYAvg)
      xAvg = newXAvg; yAvg = newYAvg; n = newN
      t += 1
    }
    val c = if (n <= 1.0) Double.NaN else div(ck, math.sqrt(xMk * yMk))
    if (c.isNaN) 0.0 else c
  }

  /** Squared Jensen–Shannon divergence of the two sides' `nBins`-bin
    * histograms over their combined min..max (+1e-10 smoothing,
    * renormalized) — the reference's `kl_divergence`; null (NaN) when
    * one side is empty. A zero range puts every value in the last bin,
    * as the SQL bucket formula does (its zero-width divide is null, and
    * `least` skips it). */
  def histJs2(a: Array[Double], b: Array[Double], nBins: Int): Double = {
    if (a.isEmpty || b.isEmpty) return Double.NaN
    val lo = math.min(a.min, b.min)
    val width = math.max(a.max, b.max) - lo
    def probs(xs: Array[Double]): Array[Double] = {
      val c = new Array[Long](nBins)
      xs.foreach { v =>
        val q = div(v - lo, width)
        c(if (q.isNaN) nBins - 1
          else math.min(math.floor(q * nBins).toLong, nBins - 1L).toInt) += 1
      }
      c.map(_.toDouble / xs.length + 1e-10)
    }
    val pa = probs(a); val pb = probs(b)
    val tpa = pa.sum; val tpb = pb.sum
    var ka = 0.0; var kb = 0.0; var i = 0
    while (i < nBins) {
      val x = pa(i) / tpa; val y = pb(i) / tpb
      val m = (x + y) / 2
      ka += x * StrictMath.log(x / m); kb += y * StrictMath.log(y / m)
      i += 1
    }
    ka * 0.5 + kb * 0.5
  }

  /** (Wasserstein-1, KS) between the two sides' ECDFs over the union of
    * their distinct values. One side empty: (0.0, null). */
  def ecdf(a: Array[Double], b: Array[Double]): (Double, Double) = {
    if (a.isEmpty || b.isEmpty) return (0.0, Double.NaN)
    val sa = a.sorted; val sb = b.sorted
    var i = 0; var j = 0; var cumA = 0L; var cumB = 0L
    var wass = 0.0; var ks = Double.NegativeInfinity
    while (i < sa.length || j < sb.length) {
      val v = if (j >= sb.length || (i < sa.length && sa(i) <= sb(j))) sa(i) else sb(j)
      while (i < sa.length && sa(i) == v) { cumA += 1; i += 1 }
      while (j < sb.length && sb(j) == v) { cumB += 1; j += 1 }
      val gap = math.abs(cumA.toDouble / sa.length - cumB.toDouble / sb.length)
      if (gap > ks) ks = gap
      if (i < sa.length || j < sb.length) {
        val next = if (j >= sb.length || (i < sa.length && sa(i) <= sb(j))) sa(i) else sb(j)
        wass += gap * (next - v)
      }
    }
    (wass, ks)
  }
}
