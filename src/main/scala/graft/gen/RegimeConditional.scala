package graft.gen

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StructField, StructType}

import graft.eval.SeriesKernel
import graft.series.{SeriesOps, SeriesSpec}
import graft.stats.{Garch, GarchFit}

/** Per-regime return parameters (ref RegimeModel regime_params,
  * regime_conditional.py:108-132). */
final case class RegimeParams(mean: Double, std: Double, skew: Double,
                              ar1: Double, count: Long)

final case class RegimeModel(
    nRegimes: Int,
    transition: Array[Array[Double]],
    startProbs: Array[Double],
    params: Array[RegimeParams],
    garch: Option[Array[GarchFit]] = None,
    // Reference-checkpoint interop (regime_conditional.py:22-31 to_dict):
    // z-normalization stats for [ret, vol_short, vol_ratio], HMM emission
    // parameters, and the original price level — enough to re-run HMM
    // labeling on new data from a loaded artifact.
    featureMeans: Array[Double] = Array.empty,
    featureStds: Array[Double] = Array.empty,
    hmmMeans: Array[Array[Double]] = Array.empty,
    hmmCovars: Array[Array[Double]] = Array.empty,
    dataMean: Double = 0.0,
    dataStd: Double = 1.0)

/** G4/G5: HMM regime-conditional generators.
  * Ref: regime_conditional.py:83-186 (G4); regime_hmm_garch.py:77-190
  * (G5 adds per-regime GARCH(1,1) variance recursions).
  *
  * Single-series fit: one ordered collect of the capped price prefix;
  * feature extraction (W1 log-returns, W5 rolling vols with
  * min_periods=1, W7 vol ratio, P3 NaN/Inf row filter, z-normalize,
  * [[featureRows]]), the small Baum-Welch EM ([[Hmm]]) and the
  * per-regime statistics over the Viterbi-labeled returns run on the
  * driver; G5's GARCH grids run Spark-parallel per regime
  * ([[Garch.fitMany]]). The many-series fits ([[featuresGrouped]],
  * [[fitGrouped]], [[regimeGarchGridGrouped]]) stay keyed Spark passes.
  *
  * Generation: sequential small-state recurrences (regime path, AR(1)
  * returns, GARCH σ²) on the driver (SURVEY §7.4.2), price
  * reconstruction (W2) distributed.
  */
object RegimeConditional {

  /** One capped price prefix's normalized HMM features, row-aligned:
    * `rn` (1-based return index), `ret`, the [f0, f1, f2] rows and the
    * z-normalization means and population stds of [ret, vol_short,
    * vol_ratio]. */
  private[gen] final case class FeatureRows(
      rn: Array[Int], ret: Array[Double], x: Array[Array[Double]],
      means: Array[Double], stds: Array[Double])

  /** The first `maxRows` prices in `orderCols` order, in one collect (a
    * null price stays null; [[featureRows]] reads it as the floor). */
  private def pricePrefix(prices: DataFrame, orderCols: Seq[String], price: String,
                          maxRows: Int): Array[java.lang.Double] =
    prices.orderBy(orderCols.map(col): _*).limit(maxRows)
      .select(col(price).cast("double")).collect()
      .map(r => if (r.isNullAt(0)) null else java.lang.Double.valueOf(r.getDouble(0)))

  /** The [ret, vol_short, vol_ratio] feature chain (ref
    * regime_conditional.py:64-79) over one time-ordered price prefix, in
    * Spark's arithmetic: `lp = log(greatest(p, 1e-10))` (a null price
    * reads as the floor), W1 returns `lp_t − lp_{t−1}` from the second
    * row, W5 trailing `stddev_samp` over `volWindow` / `volLong` returns
    * (each frame recomputed with Spark's update formulas, null for a
    * one-row frame), W7 `vol_ratio` (1.0 unless `vol_long > 1e-10`, with
    * SQL's NaN-is-largest comparison), the P3 filter that drops a row
    * whose ret, vol_short or vol_ratio is null, NaN or infinite, and the
    * z-normalization by `sum/n` means and population stds over the kept
    * rows. */
  private[gen] def featureRows(prices: Array[java.lang.Double], volWindow: Int = 24,
                               volLong: Int = 72): FeatureRows = {
    val Floor = 1e-10
    val lp = prices.map(p => StrictMath.log(if (p == null) Floor else math.max(p, Floor)))
    val ret = Array.tabulate(math.max(lp.length - 1, 0))(i => lp(i + 1) - lp(i))
    def trailingStd(w: Int): Array[Double] = Array.tabulate(ret.length) { i =>
      new SeriesKernel.Moments(ret, math.max(i - w + 1, 0), i + 1).stdSamp
    }
    val volShort = trailingStd(volWindow)
    val volL = trailingStd(volLong)
    val ratio = Array.tabulate(ret.length) { i =>
      val vl = volL(i)
      // a one-row frame's null vol_long fails the condition; NaN passes
      if (math.min(i + 1, volLong) > 1 && (vl.isNaN || vl > 1e-10)) volShort(i) / vl
      else 1.0
    }
    def finite(v: Double): Boolean = !v.isNaN && !v.isInfinite
    val kept = ret.indices.filter(i =>
      finite(ret(i)) && finite(volShort(i)) && finite(ratio(i))).toArray
    val cols = Array(ret, volShort, ratio).map(c => kept.map(i => c(i)))
    val ms = cols.map(c => new SeriesKernel.Moments(c))
    val means = ms.map(_.mean); val stds = ms.map(_.stdPop)
    FeatureRows(kept.map(_ + 1), cols(0),
      Array.tabulate(kept.length)(r => Array.tabulate(3)(j =>
        (cols(j)(r) - means(j)) / (stds(j) + 1e-10))),
      means, stds)
  }

  /** Extract + normalize the [ret, vol_short, vol_ratio] feature frame
    * of the first `maxRows` prices: one ordered collect and
    * [[featureRows]] on the driver, returned as a local frame
    * (rn, ret, f0, f1, f2, then the constant normalization stats m0, s0,
    * m1, s1, m2, s2). Ref: regime_conditional.py:64-79. */
  def features(prices: DataFrame, orderCols: Seq[String], price: String,
               volWindow: Int = 24, volLong: Int = 72,
               maxRows: Int = 20000): DataFrame = {
    val f = featureRows(pricePrefix(prices, orderCols, price, maxRows), volWindow, volLong)
    val stats = (0 until 3).flatMap(j => Seq(f.means(j), f.stds(j)))
    val rows = f.rn.indices.map(i =>
      Row.fromSeq(Seq[Any](f.rn(i), f.ret(i)) ++ f.x(i) ++ stats))
    prices.sparkSession.createDataFrame(java.util.Arrays.asList(rows: _*), FeatureSchema)
  }

  /** [[features]]' columns, with the nullability the SQL chain gave them. */
  private val FeatureSchema = StructType(
    StructField("rn", IntegerType, nullable = false) +:
      StructField("ret", DoubleType) +:
      Seq("f0", "f1", "f2", "m0", "s0", "m1", "s1", "m2", "s2")
        .map(StructField(_, DoubleType)))

  /** PER-SERIES grouped twin of [[features]]: every series' normalized
    * [f0, f1, f2] feature frame in ONE shuffle on the series key — the
    * fit-prefix cap, log-returns, rolling vols, NaN filter and
    * z-normalization all run per series inside (seriesCol)-partitioned
    * windows / aggregations, so the number of series is unbounded (the
    * 100-TB fit path: series × feature parallelism, no driver state).
    * The per-series normalization stats come back via a join against
    * the per-series aggregate (one row per series — broadcast-sized). */
  def featuresGrouped(prices: DataFrame, seriesCol: String,
                      orderCols: Seq[String], price: String,
                      volWindow: Int = 24, volLong: Int = 72,
                      maxRowsPerSeries: Int = 20000): DataFrame = {
    val spec = SeriesSpec(Seq(seriesCol), orderCols)
    // fit-prefix cap per series (same contract as features' maxRows)
    val capped = prices
      .withColumn("__prn", row_number().over(spec.w))
      .filter(col("__prn") <= maxRowsPerSeries).drop("__prn")
    val rets = SeriesOps.logReturns(capped, spec, price, "ret")
      .filter(col("ret").isNotNull)
      .withColumn("rn", row_number().over(spec.w))
    val rspec = SeriesSpec(Seq(seriesCol), Seq("rn"))
    val f = SeriesOps.rollingStd(
      SeriesOps.rollingStd(rets, rspec, "ret", volWindow, 1, "vol_short"),
      rspec, "ret", volLong, 1, "vol_long")
      .withColumn("vol_ratio", SeriesOps.volRatio(col("vol_short"), col("vol_long")))
    val cols = Seq("ret", "vol_short", "vol_ratio")
    val clean = cols.foldLeft(f)((d, c) =>
      d.filter(col(c).isNotNull && !isnan(col(c)) &&
        abs(col(c)) =!= Double.PositiveInfinity))
    val stats = clean.groupBy(col(seriesCol)).agg(
      avg(col("ret")).as("m0"), stddev_pop(col("ret")).as("s0"),
      avg(col("vol_short")).as("m1"), stddev_pop(col("vol_short")).as("s1"),
      avg(col("vol_ratio")).as("m2"), stddev_pop(col("vol_ratio")).as("s2"))
    clean.join(stats, Seq(seriesCol))
      .select(col(seriesCol), col("rn"), col("ret"),
        ((col("ret") - col("m0")) / (col("s0") + 1e-10)).as("f0"),
        ((col("vol_short") - col("m1")) / (col("s1") + 1e-10)).as("f1"),
        ((col("vol_ratio") - col("m2")) / (col("s2") + 1e-10)).as("f2"))
  }

  /** PER-SERIES G5 fit: every series' per-REGIME GARCH(1,1) grids — the
    * g03b labeling recipe (per-series rolling vol, backfill,
    * r9-quantized tertile edges, digitize) composed with the q29b grid
    * machinery over the composite (series, regime) key. Two keyed
    * shuffles total; the number of series is unbounded. Regime
    * subsequences shorter than `minRows` are dropped (a GARCH fit on a
    * handful of returns is noise). Oracle-gated by g05b. */
  def regimeGarchGridGrouped(prices: DataFrame, seriesCol: String,
                             orderCols: Seq[String], price: String,
                             nRegimes: Int = 3, volWindow: Int = 24,
                             minRows: Int = 10): DataFrame = {
    val spec = SeriesSpec(Seq(seriesCol), orderCols)
    val rets = SeriesOps.logReturns(prices, spec, price, "ret")
      .filter(col("ret").isNotNull)
      .withColumn("rn", row_number().over(spec.w))
      .withColumn("sid", col(seriesCol).cast("long"))
    val rspec = SeriesSpec(Seq("sid"), Seq("rn"))
    val withVol = SeriesOps.backfill(
      SeriesOps.rollingStd(rets, rspec, "ret", volWindow, volWindow / 2, "vol"),
      rspec, "vol", "volf")
    val probs = (1 until nRegimes).map(i => i.toDouble / nRegimes)
    // r9-quantized per-series edges — same plateau-safe convention as
    // RegimeBootstrap.fitFrameGrouped (backfill plateaus + engine
    // quantile-interpolation ulps would otherwise flip digitize)
    val edges = withVol.groupBy(col("sid"))
      .agg(expr(s"percentile(volf, array(${probs.mkString(",")}))").as("es"))
      .select(col("sid"),
        expr("array_sort(array_distinct(transform(es, e -> round(e, 9))))")
          .as("edges"))
    val regimed = withVol.join(edges, "sid")
      .withColumn("regime", size(filter(col("edges"), e => e <= col("volf"))))
      .withColumn("skey", col("sid") * nRegimes + col("regime"))
    val sizes = regimed.groupBy(col("skey")).agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= minRows)
    val kept = regimed.join(sizes.select(col("skey")), "skey")
    graft.stats.Garch.gridGrouped(kept, "skey", Seq("rn"), "ret")
      .select(expr(s"skey div $nRegimes").cast("long").as("user_id"),
        (col("skey") % nRegimes).cast("int").as("regime"),
        col("alpha"), col("beta"), col("omega"),
        col("long_run_var"), col("ll"))
  }

  /** PER-SERIES one-EM-step witness (g04tb): for every series,
    * [[Hmm.quantileInit]] over the first `n` ROUNDED feature rows (the
    * g04t fixture discipline — round-6 features pin fp parity with the
    * oracle's replay) then exactly ONE [[Hmm.emStep]], emitted
    * long-form (series, param, i, j, v). Series with fewer than
    * `minRows` feature rows are skipped (an EM update over a handful
    * of rows is noise — same contract as the oracle's HAVING).
    *
    * Scale shape: [[featuresGrouped]] is keyed end-to-end and its rn
    * window leaves rows clustered and sorted on the series key, so
    * [[SeriesOps.runs]] walks every series' E+M pass with NO second
    * exchange and memory bounded by one capped series — a million
    * series fit in one shuffle (the last algorithm
    * family that still fitted driver-side when a series column
    * exists; VERDICT r04 #2). */
  def emStepGrouped(prices: DataFrame, seriesCol: String,
                    orderCols: Seq[String], price: String,
                    k: Int = 3, n: Int = 200,
                    minRows: Int = 10): DataFrame = {
    val spark = prices.sparkSession
    import spark.implicits._
    val out = groupedFeatureRuns(prices, seriesCol, orderCols, price, n) {
      (sid, x) =>
        if (x.length < minRows) Iterator.empty
        else {
          val (m1, ll) = Hmm.emStep(x, Hmm.quantileInit(x, k))
          (Iterator.single((sid, "ll", 0, 0, ll)) ++
            m1.startProbs.iterator.zipWithIndex.map { case (v, c) => (sid, "start", c, 0, v) } ++
            (for (i <- 0 until k; j <- 0 until k)
              yield (sid, "trans", i, j, m1.transition(i)(j))).iterator ++
            (for (c <- 0 until k; j <- 0 until 3)
              yield (sid, "mean", c, j, m1.means(c)(j))).iterator ++
            (for (c <- 0 until k; j <- 0 until 3)
              yield (sid, "var", c, j, m1.variances(c)(j))).iterator)
        }
    }.toDF(seriesCol, "param", "i", "j", "raw")
    out.select(col(seriesCol), col("param"), col("i"), col("j"),
      when(col("param") === "ll", round(col("raw"), 6))
        .otherwise(round(col("raw"), 8)).as("v"))
  }

  /** PER-SERIES full HMM fit — [[Hmm.fit]] (quantileInit + Baum-Welch
    * with log-likelihood early stop) per series in the same
    * one-shuffle shape as [[emStepGrouped]]; emits one row per series
    * with the flattened model. The grouped production twin of the
    * driver-side [[fit]] EM loop, witnessed by g04tb (one step, keyed
    * oracle replay). */
  def fitGrouped(prices: DataFrame, seriesCol: String,
                 orderCols: Seq[String], price: String,
                 k: Int = 3, n: Int = 20000, minRows: Int = 10,
                 emIters: Int = 50): DataFrame = {
    val spark = prices.sparkSession
    import spark.implicits._
    groupedFeatureRuns(prices, seriesCol, orderCols, price, n) { (sid, x) =>
      if (x.length < minRows) Iterator.empty
      else {
        val m = Hmm.fit(x, k, maxIter = emIters)
        Iterator.single((sid, x.length, m.startProbs.toSeq,
          m.transition.flatten.toSeq, m.means.flatten.toSeq,
          m.variances.flatten.toSeq))
      }
    }.toDF(seriesCol, "n_rows", "start_probs", "transition", "means", "variances")
  }

  /** Shared grouped-EM scaffold: ROUNDED per-series features, first-`n`
    * cap, [[SeriesOps.runs]] (the _t window leaves rows clustered on
    * the series key and sorted by rn, so the walk costs no further
    * exchange), one callback per series. */
  private def groupedFeatureRuns[T: org.apache.spark.sql.Encoder](
      prices: DataFrame, seriesCol: String, orderCols: Seq[String],
      price: String, n: Int)(
      f: (Long, Array[Array[Double]]) => Iterator[T]): org.apache.spark.sql.Dataset[T] = {
    val spark = prices.sparkSession
    import spark.implicits._
    val w = Window.partitionBy(col("sid")).orderBy(col("rn"))
    val capped = featuresGrouped(prices, seriesCol, orderCols, price)
      .select(col(seriesCol).cast("long").as("sid"), col("rn"),
        round(col("f0"), 6).as("f0"), round(col("f1"), 6).as("f1"),
        round(col("f2"), 6).as("f2"))
      .withColumn("_t", row_number().over(w))
      .filter(col("_t") <= n)
      .select(col("sid"), col("f0"), col("f1"), col("f2"))
    capped.as[(Long, Double, Double, Double)].mapPartitions { rows =>
      SeriesOps.runs(rows)(_._1) { (sid, run) =>
        f(sid, run.map(r => Array(r._2, r._3, r._4)).toArray)
      }
    }
  }

  /** Fit G4 (withGarch=false) or G5 (withGarch=true).
    * `maxFitRows` caps the series prefix used for the driver-side EM
    * (the reference fits on ≤ ~7.4k rows; EM is O(iters·n·k²) and a
    * longer single series adds no regime information worth the time —
    * the per-regime stats use the capped prefix consistently).
    *
    * One ordered collect of the capped price prefix feeds
    * [[featureRows]], Baum-Welch ([[Hmm.fit]]) and Viterbi labeling on
    * the driver; the per-regime stats (A8: count, mean, population std,
    * skewness, lag-1 autocorrelation, in time order) use Spark's
    * aggregate update formulas ([[SeriesKernel.Moments]],
    * [[SeriesKernel.lagCorr]]). Two Spark actions remain and run
    * concurrently: the full-series price mean/std and, for G5, the
    * [[Garch.fitMany]] grid job over the regime subsequences. Nothing is
    * persisted. */
  def fit(prices: DataFrame, orderCols: Seq[String], price: String,
          nRegimes: Int = 4, withGarch: Boolean = false,
          maxFitRows: Int = 20000, emIters: Int = 50): RegimeModel = {
    val feats = featureRows(pricePrefix(prices, orderCols, price, maxFitRows))
    val hmm = Hmm.fit(feats.x, nRegimes, maxIter = emIters)
    val labels = Hmm.predict(hmm, feats.x)
    // each regime's returns in time order
    val byRegime = feats.ret.indices.groupBy(i => labels(i))
      .map { case (k, is) => k -> is.map(i => feats.ret(i)).toArray }
    def dbl(v: Double): Double = if (v.isNaN) 0.0 else v
    val stats = byRegime.map { case (k, r) =>
      val m = new SeriesKernel.Moments(r)
      k -> RegimeParams(dbl(m.mean), dbl(m.stdPop), dbl(m.skewness),
        dbl(SeriesKernel.lagCorr(r, 1)), r.length.toLong)
    }
    val globalStd = feats.stds(0) // population std of the fitted returns
    // same subsequences Garch.fit saw: each labeled regime's returns in
    // time order, ≥30 rows to earn a grid
    val (priceStats, rawFits) = graft.core.Par.par2(
      prices.agg(avg(col(price)).as("m"), stddev_pop(col(price)).as("s")).first(),
      if (!withGarch) Map.empty[Int, GarchFit]
      else Garch.fitMany(prices.sparkSession, byRegime.filter(_._2.length >= 30)))
    val params = Array.tabulate(nRegimes) { k =>
      stats.get(k).filter(_.count >= 5).getOrElse(
        RegimeParams(0.0, globalStd, 0.0, 0.0, stats.get(k).map(_.count).getOrElse(0L)))
    }

    // G5: regimes whose subsequence is too short for a grid keep the
    // global-variance fallback
    val garchFits =
      if (!withGarch) None
      else Some(Array.tabulate(nRegimes) { k =>
        rawFits.getOrElse(k, GarchFit(globalStd * globalStd * 0.05, 0.05, 0.90,
          globalStd * globalStd, 0.0))
      })

    RegimeModel(nRegimes, hmm.transition, hmm.startProbs, params, garchFits,
      featureMeans = feats.means, featureStds = feats.stds,
      hmmMeans = hmm.means, hmmCovars = hmm.variances,
      dataMean = priceStats.getDouble(0), dataStd = priceStats.getDouble(1))
  }

  /** The pure seeded walk (ref :152-186): regime path from the
    * transition matrix, then AR(1) returns per regime (G5: GARCH σ²
    * recursion instead of constant σ). Shared by the single-series
    * [[generate]] and the per-series [[generateGrouped]]. */
  def walkRets(model: RegimeModel, seed: Long, n: Int): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    val regimes = new Array[Int](n)
    regimes(0) = GenOps.sampleCat(model.startProbs, rnd.nextDouble())
    var t = 1
    while (t < n) {
      regimes(t) = GenOps.sampleCat(model.transition(regimes(t - 1)), rnd.nextDouble())
      t += 1
    }
    val rets = new Array[Double](n)
    var prevRet = 0.0
    val sigma2 = model.garch.map(g => g.map(_.longRunVar)).getOrElse(Array.empty)
    var prevEps = 0.0
    t = 0
    while (t < n) {
      val k = regimes(t)
      val rp = model.params(k)
      val std = model.garch match {
        case Some(g) =>
          val gf = g(k)
          sigma2(k) = gf.omega + gf.alpha * prevEps * prevEps + gf.beta * sigma2(k)
          math.sqrt(math.max(sigma2(k), 1e-12))
        case None => rp.std
      }
      val innovStd = std * math.sqrt(math.max(1.0 - rp.ar1 * rp.ar1, 0.01))
      val innovation = rnd.nextGaussian() * innovStd
      rets(t) = rp.ar1 * prevRet + rp.mean + innovation
      prevRet = rets(t) - rp.mean
      prevEps = rets(t) - rp.mean
      t += 1
    }
    rets
  }

  /** Seed-deterministic generation (ref :152-186): [[walkRets]] on the
    * driver, then W2 reconstruction in Spark over its one partition.
    * Output: (rn, ret, typical_price). */
  def generate(spark: SparkSession, model: RegimeModel, seed: Long, n: Int,
               initialPrice: Double): DataFrame =
    GenOps.walkPrices(spark, walkRets(model, seed, n), initialPrice)

  /** PER-SERIES seeded generation: every series id in `users` draws its
    * own [[walkRets]] from `Random(seed + sid)` — deterministic per
    * (seed, series), different across series (the block-bootstrap
    * `--series_col` contract extended to the G4/G5 walks). The walk
    * recurrences run data-parallel across series inside mapPartitions
    * (each series' chain is sequential by construction — the
    * parallelism dimension at 100 TB is the MILLION series, not one
    * walk), and price reconstruction is the keyed W2 window.
    * Output: (seriesCol, rn, ret, typical_price). */
  def generateGrouped(users: DataFrame, seriesCol: String,
                      model: RegimeModel, seed: Long, n: Int,
                      initialPrice: Double): DataFrame = {
    val spark = users.sparkSession
    import spark.implicits._
    val rows = users.select(col(seriesCol).cast("long").as("sid")).distinct()
      .as[Long].mapPartitions { sids =>
        sids.flatMap { sid =>
          walkRets(model, seed + sid, n).iterator.zipWithIndex
            .map { case (r, i) => (sid, i, r) }
        }
      }.toDF(seriesCol, "rn", "ret")
    SeriesOps.reconstructPrices(rows, SeriesSpec(Seq(seriesCol), Seq("rn")), "ret",
      lit(initialPrice), "typical_price")
  }
}
