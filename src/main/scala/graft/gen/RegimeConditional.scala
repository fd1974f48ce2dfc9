package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * Fit split: feature extraction (W1 log-returns, W5 rolling vols with
  * min_periods=1, W7 vol ratio, P3 NaN/Inf row filter, z-normalize) is
  * all Spark window/agg work; the small Baum-Welch EM runs on the
  * driver over the collected bounded feature matrix ([[Hmm]]); the
  * per-regime statistics are one Spark groupBy over the Viterbi-labeled
  * rows; G5's GARCH grids run Spark-parallel per regime ([[Garch]]).
  *
  * Generation: sequential small-state recurrences (regime path, AR(1)
  * returns, GARCH σ²) on the driver (SURVEY §7.4.2), price
  * reconstruction (W2) distributed.
  */
object RegimeConditional {

  /** Extract + normalize the [ret, vol_short, vol_ratio] feature frame.
    * Ref: regime_conditional.py:64-79. */
  def features(prices: DataFrame, orderCols: Seq[String], price: String,
               volWindow: Int = 24, volLong: Int = 72,
               maxRows: Int = 20000): DataFrame =
    featureFrames(prices, orderCols, price, volWindow, volLong, maxRows)._1

  /** [[features]] plus the persisted clean frame it reads, for callers
    * that release it when done. */
  private def featureFrames(prices: DataFrame, orderCols: Seq[String],
                            price: String, volWindow: Int, volLong: Int,
                            maxRows: Int): (DataFrame, DataFrame) = {
    val spec = SeriesSpec(Nil, orderCols)
    // fit-prefix cap (same contract as maxFitRows below): every stage
    // here is causal, so capping BEFORE the vol windows bounds the
    // single-series window work instead of limiting afterwards; the
    // z-normalization stats consistently describe the fitted prefix
    val prefix = prices.orderBy(orderCols.map(col): _*).limit(maxRows)
    val rets = SeriesOps.logReturns(prefix, spec, price, "ret")
      .filter(col("ret").isNotNull)
      .withColumn("rn", row_number().over(spec.w))
    val rspec = SeriesSpec(Nil, Seq("rn"))
    val f = SeriesOps.rollingStd(
      SeriesOps.rollingStd(rets, rspec, "ret", volWindow, 1, "vol_short"),
      rspec, "ret", volLong, 1, "vol_long")
      .withColumn("vol_ratio", SeriesOps.volRatio(col("vol_short"), col("vol_long")))
    // P3: NaN/Inf/null row filter (rolling std of a single row is null)
    val cols = Seq("ret", "vol_short", "vol_ratio")
    // persisted (≤ maxRows rows by the prefix cap): the z-stat agg
    // below rides a broadcast subquery that would otherwise re-derive
    // the whole single-series window chain a second time when the
    // selected frame materializes
    val clean = cols.foldLeft(f)((d, c) =>
      d.filter(col(c).isNotNull && !isnan(col(c)) &&
        abs(col(c)) =!= Double.PositiveInfinity))
      .persist()
    // z-normalize each feature (ref :92-94)
    val stats = clean.agg(
      avg(col("ret")).as("m0"), stddev_pop(col("ret")).as("s0"),
      avg(col("vol_short")).as("m1"), stddev_pop(col("vol_short")).as("s1"),
      avg(col("vol_ratio")).as("m2"), stddev_pop(col("vol_ratio")).as("s2"))
    (clean.crossJoin(broadcast(stats))
      .select(col("rn"), col("ret"),
        ((col("ret") - col("m0")) / (col("s0") + 1e-10)).as("f0"),
        ((col("vol_short") - col("m1")) / (col("s1") + 1e-10)).as("f1"),
        ((col("vol_ratio") - col("m2")) / (col("s2") + 1e-10)).as("f2"),
        // carried through (constant columns) so fit() can persist the
        // normalization stats into the reference-compatible artifact
        col("m0"), col("s0"), col("m1"), col("s1"), col("m2"), col("s2")),
      clean)
  }

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
    import graft.series.SeriesOps
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
    * per-regime Spark stats still use the capped frame consistently). */
  def fit(prices: DataFrame, orderCols: Seq[String], price: String,
          nRegimes: Int = 4, withGarch: Boolean = false,
          maxFitRows: Int = 20000, emIters: Int = 50): RegimeModel = {
    val spark = prices.sparkSession
    // the persisted clean frame and the cached features are this fit's
    // only storage; both are released whether the fit returns or throws
    val (normalized, clean) =
      featureFrames(prices, orderCols, price, 24, 72, maxFitRows)
    val feat = normalized.cache()
    try {
      val rows = feat.select("rn", "ret", "f0", "f1", "f2").collect()
      val x = rows.map(r => Array(r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      val hmm = Hmm.fit(x, nRegimes, maxIter = emIters)
      val labels = Hmm.predict(hmm, x)

      // per-regime stats over the labeled returns — Spark groupBy (A8)
      import spark.implicits._
      val labeled = rows.zip(labels).toIndexedSeq
        .map { case (r, lab) => (r.getInt(0), r.getDouble(1), lab) }
        .toDF("rn", "ret", "regime")
      val wReg = Window.partitionBy(col("regime")).orderBy(col("rn"))
      // the per-regime stats agg, the global std, the znorm row, the
      // price stats and the G5 GARCH grid are five INDEPENDENT actions
      // (the grid's regime subsequences are already on the driver — they
      // fed the EM); submit them concurrently (guide §2.6). The GARCH
      // stage itself is ONE job of regimes × (α, β) tasks over the
      // broadcast subsequences ([[Garch.fitMany]]) instead of a
      // sequential count + collect + grid job per regime — identical
      // variance targeting, likelihood recursion and tie-break.
      val ((statsDf, globalStd, znorm, priceStats), rawFits) =
        graft.core.Par.par2(
          graft.core.Par.par4(
            labeled
              .withColumn("lag_ret", lag(col("ret"), 1).over(wReg))
              .groupBy(col("regime"))
              .agg(count(lit(1)).as("n"), avg(col("ret")).as("mean"),
                stddev_pop(col("ret")).as("std"), skewness(col("ret")).as("skew"),
                coalesce(corr(col("ret"), col("lag_ret")), lit(0.0)).as("ar1"))
              .collect().map { r =>
                def dbl(i: Int): Double =
                  if (r.isNullAt(i)) 0.0
                  else { val v = r.getDouble(i); if (v.isNaN) 0.0 else v }
                r.getInt(0) -> RegimeParams(dbl(2), dbl(3), dbl(4), dbl(5), r.getLong(1))
              }.toMap,
            feat.agg(stddev_pop(col("ret"))).first().getDouble(0),
            feat.select("m0", "s0", "m1", "s1", "m2", "s2").first(),
            prices.agg(
              avg(col(price)).as("m"), stddev_pop(col(price)).as("s")).first()),
          if (!withGarch) Map.empty[Int, GarchFit]
          else {
            // same subsequences Garch.fit saw: rn-ascending returns of
            // each labeled regime, ≥30 rows to earn a grid
            val ordered = rows.zip(labels)
              .map { case (r, lab) => (r.getInt(0), r.getDouble(1), lab) }
              .sortBy(_._1)
            val byRegime = ordered.groupBy(_._3)
              .map { case (k, a) => k -> a.map(_._2) }
            Garch.fitMany(spark, byRegime.filter(_._2.length >= 30))
          })
      val params = Array.tabulate(nRegimes) { k =>
        statsDf.get(k).filter(_.count >= 5).getOrElse(
          RegimeParams(0.0, globalStd, 0.0, 0.0,
            statsDf.get(k).map(_.count).getOrElse(0L)))
      }

      // G5: regimes whose subsequence is too short for a grid keep the
      // global-variance fallback (unchanged)
      val garchFits =
        if (!withGarch) None
        else Some(Array.tabulate(nRegimes) { k =>
          rawFits.getOrElse(k, GarchFit(globalStd * globalStd * 0.05, 0.05, 0.90,
            globalStd * globalStd, 0.0))
        })

      RegimeModel(nRegimes, hmm.transition, hmm.startProbs, params, garchFits,
        featureMeans = Array(znorm.getDouble(0), znorm.getDouble(2), znorm.getDouble(4)),
        featureStds = Array(znorm.getDouble(1), znorm.getDouble(3), znorm.getDouble(5)),
        hmmMeans = hmm.means, hmmCovars = hmm.variances,
        dataMean = priceStats.getDouble(0), dataStd = priceStats.getDouble(1))
    } finally { feat.unpersist(); clean.unpersist() }
  }

  private def sampleCat(probs: Array[Double], u: Double): Int = {
    var acc = 0.0; var i = 0
    while (i < probs.length - 1) {
      acc += probs(i); if (u < acc) return i
      i += 1
    }
    probs.length - 1
  }

  /** The pure seeded walk (ref :152-186): regime path from the
    * transition matrix, then AR(1) returns per regime (G5: GARCH σ²
    * recursion instead of constant σ). Shared by the single-series
    * [[generate]] and the per-series [[generateGrouped]]. */
  def walkRets(model: RegimeModel, seed: Long, n: Int): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    val regimes = new Array[Int](n)
    regimes(0) = sampleCat(model.startProbs, rnd.nextDouble())
    var t = 1
    while (t < n) {
      regimes(t) = sampleCat(model.transition(regimes(t - 1)), rnd.nextDouble())
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
    * driver, then W2 reconstruction in Spark.
    * Output: (rn, ret, typical_price). */
  def generate(spark: SparkSession, model: RegimeModel, seed: Long, n: Int,
               initialPrice: Double): DataFrame = {
    import spark.implicits._
    val df = walkRets(model, seed, n).toIndexedSeq.zipWithIndex
      .map { case (r, i) => (i, r) }.toDF("rn", "ret")
    val w = Window.orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, 0)
    df.withColumn("typical_price",
      lit(initialPrice) * exp(sum(col("ret")).over(w)))
  }

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
    val w = Window.partitionBy(col(seriesCol)).orderBy(col("rn"))
      .rowsBetween(Window.unboundedPreceding, 0)
    rows.withColumn("typical_price",
      lit(initialPrice) * exp(sum(col("ret")).over(w)))
  }
}
