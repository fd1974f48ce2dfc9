package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.gen.{GrasyndaModel, Hmm, RegimeModel, RegimeParams}
import graft.series.{SeriesOps, SeriesSpec}
import graft.stats.{Garch, GarchFit}

/** The retired DataFrame bodies of the single-series generator fits,
  * kept as the oracles GeneratorSpec and RegimeSpec hold the array
  * kernels to: [[grasyndaFit]] is the Spark-aggregation Grasynda fit
  * (row_number window, `percentile` edges, in-plan digitize, lead
  * transition counts, collected pools); [[regimeFeatures]] the window
  * chain of the G4/G5 feature frame; [[regimeFit]] the G4/G5 fit over
  * it, with its per-regime stats as one Spark groupBy. */
object GenOracle {

  def grasyndaFit(returns: DataFrame, orderCols: Seq[String], value: String,
                  nBins: Int = 10): GrasyndaModel = {
    val v = col(value).cast("double")
    val data = returns.filter(v.isNotNull)
      .withColumn("rn", row_number().over(Window.orderBy(orderCols.map(col): _*)))
      .select(col("rn"), v.as("v"))
      .persist()
    val probs = (0 to nBins).map(i => i.toDouble / nBins)
    val edges = data.agg(
      expr(s"percentile(v, array(${probs.mkString(",")}))")).first()
      .getSeq[Double](0).distinct.sorted.toArray
    val interior = edges.slice(1, edges.length - 1)
    val edgeLit = array(interior.map(lit): _*)
    val stated = data.withColumn("state",
      size(filter(edgeLit, e => e <= col("v"))))
    val k = interior.length + 1
    val w = Window.orderBy(col("rn"))
    val transCounts = stated
      .withColumn("next_state", lead(col("state"), 1).over(w))
      .filter(col("next_state").isNotNull)
      .groupBy(col("state"), col("next_state")).count()
      .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap
    val pools = stated.groupBy(col("state"))
      .agg(sort_array(collect_list(col("v"))).as("pool"))
      .collect().map(r => r.getInt(0) -> r.getSeq[Double](1).toArray).toMap
    data.unpersist()
    val transition = Array.tabulate(k) { i =>
      val row = Array.tabulate(k)(j => transCounts.getOrElse((i, j), 0L).toDouble)
      val s = row.sum
      if (s > 0) row.map(_ / s) else Array.fill(k)(1.0 / k)
    }
    val counts = pools.map { case (s, p) => s -> p.length.toLong }
    val totalN = counts.values.sum.toDouble
    val startProbs = Array.tabulate(k)(i => counts.getOrElse(i, 0L) / totalN)
    GrasyndaModel(interior, transition, pools, startProbs)
  }

  /** The normalized feature frame (rn, ret, f0, f1, f2, m0, s0, m1, s1,
    * m2, s2) of the first `maxRows` prices. */
  def regimeFeatures(prices: DataFrame, orderCols: Seq[String], price: String,
                     volWindow: Int = 24, volLong: Int = 72,
                     maxRows: Int = 20000): DataFrame = {
    val spec = SeriesSpec(Nil, orderCols)
    val prefix = prices.orderBy(orderCols.map(col): _*).limit(maxRows)
    val rets = SeriesOps.logReturns(prefix, spec, price, "ret")
      .filter(col("ret").isNotNull)
      .withColumn("rn", row_number().over(spec.w))
    val rspec = SeriesSpec(Nil, Seq("rn"))
    val f = SeriesOps.rollingStd(
      SeriesOps.rollingStd(rets, rspec, "ret", volWindow, 1, "vol_short"),
      rspec, "ret", volLong, 1, "vol_long")
      .withColumn("vol_ratio", SeriesOps.volRatio(col("vol_short"), col("vol_long")))
    val cols = Seq("ret", "vol_short", "vol_ratio")
    val clean = cols.foldLeft(f)((d, c) =>
      d.filter(col(c).isNotNull && !isnan(col(c)) &&
        abs(col(c)) =!= Double.PositiveInfinity))
    val stats = clean.agg(
      avg(col("ret")).as("m0"), stddev_pop(col("ret")).as("s0"),
      avg(col("vol_short")).as("m1"), stddev_pop(col("vol_short")).as("s1"),
      avg(col("vol_ratio")).as("m2"), stddev_pop(col("vol_ratio")).as("s2"))
    clean.crossJoin(broadcast(stats))
      .select(col("rn"), col("ret"),
        ((col("ret") - col("m0")) / (col("s0") + 1e-10)).as("f0"),
        ((col("vol_short") - col("m1")) / (col("s1") + 1e-10)).as("f1"),
        ((col("vol_ratio") - col("m2")) / (col("s2") + 1e-10)).as("f2"),
        col("m0"), col("s0"), col("m1"), col("s1"), col("m2"), col("s2"))
  }

  def regimeFit(prices: DataFrame, orderCols: Seq[String], price: String,
                nRegimes: Int = 4, withGarch: Boolean = false,
                maxFitRows: Int = 20000, emIters: Int = 50): RegimeModel = {
    val spark = prices.sparkSession
    import spark.implicits._
    val feat = regimeFeatures(prices, orderCols, price, 24, 72, maxFitRows).cache()
    try {
      val rows = feat.select("rn", "ret", "f0", "f1", "f2").collect()
      val x = rows.map(r => Array(r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      val hmm = Hmm.fit(x, nRegimes, maxIter = emIters)
      val labels = Hmm.predict(hmm, x)
      val labeled = rows.zip(labels).toIndexedSeq
        .map { case (r, lab) => (r.getInt(0), r.getDouble(1), lab) }
        .toDF("rn", "ret", "regime")
      val wReg = Window.partitionBy(col("regime")).orderBy(col("rn"))
      val statsDf = labeled
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
        }.toMap
      val globalStd = feat.agg(stddev_pop(col("ret"))).first().getDouble(0)
      val znorm = feat.select("m0", "s0", "m1", "s1", "m2", "s2").first()
      val priceStats = prices.agg(
        avg(col(price)).as("m"), stddev_pop(col(price)).as("s")).first()
      val rawFits =
        if (!withGarch) Map.empty[Int, GarchFit]
        else {
          val ordered = rows.zip(labels)
            .map { case (r, lab) => (r.getInt(0), r.getDouble(1), lab) }
            .sortBy(_._1)
          val byRegime = ordered.groupBy(_._3)
            .map { case (k, a) => k -> a.map(_._2) }
          Garch.fitMany(spark, byRegime.filter(_._2.length >= 30))
        }
      val params = Array.tabulate(nRegimes) { k =>
        statsDf.get(k).filter(_.count >= 5).getOrElse(
          RegimeParams(0.0, globalStd, 0.0, 0.0,
            statsDf.get(k).map(_.count).getOrElse(0L)))
      }
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
    } finally feat.unpersist()
  }
}
