package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The retired sweep fitness and random-sweep bodies, kept as the
  * oracles OptimizerSpec holds the fitness fan-out to: [[grasyndaScore]]
  * is the one-call fit + walk + composite-lite score (every call sorts
  * and fits the real returns again); [[sweepScores]] and [[randomSweep]]
  * are the DataFrame fan-out (round-robin repartition, one map task per
  * (config, seed)) and its Spark `groupBy` average and `orderBy`. */
object OptOracle {

  def grasyndaScore(real: Array[Double], nBins: Int, smooth: Double,
                    n: Int, seed: Long): Double = {
    if (real.length < nBins * 4) return Double.MaxValue
    compositeLite(real, grasyndaWalk(real, nBins, smooth, n, seed))
  }

  def grasyndaWalk(real: Array[Double], nBins: Int, smooth: Double,
                   n: Int, seed: Long): Array[Double] = {
    val sorted = real.sorted
    val interior = (1 until nBins).map { i =>
      sorted(((i.toDouble / nBins) * (sorted.length - 1)).round.toInt)
    }.distinct.toArray
    def state(x: Double): Int = {
      var c = 0; var i = 0
      while (i < interior.length) { if (interior(i) <= x) c += 1; i += 1 }
      c
    }
    val k = interior.length + 1
    val states = real.map(state)
    val trans = Array.ofDim[Double](k, k)
    var i = 0
    while (i < states.length - 1) { trans(states(i))(states(i + 1)) += 1; i += 1 }
    val transN = trans.map { row =>
      val s = row.sum
      if (s > 0) row.map(_ / s) else Array.fill(k)(1.0 / k)
    }
    val pools = states.zip(real).groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).sorted }
    val rnd = new scala.util.Random(seed)
    var st = states(0)
    val synth = new Array[Double](n)
    i = 0
    while (i < n) {
      val pool = pools.getOrElse(st, pools(pools.keys.min))
      val v = pool(rnd.nextInt(pool.length))
      synth(i) = (1.0 - smooth) * v + smooth * (if (i > 0) synth(i - 1) else v)
      var acc = 0.0; val u = rnd.nextDouble(); var nx = k - 1
      var j = 0
      var done = false
      while (j < k && !done) {
        acc += transN(st)(j); if (u < acc) { nx = j; done = true }
        j += 1
      }
      st = nx
      i += 1
    }
    synth
  }

  def compositeLite(real: Array[Double], synth: Array[Double]): Double = {
    val lo = math.min(real.min, synth.min)
    val hi = math.max(real.max, synth.max)
    val bins = 20
    def hist(x: Array[Double]): Array[Double] = {
      val h = new Array[Double](bins)
      x.foreach { v =>
        val b = math.min(((v - lo) / (hi - lo + 1e-30) * bins).toInt, bins - 1)
        h(b) += 1
      }
      val s = h.sum
      h.map(v => v / s + 1e-10)
    }
    val hr = hist(real); val hs = hist(synth)
    val js = {
      val sr = hr.sum; val ss = hs.sum
      var acc = 0.0
      for (b <- 0 until bins) {
        val p = hr(b) / sr; val q = hs(b) / ss; val m = (p + q) / 2
        acc += 0.5 * p * math.log(p / m) + 0.5 * q * math.log(q / m)
      }
      math.sqrt(math.max(acc, 0.0))
    }
    def ecdfKs: Double = {
      val a = real.sorted; val b = synth.sorted
      var ia = 0; var ib = 0; var ks = 0.0
      while (ia < a.length && ib < b.length) {
        if (a(ia) <= b(ib)) ia += 1 else ib += 1
        ks = math.max(ks, math.abs(ia.toDouble / a.length - ib.toDouble / b.length))
      }
      ks
    }
    def std(x: Array[Double]): Double = {
      val m = x.sum / x.length
      math.sqrt(x.map(v => (v - m) * (v - m)).sum / x.length)
    }
    def ac1(x: Array[Double]): Double = {
      if (x.length < 3) return 0.0
      val m = x.sum / x.length
      var num = 0.0; var den = 0.0
      for (i <- x.indices) {
        den += (x(i) - m) * (x(i) - m)
        if (i > 0) num += (x(i) - m) * (x(i - 1) - m)
      }
      if (den > 0) num / den else 0.0
    }
    val stdDev = math.abs(std(synth) / math.max(std(real), 1e-12) - 1.0)
    val acR = ac1(real)
    val acDev = if (math.abs(acR) > 1e-6) math.abs(ac1(synth) / acR - 1.0)
                else math.abs(ac1(synth))
    (3.0 * js + 2.0 * ecdfKs + 2.0 * stdDev + 2.0 * acDev) / 9.0
  }

  /** The retired fan-out: one row per (config, seed) with its score. */
  def sweepScores(spark: SparkSession, realReturns: Array[Double],
                  nBinsChoices: Seq[Int], smoothChoices: Seq[Double],
                  nConfigs: Int, seeds: Seq[Long], genN: Int,
                  seed: Long = 42L): DataFrame = {
    import spark.implicits._
    val configs = graft.opt.SweepOptimizer.drawConfigs(nBinsChoices,
      smoothChoices, nConfigs, seed)
    val tasks = for { (id, nb, sm) <- configs; s <- seeds } yield (id, nb, sm, s)
    val bc = spark.sparkContext.broadcast(realReturns)
    tasks.toDF("config_id", "n_bins", "smooth", "seed")
      .repartition(math.min(tasks.size, 64))
      .as[(Int, Int, Double, Long)]
      .map { case (id, nb, sm, s) =>
        (id, nb, sm, s, grasyndaScore(bc.value, nb, sm, genN, s))
      }
      .toDF("config_id", "n_bins", "smooth", "seed", "score")
  }

  /** The retired random sweep: [[sweepScores]] averaged by Spark. */
  def randomSweep(spark: SparkSession, realReturns: Array[Double],
                  nBinsChoices: Seq[Int], smoothChoices: Seq[Double],
                  nConfigs: Int, seeds: Seq[Long], genN: Int,
                  seed: Long = 42L): DataFrame =
    sweepScores(spark, realReturns, nBinsChoices, smoothChoices, nConfigs,
        seeds, genN, seed)
      .groupBy(col("config_id"), col("n_bins"), col("smooth"))
      .agg(avg(col("score")).as("avg_score"),
        stddev_pop(col("score")).as("std_score"),
        count(lit(1)).as("n_seeds"))
      .orderBy(col("avg_score"), col("config_id"))
}
