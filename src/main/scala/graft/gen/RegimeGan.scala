package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}

/** Fitted G7 model: per-regime return stats + segment-label transition
  * matrix (Laplace-smoothed 0.01, ref regime_gan.py:103-108), plus the
  * per-regime trained GAN generators (None ⇒ parametric fallback for
  * that regime — the reference's own behavior, regime_gan.py:366-369). */
final case class RegimeGanModel(
    nRegimes: Int,
    seqLen: Int,
    stats: Array[RegimeParams],
    transition: Array[Array[Double]],
    startProbs: Array[Double],
    gans: Array[Option[graft.train.GanTrainer.TrainedGan]] = Array.empty)

/** G7: change-point regime generator.
  * Ref: sdg_plugins/generator/regime_gan.py — PELT change-point
  * detection over log returns → per-segment features (mean, std, skew,
  * ac1, log length) → ward clustering into regimes → per-regime tiny
  * GAN ([[graft.train.GanTrainer]], ref :127-218) → generation chains
  * seq_len chunks via the transition matrix, sampling each chunk from
  * the regime's GAN (parametric Normal fallback when a regime was too
  * short to train — same as the reference).
  * PELT + ward + the tiny GAN fits run on the driver over the bounded
  * series (SURVEY §7.4.2); reconstruction (W2) is a Spark window scan
  * over the walk's one partition.
  */
object RegimeGan {

  def fit(prices: DataFrame, orderCols: Seq[String], price: String,
          nRegimes: Int = 4, minSegment: Int = 30, penalty: Double = 3.0,
          seqLen: Int = 64, withGan: Boolean = true, ganEpochs: Int = 150,
          seed: Long = 42L,
          maxFitRows: Int = graft.stats.SeriesStats.MaxCollectRows): RegimeGanModel = {
    val spec = SeriesSpec(Nil, orderCols)
    // fit-prefix cap: log-returns are causal so the prefix is taken on
    // prices BEFORE the window pass, bounding both the single-series
    // window stage and the driver collect (the collect was previously
    // unbounded — the one fit in the family without the contract cap)
    val prefix = prices.orderBy(orderCols.map(col): _*).limit(maxFitRows)
    val rets = SeriesOps.logReturns(prefix, spec, price, "ret")
      .filter(col("ret").isNotNull)
      .orderBy(orderCols.map(col): _*)
      .select(col("ret")).collect().map(_.getDouble(0))

    // PELT (retry with halved penalty when too few segments, ref :57-67)
    var bkps = ChangePoint.pelt(rets, penalty, minSegment)
    if (bkps.length < nRegimes)
      bkps = ChangePoint.pelt(rets, penalty * 0.5, minSegment)
    val bounds = 0 +: bkps.toSeq
    val segments = bounds.sliding(2).map { case Seq(a, b) =>
      rets.slice(a, b)
    }.toArray

    val raw = segments.map(segmentFeatures)
    val d = raw(0).length
    val means = Array.tabulate(d)(j => raw.map(_(j)).sum / raw.length)
    val stds = Array.tabulate(d) { j =>
      math.sqrt(raw.map(f => math.pow(f(j) - means(j), 2)).sum / raw.length) + 1e-10
    }
    val norm = raw.map(f => Array.tabulate(d)(j => (f(j) - means(j)) / stds(j)))

    val k = math.min(nRegimes, segments.length)
    val labels = ChangePoint.ward(norm, k)

    // per-regime pooled stats over member segments' returns
    val stats = Array.tabulate(k) { r =>
      val pool = segments.zip(labels).filter(_._2 == r).flatMap(_._1)
      if (pool.length < 2) RegimeParams(0.0, 1e-4, 0.0, 0.0, pool.length.toLong)
      else {
        val m = pool.sum / pool.length
        val sd = math.sqrt(pool.map(x => (x - m) * (x - m)).sum / pool.length)
        RegimeParams(m, sd, 0.0, 0.0, pool.length.toLong)
      }
    }
    // smoothed transition over the segment label SEQUENCE (ref :103-108)
    val trans = Array.fill(k, k)(0.01)
    for (i <- 0 until labels.length - 1) trans(labels(i))(labels(i + 1)) += 1
    val transN = trans.map { row => val s = row.sum; row.map(_ / s) }
    val counts = stats.map(_.count.toDouble)
    val startProbs =
      if (counts.sum > 0) counts.map(_ / counts.sum)
      else Array.fill(k)(1.0 / k)

    // per-regime tiny GAN over the regime's pooled returns (ref :283-301;
    // regimes shorter than one window keep None -> parametric fallback)
    val gans: Array[Option[graft.train.GanTrainer.TrainedGan]] =
      if (!withGan) Array.fill(k)(None)
      else Array.tabulate(k) { r =>
        val pool = segments.zip(labels).filter(_._2 == r).flatMap(_._1)
        graft.train.GanTrainer.train(pool, seqLen = seqLen,
          epochs = ganEpochs, seed = seed * 31L + r)
      }

    RegimeGanModel(k, seqLen, stats, transN, startProbs, gans)
  }

  /** Per-segment features (ref regime_gan.py:70-84): mean, population
    * std, skew, lag-1 autocorr, ln(len) — what ward clusters on. */
  private[gen] def segmentFeatures(seg: Array[Double]): Array[Double] = {
    if (seg.length < 2) return Array(0, 0, 0, 0, seg.length.toDouble)
    val m = seg.sum / seg.length
    val v = seg.map(x => (x - m) * (x - m)).sum / seg.length
    val sd = math.sqrt(v)
    val skew =
      if (seg.length > 2 && sd > 1e-12)
        seg.map(x => math.pow((x - m) / sd, 3)).sum / seg.length
      else 0.0
    val ac1 = if (seg.length > 2 && v > 1e-24) {
      var num = 0.0
      for (i <- 1 until seg.length) num += (seg(i) - m) * (seg(i - 1) - m)
      num / (seg.length * v)
    } else 0.0
    Array(m, sd, skew, ac1, math.log(seg.length.toDouble))
  }

  /** The deterministic PELT stage of [[fit]] as a checkable frame: one
    * row per detected segment of the bounded return prefix, with its
    * boundaries (0-based, end exclusive) and the per-segment features
    * ward clusters on. The DP ([[ChangePoint.pelt]]) is deterministic,
    * so a DuckDB replay of the (unpruned — PELT pruning is
    * optimum-preserving) dynamic program verifies the fit's
    * change-point stage end-to-end. */
  def peltFrame(rets: DataFrame, orderCols: Seq[String], value: String,
                penalty: Double = 3.0, minSegment: Int = 30,
                jump: Int = 5): DataFrame = {
    val spark = rets.sparkSession
    import spark.implicits._
    val r = rets.orderBy(orderCols.map(col): _*)
      .select(col(value).cast("double")).collect().map(_.getDouble(0))
    val bkps = ChangePoint.pelt(r, penalty, minSegment, jump)
    val bounds = 0 +: bkps.toSeq
    bounds.sliding(2).zipWithIndex.map { case (Seq(a, b), i) =>
      val f = segmentFeatures(r.slice(a, b))
      (i, a, b, b - a, f(0), f(1), f(2), f(3))
    }.toSeq.toDF("seg_id", "start_idx", "end_idx", "len",
      "mean_ret", "std_ret", "skew", "ac1")
  }

  /** Chunked generation (ref :339-380): per seq_len chunk, sample the
    * active regime's trained GAN (z∼N(0,I) → G(z) → denormalize) or the
    * parametric Normal fallback when that regime has no GAN; regime
    * chained by the transition matrix; W2 reconstruction over the
    * walk's one partition. */
  def generate(spark: SparkSession, model: RegimeGanModel, seed: Long,
               n: Int, initialPrice: Double): DataFrame = {
    val rnd = new scala.util.Random(seed)
    var regime = GenOps.sampleCat(model.startProbs, rnd.nextDouble())
    val rets = new Array[Double](n)
    var i = 0
    while (i < n) {
      val chunk = math.min(model.seqLen, n - i)
      val gan = if (model.gans.isEmpty) None else model.gans(regime)
      gan match {
        case Some(g) =>
          val z = Array.fill(g.zDim)(rnd.nextGaussian())
          val win = g.decoder.forward(z)
          var j = 0
          while (j < chunk) {
            rets(i) = win(j) * g.dataStd + g.dataMean
            i += 1; j += 1
          }
        case None =>
          val st = model.stats(regime)
          var j = 0
          while (j < chunk) {
            rets(i) = st.mean + rnd.nextGaussian() * st.std
            i += 1; j += 1
          }
      }
      regime = GenOps.sampleCat(model.transition(regime), rnd.nextDouble())
    }
    GenOps.walkPrices(spark, rets, initialPrice)
  }
}
