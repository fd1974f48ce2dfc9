package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.series.SeriesSpec
import graft.stats.{Divergence, Histogram, Moments, SeriesStats}

class StatsSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("moments: population std/skew/kurt on a known sample") {
    val s = spark
    import s.implicits._
    // sample 1,2,3,4: mean 2.5, var_pop 1.25, skew 0, kurt_raw 1.64
    val df = Seq(1.0, 2.0, 3.0, 4.0).toDF("v")
    val m = Moments.describe(df, "v", Nil).first()
    assert(m.getAs[Long]("n") === 4L)
    assert(math.abs(m.getAs[Double]("mean") - 2.5) < 1e-12)
    assert(math.abs(m.getAs[Double]("var_pop") - 1.25) < 1e-12)
    assert(math.abs(m.getAs[Double]("skew")) < 1e-12)
    assert(math.abs(m.getAs[Double]("kurt_raw") - 1.64) < 1e-12)
  }

  test("runs test: counts, z and two-sided p on a known sign pattern") {
    val s = spark
    import s.implicits._
    // signs + + - - +  => n1=3, n2=2, R=3; E[R]=3.4, Var=0.84
    val df = Seq(1.0, 2.0, -1.0, -2.0, 3.0).zipWithIndex
      .map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v")
    val r = SeriesStats.runsTest(df, SeriesSpec(Seq("k"), Seq("i")), "v")
      .first()
    assert(r.getAs[Long]("n_pos") === 3L)
    assert(r.getAs[Long]("n_neg") === 2L)
    assert(r.getAs[Long]("n_runs") === 3L)
    val z = (3.0 - 3.4) / math.sqrt(0.84)
    assert(math.abs(r.getAs[Double]("z_score") - z) < 1e-6)
    // two-sided normal p via erfc(|z|/sqrt2): ~0.6625 (A&S |eps|<=1.5e-7)
    assert(math.abs(r.getAs[Double]("p_value") - 0.662463) < 1e-4)
  }

  test("runs test: zeros dropped, one-sided series yields null z") {
    val s = spark
    import s.implicits._
    val df = Seq(1.0, 0.0, 2.0, 0.0, 3.0).zipWithIndex
      .map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v")
    val r = SeriesStats.runsTest(df, SeriesSpec(Seq("k"), Seq("i")), "v")
      .first()
    assert(r.getAs[Long]("n_pos") === 3L)
    assert(r.getAs[Long]("n_neg") === 0L)
    assert(r.getAs[Long]("n_runs") === 1L)
    assert(r.isNullAt(r.fieldIndex("z_score")))
    assert(r.isNullAt(r.fieldIndex("p_value")))
  }

  test("runs test: alternating signs maximize runs (positive z)") {
    val s = spark
    import s.implicits._
    val df = (0 until 20).map(i => ("u", i, if (i % 2 == 0) 1.0 else -1.0))
      .toDF("k", "i", "v")
    val r = SeriesStats.runsTest(df, SeriesSpec(Seq("k"), Seq("i")), "v")
      .first()
    assert(r.getAs[Long]("n_runs") === 20L)
    assert(r.getAs[Double]("z_score") > 3.0) // far from random
    assert(r.getAs[Double]("p_value") < 0.01)
  }

  test("welch drift: closed-form t/df on a known split, null on tiny halves") {
    val s = spark
    import s.implicits._
    // halves [1,2,3] vs [4,5,6]: m=2 vs 5, v=1 both, se=1/3 each
    // t = -3/sqrt(2/3), df_w = (2/3)^2 / ((1/9)/2 * 2) = 4
    val df = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 6.0).zipWithIndex
      .map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v")
    val r = SeriesStats.welchDrift(df, SeriesSpec(Seq("k"), Seq("i")), "v")
      .first()
    assert(r.getAs[Long]("n1") === 3L && r.getAs[Long]("n2") === 3L)
    assert(math.abs(r.getAs[Double]("mean_diff") - (-3.0)) < 1e-9)
    val t = -3.0 / math.sqrt(2.0 / 3.0)
    assert(math.abs(r.getAs[Double]("t_stat") - t) < 1e-5)
    assert(math.abs(r.getAs[Double]("df_w") - 4.0) < 1e-5)
    assert(r.getAs[Double]("p_value") < 0.01) // strong shift
    // identical halves: t == 0, p == 1 (erfc(0) = 1)
    val same = Seq(1.0, 2.0, 3.0, 1.0, 2.0, 3.0).zipWithIndex
      .map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v")
    val r2 = SeriesStats.welchDrift(same, SeriesSpec(Seq("k"), Seq("i")), "v")
      .first()
    assert(r2.getAs[Double]("t_stat") === 0.0)
    assert(math.abs(r2.getAs[Double]("p_value") - 1.0) < 1e-6)
    // a 2-row series has 1-obs halves: no sample variance, null t
    val tiny = Seq(1.0, 2.0).zipWithIndex
      .map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v")
    val r3 = SeriesStats.welchDrift(tiny, SeriesSpec(Seq("k"), Seq("i")), "v")
      .first()
    assert(r3.isNullAt(r3.fieldIndex("t_stat")))
    assert(r3.isNullAt(r3.fieldIndex("p_value")))
  }

  test("cusum: hand-computed excursions; level shift inflates the " +
       "rescaled range far beyond a stable series") {
    val s = spark
    import s.implicits._
    // x = [1,2,3]: mean 2, S = [-1,-1,0] -> max 0, min -1
    val df = Seq(1.0, 2.0, 3.0).zipWithIndex
      .map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v")
    val r = SeriesStats.cusum(df, SeriesSpec(Seq("k"), Seq("i")), "v")
      .first()
    assert(r.getAs[Long]("n_obs") === 3L)
    assert(r.getAs[Double]("cusum_max") === 0.0)
    assert(math.abs(r.getAs[Double]("cusum_min") - (-1.0)) < 1e-12)
    // alternating series (no drift) vs the same values sorted (pure
    // drift): the sorted one must have a much larger rescaled range
    val alt = (0 until 40).map(i => ("u", i, if (i % 2 == 0) 1.0 else -1.0))
    val drift = (0 until 40).map(i => ("u", i, if (i < 20) -1.0 else 1.0))
    def rr(rows: Seq[(String, Int, Double)]) =
      SeriesStats.cusum(rows.toDF("k", "i", "v"),
        SeriesSpec(Seq("k"), Seq("i")), "v").first()
        .getAs[Double]("rr_stat")
    assert(rr(drift) > 2.0 * rr(alt))
  }

  test("histogram: buckets cover range, counts sum to n, density integrates to 1") {
    val s = spark
    import s.implicits._
    val df = (1 to 1000).map(_.toDouble).toDF("v")
    val h = Histogram.fixedBins(df, "v", 10).collect()
    assert(h.map(_.getAs[Long]("cnt")).sum === 1000L)
    val widths = (999.0 - 0.0) // hi-lo = 999 over 10 bins
    val integral = h.map(r => r.getAs[Double]("density") * (999.0 / 10)).sum
    assert(math.abs(integral - 1.0) < 1e-9)
  }

  test("histogram: a null value gets no bin; a zero range still uses the last bin") {
    val s = spark
    import s.implicits._
    val df = Seq(Some(1.0), None, Some(3.0), None, Some(2.0)).toDF("v")
    val bins = Histogram.fixedBins(df, "v", 4).collect()
      .map(r => r.getAs[Int]("bucket") -> r.getAs[Long]("cnt")).toMap
    assert(bins === Map(0 -> 1L, 2 -> 1L, 3 -> 1L))
    val bucket = Histogram.bucketCol(col("v"), lit(1.0), lit(1.0), 4)
    assert(Seq(Some(1.0), None).toDF("v").select(bucket).collect()
      .map(r => if (r.isNullAt(0)) None else Some(r.getInt(0))).toSeq === Seq(Some(3), None))
    // null values drop out of histJsd instead of piling up in bin n-1
    val lab = (1 to 200).map(i => (Option(i.toDouble), "a")) ++
      (1 to 200).map(i => (Option(i.toDouble), "b"))
    val withNulls = lab ++ (1 to 50).map(_ => (Option.empty[Double], "b"))
    def kl(rows: Seq[(Option[Double], String)]) =
      Divergence.histJsd(rows.toDF("v", "lab"), "v", col("lab"), "a", "b", 10)
        .first().getAs[Double]("kl_divergence")
    assert(kl(withNulls) === kl(lab))
  }

  test("ecdf stats: identical samples give 0 distance; shifted gives the shift") {
    val s = spark
    import s.implicits._
    val a = (1 to 100).map(i => (i.toDouble, "a"))
    val b = (1 to 100).map(i => (i.toDouble, "b"))
    val same = Divergence.ecdfStats(
      (a ++ b).toDF("v", "lab"), "v", col("lab"), "a", "b").first()
    assert(same.getAs[Double]("wasserstein") === 0.0)
    assert(same.getAs[Double]("ks_stat") === 0.0)
    // b = a + 10 ⇒ wasserstein-1 exactly 10
    val shifted = (a ++ a.map(p => (p._1 + 10.0, "b"))).toDF("v", "lab")
    val r = Divergence.ecdfStats(shifted, "v", col("lab"), "a", "b").first()
    assert(math.abs(r.getAs[Double]("wasserstein") - 10.0) < 1e-9)
  }

  test("JSD: identical samples ~0, disjoint samples ~ln(2)") {
    val s = spark
    import s.implicits._
    val a = (1 to 500).map(i => (i.toDouble, "a"))
    val same = Divergence.histJsd(
      (a ++ a.map(p => (p._1, "b"))).toDF("v", "lab"), "v", col("lab"), "a", "b")
      .first().getAs[Double]("kl_divergence")
    assert(same < 1e-6)
    val disjoint = (a ++ a.map(p => (p._1 + 1e6, "b"))).toDF("v", "lab")
    val d = Divergence.histJsd(disjoint, "v", col("lab"), "a", "b")
      .first().getAs[Double]("kl_divergence")
    assert(math.abs(d - math.log(2)) < 1e-3)
  }

  test("hurst: random walk in plausible band, short series falls back to 0.5") {
    val df = SparkSpec.randomWalk(800)
    val h = SeriesStats.hurst(df, SeriesSpec(Nil, Seq("DATE_TIME")), "typical_price")
      .first().getAs[Double]("hurst")
    assert(h >= 0.0 && h <= 1.0)
    // prices (integrated walk) are strongly persistent: H should be high
    assert(h > 0.6, s"random-walk price hurst was $h")
    val tiny = SparkSpec.randomWalk(5)
    val ht = SeriesStats.hurst(tiny, SeriesSpec(Nil, Seq("DATE_TIME")), "typical_price")
      .first().getAs[Double]("hurst")
    assert(ht === 0.5)
  }

  test("q16 hurst == the retired broadcast per-lag oracle: walks, <8 rows, constant") {
    val s = spark
    import s.implicits._
    val spec = SeriesSpec(Nil, Seq("DATE_TIME"))
    def both(df: org.apache.spark.sql.DataFrame) = {
      def one(h: org.apache.spark.sql.DataFrame) = {
        val r = h.first(); (r.getAs[Double]("hurst"), r.getAs[Long]("n_lags"))
      }
      (one(SeriesStats.hurst(df, spec, "typical_price")),
        one(EvalOracle.hurst(df, spec, "typical_price")))
    }
    for ((n, seed) <- Seq((800, 7L), (437, 11L), (3000, 23L), (40, 5L))) {
      val ((h, lags), (oh, olags)) = both(SparkSpec.randomWalk(n, seed))
      assert(lags === olags && lags > 1, s"walk n=$n")
      assert(math.abs(h - oh) <= 1e-12, s"walk n=$n: $h vs oracle $oh")
    }
    assert(both(SparkSpec.randomWalk(7)) === (((0.5, 0L), (0.5, 0L))))
    val t0 = java.time.Instant.parse("2020-01-01T00:00:00Z")
    val flat = (0 until 200).map(i =>
      (java.sql.Timestamp.from(t0.plusSeconds(i * 3600L)), 1.25)).toDF("DATE_TIME", "typical_price")
    assert(both(flat) === (((0.0, 0L), (0.0, 0L))))
    // q16's path: no job beyond the prefix collect
    val plan = SeriesStats.hurst(SparkSpec.randomWalk(100), spec, "typical_price")
      .queryExecution.executedPlan.toString
    assert(plan.contains("LocalTableScan") && !plan.contains("Exchange"), plan)
  }

  test("grouped-agg hurst agrees with the broadcast-series hurst per series") {
    val s = spark
    import s.implicits._
    // two independent walks as two "users"
    def walk(seed: Int, uid: Int) = {
      val rnd = new scala.util.Random(seed)
      var p = 1.3
      (0 until 600).map { i =>
        p *= math.exp(rnd.nextGaussian() * 0.004); (uid, i, p)
      }
    }
    val df = (walk(3, 0) ++ walk(4, 1)).toDF("user_id", "t", "price")
    val grouped = SeriesStats.hurstGrouped(
        df, SeriesSpec(Seq("user_id"), Seq("t")), "price")
      .collect().map(r => r.getInt(0) -> r.getDouble(1)).toMap
    assert(grouped.size == 2)
    for (uid <- Seq(0, 1)) {
      val single = SeriesStats.hurst(df.filter(col("user_id") === uid),
        SeriesSpec(Nil, Seq("t")), "price").first().getAs[Double]("hurst")
      // the same R/S sweep (hurstOfSeries); the grouped output is
      // rounded to 4 decimals, the single-series one is not
      assert(math.abs(grouped(uid) - single) <= 5e-5 + 1e-12,
        s"user $uid: grouped ${grouped(uid)} vs single $single")
      assert(grouped(uid) > 0.55, "integrated walk should be persistent")
    }
  }

  test("FFT matches naive DFT for power-of-two and arbitrary lengths") {
    val rnd = new scala.util.Random(11)
    for (n <- Seq(16, 100, 257)) {
      val x = Array.fill(n)(rnd.nextGaussian())
      val fast = graft.stats.Fft.powerSpectrum(x)
      val naive = Array.tabulate(n) { k =>
        var re = 0.0; var im = 0.0
        for (t <- 0 until n) {
          val ang = -2.0 * math.Pi * k * t / n
          re += x(t) * math.cos(ang); im += x(t) * math.sin(ang)
        }
        re * re + im * im
      }
      val maxErr = fast.zip(naive).map { case (a, b) => math.abs(a - b) }.max
      assert(maxErr < 1e-8, s"n=$n maxErr=$maxErr")
    }
  }

  test("max drawdown: known path") {
    val s = spark
    import s.implicits._
    val df = Seq((0, 100.0), (1, 120.0), (2, 60.0), (3, 90.0)).toDF("rn", "p")
    val dd = SeriesStats.maxDrawdown(df, SeriesSpec(Nil, Seq("rn")), "p")
      .first().getAs[Double]("max_drawdown")
    assert(math.abs(dd - (60.0 - 120.0) / 120.0) < 1e-12)
  }

  test("autocorr: AR-free iid noise ~0, trending series ~1") {
    val s = spark
    import s.implicits._
    val trend = (1 to 200).map(i => (i, i.toDouble)).toDF("rn", "v")
    val ac = SeriesStats.autocorr(trend, SeriesSpec(Nil, Seq("rn")), "v", 1, "acf")
      .first().getAs[Double]("acf")
    assert(ac > 0.99)
  }

  test("ljungBox: hand-computed Q and closed-form p on an alternating " +
       "series; seeded white noise is not rejected; odd h refused") {
    val s = spark
    import s.implicits._
    // x = 1,2,1,2,1,2 → x̄=1.5, c=±.5, den=1.5; ρ1=−1.25/1.5,
    // ρ2=1.0/1.5; Q = 6·8·(ρ1²/5 + ρ2²/4) = 12 exactly;
    // p(h=2) = exp(−Q/2) = e⁻⁶ → r6 0.002479
    val alt = (1 to 6).map(i => (i, if (i % 2 == 1) 1.0 else 2.0))
      .toDF("rn", "v")
    val r = SeriesStats.ljungBox(alt, SeriesSpec(Nil, Seq("rn")), "v",
        h = 2)
      .select("n_obs", "q_stat", "p_value")
      .as[(Long, Double, Double)].head()
    assert(r._1 === 6L)
    assert(math.abs(r._2 - 12.0) < 1e-9)
    assert(r._3 === 0.002479)
    // seeded iid noise: the test must NOT reject whiteness
    val rnd = new scala.util.Random(7L)
    val noise = (1 to 400).map(i => (i, rnd.nextGaussian()))
      .toDF("rn", "v")
    val p = SeriesStats.ljungBox(noise, SeriesSpec(Nil, Seq("rn")), "v",
        h = 10)
      .select("p_value").as[Double].head()
    assert(p > 0.05, s"white noise rejected: p=$p")
    intercept[IllegalArgumentException] {
      SeriesStats.ljungBox(alt, SeriesSpec(Nil, Seq("rn")), "v", h = 3)
    }
  }

  test("jarqueBera: hand-computed JB and closed-form p on an " +
       "alternating sample; a heavy-tailed sample rejects harder") {
    val s = spark
    import s.implicits._
    // 1,2,1,2,1,2: z = ±1 → skew 0, kurt_raw 1 (excess −2);
    // JB = 6/6·(0 + 4/4) = 1; p = exp(−1/2)
    val alt = (1 to 6).map(i => (i, if (i % 2 == 1) 1.0 else 2.0))
      .toDF("rn", "v")
    val r = SeriesStats.jarqueBera(alt, SeriesSpec(Nil, Seq("rn")), "v")
      .select("n", "skew", "kurt_excess", "jb_stat", "p_value")
      .as[(Long, Double, Double, Double, Double)].head()
    assert(r._1 === 6L)
    assert(math.abs(r._2) < 1e-12)
    assert(math.abs(r._3 - (-2.0)) < 1e-12)
    assert(math.abs(r._4 - 1.0) < 1e-12)
    assert(math.abs(r._5 - math.exp(-0.5)) < 1e-12)
    // one extreme outlier: kurtosis explodes, p collapses toward 0
    val heavy = ((1 to 40).map(i => (i, (i % 5 - 2).toDouble)) :+
      (41, 60.0)).toDF("rn", "v")
    val p = SeriesStats.jarqueBera(heavy, SeriesSpec(Nil, Seq("rn")),
        "v")
      .select("p_value").as[Double].head()
    assert(p < 1e-6, s"heavy tail must reject normality: p=$p")
  }

  test("mcleod-li (c11 shape): volatility clustering rejects on " +
       "squared series, iid-ish noise squares do not") {
    val s = spark
    import s.implicits._
    def lbSq(xs: Seq[Double]) = {
      val df = xs.zipWithIndex
        .map { case (v, i) => ("u", i, v * v) }.toDF("k", "i", "v2")
      SeriesStats.ljungBox(df, SeriesSpec(Seq("k"), Seq("i")), "v2")
        .first()
    }
    // two vol regimes (|ret| 2 then 0.1): the squared series is a
    // level shift -> massive portmanteau rejection
    val clustered = (0 until 20).map(i => if (i % 2 == 0) 2.0 else -2.0) ++
      (0 until 20).map(i => if (i % 2 == 0) 0.1 else -0.1)
    assert(lbSq(clustered).getAs[Double]("p_value") < 1e-20)
    // sin-hash noise: squares carry no lag structure (Q ≈ 10 on 10
    // dof, p ≈ 0.44 — precomputed with the same formula)
    val noise = (1 to 80).map(t =>
      math.sin(t.toDouble) * 43758.5453 % 1.0)
    val r = lbSq(noise)
    assert(r.getAs[Double]("p_value") > 0.05,
      s"iid squares must not reject: $r")
  }

  test("hash-sample quantiles: type-7 interpolation exact on 1..101; " +
       "the deterministic 1/8 sample tracks the true quantiles and " +
       "re-runs identically") {
    val s = spark
    import s.implicits._
    val small = (1 to 101).map(i => (i.toLong, i.toDouble)).toDF("k", "value")
    // pShift=0 -> threshold 2^60 -> the sample IS the full data: the
    // interpolation arithmetic is checked exactly
    val (_, rf) = Histogram.hashSampleQuantiles(small, "value", "k",
      Seq(0.5), pShift = 0, seed = 20)
    val qdf = Seq(0.25, 0.5, 0.9).toDF("q")
    val full = Histogram.quantileFrame(rf, qdf, "est").collect()
      .map(r => r.getDouble(0) -> r.getDouble(2)).toMap
    assert(full(0.5) === 51.0)   // x = 100·0.5 = 50, frac 0 -> rank 51
    assert(full(0.25) === 26.0)
    assert(full(0.9) === 91.0)
    // 1..20000 at p = 1/8: the sampled median lands near the truth,
    // and the hash sample is bit-reproducible across runs
    val big = (1 to 20000).map(i => (i.toLong, i.toDouble)).toDF("k", "value")
    val (rs1, _) = Histogram.hashSampleQuantiles(big, "value", "k",
      Seq(0.5), pShift = 3, seed = 20)
    val med = Histogram.quantileFrame(rs1, Seq(0.5).toDF("q"), "est")
      .collect()(0)
    val m = med.getLong(1)
    assert(m > 2000 && m < 3000, s"1/8 sample of 20k: got $m rows")
    assert(math.abs(med.getDouble(2) - 10000.5) < 1500.0,
      s"sampled median ${med.getDouble(2)}")
    val (rs2, _) = Histogram.hashSampleQuantiles(big, "value", "k",
      Seq(0.5), pShift = 3, seed = 20)
    val again = Histogram.quantileFrame(rs2, Seq(0.5).toDF("q"), "est")
      .collect()(0)
    assert(again.getLong(1) === m && again.getDouble(2) === med.getDouble(2))
  }

  test("kpss: trend series rejects stationarity (p clamps at 0.01), " +
       "hash-noise stays under the 5% critical value; maxLag caps the " +
       "bandwidth") {
    val s = spark
    import s.implicits._
    def run(xs: Seq[Double], cap: Int = 8) = SeriesStats.kpss(
      xs.zipWithIndex.map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v"),
      SeriesSpec(Seq("k"), Seq("i")), "v", maxLag = cap).first()
    // deterministic iid-ish noise: Knuth multiplicative hash mod 1000
    val noise = (1 to 80).map(t =>
      ((t * 2654435761L) % 1000L).toDouble / 1000.0 - 0.5)
    val quiet = run(noise)
    assert(quiet.getAs[Double]("kpss_stat") < 0.463,
      s"stationary noise must sit under the 5% CV: ${quiet}")
    assert(quiet.getAs[Double]("p_value") > 0.05)
    // pure trend 1..80: the canonical KPSS rejection
    val trend = run((1 to 80).map(_.toDouble))
    assert(trend.getAs[Double]("kpss_stat") > 0.739,
      s"trend must exceed the 1% CV: ${trend}")
    assert(trend.getAs[Double]("p_value") === 0.01)
    // bandwidth: n=80 -> l = ⌊4·0.8^0.25⌋ = 3; cap=2 binds
    assert(run(noise).getAs[Long]("n_lags") === 3L)
    assert(run(noise, cap = 2).getAs[Long]("n_lags") === 2L)
  }

  test("decomposition strength: pure trend maxes f_trend, a clean " +
       "period-7 pattern maxes f_seasonal, hash noise scores low on both") {
    val s = spark
    import s.implicits._
    def ds(xs: Seq[Double]) = SeriesStats.decompositionStrength(
      xs.zipWithIndex.map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v"),
      SeriesSpec(Seq("k"), Seq("i")), "v", period = 7).first()
    val trend = ds((1 to 70).map(_.toDouble))
    assert(trend.getAs[Double]("f_trend") > 0.99,
      s"pure ramp must be trend-dominated: $trend")
    val pattern = Seq(5.0, 1.0, -2.0, 7.0, 0.0, -4.0, 3.0)
    val seas = ds(Seq.fill(10)(pattern).flatten)
    assert(seas.getAs[Double]("f_seasonal") > 0.99,
      s"a repeating period-7 pattern must be seasonal-dominated: $seas")
    val noise = (1 to 70).map(t =>
      ((t * 2654435761L) % 1000L).toDouble / 1000.0)
    val nz = ds(noise)
    assert(nz.getAs[Double]("f_trend") < 0.6 &&
      nz.getAs[Double]("f_seasonal") < 0.6,
      s"hash noise must be remainder-dominated: $nz")
  }

  test("rank-sum drift: hand U/z/p on a clean shift; all-tied series " +
       "nulls z; average ranks handle ties exactly") {
    val s = spark
    import s.implicits._
    def rs(xs: Seq[Double]) = SeriesStats.rankSumDrift(
      xs.zipWithIndex.map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v"),
      SeriesSpec(Seq("k"), Seq("i")), "v").first()
    // halves [1..4] vs [101..104]: R1 = 10, U1 = 0, mu = 8, var = 12,
    // z = (0 + 0.5 - 8)/sqrt(12) ≈ -2.165064
    val shift = rs(Seq(1.0, 2.0, 3.0, 4.0, 101.0, 102.0, 103.0, 104.0))
    assert(shift.getAs[Long]("n1") === 4L && shift.getAs[Long]("n2") === 4L)
    assert(shift.getAs[Double]("u_stat") === 0.0)
    assert(math.abs(shift.getAs[Double]("z_score") -
      (-7.5 / math.sqrt(12.0))) < 1e-5)
    assert(shift.getAs[Double]("p_value") < 0.05)
    // all-tied: the tie correction zeroes the variance -> z/p null
    val flat = rs(Seq.fill(8)(3.0))
    assert(flat.isNullAt(flat.fieldIndex("z_score")))
    assert(flat.isNullAt(flat.fieldIndex("p_value")))
    // tie-averaged ranks: [1,1,2,2] -> avg ranks (1.5,1.5,3.5,3.5),
    // R1 = 3.0, U1 = 3 - 3 = 0, mu = 2; tie term 2*(8-2)=12;
    // var = 4/12*(5 - 12/12) = 4/3
    val ties = rs(Seq(1.0, 1.0, 2.0, 2.0))
    assert(ties.getAs[Double]("u_stat") === 0.0)
    assert(math.abs(ties.getAs[Double]("z_score") -
      (-1.5 / math.sqrt(4.0 / 3.0))) < 1e-5)
  }

  test("cvm drift: hand U/T on separated and interleaved halves; the " +
       "rank formula reproduces the ECDF-integral definition") {
    val s = spark
    import s.implicits._
    def cvm(xs: Seq[Double]) = SeriesStats.cvmDrift(
      xs.zipWithIndex.map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v"),
      SeriesSpec(Seq("k"), Seq("i")), "v").first()
    // fully separated halves [1,2] vs [3,4]: pooled ranks 1..4, own
    // ranks (1,2 | 1,2) -> s1=0, s2=(3-1)^2+(4-2)^2=8, U=2*0+2*8=16,
    // T = 16/(2*2*4) - (4*2*2-1)/(6*4) = 1 - 15/24 = 0.375
    val sep = cvm(Seq(1.0, 2.0, 3.0, 4.0))
    assert(sep.getAs[Long]("n1") === 2L && sep.getAs[Long]("n2") === 2L)
    assert(sep.getAs[Double]("u_stat") === 16.0)
    assert(math.abs(sep.getAs[Double]("t_stat") - 0.375) < 1e-9)
    // interleaved [1,3] vs [2,4]: s1=(1-1)^2+(3-2)^2=1,
    // s2=(2-1)^2+(4-2)^2=5, U=12, T = 12/16 - 15/24 = 0.125
    val mix = cvm(Seq(1.0, 3.0, 2.0, 4.0))
    assert(mix.getAs[Double]("u_stat") === 12.0)
    assert(math.abs(mix.getAs[Double]("t_stat") - 0.125) < 1e-9)
    // brute-force equivalence (distinct values): Anderson's rank
    // formula equals T = (n1*n2/N^2) * sum_pooled (F1 - F2)^2
    def brute(xs: Seq[Double]): Double = {
      val h1 = xs.take(xs.length / 2)
      val h2 = xs.drop(xs.length / 2)
      val t = xs.sorted.map { z =>
        val f1 = h1.count(_ <= z).toDouble / h1.size
        val f2 = h2.count(_ <= z).toDouble / h2.size
        (f1 - f2) * (f1 - f2)
      }.sum
      t * h1.size * h2.size / (xs.length.toDouble * xs.length)
    }
    val noise = (1 to 21).map(t => ((t * 2654435761L) % 10007L).toDouble)
    assert(noise.distinct.size === noise.size)
    val got = cvm(noise).getAs[Double]("t_stat")
    assert(math.abs(got - brute(noise)) < 1e-6,
      s"rank formula $got must equal the ECDF integral ${brute(noise)}")
  }

  test("pettitt: known K/tau/p on hand series; the rank-telescoped " +
       "V_t reproduces the O(n^2) definition; flat series clamps p=1") {
    val s = spark
    import s.implicits._
    def pt(xs: Seq[Double]) = SeriesStats.pettitt(
      xs.zipWithIndex.map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v"),
      SeriesSpec(Seq("k"), Seq("i")), "v").first()
    // strictly increasing 1..10: U_t = t(n-t), max at t=5 -> K=25;
    // p = 2 exp(-6*625/1100)
    val up = pt((1 to 10).map(_.toDouble))
    assert(up.getAs[Long]("k_stat") === 25L)
    assert(up.getAs[Long]("tau") === 5L)
    assert(math.abs(up.getAs[Double]("p_value") -
      2.0 * math.exp(-3750.0 / 1100.0)) < 1e-6)
    // level shift 0x10 then 5x10: U_t = 10t rising to K=100 at tau=10
    val shift = pt(Seq.fill(10)(0.0) ++ Seq.fill(10)(5.0))
    assert(shift.getAs[Long]("k_stat") === 100L)
    assert(shift.getAs[Long]("tau") === 10L)
    assert(shift.getAs[Double]("p_value") < 0.01,
      s"a clean level shift must be significant: $shift")
    // brute-force O(n^2) cross-check of the telescoped U on an
    // irregular tie-heavy series
    val xs = Seq(3.0, 1.0, 3.0, 2.0, 5.0, 2.0, 2.0, 4.0)
    val n = xs.length
    val us = (1 until n).map { t =>
      (for (i <- 0 until t; j <- t until n)
        yield math.signum(xs(j) - xs(i)).toLong).sum
    }
    val k = us.map(math.abs).max
    val tau = us.indexWhere(u => math.abs(u) == k) + 1
    val got = pt(xs)
    assert(got.getAs[Long]("k_stat") === k)
    assert(got.getAs[Long]("tau") === tau.toLong)
    // all-equal: K=0, tau tie-breaks to 1, p clamps at 1.0
    val flat = pt(Seq.fill(6)(7.0))
    assert(flat.getAs[Long]("k_stat") === 0L)
    assert(flat.getAs[Long]("tau") === 1L)
    assert(flat.getAs[Double]("p_value") === 1.0)
  }

  test("anderson-darling: near-normal sample accepts, exponential " +
       "sample rejects hard; A2 matches a local replay of the formula") {
    val s = spark
    import s.implicits._
    def ad(xs: Seq[Double]) = SeriesStats.andersonDarling(
      xs.zipWithIndex.map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v"),
      SeriesSpec(Seq("k"), Seq("i")), "v").first()
    // deterministic uniforms via the Knuth hash; Irwin-Hall sum of 12
    // uniforms - 6 is near-normal
    def u(t: Int) = (((t * 2654435761L) % 100000L + 100000L) % 100000L)
      .toDouble / 100000.0
    val normish = (0 until 100).map(i =>
      (0 until 12).map(j => u(i * 12 + j + 1)).sum - 6.0)
    val nr = ad(normish)
    assert(nr.getAs[Double]("p_value") > 0.05,
      s"near-normal sample must not reject: $nr")
    // exponential: -ln(u) is strongly right-skewed
    val expo = (1 to 100).map(i => -math.log(math.max(u(i), 1e-9)))
    val er = ad(expo)
    assert(er.getAs[Double]("p_value") < 0.01,
      s"exponential sample must reject normality: $er")
    // local replay of the exact formula (same erfc chain) on a small
    // series — pins the distributed sort/weight pairing
    val xs = Seq(1.0, 4.0, 2.0, 9.0, 3.0, 6.0, 5.0)
    val n = xs.length
    val mu = xs.sum / n
    val sd = math.sqrt(xs.map(x => (x - mu) * (x - mu)).sum / (n - 1))
    def chain(a: Double) = {
      val t = 1.0 / (1.0 + 0.3275911 * a)
      t * (0.254829592 + t * (-0.284496736 + t * (1.421413741 +
        t * (-1.453152027 + t * 1.061405429)))) * math.exp(-a * a)
    }
    def erfc(x: Double) = if (x >= 0) chain(x) else 2.0 - chain(-x)
    def phi(z: Double) = 0.5 * erfc(-z / math.sqrt(2.0))
    def phiC(z: Double) = 0.5 * erfc(z / math.sqrt(2.0))
    val zs = xs.map(x => (x - mu) / sd).sorted
    val sum = zs.zipWithIndex.map { case (z, i0) =>
      val k = i0 + 1
      (2.0 * k - 1.0) * math.log(math.max(phi(z), 1e-300)) +
        (2.0 * n - 2.0 * k + 1.0) * math.log(math.max(phiC(z), 1e-300))
    }.sum
    val a2 = -n.toDouble - sum / n
    val got = ad(xs)
    assert(math.abs(got.getAs[Double]("a2_stat") - a2) < 1e-5,
      s"A2 mismatch: got $got want $a2")
  }

  test("mann-kendall: known S/z/sen on hand series; tie-saturated " +
       "series nulls z; even-pair median averages the two middle ranks") {
    val s = spark
    import s.implicits._
    def mk(xs: Seq[Double]) = SeriesStats.mannKendall(
      xs.zipWithIndex.map { case (v, i) => ("u", i, v) }.toDF("k", "i", "v"),
      SeriesSpec(Seq("k"), Seq("i")), "v").first()
    // strictly increasing 1..10: S = 45, no ties -> Var = 10·9·25/18
    // = 125, z = 44/√125 ≈ 3.935507; every pairwise slope is 1
    val up = mk((1 to 10).map(_.toDouble))
    assert(up.getAs[Long]("s_stat") === 45L)
    assert(math.abs(up.getAs[Double]("z_score") -
      44.0 / math.sqrt(125.0)) < 1e-5)
    assert(up.getAs[Double]("p_value") < 1e-3)
    assert(up.getAs[Double]("sen_slope") === 1.0)
    // [1,3,2]: S = 1; slopes sorted [-1, 0.5, 2] -> median 0.5
    val mid = mk(Seq(1.0, 3.0, 2.0))
    assert(mid.getAs[Long]("s_stat") === 1L)
    assert(mid.getAs[Double]("sen_slope") === 0.5)
    // [1,2,4,3]: m = 6 pairs, slopes sorted
    // [-1, 0.5, 2/3, 1, 1.5, 2] -> median = (2/3 + 1)/2
    val even = mk(Seq(1.0, 2.0, 4.0, 3.0))
    assert(even.getAs[Long]("s_stat") === 4L)
    assert(math.abs(even.getAs[Double]("sen_slope") -
      ((2.0 / 3.0 + 1.0) / 2.0)) < 1e-6)
    // all-equal: S = 0, the tie term saturates Var -> z/p null, sen 0
    val flat = mk(Seq(5.0, 5.0, 5.0, 5.0))
    assert(flat.getAs[Long]("s_stat") === 0L)
    assert(flat.isNullAt(flat.fieldIndex("z_score")))
    assert(flat.isNullAt(flat.fieldIndex("p_value")))
    assert(flat.getAs[Double]("sen_slope") === 0.0)
  }
}
