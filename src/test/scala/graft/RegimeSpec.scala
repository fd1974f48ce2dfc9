package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{Hmm, RegimeBootstrap, RegimeConditional}

class RegimeSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("HMM EM separates two well-separated Gaussian regimes") {
    val rnd = new scala.util.Random(1)
    // regime 0: mean -2, regime 1: mean +2, sticky transitions
    val (xs, truth) = {
      var state = 0
      val xs = Array.newBuilder[Array[Double]]
      val st = Array.newBuilder[Int]
      for (_ <- 0 until 600) {
        if (rnd.nextDouble() < 0.05) state = 1 - state
        xs += Array(rnd.nextGaussian() * 0.5 + (if (state == 0) -2.0 else 2.0))
        st += state
      }
      (xs.result(), st.result())
    }
    val m = Hmm.fit(xs, 2)
    val pred = Hmm.predict(m, xs)
    // label-invariant accuracy
    val agree = pred.zip(truth).count { case (a, b) => a == b }
    val acc = math.max(agree, pred.length - agree).toDouble / pred.length
    assert(acc > 0.95, s"HMM regime recovery accuracy $acc")
    // transition rows are stochastic
    m.transition.foreach(r => assert(math.abs(r.sum - 1.0) < 1e-9))
    assert(math.abs(m.startProbs.sum - 1.0) < 1e-9)
    // sticky chain recovered: self-transitions dominate
    assert(m.transition(0)(0) > 0.8 && m.transition(1)(1) > 0.8)
  }

  test("EM steps never decrease the log-likelihood (Baum-Welch invariant)") {
    val rnd = new scala.util.Random(5)
    val xs = Array.fill(300)(Array(rnd.nextGaussian() +
      (if (rnd.nextBoolean()) 1.5 else -1.5), rnd.nextGaussian() * 0.3))
    var model = Hmm.quantileInit(xs, 3)
    var prevLl = Double.NegativeInfinity
    for (_ <- 0 until 12) {
      val (next, ll) = Hmm.emStep(xs, model)
      // emStep returns the likelihood of the INPUT params — each
      // update must improve (or hold) it
      assert(ll >= prevLl - 1e-9, s"EM decreased the likelihood: $prevLl -> $ll")
      prevLl = ll
      model = next
    }
    // posterior rows stay stochastic through the updates
    model.transition.foreach(r => assert(math.abs(r.sum - 1.0) < 1e-9))
    assert(math.abs(model.startProbs.sum - 1.0) < 1e-9)
  }

  test("grouped per-series HMM fit matches the serial fit per series") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val rows = (0 until 3).flatMap { u =>
      var p = 50.0 + 10 * u
      (0 until 160).map { i =>
        p *= math.exp(rnd.nextGaussian() * (0.002 + 0.003 * u))
        (u.toLong, i.toLong, i.toLong, p)
      }
    }
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val fitted = RegimeConditional.fitGrouped(df, "user_id",
        Seq("ts", "event_id"), "value", k = 2)
      .collect().map(r => r.getLong(0) -> r).toMap
    assert(fitted.keySet === Set(0L, 1L, 2L))
    // expected: same rounded-feature prefix per series, serial Hmm.fit
    val feats = RegimeConditional.featuresGrouped(df, "user_id",
        Seq("ts", "event_id"), "value")
      .select(col("user_id").cast("long"), col("rn"),
        round(col("f0"), 6), round(col("f1"), 6), round(col("f2"), 6))
      .collect().groupBy(_.getLong(0))
    for (u <- 0L to 2L) {
      val x = feats(u).sortBy(_.getInt(1))
        .map(r => Array(r.getDouble(2), r.getDouble(3), r.getDouble(4)))
      val exp = Hmm.fit(x, 2)
      val got = fitted(u)
      assert(got.getAs[Int]("n_rows") === x.length)
      val gm = got.getAs[scala.collection.Seq[Double]]("means")
      exp.means.flatten.zip(gm).foreach { case (e, g) =>
        assert(math.abs(e - g) < 1e-12, s"user $u means $e vs $g") }
      val gt = got.getAs[scala.collection.Seq[Double]]("transition")
      exp.transition.flatten.zip(gt).foreach { case (e, g) =>
        assert(math.abs(e - g) < 1e-12) }
    }
  }

  test("G6 regime bootstrap: deterministic, n rows, positive prices") {
    val prices = SparkSpec.randomWalk(500)
    val model = RegimeBootstrap.fit(prices, Seq("DATE_TIME"), "typical_price", 3)
    assert(model.blocks.nonEmpty)
    model.blocks.values.foreach(pool => pool.foreach(b => assert(b.length >= 3)))
    def ser(seed: Long) = RegimeBootstrap.generate(spark, model, seed, 200, 1.3)
      .orderBy("rn").select("typical_price").collect().map(_.getDouble(0)).toSeq
    val a = ser(9); val b = ser(9); val c = ser(10)
    assert(a.length === 200); assert(a === b); assert(a !== c)
    assert(a.forall(_ > 0))
  }

  /** Price fixtures for the fit's edge cases: (name, prices, nRegimes,
    * maxFitRows). */
  private def regimeCases = {
    val walk = SparkSpec.randomWalk(600, seed = 3)
    Seq(
      ("walk", walk, 4, 20000),
      ("walk seed 5", SparkSpec.randomWalk(400, seed = 5), 3, 20000),
      ("constant", SparkSpec.randomWalk(200).withColumn("typical_price", lit(1.3)), 3, 20000),
      ("null price", SparkSpec.randomWalk(300, seed = 8).withColumn("typical_price",
        when(col("rn") === 100, lit(null)).otherwise(col("typical_price"))), 3, 20000),
      // a NaN price makes NaN returns and vols: SQL compares NaN as the
      // largest double, so vol_ratio's `vol_long > 1e-10` holds for it
      ("NaN price", SparkSpec.randomWalk(300, seed = 9).withColumn("typical_price",
        when(col("rn") === 150, lit(Double.NaN)).otherwise(col("typical_price"))), 3, 20000),
      ("fewer than 24 rows", SparkSpec.randomWalk(20, seed = 6), 3, 20000),
      ("fewer than 72 rows", SparkSpec.randomWalk(50, seed = 6), 4, 20000),
      ("maxFitRows below length", walk, 4, 250),
      // 6 regimes on 300 bars: one regime of 2 rows (< 5: global-std
      // params), two of 17 and 26 (< 30: GARCH fallback), three fitted
      ("small regimes", SparkSpec.randomWalk(300, seed = 2), 6, 20000))
  }

  private def bits(xs: Iterable[Double]): Seq[Long] =
    xs.map(java.lang.Double.doubleToLongBits).toSeq

  test("regime fit and features == retired DataFrame oracles bit-for-bit") {
    val order = Seq("DATE_TIME")
    for ((name, prices, k, cap) <- regimeCases) {
      for ((vw, vl) <- Seq((24, 72), (3, 1), (5, 10))) {
        val got = RegimeConditional.features(prices, order, "typical_price", vw, vl, cap)
        val want = GenOracle.regimeFeatures(prices, order, "typical_price", vw, vl, cap)
        assert(got.schema === want.schema, name)
        def rows(df: org.apache.spark.sql.DataFrame) = df.collect().toSeq.map(r =>
          r.getInt(0) +: bits((1 until r.length).map(i =>
            if (r.isNullAt(i)) Double.NaN else r.getDouble(i))))
        assert(rows(got) === rows(want), s"$name features ($vw, $vl)")
      }
      for (garch <- Seq(false, true)) {
        val what = s"$name fit (garch=$garch)"
        val got = scala.util.Try(RegimeConditional.fit(prices, order, "typical_price", k,
          withGarch = garch, maxFitRows = cap))
        val want = scala.util.Try(GenOracle.regimeFit(prices, order, "typical_price", k,
          withGarch = garch, maxFitRows = cap))
        assert(got.isSuccess === want.isSuccess, s"$what: $got vs $want")
        if (want.isFailure)
          assert(got.failed.get.getClass === want.failed.get.getClass, what)
        else {
          val (a, b) = (got.get, want.get)
          assert(a.nRegimes === b.nRegimes, what)
          assert(bits(a.transition.flatten) === bits(b.transition.flatten), what)
          assert(bits(a.startProbs) === bits(b.startProbs), what)
          assert(a.params.map(_.count).toSeq === b.params.map(_.count).toSeq, what)
          assert(bits(a.params.flatMap(p => Seq(p.mean, p.std, p.skew, p.ar1))) ===
            bits(b.params.flatMap(p => Seq(p.mean, p.std, p.skew, p.ar1))), what)
          assert(a.garch.map(g => bits(g.flatMap(f => Seq(f.omega, f.alpha, f.beta,
            f.longRunVar, f.logLik)))) === b.garch.map(g => bits(g.flatMap(f =>
            Seq(f.omega, f.alpha, f.beta, f.longRunVar, f.logLik)))), what)
          assert(bits(a.featureMeans) === bits(b.featureMeans), what)
          assert(bits(a.featureStds) === bits(b.featureStds), what)
          assert(bits(a.hmmMeans.flatten) === bits(b.hmmMeans.flatten), what)
          assert(bits(a.hmmCovars.flatten) === bits(b.hmmCovars.flatten), what)
          assert(bits(Seq(a.dataMean, a.dataStd)) === bits(Seq(b.dataMean, b.dataStd)), what)
          if (name == "small regimes") {
            val counts = a.params.map(_.count)
            assert(counts.exists(_ < 5) && counts.exists(c => c >= 5 && c < 30) &&
              counts.exists(_ >= 30), s"$what: regime sizes ${counts.toSeq}")
          }
        }
      }
    }
  }

  test("regime conditional fit releases the storage it persisted") {
    val prices = SparkSpec.randomWalk(400, seed = 3)
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    RegimeConditional.fit(prices, Seq("DATE_TIME"), "typical_price", 3,
      withGarch = true)
    assert(sc.getPersistentRDDs.keySet.toSet.diff(before).isEmpty)
  }

  test("G4/G5 regime conditional: deterministic, plausible vol") {
    val prices = SparkSpec.randomWalk(600)
    val m4 = RegimeConditional.fit(prices, Seq("DATE_TIME"), "typical_price", 3)
    assert(m4.params.length === 3)
    def ser(m: graft.gen.RegimeModel, seed: Long) =
      RegimeConditional.generate(spark, m, seed, 300, 1.3)
        .orderBy("rn").select("typical_price").collect().map(_.getDouble(0)).toSeq
    val a = ser(m4, 5); val b = ser(m4, 5); val c = ser(m4, 6)
    assert(a.length === 300); assert(a === b); assert(a !== c)
    assert(a.forall(_ > 0))
    // generated return std within an order of magnitude of the fitted
    val genStd = {
      val rets = a.sliding(2).map(p => math.log(p(1) / p(0))).toSeq
      val mu = rets.sum / rets.size
      math.sqrt(rets.map(r => (r - mu) * (r - mu)).sum / rets.size)
    }
    val fitStd = m4.params.map(_.std).max
    assert(genStd < fitStd * 10 && genStd > fitStd / 100, s"genStd=$genStd fitStd=$fitStd")
    // G5 with GARCH
    val m5 = RegimeConditional.fit(prices, Seq("DATE_TIME"), "typical_price", 3,
      withGarch = true)
    assert(m5.garch.isDefined)
    m5.garch.get.foreach { g =>
      assert(g.alpha + g.beta < 0.999); assert(g.omega >= 0)
    }
    val d = ser(m5, 5)
    assert(d.length === 300 && d.forall(_ > 0))
  }

  test("augmentation evaluator: baseline computed once, cache hit skips baseline leg") {
    val train = SparkSpec.randomWalk(300, seed = 11)
    val valid = SparkSpec.randomWalk(120, seed = 12)
    val test = SparkSpec.randomWalk(120, seed = 13)
    val synth = SparkSpec.randomWalk(150, seed = 14)
    val cache = java.nio.file.Files.createTempDirectory("augcache")
      .resolve("baseline.json").toString
    val r1 = graft.eval.AugmentationEvaluator.evaluate(
      synth, train, valid, test, Seq("DATE_TIME"), "typical_price",
      cache, windowSize = 10, maxIter = 5).first()
    assert(java.nio.file.Files.exists(java.nio.file.Paths.get(cache)))
    // second candidate: cache hit — baseline identical, deltas consistent
    val synth2 = SparkSpec.randomWalk(150, seed = 15)
    val r2 = graft.eval.AugmentationEvaluator.evaluate(
      synth2, train, valid, test, Seq("DATE_TIME"), "typical_price",
      cache, windowSize = 10, maxIter = 5).first()
    assert(r2.getAs[Double]("baseline_mae_val") === r1.getAs[Double]("baseline_mae_val"))
    assert(math.abs(r2.getAs[Double]("mae_delta_test") -
      (r2.getAs[Double]("augmented_mae_test") - r1.getAs[Double]("baseline_mae_test"))) < 1e-9)
    assert(r2.getAs[Boolean]("synthetic_helps_test") ===
      (r2.getAs[Double]("mae_delta_test") < 0))
  }

  test("predictive evaluator: full key contract, delta consistency (ref test_predictive_evaluator.py:20-69)") {
    val train = SparkSpec.randomWalk(400, seed = 1)
    val valid = SparkSpec.randomWalk(150, seed = 2)
    val test = SparkSpec.randomWalk(150, seed = 3)
    val synth = SparkSpec.randomWalk(200, seed = 4)
    val r = graft.eval.PredictiveEvaluator.evaluate(
      synth, train, valid, test, Seq("DATE_TIME"), "typical_price",
      windowSize = 12, horizon = 1)
    val row = r.first()
    for (k <- Seq("baseline_mae_train", "baseline_mae_val", "baseline_mae_test",
      "augmented_mae_train", "augmented_mae_val", "augmented_mae_test"))
      assert(row.getAs[Double](k) > 0, s"$k must be positive")
    // |delta − (aug − base)| < 1e-8
    assert(math.abs(row.getAs[Double]("mae_delta_test") -
      (row.getAs[Double]("augmented_mae_test") - row.getAs[Double]("baseline_mae_test"))) < 1e-8)
    assert(row.getAs[Long]("n_augmented_train") ===
      row.getAs[Long]("n_real_train") + row.getAs[Long]("n_synthetic"))
    assert(row.getAs[Boolean]("synthetic_helps_test") ===
      (row.getAs[Double]("mae_delta_test") < 0))
    // dist_* secondary metrics merged
    assert(r.columns.contains("dist_kl_divergence"))
    assert(r.columns.contains("dist_quality_score"))
  }
}
