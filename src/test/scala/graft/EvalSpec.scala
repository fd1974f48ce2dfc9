package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.{CompositeMetric, DistributionEvaluator}
import graft.io.{CsvIO, MetricsViews, ModelIO}
import graft.stats.{Garch, Spectral}

class EvalSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  test("distribution evaluator: self-comparison is near-perfect, has all reference keys") {
    val a = SparkSpec.randomWalk(400, seed = 1)
    val b = SparkSpec.randomWalk(400, seed = 2)
    val m = DistributionEvaluator.evaluate(a, b, Seq("DATE_TIME"), "typical_price")
    val row = m.first()
    val expectedKeys = Seq("kl_divergence", "wasserstein_distance",
      "real_return_mean", "synthetic_return_mean", "real_return_std",
      "synthetic_return_std", "real_autocorr_lag1", "synthetic_autocorr_lag1",
      "real_autocorr_lag5", "synthetic_autocorr_lag5", "real_autocorr_lag10",
      "synthetic_autocorr_lag10", "real_adf_pvalue", "synthetic_adf_pvalue",
      "quality_score")
    expectedKeys.foreach(k => assert(m.columns.contains(k), s"missing $k"))
    assert(row.getAs[Double]("kl_divergence") >= 0.0)
    assert(row.getAs[Double]("quality_score") >= 0.0)
    // real ADF now: returns of a random walk are white noise ⇒ stationary
    val adfP = row.getAs[Double]("real_adf_pvalue")
    assert(adfP >= 0.0 && adfP < 0.05, s"stationary returns should reject unit root, p=$adfP")
    // same-distribution walks: small divergence
    assert(row.getAs[Double]("kl_divergence") < 0.2)
  }

  test("per-series evaluator on one series == global deterministic core") {
    import org.apache.spark.sql.functions._
    val a = SparkSpec.randomWalk(400, seed = 1).withColumn("uid", lit(9L))
    val b = SparkSpec.randomWalk(400, seed = 2).withColumn("uid", lit(9L))
    val grouped = DistributionEvaluator.evaluateGrouped(a, b, "uid",
      Seq("DATE_TIME"), "typical_price").first()
    val global = DistributionEvaluator.evaluate(
      a.drop("uid"), b.drop("uid"), Seq("DATE_TIME"), "typical_price",
      withAdf = false).first()
    val keys = Seq("kl_divergence", "wasserstein_distance",
      "real_return_mean", "synthetic_return_mean", "real_return_std",
      "synthetic_return_std", "real_autocorr_lag1",
      "synthetic_autocorr_lag1", "real_autocorr_lag5",
      "synthetic_autocorr_lag5", "real_autocorr_lag10",
      "synthetic_autocorr_lag10", "quality_score")
    keys.foreach { k =>
      val g = grouped.getAs[Double](k); val e = global.getAs[Double](k)
      assert(math.abs(g - e) <= math.max(1e-12, math.abs(e) * 1e-12),
        s"$k: grouped=$g global=$e")
    }
  }

  /** Same value to 1e-12 relative (1e-12 absolute near zero); NaN and
    * null only match themselves. */
  private def assertClose(what: String, got: Any, want: Any): Unit = (got, want) match {
    case (g: Double, w: Double) =>
      assert((g.isNaN && w.isNaN) ||
        math.abs(g - w) <= math.max(1e-12, math.abs(w) * 1e-12), s"$what: $g vs oracle $w")
    case _ => assert(got == want, s"$what: $got vs oracle $want")
  }

  // (label, real, synth): random walks, a constant synth, a synth
  // shorter than lag 24, and ≤ 31 rows per side (the ADF sentinel)
  private def oracleCases = {
    val walk = SparkSpec.randomWalk(400, seed = 11)
    val walk2 = SparkSpec.randomWalk(400, seed = 12, vol = 2e-3)
    Seq(
      ("random walks", walk, walk2),
      ("constant synth", walk,
        walk2.withColumn("typical_price", lit(1.3))),
      ("synth shorter than lag 24", walk, SparkSpec.randomWalk(20, seed = 13)),
      ("tied returns", walk.withColumn("typical_price",
        round(col("typical_price"), 3)), walk2),
      ("31 rows", SparkSpec.randomWalk(31, seed = 14),
        SparkSpec.randomWalk(30, seed = 15)))
  }

  test("evaluate == retired single-series oracle (walks and degenerate inputs)") {
    for ((label, real, synth) <- oracleCases; withAdf <- Seq(true, false)) {
      val got = DistributionEvaluator.evaluate(real, synth, Seq("DATE_TIME"),
        "typical_price", withAdf).collect()
      val want = EvalOracle.evaluate(real, synth, Seq("DATE_TIME"),
        "typical_price", withAdf)
      assert(got.length === 1, label)
      assert(got.head.schema.fieldNames.toSeq === want.schema.fieldNames.toSeq, label)
      want.schema.fieldNames.foreach(c =>
        assertClose(s"$label/adf=$withAdf/$c", got.head.getAs[Any](c), want.getAs[Any](c)))
    }
  }

  test("score == retired single-series oracle (walks and degenerate inputs)") {
    for ((label, real, synth) <- oracleCases; withExpensive <- Seq(true, false)) {
      val (s, d) = CompositeMetric.score(real, synth, Seq("DATE_TIME"),
        "typical_price", withExpensive = withExpensive)
      val (os, od) = EvalOracle.score(real, synth, Seq("DATE_TIME"),
        "typical_price", withExpensive)
      assert(d.keySet === od.keySet, label)
      od.foreach { case (k, v) => assertClose(s"$label/$k", d(k), v) }
      assertClose(s"$label/score", s, os)
    }
  }

  /** 60 seeded series covering the kernel's edge cases: random walks of
    * random length, constant series (both sides equal: zero range, no
    * record), series shorter than lag 24, ≤ 31 rows, tied returns, and
    * keys present on one side only. */
  private def panel = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(404)
    val t0 = java.time.Instant.parse("2021-01-01T00:00:00Z")
    def walk(n: Int): Seq[Double] =
      Seq.iterate(100.0, n)(_ * math.exp(rnd.nextGaussian() * 0.01))
    def prices(kind: Int): Seq[Double] = kind match {
      case 0 => walk(rnd.nextInt(300) + 40)
      case 1 => Seq.fill(rnd.nextInt(60) + 2)(42.0)
      case 2 => walk(rnd.nextInt(20) + 2)
      case 3 => walk(rnd.nextInt(31) + 1)
      case 4 => Seq.tabulate(rnd.nextInt(80) + 30)(i => Seq(100.0, 101.0, 99.5)(i % 3))
      case _ => walk(rnd.nextInt(120) + 30).map(p => math.rint(p))
    }
    def rows(uid: Long, ps: Seq[Double]) = ps.zipWithIndex.map { case (p, i) =>
      (uid, java.sql.Timestamp.from(t0.plusSeconds(i * 3600L)), p)
    }
    val sides = (0L until 60L).map { uid =>
      val kind = (uid % 6).toInt
      val real = prices(kind)
      val synth = if (kind == 1) real else prices(rnd.nextInt(6))
      (uid % 10) match {
        case 7 => (rows(uid, real), Nil)
        case 8 => (Nil, rows(uid, synth))
        case _ => (rows(uid, real), rows(uid, synth))
      }
    }
    (sides.flatMap(_._1).toDF("uid", "DATE_TIME", "typical_price"),
      sides.flatMap(_._2).toDF("uid", "DATE_TIME", "typical_price"))
  }

  private def assertSameRecords(what: String, got: org.apache.spark.sql.DataFrame,
                                want: org.apache.spark.sql.DataFrame): Unit = {
    assert(got.columns.toSeq === want.columns.toSeq, what)
    val g = got.collect().map(r => r.getLong(0) -> r).toMap
    val w = want.collect().map(r => r.getLong(0) -> r).toMap
    assert(g.keySet === w.keySet, what)
    for ((k, row) <- w; c <- want.columns.tail)
      assertClose(s"$what/uid=$k/$c", g(k).getAs[Any](c), row.getAs[Any](c))
  }

  test("grouped kernel == retired grouped SQL legs on 60 degenerate-rich series") {
    val (real, synth) = panel
    val order = Seq("DATE_TIME")
    val dist = DistributionEvaluator.evaluateGrouped(real, synth, "uid", order,
      "typical_price")
    assertSameRecords("evaluateGrouped", dist,
      EvalOracle.evaluateGrouped(real, synth, "uid", order, "typical_price"))
    assert(dist.count() >= 50)
    assertSameRecords("scoreGrouped",
      CompositeMetric.scoreGrouped(real, synth, "uid", order, "typical_price"),
      EvalOracle.scoreGrouped(real, synth, "uid", order, "typical_price"))
    assertSameRecords("scoreGroupedFull",
      CompositeMetric.scoreGroupedFull(real, synth, "uid", order, "typical_price"),
      EvalOracle.scoreGroupedFull(real, synth, "uid", order, "typical_price"))
    // the ADF legs of the full record are adfGrouped's, from the same pass
    val withAdf = DistributionEvaluator.evaluateGroupedWithAdf(real, synth, "uid",
      order, "typical_price")
    assertSameRecords("evaluateGroupedWithAdf core", withAdf.drop(
      "real_adf_pvalue", "synthetic_adf_pvalue"), dist)
    assertSameRecords("evaluateGroupedWithAdf adf",
      withAdf.select("uid", "real_adf_pvalue", "synthetic_adf_pvalue"),
      DistributionEvaluator.adfGrouped(real, synth, "uid", order, "typical_price")
        .join(dist.select("uid"), "uid")
        .select("uid", "real_adf_pvalue", "synthetic_adf_pvalue"))
  }

  test("evaluate and score leave no storage behind, also when they throw") {
    val sc = spark.sparkContext
    def newBlocks(body: => Unit): Set[Int] = {
      val before = sc.getPersistentRDDs.keySet.toSet
      body
      sc.getPersistentRDDs.keySet.toSet.diff(before)
    }
    val real = SparkSpec.randomWalk(300, seed = 21)
    val synth = SparkSpec.randomWalk(300, seed = 22)
    assert(newBlocks(DistributionEvaluator.evaluate(real, synth,
      Seq("DATE_TIME"), "typical_price").collect()).isEmpty)
    assert(newBlocks(CompositeMetric.score(real, synth,
      Seq("DATE_TIME"), "typical_price")).isEmpty)
    // the synth frame fails only when a job runs it
    val boom = udf((p: Double) => {
      if (p > 0) throw new IllegalStateException("synth failed"); p
    })
    val failing = synth.repartition(2)
      .withColumn("typical_price", boom(col("typical_price")))
    assert(newBlocks(intercept[Exception](DistributionEvaluator.evaluate(
      real, failing, Seq("DATE_TIME"), "typical_price"))).isEmpty)
    assert(newBlocks(intercept[Exception](CompositeMetric.score(
      real, failing, Seq("DATE_TIME"), "typical_price"))).isEmpty)
  }

  test("predictive evaluate leaves no persisted RDD and no cached plan " +
       "behind when a leg throws after its caches are registered") {
    val sc = spark.sparkContext
    val cacheManager = spark
      .asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    // the plan registry has no public size; read the field it lives in
    val registry = cacheManager.getClass.getDeclaredField("cachedData")
    registry.setAccessible(true)
    def cachedPlans = registry.get(cacheManager).asInstanceOf[Seq[_]].size
    val (rdds, plans) = (sc.getPersistentRDDs.keySet.toSet, cachedPlans)
    // a price past the first few rows fails when a job reads it; the
    // leg-size counts never do, so both fits have filled their caches
    // when the validation MAEs throw. (A failing SYNTHETIC frame is not
    // used: two legs then build the dependent sSyn/augmented/wAug caches
    // at once, and Spark's failed-build recache can deadlock them.)
    val failing = SparkSpec.randomWalk(150, seed = 2).repartition(2)
      .withColumn("typical_price", when(col("rn") >= 5,
        raise_error(lit("validation leg failed")))
        .otherwise(col("typical_price")))
    val e = intercept[Exception](graft.eval.PredictiveEvaluator.evaluate(
      SparkSpec.randomWalk(200, seed = 4), SparkSpec.randomWalk(400, seed = 1),
      failing, SparkSpec.randomWalk(150, seed = 3),
      Seq("DATE_TIME"), "typical_price", windowSize = 12, maxIter = 2))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("validation leg failed")),
      e.toString)
    assert(sc.getPersistentRDDs.keySet.toSet.diff(rdds).isEmpty)
    assert(cachedPlans === plans)
  }

  test("Scope.released drops the body's local checkpoints, also when it throws, " +
       "and keeps a caller's cache") {
    val sc = spark.sparkContext
    val before = sc.getPersistentRDDs.keySet.toSet
    intercept[IllegalStateException](graft.core.Scope.released(spark) {
      spark.range(100).localCheckpoint().count()
      throw new IllegalStateException("body failed")
    })
    assert(sc.getPersistentRDDs.keySet.toSet.diff(before).isEmpty)
    // a caller's lazy cache first filled inside the body is not the body's
    val cached = spark.range(10).toDF("x").cache()
    try {
      graft.core.Scope.released(spark) {
        cached.count()
        spark.range(100).localCheckpoint().count()
      }
      assert(sc.getPersistentRDDs.keySet.toSet.diff(before).size === 1)
    } finally cached.unpersist()
  }

  test("grouped evaluators survive degenerate series (tiny, constant, lopsided)") {
    import org.apache.spark.sql.functions._
    val s = SparkSpec.spark
    import s.implicits._
    val t0 = java.time.Instant.parse("2021-01-01T00:00:00Z")
    def mk(uid: Long, vals: Seq[Double]) = vals.zipWithIndex.map { case (v, i) =>
      (uid, java.sql.Timestamp.from(t0.plusSeconds(i * 3600L)), i.toLong, v)
    }
    // uid 1: normal walk; uid 2: CONSTANT prices (zero returns);
    // uid 3: two rows (one return); uid 4: single row (no returns)
    val rows = mk(1, (1 to 60).map(i => 100.0 + math.sin(i * 0.7))) ++
      mk(2, Seq.fill(40)(50.0)) ++ mk(3, Seq(10.0, 11.0)) ++ mk(4, Seq(5.0))
    val df = rows.toDF("user_id", "ts", "event_id", "value")
    val real = df.filter(col("event_id") % 2 === 0)
    val synth = df.filter(col("event_id") % 2 === 1)
    // none of the keyed pipelines may throw; degenerate keys yield
    // null/zero metrics rather than errors
    val dist = graft.eval.DistributionEvaluator.evaluateGrouped(
      real, synth, "user_id", Seq("ts", "event_id"), "value").collect()
    assert(dist.nonEmpty)
    val comp = graft.eval.CompositeMetric.scoreGrouped(
      real, synth, "user_id", Seq("ts", "event_id"), "value").collect()
    assert(comp.nonEmpty)
    val spec = graft.stats.Spectral.distanceGrouped(
      real, synth, "user_id", Seq("ts", "event_id"), "value").collect()
    assert(spec.nonEmpty)
    val garch = graft.stats.Garch.gridGrouped(
      graft.series.SeriesOps.logReturns(df,
        graft.series.SeriesSpec(Seq("user_id"), Seq("ts", "event_id")),
        "value", "ret").filter(col("ret").isNotNull),
      "user_id", Seq("ts", "event_id"), "ret").collect()
    assert(garch.nonEmpty)
    // the healthy series must be present everywhere
    assert(dist.exists(_.getLong(0) == 1L))
    assert(comp.exists(_.getLong(0) == 1L))
    assert(spec.exists(_.getLong(0) == 1L))
    assert(garch.exists(_.getLong(0) == 1L))
  }

  test("grouped GARCH grid on one series == global grid bit-for-bit") {
    import org.apache.spark.sql.functions._
    val s = SparkSpec.spark
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy("DATE_TIME")
    val rets = SparkSpec.randomWalk(300)
      .withColumn("user_id", lit(5L))
      .withColumn("ret",
        col("typical_price") - lag(col("typical_price"), 1).over(w))
      .filter(col("ret").isNotNull)
    val grouped = graft.stats.Garch.gridGrouped(rets, "user_id",
        Seq("DATE_TIME"), "ret")
      .orderBy("alpha", "beta")
      .select("alpha", "beta", "omega", "long_run_var", "ll").collect()
      .map(_.toSeq).toSeq
    val global = graft.stats.Garch.grid(rets, Seq("DATE_TIME"), "ret")
      .orderBy("alpha", "beta")
      .select("alpha", "beta", "omega", "long_run_var", "ll").collect()
      .map(_.toSeq).toSeq
    assert(grouped.nonEmpty)
    assert(grouped === global)
  }

  test("grouped in-plan DFT distance matches the driver FFT distance") {
    import org.apache.spark.sql.functions._
    val s = SparkSpec.spark
    val a = SparkSpec.randomWalk(130, seed = 3).withColumn("user_id", lit(2L))
    val b = SparkSpec.randomWalk(130, seed = 4).withColumn("user_id", lit(2L))
    val grouped = graft.stats.Spectral.distanceGrouped(a, b, "user_id",
        Seq("DATE_TIME"), "typical_price")
      .select("spectral_distance").first().getDouble(0)
    // driver reference: same return halves through the FFT path
    def rets(df: org.apache.spark.sql.DataFrame): Array[Double] = {
      val spec = graft.series.SeriesSpec(Nil, Seq("DATE_TIME"))
      graft.series.SeriesOps.logReturns(df.drop("user_id"), spec,
          "typical_price", "ret")
        .filter(col("ret").isNotNull).orderBy("DATE_TIME")
        .select("ret").collect().map(_.getDouble(0))
    }
    val exact = graft.stats.Spectral.distance(rets(a), rets(b))
    assert(math.abs(grouped - exact) < 1e-9,
      s"in-plan DFT $grouped vs driver FFT $exact")
  }

  test("grouped sweep fitness on one series == driver walk+score bit-for-bit") {
    import org.apache.spark.sql.functions._
    val s = SparkSpec.spark
    import s.implicits._
    val rnd = new scala.util.Random(23)
    val rets = Array.fill(300)(rnd.nextGaussian() * 0.01)
    val df = rets.zipWithIndex.map { case (v, i) => (7L, i.toLong, v) }
      .toSeq.toDF("user_id", "t", "ret")
    val g = graft.opt.LocalFitness.grasyndaScoreGrouped(df, "user_id",
        Seq("t"), "ret", nBins = 8, smooth = 0.2, n = 50, seed = 5L)
      .orderBy("i").collect()
    val synth = graft.opt.LocalFitness.grasyndaWalk(rets, 8, 0.2, 50, 5L + 7L)
    val score = graft.opt.LocalFitness.compositeLite(rets, synth)
    assert(g.length === 50)
    assert(g.map(_.getAs[Double]("synth")).toSeq === synth.toSeq)
    assert(g.forall(_.getAs[Double]("score") === score))
    // short series are skipped, not poisoned
    val tiny = (1 to 10).map(i => (9L, i.toLong, 0.1 * i)).toDF("user_id", "t", "ret")
    assert(graft.opt.LocalFitness.grasyndaScoreGrouped(tiny, "user_id",
      Seq("t"), "ret", 8, 0.2, 50, 5L).count() === 0)
  }

  test("grouped MMD on one group == driver sampledDetail bit-for-bit") {
    import org.apache.spark.sql.functions._
    val s = SparkSpec.spark
    import s.implicits._
    val rnd = new scala.util.Random(17)
    val rows = (0 until 60).map(i =>
      (i.toLong, Seq.fill(8)(rnd.nextGaussian()), 1))
    val df = rows.toDF("vec_id", "v", "label")
    val real = df.filter(col("vec_id") % 2 === 0)
    val synth = df.filter(col("vec_id") % 2 === 1)
    val g = graft.stats.Mmd.sampledGrouped(real, synth, "label",
      Seq("vec_id"), "v", maxRows = 100).first()
    val (mmd2, gamma, nx, ny) = graft.stats.Mmd.sampledDetail(real, synth,
      Seq("vec_id"), "v", maxRows = 100)
    assert(g.getAs[Long]("label") === 1L)
    assert(g.getAs[Double]("mmd2") === mmd2)
    assert(g.getAs[Double]("gamma") === gamma)
    assert(g.getAs[Int]("n_real") === nx && g.getAs[Int]("n_synth") === ny)
  }

  test("grouped FULL composite on one series matches the driver score()") {
    import org.apache.spark.sql.functions._
    val a = SparkSpec.randomWalk(420, seed = 51).withColumn("user_id", lit(3L))
    val b = SparkSpec.randomWalk(420, seed = 52).withColumn("user_id", lit(3L))
    val full = CompositeMetric.scoreGroupedFull(a, b, "user_id",
      Seq("DATE_TIME"), "typical_price").first()
    val (score, d) = CompositeMetric.score(a.drop("user_id"), b.drop("user_id"),
      Seq("DATE_TIME"), "typical_price")
    // the 9 SQL-expressible components are the same keyed pipeline
    for (c <- Seq("js_divergence", "ks_statistic", "ac_lag1", "ac_lag5",
        "ac_lag24", "vol_cluster", "skew_diff", "kurt_diff", "std_ratio"))
      assert(math.abs(full.getAs[Double](c) - d(c)) < 1e-9, c)
    // hurst: same R/S estimator, grouped side rounds each hurst to 4dp
    assert(math.abs(full.getAs[Double]("hurst_diff") - d("hurst_diff")) < 1e-3)
    // spectral: both sides are the FFT path
    assert(math.abs(full.getAs[Double]("spectral") - d("spectral")) < 1e-9)
    // weighted score: only the hurst rounding separates them
    assert(math.abs(full.getAs[Double]("composite_score") - score) < 5e-4)
  }

  test("composite metric: identical series scores ~0; different walks score worse") {
    val a = SparkSpec.randomWalk(300, seed = 5)
    val (sSame, dSame) = CompositeMetric.score(a, a, Seq("DATE_TIME"), "typical_price")
    assert(sSame < 0.02, s"self-score $sSame")
    assert(dSame("ks_statistic") === 0.0)
    assert(dSame("hurst_diff") === 0.0)
    val b = SparkSpec.randomWalk(300, seed = 6, vol = 5e-3) // 10x vol
    val (sDiff, dDiff) = CompositeMetric.score(a, b, Seq("DATE_TIME"), "typical_price")
    assert(sDiff > sSame)
    assert(dDiff("std_ratio") > 1.0) // 10x vol ⇒ ratio dev ~9
  }

  test("spectral distance: identical spectra 0, white noise vs impulse > 0") {
    val x = Array.tabulate(64)(i => math.sin(2 * math.Pi * i / 8.0))
    assert(Spectral.distance(x, x) < 1e-12)
    val y = Array.tabulate(64)(i => if (i == 0) 1.0 else 0.0)
    assert(Spectral.distance(x, y) > 0.01)
  }

  test("GARCH grid fit: recovers high persistence on vol-clustered data, respects constraint") {
    val s = spark
    import s.implicits._
    // synthetic GARCH-ish: alternating calm/storm vol regimes
    val rnd = new scala.util.Random(3)
    val rets = (0 until 2000).map { i =>
      val vol = if ((i / 100) % 2 == 0) 0.001 else 0.01
      (i, rnd.nextGaussian() * vol)
    }.toDF("rn", "ret")
    val fit = Garch.fit(rets, Seq("rn"), "ret")
    assert(fit.alpha + fit.beta < 0.999)
    assert(fit.beta >= 0.5, s"expected persistent beta, got ${fit.beta}")
    assert(fit.omega > 0)
    val grid = Garch.grid(rets, Seq("rn"), "ret")
    assert(grid.count() === Garch.DefaultAlphas.size * Garch.DefaultBetas.size -
      Garch.DefaultAlphas.flatMap(a => Garch.DefaultBetas.map(b => (a, b)))
        .count { case (a, b) => a + b >= 0.999 })
    // argmax consistency (O5)
    val best = grid.orderBy(col("ll").desc, col("alpha"), col("beta")).first()
    assert(best.getAs[Double]("ll") === fit.logLik)
  }

  test("CSV round-trip with price schema; multi-CSV dedup keeps first source") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv").toString
    val df = SparkSpec.randomWalk(50).select("DATE_TIME", "typical_price")
    CsvIO.saveCsv(df, s"$dir/a")
    val back = CsvIO.loadCsv(spark, s"$dir/a")
    assert(back.count() === 50)
    assert(back.schema("typical_price").dataType.typeName === "double")
    // same file twice → dedup on DATE_TIME keeps 50
    val multi = CsvIO.loadMultipleCsv(spark, Seq(s"$dir/a", s"$dir/a"))
    assert(multi.count() === 50)
  }

  test("multi-CSV load: one-split inputs plan no exchange and keep the exchange plan's first-wins rows") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv1")
    val t0 = java.time.LocalDateTime.parse("2020-01-01T00:00:00")
    val fmt = java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
    def ts(i: Int) = t0.plusHours(4L * i).format(fmt)
    def write(name: String, rows: Seq[(Int, Double)]): String = {
      val p = dir.resolve(s"$name.csv")
      java.nio.file.Files.write(p, ("DATE_TIME,typical_price\n" +
        rows.map { case (i, v) => s"${ts(i)},$v\n" }.mkString).getBytes("UTF-8"))
      p.toString
    }
    // file a repeats every 25th timestamp mid-file with another price:
    // for i < 150 the original comes first in the file, for i >= 150 the
    // repeat does; file b overlaps a (and extends past it) every 7th bar
    val aRows = (0 until 150).map(i => (i, 1.0 + i * 1e-3)) ++
      (0 until 300 by 25).map(i => (i, 9.0 + i)) ++
      (150 until 300).map(i => (i, 1.0 + i * 1e-3))
    val bRows = (0 until 400 by 7).map(i => (i, 5.0 + i))
    val paths = Seq(write("a", aRows), write("b", bRows))
    def firstWins(rows: Seq[(Int, Double)]) = {
      val first = rows.groupBy(_._1).map { case (i, rs) => i -> rs.head._2 }
      first.keys.toSeq.sorted.map(first)
    }
    def prices(df: org.apache.spark.sql.DataFrame) =
      df.select("typical_price").collect().map(_.getDouble(0)).toSeq
    def plan(df: org.apache.spark.sql.DataFrame) = df.queryExecution.executedPlan.toString
    // at the default split confs one small file is one split; two files
    // are two (each file costs openCostInBytes), until the open cost and
    // the minimum partition count let them share one
    val one = CsvIO.loadMultipleCsv(spark, paths.take(1))
    assert(!plan(one).contains("Exchange"), plan(one))
    assert(prices(one) === firstWins(aRows))
    assert(plan(CsvIO.loadMultipleCsv(spark, paths)).contains("Exchange hashpartitioning"))
    SparkSpec.withConf("spark.sql.files.openCostInBytes" -> "1024",
        "spark.sql.files.minPartitionNum" -> "1") {
      val both = CsvIO.loadMultipleCsv(spark, paths)
      assert(!plan(both).contains("Exchange"), plan(both))
      assert(prices(both) === firstWins(aRows ++ bRows))
    }
    // a small split size reads each file as several splits: the keyed
    // exchange and the range-partitioned sort come back, rows unchanged
    SparkSpec.withConf("spark.sql.files.maxPartitionBytes" -> "1024",
        "spark.sql.files.openCostInBytes" -> "0") {
      for ((ps, rows) <- Seq(paths.take(1) -> aRows, paths -> (aRows ++ bRows))) {
        val multi = CsvIO.loadMultipleCsv(spark, ps)
        assert(plan(multi).contains("Exchange hashpartitioning") &&
          plan(multi).contains("Exchange rangepartitioning"), plan(multi))
        assert(prices(multi) === firstWins(rows))
      }
    }
  }

  test("one-series evaluators on CSV inputs run one job and plan no exchange; " +
       "grouped ones keep one keyed exchange") {
    val dir = java.nio.file.Files.createTempDirectory("graftcsv2").toString
    val order = Seq("DATE_TIME")
    CsvIO.saveCsv(SparkSpec.randomWalk(500, seed = 31).select("DATE_TIME", "typical_price"),
      s"$dir/real")
    CsvIO.saveCsv(SparkSpec.randomWalk(300, seed = 32).select("DATE_TIME", "typical_price"),
      s"$dir/synth")
    val real = CsvIO.loadMultipleCsv(spark, Seq(s"$dir/real"))
    val synth = CsvIO.loadMultipleCsv(spark, Seq(s"$dir/synth"))
    for ((what, run) <- Seq[(String, () => Any)](
        "evaluate" -> (() => DistributionEvaluator.evaluate(real, synth, order, "typical_price")),
        "score" -> (() => CompositeMetric.score(real, synth, order, "typical_price")))) {
      val t = SparkSpec.traced(run())
      assert(t.jobs === 1, what)
      assert(t.plans.nonEmpty && t.plans.forall(!_.contains("Exchange")), s"$what:\n${t.plans}")
    }
    val (gReal, gSynth) = panel
    for ((what, df) <- Seq(
        "evaluateGrouped" -> DistributionEvaluator.evaluateGrouped(gReal, gSynth, "uid",
          order, "typical_price"),
        "scoreGrouped" -> CompositeMetric.scoreGrouped(gReal, gSynth, "uid", order,
          "typical_price"))) {
      val plans = SparkSpec.traced(df.collect()).plans
      assert(plans.length === 1, what)
      // the adaptive plan prints its final plan before the initial one
      val exchanges = "Exchange [a-zA-Z]+".r
        .findAllIn(plans.head.split("== Initial Plan ==").head).toSeq
      assert(exchanges === Seq("Exchange hashpartitioning"), s"$what:\n${plans.head}")
    }
  }

  test("model JSON round-trip (S5)") {
    val path = java.nio.file.Files.createTempFile("grasynda", ".json").toString
    val m = graft.gen.GrasyndaModel(
      Array(0.1, 0.2), Array(Array(0.5, 0.5), Array(0.3, 0.7)),
      Map(0 -> Array(1.0, 2.0), 1 -> Array(3.0)), Array(0.4, 0.6))
    ModelIO.saveGrasynda(m, path)
    val back = ModelIO.loadGrasynda(path)
    assert(back.interiorEdges.toSeq === m.interiorEdges.toSeq)
    assert(back.transition.map(_.toSeq).toSeq === m.transition.map(_.toSeq).toSeq)
    assert(back.pools(0).toSeq === Seq(1.0, 2.0))
    assert(back.startProbs.toSeq === Seq(0.4, 0.6))
    val gpath = java.nio.file.Files.createTempFile("garch", ".json").toString
    val g = graft.stats.GarchFit(1e-6, 0.1, 0.85, 2e-5, -1234.5)
    ModelIO.saveGarch(g, gpath)
    assert(ModelIO.loadGarch(gpath) === g)
  }

  test("evaluate-all-generators matrix: 4 generators x seeds -> metrics + views") {
    val real = SparkSpec.randomWalk(500)
    val metrics = graft.eval.EvaluateAllGenerators.run(
      spark, real, Seq("DATE_TIME"), "typical_price", seeds = Seq(1L, 2L), n = 300)
    assert(metrics.count() === 8) // 4 generators x 2 seeds
    assert(metrics.select("generator").distinct().count() === 4)
    metrics.collect().foreach { r =>
      assert(r.getAs[Double]("kl_divergence") >= 0.0)
      assert(r.getAs[Double]("std_ratio") > 0.0)
    }
    val summary = graft.io.MetricsViews.summary(spark).collect()
    assert(summary.length === 4)
    assert(summary.forall(_.getAs[Long]("n_runs") === 2L))
  }

  test("metrics SQL views (S6): group-by summary over generator runs") {
    val s = spark
    import s.implicits._
    val metrics = Seq(
      ("bootstrap", 1, 1.02, 0.11, 0.21),
      ("bootstrap", 2, 0.98, 0.13, 0.19),
      ("grasynda", 1, 1.44, 0.40, 0.55))
      .toDF("generator", "seed", "std_ratio", "js_divergence", "composite_score")
    MetricsViews.register(spark, metrics)
    val summary = MetricsViews.summary(spark).collect()
    assert(summary.length === 2)
    assert(summary.head.getAs[String]("generator") === "bootstrap")
    assert(summary.head.getAs[Long]("n_runs") === 2L)
    assert(math.abs(summary.head.getAs[Double]("avg_std_ratio") - 1.0) < 1e-9)
    val best = spark.sql("SELECT generator, composite_score FROM v_best_runs").collect()
    assert(best.length === 2)
  }
}
