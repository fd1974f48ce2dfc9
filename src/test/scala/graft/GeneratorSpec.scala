package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.gen.{BlockBootstrap, DecoderGenerator, Grasynda, MlpDecoder,
  RegimeBootstrap, RegimeBootstrapModel, RegimeConditional, RegimeGan,
  TimeGanGenerator, TimeGanModel}
import graft.series.{SeriesOps, SeriesSpec}

/** Determinism contract mirrored from the reference
  * (tests/test_plugins.py:73-83): same seed ⇒ identical series,
  * different seed ⇒ different; exactly n rows; positive prices. */
class GeneratorSpec extends AnyFunSuite {

  test("Grasynda fitArray matches the DataFrame fit bit-for-bit") {
    val s = SparkSpec.spark
    import s.implicits._
    val rnd = new scala.util.Random(31)
    val vs = Array.fill(400)(rnd.nextGaussian() * 0.01)
    val df = vs.toIndexedSeq.zipWithIndex.map { case (v, i) => (i, v) }
      .toDF("rn", "v")
    val m1 = GenOracle.grasyndaFit(df, Seq("rn"), "v", nBins = 10)
    val m2 = graft.gen.Grasynda.fitArray(vs, nBins = 10)
    assert(m2.interiorEdges.toSeq === m1.interiorEdges.toSeq,
      "percentile interpolation must replicate Spark's Percentile exactly")
    assert(m2.startProbs.toSeq === m1.startProbs.toSeq)
    assert(m2.transition.map(_.toSeq).toSeq === m1.transition.map(_.toSeq).toSeq)
    assert(m2.pools.keySet === m1.pools.keySet)
    m1.pools.keys.foreach(k => assert(m2.pools(k).toSeq === m1.pools(k).toSeq))
  }

  test("Grasynda fit == retired DataFrame fit bit-for-bit (walks, ties, constant, nulls, short)") {
    val s = SparkSpec.spark
    import s.implicits._
    def rets(prices: org.apache.spark.sql.DataFrame) =
      SeriesOps.logReturns(prices, spec, "typical_price", "ret")
    val cases = Seq(
      "walk" -> rets(SparkSpec.randomWalk(600, seed = 3)),
      "walk seed 9" -> rets(SparkSpec.randomWalk(250, seed = 9)),
      // prices on a 1e-3 grid: many tied returns, tied quantile neighbours
      "tied returns" -> rets(SparkSpec.randomWalk(500, seed = 4, vol = 2e-3)
        .withColumn("typical_price", round(col("typical_price"), 3))),
      "constant" -> rets(SparkSpec.randomWalk(100).withColumn("typical_price", lit(1.3))),
      // equal quantile neighbours: Spark's percentile returns the value
      // itself, the interpolation formula would drift by an ulp
      "repeated returns" -> Seq.tabulate(24)(i => (i, Seq(0.013, -0.021, 0.01)(i % 3)))
        .toDF("DATE_TIME", "ret"),
      "null returns" -> Seq((0, Some(0.01)), (1, None), (2, Some(-0.02)), (3, Some(0.0)),
        (4, None), (5, Some(0.03)), (6, Some(0.01))).toDF("DATE_TIME", "ret"),
      "short" -> rets(SparkSpec.randomWalk(6, seed = 2)))
    for ((name, df) <- cases; nBins <- Seq(3, 10)) {
      val a = Grasynda.fit(df, Seq("DATE_TIME"), "ret", nBins)
      val b = GenOracle.grasyndaFit(df, Seq("DATE_TIME"), "ret", nBins)
      def bits(xs: Iterable[Double]) = xs.map(java.lang.Double.doubleToLongBits).toSeq
      val what = s"$name/$nBins"
      assert(bits(a.interiorEdges) === bits(b.interiorEdges), what)
      assert(bits(a.transition.flatten) === bits(b.transition.flatten), what)
      assert(bits(a.startProbs) === bits(b.startProbs), what)
      assert(a.pools.keySet === b.pools.keySet, what)
      a.pools.keys.foreach(k => assert(bits(a.pools(k)) === bits(b.pools(k)), what))
    }
  }

  test("Grasynda generateGrouped: deterministic per (seed, series), distinct across series") {
    val s = SparkSpec.spark
    import s.implicits._
    val rnd = new scala.util.Random(37)
    val rows = for (u <- 0 until 2; i <- 0 until 80)
      yield (u.toLong, i.toLong, i.toLong, rnd.nextGaussian() * 0.01)
    val df = rows.toDF("user_id", "ts", "event_id", "ret")
    def run() = graft.gen.Grasynda.generateGrouped(df, "user_id",
        Seq("ts", "event_id"), "ret", nBins = 5, seed = 9L, n = 50,
        initialPrice = 100.0)
      .orderBy("user_id", "rn").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
    val a = run(); val b = run()
    assert(a.toSeq === b.toSeq, "same seed must reproduce")
    assert(a.length === 100)
    val byUser = a.groupBy(_._1)
    assert(byUser(0L).map(_._3).toSeq !== byUser(1L).map(_._3).toSeq,
      "per-series seeds must differ")
    // per-series walk values must come from that series' own pools
    val expected = {
      val m = graft.gen.Grasynda.fitArray(
        rows.filter(_._1 == 0L).map(_._4).toArray, nBins = 5)
      val r0 = new scala.util.Random(9L + 0L)
      var state = {
        val u = r0.nextDouble()
        var acc = 0.0; var i = 0; var res = m.startProbs.length - 1
        var done = false
        while (i < m.startProbs.length - 1 && !done) {
          acc += m.startProbs(i); if (u < acc) { res = i; done = true }; i += 1
        }
        res
      }
      val out = new Array[Double](50)
      var i = 0
      while (i < 50) {
        val pool = m.pools.getOrElse(state, m.pools(m.pools.keys.min))
        out(i) = pool(r0.nextInt(pool.length))
        val u = r0.nextDouble()
        var acc = 0.0; var j = 0; var res = m.transition(state).length - 1
        var done = false
        while (j < m.transition(state).length - 1 && !done) {
          acc += m.transition(state)(j); if (u < acc) { res = j; done = true }; j += 1
        }
        state = res
        i += 1
      }
      out.toSeq
    }
    assert(byUser(0L).sortBy(_._2).map(_._3).toSeq === expected)
  }
  private lazy val spark = SparkSpec.spark
  private val spec = SeriesSpec(Nil, Seq("DATE_TIME"))

  private def series(df: org.apache.spark.sql.DataFrame): Seq[Double] =
    df.orderBy("rn").select("typical_price").collect().map(_.getDouble(0)).toSeq

  test("G2 block bootstrap: deterministic per seed, n rows, positive, continuous") {
    val prices = SparkSpec.randomWalk(400)
    def gen(seed: Long) = BlockBootstrap.generate(
      prices, Seq("DATE_TIME"), "typical_price", blockSize = 30, n = 200, seed = seed)
    val a = series(gen(42)); val b = series(gen(42)); val c = series(gen(43))
    assert(a.length === 200)
    assert(a === b, "same seed must give identical output")
    assert(a !== c, "different seed must differ")
    assert(a.forall(_ > 0))
  }

  test("per-series grouped block chain == global strided chain on one series") {
    val s = spark
    import s.implicits._
    val prices = SparkSpec.randomWalk(400)
      .withColumn("user_id", lit(7L))
    val grouped = BlockBootstrap.generateStridedGrouped(prices, "user_id",
        Seq("DATE_TIME"), "typical_price", blockSize = 30, n = 200)
      .orderBy("rn").select("rn", "typical_price").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    val global = BlockBootstrap.generateStrided(
        prices.drop("user_id"), Seq("DATE_TIME"), "typical_price",
        blockSize = 30, n = 200)
      .orderBy("rn").select("rn", "typical_price").collect()
      .map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(grouped.length === 200)
    // bit-identical: the grouped per-series chain is the same telescoped
    // rescale arithmetic (ln last − ln first cumsum), so a single-series
    // table must reproduce the distributed global path exactly
    assert(grouped === global)
    // a too-short series is skipped, not an error
    val short = BlockBootstrap.generateStridedGrouped(
      SparkSpec.randomWalk(10).withColumn("user_id", lit(1L)),
      "user_id", Seq("DATE_TIME"), "typical_price", blockSize = 30, n = 60)
    assert(short.count() === 0)
  }

  test("seeded per-series grouped generation: deterministic, series independent") {
    val s = spark
    import s.implicits._
    val two = SparkSpec.randomWalk(400).withColumn("user_id", lit(1L))
      .union(SparkSpec.randomWalk(400, seed = 9L).withColumn("user_id", lit(2L)))
    def gen(seed: Long) = BlockBootstrap.generateGrouped(two, "user_id",
        Seq("DATE_TIME"), "typical_price", blockSize = 30, n = 120, seed)
      .orderBy("user_id", "rn").collect()
      .map(r => (r.getLong(0), r.getInt(1), r.getDouble(2))).toSeq
    val a = gen(42); val b = gen(42); val c = gen(43)
    assert(a.length === 240)
    assert(a === b, "same seed must give identical per-series output")
    assert(a !== c, "different seed must differ")
    assert(a.filter(_._1 == 1L).map(_._3) !== a.filter(_._1 == 2L).map(_._3),
      "each series draws its own block starts (seed + sid)")
  }

  test("per-series grouped grasynda fit == global fit frame on one series") {
    val s = spark
    import s.implicits._
    val w = org.apache.spark.sql.expressions.Window.orderBy("DATE_TIME")
    val rets = SparkSpec.randomWalk(500)
      .withColumn("user_id", lit(3L))
      .withColumn("ret",
        col("typical_price") - lag(col("typical_price"), 1).over(w))
      .filter(col("ret").isNotNull)
    val grouped = Grasynda.fitFrameGrouped(rets, "user_id",
        Seq("DATE_TIME"), "ret").drop("user_id")
      .collect().map(_.toSeq).toSet
    val global = Grasynda.fitFrame(rets, Seq("DATE_TIME"), "ret")
      .collect().map(_.toSeq).toSet
    assert(grouped.nonEmpty)
    assert(grouped === global)
  }

  test("per-series grouped G4 features == global feature frame on one series") {
    val s = spark
    import s.implicits._
    val prices = SparkSpec.randomWalk(400).withColumn("user_id", lit(7L))
    val grouped = graft.gen.RegimeConditional.featuresGrouped(
        prices, "user_id", Seq("DATE_TIME"), "typical_price")
      .select("rn", "f0", "f1", "f2")
      .collect().map(_.toSeq).toSet
    val global = graft.gen.RegimeConditional.features(
        prices, Seq("DATE_TIME"), "typical_price")
      .select("rn", "f0", "f1", "f2")
      .collect().map(_.toSeq).toSet
    assert(grouped.nonEmpty)
    assert(grouped === global)
  }

  test("G3 grasynda: fit on returns, deterministic generation") {
    val prices = SparkSpec.randomWalk(400)
    val rets = SeriesOps.logReturns(prices, spec, "typical_price", "ret")
      .filter(col("ret").isNotNull)
    val model = Grasynda.fit(rets, Seq("DATE_TIME"), "ret", nBins = 5)
    assert(model.transition.length === model.nStates)
    model.transition.foreach(row => assert(math.abs(row.sum - 1.0) < 1e-9))
    def gen(seed: Long) = Grasynda.generate(spark, model, seed, 150, 1.3)
    val a = series(gen(1)); val b = series(gen(1)); val c = series(gen(2))
    assert(a.length === 150)
    assert(a === b)
    assert(a !== c)
    assert(a.forall(_ > 0))
    // generated returns are drawn from the fitted pools (subset check)
    val poolVals = model.pools.values.flatten.toSet
    val genRets = gen(1).orderBy("rn").select("ret").collect().map(_.getDouble(0))
    assert(genRets.forall(poolVals.contains))
  }

  /** md5 of the collected (rn, typical_price) bits, series by series in
    * rn order: any change to a walk's RNG draw order or to the
    * floating-point order of its price reconstruction moves it. */
  private def bitsMd5(df: org.apache.spark.sql.DataFrame, keys: String*): String = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val buf = java.nio.ByteBuffer.allocate(16)
    df.orderBy((keys :+ "rn").map(col): _*)
      .select(col("rn").cast("long"), col("typical_price")).collect()
      .foreach { r =>
        buf.clear()
        buf.putLong(r.getLong(0))
        buf.putLong(java.lang.Double.doubleToRawLongBits(r.getDouble(1)))
        md.update(buf.array())
      }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Every generate / generateGrouped / generateConditional path over
    * fixed models and inputs, for one seed. */
  private def generationPaths(seed: Long): Seq[(String, String)] = {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    val rets = (for (u <- 0L until 2L; i <- 0L until 120L)
      yield (u, i, rnd.nextGaussian() * 0.01)).toDF("user_id", "ts", "ret")
    val gras = Grasynda.fitArray(Array.fill(300)(rnd.nextGaussian() * 0.01), nBins = 6)
    val g04 = WitnessFixtures.G04Model
    val g05 = g04.copy(garch = Some(WitnessFixtures.G05Garch))
    def block(len: Int) = Array.fill(len)(rnd.nextGaussian() * 0.004)
    // regime 1 has no blocks: the walk falls back to a drawn regime
    val boot = RegimeBootstrapModel(
      Map(0 -> Array(block(5), block(3), block(7)), 2 -> Array(block(4), block(6))),
      Array(Array(0.5, 0.3, 0.2), Array(0.3, 0.4, 0.3), Array(0.2, 0.2, 0.6)),
      Array(0.4, 0.35, 0.25))
    val anchors = Array(1.21, 1.3, 1.37, 1.42)
    val dec = MlpDecoder.random(latentDim = 5, hidden = 7, windowSize = 24, seed = 3L)
    val decT = MlpDecoder.random(latentDim = 5 + 6, hidden = 7, windowSize = 24, seed = 4L)
    val tgan = TimeGanModel.random(windowSize = 12, latentDim = 3, hidden = 4,
      seed = 5L, nLayers = 2)
    Seq(
      "grasynda" -> bitsMd5(Grasynda.generate(s, gras, seed, 300, 1.3)),
      "grasynda_grouped" -> bitsMd5(Grasynda.generateGrouped(rets, "user_id",
        Seq("ts"), "ret", nBins = 6, seed = seed, n = 150, initialPrice = 1.3), "user_id"),
      "regime_g4" -> bitsMd5(RegimeConditional.generate(s, g04, seed, 300, 100.0)),
      "regime_g5" -> bitsMd5(RegimeConditional.generate(s, g05, seed, 300, 100.0)),
      "regime_g4_grouped" -> bitsMd5(RegimeConditional.generateGrouped(rets,
        "user_id", g04, seed, 150, 100.0), "user_id"),
      "regime_g5_grouped" -> bitsMd5(RegimeConditional.generateGrouped(rets,
        "user_id", g05, seed, 150, 100.0), "user_id"),
      "regime_gan" -> bitsMd5(RegimeGan.generate(s, WitnessFixtures.G07Model,
        seed, 300, 100.0)),
      "regime_bootstrap" -> bitsMd5(RegimeBootstrap.generate(s, boot, seed, 300, 1.3)),
      "decoder" -> bitsMd5(DecoderGenerator.generate(s, dec, anchors, 300, seed)),
      "decoder_conditional" -> bitsMd5(DecoderGenerator.generateConditional(s, decT,
        anchors, 300, seed)),
      "timegan" -> bitsMd5(TimeGanGenerator.generate(s, tgan, anchors, 100, seed)))
  }

  // recorded before the generators shared one back end (W2
  // reconstruction, categorical draw, windowed decode)
  private val Golden: Map[(String, Long), String] = Map(
    ("grasynda", 42L) -> "ce8e87b3467e75a5952bc79ea7b6a005",
    ("grasynda_grouped", 42L) -> "6615e9937c211e3f5a6b397af6926399",
    ("regime_g4", 42L) -> "47003a20d4815a965f48a42c786054ee",
    ("regime_g5", 42L) -> "af237b594825efc4d4ec2ae6e5d4623f",
    ("regime_g4_grouped", 42L) -> "a595a6ef13e0a359e808858c22d359a5",
    ("regime_g5_grouped", 42L) -> "f4f45ec4a0ded21bcdba20329bf66fa6",
    ("regime_gan", 42L) -> "643449b048b8cff6f51aa6ec0bc0bccc",
    ("regime_bootstrap", 42L) -> "89437235a8b3a25ba107d4ab64f810e0",
    ("decoder", 42L) -> "7c24dba3a8f10d407c704db898a7520c",
    ("decoder_conditional", 42L) -> "8ffd170d363f52a59ed6cb1020d1c706",
    ("timegan", 42L) -> "59a3b95014e7485837573a92cb2ed908",
    ("grasynda", 7L) -> "480c3d5c29d3ec47430d37c181cfc6c7",
    ("grasynda_grouped", 7L) -> "71972908ebc849b7eb5957a90b4d4cc5",
    ("regime_g4", 7L) -> "a85f5451a53981345bb57e748403f616",
    ("regime_g5", 7L) -> "99e98bde15662c3313ef00b0a903834a",
    ("regime_g4_grouped", 7L) -> "3f039b8c66207479f73741255e893afc",
    ("regime_g5_grouped", 7L) -> "96de0e3c899ceaab3db2282c9c1a7857",
    ("regime_gan", 7L) -> "3077c9a199279742f83214edccb6b4e8",
    ("regime_bootstrap", 7L) -> "e3c975096cdf6b70341d5bf2936e30d3",
    ("decoder", 7L) -> "1832b8f92b734563c53225bce3c7da29",
    ("decoder_conditional", 7L) -> "f9d922f578e3ef51e5ef940d5bea5ac1",
    ("timegan", 7L) -> "9be7eb76bab6122a0dc61955da9f067e")

  test("every generation path reproduces its recorded output bit-for-bit") {
    val got = for (seed <- Seq(42L, 7L); (name, h) <- generationPaths(seed))
      yield (name, seed) -> h
    assert(got.toMap === Golden, got.map { case ((n, sd), h) =>
      s"""("$n", ${sd}L) -> "$h""""
    }.mkString("\n", ",\n", "\n"))
  }

  test("single-series generators plan no Exchange") {
    val s = spark
    val gras = Grasynda.fitArray(Array.tabulate(200)(i => math.sin(i * 0.7) * 0.01), nBins = 5)
    val boot = RegimeBootstrapModel(Map(0 -> Array(Array(0.01, -0.02, 0.005))),
      Array(Array(1.0)), Array(1.0))
    val anchors = Array(1.3)
    // driver walks: one partition, so the W2 running sum needs no exchange
    val walks = Seq(
      "Grasynda.generate" -> Grasynda.generate(s, gras, 1L, 100, 1.3),
      "RegimeConditional.generate" ->
        RegimeConditional.generate(s, WitnessFixtures.G04Model, 1L, 100, 1.3),
      "RegimeGan.generate" -> RegimeGan.generate(s, WitnessFixtures.G07Model, 1L, 100, 1.3),
      "RegimeBootstrap.generate" -> RegimeBootstrap.generate(s, boot, 1L, 100, 1.3))
    val decodes = Seq(
      "DecoderGenerator.generate" ->
        DecoderGenerator.generate(s, WitnessFixtures.G06Decoder, anchors, 100, 1L),
      "TimeGanGenerator.generate" ->
        TimeGanGenerator.generate(s, WitnessFixtures.G08Model, anchors, 100, 1L))
    for ((name, df) <- walks ++ decodes) {
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"$name plans a shuffle:\n$plan")
    }
    for ((name, df) <- walks)
      assert(df.rdd.getNumPartitions === 1, name)
  }

  test("windowed decode rejects an empty anchor pool on the driver") {
    val s = spark
    val none = Array.empty[Double]
    val calls = Seq[() => Any](
      () => DecoderGenerator.generate(s, WitnessFixtures.G06Decoder, none, 50, 1L),
      () => DecoderGenerator.generateConditional(s,
        MlpDecoder.random(latentDim = 8, hidden = 4, windowSize = 6, seed = 2L), none, 50, 1L),
      () => TimeGanGenerator.generate(s, WitnessFixtures.G08Model, none, 50, 1L))
    for (call <- calls) {
      val e = intercept[IllegalArgumentException](call())
      assert(e.getMessage.contains("anchor"), e.getMessage)
    }
  }

  test("regime bootstrap rejects a model fitted on fewer returns than minBlock") {
    val prices = SparkSpec.randomWalk(20)
    val model = RegimeBootstrap.fit(prices, Seq("DATE_TIME"), "typical_price",
      minBlock = 30)
    assert(model.blocks.isEmpty)
    val e = intercept[IllegalArgumentException](
      RegimeBootstrap.generate(spark, model, 1L, 50, 1.3))
    assert(e.getMessage.contains("no blocks"), e.getMessage)
  }
}
