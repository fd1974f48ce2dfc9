package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}

/** Fitted regime-bootstrap model: per-regime pools of contiguous return
  * blocks, regime transition matrix, start distribution. */
final case class RegimeBootstrapModel(
    blocks: Map[Int, Array[Array[Double]]],
    transition: Array[Array[Double]],
    startProbs: Array[Double]) {
  def nRegimes: Int = startProbs.length
}

/** G6: regime-conditional block bootstrap.
  * Ref: sdg_plugins/generator/regime_bootstrap_hybrid.py:49-198 —
  * label each return with a volatility regime, cut the real series into
  * contiguous per-regime blocks (min length 3), walk a regime path from
  * the transition matrix sampling whole blocks from the matching pool,
  * blend block boundaries (W12), reconstruct prices (W2).
  *
  * Regime labeling: rolling-vol quantile buckets (K regimes) — the
  * reference uses a Gaussian HMM over vol features (see [[Hmm]] for the
  * HMM path); the quantile variant keeps the whole fit in three Spark
  * passes: W5 rolling vol → A4/A5 quantile digitize → run segmentation
  * (lag-change flag + running sum) → one groupBy(segment) with
  * sort_array(collect_list) per block. Walk on driver (SURVEY §7.4.2),
  * smoothing and reconstruction are Spark window scans over the walk's
  * one partition.
  */
object RegimeBootstrap {

  /** Rows of the fitted series prefix (same contract as
    * [[RegimeConditional.fit]] maxFitRows and the driver-collect cap:
    * the reference fits on ≤ ~7.4k rows; every fit stage below is
    * causal, so prefix-then-window equals window-then-prefix and the
    * single-series window stages stay bounded at any input scale). */
  val MaxFitRows = 20000

  def fit(prices: DataFrame, orderCols: Seq[String], price: String,
          nRegimes: Int = 3, volWindow: Int = 24, minBlock: Int = 3,
          maxFitRows: Int = MaxFitRows): RegimeBootstrapModel = {
    val spec = SeriesSpec(Nil, orderCols)
    val prefix = prices.orderBy(orderCols.map(col): _*).limit(maxFitRows)
    val rets = SeriesOps.logReturns(prefix, spec, price, "ret")
      .filter(col("ret").isNotNull)
      .withColumn("rn", row_number().over(spec.w))
    val rspec = SeriesSpec(Nil, Seq("rn"))
    val (blocks, trans, counts) = graft.core.Scope.cached { keep =>
      // persisted: the edge percentile AND the regimed cache fill both
      // sit on this single-series window chain (returns → two rolling
      // stds → backfill) — one materialization instead of one full
      // window pass per action
      val withVol = keep(SeriesOps.backfill(
        SeriesOps.rollingStd(rets, rspec, "ret", volWindow, volWindow / 2, "vol"),
        rspec, "vol", "volf"))

      // A4 quantile edges of vol → regime label
      val probs = (1 until nRegimes).map(i => i.toDouble / nRegimes)
      val edges = withVol.agg(
        expr(s"percentile(volf, array(${probs.mkString(",")}))")).first()
        .getSeq[Double](0).distinct.sorted.toArray
      val edgeLit = array(edges.map(lit): _*)
      // cached: three collects (blocks/transition/starts) share the
      // window-heavy lineage above
      val regimed = keep(withVol.withColumn("regime",
        size(filter(edgeLit, e => e <= col("volf")))))

      // the three collects (blocks / transition / starts) are independent
      // actions over the cached frame — submitted concurrently (guide §2.6)
      val seg = SeriesOps.runSegments(regimed, rspec, "regime", "segment")
      graft.core.Par.par3(
        // contiguous per-regime blocks (runSegments) → per-block return arrays
        seg.groupBy(col("segment"))
          .agg(first(col("regime")).as("regime"),
            count(lit(1)).as("len"),
            // array ordered by rn: collect (rn, ret) structs then strip
            sort_array(collect_list(struct(col("rn"), col("ret")))).as("pairs"))
          .filter(col("len") >= minBlock)
          .select(col("regime"), col("segment"),
            transform(col("pairs"), p => p.getField("ret")).as("block"))
          .collect()
          .groupBy(_.getInt(0))
          .map { case (r, rows) =>
            r -> rows.sortBy(_.getLong(1)).map(_.getSeq[Double](2).toArray).toArray
          },
        // transition matrix over the per-row regime sequence (J2/A7)
        regimed
          .withColumn("next_regime",
            lead(col("regime"), 1).over(Window.orderBy(col("rn"))))
          .filter(col("next_regime").isNotNull)
          .groupBy(col("regime"), col("next_regime")).count()
          .collect().map(r => ((r.getInt(0), r.getInt(1)), r.getLong(2))).toMap,
        regimed.groupBy(col("regime")).count()
          .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap)
    }
    val k = nRegimes
    val transition = Array.tabulate(k) { i =>
      val row = Array.tabulate(k)(j => trans.getOrElse((i, j), 0L).toDouble)
      val s = row.sum
      if (s > 0) row.map(_ / s) else Array.fill(k)(1.0 / k)
    }
    val total = counts.values.sum.toDouble
    val start = Array.tabulate(k)(i => counts.getOrElse(i, 0L) / total)

    RegimeBootstrapModel(
      blocks.filter(_._2.nonEmpty),
      transition, start)
  }

  /** The deterministic segmentation stage of [[fit]] as a checkable
    * DataFrame: one row per contiguous same-regime run (length ≥
    * minBlock) with its regime label and return statistics. Same
    * rolling-vol → backfill → quantile-digitize → run-segmentation
    * pipeline the fit collects blocks from, so the DuckDB oracle
    * verifies the fit's data-shaped work end-to-end. */
  /** PER-SERIES grouped twin of [[fitFrame]]: the whole returns →
    * rolling-vol → backfill → per-series quantile-digitize →
    * run-segmentation pipeline keyed on the series column — one hash
    * shuffle segments every series at once (the many-series fit shape;
    * no prefix cap because each series is its own bounded unit).
    * Oracle-gated by g03b. */
  def fitFrameGrouped(prices: DataFrame, seriesCol: String,
                      orderCols: Seq[String], price: String,
                      nRegimes: Int = 3, volWindow: Int = 24,
                      minBlock: Int = 3): DataFrame = {
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
    // edges quantized to r9: the backfill creates PLATEAUS of identical
    // volf values, and when a quantile lands inside one, engines'
    // interpolation formulas differ in the last ulp — which would flip
    // the <= digitize for the whole plateau. Quantized edges make the
    // boundary engine-portable (same convention both sides of the gate).
    val edges = withVol.groupBy(col("sid"))
      .agg(expr(s"percentile(volf, array(${probs.mkString(",")}))").as("es"))
      .select(col("sid"),
        expr("array_sort(array_distinct(transform(es, e -> round(e, 9))))")
          .as("edges"))
    val regimed = withVol.join(edges, "sid")
      .withColumn("regime", size(filter(col("edges"), e => e <= col("volf"))))
    SeriesOps.runSegments(regimed, rspec, "regime", "segment")
      .groupBy(col("sid"), col("segment"))
      .agg(first(col("regime")).as("regime"),
        count(lit(1)).as("len"),
        round(avg(col("ret")), 8).as("mean_ret"),
        round(stddev_pop(col("ret")), 8).as("std_ret"))
      .filter(col("len") >= minBlock)
      .select(col("sid").as("user_id"),
        col("segment").cast("long").as("segment"), col("regime"),
        col("len"), col("mean_ret"), col("std_ret"))
      .orderBy(col("user_id"), col("segment"))
  }

  def fitFrame(prices: DataFrame, orderCols: Seq[String], price: String,
               nRegimes: Int = 3, volWindow: Int = 24,
               minBlock: Int = 3, maxFitRows: Int = MaxFitRows): DataFrame = {
    val spec = SeriesSpec(Nil, orderCols)
    val prefix = prices.orderBy(orderCols.map(col): _*).limit(maxFitRows)
    val rets = SeriesOps.logReturns(prefix, spec, price, "ret")
      .filter(col("ret").isNotNull)
      .withColumn("rn", row_number().over(spec.w))
    val rspec = SeriesSpec(Nil, Seq("rn"))
    val withVol = SeriesOps.backfill(
      SeriesOps.rollingStd(rets, rspec, "ret", volWindow, volWindow / 2, "vol"),
      rspec, "vol", "volf")
    val probs = (1 until nRegimes).map(i => i.toDouble / nRegimes)
    val edges = withVol.agg(
      expr(s"percentile(volf, array(${probs.mkString(",")}))")).first()
      .getSeq[Double](0).distinct.sorted.toArray
    val edgeLit = array(edges.map(lit): _*)
    val regimed = withVol.withColumn("regime",
      size(filter(edgeLit, e => e <= col("volf"))))
    SeriesOps.runSegments(regimed, rspec, "regime", "segment")
      .groupBy(col("segment"))
      .agg(first(col("regime")).as("regime"),
        count(lit(1)).as("len"),
        round(avg(col("ret")), 8).as("mean_ret"),
        round(stddev_pop(col("ret")), 8).as("std_ret"))
      .filter(col("len") >= minBlock)
      .select(col("segment").cast("long").as("segment"), col("regime"),
        col("len"), col("mean_ret"), col("std_ret"))
      .orderBy(col("segment"))
  }

  /** Seed-deterministic generation: regime walk samples whole blocks;
    * boundary smoothing and price reconstruction run as Spark window
    * ops over the walk's one partition. Output: (rn, ret,
    * typical_price). */
  def generate(spark: SparkSession, model: RegimeBootstrapModel, seed: Long,
               n: Int, initialPrice: Double,
               smoothWeight: Double = 0.5): DataFrame = {
    import spark.implicits._
    require(model.blocks.nonEmpty, "regime bootstrap model has no blocks: " +
      "fit it on a series with at least minBlock returns")
    val rnd = new scala.util.Random(seed)
    val regimesWithBlocks = model.blocks.keys.toArray.sorted
    var regime = GenOps.sampleCat(model.startProbs, rnd.nextDouble())
    val rows = Vector.newBuilder[(Int, Double, Boolean)]
    var i = 0
    while (i < n) {
      val rkey =
        if (model.blocks.contains(regime)) regime
        else regimesWithBlocks(rnd.nextInt(regimesWithBlocks.length))
      val pool = model.blocks(rkey)
      val block = pool(rnd.nextInt(pool.length))
      var j = 0
      while (j < block.length && i < n) {
        rows += ((i, block(j), j == 0))
        i += 1; j += 1
      }
      regime = GenOps.sampleCat(model.transition(regime), rnd.nextDouble())
    }
    val df = rows.result().toDF("rn", "ret_raw", "is_block_start").coalesce(1)
    val spec = SeriesSpec(Nil, Seq("rn"))
    val smoothed = SeriesOps.blockSmooth(
      df.withColumnRenamed("ret_raw", "ret"), spec, "ret",
      col("is_block_start"), smoothWeight, "ret_s")
    SeriesOps.reconstructPrices(smoothed, spec, "ret_s", lit(initialPrice), "typical_price")
      .select(col("rn"), col("ret_s").as("ret"), col("typical_price"))
  }
}
