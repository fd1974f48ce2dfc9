package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}

/** Fitted Grasynda model: quantile bin edges (interior), row-stochastic
  * transition matrix, per-bin value pools (sorted for determinism),
  * start-state distribution. Small, driver-resident, JSON-serializable
  * (ref model shape: grasynda_generator.py:86-102). */
final case class GrasyndaModel(
    interiorEdges: Array[Double],
    transition: Array[Array[Double]],
    pools: Map[Int, Array[Double]],
    startProbs: Array[Double]) {
  def nStates: Int = startProbs.length
}

/** G3: Grasynda Markov-chain generator.
  * Ref: sdg_plugins/generator/grasynda_generator.py:53-149 — quantile-
  * discretize returns (A4/A5), count adjacent-state transitions (J2/A7),
  * pool raw values per bin (A9), then random-walk the chain sampling a
  * pool value per step; prices reconstructed via the running-sum
  * exponential (W2).
  *
  * Scale split per SURVEY.md §7.4.2: the single-series FIT is one
  * time-ordered collect of the returns and [[fitArray]] on the driver
  * (the reference's series are thousands of bars; the many-series shape,
  * [[generateGrouped]], runs the same [[fitArray]] inside a keyed pass);
  * the WALK is a sequential small-state recurrence (n ≤ tens of
  * thousands) done on the driver; the price reconstruction is a window
  * scan over the walk's one partition.
  */
object Grasynda {

  /** Fit on a returns column: one time-ordered collect of the non-null
    * returns, then [[fitArray]] on the driver. */
  def fit(returns: DataFrame, orderCols: Seq[String], value: String,
          nBins: Int = 10): GrasyndaModel = {
    val v = col(value).cast("double")
    fitArray(returns.filter(v.isNotNull).orderBy(orderCols.map(col): _*)
      .select(v).collect().map(_.getDouble(0)), nBins)
  }

  /** The fit ARTIFACT as a checkable DataFrame — one row per observed
    * (state → next_state) transition carrying the transition prob plus
    * the from-state's pool statistics and start probability. Exactly the
    * deterministic stage of [[fit]] (same edges, same digitize, same
    * counts), emitted distributed so the DuckDB oracle can verify the
    * whole fit without touching the seeded walk. */
  /** PER-SERIES grouped twin of [[fitFrame]]: every stage keys on the
    * series column (per-series quantile edges as an array aggregate,
    * in-plan digitize against the per-series interior array, keyed
    * transition counts / pools / start probs), so ONE hash shuffle on
    * the series key carries the whole fit — the many-series shape for
    * fitting millions of independent series in one pass at 100 TB.
    * Oracle-gated by g02b. */
  def fitFrameGrouped(returns: DataFrame, seriesCol: String,
                      orderCols: Seq[String], value: String,
                      nBins: Int = 10): DataFrame = {
    val v = col(value).cast("double")
    val data = returns.filter(v.isNotNull)
      .withColumn("rn", row_number().over(
        Window.partitionBy(col(seriesCol)).orderBy(orderCols.map(col): _*)))
      .select(col(seriesCol).cast("long").as("sid"), col("rn"), v.as("v"))
    val probs = (0 to nBins).map(i => i.toDouble / nBins)
    // per-series interior quantile edges (dedup + sort in-plan; the
    // slice length is clamped — a constant series has one distinct edge)
    val edges = data.groupBy(col("sid"))
      .agg(expr(s"percentile(v, array(${probs.mkString(",")}))").as("es"))
      .select(col("sid"), expr(
        "slice(array_sort(array_distinct(es)), 2, " +
          "greatest(size(array_distinct(es)) - 2, 0))").as("interior"))
    val stated = data.join(edges, "sid")
      .withColumn("state", size(filter(col("interior"), e => e <= col("v"))))
    val w = Window.partitionBy(col("sid")).orderBy(col("rn"))
    val trans = stated
      .withColumn("next_state", lead(col("state"), 1).over(w))
      .filter(col("next_state").isNotNull)
      .groupBy(col("sid"), col("state"), col("next_state"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prob",
        round(col("cnt").cast("double")
          / sum(col("cnt")).over(
            Window.partitionBy(col("sid"), col("state"))), 6))
    val poolStats = stated.groupBy(col("sid"), col("state")).agg(
      count(lit(1)).as("pool_n"),
      round(avg(col("v")), 8).as("pool_mean"),
      round(stddev_pop(col("v")), 8).as("pool_std"))
    val starts = poolStats.select(col("sid"), col("state"),
      round(col("pool_n").cast("double")
        / sum(col("pool_n")).over(Window.partitionBy(col("sid"))), 6)
        .as("start_prob"))
    trans.join(poolStats, Seq("sid", "state")).join(starts, Seq("sid", "state"))
      .select(col("sid").as("user_id"), col("state"), col("next_state"),
        col("cnt"), col("prob"), col("pool_n"), col("pool_mean"),
        col("pool_std"), col("start_prob"))
      .orderBy(col("user_id"), col("state"), col("next_state"))
  }

  def fitFrame(returns: DataFrame, orderCols: Seq[String], value: String,
               nBins: Int = 10): DataFrame = {
    val v = col(value).cast("double")
    val data = returns.filter(v.isNotNull)
      .withColumn("rn", row_number().over(Window.orderBy(orderCols.map(col): _*)))
      .select(col("rn"), v.as("v"))

    val probs = (0 to nBins).map(i => i.toDouble / nBins)
    val edges = data.agg(
      expr(s"percentile(v, array(${probs.mkString(",")}))")).first()
      .getSeq[Double](0).distinct.sorted.toArray
    val interior = edges.slice(1, edges.length - 1)
    val edgeLit = array(interior.map(lit): _*)
    val stated = data.withColumn("state",
      size(filter(edgeLit, e => e <= col("v"))))

    val w = Window.orderBy(col("rn"))
    val trans = stated
      .withColumn("next_state", lead(col("state"), 1).over(w))
      .filter(col("next_state").isNotNull)
      .groupBy(col("state"), col("next_state"))
      .agg(count(lit(1)).as("cnt"))
      .withColumn("prob",
        round(col("cnt").cast("double")
          / sum(col("cnt")).over(Window.partitionBy(col("state"))), 6))

    val poolStats = stated.groupBy(col("state")).agg(
      count(lit(1)).as("pool_n"),
      round(avg(col("v")), 8).as("pool_mean"),
      round(stddev_pop(col("v")), 8).as("pool_std"))
    val total = Window.partitionBy()
    val starts = poolStats.select(col("state"),
      round(col("pool_n").cast("double") / sum(col("pool_n")).over(total), 6)
        .as("start_prob"))

    trans.join(poolStats, "state").join(starts, "state")
      .select(col("state"), col("next_state"), col("cnt"), col("prob"),
        col("pool_n"), col("pool_mean"), col("pool_std"), col("start_prob"))
      .orderBy(col("state"), col("next_state"))
  }

  /** The Grasynda fit over one in-memory series, in time order: the
    * quantile edges of Spark's `percentile` (its interpolation
    * `(hi−pos)·lo + (pos−lo)·hi`, and the bound itself when both
    * neighbours are equal, replicated bit-for-bit), deduplicated and
    * sliced to the interior, digitize, adjacent transition counts,
    * sorted pools and start distribution. [[fit]] runs it on the
    * driver; [[generateGrouped]] fits every series with it inside a
    * keyed pass. */
  def fitArray(vs: Array[Double], nBins: Int = 10): GrasyndaModel = {
    require(vs.nonEmpty, "empty series")
    val sorted = vs.sorted
    val n = sorted.length
    val raw = Array.tabulate(nBins + 1) { i =>
      val p = i.toDouble / nBins
      val position = p * (n - 1)
      val lower = math.floor(position).toLong
      val higher = math.ceil(position).toLong
      val lo = sorted(lower.toInt); val hi = sorted(higher.toInt)
      if (higher == lower || hi == lo) lo
      else (higher - position) * lo + (position - lower) * hi
    }
    val edges = raw.distinct.sorted
    val interior = edges.slice(1, edges.length - 1)
    val k = interior.length + 1
    def stateOf(x: Double): Int = {
      var c = 0; var i = 0
      while (i < interior.length) { if (interior(i) <= x) c += 1; i += 1 }
      c
    }
    val states = vs.map(stateOf)
    val transCounts = scala.collection.mutable.Map.empty[(Int, Int), Long]
    var i = 0
    while (i < states.length - 1) {
      val key = (states(i), states(i + 1))
      transCounts(key) = transCounts.getOrElse(key, 0L) + 1L
      i += 1
    }
    val transition = Array.tabulate(k) { a =>
      val row = Array.tabulate(k)(b => transCounts.getOrElse((a, b), 0L).toDouble)
      val s = row.sum
      if (s > 0) row.map(_ / s) else Array.fill(k)(1.0 / k)
    }
    val pools = states.zip(vs).groupBy(_._1)
      .map { case (st, arr) => st -> arr.map(_._2).sorted }
    val counts = states.groupBy(identity).map { case (st, a) => st -> a.length.toLong }
    val totalN = vs.length.toDouble
    val startProbs = Array.tabulate(k)(s => counts.getOrElse(s, 0L) / totalN)
    GrasyndaModel(interior, transition, pools, startProbs)
  }

  /** PER-SERIES seeded generation: [[fitArray]] + the seeded Markov
    * walk for EVERY series in one keyed pass — fit and generation both
    * distributed across the series dimension (`Random(seed + sid)` per
    * series, the `--series_col` contract), keyed W2 reconstruction.
    * Series with fewer than `minRows` returns are skipped. */
  def generateGrouped(returns: DataFrame, seriesCol: String,
                      orderCols: Seq[String], value: String, nBins: Int,
                      seed: Long, n: Int, initialPrice: Double,
                      minRows: Int = 10): DataFrame = {
    val spark = returns.sparkSession
    import spark.implicits._
    val v = col(value).cast("double")
    // __rn must SURVIVE the projection: dropping it would let Catalyst
    // prune the window away, and with it the hash-clustering + sort
    // SeriesOps.runs below depends on
    val data = returns.filter(v.isNotNull)
      .withColumn("__rn", row_number().over(
        Window.partitionBy(col(seriesCol)).orderBy(orderCols.map(col): _*)))
      .select(col(seriesCol).cast("long").as("sid"), col("__rn"), v.as("v"))
    val rows = data.as[(Long, Int, Double)].mapPartitions { part =>
      SeriesOps.runs(part)(_._1) { (sid, run) =>
        val vs = run.map(_._3).toArray
        if (vs.length < minRows) Iterator.empty
        else walkRets(fitArray(vs, nBins), seed + sid, n).iterator.zipWithIndex
          .map { case (r, i) => (sid, i, r) }
      }
    }.toDF(seriesCol, "rn", "ret")
    SeriesOps.reconstructPrices(rows, SeriesSpec(Seq(seriesCol), Seq("rn")), "ret",
      lit(initialPrice), "typical_price")
  }

  /** The seeded Markov walk from `Random(seed)`: a start state, then per
    * step a draw from the state's pool (the lowest state's pool when the
    * state has none) and a transition draw. Shared by the single-series
    * [[generate]] and the per-series [[generateGrouped]]. */
  def walkRets(model: GrasyndaModel, seed: Long, n: Int): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    var state = GenOps.sampleCat(model.startProbs, rnd.nextDouble())
    val rets = new Array[Double](n)
    var i = 0
    while (i < n) {
      val pool = model.pools.getOrElse(state,
        model.pools(model.pools.keys.min))
      rets(i) = pool(rnd.nextInt(pool.length))
      state = GenOps.sampleCat(model.transition(state), rnd.nextDouble())
      i += 1
    }
    rets
  }

  /** Seed-deterministic generation: [[walkRets]] on the driver, then W2
    * reconstruction over its one partition. Output: (rn, ret,
    * typical_price). */
  def generate(spark: SparkSession, model: GrasyndaModel, seed: Long,
               n: Int, initialPrice: Double): DataFrame =
    GenOps.walkPrices(spark, walkRets(model, seed, n), initialPrice)
}
