package graft.opt

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.eval.SeriesKernel.Moments

/** Pure-Scala (task-local) fit + generate + score used as the sweep
  * fitness function. This is the reference's cheap statistical fitness
  * ("No GPU needed — runs in seconds per config",
  * optimize_generator.py / optimize_hybrid.py) restructured for Spark:
  * the REAL returns are broadcast once and every sweep scores its
  * (config, seed) tasks through [[SweepOptimizer.fitnessFanOut]], one
  * embarrassingly-parallel Spark job instead of one subprocess per
  * task (SURVEY §2.12, §4 "fitness fan-out"). Each fan-out task holds
  * one [[Grasynda]] scorer: the real side of [[compositeLite]] once, one
  * quantile fit per distinct n_bins, then one seeded walk and one
  * synthetic-side score per (config, seed).
  */
object LocalFitness {

  /** Grasynda-style fit/gen/score against real returns, all in-task.
    * Params: n_bins (quantile states), smooth (pool jitter weight).
    * Fewer than n_bins·4 returns score `Double.MaxValue`. */
  def grasyndaScore(real: Array[Double], nBins: Int, smooth: Double,
                    n: Int, seed: Long): Double =
    Grasynda.forTask(real)(nBins, smooth, n, seed)

  /** The fit + seeded pool walk of [[grasyndaScore]] (exact extraction
    * so the o01f oracle witness steps the real sweep fitness): quantile
    * states, transition matrix, per-state pools, then `n` smoothed
    * samples from one java.util.Random stream. */
  def grasyndaWalk(real: Array[Double], nBins: Int, smooth: Double,
                   n: Int, seed: Long): Array[Double] =
    fit(real, real.sorted, nBins).walk(smooth, n, seed)

  /** A fitted Grasynda-lite model: the first state, the row-normalised
    * transition matrix and each state's sorted pool (an empty state
    * walks the lowest non-empty state's pool). */
  private final class GrasyndaLite(
      start: Int, transN: Array[Array[Double]], pools: Array[Array[Double]]) {
    private val k = transN.length

    /** `n` smoothed samples from one java.util.Random(seed) stream. */
    def walk(smooth: Double, n: Int, seed: Long): Array[Double] = {
      val rnd = new scala.util.Random(seed)
      var st = start
      val synth = new Array[Double](n)
      var i = 0
      while (i < n) {
        val pool = pools(st)
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
  }

  /** The quantile fit of [[grasyndaWalk]]: `nBins` quantile-index edges
    * of `sorted` (the returns `real` in ascending order), collapsed by
    * `distinct`, then states, transitions and pools of `real`. */
  private def fit(real: Array[Double], sorted: Array[Double], nBins: Int): GrasyndaLite = {
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
    val byState = states.zip(real).groupBy(_._1)
      .map { case (s, xs) => s -> xs.map(_._2).sorted }
    val fallback = byState(byState.keys.min)
    new GrasyndaLite(states(0), transN,
      Array.tabulate(k)(s => byState.getOrElse(s, fallback)))
  }

  /** The sweeps' default fitness, [[grasyndaScore]]. Its per-task
    * scorer computes the real side of [[compositeLite]] on first use and
    * keeps one [[fit]] per n_bins, so a task's configs and seeds share
    * both; its scores equal [[grasyndaScore]]'s bit for bit. */
  object Grasynda extends TaskFitness {
    def apply(real: Array[Double], nBins: Int, smooth: Double, n: Int,
              seed: Long): Double = grasyndaScore(real, nBins, smooth, n, seed)
    def forTask(real: Array[Double]): (Int, Double, Int, Long) => Double = {
      lazy val realSide = new RealSide(real)
      val fits = scala.collection.mutable.HashMap.empty[Int, GrasyndaLite]
      (nBins, smooth, n, seed) =>
        if (real.length < nBins * 4) Double.MaxValue
        else realSide.score(fits.getOrElseUpdate(nBins,
          fit(real, realSide.sorted, nBins)).walk(smooth, n, seed))
    }
  }

  /** PER-SERIES sweep fitness: [[grasyndaWalk]] + [[compositeLite]] for
    * EVERY series in one keyed pass — the many-series optimizer shape
    * (each series gets its own fitted walk and fitness, seeded
    * `seed + sid` so series draw distinct streams). Per-series returns
    * are capped at `maxRows` (the fit-prefix contract); series shorter
    * than nBins·4 returns are skipped ([[grasyndaScore]]'s MaxValue
    * sentinel — at scale a skip, not a poison value). Emits one row per
    * (series, walk step) plus the per-series score. Oracle-gated by
    * o01b. */
  def grasyndaScoreGrouped(returns: DataFrame, seriesCol: String,
                           orderCols: Seq[String], value: String,
                           nBins: Int, smooth: Double, n: Int, seed: Long,
                           maxRows: Int = 2000): DataFrame = {
    val spark = returns.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("sid")).orderBy(orderCols.map(col): _*)
    val data = returns
      .select(col(seriesCol).cast("long").as("sid") +:
        col(value).cast("double").as("v") +: orderCols.map(col): _*)
      .filter(col("v").isNotNull)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= maxRows)
      .select(col("sid"), col("rn"), col("v"))
    data.repartition(col("sid"))
      .sortWithinPartitions(col("sid"), col("rn"))
      .as[(Long, Int, Double)]
      .mapPartitions { rows =>
        graft.series.SeriesOps.runs(rows)(_._1) { (sid, run) =>
          val x = run.map(_._3).toArray
          if (x.length < nBins * 4) Iterator.empty
          else {
            val synth = grasyndaWalk(x, nBins, smooth, n, seed + sid)
            val score = compositeLite(x, synth)
            Iterator.tabulate(n)(i => (sid, i, synth(i), score))
          }
        }
      }.toDF(seriesCol, "i", "synth", "score")
  }

  /** Composite-lite: JS divergence (20-bin) + KS + |std ratio − 1| +
    * |ac1 ratio − 1| — the dominant terms of C8 cheap enough per task. */
  def compositeLite(real: Array[Double], synth: Array[Double]): Double =
    new RealSide(real).score(synth)

  /** The real side of [[compositeLite]], computed once per real series:
    * sorted values, min/max, population std and lag-1 autocorrelation.
    * `score` is the synthetic side and the combination. */
  private final class RealSide(real: Array[Double]) {
    val sorted: Array[Double] = real.sorted
    private val min = real.min
    private val max = real.max
    private val stdR = std(real)
    private val acR = ac1(real)

    def score(synth: Array[Double]): Double = {
      val lo = math.min(min, synth.min)
      val hi = math.max(max, synth.max)
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
        val a = sorted; val b = synth.sorted
        var ia = 0; var ib = 0; var ks = 0.0
        while (ia < a.length && ib < b.length) {
          if (a(ia) <= b(ib)) ia += 1 else ib += 1
          ks = math.max(ks, math.abs(ia.toDouble / a.length - ib.toDouble / b.length))
        }
        ks
      }
      val stdDev = math.abs(std(synth) / math.max(stdR, 1e-12) - 1.0)
      val acDev = if (math.abs(acR) > 1e-6) math.abs(ac1(synth) / acR - 1.0)
                  else math.abs(ac1(synth))
      (3.0 * js + 2.0 * ecdfKs + 2.0 * stdDev + 2.0 * acDev) / 9.0
    }
  }

  private def std(x: Array[Double]): Double = {
    val m = x.sum / x.length
    math.sqrt(x.map(v => (v - m) * (v - m)).sum / x.length)
  }

  private def ac1(x: Array[Double]): Double = {
    if (x.length < 3) return 0.0
    val m = x.sum / x.length
    var num = 0.0; var den = 0.0
    for (i <- x.indices) {
      den += (x(i) - m) * (x(i) - m)
      if (i > 0) num += (x(i) - m) * (x(i - 1) - m)
    }
    if (den > 0) num / den else 0.0
  }
}

/** A sweep fitness that shares work between the (config, seed) tuples
  * of one fan-out task: [[SweepOptimizer.fitnessFanOut]] builds
  * `forTask(real)` once per Spark task and scores that task's tuples
  * with it. Any other [[SweepOptimizer.Fitness]] (the md5 witness
  * scorers) scores each tuple on its own. */
trait TaskFitness extends SweepOptimizer.Fitness with Serializable {
  def forTask(real: Array[Double]): (Int, Double, Int, Long) => Double
}

/** Random sweep + staged tournament GA with Spark-parallel fitness.
  * Ref: optimize_generator.py:20-131 (random sweep over an 18k grid,
  * multi-seed averaging, incremental CSV log); optimize_staged.py
  * (staged tournament GA); ga_optimizer.py (resume checkpointing).
  */
object SweepOptimizer {

  /** A sweep fitness of (real returns, n_bins, smooth, genN, seed). */
  type Fitness = (Array[Double], Int, Double, Int, Long) => Double

  /** The one fitness fan-out of every sweep: scores (n_bins, smooth,
    * seed) tasks against the broadcast real returns in ONE Spark job
    * with no exchange and returns the scores in task order. The tasks
    * are sorted by n_bins (stably) and cut into at most
    * `defaultParallelism` contiguous slices, so each slice holds few
    * n_bins values and a [[TaskFitness]] scorer shares their fits.
    * Driver state is one double per task, the user's grid. */
  def fitnessFanOut(spark: SparkSession, realReturns: Array[Double],
                    tasks: Seq[(Int, Double, Long)], genN: Int,
                    fitness: Fitness): Array[Double] = {
    if (tasks.isEmpty) return Array.empty
    val sc = spark.sparkContext
    val byBins = tasks.zipWithIndex.sortBy(_._1._1).map(_.swap)
    val bc = sc.broadcast(realReturns)
    try {
      val scored = sc.parallelize(byBins, math.min(tasks.size, sc.defaultParallelism))
        .mapPartitions { part =>
          val score = fitness match {
            case f: TaskFitness => f.forTask(bc.value)
            case f => f(bc.value, _: Int, _: Double, _: Int, _: Long)
          }
          part.map { case (i, (nb, sm, s)) => (i, score(nb, sm, genN, s)) }
        }.collect()
      val out = new Array[Double](tasks.size)
      scored.foreach { case (i, v) => out(i) = v }
      out
    } finally bc.destroy()
  }

  /** (avg, config_id) ascending, as Spark orders them (no score is −0.0). */
  private val byScoreThenId: Ordering[(Double, Int)] =
    Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)

  /** o01's seeded config draw, exposed for the o01d witness: two
    * `nextInt` calls per config off ONE java.util.Random(seed) stream
    * (nextInt(4) takes the power-of-2 branch, nextInt(3) the rejection
    * branch — the oracle replays the exact 48-bit LCG, rejections
    * included). */
  def drawConfigs(nBinsChoices: Seq[Int], smoothChoices: Seq[Double],
                  nConfigs: Int, seed: Long): Seq[(Int, Int, Double)] = {
    val rnd = new scala.util.Random(seed)
    (0 until nConfigs).map { id =>
      (id, nBinsChoices(rnd.nextInt(nBinsChoices.size)),
        smoothChoices(rnd.nextInt(smoothChoices.size)))
    }
  }

  /** Random sweep: nConfigs draws from the grid × seeds, every (config,
    * seed) scored by one [[fitnessFanOut]], averaged per config (A17)
    * in seed order with Spark's `avg`/`stddev_pop` update formulas
    * ([[Moments]]), so equal configs get equal doubles on any
    * partitioning. A local frame, best-first by (avg_score,
    * config_id). */
  def randomSweep(spark: SparkSession, realReturns: Array[Double],
                  nBinsChoices: Seq[Int], smoothChoices: Seq[Double],
                  nConfigs: Int, seeds: Seq[Long], genN: Int,
                  seed: Long = 42L): DataFrame = {
    val configs = if (seeds.isEmpty) Seq.empty
      else drawConfigs(nBinsChoices, smoothChoices, nConfigs, seed)
    val scores = fitnessFanOut(spark, realReturns,
      for { (_, nb, sm) <- configs; s <- seeds } yield (nb, sm, s),
      genN, LocalFitness.Grasynda)
    val rows = configs.zipWithIndex.map { case ((id, nb, sm), c) =>
      val m = new Moments(scores, c * seeds.size, (c + 1) * seeds.size)
      Row(id, nb, sm, m.mean, m.stdPop, seeds.size.toLong)
    }.sortBy(r => (r.getDouble(3), r.getInt(0)))(byScoreThenId)
    spark.createDataFrame(rows.asJava, StructType(Seq(
      StructField("config_id", IntegerType, nullable = false),
      StructField("n_bins", IntegerType, nullable = false),
      StructField("smooth", DoubleType, nullable = false),
      StructField("avg_score", DoubleType),
      StructField("std_score", DoubleType),
      StructField("n_seeds", LongType, nullable = false))))
  }

  /** Grid search with early seed-stopping, re-expressed Spark-first
    * (reference: examples/scripts/optimize_hybrid.py:95-158 — grid
    * loop, per-config sequential seeds, "after ≥ EARLY_STOP_AFTER
    * seeds, skip the rest if running avg > best·margin"). The
    * reference's config loop is inherently sequential (the pruning
    * threshold is the running global best); a faithful port would
    * serialize |grid| Spark jobs. The batch shape is TWO jobs:
    *
    *  1. probe phase — EVERY config × the first `earlyAfter` seeds in
    *     one fan-out; per-config running score = the reference's
    *     early-stop statistic.
    *  2. full phase — the REMAINING seeds, only for configs whose
    *     running score ≤ (global probe best)·margin.
    *
    * The batch threshold (min over ALL probe scores) is at most the
    * reference's visit-order best, so batch pruning is at least as
    * aggressive on exactly the configs the reference would skip —
    * same intent (don't spend seeds on clearly-bad configs), no
    * sequential driver loop, and fully deterministic. `early_stopped`
    * marks pruned configs; their avg_score is the probe average (the
    * reference reports the same truncated average). */
  def gridSearchEarlyStop(spark: SparkSession, realReturns: Array[Double],
                          nBinsChoices: Seq[Int], smoothChoices: Seq[Double],
                          seeds: Seq[Long], genN: Int,
                          earlyAfter: Int = 2,
                          margin: Double = 1.3,
                          score: Fitness = LocalFitness.Grasynda): DataFrame = {
    import spark.implicits._
    require(earlyAfter >= 1 && earlyAfter <= seeds.size,
      s"earlyAfter must be in [1, ${seeds.size}]")
    val configs = (for { nb <- nBinsChoices; sm <- smoothChoices }
      yield (nb, sm)).zipWithIndex.map { case ((nb, sm), i) => (i, nb, sm) }
    // per-config score sums over `phaseSeeds`, folded in seed order
    def run(cs: Seq[(Int, Int, Double)], phaseSeeds: Seq[Long]): Seq[Double] = {
      val scores = fitnessFanOut(spark, realReturns,
        for { (_, nb, sm) <- cs; s <- phaseSeeds } yield (nb, sm, s), genN, score)
      scores.grouped(phaseSeeds.size).map(_.sum).toSeq
    }
    val probeSeeds = seeds.take(earlyAfter)
    val restSeeds = seeds.drop(earlyAfter)
    val probe = configs.zip(run(configs, probeSeeds))
    val bestProbe = probe.map(_._2 / probeSeeds.size).min
    val survivors = probe
      .filter { case (_, ps) => ps / probeSeeds.size <= bestProbe * margin }
      .map(_._1)
    val restScores =
      if (restSeeds.isEmpty || survivors.isEmpty) Map.empty[Int, Double]
      else survivors.map(_._1).zip(run(survivors, restSeeds)).toMap
    probe.map { case ((id, nb, sm), ps) =>
      val rs = restScores.get(id)
      val n = probeSeeds.size + (if (rs.isDefined) restSeeds.size else 0)
      (id, nb, sm, (ps + rs.getOrElse(0.0)) / n, n,
        if (rs.isEmpty && restSeeds.nonEmpty) 1 else 0)
    }.sortBy(r => (r._4, r._1))(byScoreThenId)
      .toDF("config_id", "n_bins", "smooth", "avg_score", "n_seeds",
        "early_stopped")
  }

  /** Successive halving / ASHA-style sweep (beyond reference, o03):
    * the remaining classic budgeted-search shape after o01's random
    * sweep and o02's grid + early seed-stop. Every config starts at a
    * 1-seed budget; each rung keeps the top ⌈alive/η⌉ by cumulative
    * mean (ties → smaller config id) and multiplies the next rung's
    * fresh-seed budget by η, until the seed list is exhausted — cheap
    * configs die on one seed, promising ones earn geometric budget.
    *
    * Determinism contract (the o02 conventions): each rung's
    * evaluation is ONE Spark job over (alive × fresh seeds) with the
    * broadcast real series; per-config scores collect (driver state =
    * |configs|·|seeds| doubles, the user's grid — never data-sized) and
    * every cumulative sum folds IN SEED ORDER on the driver, so the
    * promotion compares see bit-identical doubles on any engine or
    * partitioning — the o03f oracle replays rungs as chained CTEs with
    * ordered-list folds. Output rows order by (r6 mean, config id). */
  def successiveHalving(spark: SparkSession, realReturns: Array[Double],
                        nBinsChoices: Seq[Int], smoothChoices: Seq[Double],
                        seeds: Seq[Long], genN: Int, eta: Int = 3,
                        score: Fitness = LocalFitness.Grasynda): DataFrame = {
    import spark.implicits._
    require(eta >= 2, "eta must be at least 2")
    val configs = (for { nb <- nBinsChoices; sm <- smoothChoices }
      yield (nb, sm)).zipWithIndex.map { case ((nb, sm), i) => (i, nb, sm) }
    var alive = configs
    var cum = Map.empty[Int, Vector[(Long, Double)]]
    var consumed = 0
    var budget = 1
    var rung = 0
    val rungReached = scala.collection.mutable.Map.empty[Int, Int]
    while (alive.nonEmpty && consumed < seeds.size) {
      val rungSeeds = seeds.slice(consumed,
        math.min(consumed + budget, seeds.size))
      val scores = rungScores(spark, realReturns, alive, rungSeeds, genN, score)
      for ((id, s, sc) <- scores)
        cum = cum.updated(id, cum.getOrElse(id, Vector.empty) :+ (s, sc))
      consumed += rungSeeds.size
      alive.foreach { case (id, _, _) => rungReached(id) = rung }
      if (consumed < seeds.size) {
        val ranked = alive.map { case c @ (id, _, _) =>
          val xs = cum(id).sortBy(_._1).map(_._2)
          (xs.sum / xs.size, id, c)
        }.sortBy { case (m, id, _) => (m, id) }
        alive = ranked.take(
          math.ceil(alive.size.toDouble / eta).toInt).map(_._3)
      }
      budget *= eta
      rung += 1
    }
    configs.map { case (id, nb, sm) =>
      val xs = cum(id).sortBy(_._1).map(_._2)
      (id, nb, sm, xs.sum / xs.size, xs.size.toLong,
        rungReached(id).toLong)
    }.toDF("config_id", "n_bins", "smooth", "avg_score", "n_seeds",
        "rung_reached")
  }

  /** (config_id, seed, score) of every alive config × rung seed: one
    * [[fitnessFanOut]] job per rung of [[successiveHalving]] and
    * [[hyperband]]. */
  private def rungScores(spark: SparkSession, realReturns: Array[Double],
                         alive: Seq[(Int, Int, Double)], rungSeeds: Seq[Long],
                         genN: Int, score: Fitness): Seq[(Int, Long, Double)] = {
    val scores = fitnessFanOut(spark, realReturns,
      for { (_, nb, sm) <- alive; s <- rungSeeds } yield (nb, sm, s), genN, score)
    (for { (id, _, _) <- alive; s <- rungSeeds } yield (id, s)).zip(scores)
      .map { case ((id, s), sc) => (id, s, sc) }
  }

  /** Deterministic md5 draw for Hyperband's per-bracket config
    * sampling — key "o04draw|nBins|round(smooth·10)|bracket", the same
    * portable-hash construction as [[witnessScoreTagged]], so the
    * oracle ranks the identical longs. */
  private def bracketDraw(nBins: Int, smooth: Double, bracket: Int): Long = {
    val key = s"o04draw|$nBins|${math.round(smooth * 10)}|$bracket"
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16)
  }

  /** Hyperband (beyond reference, o04; Li et al. 2018): the
    * multi-BRACKET form of [[successiveHalving]] — bracket s starts
    * n_s = ⌈(B/R)·ηˢ/(s+1)⌉ configs at budget r_s = R·η⁻ˢ seeds and
    * halves from there, so aggressive-elimination brackets (many
    * configs, tiny first budget) and conservative ones (few configs,
    * full budget) hedge each other; the winner is the best final-rung
    * average across brackets. Config entry into a bracket is a
    * deterministic seeded draw ([[bracketDraw]] — the o01d replay
    * pattern), so both engines admit identical cohorts.
    *
    * Scale shape: each rung is ONE Spark job over |alive × rung
    * seeds| fits (the o03 contract); driver state is per-bracket
    * cumulative means. Same oracle-replayability contract as o03:
    * fixed rung boundaries, seed-ordered folds, (mean, config_id)
    * tie-breaks — o04f replays all three brackets' promotion
    * arithmetic over the tagged md5 pseudo-fitness. */
  def hyperband(spark: SparkSession, realReturns: Array[Double],
                nBinsChoices: Seq[Int], smoothChoices: Seq[Double],
                seeds: Seq[Long], genN: Int, eta: Int = 3,
                score: Fitness = LocalFitness.Grasynda): DataFrame = {
    import spark.implicits._
    require(eta >= 2, "eta must be at least 2")
    val bigR = seeds.size
    val smax = (math.log(bigR.toDouble) / math.log(eta.toDouble)).toInt
    val bigB = (smax + 1) * bigR
    val configs = (for { nb <- nBinsChoices; sm <- smoothChoices }
      yield (nb, sm)).zipWithIndex.map { case ((nb, sm), i) => (i, nb, sm) }
    val rows = (smax to 0 by -1).flatMap { s =>
      val n = math.ceil(bigB.toDouble / bigR * math.pow(eta, s) / (s + 1))
        .toInt
      val r = math.max(1, bigR / math.pow(eta, s).toInt)
      var alive = configs
        .sortBy { case (id, nb, sm) => (bracketDraw(nb, sm, s), id) }
        .take(math.min(n, configs.size))
      val cohort = alive
      var cum = Map.empty[Int, Vector[(Long, Double)]]
      var consumed = 0
      var budget = r
      var rung = 0
      val rungReached = scala.collection.mutable.Map.empty[Int, Int]
      while (alive.nonEmpty && consumed < bigR) {
        val rungSeeds = seeds.slice(consumed,
          math.min(consumed + budget, bigR))
        val scores = rungScores(spark, realReturns, alive, rungSeeds, genN, score)
        for ((id, sd, sc) <- scores)
          cum = cum.updated(id, cum.getOrElse(id, Vector.empty) :+ (sd, sc))
        consumed += rungSeeds.size
        alive.foreach { case (id, _, _) => rungReached(id) = rung }
        if (consumed < bigR) {
          val ranked = alive.map { case c @ (id, _, _) =>
            val xs = cum(id).sortBy(_._1).map(_._2)
            (xs.sum / xs.size, id, c)
          }.sortBy { case (m, id, _) => (m, id) }
          alive = ranked.take(
            math.ceil(alive.size.toDouble / eta).toInt).map(_._3)
        }
        budget *= eta
        rung += 1
      }
      cohort.map { case (id, nb, sm) =>
        val xs = cum(id).sortBy(_._1).map(_._2)
        (s, id, nb, sm, xs.sum / xs.size, xs.size.toLong,
          rungReached(id).toLong)
      }
    }
    rows.toDF("bracket", "config_id", "n_bins", "smooth", "avg_score",
      "n_seeds", "rung_reached")
  }

  /** Deterministic pseudo-fitness for the o02f WITNESS query: the first
    * 15 hex chars of md5("o02|nBins|round(smooth·10)|seed") as a
    * base-16 long, scaled to [0, 1) by 2⁶⁰ — the engine's portable-hash
    * construction ([[graft.text.Dedup.h64]]), so DuckDB computes the
    * identical double and the oracle can replay gridSearchEarlyStop's
    * probe-mean / margin-survivor / finish-phase arithmetic EXACTLY
    * (sum order is fixed: ≤ 2 addends per phase, and fp addition is
    * commutative). The REAL fitness math is hash-gated separately by
    * o01f/o01b; this isolates the selection logic, which those cannot
    * see. Smooth is keyed as round(·10) so both engines format the
    * grid's one-decimal values identically. */
  def witnessScore(real: Array[Double], nBins: Int, smooth: Double,
                   genN: Int, seed: Long): Double =
    witnessScoreTagged("o02")(real, nBins, smooth, genN, seed)

  /** [[witnessScore]] with a caller-chosen md5 key tag — o03f uses
    * "o03" so its pseudo-fitness stream is independent of o02f's while
    * sharing the same portable construction. */
  def witnessScoreTagged(tag: String)(
      real: Array[Double], nBins: Int, smooth: Double,
      genN: Int, seed: Long): Double = {
    val key = s"$tag|$nBins|${math.round(smooth * 10)}|$seed"
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(key.getBytes("UTF-8"))
      .map(b => f"${b & 0xff}%02x").mkString
    java.lang.Long.parseLong(hex.substring(0, 15), 16).toDouble /
      (1L << 60).toDouble
  }

  private val mapper = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    m.registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)
    m
  }

  /** Staged tournament GA (compact): per generation, the population's
    * (individual, seed) tasks are one [[fitnessFanOut]] job and each
    * individual's average folds in seed order; selection/crossover/mutation are
    * driver bookkeeping (O4 hall-of-fame tracked across generations).
    * `checkpointPath` persists {generation, population, best, stale}
    * after each generation and resumes from it when present — the
    * reference's resume-JSON contract (ga_optimizer.py:214-229).
    * Returns (best params, best score, history rows). */
  def tournamentGa(spark: SparkSession, realReturns: Array[Double],
                   popSize: Int = 20, generations: Int = 8,
                   seeds: Seq[Long] = Seq(1L, 2L, 3L), genN: Int = 1000,
                   patience: Int = 4, seed: Long = 42L,
                   checkpointPath: Option[String] = None): (Map[String, Double], Double, DataFrame) = {
    import spark.implicits._
    import java.nio.file.{Files, Paths}
    val rnd = new scala.util.Random(seed)
    def randomInd(): (Int, Double) =
      (3 + rnd.nextInt(28), rnd.nextDouble() * 0.8)
    var pop = Vector.fill(popSize)(randomInd())
    var best: ((Int, Double), Double) = (pop.head, Double.MaxValue)
    var stale = 0
    val history = Vector.newBuilder[(Int, Int, Double, Double)]
    var g = 0
    // resume from checkpoint if present
    checkpointPath.map(Paths.get(_)).filter(Files.exists(_)).foreach { p =>
      val n = mapper.readTree(Files.readString(p))
      g = n.get("generation").asInt()
      stale = n.get("stale").asInt()
      best = ((n.get("best_n_bins").asInt(), n.get("best_smooth").asDouble()),
        n.get("best_score").asDouble())
      val it = n.get("population").elements()
      val b = Vector.newBuilder[(Int, Double)]
      while (it.hasNext) {
        val e = it.next()
        b += ((e.get(0).asInt(), e.get(1).asDouble()))
      }
      pop = b.result()
    }
    while (g < generations && stale < patience) {
      // RNG derived from (seed, generation), not a continuing stream: a run
      // resumed from the generation-g checkpoint draws exactly the same
      // numbers as an uninterrupted run (the reference checkpoint's
      // determinism contract, ga_optimizer.py resume path).
      val genRnd = new scala.util.Random(seed ^ (0x9E3779B97F4A7C15L * (g + 1)))
      val scores = fitnessFanOut(spark, realReturns,
        for { (nb, sm) <- pop; s <- seeds } yield (nb, sm, s), genN,
        LocalFitness.Grasynda)
      // per-individual average in seed order; the stable sort ranks
      // equal averages (elitism clones) by population index
      val ranked = pop.zipWithIndex.map { case (ind, i) =>
        (ind, new Moments(scores, i * seeds.size, (i + 1) * seeds.size).mean)
      }.sortBy(_._2)
      if (ranked.head._2 < best._2 - 1e-12) { best = ranked.head; stale = 0 }
      else stale += 1
      history += ((g, ranked.head._1._1, ranked.head._1._2, ranked.head._2))
      // elitism + tournament-3 + blend crossover + mutation
      def tournament(): (Int, Double) =
        Seq.fill(3)(ranked(genRnd.nextInt(ranked.size))).minBy(_._2)._1
      pop = Vector(ranked.head._1) ++ Vector.fill(popSize - 1) {
        val a = tournament(); val b = tournament()
        val child =
          if (genRnd.nextDouble() < 0.7)
            (if (genRnd.nextBoolean()) a._1 else b._1, (a._2 + b._2) / 2)
          else a
        if (genRnd.nextDouble() < 0.2)
          (math.max(3, child._1 + genRnd.nextInt(7) - 3),
            math.min(0.95, math.max(0.0, child._2 + genRnd.nextGaussian() * 0.1)))
        else child
      }
      g += 1
      checkpointPath.foreach { p =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p),
          mapper.writeValueAsString(Map(
            "generation" -> g, "stale" -> stale,
            "best_n_bins" -> best._1._1, "best_smooth" -> best._1._2,
            "best_score" -> best._2,
            "population" -> pop.map(i => Seq(i._1, i._2)))))
      }
    }
    val hist = history.result()
      .toDF("generation", "best_n_bins", "best_smooth", "best_score")
    (Map("n_bins" -> best._1._1.toDouble, "smooth" -> best._1._2),
      best._2, hist)
  }
}
