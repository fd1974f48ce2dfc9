package graft

import org.apache.spark.sql.Row
import org.scalatest.funsuite.AnyFunSuite

import graft.eval.SeriesKernel.Moments
import graft.opt.{LocalFitness, SweepOptimizer}

/** The sweeps' one fitness fan-out against the retired bodies in
  * [[OptOracle]]: bit-identical fitness, seed-order folds that do not
  * depend on partitioning, and one job per fan-out. */
class OptimizerSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private def bits(xs: Seq[Double]): Seq[Long] = xs.map(java.lang.Double.doubleToRawLongBits)

  private def gaussian(n: Int, seed: Int, ar: Double = 0.0): Array[Double] = {
    val rnd = new scala.util.Random(seed)
    var prev = 0.0
    Array.fill(n) { val r = ar * prev + rnd.nextGaussian() * 0.001; prev = r; r }
  }

  /** Returns whose low quantile edges collapse under `distinct` and
    * leave state 0 empty (its pool falls back to the lowest state's). */
  private val tied: Array[Double] = {
    val rnd = new scala.util.Random(4)
    Array.tabulate(300)(i => if (i % 3 == 0) rnd.nextDouble() * 0.01 else 0.0)
  }

  private val series: Seq[(String, Array[Double])] = Seq(
    "walk" -> gaussian(2000, 3),
    "ar1" -> gaussian(1500, 6, ar = 0.3),
    "constant" -> Array.fill(400)(0.001),
    "tied edges" -> tied,
    "short" -> gaussian(31, 9))

  private val grid = for {
    nb <- Seq(3, 5, 8, 15, 25); sm <- Seq(0.0, 0.2, 0.5); s <- Seq(1L, 2L, 7L)
  } yield (nb, sm, s)

  test("sweep fitness: fit/walk and real/synthetic sides == retired grasyndaScore bit-for-bit") {
    for ((name, real) <- series) {
      val expected = grid.map { case (nb, sm, s) => OptOracle.grasyndaScore(real, nb, sm, 300, s) }
      assert(bits(grid.map { case (nb, sm, s) =>
        LocalFitness.grasyndaScore(real, nb, sm, 300, s) }) === bits(expected), name)
      // one scorer shares the real side and one fit per n_bins, in any order
      val scorer = LocalFitness.Grasynda.forTask(real)
      val shuffled = new scala.util.Random(1).shuffle(grid.indices.toVector)
      assert(bits(shuffled.map { i => val (nb, sm, s) = grid(i); scorer(nb, sm, 300, s) }) ===
        bits(shuffled.map(expected)), name)
      for ((nb, sm, s) <- grid if real.length >= nb * 4) {
        val walk = LocalFitness.grasyndaWalk(real, nb, sm, 300, s)
        assert(bits(walk.toSeq) === bits(OptOracle.grasyndaWalk(real, nb, sm, 300, s).toSeq),
          s"$name $nb $sm $s")
        assert(bits(Seq(LocalFitness.compositeLite(real, walk))) ===
          bits(Seq(OptOracle.compositeLite(real, walk))), s"$name $nb $sm $s")
      }
    }
    // below n_bins·4 returns: the MaxValue sentinel, at the boundary a score
    val short = gaussian(32, 10)
    assert(LocalFitness.grasyndaScore(short.take(31), 8, 0.2, 100, 1L) === Double.MaxValue)
    assert(LocalFitness.grasyndaScore(short, 8, 0.2, 100, 1L) < Double.MaxValue)
  }

  test("fitness fan-out: per-(config, seed) scores == the retired score bit-for-bit, in task order") {
    val real = gaussian(1500, 12, ar = 0.2)
    val tasks = new scala.util.Random(2).shuffle(
      for { nb <- Seq(5, 8, 10, 15, 400); sm <- Seq(0.0, 0.5); s <- Seq(1L, 2L, 3L) }
        yield (nb, sm, s))
    val scores = SweepOptimizer.fitnessFanOut(spark, real, tasks, 400, LocalFitness.Grasynda)
    assert(bits(scores.toSeq) === bits(tasks.map { case (nb, sm, s) =>
      OptOracle.grasyndaScore(real, nb, sm, 400, s) }))
    assert(scores.count(_ == Double.MaxValue) === 6, "n_bins 400 needs 1,600 returns")
    // a plain (real, n_bins, smooth, genN, seed) scorer plugs in unchanged
    val witness = SweepOptimizer.fitnessFanOut(spark, real, tasks, 0,
      SweepOptimizer.witnessScoreTagged("spec"))
    assert(witness.toSeq === tasks.map { case (nb, sm, s) =>
      SweepOptimizer.witnessScoreTagged("spec")(real, nb, sm, 0, s) })
    assert(SweepOptimizer.fitnessFanOut(spark, real, Seq.empty, 0, LocalFitness.Grasynda).isEmpty)
  }

  test("random sweep == the retired DataFrame sweep folded in seed order, " +
       "within 2 ulp of Spark's aggregate, same schema") {
    val real = gaussian(1500, 13)
    val seeds = Seq(1L, 2L, 3L)
    def sweep() = SweepOptimizer.randomSweep(spark, real, Seq(5, 8, 10, 15),
      Seq(0.0, 0.2, 0.5), 12, seeds, 400)
    def oracle() = OptOracle.randomSweep(spark, real, Seq(5, 8, 10, 15),
      Seq(0.0, 0.2, 0.5), 12, seeds, 400)
    val rows = sweep().collect().toSeq
    val scores = OptOracle.sweepScores(spark, real, Seq(5, 8, 10, 15),
        Seq(0.0, 0.2, 0.5), 12, seeds, 400).collect()
      .map(r => (r.getInt(0), r.getLong(3)) -> r.getDouble(4)).toMap
    val folded = SweepOptimizer.drawConfigs(Seq(5, 8, 10, 15), Seq(0.0, 0.2, 0.5), 12, 42L)
      .map { case (id, nb, sm) =>
        val m = new Moments(seeds.map(s => scores((id, s))).toArray)
        Row(id, nb, sm, m.mean, m.stdPop, seeds.size.toLong)
      }.sortBy(r => (r.getDouble(3), r.getInt(0)))
    assert(rows === folded)
    val spark3 = oracle()
    assert(sweep().schema === spark3.schema)
    // Spark merges partial buffers in task order; its M2 merge cancels
    // at the scale of the mean, so std_score is measured in the
    // average's ulps
    val byId = spark3.collect().map(r => r.getInt(0) -> r).toMap
    for (r <- rows; o = byId(r.getInt(0))) {
      val ulp = math.ulp(o.getDouble(3))
      assert(math.abs(r.getDouble(3) - o.getDouble(3)) <= 2 * ulp, s"$r vs $o")
      assert(math.abs(r.getDouble(4) - o.getDouble(4)) <= 2 * ulp, s"$r vs $o")
    }
  }

  test("duplicate configs: bit-equal averages ranked by config_id, the same " +
       "rows under any shuffle partitioning and with AQE off") {
    val real = gaussian(1200, 14, ar = 0.3)
    val seeds = (1L to 6L)
    def sweep() = SweepOptimizer.randomSweep(spark, real, Seq(8), Seq(0.2), 10, seeds, 300)
      .collect().toSeq
    def ga() = {
      val (best, score, hist) = SweepOptimizer.tournamentGa(spark, real, popSize = 6,
        generations = 2, seeds = seeds, genN = 300)
      (best, score, hist.collect().toSeq)
    }
    val base = sweep()
    assert(base.map(_.getInt(0)) === (0 until 10))
    assert(base.map(r => (r.getDouble(3), r.getDouble(4))).distinct.length === 1, base)
    val baseGa = ga()
    for (conf <- Seq(Seq("spark.sql.shuffle.partitions" -> "1"),
                     Seq("spark.sql.shuffle.partitions" -> "7"),
                     Seq("spark.sql.adaptive.enabled" -> "false"))) {
      SparkSpec.withConf(conf: _*) {
        assert(sweep() === base, conf)
        assert(ga() === baseGa, conf)
      }
    }
  }

  test("every sweep scores through one job per fan-out: randomSweep one job, " +
       "no exchange, at most defaultParallelism tasks") {
    val real = gaussian(1200, 15)
    val grid = (Seq(5, 8, 10, 15), Seq(0.0, 0.2, 0.5))
    val sweep = SparkSpec.traced(SweepOptimizer.randomSweep(spark, real, grid._1, grid._2,
      30, Seq(1L, 2L, 3L), 200).collect())
    assert(sweep.value.length === 30)
    assert(sweep.jobs === 1)
    assert(sweep.tasks <= spark.sparkContext.defaultParallelism, sweep.tasks)
    assert(sweep.plans.forall(!_.contains("Exchange")), sweep.plans)
    val gridSearch = SparkSpec.traced(SweepOptimizer.gridSearchEarlyStop(spark, real,
      grid._1, grid._2, Seq(1L, 2L, 3L, 4L), 200).collect())
    assert(gridSearch.jobs <= 2)
    assert(gridSearch.plans.forall(!_.contains("Exchange")), gridSearch.plans)
    val halving = SparkSpec.traced(SweepOptimizer.successiveHalving(spark, real,
      grid._1, grid._2, (1L to 9L), 200).collect())
    assert(halving.jobs === halving.value.map(_.getLong(5)).max + 1, "one job per rung")
    val hyper = SparkSpec.traced(SweepOptimizer.hyperband(spark, real,
      grid._1, grid._2, (1L to 9L), 200).collect())
    val rungs = hyper.value.groupBy(_.getInt(0)).values.map(_.map(_.getLong(6)).max + 1).sum
    assert(hyper.jobs === rungs, "one job per rung")
    val ga = SparkSpec.traced(SweepOptimizer.tournamentGa(spark, real, popSize = 6,
      generations = 3, seeds = Seq(1L, 2L), genN = 200, patience = 10))
    assert(ga.jobs === ga.value._3.collect().length, "one job per generation")
  }
}
