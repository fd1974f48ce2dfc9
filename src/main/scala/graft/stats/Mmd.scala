package graft.stats

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** C9: Gaussian-kernel Maximum Mean Discrepancy —
  * MMD²(X, Y) = E[k(x,x′)] + E[k(y,y′)] − 2·E[k(x,y)] with
  * k(a,b) = exp(−γ‖a−b‖²), γ defaulting to 1/(mean pairwise ‖x−x′‖² + 1e-8)
  * over the REAL batch only (the reference's heuristic).
  * Ref: vae_gan_trainer.py:131-139 (_mmd_loss).
  *
  * Driver version for the training loop's bounded batches (B ≤ a few
  * hundred ⇒ B² kernel evals are trivial); [[sampled]] is the Spark
  * entry for comparing two large tables: each side is reduced to a
  * bounded deterministic sample first, because the kernel is quadratic
  * by definition and subsampling is the standard estimator at scale.
  */
object Mmd {

  private def sqDist(a: Array[Double], b: Array[Double]): Double = {
    var s = 0.0; var i = 0
    while (i < a.length) { val d = a(i) - b(i); s += d * d; i += 1 }
    s
  }

  /** γ = 1/(mean pairwise squared distance of `real` + 1e-8). */
  def defaultGamma(real: Array[Array[Double]]): Double = {
    val n = real.length
    var s = 0.0
    var i = 0
    while (i < n) {
      var j = 0
      while (j < n) { s += sqDist(real(i), real(j)); j += 1 }
      i += 1
    }
    1.0 / (s / (n.toDouble * n) + 1e-8)
  }

  /** MMD² between two batches (rows = samples). */
  def gaussian(x: Array[Array[Double]], y: Array[Array[Double]],
               gamma: Double): Double = {
    def meanK(a: Array[Array[Double]], b: Array[Array[Double]]): Double = {
      var s = 0.0
      var i = 0
      while (i < a.length) {
        var j = 0
        while (j < b.length) { s += math.exp(-gamma * sqDist(a(i), b(j))); j += 1 }
        i += 1
      }
      s / (a.length.toDouble * b.length)
    }
    meanK(x, x) + meanK(y, y) - 2.0 * meanK(x, y)
  }

  /** ∂MMD²/∂y — the gradient the VAE-GAN loss needs wrt the
    * reconstruction batch (γ treated as constant: it depends only on
    * the real batch, so no gradient path).
    * d/dy_a = −(4γ/B²)·Σ_j (y_a−y_j)·k(y_a,y_j)
    *          +(4γ/(B·B))·Σ_i (y_a−x_i)·k(x_i,y_a). */
  def gradWrtSecond(x: Array[Array[Double]], y: Array[Array[Double]],
                    gamma: Double): Array[Array[Double]] = {
    val ny = y.length; val nx = x.length; val d = y(0).length
    val g = Array.ofDim[Double](ny, d)
    var a = 0
    while (a < ny) {
      val ya = y(a); val ga = g(a)
      var j = 0
      while (j < ny) {
        val k = math.exp(-gamma * sqDist(ya, y(j)))
        val c = -4.0 * gamma / (ny.toDouble * ny) * k
        var t = 0
        while (t < d) { ga(t) += c * (ya(t) - y(j)(t)); t += 1 }
        j += 1
      }
      var i = 0
      while (i < nx) {
        val k = math.exp(-gamma * sqDist(x(i), ya))
        val c = 4.0 * gamma / (nx.toDouble * ny) * k
        var t = 0
        while (t < d) { ga(t) += c * (ya(t) - x(i)(t)); t += 1 }
        i += 1
      }
      a += 1
    }
    g
  }

  /** Spark entry: MMD² between two tables' vector columns over bounded
    * deterministic samples (ordered-prefix cap — same contract as the
    * other driver-bounded statistics). */
  def sampled(real: DataFrame, synth: DataFrame, orderCols: Seq[String],
              vec: String, maxRows: Int = 500): Double =
    sampledDetail(real, synth, orderCols, vec, maxRows)._1

  /** [[sampled]] plus the γ actually used and the sample sizes — the
    * oracle-gated c02 surface. */
  def sampledDetail(real: DataFrame, synth: DataFrame, orderCols: Seq[String],
                    vec: String, maxRows: Int = 500): (Double, Double, Int, Int) = {
    def take(df: DataFrame): Array[Array[Double]] =
      df.orderBy(orderCols.map(col): _*).limit(maxRows)
        .select(col(vec)).collect()
        .map(_.getSeq[Double](0).toArray)
    val x = take(real); val y = take(synth)
    val g = defaultGamma(x)
    (gaussian(x, y, g), g, x.length, y.length)
  }

  /** PER-GROUP MMD²: one (mmd², γ, n_real, n_synth) row per group key,
    * fully IN-PLAN — the many-series twin of [[sampledDetail]]. Each
    * group's two sides are reduced to ordered-prefix samples of
    * ≤ `maxRows` (the per-group cap bounds the quadratic kernel at
    * maxRows² evals per group regardless of group size), then one
    * exchange on the group key + [[graft.series.SeriesOps.runs]] computes
    * γ (real-side mean pairwise distance heuristic) and the kernel sums
    * in-task, i-major — the same fold order as [[gaussian]], which the
    * oracle's ordered list folds replay. Groups missing either side are
    * dropped. Oracle-gated by c02b. */
  def sampledGrouped(real: DataFrame, synth: DataFrame, groupCol: String,
                     orderCols: Seq[String], vec: String,
                     maxRows: Int = 100): DataFrame = {
    val spark = real.sparkSession
    import spark.implicits._
    def side(df: DataFrame, isReal: Boolean): DataFrame = {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("gid")).orderBy(orderCols.map(col): _*)
      df.select(col(groupCol).cast("long").as("gid") +:
          col(vec).cast("array<double>").as("v") +: orderCols.map(col): _*)
        .withColumn("t", row_number().over(w))
        .filter(col("t") <= maxRows)
        .select(col("gid"), lit(isReal).as("is_real"), col("t"), col("v"))
    }
    val u = side(real, isReal = true).unionByName(side(synth, isReal = false))
      .repartition(col("gid"))
      .sortWithinPartitions(col("gid"), col("is_real").desc, col("t"))
      .as[(Long, Boolean, Int, Seq[Double])]
    u.mapPartitions { rows =>
      graft.series.SeriesOps.runs(rows)(_._1) { (gid, run) =>
        val xb = Array.newBuilder[Array[Double]]
        val yb = Array.newBuilder[Array[Double]]
        run.foreach(r => if (r._2) xb += r._4.toArray else yb += r._4.toArray)
        val x = xb.result(); val y = yb.result()
        if (x.isEmpty || y.isEmpty) None
        else {
          val g = defaultGamma(x)
          Some((gid, gaussian(x, y, g), g, x.length, y.length))
        }
      }
    }.toDF(groupCol, "mmd2", "gamma", "n_real", "n_synth")
  }
}
