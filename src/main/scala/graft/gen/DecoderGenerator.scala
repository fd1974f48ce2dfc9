package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** MLP decoder weights: layers of (W: out×in, b: out), last layer
  * linear, hidden layers activated. The VAE/VAE-GAN training loop is
  * explicitly out of the v1 Spark contract (SURVEY §7.4.4) — this is
  * the INFERENCE path: weights exported to JSON (S5 artifact shape)
  * drive a pure-Scala forward pass.
  * `layerActivations` (when non-empty) gives each HIDDEN layer its own
  * activation — needed by the G7 generator, whose reference stack is
  * lrelu, lrelu, tanh, linear head (regime_gan.py:127-141); empty ⇒
  * the single `activation` applies to every hidden layer. */
final case class MlpDecoder(
    weights: Array[Array[Array[Double]]],
    biases: Array[Array[Double]],
    activation: String = "tanh",
    layerActivations: Seq[String] = Nil) {
  def latentDim: Int = weights(0)(0).length
  def outputDim: Int = biases.last.length

  private def actOf(l: Int): String =
    if (layerActivations.nonEmpty) layerActivations(l) else activation

  def forward(z: Array[Double]): Array[Double] = {
    var h = z
    var l = 0
    while (l < weights.length) {
      val w = weights(l); val b = biases(l)
      val out = new Array[Double](w.length)
      var o = 0
      while (o < w.length) {
        var acc = b(o); val row = w(o)
        var i = 0
        while (i < row.length) { acc += row(i) * h(i); i += 1 }
        out(o) =
          if (l == weights.length - 1) acc // linear head
          else actOf(l) match {
            case "relu" => math.max(acc, 0.0)
            case "lrelu" => if (acc >= 0) acc else 0.2 * acc
            case _ => math.tanh(acc)
          }
        o += 1
      }
      h = out
      l += 1
    }
    h
  }
}

object MlpDecoder {
  /** Seeded random decoder (for tests / demo generation without an
    * externally trained artifact). */
  def random(latentDim: Int, hidden: Int, windowSize: Int, seed: Long,
             scale: Double = 0.1): MlpDecoder = {
    val rnd = new scala.util.Random(seed)
    def mat(out: Int, in: Int) =
      Array.fill(out, in)(rnd.nextGaussian() * scale)
    def vec(out: Int) = Array.fill(out)(rnd.nextGaussian() * scale * 0.1)
    MlpDecoder(
      Array(mat(hidden, latentDim), mat(windowSize, hidden)),
      Array(vec(hidden), vec(windowSize)))
  }
}

/** G1: decoder-inference generator.
  * Ref: typical_price_generator.py:88-159 — sample z∼N(0,I) per window,
  * decode to a return window, per-window mean-center (W9), anchor each
  * window at a random real price, reconstruct prices (W2), concat,
  * truncate to n, attach fixed-interval timestamps.
  *
  * Scale design (SURVEY §3.1): windows are INDEPENDENT ⇒ one
  * [[GenOps.windowedDecode]] pass (`spark.range` → mapPartitions
  * forward pass, per-window RNG from (seed, windowIdx)), so output is
  * deterministic under any partitioning / task retry — the determinism
  * contract survives the cluster.
  */
object DecoderGenerator {

  /** W8 cyclical features of an epoch-second timestamp (UTC) — the
    * Scala twin of SeriesOps.temporalFeatures (hour/24, weekday Mon=0
    * over the 5-day trading week, month/12). */
  private[graft] def temporalOf(epochSec: Long): Array[Double] = {
    val t = java.time.Instant.ofEpochSecond(epochSec)
      .atZone(java.time.ZoneOffset.UTC)
    val tau = 2.0 * math.Pi
    val hr = t.getHour.toDouble
    val dw = (t.getDayOfWeek.getValue - 1).toDouble // Mon=0
    val mo = t.getMonthValue.toDouble
    Array(math.sin(hr * tau / 24), math.cos(hr * tau / 24),
      math.sin(dw * tau / 5), math.cos(dw * tau / 5),
      math.sin(mo * tau / 12), math.cos(mo * tau / 12))
  }

  /** Conditional (season-aware) generation: the decoder was trained on
    * z ⧺ temporal features, so each window's z is concatenated with the
    * W8 features of that window's LAST output timestamp (ref
    * vae_gan_trainer.py conditional decode; the generated series' own
    * clock provides the conditioning signal). `nTemporal` of the
    * decoder's input dims are temporal (latent = inputDim − nTemporal). */
  def generateConditional(spark: SparkSession, decoder: MlpDecoder,
                          anchors: Array[Double], n: Int, seed: Long,
                          nTemporal: Int = 6,
                          startEpochSec: Long = 1577836800L,
                          intervalHours: Int = 4): DataFrame = {
    val windowSize = decoder.outputDim
    val latent = decoder.latentDim - nTemporal
    require(latent > 0, "decoder input smaller than the temporal width")
    withTimestamps(GenOps.windowedDecode(spark, decoder, anchors, n, seed, windowSize) {
      (dec, rnd, idx) =>
        val lastTs = startEpochSec +
          ((idx + 1) * windowSize - 1) * (intervalHours * 3600L)
        dec.forward(Array.fill(latent)(rnd.nextGaussian()) ++ temporalOf(lastTs))
    }, startEpochSec, intervalHours)
  }

  def generate(spark: SparkSession, decoder: MlpDecoder,
               anchors: Array[Double], n: Int, seed: Long,
               startEpochSec: Long = 1577836800L, // 2020-01-01
               intervalHours: Int = 4): DataFrame = {
    val latent = decoder.latentDim
    withTimestamps(GenOps.windowedDecode(spark, decoder, anchors, n, seed,
      decoder.outputDim) { (dec, rnd, _) =>
      dec.forward(Array.fill(latent)(rnd.nextGaussian()))
    }, startEpochSec, intervalHours)
  }

  /** Fixed-interval timestamps from `startEpochSec`:
    * (rn, DATE_TIME, typical_price). */
  private def withTimestamps(rows: DataFrame, startEpochSec: Long,
                             intervalHours: Int): DataFrame =
    rows.withColumn("DATE_TIME", timestamp_seconds(
        lit(startEpochSec) + col("rn") * (intervalHours * 3600)))
      .select(col("rn"), col("DATE_TIME"), col("typical_price"))
}
