package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Single GRU layer (weights: input kernels W*, recurrent kernels U*,
  * biases b*), returning the full hidden sequence. */
final case class GruLayer(
    wz: Array[Array[Double]], uz: Array[Array[Double]], bz: Array[Double],
    wr: Array[Array[Double]], ur: Array[Array[Double]], br: Array[Double],
    wh: Array[Array[Double]], uh: Array[Array[Double]], bh: Array[Double]) {
  def units: Int = bz.length

  private def mv(w: Array[Array[Double]], x: Array[Double], b: Array[Double]): Array[Double] = {
    val out = b.clone()
    var o = 0
    while (o < w.length) {
      val row = w(o); var acc = 0.0; var i = 0
      while (i < row.length) { acc += row(i) * x(i); i += 1 }
      out(o) += acc
      o += 1
    }
    out
  }
  private def mvU(u: Array[Array[Double]], h: Array[Double]): Array[Double] = {
    val out = new Array[Double](u.length)
    var o = 0
    while (o < u.length) {
      val row = u(o); var acc = 0.0; var i = 0
      while (i < row.length) { acc += row(i) * h(i); i += 1 }
      out(o) = acc
      o += 1
    }
    out
  }
  private def sig(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** seq: T × inputDim → T × units hidden states. */
  def run(seq: Array[Array[Double]]): Array[Array[Double]] = {
    var h = new Array[Double](units)
    val out = new Array[Array[Double]](seq.length)
    var t = 0
    while (t < seq.length) {
      val x = seq(t)
      val z = mv(wz, x, bz).zip(mvU(uz, h)).map { case (a, b) => sig(a + b) }
      val r = mv(wr, x, br).zip(mvU(ur, h)).map { case (a, b) => sig(a + b) }
      val rh = h.zip(r).map { case (hh, rr) => hh * rr }
      val cand = mv(wh, x, bh).zip(mvU(uh, rh)).map { case (a, b) => math.tanh(a + b) }
      h = Array.tabulate(units)(i => (1.0 - z(i)) * h(i) + z(i) * cand(i))
      out(t) = h
      t += 1
    }
    out
  }
}

object GruLayer {
  def random(inputDim: Int, units: Int, rnd: scala.util.Random,
             scale: Double = 0.3): GruLayer = {
    def m(o: Int, i: Int) = Array.fill(o, i)(rnd.nextGaussian() * scale)
    def v(o: Int) = Array.fill(o)(rnd.nextGaussian() * scale * 0.1)
    GruLayer(m(units, inputDim), m(units, units), v(units),
      m(units, inputDim), m(units, units), v(units),
      m(units, inputDim), m(units, units), v(units))
  }
}

/** Stacked GRU layers + time-distributed dense head (sigmoid for the
  * [0,1] min-max space, matching the reference's recovery output).
  * The reference stacks n_layers=3 GRUs per net
  * (timegan_generator.py:280-310); `layers` carries the stack in
  * order, each layer consuming the previous layer's hidden sequence. */
final case class SeqNet(layers: Seq[GruLayer], dw: Array[Array[Double]],
                        db: Array[Double], sigmoidHead: Boolean) {
  def run(seq: Array[Array[Double]]): Array[Array[Double]] =
    layers.foldLeft(seq)((s, l) => l.run(s)).map { h =>
      Array.tabulate(db.length) { o =>
        var acc = db(o); val row = dw(o); var i = 0
        while (i < row.length) { acc += row(i) * h(i); i += 1 }
        if (sigmoidHead) 1.0 / (1.0 + math.exp(-acc)) else acc
      }
    }
}

/** G8 artifact: the three inference networks + normalization metadata
  * (meta.json shape: data_min/data_range/window_size/latent_dim —
  * timegan_generator.py:167-203). */
final case class TimeGanModel(
    generator: SeqNet, supervisor: SeqNet, recovery: SeqNet,
    windowSize: Int, latentDim: Int,
    dataMin: Double, dataRange: Double)

object TimeGanModel {
  /** Seeded random model (demo/tests — trained weights come from
    * [[graft.train.TimeGanTrainer]] via the S5 JSON artifact).
    * `nLayers` GRUs per net, reference default 3
    * (timegan_generator.py:280-310). */
  def random(windowSize: Int, latentDim: Int, hidden: Int, seed: Long,
             nLayers: Int = 3): TimeGanModel = {
    val rnd = new scala.util.Random(seed)
    def net(in: Int, out: Int, sig: Boolean) = SeqNet(
      GruLayer.random(in, hidden, rnd) +:
        Seq.fill(nLayers - 1)(GruLayer.random(hidden, hidden, rnd)),
      Array.fill(out, hidden)(rnd.nextGaussian() * 0.3),
      Array.fill(out)(rnd.nextGaussian() * 0.03), sig)
    TimeGanModel(
      generator = net(latentDim, hidden, sig = true),
      supervisor = net(hidden, hidden, sig = false),
      recovery = net(hidden, 1, sig = true),
      windowSize, latentDim, dataMin = -0.002, dataRange = 0.004)
  }
}

/** G8: TimeGAN inference path.
  * Ref: timegan_generator.py:205-268 — per window: z ∼ N(0,I)^(W×L) →
  * generator GRU → supervisor GRU → recovery → min-max denormalize →
  * W9 mean-center → anchored W2 reconstruction, concat, truncate.
  * Training lives in [[graft.train.TimeGanTrainer]] (3-phase BPTT);
  * weights round-trip through the S5 JSON artifact (ModelIO.saveTimeGan).
  *
  * Same scale shape as G1: one [[GenOps.windowedDecode]] over
  * independent windows, so the output is partitioning-invariant.
  */
object TimeGanGenerator {

  def generate(spark: SparkSession, model: TimeGanModel,
               anchors: Array[Double], n: Int, seed: Long): DataFrame =
    GenOps.windowedDecode(spark, model, anchors, n, seed, model.windowSize) {
      (m, rnd, _) =>
        val z = Array.fill(m.windowSize)(Array.fill(m.latentDim)(rnd.nextGaussian()))
        val xHat = m.recovery.run(m.supervisor.run(m.generator.run(z)))
        xHat.map(_(0) * m.dataRange + m.dataMin)
    }
}
