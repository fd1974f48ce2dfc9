package graft.train

import graft.gen.MlpDecoder

/** G7's per-regime TINY GAN, now trained for real (replacing the
  * parametric-Normal-only fallback posture of round 1).
  * Ref: regime_gan.py:127-218 — generator z(8) → hidden(lrelu) →
  * hidden(lrelu) → hidden(tanh) → seq_len(linear); discriminator
  * seq_len → hidden(lrelu) → hidden(lrelu) → 1 logit, BCE-with-logits,
  * Adam(lr=2e-4, β=(0.5, 0.999)); windows strided seq_len/2 (stride-1
  * windows APPENDED when < 4, None → parametric fallback when the
  * regime is shorter than one window); data normalized by the window
  * tensor's mean / unbiased std (torch .std() is ddof=1) before
  * training, denormalized at sampling.
  *
  * Driver-side over one regime's bounded return pool (the nets are a
  * few thousand parameters — SURVEY §7.4.2's "small fits on the
  * driver, many fits across the cluster" split). Deterministic under
  * `seed`.
  */
object GanTrainer {

  /** A trained per-regime generator + its denormalization stats. */
  final case class TrainedGan(decoder: MlpDecoder, dataMean: Double,
                              dataStd: Double, zDim: Int)

  /** Sliding windows at stride seqLen/2; when < 4, the stride-1
    * windows are APPENDED to the strided set (reference keeps both —
    * regime_gan.py:166-173); None when the regime is shorter than one
    * window. */
  private def windows(returns: Array[Double], seqLen: Int): Option[Array[Array[Double]]] = {
    def slice(stride: Int) =
      (0 to returns.length - seqLen by stride).map(i =>
        returns.slice(i, i + seqLen)).toArray
    if (returns.length < seqLen) return None
    val w = slice(math.max(seqLen / 2, 1))
    val all = if (w.length < 4) w ++ slice(1) else w
    if (all.isEmpty) None else Some(all)
  }

  import VaeTrainer.{Dense, Disc}

  /** One adversarial epoch — a discriminator BCE step over
    * (real, fake₁) then a generator step against the frozen (already
    * Adam-updated) discriminator: exactly the loop body of [[train]]
    * (regime_gan.py:202-259). Mutates every layer's weights and Adam
    * state; `t` is the 1-based Adam step. Oracle-witnessed by g07t. */
  def step(g1: Dense, g2: Dense, g2t: Dense, g3: Dense,
           d1: Dense, d2: Dense, d3: Dense,
           real: Array[Array[Double]], z1: Array[Array[Double]],
           z2: Array[Array[Double]], t: Int, lr: Double): Unit = {
    val gLayers = Seq(g1, g2, g2t, g3)
    val disc = new Disc(d1, d2, d3)
    def gForward(z: Array[Array[Double]]) = {
      val (p1, o1) = g1.forward(z); val (p2, o2) = g2.forward(o1)
      val (p2t, o2t) = g2t.forward(o2)
      val (p3, o3) = g3.forward(o2t)
      (p1, o1, p2, o2, p2t, o2t, p3, o3)
    }
    /** BCE-with-logits grad (σ(logit) − t)/n through the disc; returns
      * dL/dx. */
    def dBackward(x: Array[Array[Double]], target: Double): Array[Array[Double]] =
      disc.backward(x, disc.forward(x), target, 1.0)
    // ── D step ── (fake detached: generator not updated)
    disc.layers.foreach(_.zeroGrad())
    val fake1 = gForward(z1)._8
    dBackward(real, 1.0)
    dBackward(fake1, 0.0)
    disc.layers.foreach(_.adam(lr, t, b1 = 0.5))
    // ── G step ── (disc frozen: its grads discarded after backprop)
    gLayers.foreach(_.zeroGrad())
    val (pg1, og1, pg2, og2, pg2t, og2t, pg3, fake2) = gForward(z2)
    disc.layers.foreach(_.zeroGrad())
    val gFake = dBackward(fake2, 1.0)
    disc.layers.foreach(_.zeroGrad())
    val gg2t = g3.backward(og2t, pg3, fake2, gFake)
    val gg2 = g2t.backward(og2, pg2t, og2t, gg2t)
    val gg1 = g2.backward(og1, pg2, og2, gg2)
    g1.backward(z2, pg1, og1, gg1)
    gLayers.foreach(_.adam(lr, t, b1 = 0.5))
  }

  def train(returns: Array[Double], seqLen: Int = 64, zDim: Int = 8,
            hidden: Int = 64, epochs: Int = 200, batchSize: Int = 32,
            lr: Double = 2e-4, seed: Long = 42L): Option[TrainedGan] =
    windows(returns, seqLen).map { data =>
      val rnd = new scala.util.Random(seed)
      // normalize by the window tensor's mean / UNBIASED std (torch
      // .std() is ddof=1, ref :179-182)
      val flat = data.flatten
      val mean = flat.sum / flat.length
      val std = math.sqrt(
        flat.map(x => (x - mean) * (x - mean)).sum /
          math.max(flat.length - 1, 1)) + 1e-10
      val norm = data.map(_.map(x => (x - mean) / std))

      // generator: lrelu, lrelu, TANH, linear head (ref :132-141)
      val g1 = new Dense(zDim, hidden, "lrelu", rnd)
      val g2 = new Dense(hidden, hidden, "lrelu", rnd)
      val g2t = new Dense(hidden, hidden, "tanh", rnd)
      val g3 = new Dense(hidden, seqLen, "linear", rnd)
      val d1 = new Dense(seqLen, hidden, "lrelu", rnd)
      val d2 = new Dense(hidden, hidden, "lrelu", rnd)
      val d3 = new Dense(hidden, 1, "linear", rnd) // logit head

      var t = 0
      var epoch = 0
      while (epoch < epochs) {
        val bs = math.min(batchSize, norm.length)
        val real = Array.fill(bs)(norm(rnd.nextInt(norm.length)))
        t += 1
        // z₂ is drawn after the D step in the reference loop, but the
        // D step consumes no RNG — hoisting the draw preserves the
        // exact (real, z₁, z₂) stream order
        val z1 = Array.fill(bs, zDim)(rnd.nextGaussian())
        val z2 = Array.fill(bs, zDim)(rnd.nextGaussian())
        step(g1, g2, g2t, g3, d1, d2, d3, real, z1, z2, t, lr)
        epoch += 1
      }

      TrainedGan(
        MlpDecoder(
          Array(g1.w.map(_.clone()), g2.w.map(_.clone()),
            g2t.w.map(_.clone()), g3.w.map(_.clone())),
          Array(g1.b.clone(), g2.b.clone(), g2t.b.clone(), g3.b.clone()),
          activation = "lrelu",
          layerActivations = Seq("lrelu", "lrelu", "tanh")),
        mean, std, zDim)
    }
}
