package graft.train

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.gen.MlpDecoder
import graft.series.{SeriesOps, SeriesSpec}
import graft.stats.Mmd

/** §2.12 trainers: VAE with optional adversarial (GAN) refinement over
  * typical-price log-return windows — the reference's flagship training
  * path re-expressed for the Spark contract.
  * Ref: vae_gan_trainer.py:46-124 (MLP encoder/decoder/discriminator
  * builders), :220-300 (3-step loop: VAE grad step with
  * recon + annealed KL + MMD, discriminator BCE step, generator
  * adversarial step), :302-316 (early stopping); vae_trainer.py:30-113
  * is the same loop minus the two GAN steps (`adversarial = false`).
  *
  * Scale split (SURVEY §7.4.2/§7.4.4): the window PREP is Spark
  * (log-returns + sliding windows — the data-sized work); the gradient
  * loop runs on the driver over a bounded window sample (the models are
  * tiny MLPs — thousands of parameters — where a distributed step would
  * be all shuffle and no math). At 100 TB the cluster dimension is many
  * series × many configs, each a driver-bounded fit like this one.
  *
  * Deviations from the reference (documented, not hidden):
  *  - discriminator dropout and the l2_reg kernel regularizers are
  *    OFF by default (TrainConfig.discDropout / l2Reg) so the seeded
  *    stream backing the oracle witnesses is unchanged; enabling them
  *    reproduces the reference's Dropout(0.3)-after-each-lrelu and
  *    hidden-kernel l2 exactly, with SEEDED masks — still
  *    deterministic (VaeTrainerSpec);
  *  - L2 contributes only in the VAE step (the reference's combined
  *    models also re-add it in the adversarial steps);
  *  - Adam without the reference's Keras epsilon-inside-sqrt variant
  *    (standard Adam, ε outside).
  *
  * Determinism: every random draw (init, shuffle, ε, noise z) comes
  * from one seeded RNG stream ⇒ same seed, same data ⇒ bit-identical
  * weights. Verified in VaeTrainerSpec.
  */
object VaeTrainer {

  /** One dense layer with cached-forward / manual-backward and Adam
    * state. Batched rows (batch × dim). */
  final class Dense(val inDim: Int, val outDim: Int, act: String,
                    rnd: scala.util.Random) {
    private val limit = math.sqrt(6.0 / (inDim + outDim)) // Glorot uniform
    val w: Array[Array[Double]] = Array.fill(outDim, inDim)((rnd.nextDouble() * 2 - 1) * limit)
    val b: Array[Double] = new Array[Double](outDim)
    private val mW = Array.ofDim[Double](outDim, inDim)
    private val vW = Array.ofDim[Double](outDim, inDim)
    private val mB = new Array[Double](outDim)
    private val vB = new Array[Double](outDim)
    val gW: Array[Array[Double]] = Array.ofDim[Double](outDim, inDim)
    val gB: Array[Double] = new Array[Double](outDim)

    private def phi(x: Double): Double = act match {
      case "tanh" => math.tanh(x)
      case "lrelu" => if (x >= 0) x else 0.2 * x
      case "sigmoid" => sigm(x)
      case _ => x // linear
    }
    private def dphi(pre: Double, out: Double): Double = act match {
      case "tanh" => 1.0 - out * out
      case "lrelu" => if (pre >= 0) 1.0 else 0.2
      case "sigmoid" => out * (1.0 - out)
      case _ => 1.0
    }

    /** Returns (preActivations, outputs), both batch × outDim. */
    def forward(x: Array[Array[Double]]): (Array[Array[Double]], Array[Array[Double]]) = {
      val n = x.length
      val pre = Array.ofDim[Double](n, outDim)
      val out = Array.ofDim[Double](n, outDim)
      var r = 0
      while (r < n) {
        val xi = x(r)
        var o = 0
        while (o < outDim) {
          var acc = b(o); val row = w(o)
          var i = 0
          while (i < inDim) { acc += row(i) * xi(i); i += 1 }
          pre(r)(o) = acc
          out(r)(o) = phi(acc)
          o += 1
        }
        r += 1
      }
      (pre, out)
    }

    /** Accumulates gW/gB, returns dL/dx (batch × inDim). */
    def backward(x: Array[Array[Double]], pre: Array[Array[Double]],
                 out: Array[Array[Double]],
                 gOut: Array[Array[Double]]): Array[Array[Double]] = {
      val n = x.length
      val gIn = Array.ofDim[Double](n, inDim)
      var r = 0
      while (r < n) {
        var o = 0
        while (o < outDim) {
          val d = gOut(r)(o) * dphi(pre(r)(o), out(r)(o))
          gB(o) += d
          val row = w(o); val grow = gW(o); val xi = x(r); val gi = gIn(r)
          var i = 0
          while (i < inDim) {
            grow(i) += d * xi(i)
            gi(i) += d * row(i)
            i += 1
          }
          o += 1
        }
        r += 1
      }
      gIn
    }

    def zeroGrad(): Unit = {
      var o = 0
      while (o < outDim) {
        java.util.Arrays.fill(gW(o), 0.0); gB(o) = 0.0; o += 1
      }
    }

    /** Keras kernel_regularizer l2 twin: adds dλΣw²/dw = 2λw to the
      * KERNEL grads (biases unregularized, matching Keras). */
    def addL2(lambda: Double): Unit = {
      var o = 0
      while (o < outDim) {
        var i = 0
        while (i < inDim) { gW(o)(i) += 2.0 * lambda * w(o)(i); i += 1 }
        o += 1
      }
    }

    /** Adam update from accumulated grads; `t` is the 1-based step. */
    def adam(lr: Double, t: Int, b1: Double = 0.9, b2: Double = 0.999,
             eps: Double = 1e-8): Unit = {
      val c1 = 1.0 - math.pow(b1, t)
      val c2 = 1.0 - math.pow(b2, t)
      var o = 0
      while (o < outDim) {
        var i = 0
        while (i < inDim) {
          val g = gW(o)(i)
          mW(o)(i) = b1 * mW(o)(i) + (1 - b1) * g
          vW(o)(i) = b2 * vW(o)(i) + (1 - b2) * g * g
          w(o)(i) -= lr * (mW(o)(i) / c1) / (math.sqrt(vW(o)(i) / c2) + eps)
          i += 1
        }
        val g = gB(o)
        mB(o) = b1 * mB(o) + (1 - b1) * g
        vB(o) = b2 * vB(o) + (1 - b2) * g * g
        b(o) -= lr * (mB(o) / c1) / (math.sqrt(vB(o) / c2) + eps)
        o += 1
      }
    }
  }

  /** Logistic sigmoid: the Dense "sigmoid" activation and the
    * discriminators' probability. */
  def sigm(x: Double): Double = 1.0 / (1.0 + math.exp(-x))

  /** `a` with each unit multiplied by its dropout-mask entry; a null
    * mask (dropout off) returns `a` itself. */
  private def masked(a: Array[Array[Double]], m: Array[Array[Double]]): Array[Array[Double]] =
    if (m == null) a
    else Array.tabulate(a.length, a(0).length)((r, j) => a(r)(j) * m(r)(j))

  /** One discriminator pass: each layer's (pre, out); `logit` is the
    * head's output, the probability is `sigm(logit)`. */
  final case class DiscPass(p1: Array[Array[Double]], o1: Array[Array[Double]],
                            p2: Array[Array[Double]], o2: Array[Array[Double]],
                            p3: Array[Array[Double]], logit: Array[Array[Double]])

  /** The adversarial trainers' three-layer discriminator (lrelu, lrelu,
    * linear LOGIT head). The sigmoid is applied outside, so the fused
    * sigmoid+BCE gradient (σ − t) feeds the pre-activation directly —
    * numerically exact even when the sigmoid saturates. Optional
    * dropout masks multiply the two hidden outputs. */
  final class Disc(d1: Dense, d2: Dense, d3: Dense) {
    val layers: Seq[Dense] = Seq(d1, d2, d3)

    /** With dropout, the MASKED activations ride in the out slots —
      * safe because every disc layer is lrelu/linear, whose dphi reads
      * only the pre-activation. */
    def forward(x: Array[Array[Double]], m1: Array[Array[Double]] = null,
                m2: Array[Array[Double]] = null): DiscPass = {
      val (p1, o1) = d1.forward(x)
      val o1m = masked(o1, m1)
      val (p2, o2) = d2.forward(o1m)
      val o2m = masked(o2, m2)
      val (p3, o3) = d3.forward(o2m)
      DiscPass(p1, o1m, p2, o2m, p3, o3)
    }

    /** Fused sigmoid+BCE gradient dL/dlogit = (σ(logit) − target)·scale/n,
      * backpropagated through the disc (accumulating its grads); returns
      * dL/dx. Masks (if any) must be the forward's. */
    def backward(x: Array[Array[Double]], f: DiscPass, target: Double,
                 scale: Double, m1: Array[Array[Double]] = null,
                 m2: Array[Array[Double]] = null): Array[Array[Double]] = {
      val n = x.length
      val gLogit = Array.tabulate(n, 1)((r, _) =>
        (sigm(f.logit(r)(0)) - target) * scale / n)
      val g2 = masked(d3.backward(f.o2, f.p3, f.logit, gLogit), m2)
      val g1 = masked(d2.backward(f.o1, f.p2, f.o2, g2), m1)
      d1.backward(x, f.p1, f.o1, g1)
    }
  }

  /** Number of cyclical temporal features in conditional mode (sin/cos
    * of hour, weekday, month — W8, data_processor.py:70-92). */
  val NTemporal = 6

  final case class TrainConfig(
      windowSize: Int = 24,
      latentDim: Int = 8,
      hidden: Int = 64,
      conditional: Boolean = false,
      epochs: Int = 30,
      batchSize: Int = 64,
      learningRate: Double = 1e-3,
      discriminatorLr: Double = 1e-4,
      generatorLr: Double = 1e-4,
      klWeight: Double = 0.1,
      klAnnealEpochs: Int = 10,
      mmdLambda: Double = 0.1,
      adversarial: Boolean = true, // false = plain VAE (vae_trainer.py)
      earlyPatience: Int = 8,
      startFromEpoch: Int = 15,
      minDelta: Double = 1e-7,
      maxWindows: Int = 20000,
      seed: Long = 42L,
      // reference-parity regularization (vae_gan_trainer.py:99-124:
      // Dropout(0.3) after each disc lrelu, l2(l2_reg) on the hidden
      // Dense kernels — output heads unregularized). Defaults OFF so
      // the seeded stream (and every witness) is unchanged; when on,
      // masks draw from the same seeded RNG — still deterministic.
      discDropout: Double = 0.0,
      l2Reg: Double = 0.0)

  final case class TrainResult(decoder: MlpDecoder,
                               epochMetrics: Vector[Map[String, Double]])

  /** Spark leg: log-return sliding windows of the price column,
    * collected as a bounded matrix (ref prepare_training_data with
    * use_returns=true). */
  def prepareWindows(prices: DataFrame, orderCols: Seq[String], price: String,
                     windowSize: Int, maxWindows: Int): Array[Array[Double]] = {
    val spec = SeriesSpec(Nil, orderCols)
    val rets = SeriesOps.logReturns(prices, spec, price, "ret")
      .filter(col("ret").isNotNull)
      .withColumn("rn", row_number().over(spec.w))
    SeriesOps.slidingWindows(rets, SeriesSpec(Nil, Seq("rn")), "ret",
        windowSize, "window")
      .orderBy(col("rn")).limit(maxWindows)
      .select(col("window")).collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** Conditional leg: windows PLUS the W8 cyclical features of each
    * window's LAST timestamp (ref prepare_training_data with
    * conditional=true, data_processor.py:130-137 — trailing windows end
    * at the current row, so the row's own features are the window's). */
  def prepareWindowsConditional(prices: DataFrame, orderCols: Seq[String],
                                price: String, ts: String, windowSize: Int,
                                maxWindows: Int): (Array[Array[Double]], Array[Array[Double]]) = {
    val spec = SeriesSpec(Nil, orderCols)
    val rets = SeriesOps.temporalFeatures(
      SeriesOps.logReturns(prices, spec, price, "ret")
        .filter(col("ret").isNotNull)
        .withColumn("rn", row_number().over(spec.w)), ts)
    val rows = SeriesOps.slidingWindows(rets, SeriesSpec(Nil, Seq("rn")), "ret",
        windowSize, "window")
      .orderBy(col("rn")).limit(maxWindows)
      .select(col("window"), array(col("hour_sin"), col("hour_cos"),
        col("dow_sin"), col("dow_cos"), col("month_sin"), col("month_cos"))
        .as("temp"))
      .collect()
    (rows.map(_.getSeq[Double](0).toArray), rows.map(_.getSeq[Double](1).toArray))
  }

  /** Exactly ONE VAE gradient step (the first of the reference's
    * 3-step loop body, vae_gan_trainer.py:220-262): encoder forward,
    * reparametrize with the CALLER-supplied ε batch, decoder forward,
    * recon(MSE) + annealed-KL + MMD gradients, full backward, Adam at
    * step `adamT`. Mutates the five layers in place; returns
    * (reconLoss, klLoss, mmdLoss). Extracted from the training loop so
    * the g06t oracle witness steps the REAL code, not a copy; with
    * `nT = 0` the temporal concatenation is a no-op and `tBatch` is
    * ignored. */
  def vaeStep(enc1: Dense, encMu: Dense, encLv: Dense,
              dec1: Dense, dec2: Dense,
              batch: Array[Array[Double]], tBatch: Array[Array[Double]],
              nT: Int, eps: Array[Array[Double]], klW: Double,
              mmdLambda: Double, lr: Double, adamT: Int,
              l2Reg: Double = 0.0): (Double, Double, Double) = {
    val n = batch.length
    val ws = dec2.outDim
    val ld = encMu.outDim
    val hidden = enc1.outDim
    def cat(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] =
      if (nT == 0) a else a.zip(b).map { case (x, y) => x ++ y }
    def head(a: Array[Array[Double]], cols: Int): Array[Array[Double]] =
      if (nT == 0) a else a.map(_.take(cols))
    val vaeLayers = Seq(enc1, encMu, encLv, dec1, dec2)

    vaeLayers.foreach(_.zeroGrad())
    val (pe1, he1) = enc1.forward(batch)
    val heCat = cat(he1, tBatch)
    val (pmu, mu) = encMu.forward(heCat)
    val (plv, lv) = encLv.forward(heCat)
    val z = Array.tabulate(n, ld)((r, j) =>
      mu(r)(j) + math.exp(0.5 * lv(r)(j)) * eps(r)(j))
    val zCat = cat(z, tBatch)
    val (pd1, hd1) = dec1.forward(zCat)
    val (pd2, recon) = dec2.forward(hd1)

    var recL = 0.0
    val gRecon = Array.ofDim[Double](n, ws)
    var r = 0
    while (r < n) {
      var jj = 0
      while (jj < ws) {
        val d = recon(r)(jj) - batch(r)(jj)
        recL += d * d
        gRecon(r)(jj) = 2.0 * d / (n * ws)
        jj += 1
      }
      r += 1
    }
    recL /= (n * ws)
    var klL = 0.0
    r = 0
    while (r < n) {
      var jj = 0
      while (jj < ld) {
        val l = lv(r)(jj); val m = mu(r)(jj)
        klL += -0.5 * (1.0 + l - m * m - math.exp(l))
        jj += 1
      }
      r += 1
    }
    klL /= (n * ld)
    // MMD (ref _mmd_loss) + its gradient wrt recon
    val gamma = Mmd.defaultGamma(batch)
    val mmdL = Mmd.gaussian(batch, recon, gamma)
    val gMmd = Mmd.gradWrtSecond(batch, recon, gamma)
    r = 0
    while (r < n) {
      var jj = 0
      while (jj < ws) {
        gRecon(r)(jj) += mmdLambda * gMmd(r)(jj)
        jj += 1
      }
      r += 1
    }
    // backward: decoder then split into mu / lv paths (temporal
    // columns of concatenated inputs carry no trainable upstream)
    val gHd1 = dec2.backward(hd1, pd2, recon, gRecon)
    val gZ = head(dec1.backward(zCat, pd1, hd1, gHd1), ld)
    val gMu = Array.ofDim[Double](n, ld)
    val gLv = Array.ofDim[Double](n, ld)
    r = 0
    while (r < n) {
      var jj = 0
      while (jj < ld) {
        val m = mu(r)(jj); val l = lv(r)(jj)
        gMu(r)(jj) = gZ(r)(jj) + klW * (m / (n * ld))
        gLv(r)(jj) = gZ(r)(jj) * eps(r)(jj) * 0.5 * math.exp(0.5 * l) +
          klW * (-0.5 * (1.0 - math.exp(l)) / (n * ld))
        jj += 1
      }
      r += 1
    }
    val gHe1a = encMu.backward(heCat, pmu, mu, gMu)
    val gHe1b = encLv.backward(heCat, plv, lv, gLv)
    val gHe1 = Array.tabulate(n, hidden)((a, c) => gHe1a(a)(c) + gHe1b(a)(c))
    enc1.backward(batch, pe1, he1, gHe1)
    // l2(l2_reg) on the HIDDEN Dense kernels only (the reference's
    // enc_dense_*/dec_dense_* carry kernel_regularizer; the mu/lv
    // and output heads do not)
    if (l2Reg > 0) { enc1.addL2(l2Reg); dec1.addL2(l2Reg) }
    vaeLayers.foreach(_.adam(lr, adamT))
    (recL, klL, mmdL)
  }

  /** Train on pre-extracted windows (driver loop). In conditional mode
    * `temps` carries the per-window W8 features, concatenated after the
    * encoder's first layer, into the decoder input and into the
    * discriminator input (ref vae_gan_trainer.py:60-66, 90-96, 112-117). */
  def trainOnWindows(windows: Array[Array[Double]], cfg: TrainConfig,
                     temps: Option[Array[Array[Double]]] = None): TrainResult = {
    require(windows.nonEmpty, "no training windows")
    val ws = cfg.windowSize; val ld = cfg.latentDim
    require(windows.head.length == ws, "window width mismatch")
    val nT = if (cfg.conditional) NTemporal else 0
    require(!cfg.conditional ||
      temps.exists(t => t.length == windows.length && t.head.length == nT),
      "conditional mode needs one temporal-feature row per window")
    val rnd = new scala.util.Random(cfg.seed)
    def cat(a: Array[Array[Double]], b: Array[Array[Double]]): Array[Array[Double]] =
      if (nT == 0) a else a.zip(b).map { case (x, y) => x ++ y }
    def head(a: Array[Array[Double]], cols: Int): Array[Array[Double]] =
      if (nT == 0) a else a.map(_.take(cols))

    // encoder: ws -> hidden(tanh) -> [⧺temp] -> {mu, logVar};
    // decoder: (ld [⧺temp]) -> hidden(tanh) -> ws
    val enc1 = new Dense(ws, cfg.hidden, "tanh", rnd)
    val encMu = new Dense(cfg.hidden + nT, ld, "linear", rnd)
    val encLv = new Dense(cfg.hidden + nT, ld, "linear", rnd)
    val dec1 = new Dense(ld + nT, cfg.hidden, "tanh", rnd)
    val dec2 = new Dense(cfg.hidden, ws, "linear", rnd)
    // discriminator: (ws [⧺temp]) -> 64(lrelu) -> 32(lrelu) -> 1 logit
    val disc = new Disc(new Dense(ws + nT, 64, "lrelu", rnd),
      new Dense(64, 32, "lrelu", rnd), new Dense(32, 1, "linear", rnd))

    val genLayers = Seq(dec1, dec2)

    // seeded inverted dropout (Keras Dropout twin): keep with prob
    // 1−p, scale kept units by 1/(1−p); masks draw from the main
    // seeded stream so runs stay deterministic
    val dropP = cfg.discDropout
    def dropMask(n: Int, dim: Int): Array[Array[Double]] =
      if (dropP <= 0) null
      else Array.fill(n, dim)(
        if (rnd.nextDouble() < dropP) 0.0 else 1.0 / (1.0 - dropP))

    val nW = windows.length
    val bs = math.min(cfg.batchSize, nW)
    val history = Vector.newBuilder[Map[String, Double]]
    var best = Double.MaxValue
    var staleCount = 0
    var adamT = 0
    var epoch = 1
    var stopped = false
    while (epoch <= cfg.epochs && !stopped) {
      val klW = cfg.klWeight * math.min(1.0, epoch.toDouble / math.max(cfg.klAnnealEpochs, 1))
      val order = rnd.shuffle((0 until nW).toVector)
      var ofs = 0
      var sRecon = 0.0; var sKl = 0.0; var sMmd = 0.0; var sD = 0.0; var sG = 0.0
      var nBatches = 0
      while (ofs < nW) {
        val idx = order.slice(ofs, math.min(ofs + bs, nW))
        val batch = idx.map(windows).toArray
        val tBatch = temps.map(t => idx.map(t).toArray).getOrElse(batch)
        val n = batch.length
        adamT += 1

        // ── VAE step (extracted: vaeStep is also the g06t witness) ──
        val eps = Array.fill(n, ld)(rnd.nextGaussian())
        val (recL, klL, mmdL) = vaeStep(enc1, encMu, encLv, dec1, dec2,
          batch, tBatch, nT, eps, klW, cfg.mmdLambda, cfg.learningRate,
          adamT, cfg.l2Reg)

        var dL = 0.0; var gL = 0.0
        if (cfg.adversarial) {
          // ── discriminator step ── (fake from frozen decoder on noise;
          // conditional: temporal features ride along on every input)
          disc.layers.foreach(_.zeroGrad())
          val noise1 = Array.fill(n, ld)(rnd.nextGaussian())
          val fake1 = dec2.forward(dec1.forward(cat(noise1, tBatch))._2)._2
          val mR1 = dropMask(n, 64); val mR2 = dropMask(n, 32)
          val fR = disc.forward(cat(batch, tBatch), mR1, mR2)
          val mF1 = dropMask(n, 64); val mF2 = dropMask(n, 32)
          val fF = disc.forward(cat(fake1, tBatch), mF1, mF2)
          def bce(p: Double, t: Double): Double = {
            val c = math.max(1e-7, math.min(1 - 1e-7, p))
            -(t * math.log(c) + (1 - t) * math.log(1 - c))
          }
          dL = (batch.indices.map(i => bce(sigm(fR.logit(i)(0)), 1.0)).sum / n +
            batch.indices.map(i => bce(sigm(fF.logit(i)(0)), 0.0)).sum / n) / 2.0
          disc.backward(cat(batch, tBatch), fR, 1.0, 0.5, mR1, mR2)
          disc.backward(cat(fake1, tBatch), fF, 0.0, 0.5, mF1, mF2)
          disc.layers.foreach(_.adam(cfg.discriminatorLr, adamT))

          // ── generator adversarial step ── (disc frozen)
          genLayers.foreach(_.zeroGrad())
          val noise2 = Array.fill(n, ld)(rnd.nextGaussian())
          val noise2Cat = cat(noise2, tBatch)
          val (pg1, hg1) = dec1.forward(noise2Cat)
          val (pg2, fake2) = dec2.forward(hg1)
          val mG1 = dropMask(n, 64); val mG2 = dropMask(n, 32)
          val fF2 = disc.forward(cat(fake2, tBatch), mG1, mG2)
          gL = batch.indices.map(i => bce(sigm(fF2.logit(i)(0)), 1.0)).sum / n
          // dL/dfake through the (frozen) disc: save+restore disc grads
          disc.layers.foreach(_.zeroGrad())
          val gFake = head(
            disc.backward(cat(fake2, tBatch), fF2, 1.0, 1.0, mG1, mG2), ws)
          disc.layers.foreach(_.zeroGrad()) // discard disc grads (frozen)
          val gHg1 = dec2.backward(hg1, pg2, fake2, gFake)
          dec1.backward(noise2Cat, pg1, hg1, gHg1)
          genLayers.foreach(_.adam(cfg.generatorLr, adamT))
        }

        sRecon += recL; sKl += klL; sMmd += mmdL; sD += dL; sG += gL
        nBatches += 1
        ofs += bs
      }
      val avgRecon = sRecon / nBatches
      val avgKl = sKl / nBatches
      val avgMmd = sMmd / nBatches
      val total = avgRecon + klW * avgKl + cfg.mmdLambda * avgMmd
      history += Map("epoch" -> epoch.toDouble, "recon" -> avgRecon,
        "kl" -> avgKl, "mmd" -> avgMmd, "d_loss" -> sD / nBatches,
        "g_loss" -> sG / nBatches, "total" -> total)
      if (epoch >= cfg.startFromEpoch) {
        if (total < best - cfg.minDelta) { best = total; staleCount = 0 }
        else staleCount += 1
        if (staleCount >= cfg.earlyPatience) stopped = true
      }
      epoch += 1
    }

    val decoder = MlpDecoder(
      Array(dec1.w.map(_.clone()), dec2.w.map(_.clone())),
      Array(dec1.b.clone(), dec2.b.clone()),
      activation = "tanh")
    TrainResult(decoder, history.result())
  }

  /** Full path: Spark window prep + driver training. Conditional mode
    * reads the timestamp column (`orderCols.head`) for the W8 features. */
  def train(prices: DataFrame, orderCols: Seq[String], price: String,
            cfg: TrainConfig = TrainConfig()): TrainResult =
    if (cfg.conditional) {
      val (windows, temps) = prepareWindowsConditional(prices, orderCols,
        price, orderCols.head, cfg.windowSize, cfg.maxWindows)
      trainOnWindows(windows, cfg, Some(temps))
    } else {
      val windows = prepareWindows(prices, orderCols, price,
        cfg.windowSize, cfg.maxWindows)
      trainOnWindows(windows, cfg)
    }
}
