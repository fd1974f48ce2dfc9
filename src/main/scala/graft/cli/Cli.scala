package graft.cli

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.core.Tables
import graft.gen._
import graft.io.{CsvIO, ModelIO}
import graft.series.{SeriesOps, SeriesSpec}

/** Mode dispatch mirroring the reference CLI (app/main.py:47-90):
  * train | generate | evaluate | optimize, with the same config
  * precedence (defaults ← --load_config JSON ← CLI flags) and the
  * metrics/config JSON sinks (S4, app/main.py:86-96).
  *
  * Usage:
  *   graft.cli.Cli --mode train --generator grasynda \
  *     --input a.csv,b.csv --model /tmp/m.json
  *   graft.cli.Cli --mode generate --generator grasynda \
  *     --model /tmp/m.json --n_samples 1575 --seed 42 --output out_csv
  *   graft.cli.Cli --mode evaluate --synthetic out_csv --real d4.csv \
  *     --metrics_out metrics.json
  *   graft.cli.Cli --mode optimize --input a.csv --sweep_out sweep_csv
  *   graft.cli.Cli --mode curate --input_docs docs.parquet \
  *     --near_threshold 0.5 --semantic_threshold 0.9 \
  *     --gopher_min_stop 1 --langs en --min_q_prob 0.01 \
  *     --mixture_target src0:0.5,src1:0.5 --source_col source \
  *     --token_budget 3000000 --chunk_window 400 --chunk_stride 300 \
  *     --pack_budget 128 --assign_topics true --train_topics 8 \
  *     --incremental_from prior_out --output out --metrics_out funnel.json
  */
object Cli {

  private val Order = Seq("DATE_TIME")
  private val Price = "typical_price"

  def main(args: Array[String]): Unit = {
    val cfg = GraftConfig.resolve(args)
    val spark = Tables.localSession(cfg.int("threads"), s"graft-${cfg.str("mode")}")
    try run(spark, cfg) finally spark.stop()
  }

  def run(spark: SparkSession, cfg: GraftConfig): Unit = cfg.str("mode") match {
    case "train" => runTrain(spark, cfg)
    case "generate" => runGenerate(spark, cfg)
    case "evaluate" => runEvaluate(spark, cfg)
    case "optimize" => runOptimize(spark, cfg)
    case "tolerance" => runTolerance(spark, cfg, v2 = false)
    case "tolerance_v2" => runTolerance(spark, cfg, v2 = true)
    case "curate" => runCurate(spark, cfg)
    case m => throw new IllegalArgumentException(s"unknown mode $m")
  }

  private def loadInput(spark: SparkSession, cfg: GraftConfig): DataFrame =
    CsvIO.loadMultipleCsv(spark, cfg.str("input").split(",").toSeq,
      cfg.strOpt("series_col"))

  def runTrain(spark: SparkSession, cfg: GraftConfig): Unit = {
    val data = loadInput(spark, cfg)
    val model = cfg.str("generator") match {
      case "grasynda" =>
        val rets = SeriesOps.logReturns(data, SeriesSpec(Nil, Order), Price, "ret")
          .filter(col("ret").isNotNull)
        val m = Grasynda.fit(rets, Order, "ret", cfg.int("n_bins"))
        ModelIO.saveGrasynda(m, cfg.str("model")); m
      case "regime_conditional" =>
        val m = RegimeConditional.fit(data, Order, Price, cfg.int("n_regimes"))
        ModelIO.saveRegime(m, cfg.str("model")); m
      case "regime_hmm_garch" =>
        val m = RegimeConditional.fit(data, Order, Price, cfg.int("n_regimes"),
          withGarch = true)
        ModelIO.saveRegime(m, cfg.str("model")); m
      case "vae" | "vae_gan" =>
        // the reference's flagship --mode train path (vae_gan_trainer.py;
        // vae is the same loop without the adversarial steps)
        val r = graft.train.VaeTrainer.train(data, Order, Price,
          graft.train.VaeTrainer.TrainConfig(
            epochs = cfg.int("epochs"),
            adversarial = cfg.str("generator") == "vae_gan",
            conditional = cfg.str("conditional") == "true",
            seed = cfg.long("seed")))
        ModelIO.saveMlp(r.decoder, cfg.str("model")); r.decoder
      case "timegan" =>
        // 3-phase TimeGAN (timegan_generator.py:120-175)
        val e = cfg.int("epochs")
        val r = graft.train.TimeGanTrainer.train(data, Order, Price,
          graft.train.TimeGanTrainer.Config(
            windowSize = math.min(cfg.int("window_size"), 48),
            nLayers = cfg.int("n_layers"),
            epochsAe = e, epochsSup = e, epochsJoint = e,
            seed = cfg.long("seed")))
        ModelIO.saveTimeGan(r.model, cfg.str("model")); r.model
      case g => throw new IllegalArgumentException(s"unknown trainable generator $g")
    }
    cfg.strOpt("save_config").foreach(GraftConfig.saveJson(cfg, _))
    System.err.println(s"[graft] trained ${cfg.str("generator")} -> ${cfg.str("model")}")
  }

  def runGenerate(spark: SparkSession, cfg: GraftConfig): Unit = {
    val n = cfg.int("n_samples"); val seed = cfg.long("seed")
    val p0 = cfg.double("initial_price")
    val out = cfg.str("generator") match {
      case "grasynda" =>
        // --series_col <col>: fit + walk PER SERIES in one keyed pass
        // (Grasynda.fitArray per series, Random(seed+sid) walks)
        cfg.strOpt("series_col") match {
          case Some(sc) =>
            val rets = graft.series.SeriesOps.logReturns(
                loadInput(spark, cfg),
                graft.series.SeriesSpec(Seq(sc), Order), Price, "ret")
              .filter(col("ret").isNotNull)
            Grasynda.generateGrouped(rets, sc, Order, "ret",
              cfg.int("n_bins"), seed, n, p0)
          case None =>
            Grasynda.generate(spark, ModelIO.loadGrasynda(cfg.str("model")), seed, n, p0)
        }
      case "regime_conditional" | "regime_hmm_garch" =>
        // --series_col <col>: one seeded AR(1)/GARCH walk per series id
        // in the input, from the trained model (per-series seed+sid)
        cfg.strOpt("series_col") match {
          case Some(sc) =>
            RegimeConditional.generateGrouped(loadInput(spark, cfg), sc,
              ModelIO.loadRegime(cfg.str("model")), seed, n, p0)
          case None =>
            RegimeConditional.generate(spark, ModelIO.loadRegime(cfg.str("model")), seed, n, p0)
        }
      case "block_bootstrap" =>
        // --series_col <col>: fit + generate PER SERIES in one shuffle
        // (beyond-reference many-series mode; per-series seed = seed+sid)
        cfg.strOpt("series_col") match {
          case Some(sc) =>
            BlockBootstrap.generateGrouped(loadInput(spark, cfg), sc,
              Order, Price, cfg.int("block_size"), n, seed)
          case None =>
            BlockBootstrap.generate(loadInput(spark, cfg), Order, Price,
              cfg.int("block_size"), n, seed)
        }
      case "regime_bootstrap" =>
        val m = RegimeBootstrap.fit(loadInput(spark, cfg), Order, Price,
          cfg.int("n_regimes"))
        RegimeBootstrap.generate(spark, m, seed, n, p0)
      case "decoder" =>
        val anchors = loadInput(spark, cfg)
          .select(col(Price).cast("double")).collect().map(_.getDouble(0))
        val dec = MlpDecoder.random(16, 64, cfg.int("window_size"), seed)
        DecoderGenerator.generate(spark, dec, anchors, n, seed)
      case "vae" | "vae_gan" =>
        // G1 inference from a TRAINED artifact (--mode train --generator vae)
        val anchors = loadInput(spark, cfg)
          .select(col(Price).cast("double")).collect().map(_.getDouble(0))
        val dec = ModelIO.loadMlp(cfg.str("model"))
        if (cfg.str("conditional") == "true")
          DecoderGenerator.generateConditional(spark, dec, anchors, n, seed)
        else
          DecoderGenerator.generate(spark, dec, anchors, n, seed)
      case "timegan" =>
        // G8 inference from a TRAINED artifact
        val anchors = loadInput(spark, cfg)
          .select(col(Price).cast("double")).collect().map(_.getDouble(0))
        graft.gen.TimeGanGenerator.generate(spark,
          ModelIO.loadTimeGan(cfg.str("model")), anchors, n, seed)
      case g => throw new IllegalArgumentException(s"unknown generator $g")
    }
    val withTs = if (out.columns.contains("DATE_TIME")) out
      else out.withColumn("DATE_TIME", timestamp_seconds(
        lit(1577836800L) + col("rn") * (cfg.int("interval_hours") * 3600)))
    val outCols = cfg.strOpt("series_col").filter(withTs.columns.contains)
      .map(col).toSeq ++ Seq(col("DATE_TIME"), col(Price))
    CsvIO.saveCsv(withTs.select(outCols: _*), cfg.str("output"))
    System.err.println(s"[graft] generated $n rows -> ${cfg.str("output")}")
  }

  def runEvaluate(spark: SparkSession, cfg: GraftConfig): Unit = {
    lazy val synth = CsvIO.loadMultipleCsv(spark, cfg.str("synthetic").split(",").toSeq)
    val real = CsvIO.loadMultipleCsv(spark, cfg.str("real").split(",").toSeq)
    // predictive-family legs: explicit --real_train/--real_val/--real_test
    // CSVs (the reference's flags) or a 60/20/20 time split of --real
    def legs(): (DataFrame, DataFrame, DataFrame) =
      (cfg.strOpt("real_train"), cfg.strOpt("real_val"),
        cfg.strOpt("real_test")) match {
        case (Some(tr), Some(va), Some(te)) =>
          (CsvIO.loadMultipleCsv(spark, Seq(tr)),
            CsvIO.loadMultipleCsv(spark, Seq(va)),
            CsvIO.loadMultipleCsv(spark, Seq(te)))
        case _ =>
          val n = real.count()
          val w = org.apache.spark.sql.expressions.Window
            .orderBy(Order.map(col): _*)
          val idx = real.withColumn("__i", row_number().over(w))
          val nTrain = (n * 0.6).toLong; val nVal = (n * 0.2).toLong
          (idx.filter(col("__i") <= nTrain).drop("__i"),
            idx.filter(col("__i") > nTrain && col("__i") <= nTrain + nVal)
              .drop("__i"),
            idx.filter(col("__i") > nTrain + nVal).drop("__i"))
      }
    def knob(k: String, d: Int): Int = cfg.strOpt(k).map(_.toInt).getOrElse(d)
    val winSize = knob("tol_window", 24)
    val horizon = knob("horizon", 1)
    val maxIter = knob("max_iter", 20)
    val seed = cfg.strOpt("seed").map(_.toLong).getOrElse(42L)
    val metrics = cfg.str("evaluator") match {
      case "distribution" =>
        graft.eval.DistributionEvaluator.evaluate(real, synth, Order, Price)
      case "composite" =>
        graft.eval.CompositeMetric.scoreDf(real, synth, Order, Price)
      // sdg_plugins/evaluator/predictive_evaluator.py — THE metric:
      // baseline vs synthetic-augmented predictor MAE deltas
      case "predictive" =>
        val (tr, va, te) = legs()
        graft.eval.PredictiveEvaluator.evaluate(synth, tr, va, te, Order,
          Price, winSize, horizon, seed, maxIter)
      // augmentation_evaluator.py — predictive with a cached baseline
      // leg (the candidate-sweep shape: baseline trains once)
      case "augmentation" =>
        val (tr, va, te) = legs()
        val cache = cfg.strOpt("baseline_cache").getOrElse(
          Files.createTempDirectory("graft_aug").resolve("baseline.json")
            .toString)
        graft.eval.AugmentationEvaluator.evaluate(synth, tr, va, te, Order,
          Price, cache, winSize, horizon, seed, maxIter)
      // run_option_a_eval.py — every generator × seed, one metric row
      // each (multi-row metrics JSON)
      case "all" =>
        val seeds = cfg.strOpt("seeds")
          .map(_.split(",").toSeq.map(_.toLong)).getOrElse(Seq(42L, 43L, 44L))
        graft.eval.EvaluateAllGenerators.run(spark, real, Order, Price,
          seeds, n = knob("n_samples", 1000))
      // run_ratio_sweep.py — block-bootstrap ratio + block-size sweep
      // against one cached baseline (multi-row metrics JSON)
      case "ratio_sweep" =>
        val (tr, va, te) = legs()
        val cache = cfg.strOpt("baseline_cache").getOrElse(
          Files.createTempDirectory("graft_rs").resolve("baseline.json")
            .toString)
        val ratios = cfg.strOpt("ratios").map(_.split(",").toSeq.map(_.toInt))
          .getOrElse(Seq(100, 250, 500, 750, 1000, 1575))
        val blocks = cfg.strOpt("block_sizes").map(_.split(",").toSeq.map(_.toInt))
          .getOrElse(Seq(10, 20, 30, 48, 60))
        graft.eval.RatioSweep.blockBootstrapSweep(spark, tr, va, te, Order,
          Price, cache, ratios, blocks, fixedN = knob("n_samples", 500),
          windowSize = winSize, horizon = horizon, seed = seed,
          maxIter = maxIter)
      case e => throw new IllegalArgumentException(s"unknown evaluator $e")
    }
    writeMetricsJson(metrics, cfg.str("metrics_out"),
      multiRecord = Seq("all", "ratio_sweep").contains(cfg.str("evaluator")))
  }

  /** S4-shape metrics JSON (shared by evaluate/tolerance): single-record
    * evaluators → a JSON object (the reference's metrics_file shape);
    * multi-record evaluators (all / ratio_sweep) → ALWAYS a JSON array,
    * even when a run happens to produce exactly one record — the output
    * shape is a property of the evaluator, not of this run's row count,
    * so downstream parsers never see the type flip. The collect is
    * contract-bounded: metric records, one per (generator, seed) or
    * sweep leg, never data rows. */
  private[graft] def writeMetricsJson(metrics: org.apache.spark.sql.DataFrame,
                                      path: String,
                                      multiRecord: Boolean = false): Unit = {
    def obj(row: org.apache.spark.sql.Row): String =
      metrics.columns.zipWithIndex.map { case (c, i) =>
        val v = row.get(i) match {
          case d: Double => d.toString
          case b: Boolean => b.toString
          case n: Number => n.toString
          case x => "\"" + x.toString + "\""
        }
        s""""$c": $v"""
      }.mkString("{", ", ", "}")
    val rows = metrics.collect()
    val json =
      if (rows.length == 1 && !multiRecord) obj(rows.head)
      else rows.map(obj).mkString("[", ",\n", "]")
    Files.writeString(Paths.get(path), json)
    System.err.println(s"[graft] metrics -> $path (${rows.length} record(s))")
  }

  /** measure_tolerance.py / measure_tolerance_v2.py entry points: split
    * the input 60/20/20 by time, run the block-bootstrap tolerance
    * harness (v1: per-seed augmented retrains against a cached
    * baseline; v2: ONE fixed predictor scored across seed-varied
    * synthetic test sets), write the summary record as metrics JSON.
    * Knobs: n_seeds, n_samples, block_size, tol_window (harness window,
    * default 24 as in the reference scripts), max_iter. */
  def runTolerance(spark: SparkSession, cfg: GraftConfig, v2: Boolean): Unit = {
    val data = loadInput(spark, cfg)
    val n = data.count()
    require(n >= 50, s"tolerance needs a real series (got $n rows)")
    // global row_number is fine here: the CLI contract is one bounded
    // series (the reference scripts read one CSV); per-series tolerance
    // at scale goes through the library API, not this entry point
    val w = org.apache.spark.sql.expressions.Window.orderBy(Order.map(col): _*)
    graft.core.Scope.cached { keep =>
      val idx = keep(data.withColumn("__i", row_number().over(w)))
      val nTrain = (n * 0.6).toLong; val nVal = (n * 0.2).toLong
      val train = idx.filter(col("__i") <= nTrain).drop("__i")
      val valid = idx.filter(col("__i") > nTrain && col("__i") <= nTrain + nVal)
        .drop("__i")
      val test = idx.filter(col("__i") > nTrain + nVal).drop("__i")
      val nSeeds = cfg.strOpt("n_seeds").map(_.toInt).getOrElse(if (v2) 8 else 10)
      val winSize = cfg.strOpt("tol_window").map(_.toInt).getOrElse(24)
      val maxIter = cfg.strOpt("max_iter").map(_.toInt).getOrElse(20)
      val nSamples = cfg.int("n_samples")
      val blockSize = cfg.int("block_size")
      val metrics =
        if (v2)
          graft.eval.ToleranceMeasure.blockBootstrapToleranceV2(
            train, valid, Order, Price, nSeeds = nSeeds, nSamples = nSamples,
            blockSize = blockSize, windowSize = winSize, maxIter = maxIter)
        else {
          val cache = cfg.strOpt("baseline_cache").getOrElse(
            Files.createTempDirectory("graft_tol").resolve("baseline.json").toString)
          graft.eval.ToleranceMeasure.blockBootstrapTolerance(
            spark, train, valid, test, Order, Price, cache, nSeeds = nSeeds,
            nSamples = nSamples, blockSize = blockSize, windowSize = winSize,
            maxIter = maxIter)
        }
      writeMetricsJson(metrics, cfg.str("metrics_out"))
    }
  }

  /** Training-corpus curation (beyond reference): the text-pipeline
    * operator stack as ONE user-facing entry point —
    *
    *   exact dedup → near-dup cluster drop (MinHash+LSH + connected
    *   components, non-canonical members removed) → quality filter
    *   (repetition ratio + min token count) → optional benchmark
    *   decontamination (Bloom prune + exact verify) → PII redaction →
    *   fixed-window chunking → deterministic doc-keyed train/val/test
    *   split (the split hashes the DOC id, never the chunk id, so no
    *   document leaks across splits) → parquet partitioned by split,
    *   plus a per-stage funnel-count metrics JSON.
    *
    * Flags: --input_docs <parquet|csv> --output <dir>
    *   [--incremental_from priorOut]  (drop docs already processed by
    *     the PRIOR run via its _seen register; every run writes
    *     <output>_seen.parquet so increments chain)
    *   [--benchmark_docs p] [--doc_id_col doc_id] [--text_col text]
    *   [--domain_blocklist d1,d2 [--url_col url]]  (a14 URL gate, first
    *     in the chain: drop docs whose registrable domain matches or is
    *     a subdomain of a blocked entry; un-parseable URLs are kept)
    *   [--near_threshold 0.8] [--keep_best true]
    *   [--semantic_threshold 0.92]  (d08 hashed-embedding dedup after
    *     the shingle stage; planes derived from corpus occupancy)
    *   [--max_rep_ratio 0.5] [--max_dup_ratio 0.8] [--min_tokens 10]
    *   [--max_dup_span 50]  (d09 exact-substring gate: drop docs with a
    *     duplicated interval of ≥ L tokens at any boundary)
    *   [--cut_dup_spans 50]  (d09c surgical cut: keep docs, remove the
    *     non-keeper occurrences of duplicated intervals ≥ L tokens)
    *   [--cut_contaminated_spans 50]  (with --benchmark_docs: t23
    *     surgical decontamination — cut the leaked benchmark intervals
    *     ≥ L tokens instead of dropping whole docs)
    *   [--langs en,es] [--gopher_min_stop N] [--min_flesch X]
    *   [--max_per_source N --source_col c]
    *   [--mixture_target src0:0.5,src1:0.5 --source_col c]
    *   [--token_budget N]   (with --mixture_target: weights apply to
    *     TOKEN mass against budget N; under-weight sources upsample
    *     into `epoch` copies, split still keyed on the bare id)
    *   [--lm_ref_docs p --min_avg_logprob x] [--min_q_prob x]
    *   [--pack_budget N]
    *   [--chunk_window 480] [--chunk_stride 384] [--metrics_out m.json]
    *
    * Every frame the chain persists and every local checkpoint its
    * stages register are released when the run ends, also when it
    * throws (a bad id, an infeasible mixture).
    */
  def runCurate(spark: SparkSession, cfg: GraftConfig): Unit =
    graft.core.Scope.released(spark) {
      graft.core.Scope.cached(curate(spark, cfg, _))
    }

  private def curate(spark: SparkSession, cfg: GraftConfig,
                     persist: DataFrame => DataFrame): Unit = {
    import graft.text.{Dedup, TextOps}
    import graft.core.ScaleOps
    // --stage_timing true: per-materialization wall timings to stderr.
    // Each curate stage is lazy until its funnel count / write, so the
    // count is where the stage's cost lands — this labels those
    // barriers so a scale-cell regression names its stage directly.
    // Funnel counts that only the metrics JSON reads ride a neighbour's
    // aggregate and print no line of their own: the id guard rides
    // input_count (domain_gate with a blocklist), the Gopher and
    // language counts ride quality_gates, and the LM and classifier
    // counts ride pii_redact. seen_register_write runs beside
    // chunk_pack_topic_write, so their two lines overlap in time.
    val stageTiming = cfg.strOpt("stage_timing").contains("true")
    def timedStage[T](name: String)(f: => T): T =
      if (!stageTiming) f
      else {
        val t0 = System.nanoTime()
        val r = f
        System.err.println(
          f"[graft-stage] $name%-28s ${(System.nanoTime() - t0) / 1e9}%8.2f s")
        r
      }
    def load(p: String): DataFrame =
      if (p.endsWith(".csv")) spark.read.option("header", "true").csv(p)
      else spark.read.parquet(p)
    val id = cfg.strOpt("doc_id_col").getOrElse("doc_id")
    val text = cfg.strOpt("text_col").getOrElse("text")
    val docs0 = load(cfg.str("input_docs")).select(col(id), col(text))
    // --incremental_from PRIOR: the daily-increment shape — drop docs
    // whose text md5 (or id) was already processed by the PRIOR curate
    // run, via its _seen register (cross-increment keep-first: the
    // first increment's copy won). Every curate run writes its own
    // register = the prior one (if any) ∪ this run's exact-dedup
    // survivors, so increments chain. All downstream hash-keyed stages
    // (splits, samples, mixtures) are append-stable by construction —
    // an increment can never reassign an earlier doc's split.
    val seenPath = cfg.strOpt("incremental_from").map(p => s"${p}_seen.parquet")
    // schema-guarded register read: a prior increment over an EMPTY (or
    // fully-filtered) corpus may have written a register with zero part
    // files, which parquet cannot infer a schema from — treat it as the
    // empty register it is instead of crashing the increment chain
    def readSeen(p: String): DataFrame =
      try spark.read.parquet(p)
      catch {
        case _: org.apache.spark.sql.AnalysisException =>
          import org.apache.spark.sql.types._
          spark.createDataFrame(
            spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
            StructType(Seq(StructField("seen_id", LongType),
              StructField("text_md5", StringType))))
      }
    val docs = seenPath match {
      case Some(p) =>
        val seen = readSeen(p)
        docs0
          .join(seen.select(col("text_md5")), md5(col(text)) === col("text_md5"),
            "left_anti")
          // compare LONG vs LONG explicitly: the raw id column is STRING
          // for CSV inputs, and string-vs-bigint equality coerces through
          // DOUBLE, where ids above 2^53 silently collide. The curate
          // fail-fast integral-id check below guarantees the cast is safe
          // (a bad id casts to null, matches nothing, then fails require)
          .join(seen.select(col("seen_id")),
            col(id).cast("long") === col("seen_id"), "left_anti")
      case None => docs0
    }
    // fail fast on non-integral doc ids (CSV reads ids as strings): the
    // near-dup cluster stage casts ids to long — a ticker-style id would
    // silently become NULL and collapse clusters (same failure mode as
    // the --series_col guard in CsvIO)
    val badId = col(id).isNotNull && col(id).cast("long").isNull
    def countWithBadIds(df: DataFrame, stage: String): (Long, Long) = {
      val r = timedStage(stage)(df.agg(count(lit(1)), count_if(badId)).head())
      (r.getLong(0), r.getLong(1))
    }
    val blocklisted = cfg.strOpt("domain_blocklist").isDefined
    val (n0, inputBadIds) =
      if (blocklisted) (timedStage("input_count")(docs.count()), 0L)
      else countWithBadIds(docs, "input_count")
    // ── optional URL blocklist gate (--domain_blocklist d1,d2 with
    // [--url_col url]): the a14 primitive, FIRST in the chain — the
    // C4/RefinedWeb ordering, URL rules drop documents before any text
    // is tokenized or hashed. Subdomains of a blocked domain are
    // blocked (host-suffix rule); un-parseable URLs are kept.
    val domainGated = cfg.strOpt("domain_blocklist") match {
      case Some(spec) =>
        val urlCol = cfg.strOpt("url_col").getOrElse("url")
        val blocked = spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val withUrl = load(cfg.str("input_docs"))
        require(withUrl.columns.contains(urlCol),
          s"--domain_blocklist needs a '$urlCol' column on the input " +
            "(set --url_col if it is named differently)")
        docs.join(
          graft.text.UrlOps.domainGate(withUrl, urlCol, blocked)
            .select(col(id)), Seq(id), "left_semi")
      case None => docs
    }
    val (nDomain, badIds) =
      if (blocklisted) countWithBadIds(domainGated, "domain_gate")
      else (n0, inputBadIds)
    require(badIds == 0,
      s"curate needs integral $id values; $badIds rows fail the long cast " +
        "(map string ids to a dense surrogate key first)")

    // ── optional URL-keyed dedup (--dedup_by_url true with
    // [--url_col url]): two fetches of one page under tracking-param /
    // case / default-port variants collapse to ONE canonical key
    // (UrlOps.urlNormalize) and keep-first (min id) wins — the classic
    // crawl dedup, BEFORE any text is read. Docs with NULL or
    // un-normalizable-but-distinct URLs are their own keys; NULL urls
    // are never pooled (each null-url doc is kept).
    val urlDeduped = cfg.strOpt("dedup_by_url") match {
      case Some("true") =>
        val urlCol = cfg.strOpt("url_col").getOrElse("url")
        val withUrl = load(cfg.str("input_docs"))
        require(withUrl.columns.contains(urlCol),
          s"--dedup_by_url needs a '$urlCol' column on the input " +
            "(set --url_col if it is named differently)")
        // election runs over the SURVIVOR frame (not the raw reload):
        // a URL group whose smallest-id copy was already dropped
        // upstream falls through to the next-smallest SURVIVING id
        // instead of losing every copy. Keep-first is NUMERIC min —
        // the id column may arrive as CSV strings where '10' < '9'
        // lexicographically (the integral-cast guard above ensures the
        // cast never nulls out).
        val canon = withUrl
          .select(col(id), graft.text.UrlOps.urlNormalize(col(urlCol))
            .as("_cu"))
          .join(domainGated.select(col(id)), Seq(id), "left_semi")
        val keepIds = canon.filter(col("_cu").isNotNull)
          .groupBy(col("_cu"))
          .agg(min_by(col(id), col(id).cast("long")).as("_keep"))
          .select(col("_keep").as(id))
          .unionByName(canon.filter(col("_cu").isNull).select(col(id)))
        val ud = domainGated.join(keepIds, Seq(id), "left_semi")
        timedStage("url_dedup")(ud.count())
        ud
      case _ => domainGated
    }

    // ── optional line-level text SHAPING, the C4/CCNet ordering:
    // per-line quality gates (--line_filter true [--min_line_words N
    // --line_blocklist a,b] — t24) then corpus-frequent boilerplate
    // line removal (--max_line_df N — t25). These reshape text rather
    // than drop docs (a doc whose every line fails survives emptied
    // and falls to the min_tokens gate downstream), and they run
    // BEFORE any dedup so cleaned text drives every fingerprint — two
    // docs differing only in navigation chrome become exact duplicates
    // here and collapse in the very next stage.
    def lineDropCount(framed: DataFrame, stage: String): Long =
      timedStage(stage)(framed
        .agg(sum(col("n_lines")).cast("long"),
          sum(col("n_kept")).cast("long")).collect())
        .headOption.map(r => Option(r.get(0)).fold(0L)(_
          .asInstanceOf[Long]) - Option(r.get(1)).fold(0L)(_
          .asInstanceOf[Long]))
        .getOrElse(0L)
    // ── optional HTML stripping (--html_strip true — t28): crawl data
    // arrives as markup; script/style/tags/entities go FIRST so every
    // later stage sees prose — including the normalizer (r14: this
    // stage moved ahead of normalization to pin the contract order
    // t28 → t29 → t27 → t24; markup must never reach the normalizer /
    // segmenter / line ops, and if the entity decoder ever grows
    // numeric-entity support, decoded output — &#769; would be a raw
    // combining accent — must still flow through normalization).
    // Map-side regex chain.
    val htmlStripped =
      if (cfg.strOpt("html_strip").contains("true"))
        urlDeduped.withColumn(text, TextOps.htmlStrip(col(text)))
      else urlDeduped
    // ── optional Unicode normalization (--nfc_normalize true — t29;
    // --nfkc_normalize true — t29b, the compatibility superset for
    // ja/zh crawl: fullwidth latin, ligatures, squared units; NFKC
    // wins if both are set): composed/decomposed twins byte-converge
    // BEFORE anything fingerprints the text (the CCNet ordering).
    // Map-side pass.
    val nfcNormalized = {
      val form =
        if (cfg.strOpt("nfkc_normalize").contains("true")) Some("NFKC")
        else if (cfg.strOpt("nfc_normalize").contains("true")) Some("NFC")
        else None
      form match {
        case Some(f) =>
          TextOps.nfcNormalizeFrame(htmlStripped, id, text, f)
            .drop(text, "changed").withColumnRenamed("normalized", text)
        case None => htmlStripped
      }
    }
    // ── optional CJK segmentation (--cjk_segment true — t27): insert
    // spaces around Han/kana chars BEFORE any token-based stage, so an
    // unsegmented zh/ja corpus stops reading as one-giant-word docs
    // (q19/Gopher/shingles/chunking all assume whitespace tokens).
    // Pure map-side regex — free at any scale.
    val segmented =
      if (cfg.strOpt("cjk_segment").contains("true"))
        nfcNormalized.withColumn(text, trim(TextOps.cjkSegment(col(text))))
      else nfcNormalized
    val (lineFiltered, nLineFilterDrop) =
      if (cfg.strOpt("line_filter").contains("true")) {
        val lf = TextOps.lineFilter(segmented, id, text,
          minWords = cfg.strOpt("min_line_words").map(_.toInt)
            .getOrElse(3),
          requireTerminal = true,
          blocklist = cfg.strOpt("line_blocklist")
            .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
            .getOrElse(Seq("javascript", "cookie", "{")),
          // --line_terminal latin|cjk|<regex>: the terminal-punct rule
          // per language (the default drops every CJK line — a zh/ja
          // corpus needs the 。！？ set)
          terminalRegex = cfg.strOpt("line_terminal") match {
            case None | Some("latin") => TextOps.TerminalPunctLatin
            case Some("cjk")          => TextOps.TerminalPunctCjk
            case Some(custom)         => custom
          })
        (lf.select(col(id), col("clean").as(text)),
          lineDropCount(lf, "line_filter"))
      } else (segmented, 0L)
    val (lineShaped, nLineDedupDrop) = cfg.strOpt("max_line_df") match {
      case Some(n) =>
        val ld = TextOps.dedupLines(lineFiltered, id, text,
          maxDf = n.toInt)
        (ld.select(col(id), col("clean").as(text)),
          lineDropCount(ld, "line_dedup"))
      case None => (lineFiltered, 0L)
    }

    val exact = persist(Dedup.dropExactDuplicates(lineShaped, id, text))
    val n1 = timedStage("exact_dedup")(exact.count())

    val pairs = timedStage("minhash_pairs_build")(
      Dedup.minhashLshPairs(exact, id, text, k = 5, numPerm = 64,
        bands = 16,
        threshold = cfg.strOpt("near_threshold").map(_.toDouble).getOrElse(0.8)))
    // --keep_best: elect each cluster's keeper by q19 quality (d07)
    // instead of the default keep-first (min id, d03)
    val nearDrop = timedStage("near_dedup_cc")(
      if (cfg.strOpt("keep_best").contains("true")) {
        val q = TextOps.tokenStats(exact, id, text)
          .select(col(id), round(col("quality_score"), 6).as("q"))
        Dedup.dedupKeepBest(exact, id, pairs, q)
          .filter(col("kept") === 0).select(col(id))
      } else
        Dedup.connectedComponents(pairs)
          .filter(col("id") =!= col("cluster")).select(col("id").as(id)))
    val shingleDeduped = exact.join(nearDrop, Seq(id), "left_anti")
    // optional semantic dedup (--semantic_threshold c): d08's pipeline —
    // hashed embeddings → sign-LSH pairs → component drop — catching
    // bag-of-words duplicates whose edited k-gram surface the shingle
    // stage misses. The operating point derives from the corpus size
    // (bandedNearDupPairsScaled: planesForOccupancy + bandsForRecall),
    // the production contract rather than d08's gate-pinned literals.
    val deduped = persist(cfg.strOpt("semantic_threshold") match {
      case Some(t) =>
        val vecs = timedStage("semantic_embed_ckpt")(TextOps
          .hashEmbedVectors(shingleDeduped, id, text)
          .withColumn("_blk", lit(0))
          .localCheckpoint())
        val pairs = timedStage("semantic_pairs_build")(
          graft.sim.Similarity.bandedNearDupPairsScaled(
              vecs, id, "embedding", "_blk", threshold = t.toDouble,
              seed = 11L)
            .select(col("id_a"), col("id_b")))
        val drop = timedStage("semantic_cc")(Dedup.connectedComponents(pairs)
          .filter(col("id") =!= col("cluster")).select(col("id").as(id)))
        shingleDeduped.join(drop, Seq(id), "left_anti")
      case None => shingleDeduped
    })
    val n2 = timedStage("near+semantic_dedup")(deduped.count())

    // ── optional SURGICAL span cut (--cut_dup_spans L): instead of
    // gating whole docs on duplicated intervals (--max_dup_span), cut
    // the non-keeper occurrences out and keep the doc (d09c — the Lee
    // et al. production behavior). Runs on the dedup survivors; docs
    // cut to nothing fall to the min_tokens gate downstream. The two
    // flags compose: cut first, then gate whatever still carries an
    // over-long duplicated interval (non-literal copies the content
    // election cannot collapse).
    val curated = cfg.strOpt("cut_dup_spans") match {
      case Some(l) =>
        val c = persist(Dedup.substringDedupCut(deduped, id, text,
            k = 8, minSpanTokens = l.toInt)
          .select(col(id), col("cleaned").as(text)))
        timedStage("cut_dup_spans")(c.count())
        c
      case None => deduped
    }

    val maxRep = cfg.strOpt("max_rep_ratio").map(_.toDouble).getOrElse(0.5)
    val minTokens = cfg.strOpt("min_tokens").map(_.toLong).getOrElse(10L)
    // ── gate-stat frame, computed ONCE over the deduped survivors ─────
    // Every gate score (repetition, token stats, Gopher keep flag,
    // language guess) is a pure per-doc function of the text, so
    // computing them on `deduped` and filtering the CASCADE over one
    // persisted frame yields identical kept-sets to scoring each stage
    // on the previous stage's survivors — while each funnel count
    // previously recomputed its whole gate lineage (the cascade cost
    // O(stages²) corpus tokenizations; now each active op tokenizes
    // once and the counts read this cache).
    // repetitionScore only emits docs with >= k tokens — left join with
    // a 0.0 default so sub-3-token docs answer to min_tokens alone
    // (an inner join dropped them regardless of the configured floor)
    val statsBase = curated
      .join(TextOps.repetitionScore(curated, id, text, k = 3)
        .select(col(id), col("rep_ratio")), Seq(id), "left")
      .join(TextOps.tokenStats(curated, id, text)
        .select(col(id), col("n_tokens").as("_nt")), id)
    val withGopher = cfg.strOpt("gopher_min_stop") match {
      case Some(n) =>
        statsBase.join(TextOps.gopherRules(curated, id, text,
            minStopwords = n.toInt)
          .select(col(id), col("keep").as("_gopher_keep")), id)
      case None => statsBase.withColumn("_gopher_keep", lit(1))
    }
    // optional cross-doc duplication gate (--max_dup_ratio x): the t21
    // metric — corpus-level memorization risk, a doc assembled from
    // corpus boilerplate scores ~1. Unlike the other gate stats this is
    // corpus-dependent (a gram-df join), but it is still a function of
    // `deduped`, so it joins the same one-pass stat frame; docs too
    // short to carry a shingle default to 0 (min_tokens owns them)
    val withDup = cfg.strOpt("max_dup_ratio") match {
      case Some(_) =>
        withGopher.join(TextOps.crossDupRatio(curated, id, text)
          .select(col(id), col("dup_ratio").as("_dup")), Seq(id), "left")
      case None => withGopher.withColumn("_dup", lit(null).cast("double"))
    }
    // optional exact-substring duplication gate (--max_dup_span L): the
    // d09 metric — drop docs carrying a duplicated interval of ≥ L
    // tokens at ANY boundary (the Lee et al. memorization gate). The
    // span finder runs with minSpanTokens = L, so only qualifying
    // intervals are ever materialized and the stat is simply "has one"
    val withSpan = cfg.strOpt("max_dup_span") match {
      case Some(l) =>
        withDup.join(Dedup.substringSpans(curated, id, text,
            k = 8, minSpanTokens = l.toInt)
          .groupBy(col(id)).agg(max(col("span_tokens")).as("_max_span")),
          Seq(id), "left")
      case None => withDup.withColumn("_max_span", lit(null).cast("long"))
    }
    // optional readability gate (--min_flesch X): the t35 Flesch score
    // — the boilerplate/token-soup ease floor; a doc with zero words
    // has no score and is dropped by the gate (it is not prose)
    val withRead = cfg.strOpt("min_flesch") match {
      case Some(_) =>
        withSpan.join(TextOps.readability(curated, id, text)
          .select(col(id), col("flesch").as("_flesch")), Seq(id), "left")
      case None => withSpan.withColumn("_flesch", lit(null).cast("double"))
    }
    val gate = persist(cfg.strOpt("langs") match {
      case Some(_) =>
        withRead.join(TextOps.langId(curated, id, text)
          .select(col(id), col("lang_guess").as("_lang")), id)
      case None => withRead.withColumn("_lang", lit(null).cast("string"))
    })

    val maxDup = cfg.strOpt("max_dup_ratio").map(_.toDouble).getOrElse(1.0)
    val kept = gate
      .filter(coalesce(col("rep_ratio"), lit(0.0)) <= maxRep &&
        col("_nt") >= minTokens &&
        coalesce(col("_dup"), lit(0.0)) < maxDup &&
        (cfg.strOpt("max_dup_span") match {
          case Some(_) => col("_max_span").isNull
          case None => lit(true)
        }) &&
        (cfg.strOpt("min_flesch") match {
          case Some(x) =>
            col("_flesch").isNotNull && col("_flesch") >= x.toDouble
          case None => lit(true)
        }))
    // optional Gopher rule gate (--gopher_min_stop N): the t14
    // rule-based quality filter — word-count/word-length/alpha/symbol
    // bounds plus ≥ N distinct stopwords present; keep == all rules
    val gopherOk =
      if (cfg.strOpt("gopher_min_stop").isDefined) col("_gopher_keep") === 1
      else lit(true)
    // optional language filter (--langs en,es): q20's marker-word
    // language ID, keep docs whose argmax language is in the set —
    // the CCNet-style lang gate, before decontamination so the
    // benchmark overlap pass only reads surviving docs
    val langOk = cfg.strOpt("langs") match {
      case Some(spec) =>
        col("_lang").isin(spec.split(",").map(_.trim).filter(_.nonEmpty).toSeq: _*)
      case None => lit(true)
    }
    val Seq(n3, nGopher, nLang) = timedStage("quality_gates")(kept
      .agg(count(lit(1)), count_if(gopherOk), count_if(gopherOk && langOk))
      .head().toSeq.map(_.asInstanceOf[Long]))
    val langKept = kept.filter(gopherOk && langOk).select(col(id), col(text))

    val clean = cfg.strOpt("benchmark_docs") match {
      // --cut_contaminated_spans L: SURGICAL decontamination (t23 +
      // cut) — locate the leaked benchmark intervals ≥ L tokens at any
      // boundary and remove the spans, keeping the doc. ALL leaked
      // occurrences go (no keeper election — benchmark text must not
      // survive anywhere in the train set).
      case Some(p) if cfg.strOpt("cut_contaminated_spans").isDefined =>
        val l = cfg.str("cut_contaminated_spans").toInt
        val bench = load(p).select(col(id), col(text))
        val spans = Dedup.substringSpansAgainst(
          Dedup.benchGramCounts(bench, id, text, k = 8),
          langKept, id, text, k = 8, minSpanTokens = l)
        val c = Dedup.cutSpans(langKept, id, text, spans)
        timedStage("cut_contaminated_spans")(c.count())
        c
      case Some(p) =>
        val bench = load(p).select(col(id), col(text))
        val contaminated = TextOps.bloomContamination(langKept, bench, id, text,
            k = 8,
            minShared = cfg.strOpt("min_shared").map(_.toLong).getOrElse(1L))
          .select(col("train_id").as(id)).distinct()
        langKept.join(contaminated, Seq(id), "left_anti")
      case None => langKept
    }
    // optional per-source cap (--max_per_source N with --source_col c):
    // deterministic salted-hash k-per-key sample, the a07 primitive
    val capped = (cfg.strOpt("max_per_source"), cfg.strOpt("source_col")) match {
      case (Some(k), Some(src)) =>
        val withSrc = load(cfg.str("input_docs")).select(col(id), col(src))
        // decorrelated from split_salt for the same reason as the
        // mixture stage below (k-per-key ranks on the raw h64, not the
        // mod-10000 bucket, but sharing a salt with hashSplit is still
        // an avoidable coupling)
        graft.core.ScaleOps.sampleKPerKey(
            clean.join(withSrc, id), id, src, k.toInt,
            salt = cfg.strOpt("split_salt").map(_.toInt).getOrElse(7) + 2027)
          .select(col(id), col(text))
      case _ => clean
    }
    // optional mixture rebalancing (--mixture_target src0:0.5,src1:0.5
    // with --source_col c): deterministic downsample to the target
    // source mix — the a08 primitive
    val mixed = (cfg.strOpt("mixture_target"), cfg.strOpt("source_col")) match {
      case (Some(spec), Some(src)) =>
        val target = spec.split(",").map { kv =>
          val Array(k, v) = kv.split(":")
          k -> v.toDouble
        }.toMap
        val withSrc = load(cfg.str("input_docs")).select(col(id), col(src))
        // the mixture stage MUST NOT share hashSplit's salt: both bucket
        // pmod(h64(id, salt), 10000), so with a shared salt every doc a
        // keep-fraction f admits has bucket < f·10000 — entirely inside
        // hashSplit's train range whenever f ≤ 0.9, leaving val/test
        // empty. A fixed offset decorrelates the two bucketings while
        // keeping the stage deterministic under --split_salt.
        val mixSalt = cfg.strOpt("split_salt").map(_.toInt).getOrElse(7) + 1013
        cfg.strOpt("token_budget") match {
          case Some(b) =>
            // --token_budget N: t13 token-weighted mixture — the target
            // weights apply to TOKEN mass against budget N, and a source
            // whose desired mass exceeds its corpus is UPSAMPLED into
            // epoch copies. The `epoch` column rides through to the
            // output (each copy is a distinct training row) while the
            // split hash below still keys on the bare id, so every
            // epoch of a doc lands in ONE split — upsampling cannot
            // leak a train doc into val/test.
            graft.core.ScaleOps.tokenBudgetMixture(
                capped.join(withSrc, id), id, src, text,
                salt = mixSalt, target, budgetTokens = b.toLong)
              .select(col(id), col("epoch"), col(text))
          case None =>
            graft.core.ScaleOps.mixtureSample(
                capped.join(withSrc, id), id, src, salt = mixSalt, target)
              .select(col(id), col(text))
        }
      case _ => capped
    }
    // NOT persisted (measured): the LM/classifier scores and the
    // redaction build re-derive this frame, but its lineage reads the
    // deduped/gate caches and the re-derivation is cheap — persisting
    // the text-heavy epoch-upsampled rows instead EVICTED the upstream
    // caches at the 10x scale cell (62.6s -> 99.0s)
    // epoch rides every stage below when the t13 mixture produced it
    val epochCols: Seq[String] =
      if (mixed.columns.contains("epoch")) Seq("epoch") else Nil

    // optional LM-score filter (--lm_ref_docs p --min_avg_logprob x):
    // add-k bigram LM trained on the reference corpus, docs below the
    // mean-log-likelihood floor dropped (the perplexity quality gate)
    val lmScored = (cfg.strOpt("lm_ref_docs"),
        cfg.strOpt("min_avg_logprob")) match {
      case (Some(p), Some(minLp)) =>
        val ref = load(p).select(col(id), col(text))
        // left join: lmScore only emits docs with ≥ 1 bigram, so an
        // inner join would silently drop short (< 2-token) docs
        // regardless of the floor — keep unscored docs and let the
        // earlier length/quality gates own that decision
        val scores = TextOps.lmScore(ref, mixed, id, text)
          .select(col(id), col("avg_logprob"))
        mixed.join(scores, Seq(id), "left")
          .withColumn("_lm_ok", col("avg_logprob").isNull ||
            col("avg_logprob") >= minLp.toDouble)
          .drop("avg_logprob")
      case _ => mixed.withColumn("_lm_ok", lit(true))
    }

    // optional quality-classifier gate (--min_q_prob x): the frozen t11
    // hashed-bigram logistic model; unscorable sub-bigram docs pass
    // (same contract as the LM gate above). The model scores each doc
    // on its own, so scoring the LM's losers too changes no verdict.
    val scored = cfg.strOpt("min_q_prob") match {
      case Some(q) =>
        val scores = TextOps.qualityClassifierScore(lmScored, id, text)
          .select(col(id), col("q_prob"))
        lmScored.join(scores, Seq(id), "left")
          .withColumn("_keep", col("_lm_ok") &&
            (col("q_prob").isNull || col("q_prob") >= q.toDouble))
          .drop("q_prob")
      case None => lmScored.withColumn("_keep", col("_lm_ok"))
    }

    // both verdicts ride the redaction pass; its one aggregate counts
    // every gate and the kept docs' redactions
    val redactedAll = persist(TextOps.redactPii(scored, text))
    val Seq(nLm, nQ, nEmail, nPhone) = timedStage("pii_redact")(redactedAll
      .agg(count_if(col("_lm_ok")), count_if(col("_keep")),
        sum(when(col("_keep"), col("n_email"))),
        sum(when(col("_keep"), col("n_phone"))))
      .head().toSeq.map(v => Option(v).fold(0L)(_.asInstanceOf[Number].longValue)))
    val n4 = nQ
    val redacted = redactedAll.filter(col("_keep"))

    val chunks = TextOps.chunk(
      redacted.select(col(id) +: epochCols.map(col) :+
        col("redacted").as(text): _*), id, text,
      window = cfg.strOpt("chunk_window").map(_.toInt).getOrElse(480),
      stride = cfg.strOpt("chunk_stride").map(_.toInt).getOrElse(384))
    // optional tokenizer-exact chunk annotation (--bpe_merges path):
    // load a persisted merge table (a --train_bpe artifact or any
    // compatible tokenizer model) and ride `n_tokens_bpe` on every
    // output chunk — the count a sequence packer or token-budget
    // accountant actually needs, instead of the whitespace proxy.
    // The merge table is model-sized by contract (the only collect);
    // the encode is Bpe's one encode loop (broadcast merge table +
    // mapPartitions — per-chunk cost independent of |merges|, so a
    // real 32k-merge tokenizer model works here; a rank-straddling
    // foreign table takes the per-word rank-ordered chain inside it).
    val chunksCounted = cfg.strOpt("bpe_merges") match {
      case Some(p) =>
        val merges = spark.read.parquet(p).orderBy(col("rank")).collect()
          .map(r => graft.text.Bpe.Merge(r.getInt(0), r.getString(1),
            r.getString(2), r.getString(3), r.getLong(4))).toSeq
        graft.text.Bpe.encodeFast(chunks, "chunk", merges)
          .drop("encoded")
      case None => chunks
    }
    val split = ScaleOps.hashSplit(chunksCounted, id,
      salt = cfg.strOpt("split_salt").map(_.toInt).getOrElse(7),
      Seq("train" -> 0.9, "val" -> 0.05, "test" -> 0.05))
    // optional sequence packing (--pack_budget N): assign each chunk a
    // per-split greedy token-budget seq_id (the t09 operator) so the
    // output is tokenizer-feed-ready; chunk identity is the composite
    // (doc, chunk) surrogate — unique because chunk counts are bounded
    // by doc length / stride
    val packed = cfg.strOpt("pack_budget") match {
      case Some(b) =>
        // composite chunk identity as a struct, not doc_id·1e6+chunk_id:
        // the arithmetic encoding overflows Long for h64-derived 60-bit
        // doc ids and silently collides pack assignments. Struct
        // equality/ordering is field-wise, so pack order stays
        // (doc, chunk) and the join-back key stays exact.
        val withCid = split.withColumn("_cid",
          struct(col(id) +: epochCols.map(col) :+ col("chunk_id"): _*))
        val seq = TextOps.packSequences(
            withCid.withColumnRenamed("chunk", "_ctext"), "_cid", "split",
            "_ctext", b.toLong)
          .select(col("_cid"), col("seq_id"))
        withCid.join(seq, Seq("_cid")).drop("_cid")
      case None => split
    }
    // optional topic labeling (--assign_topics true): per-DOC nearest
    // topic centroid over the hashed embedding (t17) joined onto
    // every output chunk — mixture-design metadata riding the output,
    // assigned on the redacted full-doc text (not per chunk, so all of
    // a doc's chunks share one topic). Keyed shuffle join on the doc
    // id; centroids are literals, nothing data-sized collects.
    // --train_topics <k> fits the centroids IN-ENGINE on this corpus
    // (k01 Lloyd's over the hashed embeddings, 2 iterations) instead of
    // using the frozen TopicCentroids.K8 — domain discovery without any
    // offline step; only the k×64 centroid matrix touches the driver.
    val labeled =
      if (cfg.strOpt("assign_topics").contains("true")) {
        val base = redacted.select(col(id), col("redacted").as(text))
        val topics = cfg.strOpt("train_topics") match {
          case Some(k) =>
            val vecs = TextOps.hashEmbedVectors(base, id, text)
            val (cents, _) = timedStage("topic_fit")(graft.sim.KMeans.fit(
              vecs, id, "embedding", k.toInt, iters = 2,
              initMode = cfg.strOpt("topic_init").getOrElse("min_id")))
            TextOps.topicAssign(base, id, text, cents)
          case None => TextOps.topicAssign(base, id, text)
        }
        packed.join(topics, Seq(id), "left")
      } else packed
    // optional tokenizer training (--train_bpe N): fit N BPE merges
    // IN-ENGINE on the final curated text (post-redaction, pre-chunk —
    // the corpus the model will actually train on) and persist the
    // merge table as a model artifact next to the output. The corpus
    // is touched once (word-count agg); elections run BATCHED on the
    // vocabulary frame (trainBatched — bit-identical to the sequential
    // greedy, but a 32k-merge run takes hundreds of jobs, not 32k).
    // --target_vocab V stops training when reserved + base chars +
    // merges reach V (the knob a training run actually specifies);
    // --reserved_tokens "<pad>,<bos>,<eos>,<unk>" pins special ids
    // 0..R−1 and also persists the full id↔symbol vocabulary artifact
    // (the table a packer/serving layer loads to learn the eos id).
    cfg.strOpt("train_bpe").foreach { n =>
      import spark.implicits._
      val corpus = redacted.select(col("redacted").as(text))
      // trim each special after the split — a user-supplied
      // "<pad>, <bos>" must not mint a ' <bos>' special and silently
      // shift every vocab id; empty or duplicate specials fail loudly
      // because downstream consumers key on exact id↔symbol identity
      val reserved = cfg.strOpt("reserved_tokens")
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
        .getOrElse(Seq.empty)
      require(reserved.distinct.length == reserved.length,
        s"--reserved_tokens has duplicates: ${reserved.mkString(",")}")
      val merges = timedStage("bpe_train")(graft.text.Bpe.trainBatched(
        corpus, text, n.toInt,
        targetVocab = cfg.strOpt("target_vocab").map(_.toInt),
        reservedCount = reserved.length))
      merges
        .map(m => (m.rank, m.left, m.right, m.merged, m.pairCount))
        .toDF("rank", "left", "right", "merged", "pair_count")
        .write.mode("overwrite")
        .parquet(s"${cfg.str("output")}_bpe_merges.parquet")
      if (reserved.nonEmpty)
        graft.text.Bpe.vocab(corpus, text, merges, reserved)
          .toDF("token_id", "symbol", "kind")
          .write.mode("overwrite")
          .parquet(s"${cfg.str("output")}_bpe_vocab.parquet")
    }
    // the seen register this output offers to the NEXT increment:
    // prior register (if chaining) ∪ this run's exact-dedup survivors.
    // (seen_id, text_md5) is ~24 bytes per unique doc — join-keyed
    // distributed state, never driver-sized. An EMPTY register can
    // write zero part files (AQE plans an empty frame to zero
    // partitions), so the register READ schema-guards. It is written
    // beside the chunks: neither reads the other.
    val ownSeen = exact.select(col(id).cast("long").as("seen_id"),
      md5(col(text)).as("text_md5"))
    val allSeen = seenPath match {
      case Some(p) => readSeen(p).unionByName(ownSeen).distinct()
      case None    => ownSeen
    }
    graft.core.Par.par2(
      timedStage("seen_register_write")(
        allSeen.write.mode("overwrite")
          .parquet(s"${cfg.str("output")}_seen.parquet")),
      timedStage("chunk_pack_topic_write")(
        labeled.write.mode("overwrite").partitionBy("split")
          .parquet(cfg.str("output"))))
    // count what actually LANDED (the contract for the funnel metric) —
    // but an all-filtered corpus writes zero part files under
    // partitionBy, and parquet cannot infer a schema from none: an
    // empty corpus must flow through as an empty output, not crash
    val nChunks = timedStage("output_readback")(
      try spark.read.parquet(cfg.str("output")).count()
      catch { case _: org.apache.spark.sql.AnalysisException => 0L })

    val s = spark
    import s.implicits._
    val funnel = Seq((n0, nDomain, nLineFilterDrop, nLineDedupDrop,
        n1, n2, n3, nGopher, nLang, nLm, nQ,
        n4, nEmail, nPhone, nChunks))
      .toDF("n_input", "n_after_domain_gate",
        "n_lines_dropped_filter", "n_lines_dropped_boilerplate",
        "n_after_exact_dedup", "n_after_near_dedup",
        "n_after_quality", "n_after_gopher_rules", "n_after_lang_filter",
        "n_after_lm_filter", "n_after_quality_classifier",
        "n_after_decontaminate", "n_emails_redacted", "n_phones_redacted",
        "n_chunks")
    writeMetricsJson(funnel,
      cfg.strOpt("metrics_out").getOrElse(s"${cfg.str("output")}_metrics.json"))
    System.err.println(s"[graft] curated $n0 docs -> $nChunks chunks " +
      s"-> ${cfg.str("output")}")
  }

  def runOptimize(spark: SparkSession, cfg: GraftConfig): Unit = {
    val rets = SeriesOps.logReturns(loadInput(spark, cfg),
        SeriesSpec(Nil, Order), Price, "ret")
      .filter(col("ret").isNotNull)
      .orderBy(col("DATE_TIME"))
      .select(col("ret")).collect().map(_.getDouble(0))
    val sweep = graft.opt.SweepOptimizer.randomSweep(spark, rets,
      nBinsChoices = Seq(5, 8, 10, 15, 20), smoothChoices = Seq(0.0, 0.2, 0.5),
      nConfigs = cfg.strOpt("n_configs").map(_.toInt).getOrElse(30),
      seeds = Seq(1L, 2L, 3L), genN = cfg.int("n_samples"), seed = cfg.long("seed"))
    sweep.coalesce(1).write.mode("overwrite").option("header", "true")
      .csv(cfg.str("sweep_out"))
    System.err.println(s"[graft] sweep -> ${cfg.str("sweep_out")}")
  }
}
