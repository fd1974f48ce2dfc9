package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.cli.{Cli, GraftConfig}
import graft.core.Tables
import graft.eval.{CompositeMetric, DistributionEvaluator}
import graft.gen.{BlockBootstrap, Grasynda, GrasyndaModel, RegimeConditional}
import graft.io.CsvIO
import graft.opt.SweepOptimizer
import graft.series.{SeriesOps, SeriesSpec}
import graft.train.VaeTrainer

/** One benchmark process: set the session up, run passes of the workload
  * for the requested time and write a JSON record of every operation. One
  * client thread issues every call, so each workload is a closed loop.
  * Only public graft functions are called.
  *
  * Arguments are key=value pairs: workload, inputs (directory written by
  * inputs.py), out (record path), seconds, trace (0|1), launched (epoch
  * ms at which the process was started), conf (k=v;k=v, applied to the
  * session). */
object Main {
  val Order = Seq("DATE_TIME")
  val Price = "typical_price"
  val NSamples = 1575
  val BarSeconds = 4 * 3600L
  // (generator, seed) of the candidate in a series_loop pass
  val Candidate = ("grasynda", 1L)

  final class CheckFailed(msg: String) extends RuntimeException(msg)
  def require(ok: Boolean, msg: => String): Unit = if (!ok) throw new CheckFailed(msg)
  def finite(xs: Iterable[Double], what: String): Unit =
    require(xs.nonEmpty && xs.forall(x => !x.isNaN && !x.isInfinite), s"$what not finite: ${xs.take(8)}")

  def main(argv: Array[String]): Unit = {
    HostProbe.start()
    val args = argv.map { a => val i = a.indexOf('='); a.take(i) -> a.drop(i + 1) }.toMap
    val workload = args("workload")
    val run = new Run(workload, Paths.get(args("inputs")), args("seconds").toDouble,
      args("trace") == "1", args.get("conf").filter(_.nonEmpty).toSeq
        .flatMap(_.split(";")).map { kv => val i = kv.indexOf('='); kv.take(i) -> kv.drop(i + 1) })
    val record = run.execute(args("launched").toDouble)
    Files.writeString(Paths.get(args("out")), Json.write(record))
  }
}

/** Operations, spans and counters of one benchmark process. */
final class Run(workload: String, inputs: Path, seconds: Double, trace: Boolean,
                conf: Seq[(String, String)]) {
  import Main._

  val spans = new Spans
  val counters = new SparkCounters
  private val out = inputs.resolve("out")
  private val ops = mutable.ArrayBuffer[Map[String, Any]]()
  private var owned = 0 // frames the benchmark itself holds persisted
  private var spark: SparkSession = _

  private def session(): SparkSession = {
    val s = Tables.localSession(Runtime.getRuntime.availableProcessors(), "perfbench")
    conf.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }

  private def input(name: String): String = inputs.resolve(name).toString

  private def firstAction(): Long = workload match {
    case "series_loop" => CsvIO.loadMultipleCsv(spark, Seq(input("series.csv"))).count()
    case "panel_scale" => spark.read.parquet(input("panel.parquet")).count()
    case "curate" => spark.read.parquet(input("day1.parquet")).count()
  }

  /** CPU time of the whole JVM (every thread, JIT and GC included). */
  private def processCpuMs(): Double =
    java.lang.management.ManagementFactory.getOperatingSystemMXBean match {
      case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime / 1e6
      case _ => Double.NaN
    }

  private def leakedRdds(): Int = spark.sparkContext.getPersistentRDDs.size - owned

  /** Times `body` as one operation; `check` runs after the clock stops and
    * throws when the output is wrong. A throwing or failing operation is
    * recorded as failed and never as a latency sample. */
  private def op[T](name: String, pass: Int)(body: => T)(check: T => Map[String, Any]): Option[T] = {
    val t0 = Clock.now()
    val res = try Right(spans(name)(body)) catch { case e: Throwable => Left(e) }
    val t1 = Clock.now()
    val checked = res.flatMap(v => try Right(check(v)) catch { case e: Throwable => Left(e) })
    val rec = mutable.LinkedHashMap[String, Any]("name" -> name, "pass" -> pass,
      "start" -> t0, "end" -> t1, "ok" -> checked.isRight, "leaked_rdds" -> leakedRdds())
    checked match {
      case Right(c) => rec ++= c
      case Left(e) =>
        val where = e.getStackTrace.find(_.getClassName.startsWith("graft.")).fold("")(f => s" at $f")
        rec("error") = s"${e.getClass.getName}: ${String.valueOf(e.getMessage).take(400)}$where"
        System.err.println(s"[perfbench] $name failed: ${rec("error")}")
    }
    System.err.println(f"[perfbench] $name%-32s ${t1 - t0}%10.1f ms ok=${checked.isRight}")
    ops += rec.toMap
    res.toOption.filter(_ => checked.isRight)
  }

  /** Persists a frame the benchmark holds for later operations and
    * materializes it. */
  private def own(df: DataFrame): DataFrame = {
    val p = df.persist(StorageLevel.MEMORY_AND_DISK)
    p.count()
    owned += 1
    p
  }

  /** Storage is released only between passes, never between operations,
    * so a leak stays visible to the operations after it and in the live heap. */
  private def release(): Int = {
    val rdds = spark.sparkContext.getPersistentRDDs.values.toSeq
    rdds.foreach(_.unpersist(blocking = true))
    spark.catalog.clearCache()
    owned = 0
    rdds.size
  }

  private def withTs(df: DataFrame): DataFrame =
    if (df.columns.contains("DATE_TIME")) df
    else df.withColumn("DATE_TIME", timestamp_seconds(lit(1577836800L) + col("rn") * BarSeconds))

  /** Order-sensitive hash of collected rows. Doubles enter at 10
    * significant digits, so a change in floating-point summation order
    * inside an aggregate does not read as a different result. */
  private def checksum(rows: Array[Row]): String = {
    var h = 1125899906842597L
    rows.foreach { r =>
      (0 until r.length).foreach { i =>
        val v = r.get(i) match {
          case d: Double => java.lang.Double.doubleToLongBits(
            if (d == 0 || d.isNaN || d.isInfinite) d
            else BigDecimal(d).round(new java.math.MathContext(10)).toDouble)
          case t: java.sql.Timestamp => t.getTime
          case n: Number => n.longValue()
          case o => o.hashCode.toLong
        }
        h = 31 * h + v
      }
    }
    java.lang.Long.toHexString(h)
  }

  private def numeric(r: Row): Seq[Double] =
    (0 until r.length).flatMap(i => r.get(i) match {
      case d: Double => Some(d)
      case f: Float => Some(f.toDouble)
      case _ => None
    })

  // ───────────────────────── series_loop ─────────────────────────

  private var real: DataFrame = _
  private var gras: Option[GrasyndaModel] = None

  private def seriesPass(pass: Int, csv: String): Unit = {
    real = CsvIO.loadMultipleCsv(spark, Seq(csv))
    gras = op("gen.fit_grasynda", pass) {
      val rets = SeriesOps.logReturns(real, SeriesSpec(Nil, Order), Price, "ret")
        .filter(col("ret").isNotNull)
      Grasynda.fit(rets, Order, "ret", 10)
    } { m => finite(m.startProbs.toSeq, "grasynda start probs"); Map.empty }
    op("gen.fit_regime_hmm_garch", pass)(
      RegimeConditional.fit(real, Order, Price, 4, withGarch = true)) { m =>
      finite(m.startProbs.toSeq, "regime start probs")
      finite(m.garch.toSeq.flatten.flatMap(g => Seq(g.omega, g.alpha, g.beta)), "garch params")
      Map.empty }
    candidate(pass)

    op("opt.random_sweep", pass) {
      val rets = SeriesOps.logReturns(real, SeriesSpec(Nil, Order), Price, "ret")
        .filter(col("ret").isNotNull).orderBy(col("DATE_TIME"))
        .select(col("ret")).collect().map(_.getDouble(0))
      SweepOptimizer.randomSweep(spark, rets, nBinsChoices = Seq(5, 8, 10, 15, 20),
        smoothChoices = Seq(0.0, 0.2, 0.5), nConfigs = 30, seeds = Seq(1L, 2L, 3L),
        genN = NSamples, seed = 42L).collect()
    } { rows =>
      require(rows.nonEmpty, "sweep returned no configs")
      finite(rows.toSeq.map(_.getAs[Double]("avg_score")), "sweep scores")
      Map("checksum" -> checksum(rows))
    }

    op("train.vae_gan", pass)(VaeTrainer.train(real, Order, Price,
      VaeTrainer.TrainConfig(epochs = 3, adversarial = true, seed = 42L))) { r =>
      require(r.epochMetrics.nonEmpty, "no epochs")
      finite(r.epochMetrics.flatMap(_.values), "vae epoch metrics")
      Map.empty
    }
  }

  /** One candidate: generate, write, read back and evaluate against the
    * real series, the step the reference's optimizer repeats per config.
    * Needs the pass's Grasynda fit. */
  private def candidate(pass: Int): Unit = gras.foreach { model =>
    val (g, seed) = Candidate
    val path = out.resolve(s"candidate_${g}_${seed}_p$pass").toString
    op("candidate", pass) {
      val synthetic = spans("gen.generate")(withTs(
        Grasynda.generate(spark, model, seed, NSamples, 1.3)))
      spans("io.save_csv")(CsvIO.saveCsv(synthetic.select(col("DATE_TIME"), col(Price)), path))
      val back = spans("io.load_csv")(CsvIO.loadMultipleCsv(spark, Seq(path)))
      val dist = spans("eval.distribution")(
        DistributionEvaluator.evaluate(real, back, Order, Price).collect())
      val comp = spans("eval.composite")(CompositeMetric.score(real, back, Order, Price))
      (back, dist, comp)
    } { case (back, dist, comp) =>
      val rows = back.select(col("DATE_TIME"), col(Price)).collect()
      require(rows.length == NSamples, s"$g/$seed: ${rows.length} rows, want $NSamples")
      val prices = rows.map(_.getDouble(1))
      finite(prices.toSeq, s"$g/$seed prices")
      require(prices.forall(_ > 0), s"$g/$seed: non-positive price")
      require(dist.length == 1, s"distribution: ${dist.length} rows")
      finite(numeric(dist.head), "distribution metrics")
      finite(comp._1 +: comp._2.values.toSeq, "composite score")
      Map("key" -> s"$g/$seed", "checksum" -> checksum(rows))
    }
  }

  // ───────────────────────── panel_scale ─────────────────────────

  private def panelPass(pass: Int, parquet: String): Unit = {
    val sid = "series_id"
    val real = spark.read.parquet(parquet)
      .select(col(sid), timestamp_seconds(col("epoch_s")).as("DATE_TIME"), col(Price))
    val nSeries = real.select(col(sid)).distinct().count()
    val nBars = real.filter(col(sid) === 0).count().toInt
    def panelCheck(what: String)(df: DataFrame): Map[String, Any] = {
      val r = df.agg(count(lit(1)), min(col(Price)), max(col(Price)), countDistinct(col(sid)),
        sum(pmod(xxhash64(df.columns.map(col).toSeq: _*), lit(1000003L)))).head()
      require(r.getLong(0) == nSeries * nBars, s"$what: ${r.getLong(0)} rows, want ${nSeries * nBars}")
      require(r.getLong(3) == nSeries, s"$what: ${r.getLong(3)} series")
      finite(Seq(r.getDouble(1), r.getDouble(2)), s"$what prices")
      require(r.getDouble(1) > 0, s"$what: non-positive price")
      Map("key" -> what, "checksum" -> r.get(4).toString)
    }
    def metricsCheck(what: String)(rows: Array[Row]): Map[String, Any] = {
      require(rows.length == nSeries, s"$what: ${rows.length} rows, want $nSeries")
      finite(rows.toSeq.flatMap(numeric), what)
      Map.empty
    }
    val bb = op("gen.block_bootstrap_grouped", pass)(own(withTs(
      BlockBootstrap.generateGrouped(real, sid, Order, Price, 30, nBars, 7L))))(panelCheck("block_bootstrap"))
    op("gen.grasynda_grouped", pass) {
      val rets = SeriesOps.logReturns(real, SeriesSpec(Seq(sid), Order), Price, "ret")
        .filter(col("ret").isNotNull)
      own(Grasynda.generateGrouped(rets, sid, Order, "ret", 10, 7L, nBars, 1.3)
        .select(col(sid), col("rn"), col(Price)))
    }(panelCheck("grasynda"))
    op("gen.regime_fit_grouped", pass)(
      RegimeConditional.fitGrouped(real, sid, Order, Price, k = 4).collect()) { rows =>
      require(rows.length == nSeries, s"regime fits: ${rows.length}, want $nSeries")
      finite(rows.toSeq.flatMap(r => r.getSeq[Double](2) ++ r.getSeq[Double](4)), "regime fits")
      Map.empty
    }
    op("gen.regime_generate_grouped", pass) {
      val model = RegimeConditional.fit(real.filter(col(sid) === 0).drop(sid), Order, Price, 4)
      own(RegimeConditional.generateGrouped(real, sid, model, 7L, nBars, 1.3)
        .select(col(sid), col("rn"), col(Price)))
    }(panelCheck("regime_conditional"))
    bb.foreach { synth =>
      op("eval.distribution_grouped", pass)(
        DistributionEvaluator.evaluateGrouped(real, synth, sid, Order, Price).collect())(
        metricsCheck("distribution_grouped"))
      op("eval.composite_grouped", pass)(
        CompositeMetric.scoreGrouped(real, synth, sid, Order, Price).collect())(
        metricsCheck("composite_grouped"))
      val path = out.resolve("panel_synthetic.parquet").toString
      op("io.save_parquet", pass)(CsvIO.saveParquet(synth, path)) { _ =>
        panelCheck("saved_parquet")(spark.read.parquet(path)) }
    }
  }

  // ─────────────────────────── curate ────────────────────────────

  private var day1Out: String = _

  // the full-chain curate flags of the repo's scale bench cell
  private def curateFlags(input: String, output: String): Map[String, String] = {
      val nDocs = spark.read.parquet(input).count()
      Map("mode" -> "curate", "input_docs" -> input,
        "near_threshold" -> "0.5", "semantic_threshold" -> "0.9",
        "gopher_min_stop" -> "1", "min_tokens" -> "10", "max_rep_ratio" -> "0.5",
        "mixture_target" -> (0 until 20).map(i => s"src$i:0.05").mkString(","),
        "source_col" -> "source", "token_budget" -> (nDocs * 60).toString,
        "chunk_window" -> "400", "chunk_stride" -> "300", "pack_budget" -> "128",
        "output" -> output, "metrics_out" -> s"${output}_metrics.json",
        "stage_timing" -> "true")
  }

  private def curateDay(name: String, pass: Int, cfg: Map[String, String]): Unit =
    op(name, pass)(Cli.run(spark, GraftConfig.defaults ++ cfg)) { _ =>
      val chunks = spark.read.parquet(cfg("output")).count()
      require(chunks > 0, s"$name wrote no chunks")
      Map("chunks" -> chunks,
        "funnel" -> Files.readString(Paths.get(cfg("metrics_out"))).trim)
    }

  /** Day 2 against the seen register of the last day 1. */
  private def curateDay2(pass: Int): Unit =
    curateDay("cli.day2_incremental", pass,
      curateFlags(input("day2.parquet"), out.resolve(s"day2_p$pass").toString) +
        ("incremental_from" -> day1Out))

  /** Day 1, then the incremental day 2 against day 1's seen register. */
  private def curate(pass: Int): Unit = {
    day1Out = out.resolve(s"day1_p$pass").toString
    curateDay("cli.day1", pass, curateFlags(input("day1.parquet"), day1Out))
    curateDay2(pass)
  }

  private def pass(idx: Int): Unit = workload match {
    case "series_loop" => seriesPass(idx, input("series.csv"))
    case "panel_scale" => panelPass(idx, input("panel.parquet"))
    case "curate" => curate(idx)
  }

  /** The operation a user of the workflow repeats, run again on the last
    * pass's state: a candidate, or a curate day 2. */
  private def recurring(idx: Int): Unit = workload match {
    case "series_loop" => candidate(idx)
    case "curate" => curateDay2(idx)
    case "panel_scale" => pass(idx)
  }

  def execute(launched: Double): Map[String, Any] = {
    Files.createDirectories(out)
    System.setErr(new java.io.PrintStream(new StageTap(System.err, (name, t0, t1) =>
      spans.add(s"${Layers.ofStage(name)}.$name", t0, t1)), true))

    // set-up: from process launch until the session has finished its
    // first action, as a CLI user pays it on every invocation
    spark = session()
    firstAction()
    val setupMs = Clock.now() - launched
    if (trace) counters.register(spark)

    val passes = mutable.ArrayBuffer[Map[String, Any]]()
    def runPass(idx: Int, kind: String, traced: Boolean)(body: => Unit): Unit = {
      spans.enabled = traced; counters.enabled = traced
      val first = ops.size
      val cpu0 = processCpuMs()
      val t0 = Clock.now()
      body
      val t1 = Clock.now()
      val cpuMs = processCpuMs() - cpu0
      spans.enabled = false
      // drained in every pass: the heap figure below must not count
      // listener events still queued
      org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
      counters.enabled = false
      // heap still in use after a full collection, before storage is
      // released: what the pass retained, leaked blocks included. The
      // second collection follows the context cleaner, which drops the
      // broadcast and shuffle state the first one made unreachable.
      System.gc()
      Thread.sleep(300)
      System.gc()
      val liveMb = java.lang.management.ManagementFactory.getMemoryMXBean
        .getHeapMemoryUsage.getUsed / 1048576.0
      val released = release()
      passes += Map("index" -> idx, "kind" -> kind, "start" -> t0, "end" -> t1,
        "ops" -> (first until ops.size), "live_heap_mb" -> liveMb, "cpu_ms" -> cpuMs,
        "released_rdds_after" -> released)
    }

    if (trace) {
      // the per-layer figures come from a traced pass of the same cold
      // shape the timed runs measure. The tracing overhead is the traced
      // minus the untraced wall time of the workload's recurring operation,
      // run once more each way on the pass's state; traced first, so the
      // untraced run is the warmer one and the overhead is not understated.
      runPass(0, "traced", traced = true)(pass(0))
      runPass(1, "overhead_traced", traced = true)(recurring(1))
      runPass(2, "overhead_untraced", traced = false)(recurring(2))
    } else {
      // from a fresh process, as a CLI user runs the workflow: no warm-up
      val deadline = Clock.now() + seconds * 1000
      var idx = 0
      do { runPass(idx, "measured", traced = false)(pass(idx)); idx += 1 }
      while (Clock.now() < deadline)
    }

    val status = Files.readString(Paths.get("/proc/self/status"))
    val hwmKb = """VmHWM:\s+(\d+)""".r.findFirstMatchIn(status).map(_.group(1).toDouble).getOrElse(Double.NaN)
    val record = Map(
      "workload" -> workload,
      "setup_ms" -> setupMs,
      "passes" -> passes.toSeq,
      "ops" -> ops.toSeq,
      "spans" -> spans.rows,
      "jobs" -> counters.jobRows,
      "queries" -> counters.queryRows,
      "peak_rss_mb" -> hwmKb / 1024.0,
      "host_probe" -> HostProbe.rows,
      "spark_version" -> spark.version,
      "jvm" -> s"${System.getProperty("java.vm.name")} ${System.getProperty("java.version")}",
      "cores" -> Runtime.getRuntime.availableProcessors(),
      "conf" -> conf.map { case (k, v) => s"$k=$v" })
    spark.stop()
    record
  }
}

/** Samples how fast the host runs this JVM, apart from the program: a
  * daemon thread times a fixed piece of work (arithmetic plus random reads
  * over 8 MiB) in thread CPU time every PeriodMs. Time the host gives to
  * other tenants does not count in thread CPU time; what the samples show
  * is how slowly the core runs the work while it has it, which a shared
  * host changes from one second to the next. One sample costs about 1% of
  * one core. */
object HostProbe {
  val PeriodMs = 200L
  private val samples = new java.util.concurrent.ConcurrentLinkedQueue[(Double, Double)]()
  private val table = new Array[Long](1 << 20)
  @volatile private var sink = 0L

  private def work(): Long = {
    var h = 0x9E3779B97F4A7C15L
    var i = 0
    while (i < 300000) {
      h = h * 6364136223846793005L + 1442695040888963407L
      val k = ((h >>> 40) & (table.length - 1)).toInt
      table(k) += h
      i += 1
    }
    h + table(7)
  }

  def start(): Unit = {
    val t = new Thread(() => {
      val bean = java.lang.management.ManagementFactory.getThreadMXBean
      (1 to 50).foreach(_ => sink += work()) // compiled before it is timed
      while (true) {
        val c0 = bean.getCurrentThreadCpuTime
        sink += work()
        val c1 = bean.getCurrentThreadCpuTime
        samples.add((Clock.now(), (c1 - c0) / 1e6))
        Thread.sleep(PeriodMs)
      }
    }, "perfbench-host-probe")
    t.setDaemon(true)
    t.start()
  }

  /** (epoch ms, cpu ms of one piece of work) pairs. */
  def rows: Seq[Seq[Double]] = {
    val b = Seq.newBuilder[Seq[Double]]
    samples.forEach { case (at, ms) => b += Seq(at, ms) }
    b.result()
  }
}

object Layers {
  private val text = Set("exact_dedup", "minhash_pairs_build", "near_dedup_cc", "quality_gates",
    "lm_gate", "pii_redact", "gopher_gate", "lang_gate", "quality_classifier",
    "near+semantic_dedup", "cut_dup_spans", "url_dedup", "domain_gate", "id_guard",
    "cut_contaminated_spans", "bpe_train")
  private val sim = Set("semantic_embed_ckpt", "semantic_pairs_build", "semantic_cc", "topic_fit")
  private val io = Set("chunk_pack_topic_write", "seen_register_write", "input_count", "output_readback")
  def ofStage(stage: String): String =
    if (text(stage)) "text" else if (sim(stage)) "sim" else if (io(stage)) "io" else "cli"
}

/** Minimal JSON writer for the record: maps, sequences, numbers, strings. */
object Json {
  def write(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => write(x)
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => write(f.toDouble)
    case n: Number => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + write(x) }.mkString("{", ",", "}")
    case r: Range => r.map(write).mkString("[", ",", "]")
    case xs: Iterable[_] => xs.map(write).mkString("[", ",", "]")
    case o => quote(o.toString)
  }
  private def quote(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }
}
