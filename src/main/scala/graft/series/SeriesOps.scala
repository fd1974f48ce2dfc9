package graft.series

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.{Window, WindowSpec}
import org.apache.spark.sql.functions._

import scala.collection.BufferedIterator

/** Which series a row belongs to and how rows are ordered within it.
  *
  * The reference engine (harveybc/synthetic-datagen) operates on ONE
  * implicit-row-order pandas series; every Spark transform here pins the
  * order explicitly (`app/data_processor.py` relies on positional order).
  * `partitionCols` generalizes the single-series semantics to a
  * many-series engine: at 100 TB the data is millions of independent
  * series, window functions shuffle once on the series key and then run
  * within partitions with no further data movement (SURVEY.md §7.4.7).
  * `orderCols` should end with a unique tiebreaker column so every
  * transform is deterministic under re-partitioning.
  */
final case class SeriesSpec(partitionCols: Seq[String], orderCols: Seq[String]) {
  def w: WindowSpec =
    if (partitionCols.isEmpty) Window.orderBy(orderCols.map(col): _*)
    else Window.partitionBy(partitionCols.map(col): _*).orderBy(orderCols.map(col): _*)

  /** rows-frame [-(k-1), 0] — trailing window of k rows incl. current */
  def trailing(k: Int): WindowSpec = w.rowsBetween(-(k - 1).toLong, 0L)
  def running: WindowSpec = w.rowsBetween(Window.unboundedPreceding, 0L)
  def following: WindowSpec = w.rowsBetween(0L, Window.unboundedFollowing)
  def whole: WindowSpec =
    (if (partitionCols.isEmpty) Window.partitionBy()
     else Window.partitionBy(partitionCols.map(col): _*))
      .orderBy(orderCols.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
}

/** W1–W14 series transforms from SURVEY.md §2.5, as composable DataFrame
  * ops over `org.apache.spark.sql.functions` (whole-stage-codegen'd; no
  * UDFs). References cite the behavior source in the reference repo.
  */
object SeriesOps {

  /** Rows above which [[indexedSeries]] switches to the distributed
    * build — below it the plain single-partition row_number pass is
    * faster (no RDD boundary) and the partition is bounded anyway. */
  val BigSeriesRows = 100000L

  /** Dense 1-based (rn: long, p: double) index of a single ordered
    * series. Small series: one row_number pass. Big series: distributed
    * range-partitioned sort + RDD zipWithIndex — no single-partition
    * window at any scale, and the index stays a long (an Int counter
    * would silently wrap past 2^31 rows — exactly the scale this path
    * exists for). */
  def indexedSeries(df: DataFrame, orderCols: Seq[String], value: String,
                    big: Boolean): DataFrame =
    if (!big)
      df.withColumn("rn",
        row_number().over(Window.orderBy(orderCols.map(col): _*)).cast("long"))
        .select(col("rn"), col(value).cast("double").as("p"))
    else {
      val spark = df.sparkSession
      import spark.implicits._
      df.select((col(value).cast("double").as("p") +: orderCols.map(col)): _*)
        .orderBy(orderCols.map(col): _*)
        .select(col("p")) // ordering cols no longer needed after the sort
        .rdd.zipWithIndex()
        .map { case (row, i) => (i + 1L, row.getDouble(0)) }
        .toDF("rn", "p")
    }

  /** W1 + P4: log-returns `ln(p_t) − ln(p_{t−1})` with a positive-floor
    * clip guard. Ref: app/data_processor.py:44-47 (np.diff(np.log(p)));
    * clip ref: regime_hmm_garch.py:67. First row of each series gets
    * null (reference drops it — callers filter).
    */
  def logReturns(df: DataFrame, spec: SeriesSpec, value: String,
                 out: String = "ret", floor: Double = 1e-10): DataFrame = {
    val lp = log(greatest(col(value), lit(floor)))
    df.withColumn(out, lp - lag(lp, 1).over(spec.w))
  }

  /** W2: reconstruct prices from log-returns: `p0 · exp(running Σ ret)`.
    * Ref: app/data_processor.py:50-54. `initial` is the p0 column or
    * literal; the running sum is a single window scan — no recurrence.
    * Every generator reconstructs through here (the g-query oracles
    * replay this exact arithmetic); a row whose running sum is still
    * null (only null returns so far) gets a null price.
    */
  def reconstructPrices(df: DataFrame, spec: SeriesSpec, ret: String,
                        initial: Column, out: String = "price"): DataFrame =
    df.withColumn(out, initial * exp(sum(col(ret)).over(spec.running)))

  /** W3: overlapping sliding windows of `size` values (only full windows
    * kept — reference errors when n < W, data_processor.py:62-63; here
    * short prefixes are dropped which matches the (N−W+1) output shape).
    * Ref: app/data_processor.py:59-65.
    */
  def slidingWindows(df: DataFrame, spec: SeriesSpec, value: String, size: Int,
                     out: String = "window"): DataFrame =
    df.withColumn(out, collect_list(col(value)).over(spec.trailing(size)))
      .filter(size_(col(out)) === size)

  /** W4: supervised (X, y): X = trailing window, y = value at +horizon.
    * Ref: sdg_plugins/evaluator/predictive_evaluator.py:54-72. */
  def supervisedWindows(df: DataFrame, spec: SeriesSpec, value: String,
                        size: Int, horizon: Int,
                        xOut: String = "x", yOut: String = "y"): DataFrame =
    slidingWindows(df, spec, value, size, xOut)
      .withColumn(yOut, lead(col(value), horizon).over(spec.w))
      .filter(col(yOut).isNotNull)

  /** W4 at scale: supervised windows over ONE huge series WITHOUT a
    * single-partition window. Rows are halo-replicated into fixed-size
    * chunks keyed by `floor(pos/chunkSize)` (a row is also copied to
    * the previous chunk when it serves as a label for that chunk's tail
    * windows, and to the next chunk when it feeds that chunk's head
    * windows), then the trailing-window + lead build runs WITHIN each
    * chunk partition. Output is row-for-row identical to
    * [[supervisedWindows]] (asserted in SeriesOpsSpec); shuffle volume
    * is rows × (1 + (size+horizon)/chunkSize) — parallel at any scale.
    *
    * @param rn 1-based dense row index column (row_number output). */
  def chunkedSupervisedWindows(df: DataFrame, rn: String, value: String,
                               size: Int, horizon: Int, chunkSize: Int = 4096,
                               xOut: String = "x", yOut: String = "y"): DataFrame = {
    require(chunkSize >= size + horizon,
      s"chunkSize $chunkSize must cover window $size + horizon $horizon")
    val pos = col(rn) - 1 // 0-based position
    val c = lit(chunkSize)
    val owner = floor(pos / c).cast("long")
    val posIn = pos % c
    // candidate chunk copies: owner; owner-1 when this row is a LABEL for
    // the previous chunk's tail; owner+1 when it is an X-row of the next
    // chunk's head windows
    val copies = array_compact(array(
      owner,
      when(posIn <= horizon - 1 && owner > 0, owner - 1),
      when(posIn >= chunkSize - size + 1, owner + 1)))
    val exploded = df
      .withColumn("_chunk", explode(copies))
    val w = Window.partitionBy(col("_chunk")).orderBy(col(rn))
    val trailing = w.rowsBetween(-(size - 1), 0)
    exploded
      .withColumn(xOut, collect_list(col(value)).over(trailing))
      .withColumn(yOut, lead(col(value), horizon).over(w))
      .filter(col("_chunk") === owner) // keep each window at its owner
      .filter(size_(col(xOut)) === size && col(yOut).isNotNull)
      .drop("_chunk")
  }

  /** W5: rolling SAMPLE std (pandas rolling(...).std() is ddof=1 —
    * unlike the population std of the global moments, SURVEY §7.4.5)
    * with min_periods semantics: null until `minPeriods` observations.
    * Ref: regime_conditional.py:64-79.
    */
  def rollingStd(df: DataFrame, spec: SeriesSpec, value: String, window: Int,
                 minPeriods: Int, out: String = "vol"): DataFrame = {
    val fr = spec.trailing(window)
    df.withColumn(out,
      when(count(col(value)).over(fr) >= minPeriods,
        stddev_samp(col(value)).over(fr)))
  }

  /** W6: backfill leading nulls with the first following non-null.
    * Ref: regime_bootstrap_hybrid.py:41-44 (.bfill()).
    *
    * Implemented as `last(ignoreNulls)` over the REVERSED running frame:
    * Spark evaluates growing (unbounded-preceding) frames incrementally
    * in O(n), while a [current → unbounded following] frame re-scans the
    * partition tail per row — O(n²), minutes on a 100k-row series. */
  def backfill(df: DataFrame, spec: SeriesSpec, value: String,
               out: String = "filled"): DataFrame = {
    val reversed =
      (if (spec.partitionCols.isEmpty)
        Window.partitionBy()
      else Window.partitionBy(spec.partitionCols.map(col): _*))
        .orderBy(spec.orderCols.map(c => col(c).desc): _*)
        .rowsBetween(Window.unboundedPreceding, 0L)
    df.withColumn(out,
      coalesce(col(value), last(col(value), ignoreNulls = true).over(reversed)))
  }

  /** Gap-based sessionization (beyond reference): a new session starts
    * at each series' first row and wherever the time gap from the
    * previous row exceeds `gapSeconds`; ids are the running count of
    * session starts (1-based per series). ONE window pass keyed on the
    * series — the same shuffle shape as a grouped aggregation, so it
    * scales like groupBy at 100 TB. Gaps compare in integer
    * microseconds (exact on both oracle engines). */
  def sessionize(df: DataFrame, spec: SeriesSpec, ts: String,
                 gapSeconds: Long, out: String = "session_id"): DataFrame = {
    val gap = unix_micros(col(ts)) - lag(unix_micros(col(ts)), 1).over(spec.w)
    df.withColumn("__newsess",
        when(gap.isNull || gap > gapSeconds * 1000000L, 1L).otherwise(0L))
      .withColumn(out, sum(col("__newsess"))
        .over(spec.w.rowsBetween(Window.unboundedPreceding, 0L)))
      .drop("__newsess")
  }

  /** W7: short/long vol ratio with ÷0→1.0 guard.
    * Ref: regime_conditional.py:73; regime_hmm_garch.py:70. */
  def volRatio(short: Column, long: Column): Column =
    when(long > 1e-10, short / long).otherwise(1.0)

  /** W8: cyclical temporal features — sin/cos of hour/24, weekday/5
    * (forex trading week, Mon=0), month/12. pandas dayofweek is 0=Mon;
    * Spark dayofweek is 1=Sun, hence the (+5)%7 shift.
    * Ref: app/data_processor.py:70-92.
    */
  def temporalFeatures(df: DataFrame, ts: String): DataFrame = {
    val tau = 2.0 * math.Pi
    val hr = hour(col(ts)).cast("double")
    val dw = ((dayofweek(col(ts)) + 5) % 7).cast("double")
    val mo = month(col(ts)).cast("double")
    df.withColumn("hour_sin", sin(hr * (tau / 24.0)))
      .withColumn("hour_cos", cos(hr * (tau / 24.0)))
      .withColumn("dow_sin", sin(dw * (tau / 5.0)))
      .withColumn("dow_cos", cos(dw * (tau / 5.0)))
      .withColumn("month_sin", sin(mo * (tau / 12.0)))
      .withColumn("month_cos", cos(mo * (tau / 12.0)))
  }

  /** W9: subtract the window mean from each element of an array column
    * ("zero-mean drift correction"). Pure higher-order array functions —
    * stays inside codegen. Ref: typical_price_generator.py:146-149. */
  def meanCenter(arr: Column): Column = {
    val mean = aggregate(arr, lit(0.0), (acc, x) => acc + x) / size_(arr)
    transform(arr, x => x - mean)
  }

  /** W10: running peak (for drawdown). Ref: evaluate_all_generators.py:110-113. */
  def runningPeak(df: DataFrame, spec: SeriesSpec, value: String,
                  out: String = "peak"): DataFrame =
    df.withColumn(out, max(col(value)).over(spec.running))

  /** W12: block boundary smoothing — blend each block's first return with
    * the previous row's value. Ref: regime_bootstrap_hybrid.py:170-181. */
  def blockSmooth(df: DataFrame, spec: SeriesSpec, ret: String,
                  isBlockStart: Column, smoothWeight: Double,
                  out: String = "ret_smooth"): DataFrame =
    df.withColumn(out,
      when(isBlockStart && lag(col(ret), 1).over(spec.w).isNotNull,
        (lit(1.0) - smoothWeight) * col(ret) + lit(smoothWeight) * lag(col(ret), 1).over(spec.w))
        .otherwise(col(ret)))

  /** W13: crossfade stitch — rows in the first `overlap` positions of a
    * non-first block are alpha-blended with the previous block's tail
    * (linear ramp), as pure window arithmetic.
    * Ref variant: optimize_generator_v3.py:87-133. Expects rows keyed
    * by (blockCol, posCol); `spec` orders the concatenated stream. */
  def crossfadeStitch(df: DataFrame, spec: SeriesSpec, value: String,
                      blockCol: String, posCol: String, overlap: Int,
                      out: String = "stitched"): DataFrame = {
    val alpha = (col(posCol) + 1).cast("double") / (overlap + 1)
    val prevTail = lag(col(value), overlap).over(spec.w)
    df.withColumn(out,
      when(col(posCol) < overlap && col(blockCol) > 0 && prevTail.isNotNull,
        (lit(1.0) - alpha) * prevTail + alpha * col(value))
        .otherwise(col(value)))
  }

  /** W14: AR(1) bridge — a short endpoint-pinned interpolation segment
    * between two blocks. Sequential recurrence over a SHORT bridge ⇒
    * driver-side by design (ref optimize_generator_v3.py:148-201;
    * SURVEY §7.4.2). Noise shrinks linearly toward both endpoints. */
  def arBridge(from: Double, to: Double, length: Int, phi: Double,
               sigma: Double, seed: Long): Array[Double] = {
    require(length >= 2, "bridge needs >= 2 points")
    val rnd = new scala.util.Random(seed)
    val out = new Array[Double](length)
    var noise = 0.0
    var i = 0
    while (i < length) {
      val f = i.toDouble / (length - 1)
      noise = phi * noise + rnd.nextGaussian() * sigma
      val pin = math.min(f, 1.0 - f) * 2.0 // 0 at endpoints, 1 mid
      out(i) = (1.0 - f) * from + f * to + noise * pin
      i += 1
    }
    out(0) = from; out(length - 1) = to
    out
  }

  /** Contiguous-run segmentation: label each maximal run of equal `state`
    * with a running segment id (change-flag + running sum). Used by the
    * regime-bootstrap generator to cut per-regime blocks.
    * Ref: regime_bootstrap_hybrid.py:49-108 (SURVEY G6). */
  def runSegments(df: DataFrame, spec: SeriesSpec, state: String,
                  out: String = "segment"): DataFrame = {
    val changed = when(
      lag(col(state), 1).over(spec.w).isNull ||
      lag(col(state), 1).over(spec.w) =!= col(state), 1).otherwise(0)
    df.withColumn(out, sum(changed).over(spec.running))
  }

  /** The per-series walk of a clustered partition: every per-series
    * kernel (evaluators, fitters, generators, the optimizer sweep)
    * exchanges once on its series key, sorts each series' rows in
    * place, and then runs this over each partition.
    *
    * `part` must hold each key's rows consecutively (hash-clustered and
    * sorted on the key, or a window's output, which is both). Each
    * maximal run of rows with equal `key` is handed to `f(key, run)`
    * as a buffered iterator over that run's rows alone; rows `f`
    * leaves unread are skipped before the next run starts, and the
    * results are flattened lazily, so one run's rows are in memory at
    * a time and the output streams. A key that reappears after another
    * key starts a second run. `run` is valid only until `f`'s result
    * has been read to its end. */
  def runs[R, K, T](part: Iterator[R])(key: R => K)(
      f: (K, BufferedIterator[R]) => IterableOnce[T]): Iterator[T] =
    new Iterator[T] {
      private val it = part.buffered
      private var run: Run = _
      private var out: Iterator[T] = Iterator.empty

      private final class Run(k: K) extends BufferedIterator[R] {
        private var known = false
        private var more = false
        def hasNext: Boolean = {
          if (!known) { more = it.hasNext && key(it.head) == k; known = true }
          more
        }
        def head: R = {
          if (!hasNext) throw new NoSuchElementException("end of run")
          it.head
        }
        def next(): R = { head; known = false; it.next() }
      }

      private def advance(): Unit =
        while (!out.hasNext && {
            if (run != null) while (run.hasNext) run.next()
            it.hasNext
          }) {
          val k = key(it.head)
          run = new Run(k)
          out = f(k, run).iterator
        }

      def hasNext: Boolean = { advance(); out.hasNext }
      def next(): T = { advance(); out.next() }
    }

  // spark's `size` shadowed by WindowSpec import contexts; local alias
  private def size_(c: Column): Column = org.apache.spark.sql.functions.size(c)

  /** W15 (beyond reference): CLASSICAL additive seasonal decomposition
    * — value = trend + seasonal + resid — the moving-average method
    * every STL implementation bootstraps from (and the standard first
    * look at any periodic series before fitting a generator on it):
    * trend = centered `period`-point moving average (defined only
    * where the full window exists — ODD period required so the window
    * centers exactly); seasonal = per-phase mean of the detrended
    * series, centered so the m phase effects sum to zero; resid = the
    * rest. Emits per-row (rn, trend, seasonal, resid).
    *
    * Scale shape: one shuffle on the series key for the windows, then
    * a (series, phase)-keyed agg whose output is m rows per series —
    * tiny — joined back broadcast-style. Nothing global. */
  /** W16 (beyond reference): exponentially-weighted moving average per
    * series — pandas `ewm(adjust=True).mean()` semantics TRUNCATED at
    * `k` lags: s_t = Σ_{j=0..k} q^j·x_{t−j} / Σ_{j=0..k} q^j over the
    * lags that exist, q the decay (q^k is the documented truncation
    * mass, ≤ 1.2% at the default q=0.8, k=20). Truncation is what
    * makes the op distributable AND oracle-replayable: both engines
    * evaluate the SAME k-term Horner chain (num and den nest
    * identically), so no running-state recursion and no float-order
    * divergence. Pass q as a plain decimal literal — the oracle prints
    * it back verbatim, so both engines parse the identical double
    * (never compute it as 1−α, which rounds differently).
    *
    * Scale shape: one shuffle on the series key; k lags ride one
    * window — the c03 lag-chain shape. */
  def ewma(df: DataFrame, spec: SeriesSpec, value: String,
           q: Double, k: Int = 20): DataFrame = {
    require(q > 0 && q < 1, s"decay q must be in (0,1), got $q")
    require(k >= 1, s"need at least one lag, got $k")
    val lags = (0 to k).map { j =>
      if (j == 0) col(value) else lag(col(value), j).over(spec.w)
    }
    val num = lags.foldRight(lit(0.0): Column)((t, acc) =>
      coalesce(t, lit(0.0)) + lit(q) * acc)
    val den = lags.foldRight(lit(0.0): Column)((t, acc) =>
      when(t.isNotNull, lit(1.0)).otherwise(lit(0.0)) + lit(q) * acc)
    df.withColumn("ewma", num / den)
  }

  def seasonalDecompose(df: DataFrame, spec: SeriesSpec, value: String,
                        period: Int): DataFrame = {
    require(period % 2 == 1 && period > 1,
      s"classical decomposition needs an odd period > 1, got $period")
    val half = (period - 1) / 2
    val cw = spec.w.rowsBetween(-half.toLong, half.toLong)
    val based = df
      .withColumn("rn", row_number().over(spec.w))
      .withColumn("_trend",
        when(count(col(value)).over(cw) === period,
          avg(col(value)).over(cw)))
      .withColumn("_phase", (col("rn") - 1) % period)
    val keys = spec.partitionCols
    val phaseMeans = based.filter(col("_trend").isNotNull)
      .groupBy((keys :+ "_phase").map(col): _*)
      .agg(avg(col(value) - col("_trend")).as("_pmean"))
    val centers = phaseMeans.groupBy(keys.map(col): _*)
      .agg(avg(col("_pmean")).as("_center"))
    based
      .join(phaseMeans, keys :+ "_phase")
      .join(centers, keys)
      .withColumn("_seasonal", col("_pmean") - col("_center"))
      .withColumn("trend", round(col("_trend"), 6))
      .withColumn("seasonal", round(col("_seasonal"), 6))
      .withColumn("resid",
        round(col(value) - col("_trend") - col("_seasonal"), 6))
      .drop("_trend", "_phase", "_pmean", "_center", "_seasonal")
  }
}
