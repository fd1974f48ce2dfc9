package graft.stats

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** C1–C4 two-sample distribution distances (SURVEY.md §2.4), computed as
  * pure DataFrame pipelines (one sort-free hash-agg pass for histograms;
  * one global sort over the DISTINCT value support for ECDF stats — the
  * support is orders of magnitude smaller than the data after the
  * group-by, so the sort is cheap even at scale). These are the
  * one-sample-pair operators (q14/q15); the evaluators compute the same
  * distances per series inside their kernel
  * ([[graft.eval.SeriesKernel.histJs2]] / [[graft.eval.SeriesKernel.ecdf]]).
  */
object Divergence {

  /** C1/C2: Jensen–Shannon divergence between the equal-width histograms
    * of two labeled samples over their COMBINED min..max support.
    * Ref: distribution_evaluator.py:27-36,94 (100 bins, density=True,
    * +1e-10 smoothing, renormalize, squared JS distance published under
    * the — kept — misnomer key `kl_divergence`);
    * composite_metric.py:96-100 (unsquared `js_divergence`).
    * Output single row: (kl_divergence = JS², js_divergence = JS).
    */
  def histJsd(df: DataFrame, value: String, label: Column,
              a: String, b: String, nBins: Int = 100): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(value).cast("double")
    val twoSamples = df.filter(label.isin(a, b)).select(v.as("v"), label.as("lab"))
    // exactly two data-sized passes: the min/max agg and the bucket
    // hash-agg (each map-side combinable). Binning against LITERAL
    // lo/hi — a broadcast range subquery re-derives the input lineage
    // once per downstream broadcast job, which is what made every
    // caller pay ~4 full scans per action.
    val r0 = twoSamples.agg(min(col("v")).as("lo"), max(col("v")).as("hi")).first()
    val (lo, hi) =
      if (r0.isNullAt(0)) (0.0, 0.0) else (r0.getDouble(0), r0.getDouble(1))
    // ≤ nBins count rows — collected; all smoothing arithmetic below
    // runs on a local relation (identical formulas, zero re-scans)
    val counts = twoSamples
      .withColumn("bucket", Histogram.bucketCol(col("v"), lit(lo), lit(hi), nBins))
      .filter(col("bucket").isNotNull) // null v never lands in a bin
      .groupBy(col("bucket"))
      .agg(
        sum(when(col("lab") === a, 1).otherwise(0)).as("ca"),
        sum(when(col("lab") === b, 1).otherwise(0)).as("cb"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .toSeq.toDF("bucket", "ca", "cb")
    // all nBins bins participate in smoothing (np.histogram emits zeros)
    val allBins = spark.range(nBins).select(col("id").cast("int").as("bucket"))
    val eps = 1e-10
    val hist = allBins.join(counts, Seq("bucket"), "left")
      .select(col("bucket"),
        coalesce(col("ca"), lit(0L)).as("ca"),
        coalesce(col("cb"), lit(0L)).as("cb"))
    // totals via agg + broadcast crossJoin (not an empty-partition window:
    // that funnels the frame into one partition and warns at scale)
    val totals = hist.agg(sum(col("ca")).as("ta"), sum(col("cb")).as("tb"))
    val raw = hist.crossJoin(broadcast(totals))
      .withColumn("pa_raw", col("ca") / col("ta") + eps)
      .withColumn("pb_raw", col("cb") / col("tb") + eps)
    val rawTotals = raw.agg(sum(col("pa_raw")).as("tpa"), sum(col("pb_raw")).as("tpb"))
    val smoothed = raw.crossJoin(broadcast(rawTotals))
      .withColumn("pa", col("pa_raw") / col("tpa"))
      .withColumn("pb", col("pb_raw") / col("tpb"))
      .withColumn("m", (col("pa") + col("pb")) / 2)
    smoothed.groupBy().agg(
      (sum(col("pa") * log(col("pa") / col("m"))) * 0.5 +
       sum(col("pb") * log(col("pb") / col("m"))) * 0.5).as("kl_divergence"))
      .withColumn("js_divergence", sqrt(col("kl_divergence")))
  }

  /** C3+C4 in one pass: exact 1-D Wasserstein-1 distance (∫|Fa−Fb| dx
    * over the union support — scipy.stats.wasserstein_distance semantics)
    * and the Kolmogorov–Smirnov statistic max|Fa−Fb|.
    * Ref: distribution_evaluator.py:39-40,95; composite_metric.py:103.
    * Output single row: (wasserstein, ks_stat).
    *
    * Scale: the distinct support of a CONTINUOUS column is data-sized,
    * so the cumulative ECDF scan must not be a single global ordered
    * window. The support is range-partitioned on v; each partition
    * computes its local integer cumsums + lead, and the per-partition
    * count offsets / boundary next-values (≤ one row per partition) are
    * collected and broadcast back. Every per-row fa/fb/gap/dx double is
    * BIT-IDENTICAL to the global-window formulation — integer count
    * prefixes are exact in any association — so oracle parity is
    * untouched; only the final sum's association differs (absorbed by
    * the callers' r6 rounding).
    */
  def ecdfStats(df: DataFrame, value: String, label: Column,
                a: String, b: String): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val v = col(value).cast("double")
    val perValue = df.filter(label.isin(a, b))
      .select(v.as("v"), label.as("lab"))
      .groupBy(col("v"))
      .agg(
        sum(when(col("lab") === a, 1).otherwise(0)).as("na"),
        sum(when(col("lab") === b, 1).otherwise(0)).as("nb"))
    val nParts = spark.sessionState.conf.numShufflePartitions
    val parts = perValue
      .repartitionByRange(nParts, col("v"))
      .withColumn("pid", spark_partition_id())
      .localCheckpoint() // one support-sized materialization feeds both
                         // the offset collect and the main pass
    // per-partition totals + min v (≤ nParts rows): exact long prefix
    // offsets and the boundary "next value" computed on the driver
    val pstats = parts.groupBy(col("pid"))
      .agg(sum(col("na")).as("pna"), sum(col("nb")).as("pnb"),
        min(col("v")).as("vmin"))
      .collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
      .sortBy(_._1)
    if (pstats.isEmpty)
      return Seq.empty[(Double, Double)].toDF("gap", "dx")
        .agg(sum(lit(0.0)).as("wasserstein"), max(lit(0.0)).as("ks_stat"))
    val ta = pstats.map(_._2).sum
    val tb = pstats.map(_._3).sum
    var accA = 0L; var accB = 0L
    val offsets = pstats.zipWithIndex.map { case ((pid, pna, pnb, _), i) =>
      val row = (pid, accA, accB,
        if (i + 1 < pstats.length) Some(pstats(i + 1)._4) else None)
      accA += pna; accB += pnb
      row
    }.toSeq.toDF("pid", "off_a", "off_b", "next_v")
    val wIn = Window.partitionBy(col("pid")).orderBy(col("v"))
    val run = wIn.rowsBetween(Window.unboundedPreceding, 0)
    val ecdf = parts.join(broadcast(offsets), "pid")
      .withColumn("fa", (col("off_a") + sum(col("na")).over(run)) / lit(ta))
      .withColumn("fb", (col("off_b") + sum(col("nb")).over(run)) / lit(tb))
      .withColumn("dx",
        coalesce(lead(col("v"), 1).over(wIn), col("next_v")) - col("v"))
      .withColumn("gap", abs(col("fa") - col("fb")))
    ecdf.groupBy().agg(
      sum(when(col("dx").isNotNull, col("gap") * col("dx")).otherwise(0.0)).as("wasserstein"),
      max(col("gap")).as("ks_stat"))
  }
}
