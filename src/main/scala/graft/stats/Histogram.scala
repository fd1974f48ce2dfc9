package graft.stats

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** A3/A5/A6: fixed-range equal-width histograms (SURVEY.md §2.4).
  * Ref: distribution_evaluator.py:27-36 (100 bins over combined min..max,
  * density-normalized); digitize grasynda_generator.py:84.
  *
  * Bucket formula kept as plain double arithmetic
  * `least(floor((x−lo)/(hi−lo)·n), n−1)` so the DuckDB oracle can run the
  * byte-identical expression (no reliance on engine-specific
  * width_bucket edge conventions).
  *
  * Scale: one pass for the range, one hash-agg pass for counts — both
  * map-side combinable; the range row is broadcast.
  */
object Histogram {

  /** Assign equal-width bucket ids [0, nBins). `lo`/`hi` as columns.
    * A null `x` gets a null bucket; a zero range (hi = lo) puts every
    * value in the last bin (the divide is null and `least` skips it). */
  def bucketCol(x: org.apache.spark.sql.Column, lo: org.apache.spark.sql.Column,
                hi: org.apache.spark.sql.Column, nBins: Int): org.apache.spark.sql.Column =
    when(x.isNotNull, least(floor((x - lo) / (hi - lo) * nBins), lit(nBins - 1)))
      .cast("int")

  /** Histogram of `value`, optionally per `label` group but over the
    * COMBINED min..max range (the reference compares real-vs-synthetic on
    * a shared support). Null values are dropped.
    * Output: (label?, bucket, cnt, density).
    */
  def fixedBins(df: DataFrame, value: String, nBins: Int,
                labelCol: Option[String] = None): DataFrame = {
    val v = col(value).cast("double")
    val present = df.filter(v.isNotNull)
    val range = present.groupBy().agg(min(v).as("lo"), max(v).as("hi"))
    val withB = present.crossJoin(broadcast(range))
      .withColumn("bucket", bucketCol(v, col("lo"), col("hi"), nBins))
      .withColumn("bin_width", (col("hi") - col("lo")) / nBins)
    val keys = labelCol.toSeq :+ "bucket"
    val counts = withB.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"), first(col("bin_width")).as("bin_width"))
    val totW =
      if (labelCol.isEmpty) org.apache.spark.sql.expressions.Window.partitionBy()
      else org.apache.spark.sql.expressions.Window.partitionBy(col(labelCol.get))
    counts
      .withColumn("density",
        col("cnt") / (sum(col("cnt")).over(totW) * col("bin_width")))
      .drop("bin_width")
  }

  /** Hash-sampled exact quantiles (a20, beyond reference): exact
    * percentiles of a petabyte column need a full sort; a DETERMINISTIC
    * sample — rows whose portable h64(key) falls under p·2⁶⁰ — gives
    * type-7 (numpy-default) interpolated quantiles with
    * O(1/√(p·n)) order-statistic error, and unlike rand()-sampling it
    * is reproducible across runs, mergeable across shards (the sample
    * of a union IS the union of samples), and consistent across
    * queries (the same rows are 'the sample' everywhere). The rank
    * window runs on the SAMPLE (p sized so it fits one task — the
    * production knob); the full-data exact side computed here is the
    * gate-scale accuracy WITNESS (the a18 n_exact pattern), not the
    * production path.
    *
    * Both engines interpolate with the explicit lo/hi-rank formula
    * v_lo + (v_hi−v_lo)·frac over exact-integer ranks — no reliance on
    * either engine's quantile() interpolation convention. */
  def hashSampleQuantiles(df: DataFrame, value: String, key: String,
                          qs: Seq[Double], pShift: Int,
                          seed: Int): (DataFrame, DataFrame) = {
    val vals = hashKeyed(df, value, key, seed)
    (rankedFrame(vals.filter(col("_h") < lit(1L << (60 - pShift)))),
      rankedFrame(vals))
  }

  private def hashKeyed(df: DataFrame, value: String, key: String,
                        seed: Int): DataFrame =
    df.select(col(value).as("value"),
      graft.text.Dedup.h64(col(key).cast("string"), seed).as("_h"))

  private def rankedFrame(d: DataFrame): DataFrame = d.select(col("value"))
    .withColumn("rn", row_number().over(
      org.apache.spark.sql.expressions.Window.orderBy(col("value"))))
    .withColumn("m", count(lit(1)).over(
      org.apache.spark.sql.expressions.Window.partitionBy()))

  /** One quantile frame over a [[hashSampleQuantiles]] ranked side:
    * (q, m, est) via the explicit two-rank interpolation. */
  def quantileFrame(ranked: DataFrame, qdf: DataFrame,
                    est: String): DataFrame = {
    val m1 = broadcast(ranked.agg(max(col("m")).as("m")))
    qdf.crossJoin(m1)
      .withColumn("_x", (col("m") - lit(1)).cast("double") * col("q"))
      .withColumn("_fl", floor(col("_x")))
      .withColumn("_frac", col("_x") - col("_fl"))
      .join(ranked.select(col("rn").as("_rlo"), col("value").as("_vlo")),
        col("_rlo") === col("_fl") + 1)
      .join(ranked.select(col("rn").as("_rhi"), col("value").as("_vhi")),
        col("_rhi") === least(col("_fl") + 2, col("m")))
      .select(col("q"), col("m"),
        (col("_vlo") + (col("_vhi") - col("_vlo")) * col("_frac"))
          .as(est))
  }
}
