package graft.gen

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** G2: block-bootstrap synthetic series generator.
  * Ref: sdg_plugins/generator/block_bootstrap_generator.py:50-103 —
  * sample contiguous price blocks from the real series, rescale each
  * block so its first price continues the previous block's (scaled)
  * last price, concatenate, truncate to n.
  *
  * Determinism contract (tests/test_plugins.py:73-83): same seed ⇒
  * identical output; different seed ⇒ different. Block starts come from
  * a driver-side seeded RNG (tiny array); everything data-sized is
  * distributed.
  *
  * Scale: the rescale chain looks sequential but telescopes —
  * ln s_b = Σ_{j≤b} (ln last_{j−1} − ln first_j) — so it is one running
  * window sum over the per-block aggregate (nBlocks rows), then a
  * broadcast join back onto the block rows. No recurrence, no collect
  * of data rows.
  */
object BlockBootstrap {

  /** 0-based (rn, p) index via the shared [[SeriesOps.indexedSeries]]
    * builder: row_number for bounded inputs, a distributed range-sort +
    * zipWithIndex above [[SeriesOps.BigSeriesRows]] — the source table
    * never funnels through one partition. */
  private def indexed(prices: DataFrame, orderCols: Seq[String],
                      value: String, total: Long): DataFrame =
    graft.series.SeriesOps
      .indexedSeries(prices, orderCols, value,
        big = total > graft.series.SeriesOps.BigSeriesRows)
      .withColumn("rn", col("rn") - 1)

  /** The telescoped rescale chain over explicit (block_id, start) rows:
    * shared by the seeded and the deterministic-stride paths. */
  private def chainBlocks(idx: DataFrame, blocks: DataFrame,
                          blockSize: Int, n: Int): DataFrame = {
    // the indexed source feeds BOTH the per-block-aggregate broadcast
    // job and the final join job — persist it so the (sorted) index is
    // computed once, and localCheckpoint the bounded n-row result so the
    // cache can be dropped before returning
    val cachedIdx = idx.persist()
    val positions = blocks
      .select(col("block_id"), col("start"),
        explode(sequence(lit(0), lit(blockSize - 1))).as("pos"))
      .withColumn("rn", col("start") + col("pos"))
    val rows = positions.join(cachedIdx, "rn")
      .select(col("block_id"), col("pos"), col("p"))

    val perBlock = rows.groupBy(col("block_id")).agg(
      min_by(col("p"), col("pos")).as("first_p"),
      max_by(col("p"), col("pos")).as("last_p"))
    val wB = Window.orderBy(col("block_id"))
    val chained = perBlock
      .withColumn("d",
        coalesce(log(lag(col("last_p"), 1).over(wB)) - log(col("first_p")), lit(0.0)))
      .withColumn("ln_scale",
        sum(col("d")).over(wB.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("block_id"), col("ln_scale"))

    val out = rows.join(broadcast(chained), "block_id")
      .withColumn("rn", col("block_id") * blockSize + col("pos"))
      .filter(col("rn") < n)
      .select(col("rn"), exp(log(col("p")) + col("ln_scale")).as("typical_price"))
      .localCheckpoint() // eager: n rows, stays distributed
    cachedIdx.unpersist()
    out
  }

  /** @param prices single ordered series (orderCols define the order)
    * @param value  price column (must be > 0)
    */
  def generate(prices: DataFrame, orderCols: Seq[String], value: String,
               blockSize: Int, n: Int, seed: Long): DataFrame = {
    val spark = prices.sparkSession
    import spark.implicits._

    val total = prices.count()
    require(total >= blockSize, s"need >= $blockSize rows, got $total")
    val idx = indexed(prices, orderCols, value, total)

    val nBlocks = n / blockSize + 2
    val rnd = new scala.util.Random(seed)
    val starts = Array.fill(nBlocks)(rnd.nextInt((total - blockSize + 1).toInt))
    val blocks = starts.zipWithIndex
      .map { case (s, b) => (b, s) }.toSeq.toDF("block_id", "start")
    chainBlocks(idx, blocks, blockSize, n)
  }

  /** PER-SERIES grouped variant of [[generateStrided]]: ONE shuffle on
    * the series key, then every bounded series' whole block/rescale
    * chain runs inside its group — the many-series generation shape
    * (millions of independent series fits across the cluster at
    * 100 TB, SURVEY §7.4.2 "small fits on the driver, many fits across
    * the cluster" — here not even the driver: the fit lives in the
    * executor task). The per-series arithmetic is the exact twin of
    * [[chainBlocks]]'s telescoped rescale (d_b = ln last_{b−1} −
    * ln first_b, cumulative), so the g01b oracle replays it per user.
    * Series shorter than one block are skipped (the reference's
    * too-short contract). Emits (seriesCol, rn, typical_price). */
  def generateStridedGrouped(prices: DataFrame, seriesCol: String,
                             orderCols: Seq[String], value: String,
                             blockSize: Int, n: Int,
                             stride: Int = 523): DataFrame =
    grouped(prices, seriesCol, orderCols, value, blockSize, n,
      (_, span) => b => ((b.toLong * stride) % span).toInt)

  /** Seeded per-series grouped generation: each series draws its own
    * block starts from `Random(seed + sid)` (deterministic per
    * (seed, series) — the many-series twin of [[generate]]'s
    * contract: same seed ⇒ identical output, different seed ⇒
    * different). Same one-shuffle plan as [[generateStridedGrouped]]. */
  def generateGrouped(prices: DataFrame, seriesCol: String,
                      orderCols: Seq[String], value: String,
                      blockSize: Int, n: Int, seed: Long): DataFrame =
    grouped(prices, seriesCol, orderCols, value, blockSize, n,
      (sid, span) => {
        val rnd = new scala.util.Random(seed + sid)
        _ => rnd.nextInt(span)
      })

  private def grouped(prices: DataFrame, seriesCol: String,
                      orderCols: Seq[String], value: String,
                      blockSize: Int, n: Int,
                      startsOf: (Long, Int) => Int => Int): DataFrame = {
    val spark = prices.sparkSession
    import spark.implicits._
    val spec = graft.series.SeriesSpec(Seq(seriesCol), orderCols)
    val indexed = prices
      .withColumn("rn", row_number().over(spec.w) - 1)
      .select(col(seriesCol).cast("long").as("sid"),
        col("rn"), col(value).cast("double").as("p"))

    def chainOne(sid: Long, ps: Array[Double]): Iterator[(Long, Int, Double)] = {
      val total = ps.length
      if (total < blockSize) Iterator.empty
      else {
        val nBlocks = n / blockSize + 2
        val span = total - blockSize + 1
        val nextStart = startsOf(sid, span)
        val out = Array.newBuilder[(Long, Int, Double)]
        var lnScale = 0.0
        var prevLast = 0.0
        var b = 0
        // StrictMath, not math.*: Catalyst's Log/Exp expressions codegen
        // to StrictMath, so the per-series chain is BIT-identical to the
        // distributed chainBlocks plan (asserted in GeneratorSpec)
        while (b < nBlocks) {
          val s0 = nextStart(b)
          val first = ps(s0)
          val d =
            if (b == 0) 0.0
            else StrictMath.log(prevLast) - StrictMath.log(first)
          lnScale += d
          var pos = 0
          while (pos < blockSize) {
            val rn = b * blockSize + pos
            if (rn < n)
              out += ((sid, rn,
                StrictMath.exp(StrictMath.log(ps(s0 + pos)) + lnScale)))
            pos += 1
          }
          prevLast = ps(s0 + blockSize - 1)
          b += 1
        }
        out.result().iterator
      }
    }

    // after the window, partitions are hash-clustered on the series key
    // and sorted (sid, orderCols) — walking them with SeriesOps.runs
    // costs no second exchange, where groupByKey's opaque
    // lambda key would re-shuffle data Catalyst already co-located
    // (asserted in PlanAuditSpec). Memory is bounded by one series.
    indexed.as[(Long, Int, Double)].mapPartitions { rows =>
      graft.series.SeriesOps.runs(rows)(_._1) { (sid, run) =>
        chainOne(sid, run.map(_._3).toArray)
      }
    }.toDF(seriesCol, "rn", "typical_price")
  }

  /** Deterministic variant: block b starts at (b·stride) mod
    * (total − blockSize + 1). Exercises the identical block/rescale
    * chain with zero RNG, so the whole output is oracle-checkable SQL —
    * the fit-stage correctness witness for the seeded [[generate]]. */
  def generateStrided(prices: DataFrame, orderCols: Seq[String], value: String,
                      blockSize: Int, n: Int, stride: Int = 523): DataFrame = {
    val spark = prices.sparkSession
    val total = prices.count()
    require(total >= blockSize, s"need >= $blockSize rows, got $total")
    val idx = indexed(prices, orderCols, value, total)
    val nBlocks = n / blockSize + 2
    val blocks = spark.range(nBlocks)
      .select(col("id").cast("int").as("block_id"),
        ((col("id") * stride) % lit(total - blockSize + 1)).cast("int").as("start"))
    chainBlocks(idx, blocks, blockSize, n)
  }
}
