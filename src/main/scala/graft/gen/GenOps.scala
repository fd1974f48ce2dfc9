package graft.gen

import scala.reflect.ClassTag

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.series.{SeriesOps, SeriesSpec}

/** The generation back end every seeded generator shares: the
  * categorical draw of the Markov walks, the driver walk's price frame,
  * and the windowed decode loop of the G1/G8 inference generators. */
private[gen] object GenOps {

  /** Inverse-CDF categorical draw: the first category whose running
    * probability sum exceeds `u`, accumulated left to right (the order
    * the g02/g03 oracles replay); the last category absorbs the rest. */
  def sampleCat(probs: Array[Double], u: Double): Int = {
    var acc = 0.0; var i = 0
    while (i < probs.length - 1) {
      acc += probs(i); if (u < acc) return i
      i += 1
    }
    probs.length - 1
  }

  /** A driver walk's returns as (rn, ret, typical_price): the frame is
    * one partition, so the W2 running sum plans no exchange. */
  def walkPrices(spark: SparkSession, rets: Array[Double],
                 initialPrice: Double): DataFrame = {
    import spark.implicits._
    val df = rets.toIndexedSeq.zipWithIndex.map { case (r, i) => (i, r) }
      .toDF("rn", "ret").coalesce(1)
    SeriesOps.reconstructPrices(df, SeriesSpec(Nil, Seq("rn")), "ret",
      lit(initialPrice), "typical_price")
  }

  /** Windowed decode (G1/G8, ref typical_price_generator.py:88-159):
    * `n / windowSize + 2` INDEPENDENT windows over `spark.range`, the
    * model and anchor pool broadcast. Each window draws from its own
    * `Random(seed·1000003 + idx·7919)` stream, so the output is the same
    * under any partitioning or task retry: `decode` turns the stream
    * into one window of returns, which is W9 mean-centred, anchored at
    * a random real price and reconstructed (W2) inside the task. Rows
    * past `n` are dropped. Output: (rn, typical_price). */
  def windowedDecode[M: ClassTag](spark: SparkSession, model: M,
                                  anchors: Array[Double], n: Int, seed: Long,
                                  windowSize: Int)(
      decode: (M, scala.util.Random, Long) => Array[Double]): DataFrame = {
    require(anchors.nonEmpty, "windowed decode needs at least one anchor price")
    import spark.implicits._
    val bcM = spark.sparkContext.broadcast(model)
    val bcA = spark.sparkContext.broadcast(anchors)
    val rows = spark.range(n / windowSize + 2).as[Long].mapPartitions { idxs =>
      val m = bcM.value; val anc = bcA.value
      idxs.flatMap { idx =>
        val rnd = new scala.util.Random(seed * 1000003L + idx * 7919L)
        val rets = decode(m, rnd, idx)
        // W9 mean-centre ("zero-mean drift correction", ref :146-149)
        val mean = rets.sum / rets.length
        var i = 0
        while (i < rets.length) { rets(i) -= mean; i += 1 }
        // anchor at a random real price (ref :141-154)
        var logP = math.log(anc(rnd.nextInt(anc.length)))
        val out = new Array[(Long, Double)](rets.length)
        i = 0
        while (i < rets.length) {
          logP += rets(i)
          out(i) = (idx * windowSize + i, math.exp(logP))
          i += 1
        }
        out
      }
    }.toDF("rn", "typical_price")
    rows.filter(col("rn") < n)
  }
}
