package graft.tools

import org.apache.spark.sql.functions._

/** Build-time quality-filter classifier trainer (t11): fits a hashed-
  * bigram logistic regression that DISTILLS the t19 quality heuristic
  * (stop-ratio/type-token-ratio score) into a single broadcast-scorable
  * linear model — the standard "fastText-style quality gate" shape of
  * LLM data pipelines (reference has no such stage; this is the
  * beyond-reference curation frontier). Labels: quality_score ≥ corpus
  * median. Features: relative hashed-bigram bucket frequencies
  * (c_b / n_grams, 256 buckets, salt 17 — the t10 bucketing family).
  *
  * Prints the frozen (intercept, weights) as the Scala literal body of
  * [[graft.text.QualityFilterModel]] — the same determinism story as
  * [[TrainCodebook]]: training runs once offline, the engine and the
  * DuckDB oracle both read bit-identical doubles.
  *
  *   sbt "runMain graft.tools.TrainQualityFilter /root/testdata/sf0.01"
  */
object TrainQualityFilter {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val nBuckets = 256
    val salt = 17
    val epochs = 800
    val lr = 4.0
    val l2 = 1e-4
    val spark = graft.core.Tables.localSession(8)

    val docs = graft.core.Tables.documents(spark, dir).select("doc_id", "text")
    val stats = graft.text.TextOps.tokenStats(docs, "doc_id", "text")
    val med = stats.stat.approxQuantile("quality_score", Array(0.5), 0.0).head
    val lab = stats.select(col("doc_id"),
      (col("quality_score") >= med).cast("int").as("y"))

    val feats = graft.text.TextOps.bigramsAll(docs, "doc_id", "text")
      .withColumn("b", pmod(graft.text.Dedup.h64(
        concat_ws(" ", col("w1"), col("w2")), salt), lit(nBuckets.toLong)))
      .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("c"))
      .groupBy(col("doc_id"))
      .agg(collect_list(struct(col("b"), col("c"))).as("f"),
        sum(col("c")).as("n"))
      .join(lab, "doc_id")
      .collect()
      .map { r =>
        val f = r.getSeq[org.apache.spark.sql.Row](1)
          .map(x => (x.getLong(0).toInt, x.getLong(1).toDouble)).toArray
        (r.getInt(3), f, r.getLong(2).toDouble)
      }
    val nDocs = feats.length
    require(nDocs > 0, s"no documents in $dir")
    println(s"// training on $nDocs docs, median quality $med")

    // one dense feature beyond the bucket counts: distinct-bucket ratio
    // nnz/n — the linear-model-visible proxy for the label's TTR half
    // (hashed counts alone cannot express distinctness)
    val w = new Array[Double](nBuckets)
    var wd = 0.0
    var w0 = 0.0
    def logit(f: Array[(Int, Double)], n: Double): Double =
      w0 + f.map { case (b, c) => w(b) * c / n }.sum + wd * f.length / n
    def acc(): Double = feats.count { case (y, f, n) =>
      (if (logit(f, n) >= 0) 1 else 0) == y
    }.toDouble / nDocs
    for (ep <- 1 to epochs) {
      val gw = new Array[Double](nBuckets)
      var gd = 0.0
      var g0 = 0.0
      feats.foreach { case (y, f, n) =>
        val p = 1.0 / (1.0 + math.exp(-logit(f, n)))
        val g = p - y
        g0 += g
        gd += g * f.length / n
        f.foreach { case (b, c) => gw(b) += g * c / n }
      }
      var b = 0
      while (b < nBuckets) {
        w(b) -= lr * (gw(b) / nDocs + l2 * w(b))
        b += 1
      }
      wd -= lr * (gd / nDocs + l2 * wd)
      w0 -= lr * g0 / nDocs
      if (ep % 100 == 0)
        println(f"// epoch $ep%4d train accuracy ${acc()}%.4f")
    }
    println(s"// TrainQualityFilter($dir, buckets=$nBuckets, salt=$salt, " +
      s"epochs=$epochs, lr=$lr, l2=$l2); final train accuracy ${acc()}")
    println(s"  val NBuckets: Int = $nBuckets")
    println(s"  val Salt: Int = $salt")
    println(s"  val Intercept: Double = $w0")
    println(s"  val WDistinct: Double = $wd")
    println("  val W: Array[Double] = Array(")
    w.grouped(4).foreach { g =>
      println("    " + g.mkString(", ") + ",")
    }
    println("  )")
    spark.stop()
  }
}
