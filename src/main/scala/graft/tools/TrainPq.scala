package graft.tools

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

/** Build-time product-quantization codebook trainer: fits one MLlib
  * KMeans per subspace on the embeddings table's subvector slices and
  * prints the [m][k][subDim] centroids as a Scala literal for
  * [[graft.sim.PqCodebook]]. Run once offline; the engine ships the
  * frozen literals (same determinism story as [[TrainCodebook]]).
  *
  *   sbt "runMain graft.tools.TrainPq /root/testdata/sf0.01 8 16"
  */
object TrainPq {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val m = if (args.length > 1) args(1).toInt else 8
    val k = if (args.length > 2) args(2).toInt else 16
    val spark = graft.core.Tables.localSession(8)
    import spark.implicits._
    val rows = graft.core.Tables.embeddings(spark, dir)
      .select(col("embedding").cast("array<double>").as("a"))
      .as[Seq[Double]].collect()
    val dim = rows.head.length
    require(dim % m == 0, s"dim $dim not divisible into $m subspaces")
    val sub = dim / m
    println(s"// PQ KMeans(m=$m, k=$k, seed=7, maxIter=50) on $dir embeddings")
    for (mi <- 0 until m) {
      val vecs = rows.toIndexedSeq
        .map(a => Tuple1(Vectors.dense(a.slice(mi * sub, (mi + 1) * sub).toArray)))
        .toDF("features")
      val km = new KMeans().setK(k).setSeed(7L).setMaxIter(50).fit(vecs)
      println(s"    Array( // subspace $mi, cost=${km.summary.trainingCost}")
      km.clusterCenters.foreach { c =>
        println("      Array(" + c.toArray.mkString(", ") + "),")
      }
      println("    ),")
    }
    spark.stop()
  }
}
