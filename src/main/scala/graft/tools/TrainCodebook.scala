package graft.tools

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

/** Build-time IVF codebook trainer: fits MLlib KMeans on the embeddings
  * table and prints the centroids as a Scala literal for
  * [[graft.sim.IvfCodebook]]. Run once offline; the engine itself ships
  * the frozen literals (same determinism story as the LSH hyperplanes —
  * both engines of the oracle pair see bit-identical doubles).
  *
  *   sbt "runMain graft.tools.TrainCodebook /root/testdata/sf0.01 16"
  */
object TrainCodebook {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = if (args.length > 1) args(1).toInt else 16
    val spark = graft.core.Tables.localSession(8)
    import spark.implicits._
    val vecs = graft.core.Tables.embeddings(spark, dir)
      .select(col("embedding").cast("array<double>").as("a"))
      .as[Seq[Double]].map(s => Tuple1(Vectors.dense(s.toArray)))
      .toDF("features")
    val km = new KMeans().setK(k).setSeed(7L).setMaxIter(50).fit(vecs)
    println(s"// KMeans(k=$k, seed=7, maxIter=50) on $dir embeddings; " +
      s"cost=${km.summary.trainingCost}")
    km.clusterCenters.foreach { c =>
      println("    Array(" + c.toArray.mkString(", ") + "),")
    }
    spark.stop()
  }
}
