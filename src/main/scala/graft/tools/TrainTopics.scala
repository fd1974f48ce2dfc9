package graft.tools

import org.apache.spark.ml.clustering.KMeans
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._

/** Build-time topic-centroid trainer: fits MLlib KMeans on the HASHED
  * doc embeddings ([[graft.text.TextOps.hashEmbedVectors]] — the t16
  * operator, so no pretrained model is needed anywhere) and prints the
  * centroids as a Scala literal for [[graft.text.TopicCentroids]].
  * Same frozen-literal determinism story as [[TrainCodebook]]: train
  * once offline, ship bit-identical doubles to both oracle engines.
  *
  *   sbt "runMain graft.tools.TrainTopics /root/testdata/sf0.01 8"
  */
object TrainTopics {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val k = if (args.length > 1) args(1).toInt else 8
    val spark = graft.core.Tables.localSession(8)
    import spark.implicits._
    val docs = graft.core.Tables.documents(spark, dir)
    val vecs = graft.text.TextOps.hashEmbedVectors(docs, "doc_id", "text")
      .select(col("embedding").as("a"))
      .as[Seq[Double]].map(s => Tuple1(Vectors.dense(s.toArray)))
      .toDF("features")
    val km = new KMeans().setK(k).setSeed(7L).setMaxIter(50).fit(vecs)
    println(s"// KMeans(k=$k, seed=7, maxIter=50) on $dir hashEmbedVectors; " +
      s"cost=${km.summary.trainingCost}")
    km.clusterCenters.foreach { c =>
      println("    Array(" + c.toArray.mkString(", ") + "),")
    }
    spark.stop()
  }
}
