package graft.tools

import org.apache.spark.sql.functions._

import graft.sim.Similarity

/** Build-time recall/latency sweep for the IVF-PQ operating point
  * (VERDICT r04 #5): prints recall@10 and wall time per
  * (nProbe, overfetch) grid cell against brute force, at the given SF.
  * Run: sbt "runMain graft.tools.SweepAnn /root/testdata/sf0.01" */
object SweepAnn {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = graft.core.Tables.localSession(8)
    spark.sparkContext.setLogLevel("ERROR")
    val emb = graft.core.Tables.embeddings(spark, dir).cache()
    emb.count()
    val q = emb.filter(col("vec_id") < 5)
    val brute = Similarity.bruteForceTopK(q, emb, "vec_id", "embedding", k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    for (nProbe <- Seq(4, 6, 8, 10); overfetch <- Seq(4, 8, 16)) {
      val t0 = System.nanoTime()
      val got = Similarity.ivfPqTopK(q, emb, "vec_id", "embedding",
          graft.sim.IvfCodebook.K16, graft.sim.PqCodebook.M8K16,
          nProbe = nProbe, k = 10, overfetch = overfetch)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dt = (System.nanoTime() - t0) / 1e9
      val recall = got.intersect(brute).size.toDouble / brute.size
      println(f"[sweep] nProbe=$nProbe%2d overfetch=$overfetch%2d recall@10=$recall%.3f wall=$dt%.2fs")
    }
    // pure-PQ (s03) operating point: codebook granularity × overfetch
    for ((cbName, cb) <- Seq("M8K16" -> graft.sim.PqCodebook.M8K16,
                             "M8K64" -> graft.sim.PqCodebook.M8K64);
         overfetch <- Seq(4, 8, 16)) {
      val t0 = System.nanoTime()
      val got = Similarity.pqTopK(q, emb, "vec_id", "embedding",
          cb, k = 10, overfetch = overfetch)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val dt = (System.nanoTime() - t0) / 1e9
      val recall = got.intersect(brute).size.toDouble / brute.size
      println(f"[sweep-pq] cb=$cbName overfetch=$overfetch%2d recall@10=$recall%.3f wall=$dt%.2fs")
    }
    spark.stop()
  }
}
