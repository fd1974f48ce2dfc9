package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.sim.Similarity.dot

/** The composed-expression forms the native [[graft.functions.PqEncode]]
  * and [[graft.functions.PqLut]] expressions replaced, kept as the
  * value oracles the bit-equality specs hold them to. */
object SimOracle {

  /** [[graft.sim.Similarity.ivfAssign]] as an argmin via struct
    * ordering: the smallest `|c|² − 2·v·c`, ties to the smaller id. */
  def ivfAssignComposed(v: Column, centroids: Array[Array[Double]]): Column = {
    val ds = centroids.zipWithIndex.map { case (c, i) =>
      val cLit = array(c.map(lit): _*)
      val c2 = c.map(x => x * x).sum
      struct((dot(v, cLit) * -2.0 + lit(c2)).as("d"), lit(i).as("cid"))
    }
    array_min(array(ds: _*)).getField("cid")
  }

  /** [[graft.sim.Similarity.pqEncode]]: per subspace, the struct-argmin
    * centroid of the subvector slice. */
  def pqEncodeComposed(v: Column, codebook: Array[Array[Array[Double]]]): Column = {
    val sub = codebook(0)(0).length
    array(codebook.zipWithIndex.map { case (cents, mi) =>
      val s = slice(v, mi * sub + 1, sub)
      val ds = cents.zipWithIndex.map { case (c, i) =>
        val cLit = array(c.map(lit): _*)
        val c2 = c.map(x => x * x).sum
        struct((dot(s, cLit) * -2.0 + lit(c2)).as("d"), lit(i).as("cid"))
      }
      array_min(array(ds: _*)).getField("cid")
    }: _*)
  }

  /** [[graft.sim.Similarity.pqLut]]: one `dot` subtree per subspace ×
    * centroid, m-major. */
  def pqLutComposed(v: Column, codebook: Array[Array[Array[Double]]]): Column = {
    val sub = codebook(0)(0).length
    array(codebook.zipWithIndex.flatMap { case (cents, mi) =>
      val s = slice(v, mi * sub + 1, sub)
      cents.map(c => dot(s, array(c.map(lit): _*)))
    }: _*)
  }
}
