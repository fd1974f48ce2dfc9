package graft.tools

/** Dev harness: time individual SparkEntry queries by name.
  * Usage: runMain graft.tools.Profile <sfDir> <query...> [-n reps]
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val reps = args.sliding(2).collectFirst {
      case Array("-n", n) => n.toInt }.getOrElse(1)
    val names = args.drop(1).zipWithIndex.filterNot { case (a, i) =>
      a.startsWith("-") || (i > 0 && args.drop(1)(i - 1) == "-n")
    }.map(_._1)
    val spark = graft.core.Tables.localSession(32)
    try graft.SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    for (r <- 1 to reps; name <- names) {
      val t0 = System.nanoTime()
      val n = graft.SparkEntry.queries(name)(spark, sfDir).count()
      val dt = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[profile rep$r] $name%-28s $dt%8.2f s  ($n rows)")
      // same between-query hygiene as Bench so multi-query profiles are attributable
      spark.catalog.clearCache()
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))
      System.gc()
    }
    spark.stop()
  }
}
