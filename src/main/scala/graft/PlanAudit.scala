package graft

/** Prints `explain("formatted")` for representative queries so plan
  * regressions (lost pushdown, missed broadcast, surprise shuffles,
  * codegen breaks) are visible per round. Run:
  *   sbt "runMain graft.PlanAudit /root/testdata/sf0.01 q01_pricing_summary q02_revenue_by_nation"
  */
object PlanAudit {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val names = if (args.length > 1) args.drop(1).toSeq
      else Seq("q01_pricing_summary", "q02_revenue_by_nation",
        "q05_log_returns", "q12_histogram_price", "q21_jaccard_neardup")
    val spark = graft.core.Tables.localSession(4)
    spark.sparkContext.setLogLevel("ERROR")
    names.foreach { n =>
      println(s"\n========== $n ==========")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
