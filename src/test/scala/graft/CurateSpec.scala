package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.cli.{Cli, GraftConfig}

/** The curate chain end to end: its output pinned to a fixture, and its
  * storage released on every path. */
class CurateSpec extends AnyFunSuite {
  private lazy val spark = SparkSpec.spark

  private val fixture = "src/test/resources/fixtures/curate_all_gates.txt"

  /** Every gate flag on — URL blocklist, Gopher rules, language filter,
    * bigram-LM floor, quality classifier and a token-budget mixture —
    * against a fixture: the funnel JSON and a checksum of the written
    * chunks, captured from the chain before its funnel counts were
    * folded into shared aggregates. Any change to which documents
    * survive a stage, or to what lands, shows here. */
  test("CLI curate with every gate flag on reproduces the fixture funnel " +
       "and output checksum") {
    val dir = java.nio.file.Files.createTempDirectory("graftgates").toString
    val docs = spark.read.parquet(s"${SparkSpec.sfDir}/documents.parquet")
      .withColumn("url", concat(lit("https://"),
        when(col("doc_id") % 7 === 0, lit("ads.example.com"))
          .otherwise(concat(lit("site"), (col("doc_id") % 5).cast("string"),
            lit(".org"))),
        lit("/p"), col("doc_id").cast("string")))
    docs.write.mode("overwrite").parquet(s"$dir/docs")
    val sources = docs.select("source").distinct().collect().map(_.getString(0)).sorted
    val mix = sources.map(s => f"$s:${1.0 / sources.length}%.4f").mkString(",")
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"$dir/docs",
      "domain_blocklist" -> "ads.example.com",
      "gopher_min_stop" -> "1",
      "langs" -> "en",
      "lm_ref_docs" -> s"${SparkSpec.sfDir}/documents.parquet",
      "min_avg_logprob" -> "-50.0",
      "min_q_prob" -> "0.001",
      "min_tokens" -> "5",
      "mixture_target" -> mix, "source_col" -> "source",
      "token_budget" -> "20000",
      "chunk_window" -> "120", "chunk_stride" -> "80",
      "output" -> s"$dir/chunks", "metrics_out" -> s"$dir/funnel.json"))
    val funnel = java.nio.file.Files.readString(
      java.nio.file.Paths.get(s"$dir/funnel.json")).trim
    val out = spark.read.parquet(s"$dir/chunks")
    val cols = out.columns.sorted
    val rows = out.select(cols.map(col): _*).collect().map(_.mkString("\u0001")).sorted
    val checksum = java.security.MessageDigest.getInstance("SHA-256")
      .digest(rows.mkString("\n").getBytes("UTF-8")).map("%02x".format(_)).mkString
    val got = s"$funnel\n${cols.mkString(",")}\n$checksum"
    val path = java.nio.file.Paths.get(fixture)
    assert(java.nio.file.Files.exists(path), s"no fixture; this run gives:\n$got")
    assert(got === java.nio.file.Files.readString(path).trim)
  }

  /** A small chain over the sf0.001 documents, writing under `dir`:
    * minhash signatures, connected components, semantic vectors and
    * substring spans all local-checkpoint inside it. */
  private def curate(dir: String, extra: Map[String, String] = Map.empty): Unit =
    Cli.run(spark, GraftConfig.defaults ++ Map(
      "mode" -> "curate",
      "input_docs" -> s"${SparkSpec.sfDir}/documents.parquet",
      "near_threshold" -> "0.5", "semantic_threshold" -> "0.9",
      "max_dup_span" -> "30", "gopher_min_stop" -> "1",
      "chunk_window" -> "120", "chunk_stride" -> "80",
      "output" -> s"$dir/chunks", "metrics_out" -> s"$dir/funnel.json") ++ extra)

  test("CLI curate releases every block it persisted or checkpointed, " +
       "also when it throws") {
    val sc = spark.sparkContext
    def blocks = sc.getPersistentRDDs.keySet.toSet
    val before = blocks
    val dir = java.nio.file.Files.createTempDirectory("graftrelease").toString
    curate(dir)
    assert(blocks === before)
    // a mixture weight on a source with no documents is infeasible and
    // throws after the dedup stages have checkpointed and persisted
    val e = intercept[IllegalArgumentException](curate(dir, Map(
      "mixture_target" -> "src0:0.5,no_such_source:0.5", "source_col" -> "source")))
    assert(e.getMessage.contains("infeasible"), e.getMessage)
    assert(blocks === before)
  }

  test("a second curate run in the session compiles no generated class") {
    import org.apache.spark.metrics.source.CodegenMetrics
    // the factory's codegen settings reach the shared session
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") ===
      graft.core.Tables.CodegenCacheEntries.toString)
    assert(spark.conf.get("spark.sql.codegen.useIdInClassName") === "false")
    def compiles(dir: String): Long = {
      val before = CodegenMetrics.METRIC_COMPILATION_TIME.getCount
      curate(dir)
      CodegenMetrics.METRIC_COMPILATION_TIME.getCount - before
    }
    val tmp = java.nio.file.Files.createTempDirectory("graftreuse").toString
    compiles(s"$tmp/first")
    // every class of the first run is still cached: none was evicted,
    // and none carries a name that changes per call (a limit's counter,
    // an adaptive stage's codegen id)
    assert(compiles(s"$tmp/second") === 0L)
  }
}
