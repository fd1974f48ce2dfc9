package graft.core

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-provided test tables (TESTDATA.md) and the
  * reference's two-column price-series shape (SURVEY.md §1.1).
  *
  * Scale note: parquet scans here are plain `spark.read.parquet` so
  * Catalyst handles partition pruning / predicate pushdown / column
  * pruning; at cluster scale the same call reads a multi-file dataset
  * with no code change.
  */
object Tables {
  val All: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def table(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  def lineitem(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "lineitem")
  def orders(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "orders")
  def customer(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "customer")
  def nation(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "nation")
  def region(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "region")
  def supplier(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "supplier")
  def part(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "part")
  /** events.parquet carries TIMESTAMP(NANOS) which Spark 4 rejects by
    * default; read nanos as long and truncate to micros (identical to
    * DuckDB's ns→µs truncation, keeping oracle ordering/date-parts in
    * agreement). `div` keeps the arithmetic in exact integer math —
    * ns values exceed 2^53 and would corrupt through a double. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = table(spark, dir, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", org.apache.spark.sql.functions.timestamp_micros(
          org.apache.spark.sql.functions.expr("ts div 1000")))
      case org.apache.spark.sql.types.TimestampNTZType =>
        // µs files written without UTC adjustment read as TIMESTAMP_NTZ;
        // with the session TZ pinned to UTC the cast is value-preserving
        // and restores the TIMESTAMP type the unix_micros/window ops need
        raw.withColumn("ts", org.apache.spark.sql.functions.col("ts")
          .cast(org.apache.spark.sql.types.TimestampType))
      case _ => raw
    }
  }
  def documents(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "documents")
  def embeddings(spark: SparkSession, dir: String): DataFrame = table(spark, dir, "embeddings")

  /** The one local session factory: the CLI, the gate (`Verify`), the
    * bench, the dev tools and the tests all run this configuration. */
  def localSession(threads: Int = 4, appName: String = "graft"): SparkSession = {
    val s = SparkSession.builder()
      // native expressions on the SQL surface (dot_product)
      .withExtensions(new graft.GraftExtensions)
      // numpy-parity numeric semantics: division/overflow yield
      // nan/inf/null, never errors (the reference never ANSI-errors;
      // DuckDB corr on constant input is NULL, matching coalesce(corr,0))
      .config("spark.sql.ansi.enabled", "false")
      .master(s"local[$threads]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", threads.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
