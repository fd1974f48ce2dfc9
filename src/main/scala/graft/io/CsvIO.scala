package graft.io

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graftbridge.PlanBridge
import org.apache.spark.sql.types._

/** S1–S3: the reference's price-series CSV source/sink.
  * Ref: app/data_processor.py:19-39.
  *
  * Schema is DECLARED, never inferred (SURVEY §1.3): load fails fast if
  * `typical_price` is missing, matching load_csv's ValueError.
  */
object CsvIO {

  val priceSchema: StructType = StructType(Seq(
    StructField("DATE_TIME", TimestampType, nullable = false),
    StructField("typical_price", DoubleType, nullable = false)))

  /** S1: one CSV with header, DATE_TIME parsed as timestamp. The fixed
    * two-column schema is the reference's price-CSV contract; a
    * `seriesCol` switches to header-matched reading so the extra series
    * id column survives (multi-series `--series_col` inputs). */
  def loadCsv(spark: SparkSession, path: String,
              seriesCol: Option[String] = None): DataFrame = seriesCol match {
    case None =>
      val df = spark.read
        .option("header", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .schema(priceSchema)
        .csv(path)
      require(df.columns.contains("typical_price"),
        s"CSV $path must contain 'typical_price'")
      df
    case Some(sc) =>
      val df = spark.read
        .option("header", "true")
        .option("inferSchema", "true")
        .option("timestampFormat", "yyyy-MM-dd HH:mm:ss")
        .csv(path)
      require(df.columns.contains("typical_price") && df.columns.contains(sc),
        s"CSV $path must contain 'typical_price' and '$sc'")
      val out = df.select(col(sc).cast("long").as(sc),
        col("DATE_TIME").cast("timestamp").as("DATE_TIME"),
        col("typical_price").cast("double").as("typical_price"))
      // fail fast on null-producing ids: a non-numeric series id (e.g. a
      // ticker string) casts to NULL on every row, which would silently
      // collapse ALL series into one NULL group through the
      // (series, DATE_TIME) dedup and every per-series fit downstream
      require(out.filter(col(sc).isNull).isEmpty,
        s"--series_col '$sc' in $path has null or non-numeric ids; " +
          "series ids must be integers — map string ids (e.g. tickers) " +
          "to a numeric surrogate key first")
      out
  }

  /** S2: multi-CSV union → sort by time → keep the FIRST row per
    * duplicate DATE_TIME (pandas drop_duplicates keep="first" after
    * sort — made deterministic here: ties within a file keep file order,
    * and across files the earlier path wins).
    * Ref: app/data_processor.py:27-34. When a `seriesCol` is given, the
    * column is CARRIED THROUGH and the dedup keys on (series, DATE_TIME) —
    * the global-DATE_TIME dedup would otherwise silently collapse a
    * multi-series CSV to one row per timestamp (the CLI `--series_col`
    * inputs hit exactly this).
    *
    * Inputs that Spark's own file-split rule would read as one split
    * ([[PlanBridge.readsAsOneSplit]]; the reference's series are a few
    * hundred kB) start as one partition. That partition already meets the
    * dedup window's clustering and the final sort, so neither plans an
    * exchange (nor the sort its range-sampling job), and a single-series
    * window or sort downstream plans none either. Larger inputs keep the
    * keyed exchange and the range-partitioned sort; so do several files
    * at the default confs, since each file adds `openCostInBytes`. */
  def loadMultipleCsv(spark: SparkSession, paths: Seq[String],
                      seriesCol: Option[String] = None): DataFrame = {
    val union = paths.zipWithIndex.map { case (p, i) =>
      loadCsv(spark, p, seriesCol).withColumn("_src", lit(i))
    }.reduce(_ unionByName _)
    val tagged =
      if (PlanBridge.readsAsOneSplit(spark, paths)) union.coalesce(1) else union
    val keyCols = seriesCol.toSeq.map(col) :+ col("DATE_TIME")
    val w = Window.partitionBy(keyCols: _*).orderBy(col("_src"))
    tagged
      .withColumn("_rk", row_number().over(w))
      .filter(col("_rk") === 1)
      .select(keyCols :+ col("typical_price"): _*)
      .orderBy(keyCols: _*)
  }

  /** S3: ordered single-file CSV (the reference's byte-for-byte output
    * shape — coalesce(1) is deliberate: generation sizes are small;
    * large outputs should use [[saveParquet]]). */
  def saveCsv(df: DataFrame, path: String): Unit =
    df.orderBy(col("DATE_TIME"))
      .coalesce(1)
      .write.mode(SaveMode.Overwrite)
      .option("header", "true")
      .option("timestampFormat", "yyyy-MM-dd HH:mm:ss") // reference format
      .csv(path)

  /** Scale-path sink: partitioned parquet, no coalesce. */
  def saveParquet(df: DataFrame, path: String): Unit =
    df.write.mode(SaveMode.Overwrite).parquet(path)
}
