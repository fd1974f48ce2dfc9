package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Streaming twins of the dedup operators (SURVEY §2.10 posture: the
  * reference is batch-only; a continuously-ingesting 100 TB pipeline
  * needs the same semantics on a stream).
  *
  *  - keep-first-per-(user, ts) (P7 / q18's shape) → dropDuplicates on
  *    the business key, same watermark contract.
  *
  * State scale: dedup state is one entry per distinct key inside the
  * watermark horizon, partitioned by key hash across executors.
  */
object StreamingDedup {

  /** Streaming P7: keep the first event per (user_id, ts). */
  def dedupByTime(events: DataFrame, watermark: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .dropDuplicates("user_id", "ts")

  /** Streaming events source over the testdata parquet layout (shares
    * [[StreamingRollup.eventsStream]]'s unit-adaptive schema). */
  def eventsStream(spark: SparkSession, dir: String): DataFrame =
    StreamingRollup.eventsStream(spark, dir)
}
