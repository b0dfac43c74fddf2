package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}

import graft.operators.TickOps

/** Streaming moving-statistics job: `btc-price` → six sliding-window
  * avg/stddev branches → re-nested per (window end, symbol) →
  * `btc-price-moving` (reference src/Tranforms/moving_statistic.py).
  *
  * The re-nest (collect_list after windowed aggregation) would chain two
  * stateful operators — the reference silences Spark's correctness check
  * to allow it (SURVEY.md §4 H1). Here the windowed aggregation is the
  * only stateful streaming operator; the re-nest runs as a plain batch
  * aggregation inside each micro-batch via foreachBatch, so output
  * matches the reference per-batch without disabling any checks.
  */
object MovingStatsJob {

  // Single-valued; kept, with both jobs' `mode` parameter, because streambench passes it positionally.
  sealed trait H1Mode
  object H1Mode {
    case object ForeachBatch extends H1Mode
  }

  /** parse → watermark → per-window stats. */
  def statsStream(raw: DataFrame): DataFrame =
    TickOps.movingStatsUnion(
      TickOps.parseTicks(raw).withWatermark("event_time", "10 seconds"))

  def nested(flat: DataFrame): DataFrame =
    TickOps.toKafkaJson(TickOps.nestWindows(flat), Seq("timestamp", "symbol", "windows"))

  def run(
      spark: SparkSession,
      brokers: String,
      inTopic: String = "btc-price",
      outTopic: String = "btc-price-moving",
      checkpointDir: String = "./tmp/moving-stats-checkpoint",
      mode: H1Mode = H1Mode.ForeachBatch,
      format: String = "kafka",
      startingOffsets: String = "latest",
      triggerInterval: String = "5 seconds"): StreamingQuery = {
    val raw = KafkaIO.source(spark, brokers, inTopic, startingOffsets, format)
    statsStream(raw).writeStream
      .outputMode("update")
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        nested(batch).write
          .mode("append") // DSv2 rejects the default ErrorIfExists
          .format(format)
          .option("kafka.bootstrap.servers", brokers)
          .option("topic", outTopic)
          .save()
      }
      .start()
  }
}
