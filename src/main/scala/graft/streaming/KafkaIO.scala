package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.Row

/** Kafka source/sink builders with the reference's operational options
  * (reference moving_statistic.py:32-39, 123-131;
  * zscore_calculator.py:50-73, 165-183).
  *
  * Format is addressed by name ("kafka") so the engine compiles without the
  * connector on the classpath; at deploy time add
  * `spark-sql-kafka-0-10_2.13` to the session. Tests and the benchmark
  * run the same builders with `format = "fakekafka"`, the in-JVM broker
  * double ([[graft.streaming.fake.FakeKafkaProvider]]).
  */
object KafkaIO {

  /** Streaming source for one topic; `startingOffsets=latest` and
    * `failOnDataLoss=false` mirror the reference's tolerance of retention
    * gaps. `format` defaults to the real connector; pass `"fakekafka"`
    * ([[graft.streaming.fake.FakeKafkaProvider]]) to execute the identical
    * plan against the in-JVM broker double — same options, schema, and
    * offset checkpointing. */
  def source(
      spark: SparkSession,
      brokers: String,
      topic: String,
      startingOffsets: String = "latest",
      format: String = "kafka"): DataFrame =
    spark.readStream
      .format(format)
      .option("kafka.bootstrap.servers", brokers)
      .option("subscribe", topic)
      .option("startingOffsets", startingOffsets)
      .option("failOnDataLoss", "false")
      .load()

  /** The Kafka writer of both jobs: 5 s processing-time trigger, explicit
    * checkpoint (reference moving_statistic.py:123-131). Each micro-batch
    * is encoded to Kafka rows (a `value` column, optionally `key`) and
    * appended to `topic` by a batch write inside `foreachBatch`, so
    * `encode` may run batch-only operators such as the jobs' re-nesting
    * aggregation (SURVEY.md §4 H1). Caller picks output mode. */
  def sink(
      df: DataFrame,
      encode: DataFrame => DataFrame,
      brokers: String,
      topic: String,
      checkpointDir: String,
      outputMode: String,
      triggerInterval: String = "5 seconds",
      format: String = "kafka"): DataStreamWriter[Row] =
    df.writeStream
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .foreachBatch { (batch: DataFrame, _: Long) =>
        encode(batch).write
          .mode("append") // DSv2 rejects the default ErrorIfExists
          .format(format)
          .option("kafka.bootstrap.servers", brokers)
          .option("topic", topic)
          .save()
      }
}
