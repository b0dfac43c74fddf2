package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{DataStreamWriter, Trigger}
import org.apache.spark.sql.types.StringType
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

  /** A pipeline topic's Kafka record for each row of `df`. Its value is
    * the reference's JSON: `time` as a timestamp string named `timestamp`,
    * the symbol and the `body` column. Its key is
    * `<time, epoch ms>|<symbol>` (null for a null symbol), so Kafka's
    * partitioner puts every record of one (time, symbol) in one partition,
    * in publish order. */
  def record(df: DataFrame, time: String, body: String): DataFrame =
    df.select(
      concat(unix_millis(col(time)).cast(StringType), lit("|"), col("symbol")).as("key"),
      to_json(struct(col(time).cast(StringType).as("timestamp"), col("symbol"), col(body))).as("value"))

  /** The Kafka writer of both jobs: Spark's streaming sink with a 5 s
    * processing-time trigger and an explicit checkpoint (reference
    * moving_statistic.py:123-131). `df` is already encoded to Kafka rows
    * (a `value` column, optionally `key`). Delivery is at-least-once: a
    * batch replayed after a crash is written again. Caller picks output
    * mode. */
  def sink(
      df: DataFrame,
      brokers: String,
      topic: String,
      checkpointDir: String,
      outputMode: String,
      triggerInterval: String = "5 seconds",
      format: String = "kafka"): DataStreamWriter[Row] =
    df.writeStream
      .format(format)
      .outputMode(outputMode)
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.ProcessingTime(triggerInterval))
      .option("kafka.bootstrap.servers", brokers)
      .option("topic", topic)
}
