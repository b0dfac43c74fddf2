package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StringType

import graft.model.Models
import graft.operators.TickOps

/** Streaming z-score job: `btc-price` ⋈ `btc-price-moving` →
  * per-(tick, window) z-scores → re-nested → `btc-price-zscore`
  * (reference src/Tranforms/zscore_calculator.py).
  *
  * The join is a stream-stream inner equi-join on
  * (event_time == window end, symbol) — equality, not a range: only ticks
  * landing exactly on a 10 s slide boundary match, by reference design
  * (SURVEY.md §2.7). Both sides carry a 10 s watermark, and the join
  * evicts a row once the query watermark (the minimum of the two: newest
  * tick − 10 s) passes its event time. That keeps about 10 s of ticks,
  * but not 10 s of moving stats: a moving row's time is its window END,
  * up to 1 h after its ticks, and the moving job re-emits an open window
  * on every batch that changes it. Every re-emitted version stays in the
  * join state until the watermark passes that end, so the moving side
  * holds up to an hour of re-emissions (82,134 join rows after three live
  * batches of 40 symbols at 10 ticks/s).
  */
object ZScoreJob {

  /** Decode the nested moving-stats topic and flatten to per-window rows
    * (reference zscore_calculator.py:74-97). */
  def parseMoving(raw: DataFrame): DataFrame =
    TickOps.explodeWindows(
      raw
        .select(from_json(col("value").cast(StringType), Models.movingStatsSchema).as("data"))
        .select(col("data.*")))
      .filter(col("window_timestamp").isNotNull)

  /** ticks ⋈ stats → z-score rows; shared by streaming and tests. */
  def zscores(ticks: DataFrame, moving: DataFrame): DataFrame =
    TickOps.zscore(
      TickOps.joinTicksToStats(
        ticks.withWatermark("event_time", "10 seconds"),
        moving.withWatermark("window_timestamp", "10 seconds")))

  def nested(flat: DataFrame): DataFrame =
    TickOps.toKafkaJson(TickOps.nestZScores(flat), Seq("timestamp", "symbol", "zscores"))

  def run(
      spark: SparkSession,
      brokers: String,
      priceTopic: String = "btc-price",
      movingTopic: String = "btc-price-moving",
      outTopic: String = "btc-price-zscore",
      checkpointDir: String = "./tmp/zscore-checkpoint",
      mode: MovingStatsJob.H1Mode = MovingStatsJob.H1Mode.ForeachBatch,
      format: String = "kafka",
      startingOffsets: String = "latest",
      triggerInterval: String = "5 seconds"): StreamingQuery = {
    val ticks = TickOps.parseTicks(
      KafkaIO.source(spark, brokers, priceTopic, startingOffsets, format))
    val moving = parseMoving(
      KafkaIO.source(spark, brokers, movingTopic, startingOffsets, format))
    KafkaIO.sink(zscores(ticks, moving), nested, brokers, outTopic, checkpointDir,
      "append", triggerInterval, format).start()
  }
}
