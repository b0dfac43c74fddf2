package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.{StringType, StructType}

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
  * but not 10 s of moving stats: a moving record's time is its window
  * END, up to 1 h after its ticks, and the moving job re-emits an open
  * window end on every batch that changes it. Every re-emitted version
  * stays in the join state until the watermark passes that end, so the
  * moving side holds up to an hour of re-emissions, one join row per
  * moving record, and grows with the moving job's batch count.
  *
  * The moving side is decoded in two steps. Before the join, only each
  * record's key (timestamp, symbol) is parsed; the record body rides
  * along undecoded. Only the records that matched a boundary tick, well
  * under one in a hundred, have their `windows` decoded and exploded.
  */
object ZScoreJob {

  private val movingKeySchema = StructType(Models.movingStatsSchema.filter(_.name != "windows"))
  private val movingWindowsSchema = StructType(Models.movingStatsSchema.filter(_.name == "windows"))

  /** The moving-stats topic's join key (window_timestamp, symbol) and the
    * undecoded record `body` (reference zscore_calculator.py:74-82). A
    * record whose timestamp does not parse has a null key, which the join
    * drops: a null filter here would be pushed below the parse and run
    * `from_json` twice per record. */
  def parseMoving(raw: DataFrame): DataFrame =
    raw
      .select(col("value").cast(StringType).as("body"))
      .select(from_json(col("body"), movingKeySchema).as("k"), col("body"))
      .select(to_timestamp(col("k.timestamp")).as("window_timestamp"), col("k.symbol").as("symbol"),
        col("body"))

  /** ticks ⋈ moving records → per-window z-score rows; shared by streaming
    * and tests. The matched records' windows are decoded after the join
    * (reference zscore_calculator.py:84-97). */
  def zscores(ticks: DataFrame, moving: DataFrame): DataFrame = {
    val joined = TickOps.joinTicksToStats(
      ticks.withWatermark("event_time", "10 seconds"),
      moving.withWatermark("window_timestamp", "10 seconds"))
    TickOps.zscore(TickOps.flattenWindows(joined
      .withColumn("windows", from_json(col("body"), movingWindowsSchema).getField("windows"))
      .drop("body")))
  }

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
