package graft.model

import java.sql.Timestamp

import org.apache.spark.sql.types._

/** Typed row models + explicit reader schemas for the price pipeline.
  *
  * Mirrors the reference's declared StructType literals
  * (reference src/Tranforms/moving_statistic.py:25-29,
  * src/Tranforms/zscore_calculator.py:28-45) — schemas are always
  * declared, never inferred, and `from_json` silently drops JSON keys not
  * in the schema (e.g. the producer's `data_age_ms`,
  * reference src/Extract/main.py:109).
  */
object Models {

  /** A raw price tick (topic `btc-price`). */
  final case class PriceTick(symbol: String, price: Double, event_time: Timestamp)

  /** Per-window moving statistics. */
  final case class WindowStats(window: String, avg_price: Double, std_price: Double)

  /** Nested moving-stats record (topic `btc-price-moving`). */
  final case class MovingStats(timestamp: String, symbol: String, windows: Seq[WindowStats])

  /** Per-window z-score. */
  final case class ZScoreEntry(window: String, zscore_price: Double)

  /** Nested z-score record (topic `btc-price-zscore`). */
  final case class ZScoreRecord(timestamp: String, symbol: String, zscores: Seq[ZScoreEntry])

  /** JSON reader schema for raw ticks; `event_time` arrives as an ISO8601
    * string and is parsed separately (reference moving_statistic.py:45). */
  val tickSchema: StructType = StructType(Seq(
    StructField("symbol", StringType, nullable = true),
    StructField("price", DoubleType, nullable = true),
    StructField("event_time", StringType, nullable = true)
  ))

  val windowStatsSchema: StructType = StructType(Seq(
    StructField("window", StringType, nullable = true),
    StructField("avg_price", DoubleType, nullable = true),
    StructField("std_price", DoubleType, nullable = true)
  ))

  /** JSON reader schema for the moving-stats topic
    * (reference zscore_calculator.py:35-45). */
  val movingStatsSchema: StructType = StructType(Seq(
    StructField("timestamp", StringType, nullable = true),
    StructField("symbol", StringType, nullable = true),
    StructField("windows", ArrayType(windowStatsSchema), nullable = true)
  ))

  /** JSON reader schema for the z-score topic — what a downstream consumer
    * of `btc-price-zscore` would declare. */
  val zscoreSchema: StructType = StructType(Seq(
    StructField("timestamp", StringType, nullable = true),
    StructField("symbol", StringType, nullable = true),
    StructField("zscores", ArrayType(StructType(Seq(
      StructField("window", StringType, nullable = true),
      StructField("zscore_price", DoubleType, nullable = true)))), nullable = true)
  ))
}
