package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.TickOps

/** Streaming moving-statistics job: `btc-price` → avg/stddev over the six
  * sliding windows in one stateful aggregation → re-nested per
  * (window end, symbol) → `btc-price-moving` (reference
  * src/Tranforms/moving_statistic.py).
  *
  * The reference runs one `window()` aggregation per window and unions
  * them; here each tick is exploded over the constant (tag, end-offset)
  * array and aggregated once ([[TickOps.windowInstances]] →
  * [[TickOps.windowStats]]), so one state store holds every window and no
  * wide `window()` Expand is planned.
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

  /** How far behind the newest tick a tick may arrive and still count. */
  private val latenessMs = 10000L

  /** parse → explode into window instances → watermark → per-window stats.
    *
    * The watermark sits on the window END: a watermark on `event_time`
    * does not reach a derived grouping key, so state would never be
    * evicted. The newest instance ends at bucket(maxT) + max duration, so
    * a delay of lateness + max duration puts the watermark at
    * bucket(maxT) − lateness, where an `event_time` watermark with the
    * same lateness sits at maxT − lateness. When the lateness is a
    * multiple of the slide, both evict the same windows and drop the same
    * late rows, since window ends lie on the slide grid. */
  def statsStream(raw: DataFrame): DataFrame = {
    val cfgs = TickOps.defaultWindows
    require(cfgs.forall(c => latenessMs % c.slideMs == 0),
      "lateness must be a multiple of the slide")
    val delayMs = latenessMs + cfgs.map(_.durationMs).max
    TickOps.windowStats(
      TickOps.windowInstances(TickOps.parseTicks(raw), cfgs)
        .withWatermark("window_timestamp", s"$delayMs milliseconds"))
  }

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
    KafkaIO.sink(statsStream(raw), nested, brokers, outTopic, checkpointDir,
      "update", triggerInterval, format).start()
  }
}
