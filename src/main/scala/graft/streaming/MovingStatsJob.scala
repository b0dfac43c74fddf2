package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.StringType

import graft.model.Models.WindowStats
import graft.operators.TickOps

/** Streaming moving-statistics job: `btc-price` → avg/stddev over the six
  * sliding windows → one nested record per (window end, symbol) →
  * `btc-price-moving` (reference src/Tranforms/moving_statistic.py).
  *
  * The reference runs one `window()` aggregation per window, unions them
  * and re-nests the union per (window end, symbol). Here one
  * `flatMapGroupsWithState` per symbol holds a ring of 10 s panes (count,
  * sum and shifted second moment of the bucket's prices; Li et al., "No
  * pane, no gain") and emits each changed (window end, symbol) record already
  * nested, so per-tick cost does not grow with the 669 window instances a
  * tick belongs to, the state is one row per live symbol, and the re-nest
  * is only the JSON encode. It is the job's only stateful operator, so
  * Spark's correctness check stays on (SURVEY.md §4 H1).
  *
  * The state schema changed with this operator: a checkpoint written by
  * the earlier per-window aggregation cannot be resumed. Start the job on
  * a fresh checkpoint directory (and [[ZScoreJob]], whose join state now
  * holds one row per moving record, too).
  */
object MovingStatsJob {

  // Single-valued; kept, with both jobs' `mode` parameter, because streambench passes it positionally.
  sealed trait H1Mode
  object H1Mode {
    case object ForeachBatch extends H1Mode
  }

  /** How far behind the newest tick a tick may arrive and still count. */
  private val latenessMs = 10000L

  /** A parsed tick, its slide bucket, and the end of the newest window
    * holding it (the watermarked column). */
  final case class Tick(symbol: String, price: Option[Double], bucket_ms: Long, last_end: Timestamp)

  /** One slide bucket's non-null prices: count, sum, and the sums of
    * their deviations and squared deviations from the symbol's shift. */
  final case class Pane(start: Long, n: Long, sum: Double, dsum: Double, dsq: Double)

  /** A symbol's panes still inside an open window, by start, and the
    * shift: the first price the state saw. Shifting keeps the variance's
    * sums small at any price level (raw sums of squares of prices near
    * 60,000 cancel the variance of a few dollars away). */
  final case class Panes(shift: Option[Double], panes: Seq[Pane])

  /** One `btc-price-moving` record before the JSON encode. */
  final case class Moving(window_timestamp: Timestamp, symbol: String, windows: Seq[WindowStats])

  /** parse → watermark → per-symbol panes → nested (window end, symbol)
    * records, in update mode.
    *
    * The watermark sits on the tick's newest window end with delay
    * lateness + max duration, which puts it at bucket(maxT) − lateness:
    * Spark drops a tick only when every window holding it is closed, and
    * counts it once in `numRowsDroppedByWatermark`. The operator skips
    * window ends at or below the watermark, so a tick late for its 30 s
    * windows still counts in its open 1 m and 1 h ones. When the lateness
    * is a multiple of the slide, this closes the same windows as an
    * `event_time` watermark with the same lateness, since window ends lie
    * on the slide grid. */
  def statsStream(raw: DataFrame): DataFrame = {
    val spark = raw.sparkSession
    import spark.implicits._
    val cfgs = TickOps.defaultWindows
    val slideMs = TickOps.uniformSlideMs(cfgs)
    require(latenessMs % slideMs == 0, "lateness must be a multiple of the slide")
    val maxMs = cfgs.map(_.durationMs).max
    TickOps.parseTicks(raw)
      .select(col("symbol"), col("price"), TickOps.bucketMs(slideMs))
      .withColumn("last_end", timestamp_millis(col("bucket_ms") + maxMs))
      .withWatermark("last_end", s"${latenessMs + maxMs} milliseconds")
      .as[Tick]
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.EventTimeTimeout)(
        updatePanes(cfgs.map(c => c.name -> c.durationMs).sortBy(_._2), slideMs))
      .toDF()
  }

  /** Fold a symbol's ticks into its panes, then emit the record of every
    * window end above the watermark that one of these ticks lies in,
    * with the windows (shortest first) that hold such a tick. Panes no
    * open window needs are pruned; the event-time timeout removes a
    * silent symbol once the watermark reaches its last window end. */
  private def updatePanes(windows: Seq[(String, Long)], slideMs: Long)(
      symbol: String, ticks: Iterator[Tick], state: GroupState[Panes]): Iterator[Moving] = {
    val maxMs = windows.last._2
    val wm = state.getCurrentWatermarkMs()
    val panes = mutable.TreeMap.empty[Long, Pane] ++
      state.getOption.toSeq.flatMap(_.panes).iterator.map(p => p.start -> p)
    var shift = state.getOption.flatMap(_.shift)
    val touched = mutable.TreeSet.empty[Long]
    ticks.foreach { t =>
      val p = panes.getOrElse(t.bucket_ms, Pane(t.bucket_ms, 0L, 0.0, 0.0, 0.0))
      panes(t.bucket_ms) = t.price.fold(p) { x =>
        if (shift.isEmpty && java.lang.Double.isFinite(x)) shift = Some(x)
        val d = x - shift.getOrElse(x)
        Pane(p.start, p.n + 1, p.sum + x, p.dsum + d, p.dsq + d * d)
      }
      touched += t.bucket_ms
    }

    val byStart = panes.values.toArray
    val starts = byStart.map(_.start)
    val out = mutable.ArrayBuffer.empty[Moving]
    if (touched.nonEmpty) {
      // every open window end after the first touched bucket, with the
      // latest touched bucket below it deciding which windows changed
      var end = math.max(touched.head, Math.floorDiv(wm, slideMs) * slideMs) + slideMs
      while (end <= touched.last + maxMs) {
        touched.maxBefore(end).foreach { b =>
          if (end - b <= maxMs)
            out += Moving(new Timestamp(end), symbol,
              windowStats(byStart, starts, windows.filter(_._2 >= end - b), end))
        }
        end += slideMs
      }
    }

    panes.filterInPlace((start, _) => start > wm - maxMs)
    if (panes.isEmpty) state.remove()
    else {
      state.update(Panes(shift, panes.values.toVector))
      // Spark times a state out once the watermark is strictly above its
      // timestamp; a pre-1970 end is clamped to the smallest timeout it takes
      state.setTimeoutTimestamp(math.max(panes.lastKey + maxMs - 1, 1L))
    }
    out.iterator
  }

  /** Stats of each of `windows` (ascending duration) ending at `end`,
    * summing the panes below `end` newest first: avg = Σ price / n, and
    * the sample variance from the shifted sums, clamped at 0, with the
    * reference's null/NaN → 0.0 coercions (n = 0 or 1 gives 0.0). */
  private def windowStats(byStart: Array[Pane], starts: Array[Long],
      windows: Seq[(String, Long)], end: Long): Seq[WindowStats] = {
    val at = java.util.Arrays.binarySearch(starts, end)
    var i = (if (at >= 0) at else -at - 1) - 1
    var (n, sum, dsum, dsq) = (0L, 0.0, 0.0, 0.0)
    windows.map { case (name, dur) =>
      while (i >= 0 && starts(i) >= end - dur) {
        val p = byStart(i)
        n += p.n; sum += p.sum; dsum += p.dsum; dsq += p.dsq
        i -= 1
      }
      val std = if (n < 2) 0.0 else math.sqrt(math.max((dsq - dsum * dsum / n) / (n - 1), 0.0))
      WindowStats(name, if (n == 0) 0.0 else sum / n, if (std.isNaN) 0.0 else std)
    }
  }

  /** The moving topic's record: the window end as the reference's
    * timestamp string, the symbol and the nested windows, as JSON. */
  def nested(moving: DataFrame): DataFrame =
    TickOps.toKafkaJson(
      moving.withColumn("timestamp", col("window_timestamp").cast(StringType)),
      Seq("timestamp", "symbol", "windows"))

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
