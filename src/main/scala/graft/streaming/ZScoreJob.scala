package graft.streaming

import java.sql.Timestamp

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery}
import org.apache.spark.sql.types.{BinaryType, DoubleType, LongType, StringType, StructType}

import graft.model.Models
import graft.operators.TickOps

/** Streaming z-score job: `btc-price` ⋈ `btc-price-moving` →
  * one record of per-(tick, window) z-scores per (tick time, symbol) →
  * `btc-price-zscore` (reference src/Tranforms/zscore_calculator.py).
  *
  * The reference's join is an inner equi-join on
  * (event_time == window end, symbol) — equality, not a range: only ticks
  * landing exactly on a 10 s slide boundary match, by reference design
  * (SURVEY.md §2.7). Here it is one `flatMapGroupsWithState` per symbol
  * over the union of those boundary ticks and the moving records. The
  * moving job re-publishes an open window end on every batch that changes
  * it; the operator keeps only the newest version of each window end (the
  * highest Kafka offset: every version of a key lands in one partition)
  * and the boundary ticks, and pairs a tick with its end's version when
  * either arrives. The watermark is the reference's: newest tick − 10 s.
  * Ends and ticks at or below it are evicted, and later input is dropped
  * and counted in `numRowsDroppedByWatermark`.
  *
  * The operator emits one row per (window end, symbol) it paired in a
  * batch: the prices of the ticks and the version's body. That is the
  * reference's second aggregation (zscore_calculator.py:145-155, the
  * re-nest per (timestamp, symbol)) done by the operator itself, so what
  * follows is one projection — decode the windows, z-score each
  * (price, window) — and the JSON encode, written by Spark's streaming
  * sink (SURVEY.md §4 H1).
  *
  * A moving record is read from its key (`<window end, epoch ms>|<symbol>`,
  * [[MovingStatsJob.nested]]) with string functions; the record body rides
  * along undecoded, and only the emitted rows have their `windows`
  * decoded. A record whose key is null or does not parse (one written
  * before the moving job keyed its records) is dropped and counted in the
  * observed metric `zscore_moving_keys.unkeyed_dropped`.
  */
object ZScoreJob {

  private val movingWindowsSchema = StructType(Models.movingStatsSchema.filter(_.name == "windows"))

  /** One row of the operator's input: a boundary tick (no version), or a
    * moving record, its Kafka offset as the version and its undecoded
    * body. `event_time` is the tick's time or the record's window end. */
  final case class Input(symbol: String, event_time: Timestamp, price: Option[Double],
      version: Option[Long], body: Array[Byte])

  /** A window end's newest version. */
  final case class Version(end_ms: Long, offset: Long, body: Array[Byte])

  /** A boundary tick waiting for newer versions of its window end. */
  final case class Boundary(end_ms: Long, price: Option[Double])

  /** A symbol's state: its window ends' newest versions and its boundary
    * ticks, all above the watermark. */
  final case class Held(versions: Seq[Version], ticks: Seq[Boundary])

  /** The prices of a window end's boundary ticks, paired with the end's
    * newest version. */
  final case class Paired(event_time: Timestamp, symbol: String, prices: Seq[Option[Double]],
      body: Array[Byte])

  /** The moving-stats topic's records as (event_time = window end, symbol,
    * version = Kafka offset, undecoded body), read from the Kafka key
    * (reference zscore_calculator.py:74-82). Records with a null or
    * unparsable key are counted, then dropped. */
  def parseMoving(raw: DataFrame): DataFrame = {
    val key = col("key").cast(StringType)
    val bar = instr(key, "|")
    val endMs = when(bar > 0, substring_index(key, "|", 1).try_cast(LongType))
    raw
      .select(
        timestamp_micros(try_multiply(endMs, lit(1000L))).as("event_time"),
        key.substr(bar + 1, length(key)).as("symbol"),
        col("offset").as("version"),
        col("value").cast(BinaryType).as("body"))
      .observe("zscore_moving_keys", count(when(col("event_time").isNull, true)).as("unkeyed_dropped"))
      .filter(col("event_time").isNotNull)
  }

  /** ticks ⋈ moving records → the z-score topic's columns: event_time,
    * symbol and `zscores`, every (window, price) pair's
    * (window, zscore_price); shared by streaming and tests. Only ticks on
    * the slide grid can equal a window end, so the others are dropped
    * after the watermark has seen them. The emitted rows' windows are
    * decoded after the operator (reference zscore_calculator.py:84-133);
    * a body without windows, which the moving job never writes, gives a
    * row without entries. */
  def zscores(ticks: DataFrame, moving: DataFrame): DataFrame = {
    val spark = ticks.sparkSession
    import spark.implicits._
    val slideUs = TickOps.uniformSlideMs(TickOps.defaultWindows) * 1000L
    val boundary = ticks
      .withWatermark("event_time", "10 seconds")
      .filter(unix_micros(col("event_time")) % slideUs === 0)
      .select(col("symbol"), col("event_time"), col("price"), lit(null).cast(LongType).as("version"),
        lit(null).cast(BinaryType).as("body"))
    val versions = moving.select(col("symbol"), col("event_time"), lit(null).cast(DoubleType).as("price"),
      col("version"), col("body"))
    // windows outermost: the optimizer inlines a decode referenced inside
    // a lambda, which would parse the body once per price
    val windows = from_json(col("body").cast(StringType), movingWindowsSchema).getField("windows")
    boundary.union(versions)
      .groupBy(col("symbol")).as[String, Input]
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(latest)
      .select(col("event_time"), col("symbol"),
        flatten(transform(windows, w => transform(col("prices"), p => struct(
          w.getField("window").as("window"),
          TickOps.zscoreOf(p, w.getField("avg_price"), w.getField("std_price")).as("zscore_price")))))
          .as("zscores"))
  }

  /** Fold a symbol's rows into its state: per window end the version with
    * the highest offset wins, and a version whose body equals the held one
    * (a replayed moving batch) replaces it without emitting. Pair each
    * arriving tick with its end's version, and each held tick whose end
    * got a changed version, and emit one row per end paired. Then evict
    * ends and ticks at or below the watermark; the event-time timeout
    * wakes the symbol when the watermark reaches the earliest one left. */
  private def latest(symbol: String, rows: Iterator[Input], state: GroupState[Held]): Iterator[Paired] = {
    val held = state.getOption.getOrElse(Held(Nil, Nil))
    val versions = mutable.HashMap.empty[Long, Version] ++ held.versions.iterator.map(v => v.end_ms -> v)
    val incoming = mutable.HashMap.empty[Long, Version]
    val arrived = mutable.ArrayBuffer.empty[Boundary]
    rows.foreach { r =>
      val end = r.event_time.getTime
      r.version match {
        case None => arrived += Boundary(end, r.price)
        case Some(offset) =>
          if (incoming.get(end).forall(_.offset < offset)) incoming(end) = Version(end, offset, r.body)
      }
    }
    val changed = mutable.HashSet.empty[Long]
    incoming.valuesIterator.foreach { v =>
      val old = versions.get(v.end_ms)
      if (old.forall(_.offset < v.offset)) {
        if (!old.exists(o => java.util.Arrays.equals(o.body, v.body))) changed += v.end_ms
        versions(v.end_ms) = v
      }
    }

    val paired = held.ticks.filter(t => changed(t.end_ms)) ++ arrived.filter(t => versions.contains(t.end_ms))
    val emitted = paired.groupBy(_.end_ms)
      .map { case (end, ts) => Paired(new Timestamp(end), symbol, ts.map(_.price), versions(end).body) }

    val wm = state.getCurrentWatermarkMs()
    val kept = Held(versions.valuesIterator.filter(_.end_ms > wm).toVector.sortBy(_.end_ms),
      (held.ticks ++ arrived).filter(_.end_ms > wm))
    if (kept.versions.isEmpty && kept.ticks.isEmpty) state.remove()
    else {
      state.update(kept)
      // Spark times a state out once the watermark is strictly above its
      // timestamp; a pre-1970 end is clamped to the smallest timeout it takes
      val earliest = (kept.versions.iterator.map(_.end_ms) ++ kept.ticks.iterator.map(_.end_ms)).min
      state.setTimeoutTimestamp(math.max(earliest - 1, 1L))
    }
    emitted.iterator
  }

  /** The z-score topic's record ([[KafkaIO.record]]): the value holds the
    * tick time, the symbol and the z-scores; the key is
    * `<tick time, epoch ms>|<symbol>`. */
  def nested(zscores: DataFrame): DataFrame = KafkaIO.record(zscores, "event_time", "zscores")

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
    KafkaIO.sink(nested(zscores(ticks, moving)), brokers, outTopic, checkpointDir,
      "append", triggerInterval, format).start()
  }
}
