package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.model.Models.PriceTick

/** Bonus topics `btc-price-higher` / `btc-price-lower`: declared by the
  * reference's topic setup (reference setup_transform.py:129-130) but never
  * produced. We implement the natural semantics: for each tick, the time
  * (in seconds) until the first strictly higher / strictly lower price,
  * bounded by a horizon (default 20 s); ticks with no such successor
  * within the horizon resolve to the horizon value.
  *
  * Implemented with `flatMapGroupsWithState` — per-symbol state holds the
  * ticks still awaiting resolution; event-time timeout + watermark bound
  * the state size, so state is O(ticks within horizon) per symbol
  * regardless of stream length. It runs on whichever state store the
  * session selects (`spark.sql.streaming.stateStore.providerClass`: the
  * default HDFS-backed one or RocksDB).
  */
object PriceAlerts {

  final case class Alert(symbol: String, event_time: Timestamp, price: Double, seconds_until: Double)

  final case class Pending(ticks: List[PriceTick])

  /** direction = +1 → time-until-higher; -1 → time-until-lower.
    *
    * Resolution: a pending tick resolves against the first qualifying
    * successor (event-time within the horizon) **in arrival order** —
    * the alert is emitted the micro-batch that successor arrives, so a
    * late-arriving successor with an *earlier* event time cannot revise
    * an already-emitted `seconds_until` (append mode; emissions are
    * final). Late-but-in-watermark ticks do still resolve ticks that are
    * *still pending*: expiry alone is watermark-driven — a pending tick
    * emits the horizon value only once the event-time watermark passes
    * `tick + horizon`, i.e. once no in-watermark successor can arrive.
    * Exact event-time-order resolution would require buffering every
    * alert until the watermark passes its resolver; arrival-order is the
    * standard low-latency trade-off and matches update-mode intuition.
    * Event-time timers re-arm for the earliest outstanding expiry, so
    * quiet keys still flush (and release their state) as the watermark
    * advances on other keys.
    */
  def resolve(direction: Int, horizonSec: Double)(
      symbol: String,
      in: Iterator[PriceTick],
      state: GroupState[Pending]): Iterator[Alert] = {
    val horizonMs = (horizonSec * 1000).toLong
    val incoming = in.toList.sortBy(_.event_time.getTime)
    val out = scala.collection.mutable.ListBuffer.empty[Alert]

    var open = state.getOption.map(_.ticks).getOrElse(Nil) ++ incoming
    for (t <- incoming) {
      val (resolved, stillOpen) = open.partition { p =>
        p.event_time.getTime < t.event_time.getTime &&
          t.event_time.getTime - p.event_time.getTime <= horizonMs &&
          (if (direction > 0) t.price > p.price else t.price < p.price)
      }
      resolved.foreach { p =>
        out += Alert(symbol, p.event_time, p.price,
          (t.event_time.getTime - p.event_time.getTime) / 1000.0)
      }
      open = stillOpen
    }

    // watermark-driven horizon expiry (covers both data-driven calls and
    // timer firings, where `incoming` is empty)
    val wm = state.getCurrentWatermarkMs()
    val (expired, kept) = open.partition(p => wm >= p.event_time.getTime + horizonMs)
    expired.foreach(p => out += Alert(symbol, p.event_time, p.price, horizonSec))

    if (kept.isEmpty) state.remove()
    else {
      state.update(Pending(kept))
      // earliest outstanding expiry; strictly above the current watermark
      // because every kept tick has event_time + horizon > wm
      state.setTimeoutTimestamp(kept.map(_.event_time.getTime).min + horizonMs)
    }
    out.iterator
  }

  /** Wire onto a parsed, watermarked tick stream. */
  def alerts(
      ticks: Dataset[PriceTick],
      direction: Int,
      horizonSec: Double = 20.0)(implicit spark: SparkSession): Dataset[Alert] = {
    require(direction == 1 || direction == -1, s"direction must be +1 or -1, got $direction")
    require(horizonSec > 0, s"horizonSec must be positive, got $horizonSec")
    import spark.implicits._
    ticks
      .groupByKey(_.symbol)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        resolve(direction, horizonSec))
  }
}
