package graft.streaming

import java.time.Instant
import java.time.format.DateTimeFormatter
import java.time.ZoneOffset

/** Deterministic simulation of the reference producer's threading model
  * (reference src/Extract/main.py), so its emission semantics can be
  * spec-tested without wall clocks, HTTP, or Kafka:
  *
  *  - **Fetch workers** (main.py:62-86): each completed fetch refreshes the
  *    shared latest-price cell only when the price *changed*, OR the same
  *    price has been suppressed `counter >= 5` times, OR the cell is older
  *    than 0.5 s — otherwise it only bumps the suppression counter. The
  *    cell's `last_update` (and hence the emitted `data_age_ms`) therefore
  *    ratchets forward in steps even when the market price never moves.
  *  - **Sender** (main.py:89-118): emits one frame per 100 ms on a
  *    drift-free absolute schedule — `base` is rounded down to the
  *    interval and frame k fires at exactly `base + k*interval`,
  *    independent of fetch jitter; each frame re-sends the latest cached
  *    price (the stale-republish / duplicate-tick flow) with
  *    `data_age_ms = now - last_update`. Before the first successful
  *    fetch nothing is emitted ("Waiting for initial data", main.py:115).
  *
  * The simulation folds both threads over a single merged timeline
  * (fetch completions and send deadlines in time order; a fetch that
  * lands exactly on a send boundary is applied first), which makes the
  * interleaving deterministic where the real producer's is racy.
  */
object ProducerSim {

  /** A fetch attempt completing at `atMs`; `price` is None for a
    * timeout/error (main.py returns None and the worker skips the cell
    * update entirely). */
  final case class Fetch(atMs: Long, price: Option[Double])

  /** One emitted frame: `eventTimeMs` is grid-aligned send time (the
    * reference's event_time, already rounded to the 100 ms schedule). */
  final case class Frame(symbol: String, price: Double, eventTimeMs: Long, dataAgeMs: Long)

  /** Replay `fetches` against the drift-free send schedule covering
    * `(fromMs, untilMs]`. Mirrors main.py's policy constants by default:
    * 100 ms send interval, force-refresh after 5 suppressed repeats or
    * 0.5 s staleness. */
  def run(
      fetches: Seq[Fetch],
      fromMs: Long,
      untilMs: Long,
      symbol: String = "BTCUSDT",
      intervalMs: Long = 100L,
      forceAfterRepeats: Int = 5,
      forceAfterMs: Long = 500L): Seq[Frame] = {
    val base = fromMs - (fromMs % intervalMs) // main.py:91 rounds base down
    val sends = Iterator.from(1).map(k => base + k * intervalMs)
      .takeWhile(_ <= untilMs).toSeq

    // merged timeline; fetch (kind 0) before send (kind 1) on ties
    val events: Seq[(Long, Int, Option[Fetch])] =
      (fetches.map(f => (f.atMs, 0, Some(f))) ++ sends.map(t => (t, 1, None)))
        .sortBy(e => (e._1, e._2))

    var price: Option[Double] = None
    var lastUpdateMs: Long = Long.MinValue
    var counter = 0
    val out = Seq.newBuilder[Frame]

    events.foreach {
      case (now, _, Some(Fetch(_, Some(p)))) =>
        // main.py:69-81 — the update_needed policy, verbatim
        val updateNeeded = !price.contains(p) ||
          counter >= forceAfterRepeats ||
          (now - lastUpdateMs) > forceAfterMs
        if (updateNeeded) {
          price = Some(p); lastUpdateMs = now; counter = 0
        } else counter += 1
      case (_, _, Some(_)) => () // failed fetch: no cell update (main.py:66)
      case (now, _, None) =>
        price.foreach { p =>
          out += Frame(symbol, p, now, math.max(0L, now - lastUpdateMs))
        }
    }
    out.result()
  }

  private val iso = DateTimeFormatter
    .ofPattern("yyyy-MM-dd'T'HH:mm:ss.SSSXXX").withZone(ZoneOffset.UTC)

  /** Render frames as the producer's JSON tick messages (main.py:103-110's
    * payload shape), directly consumable by [[graft.operators.TickOps.parseTicks]]. */
  def toJson(frames: Seq[Frame]): Seq[String] =
    frames.map { f =>
      s"""{"symbol":"${f.symbol}","price":${f.price},""" +
        s""""event_time":"${iso.format(Instant.ofEpochMilli(f.eventTimeMs))}",""" +
        s""""data_age_ms":${f.dataAgeMs}}"""
    }
}
