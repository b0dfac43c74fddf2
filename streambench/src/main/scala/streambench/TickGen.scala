package streambench

import java.nio.charset.StandardCharsets.UTF_8
import java.util.SplittableRandom

import graft.streaming.ProducerSim

/** Seeded tick feed: one frame per symbol per 100 ms step, the reference
  * producer's cadence (ProducerSim's send grid), rendered with the
  * producer's own JSON encoder.
  *
  * Event time of step `k` for symbol `i` of `n` is
  * `epochMs + k*100 + phaseMs(i, n)`: every symbol's feed clock sits on the
  * 100 ms grid, offset by a fixed whole number of steps spread evenly over
  * the 10 s slide (at most 9.9 s, inside the jobs' 10 s watermark).
  * Without the offset every symbol would cross a slide boundary in the
  * same instant, so the z-score join (which only matches ticks exactly on
  * a window end) would yield one burst of results per 10 s; with it,
  * boundary ticks arrive spread over the slide and a short run still
  * samples the latency distribution evenly.
  *
  * Prices are a per-symbol random walk in whole cents. Everything is a
  * pure function of (seed, symbol count, step), independent of how the
  * steps are chunked: the same seed gives byte-identical frames.
  */
object TickGen {
  val IntervalMs = 100L
  val SlideMs = 10000L
  val StepsPerSlide: Int = (SlideMs / IntervalMs).toInt

  /** Hour-aligned event-time origin, chosen by the seed. */
  def epochMs(seed: Long): Long =
    1704067200000L + java.lang.Math.floorMod(seed, 1000L) * 3600000L

  def symbol(i: Int): String = f"S$i%04dUSDT"

  def phaseMs(i: Int, symbols: Int): Long =
    (i.toLong * StepsPerSlide / symbols) % StepsPerSlide * IntervalMs

  /** Is step `k` of symbol `i` on a 10 s window end (the ticks the
    * z-score join matches)? */
  def isBoundary(eventTimeMs: Long): Boolean =
    java.lang.Math.floorMod(eventTimeMs, SlideMs) == 0L

  final case class Tick(symbolIdx: Int, step: Long, eventTimeMs: Long, price: Double, json: String) {
    def key: Array[Byte] = symbol(symbolIdx).getBytes(UTF_8)
    def value: Array[Byte] = json.getBytes(UTF_8)
  }

  /** Stateful cursor over the feed; `next()` returns step k's frames for
    * every symbol, in symbol order, then advances k. */
  final class Feed(seed: Long, val symbols: Int) {
    private val base = epochMs(seed)
    private val rngs = Array.tabulate(symbols)(i =>
      new SplittableRandom(seed * 1000003L + i * 7919L + 17L))
    private val cents = Array.tabulate(symbols)(i => 1000000L + rngs(i).nextLong(4000000L))
    private var k = 0L

    def step: Long = k

    def next(): Array[Tick] = {
      val out = new Array[Tick](symbols)
      var i = 0
      while (i < symbols) {
        // +-0.05% step in whole cents, floored at $1
        val move = rngs(i).nextLong(-cents(i) / 2000L - 1L, cents(i) / 2000L + 2L)
        cents(i) = math.max(100L, cents(i) + move)
        val ev = base + k * IntervalMs + phaseMs(i, symbols)
        val frame = ProducerSim.Frame(symbol(i), cents(i) / 100.0, ev, 0L)
        out(i) = Tick(i, k, ev, frame.price, ProducerSim.toJson(Seq(frame)).head)
        i += 1
      }
      k += 1
      out
    }
  }

  /** Drift-free absolute schedule: step k is due at `startNanos + k*interval`,
    * whatever time earlier steps were actually published. A generator
    * that falls behind publishes the overdue steps at once and reports
    * how late it ran; it never slides the grid. */
  final class Schedule(val startNanos: Long, val intervalNanos: Long) {
    def dueNanos(k: Long): Long = startNanos + k * intervalNanos

    /** Runs `steps` steps on `clock`: waits (through `park`) until each
      * step is due, then calls `publish(k)`. Returns each step's lateness
      * in ns (start of its publish minus its due time). */
    def run(steps: Int, clock: () => Long, park: Long => Unit)(publish: Int => Unit): Array[Long] = {
      val late = new Array[Long](steps)
      var k = 0
      while (k < steps) {
        val due = dueNanos(k)
        var now = clock()
        while (now < due) { park(due - now); now = clock() }
        late(k) = now - due
        publish(k)
        k += 1
      }
      late
    }
  }
}
