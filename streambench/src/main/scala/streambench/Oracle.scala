package streambench

import graft.operators.TickOps

/** Independent recomputation of what the two jobs must publish, straight
  * from the reference formulas (SURVEY.md section 2): for each sliding
  * window (every `TickOps.defaultWindows` duration, 10 s slide, windows
  * `[start, start + duration)` with epoch-aligned starts) and symbol, the
  * mean and sample standard deviation of price, with a one-tick window's
  * deviation read as 0; and for each tick lying exactly on a window end,
  * `z = (price - mean) / std`, or 0 when std is 0.
  *
  * The deviation uses Welford's update, like Spark's own aggregate, so a
  * window of equal prices has exactly zero deviation in both.
  */
object Oracle {
  final case class Stat(avg: Double, std: Double)

  private final class Acc {
    var n = 0L
    var sum = 0.0
    var mean = 0.0
    var m2 = 0.0
    def add(x: Double): Unit = {
      n += 1
      sum += x
      val d = x - mean
      mean += d / n
      m2 += d * (x - mean)
    }
    def stat: Stat = {
      val sd = if (n < 2) 0.0 else math.sqrt(m2 / (n - 1))
      Stat(sum / n, if (sd.isNaN) 0.0 else sd)
    }
  }

  /** (window end ms, window tag, symbol index) -> stats */
  def movingStats(
      ticks: Seq[TickGen.Tick],
      windows: Seq[TickOps.WindowConfig] = TickOps.defaultWindows): Map[(Long, String, Int), Stat] = {
    val accs = scala.collection.mutable.HashMap.empty[(Long, String, Int), Acc]
    for (t <- ticks; w <- windows) {
      val slide = w.slideMs
      val first = java.lang.Math.floorDiv(t.eventTimeMs, slide) * slide
      var k = 0L
      while (k < w.durationMs / slide) {
        val end = first - k * slide + w.durationMs
        accs.getOrElseUpdate((end, w.name, t.symbolIdx), new Acc).add(t.price)
        k += 1
      }
    }
    accs.iterator.map { case (key, a) => key -> a.stat }.toMap
  }

  /** (tick event ms, symbol index, window tag) -> z-score, for ticks that
    * lie on the end of a window holding data. */
  def zscores(
      ticks: Seq[TickGen.Tick],
      stats: Map[(Long, String, Int), Stat],
      windows: Seq[TickOps.WindowConfig] = TickOps.defaultWindows): Map[(Long, Int, String), Double] =
    (for {
      t <- ticks.iterator
      w <- windows.iterator
      st <- stats.get((t.eventTimeMs, w.name, t.symbolIdx)).iterator
    } yield (t.eventTimeMs, t.symbolIdx, w.name) ->
      (if (st.std == 0.0) 0.0 else (t.price - st.avg) / st.std)).toMap
}
