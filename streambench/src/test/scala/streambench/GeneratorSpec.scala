package streambench

import org.scalatest.funsuite.AnyFunSuite

/** The benchmark's inputs are a pure function of the seed, and the live
  * generator keeps to its schedule. */
class GeneratorSpec extends AnyFunSuite {

  private def frames(seed: Long, symbols: Int, steps: Int): Vector[(Seq[Byte], Seq[Byte])] = {
    val f = new TickGen.Feed(seed, symbols)
    Vector.fill(steps)(f.next()).flatten.map(t => (t.key.toSeq, t.value.toSeq))
  }

  test("the same seed gives byte-identical frames") {
    assert(frames(7, 20, 300) == frames(7, 20, 300))
  }

  test("a different seed gives different frames") {
    val a = frames(7, 20, 300)
    val b = frames(8, 20, 300)
    assert(a.size == b.size)
    assert(a.zip(b).count { case (x, y) => x != y } > a.size * 9 / 10)
  }

  test("frames sit on the 100 ms grid; each symbol crosses one 10 s boundary per 100 steps") {
    val f = new TickGen.Feed(3, 20)
    val ticks = Vector.fill(300)(f.next()).flatten
    assert(ticks.forall(_.eventTimeMs % TickGen.IntervalMs == 0))
    ticks.groupBy(_.symbolIdx).foreach { case (_, ts) =>
      assert(ts.count(t => TickGen.isBoundary(t.eventTimeMs)) == 3)
    }
    // boundary crossings are spread over the slide, not bunched in one step
    assert(ticks.filter(t => TickGen.isBoundary(t.eventTimeMs)).map(_.step % 100).distinct.size == 20)
    // every symbol's clock offset stays inside the jobs' 10 s watermark
    assert((0 until 20).forall(i => TickGen.phaseMs(i, 20) < TickGen.SlideMs))
  }

  test("the schedule is drift-free: a stall makes later steps late, never shifts their due times") {
    var now = 1000L
    val interval = 100L
    val calls = scala.collection.mutable.ArrayBuffer.empty[Long]
    val sched = new TickGen.Schedule(1000L, interval)
    val late = sched.run(50, () => now, n => now += n + 3) { k =>
      calls += now
      // step 10 stalls for 4.5 intervals; every other publish costs 10
      now += (if (k == 10) 450L else 10L)
    }
    assert(calls.indices.forall(k => calls(k) >= sched.dueNanos(k)))
    assert(late.toSeq == calls.indices.map(k => calls(k) - sched.dueNanos(k)))
    // the overdue steps after the stall go out back to back ...
    assert(late(11) > 300 && late(12) > 200 && late(13) > 100)
    // ... and once caught up the generator is back on the original grid,
    // late by the wake-up jitter only
    assert(late.drop(16).forall(_ == 3))
    assert(calls.last - calls.head < 50 * interval)
  }

  test("documents: same seed, same stream; another seed, another stream; a quarter near-duplicates") {
    def docs(seed: Long) = { val g = new DocGen(seed); g.next(500) ++ g.next(100) }
    assert(docs(11) == docs(11))
    val other = docs(12)
    assert(docs(11).zip(other).forall { case (a, b) => a != b })
    val d = docs(11)
    assert(d.map(_._1).distinct.size == d.size)
    val texts = d.map(_._2.split(" ").toSet)
    val nearDup = texts.indices.count { i =>
      (0 until i).exists { j =>
        val inter = (texts(i) & texts(j)).size.toDouble
        inter / (texts(i) | texts(j)).size > 0.6
      }
    }
    assert(nearDup > d.size / 8 && nearDup < d.size / 2, s"$nearDup near-duplicates of ${d.size}")
  }
}
