package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.ProducerSim
import graft.streaming.ProducerSim.{Fetch, Frame}

/** S4 producer fidelity: the reference producer's stale-republish policy
  * (force cell refresh after 5 suppressed identical fetches or 0.5 s
  * staleness — reference main.py:69-81) and its drift-free 100 ms send
  * schedule (main.py:89-97), simulated deterministically and pushed
  * through the real window aggregation. */
class ProducerSimSpec extends SparkSpec {
  import spark.implicits._

  private val Base = 1704067200000L // 2024-01-01T00:00:00Z, on the 100 ms grid

  test("drift-free cadence: frames land exactly on the 100 ms grid despite fetch jitter") {
    val fetches = Seq(
      Fetch(Base + 37, Some(100.0)),
      Fetch(Base + 411, Some(101.0)),
      Fetch(Base + 588, Some(102.0)))
    val frames = ProducerSim.run(fetches, Base, Base + 700)
    // send k fires at exactly base + k*100 — fetch completion times never shift it
    assert(frames.map(_.eventTimeMs) ==
      (1 to 7).map(k => Base + k * 100L))
    // each frame re-sends the latest cached price at its send instant
    assert(frames.map(_.price) == Seq(100.0, 100.0, 100.0, 100.0, 101.0, 102.0, 102.0))
  }

  test("no emission before the first successful fetch (waiting for initial data)") {
    val frames = ProducerSim.run(Seq(Fetch(Base + 250, Some(9.0))), Base, Base + 400)
    assert(frames.map(_.eventTimeMs) == Seq(Base + 300, Base + 400))
  }

  test("stale-republish: unchanged price re-emitted every 100 ms; cell refresh forced after 5 suppressed repeats") {
    // identical price fetched every 100 ms: the cell's last_update sticks at
    // the first fetch while the counter climbs, then the 7th fetch (counter
    // 5 >= 5) forces a refresh — visible as data_age_ms resetting.
    val fetches = (0 to 6).map(i => Fetch(Base + 50 + i * 100L, Some(100.0)))
    val frames = ProducerSim.run(fetches, Base, Base + 700)
    assert(frames.forall(_.price == 100.0)) // duplicate-tick flow: every frame emits
    assert(frames.map(_.dataAgeMs) == Seq(50L, 150L, 250L, 350L, 450L, 550L, 50L))
  }

  test("stale-republish: 0.5 s staleness forces refresh when fetches stall") {
    // one good fetch, then timeouts (None) until a same-price fetch at
    // +600 ms of cell age: price unchanged and counter 0, but age > 500 ms
    // → refresh (last_update jumps to Base+650).
    val fetches = Fetch(Base + 50, Some(100.0)) +:
      (1 to 5).map(i => Fetch(Base + 50 + i * 100L, None)) :+
      Fetch(Base + 650, Some(100.0))
    val frames = ProducerSim.run(fetches, Base, Base + 800)
    assert(frames.map(_.dataAgeMs) == Seq(50L, 150L, 250L, 350L, 450L, 550L, 50L, 150L))
  }

  test("duplicate ticks flow through the window aggregation individually") {
    // price moves once, late: 15 frames re-publish 100.0, 5 frames carry
    // 110.0. If re-published duplicates were collapsed the window average
    // would be 105; counting every frame individually it is 102.5.
    val fetches = (0 until 20).map { i =>
      Fetch(Base + 50 + i * 100L, Some(if (i < 15) 100.0 else 110.0))
    }
    val frames = ProducerSim.run(fetches, Base, Base + 2000)
    assert(frames.length == 20)
    assert(frames.count(_.price == 100.0) == 15 && frames.count(_.price == 110.0) == 5)

    val in = MemoryStream[String](spark)
    val q = graft.operators.TickOps.flattenWindows(graft.streaming.MovingStatsJob.statsStream(in.toDF()))
      .writeStream.format("memory").queryName("producer_sim_out")
      .outputMode(OutputMode.Update).start()
    try {
      in.addData(ProducerSim.toJson(frames))
      q.processAllAvailable()
      val w30 = spark.table("producer_sim_out")
        .filter(col("window") === "30s" &&
          col("window_timestamp") === new java.sql.Timestamp(Base + 30000L))
        .collect()
      assert(w30.length == 1)
      assert(w30.head.getAs[Double]("avg_price") == 102.5)
    } finally q.stop()
  }
}
