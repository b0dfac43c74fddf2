package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

import graft.model.Models.PriceTick
import graft.operators.TickOps
import graft.streaming.{MovingStatsJob, PriceAlerts, ZScoreJob}

/** Structured Streaming behavior driven synchronously with MemoryStream:
  * update-mode emission, watermark late-data policy, the stream-stream
  * equi-join, H1 foreachBatch re-nesting, and the bonus alert operator. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def tickJson(symbol: String, price: Double, iso: String): String =
    s"""{"symbol":"$symbol","price":$price,"event_time":"$iso","data_age_ms":1}"""

  test("moving stats streaming: windowed update-mode emission via MemoryStream") {
    val in = MemoryStream[String](spark)
    val raw = in.toDF().withColumnRenamed("value", "value")
    val flat = TickOps.flattenWindows(MovingStatsJob.statsStream(raw))
    val q = flat.writeStream
      .format("memory").queryName("mv_out").outputMode(OutputMode.Update).start()
    try {
      in.addData(
        tickJson("BTCUSDT", 100.0, "2024-01-01T00:00:02.000Z"),
        tickJson("BTCUSDT", 110.0, "2024-01-01T00:00:07.000Z"))
      q.processAllAvailable()
      val out = spark.table("mv_out")
      // 6 window configs; the 30s config alone contributes 3 window instances
      val w30 = out.filter(col("window") === "30s").collect()
      assert(w30.length == 3)
      assert(w30.forall(_.getAs[Double]("avg_price") == 105.0))

      // second batch updates the same windows (update mode re-emits)
      in.addData(tickJson("BTCUSDT", 120.0, "2024-01-01T00:00:09.000Z"))
      q.processAllAvailable()
      val w30b = spark.table("mv_out").filter(col("window") === "30s")
        .groupBy("window_timestamp").agg(max("avg_price").as("a")).collect()
      assert(w30b.forall(_.getAs[Double]("a") == 110.0)) // (100+110+120)/3
    } finally q.stop()
  }

  test("six-window explode topology streams the exact union-topology rows") {
    // slidingStatsMulti streams as ONE update-mode stateful aggregation
    // (codegen'd explode, no 669-branch Expand); its final streamed rows
    // must equal the reference-fidelity 6-agg union computed in batch on
    // the same ticks
    val in = MemoryStream[PriceTick](spark)
    val cfgs = TickOps.defaultWindows
    // exact=true on both sides: the decimal-exact stats are accumulation-
    // order-invariant, so streaming-vs-batch equality is bit-for-bit
    // (float stddev differs in the last ulp across the two partitionings)
    val stats = TickOps.slidingStatsMulti(
      in.toDF().withWatermark("event_time", "10 seconds"), cfgs, exact = true)
    val q = stats.writeStream
      .format("memory").queryName("mw_out").outputMode(OutputMode.Update).start()
    val ticksSeq = (0 until 50).map(i =>
      PriceTick(if (i % 2 == 0) "BTC" else "ETH", 100.0 + i,
        ts(f"2024-01-01 00:${i / 6}%02d:${(i * 7) % 60}%02d")))
    try {
      // one batch → update mode emits each (end, window, symbol) group
      // exactly once, so the sink table IS the final answer (cross-batch
      // update re-emission is pinned by the MemoryStream test above)
      in.addData(ticksSeq)
      q.processAllAvailable()
      val rows = spark.table("mw_out").collect()
        .map(r => (r.getTimestamp(0), r.getString(2), r.getString(1))
          -> ((r.getAs[Double]("avg_price"), r.getAs[Double]("std_price"))))
      assert(rows.map(_._1).distinct.length == rows.length, "duplicate emissions")
      val streamed = rows.toMap
      val batch = noWideExpandCodegen {
        TickOps.movingStatsUnion(
          spark.createDataFrame(ticksSeq), cfgs, exact = true)
          .collect()
          .map(r => (r.getTimestamp(0), r.getString(2), r.getString(1))
            -> ((r.getAs[Double]("avg_price"), r.getAs[Double]("std_price")))).toMap
      }
      assert(streamed.keySet == batch.keySet,
        s"group sets differ: ${streamed.keySet.size} vs ${batch.keySet.size}")
      streamed.foreach { case (k, v) => assert(v == batch(k), s"at $k") }
    } finally q.stop()
  }

  private type ParityOut = (Long, Option[String], String, Double, Double)

  /** The reference topology, one window() aggregation per config
    * watermarked on event_time, next to statsStream. `body` gets a `feed`
    * that adds the same tick JSON to both as one micro-batch each, asserts
    * equal batch ids and equal flat update rows in every batch, and
    * returns statsStream's batches, its state rows, and the rows its
    * watermark dropped in those batches. One source each: a MemoryStream
    * drops what its first reader commits. */
  private def withParity(name: String)(
      body: (Seq[String] => (Seq[(Long, Seq[ParityOut])], Long, Long)) => Unit): Unit = {
    val (refIn, gotIn) = (MemoryStream[String](spark), MemoryStream[String](spark))
    val reference = TickOps.movingStatsUnion(
      TickOps.parseTicks(refIn.toDF()).withWatermark("event_time", "10 seconds"))
    def start(df: DataFrame, queryName: String) = {
      val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[ParityOut])]
      val q = df.writeStream.queryName(queryName).outputMode(OutputMode.Update)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val rows = b.collect().toSeq.map(r => (r.getTimestamp(0).getTime, Option(r.getString(1)),
            r.getString(2), r.getDouble(3), r.getDouble(4))).sortBy(r => (r._1, r._2, r._3))
          batches.synchronized { batches += id -> rows }
          ()
        }.start()
      (q, batches)
    }
    // a started query keeps the session conf it started with
    val (ref, refOut) = noWideExpandCodegen(start(reference, s"${name}_ref"))
    val (got, gotOut) = start(TickOps.flattenWindows(MovingStatsJob.statsStream(gotIn.toDF())), s"${name}_got")
    def feed(json: Seq[String]): (Seq[(Long, Seq[ParityOut])], Long, Long) = {
      val seen = got.recentProgress.length
      refIn.addData(json); gotIn.addData(json)
      ref.processAllAvailable()
      got.processAllAvailable()
      val emitted = gotOut.synchronized(gotOut.toList)
      val expected = refOut.synchronized(refOut.toList)
      assert(emitted.map(_._1) == expected.map(_._1), "batch ids differ")
      emitted.zip(expected).foreach { case ((id, a), (_, b)) =>
        assert(a == b, s"batch $id: only streamed ${a.diff(b).take(5)}; only reference ${b.diff(a).take(5)}")
      }
      gotOut.synchronized(gotOut.clear()); refOut.synchronized(refOut.clear())
      val dropped = got.recentProgress.drop(seen).flatMap(_.stateOperators).map(_.numRowsDroppedByWatermark).sum
      (emitted, got.lastProgress.stateOperators.map(_.numRowsTotal).sum, dropped)
    }
    try body(feed) finally { ref.stop(); got.stop() }
  }

  test("statsStream emits the six-window() union's update rows batch by batch and evicts the same state") {
    // statsStream watermarks each tick's newest window end and keeps one
    // pane ring per symbol; it must emit the reference's rows in every
    // batch, which pins its watermark delay, and hold one state row per
    // symbol with an open window.
    withParity("parity") { feed =>
      def step(ticks: (String, Double, String)*): (Seq[(Long, Seq[ParityOut])], Long) = {
        val (emitted, stateRows, _) = feed(ticks.map { case (sym, p, iso) => tickJson(sym, p, iso) })
        (emitted, stateRows)
      }
      // in order
      val (first, firstRows) = step(("BTC", 100.0, "2024-01-01T00:00:02Z"), ("ETH", 50.0, "2024-01-01T00:00:05Z"),
        ("BTC", 110.0, "2024-01-01T00:00:07Z"), ("BTC", 120.0, "2024-01-01T00:00:15Z"))
      assert(first.flatMap(_._2).nonEmpty)
      assert(firstRows == 2) // BTC, ETH
      // watermark → 00:00:50
      assert(step(("BTC", 130.0, "2024-01-01T00:01:00Z"))._2 == 2)
      // late for every 30 s window (ends :20–:40), not for 1m (:60, :70) or 1h
      val (late, beforeJump) = step(("BTC", 140.0, "2024-01-01T00:00:12Z"))
      val lateWindows = late.flatMap(_._2).map(_._3).toSet
      assert(!lateWindows("30s") && lateWindows("1m") && lateWindows("1h"))
      // jump: watermark → 01:09:50 passes every earlier window end (≤ 01:01:00)
      val (_, afterJump) = step(("BTC", 150.0, "2024-01-01T01:10:00Z"))
      assert(beforeJump == 2)
      assert(afterJump < beforeJump)
      assert(afterJump == 1) // BTC; ETH's last window ended 01:00:00
      // older than every window: its last 1h window ends 01:05:00 ≤ watermark
      val (old, oldRows) = step(("ETH", 60.0, "2024-01-01T00:05:00Z"))
      assert(old.flatMap(_._2).isEmpty)
      assert(oldRows == 1)
    }
  }

  test("statsStream matches the six-window() union on null prices and symbols, and drops a tick once only when every window is closed") {
    withParity("parity_nulls") { feed =>
      val (first, rows, _) = feed(Seq(
        tickJson("BTC", 100.0, "2024-01-01T00:00:02Z"),
        """{"symbol":"BTC","price":null,"event_time":"2024-01-01T00:00:07Z"}""",
        """{"symbol":null,"price":50.0,"event_time":"2024-01-01T00:00:05Z"}""",
        """{"price":70.0,"event_time":"2024-01-01T00:00:15Z"}""",
        """{"symbol":"ETH","event_time":"2024-01-01T00:00:09Z"}"""))
      val flat = first.flatMap(_._2)
      assert(flat.exists(_._2.isEmpty), "null-symbol windows")
      val eth = flat.filter(_._2.contains("ETH"))
      assert(eth.length == 669 && eth.forall(r => r._4 == 0.0 && r._5 == 0.0), "price-less windows coerce to 0.0")
      assert(rows == 3) // BTC, ETH, the null symbol
      // watermark → 00:00:50
      feed(Seq(tickJson("BTC", 130.0, "2024-01-01T00:01:00Z")))
      // closed for its 30 s windows, open for 1m and 1h: counted nowhere
      val (partly, _, partlyDropped) = feed(Seq(tickJson("BTC", 140.0, "2024-01-01T00:00:12Z")))
      assert(partly.flatMap(_._2).nonEmpty)
      assert(partlyDropped == 0)
      // its last window ends 00:00:00 ≤ watermark: one tick dropped, one count
      val (old, _, oldDropped) = feed(Seq(tickJson("BTC", 90.0, "2023-12-31T23:00:00Z")))
      assert(old.flatMap(_._2).isEmpty)
      assert(oldDropped == 1)
    }
  }

  test("pane stats stay within 1e-9 of exact decimals at BTC price levels over a full hour") {
    // 10 ticks/s for an hour of whole-cent prices around 60,000 with a few
    // dollars of noise, 3,000 above the first price for the last 10
    // minutes: unshifted sums of squares cancel the variance away
    val rnd = new scala.util.Random(7)
    val t0 = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli
    val cents = (0 until 36000).map { i =>
      val drift = if (i < 24000) 0.0 else math.min(3000.0, (i - 24000) * 0.5)
      math.round((60000.0 + drift + rnd.nextGaussian() * 3.0) * 100)
    }
    val json = cents.zipWithIndex.map { case (c, i) =>
      val at = java.time.Instant.ofEpochMilli(t0 + 100L * i)
      f"""{"symbol":"BTC","price":${c / 100}.${c % 100}%02d,"event_time":"$at"}"""
    }
    val in = MemoryStream[String](spark)
    val last = scala.collection.mutable.Map.empty[(Long, String), (Double, Double)]
    val q = TickOps.flattenWindows(MovingStatsJob.statsStream(in.toDF()))
      .writeStream.outputMode(OutputMode.Update)
      .foreachBatch { (b: DataFrame, _: Long) =>
        b.collect().foreach(r => last((r.getTimestamp(0).getTime, r.getString(2))) = (r.getDouble(3), r.getDouble(4)))
        ()
      }.start()
    try json.grouped(6000).foreach { chunk => in.addData(chunk); q.processAllAvailable() }
    finally q.stop()
    // avg from the exact decimal sums; std from the exact integer sums of
    // cents (the decimal path finishes its variance in doubles, which
    // cancels to about 1e-7 at this price level)
    val exact = TickOps.slidingStatsMultiTwoPhaseExact(TickOps.parseTicks(json.toDF("value")))
      .collect().map(r => (r.getTimestamp(0).getTime, r.getString(2)) -> r.getDouble(3)).toMap
    val durMs = TickOps.defaultWindows.map(c => c.name -> c.durationMs).toMap
    val (s1, s2) = (cents.scanLeft(BigInt(0))(_ + _), cents.scanLeft(BigInt(0))((a, c) => a + BigInt(c) * c))
    def exactStd(end: Long, window: String): Double = {
      def at(ms: Long) = math.min(math.max(ms - t0, 0L) / 100L, cents.length.toLong).toInt
      val (from, until) = (at(end - durMs(window)), at(end))
      val n = until - from
      if (n < 2) 0.0 else {
        val (s, q) = (s1(until) - s1(from), s2(until) - s2(from))
        val v = BigDecimal(q * n - s * s) / BigDecimal(BigInt(n) * (n - 1))
        math.sqrt(v.toDouble) / 100
      }
    }
    assert(last.keySet == exact.keySet)
    def close(got: Double, want: Double) = math.abs(got - want) <= 1e-9 * math.abs(want)
    exact.foreach { case (k @ (end, window), avg) =>
      val (gotAvg, gotStd) = last(k)
      val std = exactStd(end, window)
      assert(close(gotAvg, avg) && close(gotStd, std), s"at $k: ($gotAvg, $gotStd) vs exact ($avg, $std)")
    }
    // short windows at the end of a full ring, well above the first price
    assert(exact.exists { case ((end, w), avg) => w == "30s" && end == t0 + 3600000L && avg > 62900.0 })
  }

  test("watermark: late data beyond 10s is dropped from append-mode windows") {
    val in = MemoryStream[PriceTick](spark)
    val agg = TickOps.slidingStats(
      in.toDF().withWatermark("event_time", "10 seconds"),
      TickOps.WindowConfig("10s", "10 seconds", "10 seconds"))
    val q = agg.writeStream
      .format("memory").queryName("wm_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(PriceTick("BTC", 100.0, ts("2024-01-01 00:00:05")))
      q.processAllAvailable()
      // advance watermark far past the first window
      in.addData(PriceTick("BTC", 200.0, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      // this row is > 10s behind the watermark → must be discarded
      in.addData(PriceTick("BTC", 999.0, ts("2024-01-01 00:00:07")))
      q.processAllAvailable()
      in.addData(PriceTick("BTC", 300.0, ts("2024-01-01 00:20:00")))
      q.processAllAvailable()
      val rows = spark.table("wm_out").collect()
      val first = rows.filter(_.getAs[Timestamp]("window_timestamp") == ts("2024-01-01 00:00:10"))
      assert(first.length == 1)
      assert(first.head.getAs[Double]("avg_price") == 100.0) // 999 never entered
    } finally q.stop()
  }

  test("stream-stream join + zscore: only boundary ticks match (J1 semantics)") {
    val ticksIn = MemoryStream[PriceTick](spark)
    val movingIn = MemoryStream[String](spark)
    val moving = ZScoreJob.parseMoving(movingIn.toDF())
    val flat = ZScoreJob.zscores(ticksIn.toDF(), moving)
    val q = flat.writeStream
      .format("memory").queryName("z_out").outputMode(OutputMode.Append).start()
    try {
      ticksIn.addData(
        PriceTick("BTCUSDT", 110.0, ts("2024-01-01 00:00:10")), // on boundary
        PriceTick("BTCUSDT", 123.0, ts("2024-01-01 00:00:13"))) // off boundary
      movingIn.addData(
        """{"timestamp":"2024-01-01 00:00:10","symbol":"BTCUSDT","windows":[
          |{"window":"30s","avg_price":100.0,"std_price":5.0},
          |{"window":"1m","avg_price":100.0,"std_price":0.0}]}""".stripMargin.replace("\n", ""))
      q.processAllAvailable()
      val rows = spark.table("z_out").orderBy("window").collect()
      assert(rows.length == 2) // one per window entry, only the boundary tick
      assert(rows.map(_.getAs[Double]("zscore_price")).sorted.sameElements(Array(0.0, 2.0)))
      assert(rows.forall(_.getAs[Double]("price") == 110.0))
    } finally q.stop()
  }

  test("z-score join counts the late rows it drops in numRowsDroppedByWatermark") {
    // a tick and a moving row behind the 10 s watermark never reach the
    // join; the join's own state operator reports them, so the job needs
    // no counter of its own for late join rows
    val ticksIn = MemoryStream[PriceTick](spark)
    val movingIn = MemoryStream[String](spark)
    val q = ZScoreJob.zscores(ticksIn.toDF(), ZScoreJob.parseMoving(movingIn.toDF()))
      .writeStream.format("memory").queryName("z_late").outputMode(OutputMode.Append).start()
    def moving(t: String): String =
      s"""{"timestamp":"$t","symbol":"BTCUSDT","windows":[""" +
        """{"window":"30s","avg_price":100.0,"std_price":5.0}]}"""
    try {
      for (t <- Seq("2024-01-01 00:01:00", "2024-01-01 00:02:00")) {
        ticksIn.addData(PriceTick("BTCUSDT", 110.0, ts(t)))
        movingIn.addData(moving(t))
        q.processAllAvailable()
      }
      // the watermark is now 00:01:50: both rows at 00:00:30 are late
      ticksIn.addData(PriceTick("BTCUSDT", 120.0, ts("2024-01-01 00:00:30")))
      movingIn.addData(moving("2024-01-01 00:00:30"))
      q.processAllAvailable()
      val dropped = q.recentProgress.toSeq.flatMap(_.stateOperators)
        .filter(_.operatorName == "symmetricHashJoin")
        .map(_.numRowsDroppedByWatermark).sum
      assert(dropped == 2L, s"late join rows counted: $dropped")
      val emitted = spark.table("z_late").collect()
        .map(_.getAs[Timestamp]("event_time")).toSet
      assert(emitted == Set(ts("2024-01-01 00:01:00"), ts("2024-01-01 00:02:00")),
        s"only the on-time rows may join: $emitted")
    } finally q.stop()
  }

  test("H1 foreachBatch re-nest: nested JSON output without chained stateful aggs") {
    val in = MemoryStream[String](spark)
    val flat = MovingStatsJob.statsStream(in.toDF())
    val seen = scala.collection.mutable.ArrayBuffer.empty[String]
    val q = flat.writeStream
      .outputMode(OutputMode.Update)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        seen ++= MovingStatsJob.nested(batch).as[String].collect()
        ()
      }
      .start()
    try {
      in.addData(tickJson("BTCUSDT", 100.0, "2024-01-01T00:00:02.000Z"))
      q.processAllAvailable()
      assert(seen.nonEmpty)
      val js = seen.find(_.contains(""""window":"30s"""")).get
      assert(js.contains(""""symbol":"BTCUSDT"""") && js.contains(""""windows":["""))
    } finally q.stop()
  }

  /** Alerts of one direction over `batches`, one micro-batch each, on the
    * session's state store or on `provider`; the sorted
    * (price, seconds_until) pairs emitted so far, after each batch. */
  private def alertsPerBatch(
      direction: Int,
      batches: Seq[Seq[PriceTick]],
      provider: Option[String] = None): Seq[Seq[(Double, Double)]] = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(key)
    provider.foreach(spark.conf.set(key, _))
    try {
      val in = MemoryStream[PriceTick](spark)
      implicit val s = spark
      val name = s"alerts_${if (direction > 0) "higher" else "lower"}"
      val q = PriceAlerts.alerts(
          in.toDS().withWatermark("event_time", "10 seconds"), direction, horizonSec = 20.0)
        .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append).start()
      try batches.map { b =>
        in.addData(b: _*)
        q.processAllAvailable()
        spark.table(name).collect()
          .map(r => (r.getAs[Double]("price"), r.getAs[Double]("seconds_until"))).toSeq.sorted
      } finally q.stop()
    } finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  Seq(
    "price alerts: time-until-higher/lower with horizon expiry" -> None,
    "price alerts on RocksDB: time-until-higher/lower with horizon expiry" ->
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
  ).foreach { case (name, provider) =>
    test(name) {
      val higher = alertsPerBatch(+1, Seq(
        Seq(PriceTick("BTC", 100.0, ts("2024-01-01 00:00:00")),
          PriceTick("BTC", 99.0, ts("2024-01-01 00:00:02")),
          PriceTick("BTC", 101.0, ts("2024-01-01 00:00:05"))),
        Seq(PriceTick("BTC", 50.0, ts("2024-01-01 00:01:00")))), provider)
      // 100@t0 → first higher 101@t5 (5s); 99@t2 → 101@t5 (3s)
      assert(higher.head == Seq((99.0, 3.0), (100.0, 5.0)))
      // 101 has no higher successor: expires at horizon once time advances
      assert(higher.last == Seq((99.0, 3.0), (100.0, 5.0), (101.0, 20.0)))

      val lower = alertsPerBatch(-1, Seq(
        Seq(PriceTick("BTC", 100.0, ts("2024-01-01 00:00:00")),
          PriceTick("BTC", 101.0, ts("2024-01-01 00:00:02")),
          PriceTick("BTC", 99.0, ts("2024-01-01 00:00:05"))),
        Seq(PriceTick("BTC", 150.0, ts("2024-01-01 00:01:00")))), provider)
      // 100@t0 → first lower 99@t5 (5s); 101@t2 → 99@t5 (3s)
      assert(lower.head == Seq((100.0, 5.0), (101.0, 3.0)))
      // 99 has no lower successor (150 is higher): expires at horizon
      assert(lower.last == Seq((99.0, 20.0), (100.0, 5.0), (101.0, 3.0)))
    }
  }

  test("price alerts: repeated re-arms across batches still expire exactly once") {
    // each batch carries a monotonically falling price → nothing
    // resolves, every batch re-arms the expiry timeout for the same key;
    // then ETH advances the watermark far past every tick's horizon
    val out = alertsPerBatch(+1,
      (0 to 3).map(i => Seq(PriceTick("BTC", 100.0 - i, ts(f"2024-01-01 00:00:0$i")))) ++
        Seq(Seq(PriceTick("ETH", 1.0, ts("2024-01-01 00:05:00"))),
          Seq(PriceTick("ETH", 0.5, ts("2024-01-01 00:10:00")))))
    // one horizon alert per BTC tick, no duplicates; ETH's 1.0 expires
    // too once 0.5@10:00 moves the watermark past its horizon
    assert(out.last == ((0 to 3).map(i => (100.0 - i, 20.0)) :+ (1.0, 20.0)).sorted)
  }

  test("price alerts: a direction other than ±1 or a non-positive horizon is rejected") {
    implicit val s = spark
    val ticks = MemoryStream[PriceTick](spark).toDS()
    Seq((0, 20.0), (2, 20.0), (1, 0.0), (-1, -1.0)).foreach { case (direction, horizon) =>
      intercept[IllegalArgumentException](PriceAlerts.alerts(ticks, direction, horizon))
    }
  }

  test("price alerts: quiet key expires via timer when other keys advance the watermark") {
    val in = MemoryStream[PriceTick](spark)
    implicit val s = spark
    val higher = PriceAlerts.alerts(
      in.toDS().withWatermark("event_time", "10 seconds"), direction = +1, horizonSec = 20.0)
    val q = higher.writeStream.format("memory").queryName("alerts_quiet")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(PriceTick("BTC", 100.0, ts("2024-01-01 00:00:00")))
      q.processAllAvailable()
      // BTC goes quiet; ETH traffic advances the watermark past 0:00:20+10s
      in.addData(PriceTick("ETH", 1.0, ts("2024-01-01 00:01:00")))
      q.processAllAvailable()
      in.addData(PriceTick("ETH", 2.0, ts("2024-01-01 00:02:00")))
      q.processAllAvailable()
      val btc = spark.table("alerts_quiet").filter(col("symbol") === "BTC").collect()
      assert(btc.length == 1 && btc.head.getAs[Double]("seconds_until") == 20.0)
    } finally q.stop()
  }

  test("stream-static enrichment join is stateless and broadcast") {
    import spark.implicits._
    val dim = Seq(("BTC", "crypto"), ("ETH", "crypto"), ("AAPL", "equity"))
      .toDF("symbol", "asset_class")
    val in = MemoryStream[PriceTick](spark)
    val enriched = in.toDF().join(broadcast(dim), Seq("symbol"))
    val q = enriched.writeStream
      .format("memory").queryName("enrich_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        PriceTick("BTC", 1.0, ts("2024-01-01 00:00:00")),
        PriceTick("DOGE", 2.0, ts("2024-01-01 00:00:01"))) // no dim row → dropped
      q.processAllAvailable()
      val got = spark.table("enrich_out")
        .collect().map(r => r.getAs[String]("symbol") -> r.getAs[String]("asset_class"))
      assert(got.toSeq == Seq("BTC" -> "crypto"))
      // stateless: a stream-static join keeps NO state store — the dim is
      // re-broadcast per batch, so state does not grow with the stream
      assert(q.lastProgress.stateOperators.isEmpty,
        "stream-static join must not create a state store")
    } finally q.stop()
  }

  test("streaming session windows: gap merges within, splits across, closes on watermark") {
    val in = MemoryStream[PriceTick](spark)
    val sessions = in.toDF()
      .withWatermark("event_time", "10 seconds")
      .groupBy(col("symbol"), session_window(col("event_time"), "30 seconds"))
      .agg(count(lit(1)).as("n"))
      .select(col("symbol"), col("session_window.start").as("s"), col("n"))
    val q = sessions.writeStream
      .format("memory").queryName("sess_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        PriceTick("BTC", 1.0, ts("2024-01-01 00:00:00")),
        PriceTick("BTC", 2.0, ts("2024-01-01 00:00:10")), // merges (gap < 30 s)
        PriceTick("BTC", 3.0, ts("2024-01-01 00:01:30"))) // new session
      q.processAllAvailable()
      in.addData(PriceTick("BTC", 0.0, ts("2024-01-01 00:10:00"))) // advance watermark
      q.processAllAvailable()
      val got = spark.table("sess_out")
        .collect().map(r => r.getTimestamp(1).toString -> r.getLong(2)).toMap
      // first session covers both early ticks; the 90 s tick is its own
      assert(got("2024-01-01 00:00:00.0") == 2L)
      assert(got("2024-01-01 00:01:30.0") == 1L)
    } finally q.stop()
  }

  test("price alerts: successor beyond horizon does not resolve, tick expires at horizon") {
    val in = MemoryStream[PriceTick](spark)
    implicit val s = spark
    val higher = PriceAlerts.alerts(
      in.toDS().withWatermark("event_time", "10 seconds"), direction = +1, horizonSec = 20.0)
    val q = higher.writeStream.format("memory").queryName("alerts_beyond")
      .outputMode(OutputMode.Append).start()
    try {
      in.addData(
        PriceTick("BTC", 100.0, ts("2024-01-01 00:00:00")),
        PriceTick("BTC", 200.0, ts("2024-01-01 00:00:25"))) // higher but past horizon
      q.processAllAvailable()
      in.addData(PriceTick("BTC", 1.0, ts("2024-01-01 00:01:00"))) // advance watermark
      q.processAllAvailable()
      val first = spark.table("alerts_beyond").filter(col("price") === 100.0).collect()
      assert(first.length == 1 && first.head.getAs[Double]("seconds_until") == 20.0)
    } finally q.stop()
  }
}
