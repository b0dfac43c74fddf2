package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{OutputMode, StreamingQuery}

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
    val flat = MovingStatsJob.statsStream(raw)
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

  test("statsStream emits the six-window() union's update rows batch by batch and evicts the same state") {
    // The reference topology: one window() aggregation per config,
    // watermarked on event_time. statsStream watermarks the derived window
    // end instead; both must emit the same rows in every batch and hold
    // the same state rows, which pins its watermark delay.
    //
    // One source each: a MemoryStream drops what its first reader commits
    val (refIn, gotIn) = (MemoryStream[String](spark), MemoryStream[String](spark))
    val reference = TickOps.movingStatsUnion(
      TickOps.parseTicks(refIn.toDF()).withWatermark("event_time", "10 seconds"))
    type Out = (Long, String, String, Double, Double)
    def start(df: DataFrame, name: String) = {
      val batches = scala.collection.mutable.ArrayBuffer.empty[(Long, Seq[Out])]
      val q = df.writeStream.queryName(name).outputMode(OutputMode.Update)
        .foreachBatch { (b: DataFrame, id: Long) =>
          val rows = b.collect().toSeq.map(r => (r.getTimestamp(0).getTime, r.getString(1),
            r.getString(2), r.getDouble(3), r.getDouble(4))).sortBy(r => (r._1, r._2, r._3))
          batches.synchronized { batches += id -> rows }
          ()
        }.start()
      (q, batches)
    }
    // a started query keeps the session conf it started with
    val (ref, refOut) = noWideExpandCodegen(start(reference, "parity_ref"))
    val (got, gotOut) = start(MovingStatsJob.statsStream(gotIn.toDF()), "parity_got")
    def stateRows(q: StreamingQuery): Long =
      q.lastProgress.stateOperators.map(_.numRowsTotal).sum
    def step(ticks: (String, Double, String)*): (Seq[(Long, Seq[Out])], Long) = {
      val json = ticks.map { case (sym, p, iso) => tickJson(sym, p, iso) }
      refIn.addData(json); gotIn.addData(json)
      ref.processAllAvailable()
      got.processAllAvailable()
      val emitted = gotOut.synchronized(gotOut.toList)
      val expected = refOut.synchronized(refOut.toList)
      assert(emitted.map(_._1) == expected.map(_._1), "batch ids differ")
      emitted.zip(expected).foreach { case ((id, a), (_, b)) =>
        assert(a == b, s"batch $id: only streamed ${a.diff(b).take(5)}; only reference ${b.diff(a).take(5)}")
      }
      assert(stateRows(got) == stateRows(ref))
      gotOut.synchronized(gotOut.clear()); refOut.synchronized(refOut.clear())
      (emitted, stateRows(got))
    }
    try {
      // in order
      val (first, _) = step(("BTC", 100.0, "2024-01-01T00:00:02Z"), ("ETH", 50.0, "2024-01-01T00:00:05Z"),
        ("BTC", 110.0, "2024-01-01T00:00:07Z"), ("BTC", 120.0, "2024-01-01T00:00:15Z"))
      assert(first.flatMap(_._2).nonEmpty)
      // watermark → 00:00:50
      step(("BTC", 130.0, "2024-01-01T00:01:00Z"))
      // late for every 30 s window (ends :20–:40), not for 1m (:60, :70) or 1h
      val (late, beforeJump) = step(("BTC", 140.0, "2024-01-01T00:00:12Z"))
      val lateWindows = late.flatMap(_._2).map(_._3).toSet
      assert(!lateWindows("30s") && lateWindows("1m") && lateWindows("1h"))
      // jump: watermark → 01:09:50 passes every earlier window end (≤ 01:01:00)
      val (_, afterJump) = step(("BTC", 150.0, "2024-01-01T01:10:00Z"))
      assert(afterJump < beforeJump)
      assert(afterJump == 669) // 3+6+30+90+180+360 instances of the 01:10:00 tick
      // older than every window: its last 1h window ends 01:05:00 ≤ watermark
      val (old, _) = step(("ETH", 60.0, "2024-01-01T00:05:00Z"))
      assert(old.flatMap(_._2).isEmpty)
    } finally { ref.stop(); got.stop() }
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

  test("streaming dedup: duplicates within the watermark horizon dropped, state evicted after") {
    val in = MemoryStream[PriceTick](spark)
    val out = graft.streaming.StreamOps.dedupWithinWatermark(
      in.toDF(), Seq("symbol", "price"), "event_time", "10 seconds")
    val q = out.writeStream
      .format("memory").queryName("dedup_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        PriceTick("BTC", 100.0, ts("2024-01-01 00:00:00")),
        PriceTick("BTC", 100.0, ts("2024-01-01 00:00:03")), // dup within horizon
        PriceTick("BTC", 101.0, ts("2024-01-01 00:00:04")))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2) // first 100.0 + the 101.0
      // same content again inside the horizon of a later batch → still a dup
      in.addData(PriceTick("BTC", 100.0, ts("2024-01-01 00:00:06")))
      q.processAllAvailable()
      assert(spark.table("dedup_out").count() == 2)
      // advance the watermark far past the horizon: state for the key is
      // evicted (bounded state), so the same content re-admits
      in.addData(PriceTick("ETH", 1.0, ts("2024-01-01 01:00:00")))
      q.processAllAvailable()
      in.addData(PriceTick("BTC", 100.0, ts("2024-01-01 01:00:01")))
      q.processAllAvailable()
      val rows = spark.table("dedup_out")
        .filter(col("symbol") === "BTC" && col("price") === 100.0).count()
      assert(rows == 2, "evicted key did not re-admit — state would be unbounded")
    } finally q.stop()
  }

  test("streaming corpus intake: quality gate, PII redaction, watermarked content dedup") {
    import graft.model.Models.StreamDoc
    val in = MemoryStream[StreamDoc](spark)
    val out = graft.streaming.StreamOps.cleanDocStream(
      in.toDF(), "text", "event_time", "10 seconds", minQuality = 0.3)
    val q = out.writeStream
      .format("memory").queryName("intake_out").outputMode(OutputMode.Append).start()
    try {
      val good = "the quick brown fox jumps over a lazy dog and then it runs away to the hills"
      val pii = "contact me at alice@example.com for the quick brown fox papers and more of it"
      in.addData(
        StreamDoc(1L, good, ts("2024-01-01 00:00:00")),
        StreamDoc(2L, "spam spam spam spam spam spam spam spam", ts("2024-01-01 00:00:01")),
        StreamDoc(3L, good, ts("2024-01-01 00:00:02")), // dup of 1 within horizon
        StreamDoc(4L, pii, ts("2024-01-01 00:00:03")))
      q.processAllAvailable()
      val rows = spark.table("intake_out")
        .select(col("doc_id"), col("text")).collect()
        .map(r => r.getLong(0) -> r.getString(1)).toMap
      // low-quality 2 and duplicate 3 dropped; 1 and 4 admitted
      assert(rows.keySet == Set(1L, 4L))
      // the emitted text is the redacted form, original content keyed dedup
      assert(rows(4L).contains("[EMAIL]") && !rows(4L).contains("alice@example.com"))
    } finally q.stop()
  }

  test("streaming session windows: gap-merged extents, append-once on watermark close") {
    val in = MemoryStream[PriceTick](spark)
    val out = graft.streaming.StreamOps.sessionStats(
      in.toDF(), "symbol", "event_time", gap = "10 seconds", watermark = "5 seconds")
    val q = out.writeStream
      .format("memory").queryName("sess_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        PriceTick("BTC", 1.0, ts("2024-01-01 00:00:00")),
        PriceTick("BTC", 2.0, ts("2024-01-01 00:00:05")), // gap 5s < 10s → merges
        PriceTick("BTC", 3.0, ts("2024-01-01 00:00:08")),
        PriceTick("BTC", 4.0, ts("2024-01-01 00:01:00"))) // gap 52s → new session
      q.processAllAvailable()
      // advance the watermark far past both session ends → both emit
      in.addData(PriceTick("ETH", 9.0, ts("2024-01-01 00:10:00")))
      q.processAllAvailable()
      val rows = spark.table("sess_out").filter(col("symbol") === "BTC")
        .collect()
        .map(r => (r.getAs[Timestamp]("session_start"),
          r.getAs[Timestamp]("session_end"), r.getAs[Long]("n_events"))).toSet
      // session end = last event + gap (dynamic extent, not fixed width)
      assert(rows == Set(
        (ts("2024-01-01 00:00:00"), ts("2024-01-01 00:00:18"), 3L),
        (ts("2024-01-01 00:01:00"), ts("2024-01-01 00:01:10"), 1L)), s"got $rows")
    } finally q.stop()
  }

  test("streaming near-dup probe: incoming docs match the static corpus, never each other") {
    val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
      "lambda mu nu xi omicron pi rho sigma tau upsilon"
    val corpus = Seq((100L, base),
      (101L, "a corpus document about catalyst optimizer rules and strategies entirely"))
      .toDF("doc_id", "text")
    val in = MemoryStream[(Long, String)](spark)
    val got = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    val ckpt = java.nio.file.Files.createTempDirectory("graft_ndp").toFile
    ckpt.deleteOnExit()
    val q = graft.streaming.StreamOps.nearDupProbeStream(
      in.toDF().toDF("doc_id", "text"), corpus, "doc_id", "text",
      ckpt.getAbsolutePath,
      (pairs, _) => got.synchronized {
        got ++= pairs.collect().map(r =>
          (r.getLong(0), r.getLong(1), r.getAs[Double]("jaccard")))
      })
    try {
      // batch 0: an exact copy of corpus doc 100, a near copy, an unrelated
      in.addData((1L, base), (2L, base + " phi"),
        (3L, "totally unrelated text mentioning parquet columnar storage formats here"))
      q.processAllAvailable()
      val byPair = got.synchronized(got.map(t => (t._1, t._2) -> t._3).toMap)
      assert(byPair.get((1L, 100L)).contains(1.0))
      assert(byPair.contains((2L, 100L)))
      assert(!byPair.keySet.exists(p => p._1 == 3L))
      // stream docs 1 and 2 are near-dups OF EACH OTHER but within-batch
      // pairs are never generated — the probe is strictly batch-vs-corpus
      assert(!byPair.keySet.exists(p => p._1 == 1L && p._2 == 2L))
      // batch 1: a copy of stream doc 3 — no corpus match, and no pairing
      // against earlier STREAM docs (they never entered the corpus side)
      in.addData((4L,
        "totally unrelated text mentioning parquet columnar storage formats here"))
      q.processAllAvailable()
      assert(!got.synchronized(got.exists(t => t._1 == 4L)))
    } finally q.stop()
  }

  test("bounded file replay: backlog drains in per-trigger slices, never one giant batch") {
    val dir = java.nio.file.Files.createTempDirectory("graft_replay").toFile
    dir.deleteOnExit()
    // a 4-file "backlog", 2 rows per file
    (0 until 4).foreach { i =>
      Seq((i * 2L, s"doc ${i * 2}"), (i * 2L + 1, s"doc ${i * 2 + 1}"))
        .toDF("doc_id", "text")
        .coalesce(1).write.parquet(s"${dir.getAbsolutePath}/part_$i")
    }
    val schema = spark.read.parquet(s"${dir.getAbsolutePath}/part_0").schema
    val in = graft.streaming.StreamOps.boundedFileReplay(
      spark, s"${dir.getAbsolutePath}/part_*", schema, maxFilesPerTrigger = 1)
    val q = in.writeStream
      .format("memory").queryName("replay_out").outputMode(OutputMode.Append)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    try {
      q.awaitTermination(60000)
      assert(spark.table("replay_out").count() == 8)
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      assert(batches.length == 4,
        s"expected 4 bounded micro-batches, got ${batches.length}")
      assert(batches.forall(_.numInputRows == 2),
        "a micro-batch exceeded the per-trigger file bound")
    } finally q.stop()
  }

  test("streaming interval join: only time-bounded matches emit, join state is watermark-bounded") {
    val lIn = MemoryStream[PriceTick](spark)
    val rIn = MemoryStream[PriceTick](spark)
    val left = lIn.toDF().select(col("symbol").as("k"), col("event_time").as("lts"))
    val right = rIn.toDF().select(
      col("symbol").as("k"), col("event_time").as("rts"), col("price").as("v"))
    val joined = graft.streaming.StreamOps.intervalJoin(
      left, right, "k", "lts", "rts",
      lower = "interval -60 seconds", upper = "interval 60 seconds",
      horizon = "30 seconds")
    val q = joined.writeStream
      .format("memory").queryName("ij_out").outputMode(OutputMode.Append).start()
    try {
      lIn.addData(PriceTick("BTC", 0.0, ts("2024-01-01 00:10:00")))
      rIn.addData(
        PriceTick("BTC", 1.0, ts("2024-01-01 00:09:30")),  // within −60s
        PriceTick("BTC", 2.0, ts("2024-01-01 00:10:45")),  // within +60s
        PriceTick("BTC", 3.0, ts("2024-01-01 00:12:00")),  // outside +60s
        PriceTick("ETH", 4.0, ts("2024-01-01 00:10:00")))  // other key
      q.processAllAvailable()
      val got = spark.table("ij_out").select("r_v").collect().map(_.getDouble(0)).toSet
      assert(got == Set(1.0, 2.0))
      // the range condition is what lets Spark bound both state buffers
      val plan = q.lastProgress
      assert(plan != null)
    } finally q.stop()
  }

  test("streaming left-outer interval join: unmatched left rows emit null-padded after the watermark closes their window") {
    val lIn = MemoryStream[PriceTick](spark)
    val rIn = MemoryStream[PriceTick](spark)
    val left = lIn.toDF().select(
      col("symbol").as("k"), col("event_time").as("lts"), col("price").as("lv"))
    val right = rIn.toDF().select(
      col("symbol").as("k"), col("event_time").as("rts"), col("price").as("v"))
    val joined = graft.streaming.StreamOps.intervalJoin(
      left, right, "k", "lts", "rts",
      lower = "interval -60 seconds", upper = "interval 60 seconds",
      horizon = "30 seconds", joinType = "left_outer")
    val q = joined.writeStream
      .format("memory").queryName("ij_outer").outputMode(OutputMode.Append).start()
    try {
      lIn.addData(
        PriceTick("BTC", 10.0, ts("2024-01-01 00:10:00")), // will match
        PriceTick("ETH", 20.0, ts("2024-01-01 00:10:00"))) // never matches
      rIn.addData(PriceTick("BTC", 1.0, ts("2024-01-01 00:10:30")))
      q.processAllAvailable()
      // matched row emits immediately; the unmatched one must wait for
      // the watermark to pass lts + upper + horizon
      val early = spark.table("ij_outer").collect()
      assert(early.map(_.getAs[Double]("lv")).toSet == Set(10.0))
      // advance both watermarks far past the ETH row's match window
      lIn.addData(PriceTick("ZZZ", 0.0, ts("2024-01-01 00:20:00")))
      rIn.addData(PriceTick("ZZZ", 0.0, ts("2024-01-01 00:20:00")))
      q.processAllAvailable()
      q.processAllAvailable()
      val eth = spark.table("ij_outer").filter(col("k") === "ETH").collect()
      assert(eth.length == 1, "unmatched left row should emit exactly once")
      assert(eth.head.isNullAt(eth.head.fieldIndex("r_v")),
        "outer row must be null-padded on the right side")
    } finally q.stop()
  }

  test("streaming full-outer interval join: unmatched rows on BOTH sides emit null-padded") {
    val lIn = MemoryStream[PriceTick](spark)
    val rIn = MemoryStream[PriceTick](spark)
    val left = lIn.toDF().select(
      col("symbol").as("k"), col("event_time").as("lts"), col("price").as("lv"))
    val right = rIn.toDF().select(
      col("symbol").as("k"), col("event_time").as("rts"), col("price").as("v"))
    val joined = graft.streaming.StreamOps.intervalJoin(
      left, right, "k", "lts", "rts",
      lower = "interval -60 seconds", upper = "interval 60 seconds",
      horizon = "30 seconds", joinType = "full_outer")
    val q = joined.writeStream
      .format("memory").queryName("ij_full").outputMode(OutputMode.Append).start()
    try {
      lIn.addData(
        PriceTick("BTC", 10.0, ts("2024-01-01 00:10:00")), // matches
        PriceTick("ETH", 20.0, ts("2024-01-01 00:10:00"))) // left-only
      rIn.addData(
        PriceTick("BTC", 1.0, ts("2024-01-01 00:10:30")),
        PriceTick("DOGE", 2.0, ts("2024-01-01 00:10:00"))) // right-only
      q.processAllAvailable()
      // advance both watermarks far past every match window
      lIn.addData(PriceTick("ZZZ", 0.0, ts("2024-01-01 00:20:00")))
      rIn.addData(PriceTick("ZZZ", 0.0, ts("2024-01-01 00:21:30"))) // outside ±60s of ZZZ-left
      q.processAllAvailable()
      q.processAllAvailable()
      val eth = spark.table("ij_full").filter(col("k") === "ETH").collect()
      assert(eth.length == 1 && eth.head.isNullAt(eth.head.fieldIndex("r_v")),
        "left-only row must emit once, right-null-padded")
      val doge = spark.table("ij_full").filter(col("k") === "DOGE").collect()
      assert(doge.length == 1 && doge.head.isNullAt(doge.head.fieldIndex("lv")),
        "right-only row must emit once, left-null-padded — and keep its key")
      val btc = spark.table("ij_full").filter(col("k") === "BTC").collect()
      assert(btc.length == 1 && btc.head.getAs[Double]("r_v") == 1.0)
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

  test("streaming trending keys: hot key ranks first, window closes on watermark, state is sketch-sized") {
    val in = MemoryStream[PriceTick](spark)
    val trending = graft.streaming.StreamOps.trendingKeys(
      in.toDF(), keyCol = "symbol", eventTimeCol = "event_time",
      windowLen = "1 minute", watermark = "10 seconds", k = 2)
    val q = trending.writeStream
      .format("memory").queryName("trend_out").outputMode(OutputMode.Append).start()
    try {
      // 6×BTC, 2×ETH, 1×DOGE inside one window: BTC's true share (2/3)
      // clears the 1/(k+1)=1/3 survival bar with room
      val base = "2024-01-01 00:00:"
      in.addData(
        (0 until 6).map(i => PriceTick("BTC", 1.0, ts(f"$base${i * 5}%02d"))) ++
          Seq(PriceTick("ETH", 1.0, ts(s"${base}40")),
            PriceTick("ETH", 1.0, ts(s"${base}45")),
            PriceTick("DOGE", 1.0, ts(s"${base}50"))): _*)
      q.processAllAvailable()
      assert(spark.table("trend_out").isEmpty) // append: nothing until close
      in.addData(PriceTick("BTC", 1.0, ts("2024-01-01 00:05:00"))) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("trend_out").collect()
      assert(rows.length == 1, s"exactly the closed window emits, got ${rows.length}")
      val cands = rows.head.getSeq[org.apache.spark.sql.Row](2)
      assert(cands.length <= 2, "state is bounded by k counters, not distinct keys")
      assert(cands.head.getString(0) == "BTC", "the hot key must rank first")
      // MG undercount bound: est >= true - n/(k+1) = 6 - 3
      assert(cands.head.getLong(1) >= 3L)
    } finally q.stop()
  }

  test("stream-static dim enrichment: broadcast-hash per batch, left join keeps orphan facts") {
    val in = MemoryStream[PriceTick](spark)
    val dim = Seq(("BTC", "crypto-major"), ("ETH", "crypto-major"))
      .toDF("sym", "segment")
    val enriched = graft.streaming.StreamOps.enrichWithDim(
      in.toDF(), dim, streamKey = "symbol", dimKey = "sym")
    // the per-batch plan must be a broadcast hash join (a shuffle would
    // re-partition every micro-batch against a static table)
    val q = enriched.writeStream
      .format("memory").queryName("enrich_out").outputMode(OutputMode.Append).start()
    try {
      in.addData(
        PriceTick("BTC", 1.0, ts("2024-01-01 00:00:01")),
        PriceTick("DOGE", 2.0, ts("2024-01-01 00:00:02")))
      q.processAllAvailable()
      val rows = spark.table("enrich_out").collect()
      assert(rows.length == 2, "left join must not drop the orphan fact")
      val bySym = rows.map(r => r.getAs[String]("symbol") -> r.getAs[String]("segment")).toMap
      assert(bySym("BTC") == "crypto-major")
      assert(bySym("DOGE") == null, "unmatched dim -> null columns, row preserved")
      val plan = q.lastProgress.sources.length // query ran; now pin the batch plan shape
      assert(plan == 1)
      val batchPlan = graft.streaming.StreamOps
        .enrichWithDim(Seq(PriceTick("BTC", 1.0, ts("2024-01-01 00:00:01"))).toDF(),
          dim, "symbol", "sym")
        .queryExecution.executedPlan.toString
      assert(batchPlan.contains("BroadcastHashJoin"),
        s"dim side must broadcast, got:\n$batchPlan")
    } finally q.stop()
  }

  test("dim enrichment fails loudly on column collisions instead of silently duplicating") {
    val stream = Seq(PriceTick("BTC", 1.0, ts("2024-01-01 00:00:01"))).toDF()
    // dim already carries a column named streamKey → the rename would dup it
    val dupKey = Seq(("BTC", "x")).toDF("sym", "symbol")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.enrichWithDim(stream, dupKey, "symbol", "sym")
    }
    // a non-key dim column shadowing a stream column → ambiguous output
    val clash = Seq(("BTC", 9.0)).toDF("sym", "price")
    intercept[IllegalArgumentException] {
      graft.streaming.StreamOps.enrichWithDim(stream, clash, "symbol", "sym")
    }
  }
}
