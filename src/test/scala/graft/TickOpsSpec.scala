package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.model.Models
import graft.operators.TickOps
import graft.operators.TickOps.WindowConfig

class TickOpsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def ticksDf(rows: (String, Double, String)*): DataFrame =
    rows.toSeq.toDF("symbol", "price", "et")
      .select(col("symbol"), col("price"), to_timestamp(col("et")).as("event_time"))

  test("parseTicks decodes valid JSON, drops malformed and bad timestamps") {
    val raw = Seq(
      """{"symbol":"BTCUSDT","price":100.5,"event_time":"2024-01-01T00:00:00.100+00:00","data_age_ms":7}""",
      """{"symbol":"BTCUSDT","price":101.0,"event_time":"2024-01-01T00:00:00.200Z"}""",
      """not json at all""",
      """{"symbol":"BTCUSDT","price":1.0,"event_time":"yesterday-ish"}"""
    ).toDF("value")
    val out = TickOps.parseTicks(raw).collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[Double]("price")).sorted.sameElements(Array(100.5, 101.0)))
    // extra JSON key data_age_ms silently ignored (schema-projected)
    assert(out.head.schema.fieldNames.toSet == Set("symbol", "price", "event_time"))
  }

  test("slidingStats: avg/stddev per sliding window, window end timestamp") {
    // two ticks 5s apart → both fall in 3 overlapping 30s/10s windows
    val t = ticksDf(
      ("BTC", 100.0, "2024-01-01 00:00:02"),
      ("BTC", 110.0, "2024-01-01 00:00:07"))
    val out = TickOps.slidingStats(t, WindowConfig("30s", "30 seconds"), exact = true)
      .orderBy("window_timestamp").collect()
    assert(out.length == 3)
    // window ends: 00:00:10, 00:00:20, 00:00:30
    assert(out.map(_.getAs[Timestamp]("window_timestamp")) sameElements
      Array(ts("2024-01-01 00:00:10"), ts("2024-01-01 00:00:20"), ts("2024-01-01 00:00:30")))
    out.foreach { r =>
      assert(r.getAs[Double]("avg_price") == 105.0)
      assert(math.abs(r.getAs[Double]("std_price") - math.sqrt(50.0)) < 1e-12)
      assert(r.getAs[String]("window") == "30s")
    }
  }

  test("slidingStats: single-element window coerces null stddev to 0.0") {
    val t = ticksDf(("BTC", 100.0, "2024-01-01 00:00:02"))
    for (exact <- Seq(true, false)) {
      val out = TickOps.slidingStats(t, WindowConfig("10s", "10 seconds", "10 seconds"), exact)
        .collect()
      assert(out.length == 1)
      assert(out.head.getAs[Double]("std_price") == 0.0)
    }
  }

  test("slidingStatsMulti equals union-of-branches topology") {
    val t = ticksDf(
      ("BTC", 100.0, "2024-01-01 00:00:02"),
      ("ETH", 55.0, "2024-01-01 00:01:07"),
      ("BTC", 130.0, "2024-01-01 00:02:33"),
      ("BTC", 90.0, "2024-01-01 00:02:39"))
    val cfgs = TickOps.defaultWindows
    // the 1h/10s window() Expand (360 branches) cannot compile under
    // whole-stage codegen (known janino method-split limit) and would log
    // a noisy failed-compile stack trace before falling back to the
    // interpreted path — skip the doomed attempt; execution is identical
    noWideExpandCodegen {
      val a = TickOps.slidingStatsMulti(t, cfgs, exact = true)
      val b = TickOps.movingStatsUnion(t, cfgs, exact = true)
      assert(a.count() == b.count())
      assert(a.exceptAll(b).count() == 0 && b.exceptAll(a).count() == 0)
    }
  }

  test("multi-window stats reject a duration that is not a multiple of the slide") {
    // window() gives a 25 s / 10 s window three ends per tick (:05, :15
    // and :25 for ticks at :02 and :07); dur / slide = 2 offsets would
    // silently drop the :05 window, so the explode paths must refuse it
    val t = ticksDf(("BTC", 100.0, "2024-01-01 00:00:02"), ("BTC", 110.0, "2024-01-01 00:00:07"))
    val cfgs = Seq(WindowConfig("25s", "25 seconds"))
    val ends = TickOps.movingStatsUnion(t, cfgs)
      .collect().map(_.getAs[Timestamp]("window_timestamp")).toSet
    assert(ends == Set(ts("2024-01-01 00:00:05"), ts("2024-01-01 00:00:15"),
      ts("2024-01-01 00:00:25")))
    for (multi <- Seq[() => DataFrame](
        () => TickOps.slidingStatsMulti(t, cfgs),
        () => TickOps.slidingStatsMultiTwoPhaseExact(t, cfgs))) {
      val e = intercept[IllegalArgumentException](multi())
      assert(e.getMessage.contains("not a multiple of the slide"), e.getMessage)
    }
  }

  test("pre-epoch ticks bucket with floor semantics, like window()") {
    // −15 s lies in the slide bucket [−20 s, −10 s): its 30 s windows end
    // at −10 s, 0 s and +10 s. Truncating division would bucket it at
    // −10 s and shift every window end one slide up.
    val t = ticksDf(
      ("BTC", 100.0, "1969-12-31 23:59:45"),
      ("BTC", 110.0, "1969-12-31 23:59:50"),
      ("ETH", 55.0, "1969-12-31 23:58:01"),
      ("BTC", 90.0, "1970-01-01 00:00:03"))
    val w30 = TickOps.slidingStatsMulti(ticksDf(("BTC", 100.0, "1969-12-31 23:59:45")),
        Seq(WindowConfig("30s", "30 seconds")))
      .collect().map(_.getAs[Timestamp]("window_timestamp")).toSet
    assert(w30 == Set(ts("1969-12-31 23:59:50"), ts("1970-01-01 00:00:00"),
      ts("1970-01-01 00:00:10")))
    val cfgs = TickOps.defaultWindows
    noWideExpandCodegen {
      val union = TickOps.movingStatsUnion(t, cfgs, exact = true)
      for (multi <- Seq(TickOps.slidingStatsMulti(t, cfgs, exact = true),
          TickOps.slidingStatsMultiTwoPhaseExact(t, cfgs))) {
        assert(multi.count() == union.count())
        assert(multi.exceptAll(union).isEmpty && union.exceptAll(multi).isEmpty)
      }
    }
  }

  test("nestWindows/explodeWindows roundtrip preserves the bag") {
    val t = ticksDf(
      ("BTC", 100.0, "2024-01-01 00:00:02"),
      ("BTC", 120.0, "2024-01-01 00:00:22"))
    val flat = TickOps.movingStatsUnion(t, Seq(WindowConfig("30s", "30 seconds"), WindowConfig("1m", "1 minute")), exact = true)
    val nested = TickOps.nestWindows(flat)
    // one record per (timestamp, symbol) with Array[Struct] payload
    assert(nested.schema("windows").dataType.typeName == "array")
    val back = TickOps.explodeWindows(nested)
    assert(back.exceptAll(flat).count() == 0 && flat.exceptAll(back).count() == 0)
  }

  test("joinTicksToStats matches only exact window-end boundaries (reference J1)") {
    val t = ticksDf(
      ("BTC", 90.0, "2024-01-01 00:00:02"), // creates windows ending :10/:20/:30
      ("BTC", 100.0, "2024-01-01 00:00:10"), // ON the :10 window end → joins
      ("BTC", 999.0, "2024-01-01 00:00:13")) // off-boundary: never matches
    val stats = TickOps.slidingStats(t, WindowConfig("30s", "30 seconds"), exact = true)
    val joined = TickOps.joinTicksToStats(t, stats)
    val rows = joined.collect()
    assert(rows.nonEmpty)
    // the :10 end window covers [−20,10) → only the :02 tick → avg 90
    assert(rows.exists(r => r.getAs[Double]("price") == 100.0 &&
      r.getAs[Double]("avg_price") == 90.0))
    assert(rows.forall(_.getAs[Double]("price") != 999.0))
  }

  test("zscore: σ=0, null and NaN all guard to 0.0; else (p-μ)/σ") {
    val df = Seq(
      (ts("2024-01-01 00:00:10"), "BTC", 110.0, "30s", 100.0, 5.0),
      (ts("2024-01-01 00:00:10"), "BTC", 110.0, "30s", 100.0, 0.0),
      (ts("2024-01-01 00:00:10"), "BTC", 110.0, "30s", 100.0, Double.NaN)
    ).toDF("event_time", "symbol", "price", "window", "avg_price", "std_price")
    val withNull = df.union(
      Seq((ts("2024-01-01 00:00:10"), "BTC", 110.0, "30s", 100.0))
        .toDF("event_time", "symbol", "price", "window", "avg_price")
        .withColumn("std_price", lit(null).cast("double")))
    val z = TickOps.zscore(withNull).select("zscore_price").as[Double].collect().sorted
    assert(z.sameElements(Array(0.0, 0.0, 0.0, 2.0)))
  }

  test("nestZScores groups entries per (timestamp, symbol)") {
    val flat = Seq(
      (ts("2024-01-01 00:00:10"), "BTC", 1.5, "30s"),
      (ts("2024-01-01 00:00:10"), "BTC", -0.5, "1m"),
      (ts("2024-01-01 00:00:20"), "BTC", 0.0, "30s")
    ).toDF("event_time", "symbol", "zscore_price", "window")
    val out = TickOps.nestZScores(flat).orderBy("timestamp").collect()
    assert(out.length == 2)
    assert(out.head.getAs[scala.collection.Seq[_]]("zscores").length == 2)
    assert(out.head.getAs[String]("timestamp") == "2024-01-01 00:00:10")
  }

  test("the job encoders write the reference's JSON, keyed <time ms>|<symbol>") {
    val at = ts("2024-01-01 00:00:10")
    val moving = Seq((at, "BTC", Seq(Models.WindowStats("30s", 100.0, 5.0))))
      .toDF("window_timestamp", "symbol", "windows")
    val zscores = Seq((at, "BTC", Seq(Models.ZScoreEntry("30s", 2.0))))
      .toDF("event_time", "symbol", "zscores")
    val Array(m) = graft.streaming.MovingStatsJob.nested(moving).collect()
    assert(m.getString(0) == s"${at.getTime}|BTC")
    assert(m.getString(1) == """{"timestamp":"2024-01-01 00:00:10","symbol":"BTC",""" +
      """"windows":[{"window":"30s","avg_price":100.0,"std_price":5.0}]}""")
    val Array(z) = graft.streaming.ZScoreJob.nested(zscores).collect()
    assert(z.getString(0) == s"${at.getTime}|BTC")
    assert(z.getString(1) == """{"timestamp":"2024-01-01 00:00:10","symbol":"BTC",""" +
      """"zscores":[{"window":"30s","zscore_price":2.0}]}""")
  }

  test("from_json schema matches the declared reader schemas") {
    val nestedJson = Seq(
      """{"timestamp":"2024-01-01 00:00:30","symbol":"BTC","windows":[{"window":"30s","avg_price":1.0,"std_price":0.5}]}"""
    ).toDF("value")
    val parsed = nestedJson
      .select(from_json(col("value").cast("string"), Models.movingStatsSchema).as("d"))
      .select("d.*")
    val back = TickOps.explodeWindows(parsed)
    val r = back.collect().head
    assert(r.getAs[String]("window") == "30s" && r.getAs[Double]("std_price") == 0.5)
  }

  test("slidingStatsMultiTwoPhaseExact is BIT-identical to the flat exact explode") {
    // the mergeability claim behind the q03 rollup: decimal partials
    // merged across the second aggregation level equal the one-level
    // decimal sums digit for digit — so every double matches exactly,
    // not within a tolerance
    val ev = graft.util.SparkUtil.events(spark, sf()).limit(2000)
      .selectExpr("event_type AS symbol", "value AS price", "ts AS event_time")
    val a = TickOps.slidingStatsMulti(ev, TickOps.defaultWindows, exact = true)
      .orderBy("window_timestamp", "symbol", "window").collect()
    val b = TickOps.slidingStatsMultiTwoPhaseExact(ev, TickOps.defaultWindows)
      .orderBy("window_timestamp", "symbol", "window").collect()
    assert(a.length == b.length && a.nonEmpty)
    a.zip(b).foreach { case (x, y) =>
      assert(x.getTimestamp(0) == y.getTimestamp(0) && x.getString(1) == y.getString(1)
        && x.getString(2) == y.getString(2), s"key mismatch: $x vs $y")
      assert(x.getDouble(3) == y.getDouble(3), s"avg not bit-equal: $x vs $y")
      assert(x.getDouble(4) == y.getDouble(4), s"std not bit-equal: $x vs $y")
    }
  }
}
