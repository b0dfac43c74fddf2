package graft

import java.sql.Timestamp

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.TimeSeriesOps

/** Time-series operators: planted-series exactness for derivatives,
  * order-statistics medians, MAD outliers, and the secondary-sort EWMA
  * (including partition-layout invariance — the property that makes it a
  * cluster-safe operator, not a single-threaded script). */
class TimeSeriesSpec extends SparkSpec {

  private def ticksDf(rows: Seq[(String, Long, Long, Double)]): DataFrame = {
    import spark.implicits._
    rows.toDF("symbol", "ms", "event_id", "price")
      .select(col("symbol"), timestamp_millis(col("ms")).as("ts"),
        col("event_id"), col("price"))
  }

  test("tickDerivatives: returns, rolling stats, drawdown on a planted series") {
    val df = ticksDf(Seq(
      ("A", 1000L, 1L, 10.0),
      ("A", 2000L, 2L, 12.0),
      ("A", 3000L, 3L, 9.0),
      ("A", 4000L, 4L, 9.0),
      ("B", 1000L, 5L, 100.0)))
    val out = TimeSeriesOps.tickDerivatives(df, "ts", "event_id", rollRows = 2)
      .orderBy("symbol", "event_id").collect()

    val a = out.filter(_.getString(0) == "A")
    // ret: null, +2, -3, 0
    assert(a(0).isNullAt(a(0).fieldIndex("ret")))
    assert(a(1).getAs[Double]("ret") === 2.0)
    assert(a(2).getAs[Double]("ret") === -3.0)
    assert(a(3).getAs[Double]("ret") === 0.0)
    // pct_ret: null, 0.2, -0.25, 0
    assert(a(1).getAs[Double]("pct_ret") === 0.2)
    assert(a(2).getAs[Double]("pct_ret") === -0.25)
    // rolling mean over 2 rows: 10, 11, 10.5, 9
    assert(a(0).getAs[Double]("roll_avg") === 10.0)
    assert(a(1).getAs[Double]("roll_avg") === 11.0)
    assert(a(2).getAs[Double]("roll_avg") === 10.5)
    assert(a(3).getAs[Double]("roll_avg") === 9.0)
    // rolling std over 2 rows: 0 (single), sqrt(2), ~2.12, 0
    assert(a(0).getAs[Double]("roll_std") === 0.0)
    assert(math.abs(a(1).getAs[Double]("roll_std") - math.sqrt(2.0)) < 1e-12)
    assert(a(3).getAs[Double]("roll_std") === 0.0)
    // run_max: 10, 12, 12, 12; drawdown: 0, 0, 0.25, 0.25
    assert(a.map(_.getAs[Double]("run_max")).toSeq === Seq(10.0, 12.0, 12.0, 12.0))
    assert(a(2).getAs[Double]("drawdown") === 0.25)
    assert(a(3).getAs[Double]("drawdown") === 0.25)
    // single-row series: no return, zero drawdown
    val b = out.filter(_.getString(0) == "B")
    assert(b.length === 1)
    assert(b(0).isNullAt(b(0).fieldIndex("ret")))
    assert(b(0).getAs[Double]("drawdown") === 0.0)
  }

  test("exactMedian: odd and even group sizes, middle-pair averaging") {
    import spark.implicits._
    val df = Seq(
      ("odd", 30.0, 1L), ("odd", 10.0, 2L), ("odd", 20.0, 3L),
      ("even", 1.0, 4L), ("even", 9.0, 5L), ("even", 3.0, 6L), ("even", 5.0, 7L))
      .toDF("g", "v", "id")
    val m = TimeSeriesOps.exactMedian(df, "g", "v", "id")
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(m("odd") === ((3L, 20.0)))
    assert(m("even") === ((4L, 4.0))) // (3+5)/2
  }

  test("exactMedian: bucket-refinement rounds match the naive ranking window") {
    import spark.implicits._
    // group sizes WELL above resolveLimit so the range-count rounds
    // actually execute; duplicate-heavy + skewed values stress the
    // bucket walk (a heavy bucket must keep both middle ranks inside)
    val rnd = new scala.util.Random(7)
    val rows =
      (1L to 9001L).map(i => ("dup", math.floor(rnd.nextDouble() * 10) / 10, i)) ++
      (1L to 9000L).map(i => ("skew", math.exp(rnd.nextGaussian() * 4), i)) ++
      (1L to 5000L).map(i => ("cst", 42.5, i)) // constant: trivial path
    val df = rows.toDF("g", "v", "id")
    val got = TimeSeriesOps.exactMedian(df, "g", "v", "id",
      buckets = 64, resolveLimit = 100)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // naive reference: rank and average the middle rows
    val expected = rows.groupBy(_._1).map { case (g, rs) =>
      val sorted = rs.map(_._2).sorted
      val n = sorted.length
      val med =
        if (n % 2 == 1) sorted(n / 2)
        else (sorted(n / 2 - 1) + sorted(n / 2)) / 2
      g -> ((n.toLong, med))
    }
    assert(got == expected)
  }

  test("exactMedian: single-row, two-row, and empty inputs") {
    import spark.implicits._
    val df = Seq(("a", 5.0, 1L), ("b", 1.0, 2L), ("b", 2.0, 3L)).toDF("g", "v", "id")
    val m = TimeSeriesOps.exactMedian(df, "g", "v", "id")
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(m == Map("a" -> ((1L, 5.0)), "b" -> ((2L, 1.5))))
    val empty = Seq.empty[(String, Double, Long)].toDF("g", "v", "id")
    assert(TimeSeriesOps.exactMedian(empty, "g", "v", "id").count() == 0)
  }

  test("madOutliers flags a planted outlier and survives a constant series") {
    val base = (1L to 49L).map(i => ("A", 1000L * i, i, 100.0 + (i % 5)))
    val out = ("A", 50000L, 50L, 500.0) // wildly off
    val flat = (1L to 20L).map(i => ("C", 1000L * i, 100L + i, 7.0))
    val res = TimeSeriesOps.madOutliers(ticksDf(base ++ Seq(out) ++ flat), "event_id")
      .collect().map(r => r.getString(0) ->
        ((r.getAs[Long]("n"), r.getAs[Double]("median"), r.getAs[Double]("mad"),
          r.getAs[Long]("n_outliers")))).toMap
    assert(res("A")._1 === 50L)
    assert(res("A")._4 === 1L) // exactly the planted point
    // constant series: MAD = 0 → guard yields zero outliers, no NaN/∞
    assert(res("C") === ((20L, 7.0, 0.0, 0L)))
  }

  test("ewmaBySymbol matches the closed-form fold and honors time order") {
    import spark.implicits._
    val df = Seq(
      ("A", 1L, 1L, 10.0), ("A", 2L, 2L, 20.0), ("A", 3L, 3L, 40.0),
      ("B", 1L, 4L, 5.0))
      .toDF("symbol", "ts_ms", "tie", "price")
    val out = TimeSeriesOps.ewmaBySymbol(df, alpha = 0.25)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    // A: 10 → 0.25·20+0.75·10 = 12.5 → 0.25·40+0.75·12.5 = 19.375
    assert(out("A") === ((3L, 19.375)))
    assert(out("B") === ((1L, 5.0)))
  }

  test("ewmaBySymbol is invariant to input partitioning and row order") {
    import spark.implicits._
    val rows = (1L to 500L).flatMap { i =>
      Seq(("X", i, i, (i % 17).toDouble), ("Y", i, 1000L + i, (i % 7).toDouble))
    }
    val base = rows.toDF("symbol", "ts_ms", "tie", "price")
    val expected = TimeSeriesOps.ewmaBySymbol(base, 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    // scrambled arrival order + different partition layout → same bits
    val scrambled = base.orderBy(rand(seed = 13)).repartition(7)
    val got = TimeSeriesOps.ewmaBySymbol(scrambled, 0.1)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).toSet
    assert(got === expected)
  }

  test("q60/q61/q62 run end-to-end on the sf0.001 tables") {
    val qs = graft.queries.TimeSeriesQueries.queries
    assert(qs("q60_tick_derivatives")(spark, sf()).count() > 0)
    val mad = qs("q61_mad_outliers")(spark, sf())
    assert(mad.count() > 0)
    assert(mad.columns.sorted ===
      Array("mad", "median", "n", "n_outliers", "symbol"))
    val ew = qs("q62_ewma")(spark, sf())
    assert(ew.count() > 0)
  }

  test("exactQuantiles: type-1 order statistics on a tiny planted set") {
    import spark.implicits._
    // a: 1..4 → k(.25)=1, k(.5)=2, k(.75)=3 → 10, 20, 30
    // b: single row → every quantile is that row
    val df = Seq(
      ("a", 10.0, 1L), ("a", 20.0, 2L), ("a", 30.0, 3L), ("a", 40.0, 4L),
      ("b", 7.0, 5L)).toDF("g", "v", "id")
    val got = TimeSeriesOps.exactQuantiles(df, "g", "v", "id",
        Seq(0.25, 0.5, 0.75))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3))
      .toMap
    assert(got === Map(
      ("a", 0.25) -> 10.0, ("a", 0.5) -> 20.0, ("a", 0.75) -> 30.0,
      ("b", 0.25) -> 7.0, ("b", 0.5) -> 7.0, ("b", 0.75) -> 7.0))
  }

  test("exactQuantiles: refinement rounds match the naive ranking window") {
    import spark.implicits._
    // sizes well above resolveLimit so the shared-scan rounds execute;
    // duplicate-heavy, skewed, and constant groups — same stress set as
    // the median spec, now with three ranks narrowing simultaneously
    val rnd = new scala.util.Random(11)
    val rows =
      (1L to 9001L).map(i => ("dup", math.floor(rnd.nextDouble() * 10) / 10, i)) ++
      (1L to 9000L).map(i => ("skew", math.exp(rnd.nextGaussian() * 4), i)) ++
      (1L to 5000L).map(i => ("cst", 42.5, i))
    val qs = Seq(0.25, 0.5, 0.75, 1.0)
    val got = TimeSeriesOps.exactQuantiles(rows.toDF("g", "v", "id"),
        "g", "v", "id", qs, buckets = 64, resolveLimit = 100)
      .collect()
      .map(r => (r.getString(0), r.getDouble(1)) -> ((r.getLong(2), r.getDouble(3))))
      .toMap
    val expected = (for {
      (g, rs) <- rows.groupBy(_._1).toSeq
      sorted = rs.sortBy(t => (t._2, t._3)).map(_._2)
      q <- qs
    } yield (g, q) -> ((sorted.length.toLong,
      sorted(math.ceil(q * sorted.length).toInt - 1)))).toMap
    assert(got === expected)
  }

  test("exactMedian: no per-group state collects to the driver at high group cardinality") {
    import spark.implicits._
    // 5,000 groups × 40 rows: the pre-round-6 implementation collected
    // (group × bucket) count cells to the driver every round — several MB
    // here, an OOM at per-doc cardinality. The distributed-state form
    // ships only 1-row progress aggregates; total driver-bound task-result
    // bytes must stay far below what a per-group collect would move.
    val df = (1 to 200000)
      .map(i => (s"g${i % 5000}", (i * 37 % 1000).toDouble, i.toLong))
      .toDF("g", "v", "id")
    val sc = spark.sparkContext
    val bytes = new java.util.concurrent.atomic.AtomicLong
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null) bytes.addAndGet(e.taskMetrics.resultSize)
    }
    org.apache.spark.sql.graft.TestBridge.drainListenerBus(sc)
    sc.addSparkListener(listener)
    val out = try {
      // small resolveLimit forces at least one bucket-count round
      val r = TimeSeriesOps.exactMedian(df, "g", "v", "id",
        buckets = 64, resolveLimit = 8, materializeInput = true)
      org.apache.spark.sql.graft.TestBridge.drainListenerBus(sc)
      assert(bytes.get() < (1L << 20),
        s"selection rounds moved ${bytes.get()} bytes of task results to " +
          "the driver — a per-group collect is back")
      r
    } finally sc.removeSparkListener(listener)
    // spot-check exactness against a locally computed median
    val got = out.filter(col("g").isin("g1", "g77", "g4999"))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val expected = Seq("g1", "g77", "g4999").map { gn =>
      val j = gn.drop(1).toInt
      val vs = (1 to 200000).filter(_ % 5000 == j)
        .map(i => (i * 37 % 1000).toDouble).sorted
      gn -> ((vs.length.toLong, (vs(vs.length / 2 - 1) + vs(vs.length / 2)) / 2))
    }.toMap
    assert(got == expected)
  }

  test("exactMedian/exactQuantiles: DISK_ONLY materialization is bit-identical") {
    import spark.implicits._
    import org.apache.spark.storage.StorageLevel
    val rnd = new scala.util.Random(23)
    val rows = (1L to 9000L).map(i =>
      (s"s${i % 4}", math.exp(rnd.nextGaussian() * 3), i))
    val df = rows.toDF("g", "v", "id")
    val memM = TimeSeriesOps.exactMedian(df, "g", "v", "id",
        buckets = 64, resolveLimit = 100)
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    val diskM = TimeSeriesOps.exactMedian(df, "g", "v", "id",
        buckets = 64, resolveLimit = 100, storage = Some(StorageLevel.DISK_ONLY))
      .collect().map(r => r.getString(0) -> ((r.getLong(1), r.getDouble(2)))).toMap
    assert(diskM == memM)
    val memQ = TimeSeriesOps.exactQuantiles(df, "g", "v", "id", Seq(0.25, 0.75),
        buckets = 64, resolveLimit = 100)
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    val diskQ = TimeSeriesOps.exactQuantiles(df, "g", "v", "id", Seq(0.25, 0.75),
        buckets = 64, resolveLimit = 100, storage = Some(StorageLevel.DISK_ONLY))
      .collect().map(r => (r.getString(0), r.getDouble(1)) -> r.getDouble(3)).toMap
    assert(diskQ == memQ)
  }

  test("exactQuantiles: empty input and q validation") {
    import spark.implicits._
    val empty = Seq.empty[(String, Double, Long)].toDF("g", "v", "id")
    assert(TimeSeriesOps.exactQuantiles(empty, "g", "v", "id", Seq(0.5))
      .count() == 0)
    intercept[IllegalArgumentException] {
      TimeSeriesOps.exactQuantiles(empty, "g", "v", "id", Seq(0.0))
    }
    intercept[IllegalArgumentException] {
      TimeSeriesOps.exactQuantiles(empty, "g", "v", "id", Seq(0.5, 0.5))
    }
  }
}
