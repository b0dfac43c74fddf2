package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, StringType}

import graft.functions.ExactAgg
import graft.model.Models

/** The price-pipeline operator library: every transform is a pure
  * `DataFrame => DataFrame`, so the identical logical plan runs in batch
  * (DuckDB-oracle-checked) and Structured Streaming (the Kafka jobs in
  * [[graft.streaming]]).
  *
  * Operator provenance (SURVEY.md §2): parseTicks = P1/P3/P5/F1;
  * slidingStats = A1/A2/T2/T3/P8/P10/P11; unionAll = U1; nestWindows = A3;
  * explodeWindows = G1; joinTicksToStats = J1; zscore = P9/P12;
  * nestZScores = A4.
  */
object TickOps {

  /** One sliding-window configuration. The reference uses a uniform 10 s
    * slide for all six windows (reference moving_statistic.py:52-62). */
  final case class WindowConfig(name: String, duration: String, slide: String = "10 seconds") {
    def durationMs: Long = WindowConfig.toMs(duration)
    def slideMs: Long = WindowConfig.toMs(slide)
  }
  object WindowConfig {
    def toMs(s: String): Long = {
      val Array(n, unit) = s.trim.split("\\s+")
      val base = unit.toLowerCase match {
        case u if u.startsWith("second") => 1000L
        case u if u.startsWith("minute") => 60000L
        case u if u.startsWith("hour")   => 3600000L
        case u => throw new IllegalArgumentException(s"unsupported unit $u")
      }
      n.toLong * base
    }
  }

  /** The reference's six windows (reference moving_statistic.py:54-62). */
  val defaultWindows: Seq[WindowConfig] = Seq(
    WindowConfig("30s", "30 seconds"),
    WindowConfig("1m", "1 minute"),
    WindowConfig("5m", "5 minutes"),
    WindowConfig("15m", "15 minutes"),
    WindowConfig("30m", "30 minutes"),
    WindowConfig("1h", "1 hour")
  )

  /** JSON-decode raw tick messages: cast binary/string payload, apply the
    * declared schema, parse the ISO8601 event_time, drop rows whose JSON or
    * timestamp failed to parse (malformed JSON yields a null struct →
    * null event_time → filtered; reference moving_statistic.py:42-46). */
  def parseTicks(raw: DataFrame, valueCol: String = "value"): DataFrame =
    raw
      .select(from_json(col(valueCol).cast(StringType), Models.tickSchema).as("data"))
      .select(col("data.*"))
      // try_to_timestamp: Spark 4 runs ANSI mode by default, where a
      // malformed timestamp string throws; the reference (Spark 3.5,
      // ANSI off) yields null and drops the row via the filter below.
      .withColumn("event_time", try_to_timestamp(col("event_time")))
      .filter(col("event_time").isNotNull)

  private def avgStd(exact: Boolean): (Column, Column) =
    if (exact)
      (coalesce(ExactAgg.davg(col("price")), lit(0.0)).as("avg_price"),
        ExactAgg.dstddev0(col("price")).as("std_price"))
    else {
      val sd = stddev(col("price"))
      (coalesce(avg(col("price")), lit(0.0)).as("avg_price"),
        when(sd.isNull || isnan(sd), lit(0.0)).otherwise(sd).as("std_price"))
    }

  /** Per-(sliding window × symbol) mean and sample-stddev of price, with the
    * reference's null/NaN→0.0 coercions. Output: window_timestamp (= window
    * END, reference moving_statistic.py:81), window tag, symbol, avg_price,
    * std_price.
    *
    * `exact = true` routes through [[ExactAgg]] for cross-engine
    * reproducibility (batch/oracle); streaming jobs use the native
    * aggregates (`exact = false`).
    */
  def slidingStats(
      ticks: DataFrame,
      cfg: WindowConfig,
      exact: Boolean = false): DataFrame = {
    val (a, s) = avgStd(exact)
    ticks
      .groupBy(window(col("event_time"), cfg.duration, cfg.slide), col("symbol"))
      .agg(a, s)
      .select(
        col("window.end").as("window_timestamp"),
        col("symbol"),
        lit(cfg.name).as("window"),
        col("avg_price"),
        col("std_price"))
  }

  /** Bag-semantics union fold — the reference's topology: one windowed agg
    * per config, folded with union (reference moving_statistic.py:93-97).
    * N configs ⇒ N shuffles of the full input, and each sliding `window()`
    * plans an Expand with duration/slide branches (360 for 1h/10s) too
    * wide for whole-stage codegen. Kept only as the reference-fidelity
    * batch operator (q02, and the reference the tests check the streamed
    * and scale paths against); [[slidingStatsMulti]] computes the same
    * rows in one aggregation, and the streaming job from per-symbol panes
    * ([[graft.streaming.MovingStatsJob]]). */
  def unionAll(dfs: Seq[DataFrame]): DataFrame = dfs.reduce(_ union _)

  def movingStatsUnion(ticks: DataFrame, cfgs: Seq[WindowConfig] = defaultWindows, exact: Boolean = false): DataFrame =
    unionAll(cfgs.map(slidingStats(ticks, _, exact)))

  /** The one slide of `cfgs`. Every duration must be a multiple of it:
    * [[windowOffsets]] emits `duration / slide` ends per tick, so a
    * remainder would silently drop the windows `window()` starts inside
    * the first slide. */
  private[graft] def uniformSlideMs(cfgs: Seq[WindowConfig]): Long = {
    require(cfgs.map(_.slideMs).distinct.size == 1, "uniform slide required")
    val slideMs = cfgs.head.slideMs
    cfgs.foreach(c => require(c.durationMs % slideMs == 0,
      s"window ${c.name}: duration ${c.duration} is not a multiple of the slide ${c.slide}"))
    slideMs
  }

  /** Start of the slide bucket holding `event_time`, in epoch ms. Floor
    * semantics (`ms − pmod(ms, slide)`), so a pre-1970 tick lands in the
    * bucket below it like `window()` puts it; integer `div` truncates
    * toward zero and would shift it one slide up. */
  private[graft] def bucketMs(slideMs: Long): Column = {
    val ms = unix_millis(col("event_time"))
    (ms - pmod(ms, lit(slideMs))).as("bucket_ms")
  }

  /** Window ends containing a tick: bucket + dur − k·slide, k ∈ [0, dur/slide).
    * The (tag, end-offset) pairs are a CONSTANT array — one literal,
    * exploded per row with trivial arithmetic after it — rather than a
    * per-row array-of-structs construction (which costs an allocation per
    * row×instance and overwhelms whole-stage codegen at 6 configs).
    * Pure lit/struct literal array (constant-folded once by Catalyst);
    * deliberately NOT typedlit, whose runtime encoder derivation breaks
    * under REPL-style layered classloaders. */
  private def windowOffsets(cfgs: Seq[WindowConfig]): Column =
    array(cfgs.flatMap { c =>
      (0 until (c.durationMs / c.slideMs).toInt).map(k =>
        struct(lit(c.name).as("_1"), lit(c.durationMs - k * c.slideMs).as("_2")))
    }: _*)

  /** Every (sliding window instance × tick) membership: each tick is
    * exploded over the constant (tag, end-offset) array. Output:
    * window_timestamp (window END), window tag, symbol, price. Requires a
    * uniform slide across configs (true of the reference's six). */
  private def windowInstances(ticks: DataFrame, cfgs: Seq[WindowConfig]): DataFrame = {
    val slideMs = uniformSlideMs(cfgs)
    ticks
      .select(col("symbol"), col("price"), bucketMs(slideMs),
        explode(windowOffsets(cfgs)).as("w"))
      .select(
        timestamp_millis(col("bucket_ms") + col("w._2")).as("window_timestamp"),
        col("w._1").as("window"),
        col("symbol"),
        col("price"))
  }

  /** Mean and sample stddev per (window end, tag, symbol) of
    * [[windowInstances]] rows, with the same coercions and output columns
    * as [[slidingStats]]. One aggregation for every window config. */
  private def windowStats(instances: DataFrame, exact: Boolean): DataFrame = {
    val (a, s) = avgStd(exact)
    instances
      .groupBy(col("window_timestamp"), col("window"), col("symbol"))
      .agg(a, s)
      .select(
        col("window_timestamp"),
        col("symbol"),
        col("window"),
        col("avg_price"),
        col("std_price"))
  }

  /** Scale-optimized equivalent of [[movingStatsUnion]]: instead of one
    * shuffle per window config, explode each row into its window-instance
    * memberships and aggregate once — a single shuffle keyed by
    * (window end, tag, symbol) regardless of how many window configs
    * exist. At 100 TB this turns 6 full-input shuffles into 1 (the
    * exploded rows partial-aggregate map-side before shuffling, so
    * shuffled bytes are bounded by group cardinality, not by the ×46
    * explode fan-out).
    *
    * Requires a uniform slide across configs (true of the reference's six).
    */
  def slidingStatsMulti(
      ticks: DataFrame,
      cfgs: Seq[WindowConfig] = defaultWindows,
      exact: Boolean = false): DataFrame =
    windowStats(windowInstances(ticks, cfgs), exact)

  /** Batch scale path for EXACT multi-window stats: the slidingStatsMulti
    * explode, but run over per-(slide-bucket, symbol) DECIMAL partials
    * instead of raw ticks — the wide (tag, offset) fan-out touches
    * ~rate×slide fewer rows. Decimal addition is exact and associative,
    * so the merged sums equal the flat aggregation's sums digit for digit
    * and the output stays bit-identical to [[slidingStatsMulti]] with
    * `exact = true` (same DuckDB oracle, no oracle change). At a 10×
    * events replication this cut the q03 rollup from the full explode's
    * row volume to its bucket count with hash-equality preserved. */
  def slidingStatsMultiTwoPhaseExact(
      ticks: DataFrame,
      cfgs: Seq[WindowConfig] = defaultWindows): DataFrame = {
    val slideMs = uniformSlideMs(cfgs)
    val partial = ticks
      .select(col("symbol"), col("price"), bucketMs(slideMs))
      .groupBy(col("bucket_ms"), col("symbol"))
      .agg(
        count(col("price")).as("pn"),
        ExactAgg.dsumPartial(col("price")).as("ps"),
        ExactAgg.dsumsqPartial(col("price")).as("pq"))
    // The partials are tiny (one decimal row per bucket × symbol), so
    // AQE coalesces the phase-1 shuffle down to 1-2 partitions — and the
    // 360-offset explode below, FUSED onto those partitions, would then
    // run on 1-2 cores (observed: 4 s → 40+ s on a slow host). AQE
    // cannot know a stage's output explodes 360×, so pin the fan-out
    // width with an explicit repartition. The partition key matters
    // twice over: hashing on the phase-1 keys is statically elided as
    // redundant with the aggregation's own exchange (which AQE then
    // coalesces anyway), and round-robin defeats phase 2's map-side
    // combine (one window's buckets scatter over every task → the next
    // shuffle carries ~the full exploded row count). Hashing on a
    // COARSE TIME CHUNK — 12× the largest window — keeps each window's
    // buckets in ≤2 tasks (combine compresses, ≤8% group duplication),
    // spreads chunks evenly across cores, and is a derived expression
    // the optimizer cannot collapse into either neighboring exchange.
    val chunkMs = 12L * cfgs.map(_.durationMs).max
    val spread = partial.repartition(
      ticks.sparkSession.sparkContext.defaultParallelism,
      expr(s"bucket_ms div ${chunkMs}L"))
    val merged = spread
      .select(col("symbol"), col("pn"), col("ps"), col("pq"), col("bucket_ms"),
        explode(windowOffsets(cfgs)).as("w"))
      .groupBy((col("bucket_ms") + col("w._2")).as("end_ms"),
        col("w._1").as("window"), col("symbol"))
      .agg(sum(col("pn")).as("n"), sum(col("ps")).as("s"), sum(col("pq")).as("q"))
    merged.select(
      timestamp_millis(col("end_ms")).as("window_timestamp"),
      col("symbol"),
      col("window"),
      coalesce(ExactAgg.davgFromPartials(col("s"), col("n")), lit(0.0)).as("avg_price"),
      ExactAgg.dstddev0FromPartials(col("s"), col("q"), col("n")).as("std_price"))
  }

  /** Re-nest flat per-window rows into one record per (timestamp, symbol)
    * with an array of per-window stats (reference moving_statistic.py:100-113).
    * Array order is collect_list arrival order — nondeterministic, exactly
    * like the reference; consumers must not rely on it. */
  def nestWindows(flat: DataFrame): DataFrame =
    flat
      .groupBy(col("window_timestamp"), col("symbol"))
      .agg(collect_list(struct(col("window"), col("avg_price"), col("std_price"))).as("windows"))
      .select(
        col("window_timestamp").cast(StringType).as("timestamp"),
        col("symbol"),
        col("windows"))

  /** Inverse of [[nestWindows]] (reference zscore_calculator.py:84-97). */
  def explodeWindows(nested: DataFrame): DataFrame =
    flattenWindows(nested.select(
      to_timestamp(col("timestamp")).as("window_timestamp"), col("symbol"), col("windows")))

  /** One row per element of the `windows` array: the frame's other
    * columns, then window, avg_price, std_price. */
  def flattenWindows(df: DataFrame): DataFrame = {
    val keep = df.columns.filterNot(_ == "windows").toSeq.map(col)
    df.select(keep :+ explode(col("windows")).as("w"): _*)
      .select(keep ++ Seq("window", "avg_price", "std_price").map(f => col(s"w.$f").as(f)): _*)
  }

  /** The reference's stream-stream inner equi-join: tick event_time ==
    * window END timestamp && same symbol (reference
    * zscore_calculator.py:103-118). Equality — not a range — on the time
    * key is intentional reference semantics: only ticks landing exactly on
    * a slide boundary match. The stats side's other columns follow the
    * tick's: window, avg_price and std_price for flat stats, the undecoded
    * record body in [[graft.streaming.ZScoreJob]]. */
  def joinTicksToStats(ticks: DataFrame, stats: DataFrame): DataFrame =
    ticks.alias("t").join(
      stats.alias("m"),
      col("t.event_time") === col("m.window_timestamp") &&
        col("t.symbol") === col("m.symbol"),
      "inner")
      .select(Seq(col("t.event_time").as("event_time"), col("t.symbol").as("symbol"),
        col("t.price").as("price")) ++
        stats.columns.filterNot(Set("window_timestamp", "symbol")).map(c => col(s"m.$c")): _*)

  /** z = (price - avg) / std, forced to 0.0 when std is 0/null/NaN — the
    * guard runs *before* the division (reference zscore_calculator.py:124-133). */
  def zscore(joined: DataFrame): DataFrame =
    joined.withColumn(
      "zscore_price",
      when(
        col("std_price") === 0.0 || col("std_price").isNull || isnan(col("std_price")),
        lit(0.0))
        .otherwise((col("price") - col("avg_price")) / col("std_price")))

  /** Re-nest z-scores per (timestamp, symbol)
    * (reference zscore_calculator.py:145-155). */
  def nestZScores(flat: DataFrame): DataFrame =
    flat
      .groupBy(col("event_time"), col("symbol"))
      .agg(collect_list(struct(col("window"), col("zscore_price"))).as("zscores"))
      .select(
        col("event_time").cast(StringType).as("timestamp"),
        col("symbol"),
        col("zscores"))

  /** JSON-encode a record for a Kafka sink
    * (reference moving_statistic.py:116-118). */
  def toKafkaJson(df: DataFrame, cols: Seq[String]): DataFrame =
    df.select(to_json(struct(cols.map(col): _*)).as("value"))
}
