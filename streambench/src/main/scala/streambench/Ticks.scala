package streambench

import java.nio.charset.StandardCharsets.UTF_8
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter
import java.util.concurrent.locks.LockSupport

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryProgress}

import graft.streaming.fake.FakeBroker

/** Everything a workload needs from its run. */
final class Ctx(
    val spark: SparkSession,
    val workDir: String,
    val seed: Long,
    val seconds: Int,
    val tracer: Tracer,
    val progress: ProgressLog,
    val result: Result)

/** The `ticks` workload (open loop) over the shipped moving-stats and
  * z-score jobs:
  *
  *  1. setup: both queries start on empty topics; timed until each has
  *     committed its first batch;
  *  2. live: `Symbols` symbols, one tick each per 100 ms on a drift-free
  *     schedule, for `--seconds`; then the pipeline drains. Latency runs
  *     from a boundary tick's due time to the append time of its first
  *     correct z-score on the output topic.
  */
object Ticks {
  /** Sized for the latency sample count: each symbol yields one boundary
    * tick per 10 s, joined with six windows, so a 6 s run gives about
    * 0.6 * 40 * 6 = 144 (tick, window) samples (138: the very first tick
    * has no window with data ending at it), enough for a p90 with ten
    * beyond it. */
  val Symbols = 40

  /** Relative float tolerance for streamed vs batch-recomputed stats. */
  val Tolerance = 1e-6

  def close(a: Double, b: Double): Boolean =
    math.abs(a - b) <= Tolerance * math.max(1.0, math.abs(b))

  private val sparkTs = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss").withZone(ZoneOffset.UTC)

  /** Wall clock in fractional epoch ms (microsecond resolution). */
  def wallMs(): Double = {
    val i = Instant.now()
    i.getEpochSecond * 1000.0 + i.getNano / 1e6
  }

  def awaitFirstBatch(q: StreamingQuery): Unit =
    while (!q.recentProgress.exists(_.durationMs.containsKey("addBatch"))) {
      Pipeline.rethrow(q)
      require(q.isActive, s"query ${q.id} stopped before its first batch")
      Thread.sleep(5)
    }

  def run(ctx: Ctx): Unit = {
    val r = ctx.result
    val p = new Pipeline(ctx.workDir)
    val t0 = System.nanoTime()
    ctx.tracer.span("setup") { sid =>
      ctx.tracer.span("query.start", sid) { _ =>
        p.startMoving(ctx.spark, ctx.progress)
        p.startZScore(ctx.spark, ctx.progress)
      }
      p.queries.foreach(awaitFirstBatch)
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    val feed = new TickGen.Feed(ctx.seed, Symbols)
    val ticks = mutable.ArrayBuffer.empty[TickGen.Tick]
    val sampler = new BacklogSampler(p, ctx.progress)
    sampler.start()
    val lead = 20000000L
    val wall0 = wallMs() + lead / 1e6
    val sched = new TickGen.Schedule(System.nanoTime() + lead, 100000000L)
    val cpu1 = Jvm.cpuNs
    val lateNs = ctx.tracer.span("generator") { gid =>
      sched.run(ctx.seconds * 10, () => System.nanoTime(), n => LockSupport.parkNanos(n)) { _ =>
        ctx.tracer.span("gen.publish", gid) { _ =>
          feed.next().foreach { t =>
            FakeBroker.publish(p.price, t.key, t.value)
            ticks += t
          }
        }
      }
    }
    val tLive = System.nanoTime()
    ctx.tracer.span("drain")(_ => p.drain())
    val tDrained = System.nanoTime()
    sampler.stop()
    val cpuMsPerTick = (Jvm.cpuNs - cpu1) / 1e6 / ticks.size
    ctx.progress.settle(p.queries)
    p.stop()
    val tStopped = System.nanoTime()
    val lat = verify(ctx, p, ticks.toSeq, t => wall0 + t.step * 100.0)
    for (role <- Seq("moving", "zscore"))
      r.lines += role + " batches: " + ctx.progress.of(role).sortBy(_.p.batchId).map(e =>
        s"${e.p.batchId}:${dur(e, "triggerExecution").toInt}t/${dur(e, "addBatch").toInt}a").mkString(" ")
    r.lines += f"phases: setup $setupS%.1f s, live drain ${(tDrained - tLive) / 1e9}%.1f s, stop ${(tStopped - tDrained) / 1e9}%.1f s, check ${(System.nanoTime() - tStopped) / 1e9}%.1f s"

    r.e2e("latency_p50_ms", Stats.median(lat), "ms")
    r.e2e("cpu_ms_per_item", cpuMsPerTick, "ms")
    r.e2e("setup_s", setupS, "s")
    r.note("setup_s", setupS, "s", "both queries to their first committed batch")
    val (tl, tv) = Stats.tail(lat)
    r.note("zscore_latency_p50_ms", Stats.median(lat), "ms", s"n=${lat.size} at ${Symbols * 10} ticks/s")
    r.note(s"zscore_latency_${tl}_ms", tv, "ms",
      s"n=${lat.size}, ${(lat.size * (1 - tl.drop(1).toDouble / 100)).round} beyond")
    r.note("cpu_ms_per_tick", cpuMsPerTick, "ms", "process CPU from first live tick to drained")
    r.layer("gen.late_p99_ms", Stats.quantile(lateNs.toSeq.map(_ / 1e6), 0.99), "ms")
    layers(ctx, p, sampler)
  }

  /** Per-layer figures from the progress log and the backlog sampler. */
  private def layers(ctx: Ctx, p: Pipeline, sampler: BacklogSampler): Unit = {
    val r = ctx.result
    for (role <- Seq("moving", "zscore")) {
      val all = ctx.progress.of(role).sortBy(_.p.batchId)
      if (role == "moving")
        r.layer("moving.first_batch_ms", all.headOption.map(e => dur(e, "triggerExecution")).getOrElse(0.0), "ms")
      val es = all.filter(_.p.batchId > 0)
      def p50(f: ProgressLog.Entry => Double) = Stats.median(es.map(f))
      r.layer(s"$role.batches", es.size.toDouble, "count")
      r.layer(s"$role.trigger_ms_p50", p50(dur(_, "triggerExecution")), "ms")
      r.layer(s"$role.planning_ms_p50", p50(dur(_, "queryPlanning")), "ms")
      r.layer(s"$role.offsets_ms_p50",
        p50(e => Seq("latestOffset", "getBatch", "walCommit", "commitOffsets").map(dur(e, _)).sum), "ms")
      r.layer(s"$role.state_commit_ms_p50", p50(_.p.stateOperators.map(_.commitTimeMs.toDouble).sum), "ms")
      r.layer(s"$role.add_batch_ms_p50", p50(dur(_, "addBatch")), "ms")
      r.layer(s"$role.input_rows", all.map(_.p.numInputRows.toDouble).sum, "count")
      r.layer(s"$role.late_rows_dropped",
        all.map(_.p.stateOperators.map(_.numRowsDroppedByWatermark.toDouble).sum).sum, "count")
      val peakRows = (0.0 +: all.map(_.p.stateOperators.map(_.numRowsTotal.toDouble).sum)).max
      if (role == "moving") {
        r.layer("moving.state_rows_peak", peakRows, "count")
        r.layer("moving.state_mb_peak",
          (0.0 +: all.map(_.p.stateOperators.map(_.memoryUsedBytes.toDouble).sum)).max / 1e6, "MB")
      } else r.layer("zscore.join_state_rows_peak", peakRows, "count")
    }
    r.layer("moving.out_records", FakeBroker.latestOffsets(p.moving).sum.toDouble, "count")
    r.layer("zscore.out_records", FakeBroker.latestOffsets(p.zscore).sum.toDouble, "count")
    r.layer("fake.price_backlog_max", sampler.priceMax.toDouble, "count")
    r.layer("fake.moving_backlog_max", sampler.movingMax.toDouble, "count")
  }

  def dur(e: ProgressLog.Entry, k: String): Double =
    Option(e.p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)

  private val json = new ObjectMapper()

  private def text(n: JsonNode, k: String): String = Option(n.get(k)).map(_.asText).orNull

  private def num(n: JsonNode, k: String): Double =
    Option(n.get(k)).filterNot(_.isNull).map(_.asDouble).getOrElse(Double.NaN)

  /** (append time, value) of every record of `topic`. */
  private def topicRows(topic: String): Seq[(Long, String)] =
    (0 until FakeBroker.numPartitions(topic)).flatMap { part =>
      FakeBroker.fetch(topic, part, 0L, Long.MaxValue)
        .map(r => (r.timestampMs, new String(r.value, UTF_8)))
    }

  /** Recompute the run's ticks with [[Oracle]] and compare with what the
    * pipeline published:
    *  - the last-appended moving stats per (window end, window, symbol)
    *    equal the recomputed stats within [[Tolerance]];
    *  - for each (boundary tick, window) the emitted z-scores include the
    *    recomputed z-score; nothing is emitted for keys the oracle lacks.
    * Every comparison counts as attempted; mismatches as failed. Returns
    * one latency sample per (tick, window): append time of the first
    * matching z-score minus `originMs(tick)`. */
  def verify(ctx: Ctx, p: Pipeline, ticks: Seq[TickGen.Tick],
      originMs: TickGen.Tick => Double): Seq[Double] =
    ctx.tracer.span("check") { _ =>
      val r = ctx.result
      def ts(ms: Long) = sparkTs.format(Instant.ofEpochMilli(ms))
      val oracle = Oracle.movingStats(ticks)
      val expStats = oracle.iterator.map { case ((end, w, sym), st) =>
        (ts(end), w, TickGen.symbol(sym), st.avg, st.std)
      }.toVector
      val expZ = Oracle.zscores(ticks, oracle).iterator.map { case ((ev, sym, w), z) =>
        (ts(ev), TickGen.symbol(sym), w, z)
      }.toVector

      val gotStats = topicRows(p.moving).flatMap { case (at, v) =>
        val d = json.readTree(v)
        d.get("windows").asScala.map(w =>
          (text(d, "timestamp"), text(w, "window"), text(d, "symbol")) ->
            (at, num(w, "avg_price"), num(w, "std_price")))
      }.groupMap(_._1)(_._2)
      val gotZ = topicRows(p.zscore).flatMap { case (at, v) =>
        val d = json.readTree(v)
        d.get("zscores").asScala.map(z =>
          (text(d, "timestamp"), text(d, "symbol"), text(z, "window")) -> (at, num(z, "zscore_price")))
      }.groupMap(_._1)(_._2)

      val expStatKeys = expStats.map(e => (e._1, e._2, e._3)).toSet
      expStats.foreach { case (ts, w, sym, avg, std) =>
        val versions = gotStats.getOrElse((ts, w, sym), Seq.empty)
        val lastAt = versions.map(_._1).maxOption
        val last = versions.filter(v => lastAt.contains(v._1))
        r.check(last.exists(v => close(v._2, avg) && close(v._3, std)),
          s"moving ($ts,$w,$sym): batch avg=$avg std=$std, last streamed ${last.map(v => (v._2, v._3)).mkString(",")}")
      }
      gotStats.keys.filterNot(expStatKeys).foreach(k => r.check(ok = false, s"moving $k not in batch result"))

      val origin = ticks.iterator.filter(t => TickGen.isBoundary(t.eventTimeMs))
        .map(t => (sparkTs.format(Instant.ofEpochMilli(t.eventTimeMs)), TickGen.symbol(t.symbolIdx)) -> originMs(t))
        .toMap
      val expZKeys = expZ.map(e => (e._1, e._2, e._3)).toSet
      val lat = expZ.toSeq.flatMap { case (ts, sym, w, z) =>
        val hits = gotZ.getOrElse((ts, sym, w), Seq.empty).filter(h => close(h._2, z))
        r.check(hits.nonEmpty, s"zscore ($ts,$sym,$w): batch z=$z not among streamed")
        if (hits.isEmpty) None
        else origin.get((ts, sym)).map(o => hits.map(_._1).min - o)
      }
      gotZ.keys.filterNot(expZKeys).foreach(k => r.check(ok = false, s"zscore $k not in batch result"))

      val movingRows = gotStats.valuesIterator.map(_.length).sum
      val zRows = gotZ.valuesIterator.map(_.length).sum
      r.layer("moving.updates_per_final", movingRows.toDouble / math.max(1, gotStats.size), "ratio")
      r.layer("zscore.duplicate_ratio", zRows.toDouble / math.max(1, gotZ.size), "ratio")
      lat
    }
}

/** Samples the pipeline's broker backlog every 50 ms: records on a topic
  * beyond the end offsets its consumers last committed
  * (`FakeBroker.latestOffsets` against progress end offsets). */
final class BacklogSampler(p: Pipeline, progress: ProgressLog) {
  @volatile private var movingPriceEnd = 0L
  @volatile private var zscorePriceEnd = 0L
  @volatile private var zscoreMovingEnd = 0L
  @volatile private var running = true
  var priceMax = 0L
  var movingMax = 0L

  private val thread = new Thread(() => {
    while (running) {
      val price = FakeBroker.latestOffsets(p.price).sum - math.min(movingPriceEnd, zscorePriceEnd)
      val moving = FakeBroker.latestOffsets(p.moving).sum - zscoreMovingEnd
      priceMax = math.max(priceMax, price)
      movingMax = math.max(movingMax, moving)
      Thread.sleep(50)
    }
  }, "backlog-sampler")
  thread.setDaemon(true)

  private def update(role: String, pr: StreamingQueryProgress): Unit = role match {
    case "moving" => movingPriceEnd = progress.endOffsets(pr, 0)
    case "zscore" =>
      zscorePriceEnd = progress.endOffsets(pr, 0)
      zscoreMovingEnd = progress.endOffsets(pr, 1)
    case _ => ()
  }

  def start(): Unit = {
    Seq("moving" -> p.movingQ, "zscore" -> p.zscoreQ).foreach { case (role, q) =>
      Option(q.lastProgress).foreach(update(role, _))
    }
    progress.onEntry = e => update(e.role, e.p)
    thread.start()
  }

  def stop(): Unit = {
    running = false
    thread.join()
    progress.onEntry = _ => ()
  }
}
