package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.model.Models
import graft.operators.TickOps
import graft.streaming.{KafkaIO, MovingStatsJob, ZScoreJob}
import graft.streaming.fake.FakeBroker

/** The Kafka runtime surface, executed: KafkaIO's plans driven end-to-end
  * through the `fakekafka` DSv2 source/sink (FakeKafkaProvider), which
  * implements the connector's offset semantics over an in-JVM broker.
  * What the real-broker path would exercise and the sandbox can't —
  * checkpointed offset resume across restarts, earliest-vs-latest starting
  * offsets, retention-induced data loss under both failOnDataLoss
  * settings — is asserted here for real, through actual streaming queries
  * and actual checkpoints.
  */
class FakeKafkaSpec extends SparkSpec {

  private def ckpt(): String =
    Files.createTempDirectory("graft-fakekafka-ckpt").toString

  private def publish(topic: String, values: Seq[String], key: String = null): Unit =
    values.foreach { v =>
      FakeBroker.publish(topic,
        if (key == null) null else key.getBytes("UTF-8"), v.getBytes("UTF-8"))
    }

  /** All record values in a topic, across partitions, in (partition, offset)
    * order. */
  private def topicValues(topic: String): Seq[String] =
    (0 until FakeBroker.numPartitions(topic)).flatMap { p =>
      FakeBroker.fetch(topic, p, 0L, FakeBroker.latestOffsets(topic)(p))
        .map(r => new String(r.value, "UTF-8"))
    }

  /** Source → passthrough → sink with a 0 s trigger; returns the running
    * query (caller stops). */
  private def passthrough(
      inTopic: String, outTopic: String, checkpointDir: String,
      startingOffsets: String = "earliest") = {
    val src = KafkaIO.source(spark, "fake:9092", inTopic, startingOffsets, "fakekafka")
    KafkaIO.sink(src.select(col("key"), col("value")), identity, "fake:9092", outTopic,
      checkpointDir, "append", "0 seconds", "fakekafka").start()
  }

  test("broker admin: create (3 partitions default) / list / delete") {
    FakeBroker.createTopic("fk-admin-a")
    FakeBroker.createTopic("fk-admin-b", partitions = 5)
    FakeBroker.createTopic("fk-admin-a") // idempotent, like --if-not-exists
    assert(FakeBroker.numPartitions("fk-admin-a") == 3)
    assert(FakeBroker.numPartitions("fk-admin-b") == 5)
    assert(FakeBroker.listTopics().contains("fk-admin-a"))
    FakeBroker.deleteTopic("fk-admin-b")
    assert(!FakeBroker.listTopics().contains("fk-admin-b"))
    intercept[NoSuchElementException](FakeBroker.latestOffsets("fk-admin-b"))
  }

  test("keyed records co-partition; unkeyed round-robin; offsets are dense per partition") {
    val t = "fk-parts"
    FakeBroker.createTopic(t)
    val keyed = (1 to 9).map(i =>
      FakeBroker.publish(t, "samekey".getBytes, s"k$i".getBytes))
    assert(keyed.map(_._1).distinct.size == 1, "same key must land on one partition")
    assert(keyed.map(_._2) == (0L until 9L), "per-partition offsets are dense")
    val unkeyed = (1 to 6).map(i => FakeBroker.publish(t, null, s"u$i".getBytes))
    assert(unkeyed.map(_._1).toSet.size == 3, "unkeyed spreads across all partitions")
  }

  test("kafka-to-kafka executes: source reads earliest, sink lands every record") {
    val (in, out) = ("fk-e2e-in", "fk-e2e-out")
    FakeBroker.createTopic(in); FakeBroker.createTopic(out)
    val payloads = (1 to 30).map(i => s"""{"n":$i}""")
    publish(in, payloads)
    val q = passthrough(in, out, ckpt())
    q.processAllAvailable(); q.stop()
    assert(topicValues(out).sorted == payloads.sorted)
  }

  test("checkpointed restart resumes from committed offsets — no reprocessing") {
    val (in, out) = ("fk-resume-in", "fk-resume-out")
    FakeBroker.createTopic(in); FakeBroker.createTopic(out)
    val cp = ckpt()
    publish(in, (1 to 10).map(i => s"first-$i"))
    val q1 = passthrough(in, out, cp)
    q1.processAllAvailable(); q1.stop()
    assert(topicValues(out).size == 10)

    publish(in, (1 to 5).map(i => s"second-$i"))
    val q2 = passthrough(in, out, cp) // same checkpoint → resume, not replay
    q2.processAllAvailable(); q2.stop()
    val vals = topicValues(out)
    assert(vals.size == 15, s"expected 10 + 5 with no duplicates, got ${vals.size}")
    assert(vals.count(_.startsWith("second-")) == 5)
    // the engine's source-commit callback lags the offset log by a batch;
    // by the time the restarted query has processed the second batch it
    // must have acknowledged at least the first run's 10 records
    assert(FakeBroker.committed(in).exists(_.sum >= 10L),
      "engine commit callback should have acknowledged progress")
  }

  test("startingOffsets=latest ignores pre-existing records") {
    val (in, out) = ("fk-latest-in", "fk-latest-out")
    FakeBroker.createTopic(in); FakeBroker.createTopic(out)
    publish(in, (1 to 10).map(i => s"old-$i"))
    val q = passthrough(in, out, ckpt(), startingOffsets = "latest")
    q.processAllAvailable() // initial offset snapshots at current end
    publish(in, (1 to 3).map(i => s"new-$i"))
    q.processAllAvailable(); q.stop()
    assert(topicValues(out).sorted == (1 to 3).map(i => s"new-$i").sorted)
  }

  test("retention truncation: failOnDataLoss=false skips the gap, =true fails the query") {
    val in = "fk-loss-in"
    FakeBroker.createTopic(in, partitions = 1) // single partition → exact offsets
    val cpTolerant = ckpt(); val cpStrict = ckpt()
    publish(in, (0 to 9).map(i => s"r$i"))

    val outA = "fk-loss-out-a"
    FakeBroker.createTopic(outA)
    val qa = passthrough(in, outA, cpTolerant)
    qa.processAllAvailable(); qa.stop()
    // a second consumer group: same position, strict data-loss handling
    val outB = "fk-loss-out-b"
    FakeBroker.createTopic(outB)
    val strictSrc = spark.readStream.format("fakekafka")
      .option("subscribe", in).option("startingOffsets", "earliest")
      .option("failOnDataLoss", "true").load()
    val qb0 = strictSrc.select(col("key"), col("value"))
      .writeStream.format("fakekafka").option("topic", outB)
      .option("checkpointLocation", cpStrict).outputMode("append").start()
    qb0.processAllAvailable(); qb0.stop()
    assert(topicValues(outA).size == 10 && topicValues(outB).size == 10)

    publish(in, (10 to 15).map(i => s"r$i"))
    FakeBroker.truncateTo(in, 0, 13) // retention drops r10..r12 before anyone reads

    // tolerant consumer (KafkaIO's failOnDataLoss=false): resumes at 13
    val qa2 = passthrough(in, outA, cpTolerant)
    qa2.processAllAvailable(); qa2.stop()
    val a = topicValues(outA)
    assert(a.size == 13, s"10 + the 3 retained records, got ${a.size}")
    assert(Seq("r13", "r14", "r15").forall(a.contains) && !a.contains("r10"))

    // strict consumer: the same gap is a query-failing error
    val strictResume = spark.readStream.format("fakekafka")
      .option("subscribe", in).option("startingOffsets", "earliest")
      .option("failOnDataLoss", "true").load()
    val qb = strictResume.select(col("key"), col("value"))
      .writeStream.format("fakekafka").option("topic", outB)
      .option("checkpointLocation", cpStrict).outputMode("append").start()
    intercept[Exception] { qb.processAllAvailable() }
    assert(qb.exception.isDefined, "strict query must terminate with an error")
    val msg = qb.exception.get.toString
    assert(msg.contains("out of range") || msg.contains("data lo"),
      s"error should name the offset gap: $msg")
  }

  test("MovingStatsJob runs Kafka-to-Kafka through the double: nested stats land on the out topic") {
    val (in, out) = ("fk-btc-price", "fk-btc-price-moving")
    FakeBroker.createTopic(in); FakeBroker.createTopic(out)
    val ticks = (0 until 120).map { i =>
      val ts = java.time.Instant.ofEpochSecond(1704067200L + i)
      s"""{"symbol":"BTCUSDT","price":${100.0 + (i % 7)},"event_time":"$ts"}"""
    }
    publish(in, ticks)
    val q = MovingStatsJob.run(spark, "fake:9092", in, out, ckpt(),
      MovingStatsJob.H1Mode.ForeachBatch, format = "fakekafka",
      startingOffsets = "earliest", triggerInterval = "0 seconds")
    q.processAllAvailable(); q.stop()
    val outVals = topicValues(out)
    assert(outVals.nonEmpty, "moving-stats records should land on the out topic")
    import spark.implicits._
    val parsed = spark.createDataset(outVals)
      .select(from_json(col("value").cast(StringType), Models.movingStatsSchema).as("d"))
      .select(col("d.*"))
    val rows = parsed.collect()
    assert(rows.forall(_.getAs[String]("symbol") == "BTCUSDT"))
    val windowTags = parsed.select(explode(col("windows.window"))).distinct()
      .collect().map(_.getString(0)).toSet
    assert(windowTags == Set("30s", "1m", "5m", "15m", "30m", "1h"),
      s"all six reference windows should be present, got $windowTags")
  }

  test("K5 fan-out: a memory sink and KafkaIO.sink run concurrently over one moving-stats lineage") {
    val (in, out) = ("fk-fanout-price", "fk-fanout-moving")
    FakeBroker.createTopic(in); FakeBroker.createTopic(out)
    publish(in, for (sym <- Seq("BTCUSDT", "ETHUSDT"); i <- 0 until 120) yield {
      val ts = java.time.Instant.ofEpochSecond(1704067200L + i)
      s"""{"symbol":"$sym","price":${100.0 + (i % 7)},"event_time":"$ts"}"""
    })
    val stats = MovingStatsJob.statsStream(
      KafkaIO.source(spark, "fake:9092", in, "earliest", "fakekafka"))
    val qFlat = TickOps.flattenWindows(stats).writeStream.format("memory").queryName("fk_fanout_flat")
      .outputMode("update").start()
    val qTopic = KafkaIO.sink(stats, MovingStatsJob.nested, "fake:9092", out, ckpt(),
      "update", "0 seconds", "fakekafka").start()
    try {
      qFlat.processAllAvailable(); qTopic.processAllAvailable()
    } finally {
      qFlat.stop(); qTopic.stop()
    }
    import spark.implicits._
    val flat = spark.table("fk_fanout_flat")
    val groups = flat.select("window_timestamp", "symbol").distinct().count()
    val msgs = topicValues(out)
    assert(groups > 0 && msgs.size == groups,
      s"one message per (window end, symbol): ${msgs.size} messages, $groups groups")
    // the nested messages carry exactly the flat table's window rows
    val keys = Seq("window_timestamp", "symbol", "window").map(col)
    val fromTopic = TickOps.explodeWindows(msgs.toDF("value")
      .select(from_json(col("value"), Models.movingStatsSchema).as("d")).select(col("d.*")))
      .select(keys: _*)
    val fromFlat = flat.select(keys: _*)
    assert(fromTopic.exceptAll(fromFlat).isEmpty && fromFlat.exceptAll(fromTopic).isEmpty)
  }

  test("MovingStatsJob restarted on its checkpoint publishes what an uninterrupted run publishes") {
    // the pane state and the offsets come back from the checkpoint: a
    // lost pane would change every window that spans the restart, a
    // replayed offset would count its ticks twice. One tick per 10 s pane
    // keeps the merge order, and so every bit, the same in both runs.
    val (in, outStop, outOnce) = ("fk-restart-price", "fk-restart-moving", "fk-once-moving")
    Seq(in, outStop, outOnce).foreach(FakeBroker.createTopic(_))
    val chunks = (0 until 4).map { c =>
      for (i <- c * 15 until (c + 1) * 15; sym <- Seq("BTCUSDT", "ETHUSDT")) yield {
        val ts = java.time.Instant.ofEpochSecond(1704067200L + 10L * i + 3)
        s"""{"symbol":"$sym","price":${100.0 + (i * 37 % 11) * 0.25},"event_time":"$ts"}"""
      }
    }
    def start(out: String, cp: String) = MovingStatsJob.run(spark, "fake:9092", in, out, cp,
      MovingStatsJob.H1Mode.ForeachBatch, format = "fakekafka",
      startingOffsets = "earliest", triggerInterval = "0 seconds")
    // the records each micro-batch appends, in batch order
    val published = scala.collection.mutable.ArrayBuffer.empty[Seq[String]]
    def feed(q: org.apache.spark.sql.streaming.StreamingQuery, chunk: Seq[String]): Unit = {
      val before = FakeBroker.latestOffsets(outStop)
      publish(in, chunk)
      q.processAllAvailable()
      val added = before.indices.flatMap(p =>
        FakeBroker.fetch(outStop, p, before(p), FakeBroker.latestOffsets(outStop)(p)))
      assert(added.nonEmpty)
      published += added.map(r => new String(r.value, "UTF-8"))
    }
    val cp = ckpt()
    val q1 = start(outStop, cp)
    try chunks.take(2).foreach(feed(q1, _)) finally q1.stop()
    val q2 = start(outStop, cp)
    try chunks.drop(2).foreach(feed(q2, _)) finally q2.stop()
    assert(topicValues(outStop).size == published.map(_.size).sum)

    val q3 = start(outOnce, ckpt())
    try q3.processAllAvailable() finally q3.stop()

    import spark.implicits._
    def last(batches: Seq[Seq[String]]): Map[(String, String, String), (Double, Double)] =
      batches.foldLeft(Map.empty[(String, String, String), (Double, Double)]) { (acc, vals) =>
        acc ++ TickOps.explodeWindows(vals.toDF("value")
          .select(from_json(col("value"), Models.movingStatsSchema).as("d")).select(col("d.*")))
          .collect().map(r => (r.getTimestamp(0).toString, r.getString(1), r.getString(2)) ->
            ((r.getDouble(3), r.getDouble(4))))
      }
    val once = last(Seq(topicValues(outOnce))) // one batch: one record per key
    val restarted = last(published.toSeq)
    assert(once.nonEmpty && restarted.keySet == once.keySet,
      s"${restarted.keySet.diff(once.keySet).take(3)} / ${once.keySet.diff(restarted.keySet).take(3)}")
    once.foreach { case (k, v) => assert(restarted(k) == v, s"at $k") }
  }

  test("maxOffsetsPerTrigger: backlog replays as bounded batches, split across partitions") {
    val in = "fk-throttle-in"
    FakeBroker.createTopic(in) // 3 partitions, 30 records each round-robin
    publish(in, (1 to 90).map(i => s"r$i"))
    val sizes = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = spark.readStream.format("fakekafka")
      .option("subscribe", in).option("startingOffsets", "earliest")
      .option("maxOffsetsPerTrigger", "40").load()
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val n = batch.count(); if (n > 0) sizes += n; ()
      }.start()
    q.processAllAvailable(); q.stop()
    assert(sizes.sum == 90, s"every record exactly once, got $sizes")
    assert(sizes.forall(_ <= 40), s"no batch may exceed the cap: $sizes")
    assert(sizes.size >= 3, s"a 90-row backlog at cap 40 needs >= 3 batches: $sizes")
  }

  test("full reference topology: producer → moving-stats → z-score, Kafka between every stage") {
    // The reference system end-to-end: the producer's stale-republish
    // policy generates the tick stream, moving stats consumes it and
    // publishes nested windows, the z-score job stream-stream-joins both
    // topics — all three hops over (fake) Kafka, each with its own
    // checkpoint, exactly the deployment layout of the reference's
    // docker-compose.
    val base = 1704067200000L // 2024-01-01T00:00:00Z
    val fetches = (0 to 720).map(i =>
      graft.streaming.ProducerSim.Fetch(base + i * 250L, Some(100.0 + (i % 13) * 0.5)))
    val frames = graft.streaming.ProducerSim.run(fetches, base, base + 180000L)
    assert(frames.size == 1800) // drift-free 100 ms grid over 3 minutes

    val (price, moving, zout) = ("fk-chain-price", "fk-chain-moving", "fk-chain-zscore")
    Seq(price, moving, zout).foreach(FakeBroker.createTopic(_))
    publish(price, graft.streaming.ProducerSim.toJson(frames))

    val q1 = MovingStatsJob.run(spark, "fake:9092", price, moving, ckpt(),
      MovingStatsJob.H1Mode.ForeachBatch, format = "fakekafka",
      startingOffsets = "earliest", triggerInterval = "0 seconds")
    q1.processAllAvailable(); q1.stop()
    assert(topicValues(moving).nonEmpty, "stage 2 must publish moving stats")

    val q2 = graft.streaming.ZScoreJob.run(spark, "fake:9092", price, moving,
      zout, ckpt(), MovingStatsJob.H1Mode.ForeachBatch, format = "fakekafka",
      startingOffsets = "earliest", triggerInterval = "0 seconds")
    q2.processAllAvailable(); q2.stop()

    val zs = topicValues(zout)
    assert(zs.nonEmpty, "boundary ticks must produce z-scores through the full chain")
    import spark.implicits._
    val parsed = spark.createDataset(zs)
      .select(from_json(col("value").cast(StringType),
        graft.model.Models.zscoreSchema).as("d"))
      .select(col("d.*"))
    assert(parsed.filter(col("symbol") =!= "BTCUSDT").isEmpty)
    assert(parsed.select(explode(col("zscores"))).count() > 0)
  }
}
