package graft.streaming

import org.apache.spark.sql.functions._

import graft.operators.TickOps
import graft.util.SparkUtil

/** Kafka-free end-to-end run of the streaming pipeline: a file streaming
  * source replays an events parquet directory as tick JSON (standing in
  * for the Binance→Kafka producer), the moving-stats pipeline aggregates
  * it, and the z-score stage consumes the re-nested JSON exactly as it
  * would from the `btc-price-moving` topic.
  *
  * Usage: runMain graft.streaming.PipelineDemo [eventsDir] — eventsDir
  * must contain only events-schema parquet files.
  */
object PipelineDemo {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/tmp/stream_in")
    val spark = SparkUtil.newLocalSession("graft-pipeline-demo", "4")
    val schema = spark.read.parquet(dir).schema

    // Stage 0a (producer fidelity, reference main.py semantics): event
    // values play the role of fetched Binance prices; ProducerSim applies
    // the stale-republish policy and the drift-free 100 ms schedule, and
    // its frames replay through the same moving-stats pipeline.
    locally {
      import org.apache.spark.sql.Encoders
      val prices = spark.read.parquet(dir).orderBy("ts").limit(300)
        .select(col("value").cast("double")).as[Double](Encoders.scalaDouble).collect()
      val fetches = prices.zipWithIndex.map { case (p, i) =>
        // jittered completion times; coarse rounding yields repeated prices
        graft.streaming.ProducerSim.Fetch(i * 100L + 37L, Some(math.round(p).toDouble))
      }
      val frames = graft.streaming.ProducerSim.run(fetches.toSeq, 0L, prices.length * 100L)
      val prodDir = java.nio.file.Files.createTempDirectory("demo-producer").toFile
      java.nio.file.Files.write(new java.io.File(prodDir, "frames.json").toPath,
        graft.streaming.ProducerSim.toJson(frames).mkString("\n").getBytes)
      val qp = MovingStatsJob.statsStream(
          spark.readStream.schema("value STRING").text(prodDir.getAbsolutePath))
        .writeStream.format("memory").queryName("producer_stats")
        .outputMode("update").start()
      qp.processAllAvailable(); qp.stop()
      println(s"DEMO producer_frames=${frames.length} " +
        s"producer_stats_rows=${spark.table("producer_stats").count()}")
    }

    // Stage 0 (producer analog): events → tick JSON frames
    val rawJson = spark.readStream.schema(schema).parquet(dir)
      .select(to_json(struct(
        col("event_type").as("symbol"),
        col("value").as("price"),
        date_format(timestamp_micros(expr("ts div 1000")),
          "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("event_time"))).as("value"))

    // Stage 1 (EP1): moving stats, update mode
    val stats = MovingStatsJob.statsStream(rawJson)
    val q1 = stats.writeStream
      .format("memory").queryName("moving_flat").outputMode("update").start()

    // Stage 1b: the nested topic payload via the H1-safe foreachBatch path
    val nestedJson = scala.collection.mutable.ArrayBuffer.empty[String]
    val q2 = stats.writeStream.outputMode("update")
      .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
        nestedJson ++= MovingStatsJob.nested(b)
          .collect().map(_.getString(0))
        ()
      }.start()

    q1.processAllAvailable(); q2.processAllAvailable()
    val flat = spark.table("moving_flat")
    println(s"DEMO stats_rows=${flat.count()} windows=${flat.select("window").distinct().count()} " +
      s"symbols=${flat.select("symbol").distinct().count()} nested_msgs=${nestedJson.size}")
    q1.stop(); q2.stop()

    // Stage 2 (EP2): replay nested JSON through the moving-topic decoder and
    // join a boundary-aligned tick stream against it (batch replay of the
    // same operators the streaming job uses).
    import spark.implicits._
    val movingTopic = ZScoreJob.parseMoving(nestedJson.toSeq.toDF("value"))
    val boundaryTicks = movingTopic
      .select(col("window_timestamp").as("event_time"), col("symbol"),
        (col("avg_price") + col("std_price")).as("price"))
      .distinct()
    val z = TickOps.zscore(TickOps.joinTicksToStats(boundaryTicks, movingTopic))
    println(s"DEMO zscore_rows=${z.count()} sample=${z.orderBy(desc("zscore_price")).limit(1).collect().mkString}")

    // Stage 3 (bonus topics): time-until-higher alerts over a replayed
    // tick stream, via the transformWithState processor on RocksDB state.
    spark.conf.set("spark.sql.streaming.stateStore.providerClass",
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val alertIn = java.nio.file.Files.createTempDirectory("demo-alerts").toFile
    spark.read.schema(schema).parquet(dir)
      .orderBy("ts").limit(2000)
      .select(to_json(struct(
        col("event_type").as("symbol"), col("value").as("price"),
        date_format(timestamp_micros(expr("ts div 1000")),
          "yyyy-MM-dd'T'HH:mm:ss.SSSXXX").as("event_time"))).as("value"))
      .coalesce(1).write.mode("overwrite").text(alertIn.getAbsolutePath)
    implicit val s2 = spark
    val parsedTicks = TickOps.parseTicks(
      spark.readStream.schema("value STRING").text(alertIn.getAbsolutePath))
      .withWatermark("event_time", "10 seconds")
      .as[graft.model.Models.PriceTick](org.apache.spark.sql.Encoders.product)
    val qa = PriceAlertsTws.alerts(parsedTicks, direction = +1, horizonSec = 60.0)
      .writeStream.format("memory").queryName("alerts_demo")
      .outputMode("append").start()
    qa.processAllAvailable(); qa.stop()
    println(s"DEMO alerts_rows=${spark.table("alerts_demo").count()}")
    spark.stop()
  }
}
