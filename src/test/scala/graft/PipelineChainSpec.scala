package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

import graft.streaming.{MovingStatsJob, ZScoreJob}

/** EP1 → EP2 glued exactly like the reference glues them — through a
  * materialized topic (files standing in for Kafka): the moving-stats
  * streaming job emits keyed, re-nested JSON records to the "topic", and
  * the z-score streaming job independently consumes that topic, reads
  * each record's key, and pairs its own tick stream with it. Both stages
  * run as real Structured Streaming queries. */
class PipelineChainSpec extends SparkSpec {
  import spark.implicits._

  private def tickJson(symbol: String, price: Double, iso: String): String =
    s"""{"symbol":"$symbol","price":$price,"event_time":"$iso"}"""

  test("EP1 streaming output feeds EP2 streaming join through the topic boundary") {
    val topicDir = Files.createTempDirectory("graft-topic").toFile

    // EP1: ticks → six-window stats → nested JSON records on the "topic"
    val ep1In = MemoryStream[String](spark)
    val ep1 = MovingStatsJob.statsStream(ep1In.toDF())
      .writeStream.outputMode("update")
      .foreachBatch { (b: DataFrame, id: Long) =>
        // the batch id stands in for the Kafka offset: one batch holds
        // one version of each (window end, symbol)
        val payload = MovingStatsJob.nested(b).withColumn("offset", lit(id)).toJSON.collect()
        if (payload.nonEmpty)
          java.nio.file.Files.write(
            new java.io.File(topicDir, f"part-$id%05d.json").toPath,
            payload.mkString("\n").getBytes)
        ()
      }.start()
    ep1In.addData(
      tickJson("BTCUSDT", 90.0, "2024-01-01T00:00:02.000Z"),
      tickJson("BTCUSDT", 110.0, "2024-01-01T00:00:07.000Z"))
    ep1.processAllAvailable()
    ep1.stop()
    assert(topicDir.listFiles().nonEmpty)

    // EP2: independent query; tick stream ⋈ decoded topic stream
    val ep2Ticks = MemoryStream[graft.model.Models.PriceTick](spark)
    val moving = ZScoreJob.parseMoving(
      spark.readStream.schema("key STRING, value STRING, offset LONG").json(topicDir.getAbsolutePath))
    val flat = ZScoreJob.zscores(ep2Ticks.toDF(), moving)
    val q2 = flat.writeStream.format("memory").queryName("chain_out")
      .outputMode("append").start()
    try {
      ep2Ticks.addData(
        graft.model.Models.PriceTick("BTCUSDT", 120.0,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:10")), // on window end
        graft.model.Models.PriceTick("BTCUSDT", 999.0,
          java.sql.Timestamp.valueOf("2024-01-01 00:00:11"))) // off boundary
      q2.processAllAvailable()
      val rows = spark.table("chain_out")
        .select(col("event_time"), explode(col("zscores")).as("z")).select("event_time", "z.*").collect()
      assert(rows.nonEmpty)
      // only the boundary tick joins; stats come from EP1's emitted topic
      assert(rows.forall(_.getAs[java.sql.Timestamp]("event_time") ==
        java.sql.Timestamp.valueOf("2024-01-01 00:00:10")))
      // the :10-ending windows contain both EP1 ticks (90@:02, 110@:07)
      // → avg 100, sample std √200 → z = (120 − 100)/√200
      assert(rows.exists(r => math.abs(r.getAs[Double]("zscore_price") - 20.0 / math.sqrt(200.0)) < 1e-9))
    } finally q2.stop()
  }
}
