package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.KafkaIO

/** REAL-connector readiness: the one hop the sandbox cannot execute
  * (no broker, no `spark-sql-kafka-0-10` jar in /opt/spark/jars) made a
  * one-flag flip at deploy time. FakeKafkaSpec already executes the
  * identical plans — offset resume, retention loss, admission control —
  * through the in-JVM DSv2 double; this spec replays its resume test
  * verbatim against a LIVE broker via the real `kafka` format, and
  * CANCELS (not fails) unless both prerequisites exist:
  *
  *  - `KAFKA_BROKERS` set (e.g. `KAFKA_BROKERS=host:9092 sbt test`),
  *  - the connector on the classpath (`--packages
  *    org.apache.spark:spark-sql-kafka-0-10_2.13:<spark-version>`).
  *
  * Publishing and reading back go through the connector's own batch
  * write/read paths, so the spec needs nothing beyond the connector
  * itself; topics are timestamp-unique and rely on the broker's
  * `auto.create.topics.enable` (the default). In-sandbox `sbt test`
  * output is unchanged: one canceled test, zero failures. */
class KafkaIntegrationSpec extends SparkSpec {
  import spark.implicits._

  private val brokers = sys.env.get("KAFKA_BROKERS")

  private def connectorPresent: Boolean =
    try {
      Class.forName("org.apache.spark.sql.kafka010.KafkaSourceProvider")
      true
    } catch { case _: ClassNotFoundException => false }

  test("live broker: kafka-to-kafka roundtrip resumes from committed offsets") {
    assume(brokers.exists(_.nonEmpty),
      "KAFKA_BROKERS not set — no broker in this environment; " +
        "the identical plan is executed by FakeKafkaSpec's DSv2 double")
    assume(connectorPresent,
      "spark-sql-kafka-0-10 missing from the classpath — add " +
        "org.apache.spark:spark-sql-kafka-0-10_2.13 to the session")
    val bs = brokers.get
    val stamp = System.currentTimeMillis
    val in = s"graft-it-in-$stamp"
    val out = s"graft-it-out-$stamp"

    def publish(vals: Seq[String]): Unit =
      vals.toDF("value").write.format("kafka")
        .option("kafka.bootstrap.servers", bs)
        .option("topic", in)
        .save()

    def outValues(): Seq[String] =
      spark.read.format("kafka")
        .option("kafka.bootstrap.servers", bs)
        .option("subscribe", out)
        .option("startingOffsets", "earliest")
        .load()
        .select(col("value").cast("string"))
        .collect().map(_.getString(0)).toSeq

    // KafkaIO's builders, as the jobs use them, on the default format
    val cp = Files.createTempDirectory("graft-kafka-it-ckpt").toString
    def run(): Unit = {
      val q = KafkaIO.sink(
        KafkaIO.source(spark, bs, in, "earliest")
          .select(col("key"), col("value")),
        bs, out, cp, "append", "0 seconds").start()
      q.processAllAvailable()
      q.stop()
    }

    publish((1 to 10).map(i => s"first-$i"))
    run()
    assert(outValues().size == 10)

    publish((1 to 5).map(i => s"second-$i"))
    run() // same checkpoint → resume from committed offsets, not replay
    val vals = outValues()
    assert(vals.size == 15, s"expected 10 + 5 with no duplicates, got ${vals.size}")
    assert(vals.count(_.startsWith("second-")) == 5)
  }
}
