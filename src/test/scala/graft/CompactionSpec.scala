package graft

import org.apache.spark.sql.functions._

import graft.operators.Compaction

class CompactionSpec extends SparkSpec {
  import spark.implicits._

  // (user, type, ts, event_id, value)
  private def log = Seq(
    (1L, "click", 100L, 1L, 10.0),
    (1L, "click", 300L, 3L, 30.0), // winner: latest ts
    (1L, "click", 200L, 2L, 20.0),
    (1L, "view", 100L, 4L, 1.0),
    (1L, "view", 100L, 5L, 2.0), // equal ts: event_id 5 beats 4
    (2L, "click", 50L, 6L, 9.0) // single-version key survives as-is
  ).toDF("user_id", "event_type", "ts", "event_id", "value")

  test("latestSnapshot: one row per key, greatest (ts, tie) wins") {
    val out = Compaction.latestSnapshot(
      log, Seq("user_id", "event_type"), "ts", "event_id")
      .select("user_id", "event_type", "ts", "event_id", "value")
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
      .toSet
    assert(out == Set(
      (1L, "click", 300L, 3L, 30.0),
      (1L, "view", 100L, 5L, 2.0),
      (2L, "click", 50L, 6L, 9.0)))
  }

  test("latestSnapshot preserves non-key columns untouched") {
    val withExtra = log.withColumn("payload", concat(lit("p"), col("event_id")))
    val out = Compaction.latestSnapshot(
      withExtra, Seq("user_id", "event_type"), "ts", "event_id")
    assert(out.columns.toSeq ==
      Seq("user_id", "event_type", "ts", "event_id", "value", "payload"))
    assert(out.filter(col("user_id") === 1 && col("event_type") === "click")
      .select("payload").as[String].head() == "p3")
  }
}
