package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Change-log compaction: reduce an append-only event/CDC log to its
  * latest state per key — the merge-on-read half of every incremental
  * ingest pipeline (a training corpus that re-crawls sources needs
  * "current version of each document", not the full history).
  */
object Compaction {

  /** Latest-wins snapshot: one row per key — the one with the greatest
    * `(ts, tie)`. `tie` must be unique within a key (a sequence number /
    * event id) so the winner is deterministic under equal timestamps.
    *
    * One shuffle on the key columns; the per-key window sorts only that
    * key's history, and keys are high-cardinality (users × types, doc
    * ids), so no low-cardinality funnel. At 100 TB the same plan holds —
    * this is exactly the shape log-compacted stores run.
    */
  def latestSnapshot(
      df: DataFrame,
      keyCols: Seq[String],
      tsCol: String,
      tieCol: String): DataFrame = {
    val w = Window.partitionBy(keyCols.map(col): _*)
      .orderBy(col(tsCol).desc, col(tieCol).desc)
    df.withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1)
      .drop("_rn")
  }
}
