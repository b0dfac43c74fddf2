package streambench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.StringType
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.TickOps

/** The benchmark's output check recomputes stats and z-scores with
  * [[Oracle]]; this pins the oracle to the program's own batch path
  * (`TickOps.movingStatsUnion`, `joinTicksToStats`, `zscore`) on a
  * generated feed. */
class OracleSpec extends AnyFunSuite {

  test("oracle stats and z-scores equal TickOps in batch") {
    val spark = SparkSession.builder().master("local[2]").appName("oracle-spec")
      .config("spark.sql.shuffle.partitions", "2")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("OFF")
    import spark.implicits._
    try {
      val feed = new TickGen.Feed(5, 3)
      val ticks = Vector.fill(400)(feed.next()).flatten
      val parsed = TickOps.parseTicks(ticks.map(_.json).toDF("value"))
      val stats = TickOps.movingStatsUnion(parsed).cache()
      val batchStats = stats.select(col("window_timestamp").cast("long"), col("window"),
        col("symbol"), col("avg_price"), col("std_price"))
        .as[(Long, String, String, Double, Double)].collect()
        .map { case (end, w, sym, a, s) => (end * 1000L, w, sym) -> (a, s) }.toMap
      val batchZ = TickOps.zscore(TickOps.joinTicksToStats(parsed, stats))
        .select(col("event_time").cast("long"), col("symbol"), col("window"), col("zscore_price"))
        .as[(Long, String, String, Double)].collect()
        .map { case (ev, sym, w, z) => (ev * 1000L, sym, w) -> z }.toMap

      val oracle = Oracle.movingStats(ticks)
      val oStats = oracle.map { case ((end, w, i), st) => (end, w, TickGen.symbol(i)) -> (st.avg, st.std) }
      val oZ = Oracle.zscores(ticks, oracle).map { case ((ev, i, w), z) => (ev, TickGen.symbol(i), w) -> z }

      assert(oStats.keySet == batchStats.keySet)
      oStats.foreach { case (k, (a, s)) =>
        val (ba, bs) = batchStats(k)
        assert(Ticks.close(a, ba) && Ticks.close(s, bs), s"$k: oracle ($a, $s) batch ($ba, $bs)")
      }
      assert(oZ.keySet == batchZ.keySet && oZ.nonEmpty)
      oZ.foreach { case (k, z) => assert(Ticks.close(z, batchZ(k)), s"$k: oracle $z batch ${batchZ(k)}") }
    } finally spark.stop()
  }
}
