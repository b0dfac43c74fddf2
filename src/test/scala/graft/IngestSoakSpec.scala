package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.DedupIndexStore
import graft.streaming.StreamOps

/** Longevity of the self-maintaining hybrid ingest loop (VERDICT r12
  * item 3): the 50×-corpus price point said one trigger is cheap; this
  * says the THOUSANDTH trigger is still cheap — per-trigger wall must not
  * creep as the index accumulates ingests and compactions fold them, and
  * the on-disk footprint must stay bounded by the compaction cadence, not
  * the stream's lifetime. This spec asserts it at a CI-sized scale (30
  * triggers, 2 mid-stream compactions); `streambench`'s `docs_ingest`
  * workload drives the same ingest loop under timing. */
class IngestSoakSpec extends SparkSpec {
  import spark.implicits._

  private def fileCount(dir: String): Int = {
    def walk(f: java.io.File): Int =
      if (f.isDirectory) Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0)
      else if (f.getName.endsWith(".parquet")) 1
      else 0
    walk(new java.io.File(dir))
  }

  test("30-trigger soak with 2 mid-stream compactions: flat wall, bounded files, exact admissions") {
    val Triggers = 30
    val CompactEvery = 10
    val tail = java.nio.file.Files.createTempDirectory("graft_soak_tail").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_soak_ckpt").toFile
    ckpt.deleteOnExit()
    try {
      DedupIndexStore.buildBucketed(
        Seq((100000L, "seed corpus document about tokens shingles bands " +
          "signatures jaccard thresholds buckets")).toDF("doc_id", "text"),
        "doc_id", "text", "soak_idx", 4, k = 2, numHashes = 8, bands = 4)
      DedupIndexStore.initEmpty(spark, tail, k = 2, numHashes = 8, bands = 4)

      val in = MemoryStream[(Long, String)](spark)
      val admitted = scala.collection.mutable.ArrayBuffer.empty[Long]
      val q = StreamOps.streamingIngestDedupBucketed(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", "soak_idx", tail,
        ckpt.getAbsolutePath,
        (df, _) => admitted.synchronized {
          admitted ++= df.select("doc_id").collect().map(_.getLong(0))
        },
        threshold = 0.2)
      val wallSec = Array.fill(Triggers)(0.0)
      val tailFilesSeen = scala.collection.mutable.ArrayBuffer.empty[Int]
      try {
        // every token embeds (trigger, doc), so distinct docs share ZERO
        // shingles — near-dup pairs exist only where this test plants them
        def freshText(t: Int, j: Int): String =
          (0 until 8).map(w => s"t${t}d${j}w$w").mkString(" ")
        (0 until Triggers).foreach { t =>
          // per trigger: 3 fresh docs + 1 near-dup of a doc admitted ~5
          // triggers ago (exercises the store lookup, not just freshness)
          val base = 10L * t
          val fresh = (0 until 3).map(j => (base + j, freshText(t, j)))
          val dup = (base + 5, freshText(math.max(0, t - 5), 0) + " ztail")
          val t0 = System.nanoTime()
          in.addData(fresh :+ dup: _*)
          q.processAllAvailable()
          wallSec(t) = (System.nanoTime() - t0) / 1e9
          if ((t + 1) % CompactEvery == 0 && t + 1 < Triggers) {
            DedupIndexStore.compactTail(spark, "soak_idx", tail, 4)
            assert(!new java.io.File(s"$tail/bands").exists,
              s"tail not cleared by compaction after trigger $t")
          }
          tailFilesSeen += fileCount(tail)
        }
      } finally q.stop()

      // exact admissions: every trigger admits its 3 fresh docs and drops
      // its planted near-dup — trigger 0's dup targets its OWN doc 0
      // (within-batch canonicalizer keeps the min id), triggers 1-4
      // target trigger 0's admitted doc, and trigger >=5 targets the doc
      // admitted 5 triggers ago (the store probe, possibly across folds)
      val got = admitted.synchronized(admitted.toSet)
      (0 until Triggers).foreach { t =>
        (0 until 3).foreach(j => assert(got.contains(10L * t + j),
          s"fresh doc ${10L * t + j} of trigger $t was not admitted"))
        assert(!got.contains(10L * t + 5),
          s"near-dup ${10L * t + 5} of trigger $t escaped the dedup loop")
      }

      // flat wall: the last third must not creep past the first third
      // (generous 2.5x bound — a leak over 30 triggers of a growing index
      // shows as monotone growth, not noise)
      def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
      val firstMed = median(wallSec.slice(2, 10).toSeq) // skip 2 warmup triggers
      val lastMed = median(wallSec.takeRight(10).toSeq)
      assert(lastMed <= firstMed * 2.5,
        s"per-trigger wall crept: first-third median $firstMed s, " +
          s"last-10 median $lastMed s " +
          s"(walls: ${wallSec.map(w => f"$w%.2f").mkString(", ")})")

      // bounded footprint: the tail's file count is bounded by the
      // compaction interval (never exceeds interval x files-per-append),
      // not by the stream's lifetime
      val perAppend = tailFilesSeen.take(CompactEvery).max.toDouble / CompactEvery
      assert(tailFilesSeen.max <= (CompactEvery + 2) * math.max(perAppend, 4.0),
        s"tail file count outgrew the compaction cadence: $tailFilesSeen")
    } finally {
      Seq("bands", "shingles", "meta").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS soak_idx_$t"))
    }
  }

}
