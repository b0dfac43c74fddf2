package graft

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, DedupIndexStore}

/** The persisted dedup-index lifecycle: a probe against a built index
  * must return EXACTLY the pair set of the from-raw-text
  * `minhashPairsAgainst`, and the bucketed variant must do so without
  * shuffling the corpus side of the candidate join. */
class DedupIndexSpec extends SparkSpec {

  private def docs = spark.read.parquet(s"${sf()}/documents.parquet")
  private def batch = docs.filter(col("doc_id") % 10 === 0)
  private def corpus = docs.filter(col("doc_id") % 10 =!= 0)

  private def pairSet(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Double)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet

  test("probe against a persisted index equals minhashPairsAgainst exactly") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-index").toString
    DedupIndexStore.build(corpus, "doc_id", "text", dir,
      k = 2, numHashes = 32, bands = 16)
    val probed = pairSet(DedupIndexStore.probe(
      spark, batch, "doc_id", "text", dir, threshold = 0.2))
    val direct = pairSet(Dedup.minhashPairsAgainst(
      batch, corpus, "doc_id", "text",
      k = 2, numHashes = 32, bands = 16, threshold = 0.2))
    assert(direct.nonEmpty, "degenerate fixture: no near-dup pairs at all")
    assert(probed == direct)
  }

  test("probe derives k/numHashes/bands from the stored meta, not the caller") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-index-meta").toString
    // non-default parameters at build time; probe takes none of them
    DedupIndexStore.build(corpus, "doc_id", "text", dir,
      k = 3, numHashes = 16, bands = 8)
    val probed = pairSet(DedupIndexStore.probe(
      spark, batch, "doc_id", "text", dir, threshold = 0.2))
    val direct = pairSet(Dedup.minhashPairsAgainst(
      batch, corpus, "doc_id", "text",
      k = 3, numHashes = 16, bands = 8, threshold = 0.2))
    assert(probed == direct)
  }

  test("append-only maintenance: probe after append equals rebuild from scratch") {
    // stand up the index on 60% of the corpus, then append the other 40%
    val part1 = corpus.filter(col("doc_id") % 5 < 3)
    val part2 = corpus.filter(col("doc_id") % 5 >= 3)
    val dir = java.nio.file.Files.createTempDirectory("dedup-index-app").toString
    DedupIndexStore.build(part1, "doc_id", "text", dir,
      k = 2, numHashes = 32, bands = 16)
    DedupIndexStore.append(part2, "doc_id", "text", dir, "day1")
    // a replayed ingest must OVERWRITE its own partition, not duplicate
    // rows — re-run the same append before probing
    DedupIndexStore.append(part2, "doc_id", "text", dir, "day1")
    val appendedDf = DedupIndexStore.probe(
      spark, batch, "doc_id", "text", dir, threshold = 0.2)
    val appendedRows = appendedDf.collect()
    val appended = appendedRows.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    val direct = pairSet(Dedup.minhashPairsAgainst(
      batch, corpus, "doc_id", "text",
      k = 2, numHashes = 32, bands = 16, threshold = 0.2))
    assert(appended == direct)
    // replay really overwrote: no duplicate output rows from doubled
    // index rows (a Set compare alone would hide them)
    assert(appendedRows.length == appended.size)
    // the cap must see CURRENT bucket sizes (build + append merged): a
    // cap of 1 over the appended index must equal the direct cap of 1
    val appendedCapped = pairSet(DedupIndexStore.probe(
      spark, batch, "doc_id", "text", dir, threshold = 0.2, maxBucket = 1))
    val directCapped = pairSet(Dedup.minhashPairsAgainst(
      batch, corpus, "doc_id", "text",
      k = 2, numHashes = 32, bands = 16, threshold = 0.2, maxBucket = 1))
    assert(appendedCapped == directCapped)
  }

  test("probe maxBucket caps stored degenerate buckets like the direct path") {
    val dir = java.nio.file.Files.createTempDirectory("dedup-index-cap").toString
    DedupIndexStore.build(corpus, "doc_id", "text", dir,
      k = 2, numHashes = 32, bands = 16)
    // cap of 1 drops every bucket shared by 2+ corpus docs; both paths
    // must lose the same candidates
    val probed = pairSet(DedupIndexStore.probe(
      spark, batch, "doc_id", "text", dir, threshold = 0.2, maxBucket = 1))
    val direct = pairSet(Dedup.minhashPairsAgainst(
      batch, corpus, "doc_id", "text",
      k = 2, numHashes = 32, bands = 16, threshold = 0.2, maxBucket = 1))
    assert(probed == direct)
  }

  test("bucketed probe: corpus side of the candidate join is exchange-free") {
    val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
    try {
      // force a shuffle-shaped join (tiny test tables would broadcast,
      // which hides the co-located-bucket property this test pins) and a
      // static plan (AQE wrapping hides child exchanges from the walk)
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      DedupIndexStore.buildBucketed(corpus, "doc_id", "text", "dedup_idx", 8,
        k = 2, numHashes = 32, bands = 16)
      val probed = DedupIndexStore.probeBucketed(
        spark, batch, "doc_id", "text", "dedup_idx", threshold = 0.2)

      // the join whose subtree scans the _bands table must not shuffle
      // that subtree: its scan is already hash-placed by the bucketing
      val plan = probed.queryExecution.executedPlan
      def leavesOf(p: SparkPlan): Seq[String] = p.collectLeaves().map(_.toString)
      val joins = plan.collect {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      // the candidate join's corpus side: the join child whose leaves
      // include the bands scan DIRECTLY (no nested join in between —
      // downstream verify joins contain the whole candidate pipeline)
      val bandSides = joins.flatMap(j => j.children)
        .filter(side => leavesOf(side).exists(_.contains("dedup_idx_bands")))
        .filter(side => side.collect {
          case j: SortMergeJoinExec => j
          case j: ShuffledHashJoinExec => j
        }.isEmpty)
      assert(bandSides.nonEmpty, s"no join over the bands table found:\n$plan")
      bandSides.foreach { side =>
        val shuffles = side.collect { case e: ShuffleExchangeExec => e }
        assert(shuffles.isEmpty, s"bucketed corpus side still shuffles:\n$side")
      }

      // and the answer is still exactly the direct pairing
      val direct = pairSet(Dedup.minhashPairsAgainst(
        batch, corpus, "doc_id", "text",
        k = 2, numHashes = 32, bands = 16, threshold = 0.2))
      assert(pairSet(probed) == direct)

      // the ingest loop's maintenance path: rows appended to a path-layout
      // tail and folded in by compactTail land as extra per-bucket files;
      // the probe is still exact and the corpus side still exchange-free
      spark.sql("DROP TABLE IF EXISTS dedup_idx2_bands")
      spark.sql("DROP TABLE IF EXISTS dedup_idx2_shingles")
      spark.sql("DROP TABLE IF EXISTS dedup_idx2_meta")
      DedupIndexStore.buildBucketed(
        corpus.filter(col("doc_id") % 5 < 3), "doc_id", "text", "dedup_idx2", 8,
        k = 2, numHashes = 32, bands = 16)
      val tail = java.nio.file.Files.createTempDirectory("dedup-idx2-tail").toString
      DedupIndexStore.initEmpty(spark, tail, k = 2, numHashes = 32, bands = 16)
      DedupIndexStore.append(
        corpus.filter(col("doc_id") % 5 >= 3), "doc_id", "text", tail,
        ingestId = "idx2_b0")
      DedupIndexStore.compactTail(spark, "dedup_idx2", tail, 8)
      assert(spark.table("dedup_idx2_bands")
        .filter(col("ingest") === "idx2_b0").count() > 0,
        "the tail's rows did not fold into the bucketed bands table")
      val probed2 = DedupIndexStore.probeBucketed(
        spark, batch, "doc_id", "text", "dedup_idx2", threshold = 0.2)
      val joins2 = probed2.queryExecution.executedPlan.collect {
        case j: SortMergeJoinExec => j
        case j: ShuffledHashJoinExec => j
      }
      val bandSides2 = joins2.flatMap(_.children)
        .filter(side => leavesOf(side).exists(_.contains("dedup_idx2_bands")))
        .filter(side => side.collect {
          case j: SortMergeJoinExec => j
          case j: ShuffledHashJoinExec => j
        }.isEmpty)
      assert(bandSides2.nonEmpty)
      bandSides2.foreach { side =>
        assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"folded bucketed corpus side shuffles:\n$side")
      }
      assert(pairSet(probed2) == direct)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.sql("DROP TABLE IF EXISTS dedup_idx_bands")
      spark.sql("DROP TABLE IF EXISTS dedup_idx_shingles")
      spark.sql("DROP TABLE IF EXISTS dedup_idx_meta")
      spark.sql("DROP TABLE IF EXISTS dedup_idx2_bands")
      spark.sql("DROP TABLE IF EXISTS dedup_idx2_shingles")
      spark.sql("DROP TABLE IF EXISTS dedup_idx2_meta")
    }
  }
}
