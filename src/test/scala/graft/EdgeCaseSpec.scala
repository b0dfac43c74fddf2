package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.operators._
import graft.operators.TickOps.WindowConfig

/** Degenerate-input robustness: every operator must handle empty inputs,
  * all-malformed inputs, and empty text without throwing — the conditions
  * a 100 TB run hits in some partition somewhere. */
class EdgeCaseSpec extends SparkSpec {
  import spark.implicits._

  private def emptyTicks: DataFrame =
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      StructType(Seq(
        StructField("symbol", StringType),
        StructField("price", DoubleType),
        StructField("event_time", TimestampType))))

  test("tick pipeline ops on empty input: empty output, no failure") {
    val e = emptyTicks
    assert(TickOps.slidingStats(e, WindowConfig("30s", "30 seconds"), exact = true).count() == 0)
    assert(TickOps.slidingStatsMulti(e, TickOps.defaultWindows, exact = true).count() == 0)
    val stats = TickOps.slidingStats(e, WindowConfig("30s", "30 seconds"))
    assert(TickOps.zscore(TickOps.joinTicksToStats(e, stats)).count() == 0)
    assert(TickOps.explodeWindows(TickOps.nestWindows(stats)).count() == 0)
  }

  test("parseTicks on 100% malformed input: empty, not an exception") {
    val junk = Seq("", "{", "null", "[1,2]", "{\"price\":\"NaNish\"}").toDF("value")
    assert(TickOps.parseTicks(junk).count() == 0)
  }

  test("text ops on pathological documents") {
    val docs = Seq(
      (1L, ""), (2L, "   "), (3L, "\n\t"), (4L, "a"),
      (5L, "x " * 5000) // long repetitive doc
    ).toDF("doc_id", "text")
    val counted = docs.select(
      TextOps.tokenCount(col("text")).as("n"),
      TextOps.bpeTokenCount(col("text")).as("b"),
      TextOps.qualityScore(col("text")).as("q"),
      TextOps.langId(col("text")).as("l"),
      TextOps.fingerprint(col("text")).as("f")).collect()
    assert(counted.length == 5)
    assert(counted.forall(r => r.getAs[Double]("q") >= 0.0 && r.getAs[Double]("q") <= 1.0))
    // dedup stacks accept them too
    assert(Dedup.exactDuplicates(docs, "doc_id", "text").count() == 5)
    assert(Dedup.minhashPairs(docs, "doc_id", "text", k = 3, numHashes = 16,
      bands = 4, threshold = 0.9).collect() != null)
    assert(Dedup.simhashPairs(docs, "doc_id", "text").collect() != null)
  }

  test("round-4 ops on degenerate inputs: empty pairs/batches/vectors, whitespace docs") {
    // star contraction on empty and self-pair-only inputs terminates empty
    // (self-loops are dropped by contract, unlike propagation's (7,7))
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClustersStars(noPairs).count() == 0)
    assert(Dedup.duplicateClustersStars(Seq((7L, 7L)).toDF("id_a", "id_b")).count() == 0)
    // incremental dedup with an empty batch or empty corpus pairs nothing
    val docs = Seq((1L, "a b c d"), (2L, "a b c d")).toDF("doc_id", "text")
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.minhashPairsAgainst(noDocs, docs, "doc_id", "text", k = 2).count() == 0)
    assert(Dedup.minhashPairsAgainst(docs, noDocs, "doc_id", "text", k = 2).count() == 0)
    // chunking: whitespace-only corpus chunks to nothing; bad params throw
    assert(TextOps.chunkByTokens(Seq((1L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text", 4, 2).count() == 0)
    assertThrows[IllegalArgumentException] {
      TextOps.chunkByTokens(docs, "doc_id", "text", 4, 0)
    }
    // centroids of an empty frame: empty, correct schema
    val noVecs = Seq.empty[(Int, Array[Float])].toDF("label", "embedding")
    assert(Similarity.centroids(noVecs, col("label"), col("embedding")).count() == 0)
    // quantization of an empty vector: scale 0, zero-length codes
    val emptyVec = Seq((1L, Array.empty[Float])).toDF("vec_id", "embedding")
    val qr = Similarity.quantizeInt8(emptyVec, "embedding").collect().head
    assert(qr.getDouble(2) == 0.0 && qr.getSeq[Int](3).isEmpty)
    // int8 cosine against a zero-norm code vector is 0.0, not NaN
    val z = Seq((Array(1, 2, 3), Array(0, 0, 0))).toDF("a", "b")
      .select(graft.functions.GraftFunctions.cosine_int8(col("a"), col("b")).as("c"))
    assert(z.collect().head.getDouble(0) == 0.0)
  }

  test("round-3 ops on degenerate inputs: empty pair sets, empty benchmark, empty docs") {
    // clustering an empty pair set terminates immediately with no labels
    val noPairs = Seq.empty[(Long, Long)].toDF("id_a", "id_b")
    assert(Dedup.duplicateClusters(noPairs).count() == 0)
    // a single self-pair must not loop or emit a bogus second node
    assert(Dedup.duplicateClusters(Seq((7L, 7L)).toDF("id_a", "id_b"))
      .collect().toSeq == Seq(org.apache.spark.sql.Row(7L, 7L)))

    val docs = Seq((1L, ""), (2L, "a b c"), (3L, "a b c d e f g h")).toDF("doc_id", "text")
    // benchFilter matching nothing → bench gram set empty → contamination 0 everywhere
    val cont = TextOps.contamination(docs, "doc_id", "text",
      benchFilter = lit(false), k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(cont.size == 3 && cont.values.forall(_ == 0.0))
    // benchFilter matching everything → nothing left to score
    assert(TextOps.contamination(docs, "doc_id", "text",
      benchFilter = lit(true), k = 3).count() == 0)
    // two token-empty docs share the sentinel gram: a bench-side empty
    // contaminates a corpus-side empty, mirroring the string
    // formulation's shared "" gram
    val empties = Seq((10L, ""), (11L, "   ")).toDF("doc_id", "text")
    val ec = TextOps.contamination(empties, "doc_id", "text",
      benchFilter = col("doc_id") === 10L, k = 3)
      .collect().map(r => r.getLong(0) -> r.getDouble(3)).toMap
    assert(ec == Map(11L -> 1.0))
    // repetition/redaction over empty text
    assert(TextOps.repetitionStats(docs, "doc_id", "text").count() == 3)
    assert(docs.select(TextOps.redactPii(col("text"))).count() == 3)

    // IVF with more requested cells than corpus rows must still answer
    val vecs = Seq((1L, Array(1.0f, 0.0f)), (2L, Array(0.0f, 1.0f)),
      (3L, Array(1.0f, 1.0f))).toDF("vec_id", "embedding")
    val ivf = Similarity.ivfTopK(vecs, "vec_id", "embedding",
      vecs.limit(1), "vec_id", "embedding", k = 2, nlist = 8, nprobe = 8)
    assert(ivf.count() == 2)
  }

  test("similarity ops on empty and degenerate vectors") {
    val vecs = Seq(
      (1L, Array.empty[Float]),
      (2L, Array(0.0f, 0.0f)),
      (3L, Array(1.0f, 2.0f))).toDF("vec_id", "embedding")
    val out = vecs.crossJoin(vecs.select(col("vec_id").as("b"), col("embedding").as("e2")))
      .select(Similarity.cosine(col("embedding"), col("e2")).as("c")).collect()
    assert(out.forall(r => !r.getDouble(0).isNaN))
    val topk = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs.limit(1), "vec_id", "embedding", 2)
    assert(topk.count() == 2)
  }

  test("time-series ops on empty and single-row series") {
    val empty = Seq.empty[(String, java.sql.Timestamp, Long, Double)]
      .toDF("symbol", "ts", "event_id", "price")
    assert(TimeSeriesOps.tickDerivatives(empty, "ts", "event_id").count() == 0)
    assert(TimeSeriesOps.madOutliers(empty, "event_id").count() == 0)
    val emptyE = Seq.empty[(String, Long, Long, Double)]
      .toDF("symbol", "ts_ms", "tie", "price")
    assert(TimeSeriesOps.ewmaBySymbol(emptyE, 0.25).count() == 0)
    // single row: no return, zero drawdown, MAD 0 with zero outliers,
    // EWMA = the value itself
    val one = Seq(("A", new java.sql.Timestamp(1000L), 1L, 5.0))
      .toDF("symbol", "ts", "event_id", "price")
    val d = TimeSeriesOps.tickDerivatives(one, "ts", "event_id").collect().head
    assert(d.isNullAt(d.fieldIndex("ret")) && d.getAs[Double]("drawdown") == 0.0)
    val m = TimeSeriesOps.madOutliers(one, "event_id").collect().head
    assert(m.getAs[Double]("mad") == 0.0 && m.getAs[Long]("n_outliers") == 0L)
    val e1 = TimeSeriesOps.ewmaBySymbol(
      Seq(("A", 1L, 1L, 5.0)).toDF("symbol", "ts_ms", "tie", "price"), 0.25)
      .collect().head
    assert(e1.getDouble(2) == 5.0)
  }

  test("bloom semi join with an empty dim side rejects every fact row") {
    val fact = (0L until 100L).map(Tuple1(_)).toDF("k")
    val dim = Seq.empty[Tuple1[Long]].toDF("dk")
    assert(Joins.bloomSemiJoin(fact, dim, "k", "dk").count() == 0)
  }

  test("media header parse on empty payloads via the expression path") {
    val parsed = Seq(Tuple1(Array.empty[Byte]), Tuple1(Array[Byte](1, 2, 3)))
      .toDF("payload")
      .select(graft.functions.GraftFunctions.media_meta(col("payload")).as("m"))
      .select(col("m.format")).collect().map(_.getString(0))
    assert(parsed.toSeq == Seq("unknown", "unknown"))
  }

  test("round-5 ops on degenerate inputs: empty tables, short docs, flat groups") {
    val emptyDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(emptyDocs, "doc_id", "text").count() == 0)
    assert(Dedup.sharedWindowPairs(emptyDocs, "doc_id", "text").count() == 0)
    // docs shorter than the window: filtered, not a slice error
    val shorts = Seq((1L, "one two"), (2L, "one two")).toDF("doc_id", "text")
    assert(Dedup.sharedWindowPairs(shorts, "doc_id", "text", w = 10).count() == 0)

    val emptyLog = Seq.empty[(Long, String, Long, Long, Double)]
      .toDF("user_id", "event_type", "ts", "event_id", "value")
    assert(Compaction.latestSnapshot(
      emptyLog, Seq("user_id", "event_type"), "ts", "event_id").count() == 0)

    val emptyKeyed = Seq.empty[Tuple1[Long]].toDF("k")
    assert(Sampling.weightedHashSample(emptyKeyed, col("k"), lit(0.5)).count() == 0)

    // groupedCumSum: empty input (null bounds path) and a single-value
    // order column (span 1 — every row lands in bucket 0)
    val emptyPack = Seq.empty[(String, Long, Long)].toDF("lang", "id", "tok")
    assert(Packing.groupedCumSum(emptyPack, "lang", Seq("id"), "tok", "cum").count() == 0)
    val flat = Seq(("en", 7L, 5L), ("en", 7L, 3L)).toDF("lang", "id", "tok")
    val cums = Packing.groupedCumSum(flat, "lang", Seq("id"), "tok", "cum")
      .select("cum").collect().map(_.getLong(0)).sorted
    assert(cums.last == 8L, "ties co-locate and the running sum still totals")
  }

  test("round-5 null robustness: null groups/keys survive like the window forms they replace") {
    // groupedCumSum: null group is a legal partition; null order value
    // sorts first (nulls-first, the window convention) — neither drops
    val withNulls = Seq(
      (Some("en"), Some(2L), 10L), (Some("en"), Some(5L), 20L),
      (None: Option[String], Some(1L), 7L), (None: Option[String], Some(3L), 9L),
      (Some("en"), None: Option[Long], 1L) // null order → before id 2
    ).toDF("lang", "id", "tok")
    val out = Packing.groupedCumSum(withNulls, "lang", Seq("id"), "tok", "cum")
      .collect().map(r => (Option(r.get(0)), Option(r.get(1)), r.getLong(3))).toSet
    assert(out.size == 5, s"no row may vanish: $out")
    assert(out.contains((Some("en"), None, 1L)), "null order value ranks first")
    assert(out.contains((Some("en"), Some(2L), 11L)) && out.contains((Some("en"), Some(5L), 31L)))
    assert(out.contains((None, Some(1L), 7L)) && out.contains((None, Some(3L), 16L)))

    // groupedCumSum: full-range long order column must not overflow
    val extremes = Seq(("g", Long.MinValue + 1, 1L), ("g", 0L, 2L), ("g", Long.MaxValue - 1, 3L))
      .toDF("lang", "id", "tok")
    val ecums = Packing.groupedCumSum(extremes, "lang", Seq("id"), "tok", "cum")
      .orderBy("id").collect().map(_.getLong(3)).toSeq
    assert(ecums == Seq(1L, 3L, 6L), s"extreme-range buckets stayed monotone: $ecums")

    // exactMedian: a null symbol group gets a median, not an exception
    val series = (1 to 50).flatMap(i =>
      Seq((Some("a"), i.toDouble, i.toLong), (None: Option[String], (i * 2).toDouble, i.toLong)))
      .toDF("sym", "v", "t")
    val med = TimeSeriesOps.exactMedian(series, "sym", "v", "t",
        buckets = 8, resolveLimit = 8)
      .collect().map(r => Option(r.get(0)) -> r.getDouble(2)).toMap
    assert(med(Some("a")) == 25.5 && med(None) == 51.0, s"got $med")

    // shuffleRank: a null key ranks first instead of a driver NPE
    val keys = Seq(Some("b"), Some("a"), None).toDF("k")
    val ranks = Sampling.shuffleRank(keys, col("k"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1)).toMap
    assert(ranks.values.toSet == Set(1L, 2L, 3L) && ranks(None) == 1L, s"got $ranks")
  }

  test("round-8 ops on degenerate inputs: containment, sorted-merge intersection") {
    // containment on empty / single-doc / all-blank corpora: no pairs,
    // no exception (blank docs have NO shingles, so no self-pairing)
    val noDocs = Seq.empty[(Long, String)].toDF("doc_id", "text")
    assert(Dedup.containmentEdges(noDocs, "doc_id", "text").count() == 0)
    assert(Dedup.containmentEdges(
      Seq((1L, "only one document here")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
    assert(Dedup.containmentEdges(
      Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text"),
      "doc_id", "text").count() == 0)
    // identical docs: containment 1.0 both ways, inter == both sizes
    val twins = Seq((1L, "a b c d e f"), (2L, "a b c d e f")).toDF("doc_id", "text")
    val t = Dedup.containmentEdges(twins, "doc_id", "text").collect()
    assert(t.length == 1)
    assert(t.head.getAs[Long]("inter") == t.head.getAs[Long]("size_a") &&
      t.head.getAs[Double]("cont_a_in_b") == 1.0 &&
      t.head.getAs[Double]("cont_b_in_a") == 1.0)
    // the intersection kernel: empty vs non-empty → 0; disjoint → 0;
    // identical → full size (sorted inputs by contract)
    val arr = Seq(
      (Array.empty[Long], Array(1L, 2L, 3L)),
      (Array(1L, 3L, 5L), Array(2L, 4L, 6L)),
      (Array(1L, 2L, 3L), Array(1L, 2L, 3L)),
      (Array(1L, 5L, 9L), Array(5L, 9L, 11L))).toDF("a", "b")
      .select(graft.functions.GraftFunctions.intersect_sorted(col("a"), col("b")).as("i"))
      .collect().map(_.getInt(0)).toSeq
    assert(arr == Seq(0, 0, 3, 2), s"got $arr")
  }
}
