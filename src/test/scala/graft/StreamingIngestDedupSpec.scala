package graft

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.operators.DedupIndexStore
import graft.streaming.StreamOps

/** The self-maintaining streaming admission loop: within-batch
  * canonicalize → probe the persisted index → admit survivors → append
  * them, so later batches dedup against earlier ones THROUGH THE STORE
  * (no Spark state). */
class StreamingIngestDedupSpec extends SparkSpec {
  import spark.implicits._

  /** A bucketed standing index `tableBase` holding `corpusText` as doc
    * 100, and an empty ingest tail with the same parameters; returns the
    * tail path. Drop the tables with [[dropIndex]]. */
  private def bucketedIndex(tableBase: String): String = {
    val tail = java.nio.file.Files.createTempDirectory(s"graft_${tableBase}_tail").toString
    DedupIndexStore.buildBucketed(
      Seq((100L, corpusText)).toDF("doc_id", "text"),
      "doc_id", "text", tableBase, 4, k = 2, numHashes = 32, bands = 16)
    DedupIndexStore.initEmpty(spark, tail, k = 2, numHashes = 32, bands = 16)
    tail
  }

  private def dropIndex(tableBase: String): Unit =
    Seq("bands", "shingles", "meta").foreach(t =>
      spark.sql(s"DROP TABLE IF EXISTS ${tableBase}_$t"))

  /** Starts the ingest loop over (doc_id, text) `docs` with a fresh
    * checkpoint; every admitted (batchId, doc_id) is added to `admitted`. */
  private def startIngest(
      docs: org.apache.spark.sql.DataFrame,
      tableBase: String,
      tail: String,
      admitted: scala.collection.mutable.ArrayBuffer[(Long, Long)])
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val ckpt = java.nio.file.Files.createTempDirectory(s"graft_${tableBase}_ckpt").toFile
    ckpt.deleteOnExit()
    StreamOps.streamingIngestDedupBucketed(
      docs, "doc_id", "text", tableBase, tail, ckpt.getAbsolutePath,
      (df, bid) => admitted.synchronized {
        admitted ++= df.select("doc_id").collect().map(r => (bid, r.getLong(0)))
      },
      threshold = 0.2)
  }

  /** Ids of the indexed docs (standing corpus or tail) that `text` near-dups. */
  private def indexHits(tableBase: String, tail: String, text: String): Set[Long] = {
    val probe = Seq((9L, text)).toDF("doc_id", "text")
    (DedupIndexStore.probeBucketed(spark, probe, "doc_id", "text", tableBase,
      threshold = 0.2).select("id_corpus").collect() ++
      DedupIndexStore.probe(spark, probe, "doc_id", "text", tail, threshold = 0.2)
        .select("id_corpus").collect())
      .map(_.getLong(0)).toSet
  }

  private val corpusText = "alpha beta gamma delta epsilon zeta eta theta " +
    "iota kappa lambda mu nu xi omicron pi rho sigma tau upsilon"
  private val freshText = "spark catalyst tungsten codegen shuffle exchange " +
    "partition broadcast executor driver stage task lineage plan optimizer " +
    "pushdown pruning bucketing skew salting"
  private val otherText = "entirely different document discussing parquet " +
    "footers column chunks dictionary encoding page headers statistics " +
    "bloom filters row groups compression codecs"

  test("replayed batch (crash between append and commit) re-admits identically") {
    // ADVICE r10 (high): a foreachBatch restart re-runs a batchId whose
    // first attempt already appended ingest=b0; probing against that
    // partition makes every admitted doc self-match (jaccard 1.0), the
    // admission comes back empty, and the idempotent re-append then
    // overwrites b0 with ZERO rows — silent loss. The probe must exclude
    // the batch's own partition.
    val idx = java.nio.file.Files.createTempDirectory("graft_sid_rp").toString
    DedupIndexStore.build(
      Seq((100L, corpusText)).toDF("doc_id", "text"),
      "doc_id", "text", idx, k = 2, numHashes = 32, bands = 16)
    val batch = Seq(
      (1L, freshText),
      (2L, freshText + " omega"),
      (3L, corpusText + " phi"),
      (5L, otherText)).toDF("doc_id", "text")
    def admit() = StreamOps.admitBatch(
      batch, "doc_id", "text", idx, threshold = 0.2,
      excludeIngest = Some("b0"))
    val first = admit()
    assert(first.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 5L))
    DedupIndexStore.append(first, "doc_id", "text", idx, "b0")
    // -- crash here: append done, streaming commit lost; b0 replays --
    val replay = admit()
    assert(replay.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 5L),
      "replayed admission must equal the first attempt")
    // negative control: WITHOUT the exclusion the replayed probe sees the
    // first attempt's own partition and drops everything — the r10 bug
    val naive = StreamOps.admitBatch(batch, "doc_id", "text", idx, threshold = 0.2)
    assert(naive.select("doc_id").collect().isEmpty,
      "control: un-excluded replay self-matches (the failure this fix pins)")
    DedupIndexStore.append(replay, "doc_id", "text", idx, "b0")
    // index state after replay == state after a single clean run
    val hits = DedupIndexStore.probe(
      spark, Seq((9L, otherText + " extra")).toDF("doc_id", "text"),
      "doc_id", "text", idx, threshold = 0.2)
      .select("id_corpus").collect().map(_.getLong(0)).toSet
    assert(hits == Set(5L), s"post-replay index probe hits: $hits")
  }

  test("bucketed hybrid: first-wins through bucketed corpus + tail; corpus probe exchange-free") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.{ShuffledHashJoinExec, SortMergeJoinExec}
    val tail = java.nio.file.Files.createTempDirectory("graft_sid_tail").toString
    val ckpt = java.nio.file.Files.createTempDirectory("graft_sid_bkt_ckpt").toFile
    ckpt.deleteOnExit()
    try {
      DedupIndexStore.buildBucketed(
        Seq((100L, corpusText)).toDF("doc_id", "text"),
        "doc_id", "text", "sid_idx", 4, k = 2, numHashes = 32, bands = 16)
      DedupIndexStore.initEmpty(spark, tail, k = 2, numHashes = 32, bands = 16)

      // plan shape of a probe round: the standing-corpus side of the
      // candidate join must not shuffle — its scan is hash-placed by the
      // bucketing; only the batch and the small tail pay exchanges
      def assertCorpusSideExchangeFree(label: String): Unit = {
        val prevBroadcast = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        val prevAqe = spark.conf.get("spark.sql.adaptive.enabled", "true")
        try {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          spark.conf.set("spark.sql.adaptive.enabled", "false")
          val probe = StreamOps.admitBatchBucketed(
            Seq((9L, otherText + " extra")).toDF("doc_id", "text"),
            "doc_id", "text", "sid_idx", tail, threshold = 0.2)
          // doc 9 near-dups doc 5 — admitted by the stream, visible only
          // through the store (tail before compaction, folded rows after)
          assert(probe.collect().isEmpty, s"$label: near-dup of 5 must drop")
          val plan = probe.queryExecution.executedPlan
          def leavesOf(p: SparkPlan): Seq[String] = p.collectLeaves().map(_.toString)
          val bandSides = plan.collect {
            case j: SortMergeJoinExec => j
            case j: ShuffledHashJoinExec => j
          }.flatMap(_.children)
            .filter(side => leavesOf(side).exists(_.contains("sid_idx_bands")))
            .filter(side => side.collect {
              case j: SortMergeJoinExec => j
              case j: ShuffledHashJoinExec => j
            }.isEmpty)
          assert(bandSides.nonEmpty, s"$label: no join over sid_idx_bands:\n$plan")
          bandSides.foreach { side =>
            assert(side.collect { case e: ShuffleExchangeExec => e }.isEmpty,
              s"$label: bucketed corpus side shuffles:\n$side")
          }
        } finally {
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBroadcast)
          spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
        }
      }

      val in = MemoryStream[(Long, String)](spark)
      val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = StreamOps.streamingIngestDedupBucketed(
        in.toDF().toDF("doc_id", "text"), "doc_id", "text", "sid_idx", tail,
        ckpt.getAbsolutePath,
        (df, bid) => admitted.synchronized {
          admitted ++= df.select("doc_id").collect().map(r => (bid, r.getLong(0)))
        },
        threshold = 0.2)
      try {
        // batch 0: doc 1 fresh; doc 2 near-dups doc 1 (within-batch,
        // higher id loses); doc 3 near-dups the corpus (index hit)
        in.addData(
          (1L, freshText),
          (2L, freshText + " omega"),
          (3L, corpusText + " phi"))
        q.processAllAvailable()
        assert(admitted.synchronized(admitted.toSet) == Set((0L, 1L)),
          s"batch 0 admissions: ${admitted.toSet}")
        // batch 1: doc 4 near-dups doc 1 — admitted LAST batch, visible
        // only through the tail append; doc 5 is new
        in.addData(
          (4L, freshText + " psi"),
          (5L, otherText))
        q.processAllAvailable()
        assert(admitted.synchronized(admitted.toSet) == Set((0L, 1L), (1L, 5L)),
          s"batch 1 admissions: ${admitted.toSet}")

        assertCorpusSideExchangeFree("pre-compaction")

        // compaction MID-STREAM (VERDICT r11 item 4): fold the tail into
        // the bucketed tables between triggers while the query is live —
        // the maintenance cadence a production ingest runs. Admission
        // decisions must be unchanged across the boundary: docs 1/5 now
        // match via the standing corpus instead of the tail.
        DedupIndexStore.compactTail(spark, "sid_idx", tail, 4)
        assert(!new java.io.File(s"$tail/bands").exists, "tail must be cleared")
        in.addData(
          (6L, otherText + " extra"), // near-dups doc 5 — folded rows
          (7L, "completely novel sentence about database vacuum " +
            "autovacuum analyze statistics planner estimates"))
        q.processAllAvailable()
        assert(admitted.synchronized(admitted.toSet) ==
          Set((0L, 1L), (1L, 5L), (2L, 7L)),
          s"post-compaction batch admissions: ${admitted.toSet}")
      } finally q.stop()

      // the probe after compaction reads the folded rows from the
      // bucketed tables — still exchange-free on the corpus side
      assertCorpusSideExchangeFree("post-compaction")
      val after = StreamOps.admitBatchBucketed(
        Seq((10L, freshText + " chi")).toDF("doc_id", "text"),
        "doc_id", "text", "sid_idx", tail, threshold = 0.2)
        .select("doc_id").collect().map(_.getLong(0)).toSet
      assert(after == Set.empty[Long],
        s"post-compaction: near-dup of doc 1 must still be dropped, got $after")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sid_idx_bands")
      spark.sql("DROP TABLE IF EXISTS sid_idx_shingles")
      spark.sql("DROP TABLE IF EXISTS sid_idx_meta")
    }
  }

  test("all-duplicate batch appends an empty ingest partition without poisoning later probes") {
    // a batch where EVERY doc near-dups the corpus admits nothing; its
    // append writes an empty ingest partition, and the index must stay
    // fully probe-able for the batches after it
    val tail = bucketedIndex("sid_empty_idx")
    try {
      val in = MemoryStream[(Long, String)](spark)
      val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = startIngest(in.toDF().toDF("doc_id", "text"), "sid_empty_idx", tail, admitted)
      try {
        in.addData((1L, corpusText + " phi"), (2L, corpusText + " chi"))
        q.processAllAvailable()
        assert(admitted.synchronized(admitted.isEmpty),
          s"batch 0 must admit nothing: ${admitted.toSet}")
        in.addData((3L, freshText))
        q.processAllAvailable()
        assert(admitted.synchronized(admitted.toSet) == Set((1L, 3L)),
          s"batch 1 admissions after an empty append: ${admitted.toSet}")
      } finally q.stop()
      val hits = indexHits("sid_empty_idx", tail, freshText + " psi")
      assert(hits == Set(3L), s"post-empty-append probe hits: $hits")
    } finally dropIndex("sid_empty_idx")
  }

  test("admission signs each batch exactly once per trigger") {
    // VERDICT r11 item 3: the r11 sign-once refactor (admitSigned caches
    // the banded-signature and shingle tables for the trigger) is pinned
    // by COUNTING evaluations of the batch's text column. Consumers of
    // the raw batch per trigger: the bands signing scan, the shingles
    // signing scan, and the admitted-rows cache build — 3 evaluations
    // per row. The pre-r11 shape (each probe re-signing the batch from
    // text) adds more scans; a future edit that feeds the raw batch to
    // another consumer fails this bound.
    import org.apache.spark.sql.functions.{col, udf}
    val tail = bucketedIndex("sid_cnt_idx")
    try {
      val evals = spark.sparkContext.longAccumulator("text-evals")
      val countedText = udf { s: String => evals.add(1L); s }
      val in = MemoryStream[(Long, String)](spark)
      val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = startIngest(
        in.toDF().toDF("doc_id", "text").withColumn("text", countedText(col("text"))),
        "sid_cnt_idx", tail, admitted)
      try {
        in.addData(
          (1L, freshText),
          (2L, freshText + " omega"),
          (3L, corpusText + " phi"),
          (5L, otherText))
        q.processAllAvailable()
      } finally q.stop()
      assert(evals.value <= 3L * 4,
        s"text evaluated ${evals.value} times for a 4-row batch — " +
          "expected ≤ 12 (bands sign + shingles sign + admitted cache); " +
          "a second signing pass has been reintroduced")
      assert(evals.value >= 2L * 4,
        s"text evaluated only ${evals.value} times — the counting probe " +
          "is no longer wired to the signing path; fix the test")
    } finally dropIndex("sid_cnt_idx")
  }

  test("replay across a compaction boundary re-admits identically (folded lineage)") {
    // ADVICE r11 (medium): stream crashes after appending ingest=bN to
    // the tail but before the streaming commit; compaction runs before
    // the restart and folds bN into the bucketed tables. The replayed
    // batch must still exclude its own rows — now via their ingest
    // lineage in the bucketed tables — or it self-matches, admits
    // nothing, and an idempotent sink overwrites batch N with zero rows.
    val tail = java.nio.file.Files.createTempDirectory("graft_sid_rc").toString
    try {
      DedupIndexStore.buildBucketed(
        Seq((100L, corpusText)).toDF("doc_id", "text"),
        "doc_id", "text", "sidrc_idx", 4, k = 2, numHashes = 32, bands = 16)
      DedupIndexStore.initEmpty(spark, tail, k = 2, numHashes = 32, bands = 16)
      val batch = Seq(
        (1L, freshText),
        (3L, corpusText + " phi"),
        (5L, otherText)).toDF("doc_id", "text")
      val ingestId = "deadbeef_b0"
      def admit(exclude: Option[String]) = StreamOps.admitBatchBucketed(
        batch, "doc_id", "text", "sidrc_idx", tail, threshold = 0.2,
        excludeIngest = exclude)
      val first = admit(Some(ingestId))
      assert(first.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 5L))
      DedupIndexStore.append(first, "doc_id", "text", tail, ingestId)
      // -- crash: append done, commit lost. Maintenance folds the tail --
      DedupIndexStore.compactTail(spark, "sidrc_idx", tail, 4)
      assert(!new java.io.File(s"$tail/bands").exists)
      // replay: its rows now live in the BUCKETED tables, under their id
      val replay = admit(Some(ingestId))
      assert(replay.select("doc_id").collect().map(_.getLong(0)).toSet == Set(1L, 5L),
        "replayed admission must equal the first attempt across the " +
          "compaction boundary")
      // negative control: without the lineage exclusion the replay
      // self-matches against its own folded rows — the seam this pins
      val naive = admit(None)
      assert(naive.select("doc_id").collect().isEmpty,
        "control: un-excluded replay must self-match against folded rows")
      // the replay re-appends to the tail (idempotent path); a second
      // compaction detects the already-folded id and SKIPS it instead of
      // duplicating rows (ADVICE r11: fold/delete fencing)
      DedupIndexStore.append(replay, "doc_id", "text", tail, ingestId)
      val bandRows = spark.table("sidrc_idx_bands").count()
      val shingleRows = spark.table("sidrc_idx_shingles").count()
      DedupIndexStore.compactTail(spark, "sidrc_idx", tail, 4)
      assert(spark.table("sidrc_idx_bands").count() == bandRows,
        "re-compaction of an already-folded ingest must not duplicate band rows")
      assert(spark.table("sidrc_idx_shingles").count() == shingleRows,
        "re-compaction of an already-folded ingest must not duplicate shingle rows")
      assert(!new java.io.File(s"$tail/bands").exists, "tail must be cleared")
      // and the store still answers correctly
      val hits = StreamOps.admitBatchBucketed(
        Seq((9L, otherText + " extra")).toDF("doc_id", "text"),
        "doc_id", "text", "sidrc_idx", tail, threshold = 0.2)
      assert(hits.collect().isEmpty, "near-dup of admitted doc 5 must drop")
    } finally {
      spark.sql("DROP TABLE IF EXISTS sidrc_idx_bands")
      spark.sql("DROP TABLE IF EXISTS sidrc_idx_shingles")
      spark.sql("DROP TABLE IF EXISTS sidrc_idx_meta")
    }
  }

  test("a new stream incarnation over an existing index cannot clobber prior admissions") {
    // ADVICE r11: batchIds restart at 0 under a NEW checkpoint, so bare
    // b<batchId> ingest ids would make the new incarnation's batch 0
    // exclude — then idempotently OVERWRITE — the old incarnation's b0
    // partition. Ingest ids are namespaced by the checkpoint location:
    // the new stream's batch 0 treats the old rows as ordinary corpus.
    val tail = bucketedIndex("sid_inc_idx")
    def runIncarnation(data: Seq[(Long, String)]): Set[(Long, Long)] = {
      val in = MemoryStream[(Long, String)](spark)
      val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = startIngest(in.toDF().toDF("doc_id", "text"), "sid_inc_idx", tail, admitted)
      try {
        in.addData(data: _*)
        q.processAllAvailable()
      } finally q.stop()
      admitted.synchronized(admitted.toSet)
    }
    try {
      // incarnation A: batch 0 admits doc 1
      assert(runIncarnation(Seq((1L, freshText))) == Set((0L, 1L)))
      // incarnation B (fresh checkpoint, batchId 0 again): doc 7 near-dups
      // doc 1 — it must be DROPPED (doc 1's partition is ordinary corpus
      // to this stream, not "its own" b0); doc 8 is fresh
      assert(runIncarnation(Seq((7L, freshText + " psi"), (8L, otherText))) ==
        Set((0L, 8L)))
      // doc 1 must still be in the index — the old partition was not
      // overwritten by the new incarnation's batch 0
      val hits = indexHits("sid_inc_idx", tail, freshText + " chi")
      assert(hits == Set(1L), s"doc 1 must survive the new incarnation: $hits")
    } finally dropIndex("sid_inc_idx")
  }

  test("a foreign bare-id tail partition stays corpus and untouched") {
    // a bare `b0` partition is not this stream's own batch 0 (its ingest
    // ids carry the checkpoint namespace): doc 5 near-dups the partition's
    // doc 50 and drops, doc 1 admits, and the partition stays in place
    val tail = bucketedIndex("sid_foreign_idx")
    try {
      DedupIndexStore.append(
        Seq((50L, otherText + " legacy")).toDF("doc_id", "text"),
        "doc_id", "text", tail, "b0")
      val in = MemoryStream[(Long, String)](spark)
      val admitted = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
      val q = startIngest(in.toDF().toDF("doc_id", "text"), "sid_foreign_idx", tail, admitted)
      val outcome =
        try {
          in.addData((1L, freshText), (3L, corpusText + " phi"), (5L, otherText))
          q.processAllAvailable()
          Right(())
        } catch { case e: Throwable => Left(e) }
        finally q.stop()
      assert(outcome.isRight, s"a foreign partition must not fail the stream: $outcome")
      assert(admitted.synchronized(admitted.toSet) == Set((0L, 1L)),
        s"foreign corpus must dedup normally: $admitted")
      assert(new java.io.File(s"$tail/bands/ingest=b0").exists,
        "the foreign partition must stay untouched")
    } finally dropIndex("sid_foreign_idx")
  }

  test("admitBatch replays the admission rule deterministically in batch") {
    val idx = java.nio.file.Files.createTempDirectory("graft_sid_idx2").toString
    DedupIndexStore.build(
      Seq((100L, corpusText)).toDF("doc_id", "text"),
      "doc_id", "text", idx, k = 2, numHashes = 32, bands = 16)
    val batch = Seq(
      (1L, freshText),
      (2L, freshText + " omega"),
      (3L, corpusText + " phi"),
      (5L, otherText)).toDF("doc_id", "text")
    val out = StreamOps.admitBatch(batch, "doc_id", "text", idx, threshold = 0.2)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(out == Set(1L, 5L), s"admitted: $out")
  }
}
