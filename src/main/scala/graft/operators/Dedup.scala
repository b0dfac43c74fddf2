package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Deduplication operators for a large-scale training-data pipeline:
  * exact, MinHash+LSH, SimHash, n-gram Jaccard, and embedding-cosine
  * near-dup.
  *
  * Scale design: every variant is a bounded number of shuffles keyed by a
  * content-derived bucket (hash, band, sketch prefix), never an all-pairs
  * comparison. Candidate generation happens in the bucket join; the exact
  * verification metric (Jaccard / cosine) runs only on bucket-mates.
  * Oversized buckets (degenerate content) are capped and reported rather
  * than allowed to quadratically explode a task.
  */
object Dedup {

  /** Exact dedup: canonical keeper = lowest id per identical text.
    * One hash-shuffle; comparing 128-bit md5 instead of full text keeps
    * shuffle rows small at 100 TB (collision probability negligible). */
  def exactDuplicates(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val w = Window.partitionBy(col("content_hash")).orderBy(col(idCol))
    docs
      .withColumn("content_hash", md5(col(textCol)))
      .withColumn("dup_rank", row_number().over(w))
      .withColumn("is_duplicate", col("dup_rank") > 1)
      .select(col(idCol), col("content_hash"), col("dup_rank"), col("is_duplicate"))
  }

  /** Word k-shingles (distinct) over an already-selected token column
    * (referenced by name so the expression tree stays parseable). */
  def shingles(tokensColName: String, k: Int): Column =
    array_distinct(shinglesAll(tokensColName, k))

  /** Word k-shingles keeping duplicates — the multiset variant, for
    * within-document repetition measurement where the duplicate count IS
    * the signal. */
  def shinglesAll(tokensColName: String, k: Int): Column = expr(
    s"""CASE WHEN size($tokensColName) < $k
       |  THEN array(array_join($tokensColName, ' '))
       |  ELSE transform(sequence(0, size($tokensColName) - $k),
       |                 i -> array_join(slice($tokensColName, i + 1, $k), ' '))
       |END""".stripMargin)

  /** MinHash signature: numHashes universal hash functions over shingle
    * hashes, computed in one fused codegen'd pass
    * ([[graft.functions.MinHashSignature]]) — numHashes×shingles
    * multiply-adds per row in a single JVM loop instead of numHashes
    * interpreted array traversals. Deterministic constants → identical
    * signatures on any cluster size. */
  def minhashSignature(shinglesCol: String, numHashes: Int): Column =
    GraftFunctions.minhash_signature(col(shinglesCol), numHashes)

  /** MinHash + LSH banding: signature → (band, hash-of-band-slice) keys →
    * bucket join → candidate pairs → exact Jaccard verification on the
    * shingle sets. Output: (id_a, id_b, jaccard) with id_a < id_b and
    * jaccard ≥ threshold.
    *
    * `maxBucket` caps degenerate buckets (boilerplate-heavy corpora) so no
    * single task goes quadratic; capped buckets are dropped, trading
    * recall for bounded latency — standard practice at web scale.
    */
  def minhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame =
    // Signatures come straight from tokens (fused kernel, no shingle
    // strings); exact shingle sets are materialized only for the few
    // verify-stage survivors inside the pairing tail.
    minhashPairsFromSigned(
      bandedSignatures(docs, idCol, textCol, k, numHashes, bands),
      shingleHashTable(docs, idCol, textCol, k, "doc_id"),
      threshold, maxBucket)

  /** [[minhashPairs]] over PRE-SIGNED inputs: `banded` is
    * [[bandedSignatures]] output, `shingles` is
    * [[shingleHashTable]](docs, …, "doc_id") output. For callers that
    * consume the SAME batch signatures more than once per job — the
    * streaming admission loop pairs within the batch AND probes the
    * bucketed standing index and the ingest tail every trigger, and
    * signing is the dominant batch-side CPU — so it signs once, persists
    * for the trigger, and routes every consumer through the signed
    * variants ([[graft.streaming.StreamOps.streamingIngestDedupBucketed]]).
    * Identical output to [[minhashPairs]]. */
  private[graft] def minhashPairsFromSigned(
      banded: DataFrame,
      shingles: DataFrame,
      threshold: Double,
      maxBucket: Int): DataFrame = {
    // bucket size cap: degenerate buckets would go quadratic in one task
    val sized = banded
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("band", "band_hash")))
      .filter(col("bucket_n") <= maxBucket)
    val a = sized.select(col("band"), col("band_hash"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
    val b = sized.select(col("band"), col("band_hash"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
    // Two-stage verify: the O(numHashes) signature-overlap estimate
    // prunes the candidate mass cheaply (margin = τ/2 keeps recall of
    // borderline-τ pairs ≳ 90% at 32 hashes); only survivors pay the
    // exact set-Jaccard — computed over sorted 64-bit shingle hashes
    // (8 bytes/shingle, linear-merge kernel) instead of shuffling and
    // intersecting shingle string arrays.
    val candidates = a.join(b, Seq("band", "band_hash"))
      .filter(col("id_a") < col("id_b"))
      .filter(GraftFunctions.sig_overlap(col("sig_a"), col("sig_b")) >= threshold / 2)
      .select(col("id_a"), col("id_b"))
      .distinct()
    val sh = shingles.select(col("doc_id").as("jid"), col("sh_doc_id").as("jsh"))
    candidates
      .join(sh.select(col("jid").as("id_a"), col("jsh").as("sh_a")), Seq("id_a"))
      .join(sh.select(col("jid").as("id_b"), col("jsh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.jaccard_sorted(col("sh_a"), col("sh_b")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Incremental MinHash+LSH dedup: near-dup pairs between a NEW batch and
    * an EXISTING corpus — the daily-ingest shape, where re-pairing the
    * whole corpus against itself (minhashPairs) would redo work that can
    * never change. Bands of the new batch equi-join bands of the corpus;
    * within-batch and within-corpus pairs are never generated, so cost is
    * proportional to the batch, not the corpus. At production scale the
    * corpus side's banded signatures are computed once and persisted
    * (they're pure functions of the text); only the probe join reruns.
    *
    * Same two-stage verify as [[minhashPairs]]; `maxBucket` caps
    * degenerate CORPUS buckets (a boilerplate bucket with millions of
    * corpus members would otherwise fan every new doc out by millions).
    * Output: (id_new, id_corpus, jaccard) with jaccard ≥ threshold. */
  def minhashPairsAgainst(
      newDocs: DataFrame,
      corpus: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      numHashes: Int = 32,
      bands: Int = 8,
      threshold: Double = 0.5,
      maxBucket: Int = 1000): DataFrame = {
    val corpusBands = bandedSignatures(corpus, idCol, textCol, k, numHashes, bands)
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("band", "band_hash")))
      .filter(col("bucket_n") <= maxBucket)
      .select(col("band"), col("band_hash"), col("doc_id").as("id_corpus"), col("sig").as("sig_c"))
    val newBands = bandedSignatures(newDocs, idCol, textCol, k, numHashes, bands)
      .select(col("band"), col("band_hash"), col("doc_id").as("id_new"), col("sig").as("sig_n"))
    val candidates = newBands.join(corpusBands, Seq("band", "band_hash"))
      .filter(GraftFunctions.sig_overlap(col("sig_n"), col("sig_c")) >= threshold / 2)
      .select(col("id_new"), col("id_corpus"))
      .distinct()
    candidates
      .join(shingleHashTable(newDocs, idCol, textCol, k, "id_new"), Seq("id_new"))
      .join(shingleHashTable(corpus, idCol, textCol, k, "id_corpus"), Seq("id_corpus"))
      .select(col("id_new"), col("id_corpus"),
        GraftFunctions.jaccard_sorted(col("sh_id_new"), col("sh_id_corpus")).as("jaccard"))
      .filter(col("jaccard") >= threshold)
  }

  /** Banded MinHash signature rows (doc_id, sig, band, band_hash) — the
    * LSH key table. A pure per-row function of the text, which makes it
    * the natural PERSISTED artifact of a standing corpus: compute once,
    * store next to the data, and every later probe joins against the
    * stored table instead of re-signing the corpus
    * ([[DedupIndexStore]]). */
  private[graft] def bandedSignatures(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      numHashes: Int,
      bands: Int): DataFrame = {
    val rows = numHashes / bands
    docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
      .filter(size(col("toks")) > 0)
      .withColumn("sig", GraftFunctions.minhash_from_tokens(col("toks"), k, numHashes))
      .select(col("doc_id"), col("sig"),
        posexplode(expr(
          s"transform(sequence(0, ${bands - 1}), b -> xxhash64(array_join(slice(sig, b * $rows + 1, $rows), ',')))"))
          .as(Seq("band", "band_hash")))
  }

  /** Exact k-shingle hash sets per doc, id aliased to `as` and the set
    * column to `sh_<as>` — the verify-stage side table shared by
    * [[minhashPairsAgainst]] and [[DedupIndexStore]]. */
  private[graft] def shingleHashTable(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      as: String): DataFrame = docs
    .select(col(idCol).as(as), TextOps.tokens(col(textCol)).as("jtoks"))
    .select(col(as), GraftFunctions.shingle_hashes(col("jtoks"), k).as(s"sh_$as"))

  /** SimHash near-dup: 64-bit sketch (custom expression), bucketed by the
    * four 16-bit sketch quarters — any pair within Hamming distance ≤ 3
    * shares at least one exact quarter (pigeonhole), so candidate
    * generation is 4 equi-joins, not an all-pairs scan.
    *
    * `maxBucket` caps degenerate quarter-buckets the same way
    * [[minhashPairs]] caps band buckets: boilerplate corpora collide
    * whole 16-bit quarters, and an uncapped bucket of m docs puts m²/2
    * candidate pairs through one task. Capped buckets are dropped
    * (bounded latency over recall — a pair sharing another, smaller
    * quarter still surfaces). */
  def simhashPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    val sketched = docs.select(
      col(idCol).as("doc_id"),
      GraftFunctions.simhash64(TextOps.tokens(col(textCol))).as("sketch"))
    val quartered = sketched.select(
      col("doc_id"), col("sketch"),
      posexplode(expr(
        "transform(sequence(0, 3), q -> (sketch >> (q * 16)) & 65535)"))
        .as(Seq("q", "qhash")))
      .withColumn("bucket_n", count(lit(1)).over(Window.partitionBy("q", "qhash")))
      .filter(col("bucket_n") <= maxBucket)
    val a = quartered.select(col("q"), col("qhash"), col("doc_id").as("id_a"), col("sketch").as("sk_a"))
    val b = quartered.select(col("q"), col("qhash"), col("doc_id").as("id_b"), col("sketch").as("sk_b"))
    a.join(b, Seq("q", "qhash"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        expr("bit_count(sk_a ^ sk_b)").as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact near-dup edges from a document-frequency-capped shared-shingle
    * inverted index: pairs sharing at least one "rare" k-shingle
    * (2 ≤ df ≤ maxDf), verified by exact Jaccard over the full distinct
    * shingle sets. Output: (id_a, id_b) with id_a < id_b.
    *
    * Two properties motivate this beside the sketch-based generators:
    *  - EXACT and engine-portable: every step is counting arithmetic on
    *    shingle strings — no hash kernels — so an independent engine
    *    (the DuckDB oracle) reproduces the edge set bit-for-bit, which
    *    makes downstream connected components oracle-checkable
    *    end-to-end (q73/q74).
    *  - Scale-bounded WITHOUT sketching: the df cap bounds the inverted
    *    index fan-out at maxDf²/2 candidate pairs per shingle, and drops
    *    exactly the ubiquitous boilerplate shingles that would connect
    *    everything (the same degenerate mass minhashPairs' maxBucket
    *    discards — here the drop is part of the operator's definition,
    *    so the oracle mirrors it instead of diverging on it).
    * The verify join ships distinct shingle-string sets for candidate
    * rows only — candidates, not the corpus, pay the wide-row cost. */
  def jaccardEdges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      maxDf: Int = 20,
      threshold: Double = 0.5): DataFrame = {
    val (sh, cand) = hashedGramCandidates(docs, idCol, textCol, k, maxDf, minTokens = 0)
    val pairs = cand.select(col("gh"), col("doc_id").as("id_a"))
      .join(cand.select(col("gh"), col("doc_id").as("id_b")), Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      // exact set Jaccard over the sorted hash arrays (linear merge, one
      // IEEE divide) — reproduces in any engine on the same gram sets
      .filter(GraftFunctions.jaccard_sorted(col("hs_a"), col("hs_b")) >= threshold)
      .select(col("id_a"), col("id_b"))
  }

  /** Asymmetric near-dup: Broder CONTAINMENT C(A→B) = |A∩B| / |A| over
    * distinct k-shingle sets — the measure that catches a small document
    * quoted whole inside a large one, a pair symmetric Jaccard scores
    * near |A|/|B| and misses by design. Same rare-gram inverted-index
    * candidate generation as [[jaccardEdges]] (df ∈ [2, maxDf] bounds
    * fan-out at maxDf²/2 pairs per shingle); the verify step computes
    * the exact intersection count with one linear merge over the sorted
    * hash sets ([[graft.functions.IntersectSorted]], codegen'd) and
    * keeps pairs where EITHER direction's containment clears the
    * threshold. Output (id_a, id_b, inter, size_a, size_b, cont_a_in_b,
    * cont_b_in_a) — integer counts + two IEEE divides, hash-exact
    * cross-engine. (SURVEY §2 LLM-pipeline extension; measure from
    * Broder, "On the resemblance and containment of documents", 1997.) */
  def containmentEdges(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      maxDf: Int = 20,
      threshold: Double = 0.8): DataFrame = {
    val (sh, cand) = hashedGramCandidates(docs, idCol, textCol, k, maxDf, minTokens = 0)
    val pairs = cand.select(col("gh"), col("doc_id").as("id_a"))
      .join(cand.select(col("gh"), col("doc_id").as("id_b")), Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b")).distinct()
    pairs
      .join(sh.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
      .join(sh.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.intersect_sorted(col("hs_a"), col("hs_b"))
          .cast("long").as("inter"),
        size(col("hs_a")).cast("long").as("size_a"),
        size(col("hs_b")).cast("long").as("size_b"))
      .withColumn("cont_a_in_b",
        col("inter").cast("double") / col("size_a").cast("double"))
      .withColumn("cont_b_in_a",
        col("inter").cast("double") / col("size_b").cast("double"))
      .filter(greatest(col("cont_a_in_b"), col("cont_b_in_a")) >= threshold)
  }

  /** Size-adaptive fast path shared by both connected-components
    * operators: when the materialized edge set fits on the driver, a
    * local union-find replaces 5–10 distributed join rounds whose cost on
    * a small graph is pure job-scheduling overhead (measured: ~5 s of
    * rounds vs milliseconds of union-find on a 1,600-edge near-dup
    * graph). This is the AQE philosophy applied to an iterative operator
    * — the plan's SHAPE adapts to the runtime size, and a 100 TB pair set
    * (over the limit) takes the distributed rounds unchanged.
    *
    * Driver memory cost at the limit: one collected GenericRow (~80 B)
    * per edge plus up to two boxed HashMap entries (~100 B) per distinct
    * endpoint — ~150–250 MB at the 500k-edge default, safe for a 1g
    * driver with headroom; callers that KNOW their driver heap can raise
    * `driverLimit` (the probe never collects more than limit+1 rows
    * either way). A null endpoint in the probe aborts the fast path
    * (returns None → distributed rounds): unboxing null to 0L would
    * silently merge unrelated components through a phantom node 0,
    * whereas the distributed form's equality joins never match null. The probe is `limit(n+1)` on an already-checkpointed
    * edge table, so it never collects more than the budget + 1 rows and
    * never adds a separate count job.
    *
    * Semantics are identical to the distributed rounds by construction:
    * cluster = min node id of the component, every edge endpoint
    * labelled. Applies only to integral id columns (every caller in this
    * repo; anything else returns None and runs distributed). */
  private def driverComponents(edges: DataFrame, limit: Long): Option[DataFrame] = {
    import org.apache.spark.sql.types.{LongType, StructField, StructType}
    if (limit <= 0) return None
    // long ids only, so the fast path's output schema (id/cluster LONG)
    // is indistinguishable from the distributed rounds'
    if (!edges.schema.fields.forall(_.dataType == LongType)) return None
    val cap = math.min(limit, Int.MaxValue - 2L).toInt
    val probe = edges.limit(cap + 1).collect()
    if (probe.length > cap) return None
    // a null endpoint would unbox to 0L and phantom-merge components —
    // bail to the distributed rounds, whose joins drop nulls natively
    if (probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) return None
    def asLong(v: Any): Long = v.asInstanceOf[Long]
    // union-find with path halving; roots resolve to component minima in
    // a final sweep, which is what min-label propagation converges to
    val parent = scala.collection.mutable.HashMap.empty[Long, Long]
    def find(x0: Long): Long = {
      var x = x0
      while (parent(x) != x) {
        parent(x) = parent(parent(x))
        x = parent(x)
      }
      x
    }
    probe.foreach { r =>
      val (a, b) = (asLong(r.get(0)), asLong(r.get(1)))
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // attach the larger root under the smaller: the root IS the min
      if (ra < rb) parent(rb) = ra
      else if (rb < ra) parent(ra) = rb
    }
    val spark = edges.sparkSession
    val rows = parent.keys.toSeq.map(id => Row(id, find(id)))
    Some(spark.createDataFrame(
      spark.sparkContext.parallelize(rows,
        math.max(1, math.min(spark.sparkContext.defaultParallelism, rows.size / 5000 + 1))),
      StructType(Seq(
        StructField("id", LongType, nullable = false),
        StructField("cluster", LongType, nullable = false)))))
  }

  /** Duplicate-cluster assignment: connected components over a pair set
    * (id_a, id_b), by iterative min-label propagation with pointer
    * doubling — every node adopts the smallest label among its neighbors,
    * then adopts its label's own label (halving the remaining pointer-
    * chain depth), so convergence is O(log diameter) rounds even on the
    * chain-shaped near-dup graphs (A~B~C~…) that defeat plain
    * propagation's O(diameter). Each round is two joins + an aggregation;
    * `localCheckpoint` truncates the growing plan lineage each round,
    * which is what makes iterative DataFrame algorithms viable.
    * Throws if `maxIter` rounds don't reach the fixpoint (2^maxIter
    * diameter — unreachable in practice) rather than silently returning
    * partially-propagated labels.
    * Output: (id, cluster) for every id present in `pairs`, cluster = min
    * member id — join back to the corpus to pick canonical keepers. */
  def duplicateClusters(
      pairs: DataFrame,
      maxIter: Int = 20,
      driverLimit: Long = 500000L): DataFrame = {
    // materialize the CALLER'S pair pipeline once, then mirror the
    // checkpointed edges (r17 optimization round): the old
    // `pairs.union(pairs.swapped).localCheckpoint` planned the full
    // upstream pair computation into BOTH union branches — for the
    // jaccardEdges callers (q73/q86/q152) that executed the whole
    // candidate-generation + exact-verify pipeline twice per query
    // (only the deepest exchanges were reused). Mirroring after the
    // checkpoint is a map-only second read of |E| rows.
    // lazy checkpoint (r18): the fast-path probe right below is the
    // materializing action — under the driver limit its limit(cap+1)
    // collect computes and pins every edge partition (the union's two
    // branches both read e), so the eager form's dedicated job was the
    // same pass twice; over the limit the distributed rounds pin the
    // not-yet-computed partitions on first full consumption
    val e = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
      .localCheckpoint(false)
    val sym = e.union(e.select(col("dst").as("src"), col("src").as("dst")))
    // size-adaptive fast path: the edge set is now materialized, so a
    // bounded limit-probe is cheap — see [[driverComponents]]
    val fast = driverComponents(sym, driverLimit)
    if (fast.isDefined) return fast.get
    var labels = sym.select(col("src").as("id")).distinct()
      .withColumn("cluster", col("id"))
      .localCheckpoint(true)
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      val prop = sym.join(labels, sym("src") === labels("id"))
        .groupBy(col("dst")).agg(min(col("cluster")).as("nbr"))
      // `m1` rides along so convergence needs no second comparison join
      val stepped = labels.join(prop, labels("id") === prop("dst"), "left")
        .select(labels("id"),
          least(col("cluster"), coalesce(col("nbr"), col("cluster"))).as("cluster"),
          (coalesce(col("nbr"), col("cluster")) < col("cluster")).as("m1"))
      // pointer doubling: label values are themselves node ids, so joining
      // labels-on-labels replaces each label with its label's label
      val l2 = stepped.select(col("id").as("pid"), col("cluster").as("pc"))
      val next = stepped.join(l2, stepped("cluster") === l2("pid"), "left")
        .select(stepped("id"),
          coalesce(col("pc"), stepped("cluster")).as("cluster"),
          (col("m1") ||
            coalesce(col("pc"), stepped("cluster")) < stepped("cluster")).as("moved"))
        .localCheckpoint(true)
      converged = next.filter(col("moved")).isEmpty
      labels = next.select(col("id"), col("cluster"))
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClusters did not converge in $maxIter rounds — component " +
          "diameter exceeds 2^maxIter; raise maxIter")
    labels
  }

  /** Connected components by alternating large-star / small-star
    * contraction (Kiveris et al., "Connected Components in MapReduce and
    * Beyond", SoCC'14) — same `(id, cluster=component-min)` output as
    * [[duplicateClusters]], different scaling shape. Label propagation
    * carries a full per-node labels table through every round;
    * star contraction rewrites the EDGE set itself — each alternation is
    * two aggregate+join passes with no per-node state, the edge set only
    * shrinks toward the star fixpoint, and convergence is O(log n)
    * alternations on any graph shape. Prefer it when components are huge
    * (boilerplate / empty-doc blobs at corpus scale) where the labels
    * table's hot keys skew the propagation join.
    *
    * Large-star: every neighbor of `u` larger than `u` links to the
    * minimum of `u`'s neighborhood (incl. `u`). Small-star: on the
    * larger→smaller oriented set, `u` and its smaller neighbors all link
    * to that minimum. The fixpoint of the pair is a union of stars whose
    * centers are component minima. Self-loops are dropped throughout, so
    * degenerate `(a,a)` input pairs contribute nothing. */
  def duplicateClustersStars(
      pairs: DataFrame,
      maxIter: Int = 20,
      driverLimit: Long = 500000L): DataFrame = {
    // lazy checkpoint (r18): the fast-path probe is the materializing
    // action (see duplicateClusters)
    var e = pairs.select(
        greatest(col("id_a"), col("id_b")).as("u"),
        least(col("id_a"), col("id_b")).as("v"))
      .filter(col("u") =!= col("v")).distinct()
      .localCheckpoint(false)
    // same size-adaptive fast path as [[duplicateClusters]]; the oriented
    // deduped edge set carries this op's exact node semantics (self-loop
    // inputs contribute nothing), so results match the alternation's
    val fastPath = driverComponents(e, driverLimit)
    if (fastPath.isDefined) return fastPath.get
    var converged = false
    var i = 0
    while (!converged && i < maxIter) {
      // large-star over the symmetric view: m(u) = min(Γ(u) ∪ {u})
      val both = e.union(e.select(col("v").as("u"), col("u").as("v")))
      val lsMin = both.groupBy("u").agg(min(col("v")).as("mn"))
        .select(col("u"), least(col("mn"), col("u")).as("m"))
      val ls = both.join(lsMin, Seq("u")).filter(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .distinct()
      // small-star on the (u > v)-oriented result: all neighbors are
      // smaller, so the neighborhood min is plain min(v)
      val ssMin = ls.groupBy("u").agg(min(col("v")).as("m"))
      val ss = ls.join(ssMin, Seq("u"))
        .select(col("v").as("n"), col("m"))
        .union(ssMin.select(col("u").as("n"), col("m")))
        .filter(col("n") =!= col("m"))
        .select(col("n").as("u"), col("m").as("v"))
        .distinct()
        // lazy: the convergence probe below is the materializing action
        // (the excepts are full shuffles of ss, so the probe pins every
        // partition) — one job per alternation instead of two (r18)
        .localCheckpoint(false)
      // ONE action per alternation: both sides are materialized
      // (localCheckpoint) distinct sets, so an empty symmetric difference
      // — a single job reading both checkpoints — is exact set equality;
      // the former count() + except() pair cost a second pass per round
      converged = ss.except(e).union(e.except(ss)).isEmpty
      e = ss
      i += 1
    }
    if (!converged)
      throw new IllegalStateException(
        s"duplicateClustersStars did not converge in $maxIter alternations; " +
          "raise maxIter")
    // fixpoint = stars: non-roots each hold one (node, root) edge; roots
    // only ever appear on the target side
    val roots = e.select(col("v").as("id")).distinct()
      .join(e.select(col("u").as("id")).distinct(), Seq("id"), "left_anti")
      .withColumn("cluster", col("id"))
    e.select(col("u").as("id"), col("v").as("cluster")).union(roots)
  }

  /** Embedding near-dup via sign-LSH buckets + exact cosine verify; see
    * [[Similarity.signLshBucket]] for the sketch.
    *
    * `tables` is OR-amplification: one fused kernel pass computes
    * `planes × tables` sign bits, and table t buckets on its own
    * `planes`-bit slice — a pair missed by one table's hyperplanes gets
    * `tables` independent chances (measured recall at τ=0.4, 4 planes on
    * the 500-vector synthetic corpus: 0.23 with 1 table → ~0.5 with 3).
    * Cost is a `tables`× row multiplier into the bucket join — the
    * standard LSH recall/shuffle trade, linear not quadratic. */
  def embeddingNearDups(
      embeddings: DataFrame,
      idCol: String,
      vecCol: String,
      planes: Int = 12,
      threshold: Double = 0.95,
      tables: Int = 1): DataFrame = {
    val sk = embeddings.select(col(idCol).as("doc_id"), col(vecCol).as("v"))
      .withColumn("bucket_all", Similarity.signLshBucket("v", planes * tables))
      .select(col("doc_id"), col("v"),
        posexplode(expr(
          s"transform(sequence(0, ${tables - 1}), " +
            s"t -> (bucket_all >> (t * $planes)) & ${(1L << planes) - 1})"))
          .as(Seq("tbl", "bucket")))
    val a = sk.select(col("tbl"), col("bucket"), col("doc_id").as("id_a"), col("v").as("v_a"))
    val b = sk.select(col("tbl"), col("bucket"), col("doc_id").as("id_b"), col("v").as("v_b"))
    val pairs = a.join(b, Seq("tbl", "bucket"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        GraftFunctions.cosine_similarity(col("v_a"), col("v_b")).as("cosine"))
      .filter(col("cosine") >= threshold)
    // with one table each vector lands in exactly one bucket, so a pair is
    // generated at most once and a distinct would be a wasted shuffle;
    // with OR-amplification the same pair can surface from several tables
    // — dedup the (small) post-threshold survivor set, not the candidates
    if (tables == 1) pairs else pairs.distinct()
  }

  /** Shared candidate generator for [[jaccardEdges]] and
    * [[sharedWindowPairs]]: sorted distinct 64-bit k-shingle hashes per
    * doc, materialized ONCE (localCheckpoint) — the inverted index, both
    * sides of the candidate self-join, and any verify stage read the
    * cached blocks instead of re-tokenizing the corpus. Grams travel as
    * 8-byte longs end to end — the q41 lesson: shuffling shingle STRINGS
    * was 80× slower. DuckDB oracles count string grams; hashed counts
    * agree exactly unless two distinct grams of one candidate pair
    * collide in 64 bits (~n²/2⁶⁵ — the same accepted risk as
    * contamination's gram probe). Returns (sh = (doc_id, hs),
    * cand = (gh, doc_id) restricted to grams with df in [2, maxDf]). */
  private def hashedGramCandidates(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      k: Int,
      maxDf: Int,
      minTokens: Int): (DataFrame, DataFrame) = {
    val base = docs
      .select(col(idCol).as("doc_id"), TextOps.tokens(col(textCol)).as("toks"))
    val filtered =
      if (minTokens > 0) base.filter(size(col("toks")) >= minTokens) else base
    val sh = filtered
      .select(col("doc_id"), GraftFunctions.shingle_hashes(col("toks"), k).as("hs"))
      // lazy checkpoint (r18): the caller's first action materializes
      // the shingle table as a side effect — the eager form paid a
      // dedicated job per calling query for the same pass; all five
      // downstream consumers (df aggregate, both candidate sides, both
      // verify joins) still read the pinned blocks
      .localCheckpoint(false)
    val inv = sh.select(col("doc_id"), explode(col("hs")).as("gh"))
    val rare = inv.groupBy(col("gh")).agg(count(lit(1)).as("df"))
      .filter(col("df") >= 2 && col("df") <= maxDf)
      .select(col("gh"))
    (sh, inv.join(rare, Seq("gh")))
  }

  /** Copy-paste detection: document pairs sharing at least one exact
    * `w`-token window (the "Deduplicating Training Data" exact-substring
    * family, at token granularity): a copied paragraph inside two
    * otherwise-unrelated documents — a LOW-Jaccard event that shingle
    * MinHash misses by design. Windows travel as 64-bit hashes; a df cap
    * excludes boilerplate windows (df > maxDf) so the per-window
    * candidate fan-out is bounded and no quadratic blob forms. Output
    * (id_a, id_b, n_shared): the count of distinct shared rare windows —
    * downstream policy ranks by it (one shared window of 50 tokens is
    * already copy evidence). One shuffle on the window hash, one on the
    * pair — both high-cardinality keys. */
  def sharedWindowPairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      w: Int = 10,
      maxDf: Int = 10): DataFrame = {
    val (_, cand) = hashedGramCandidates(docs, idCol, textCol, w, maxDf, minTokens = w)
    cand.select(col("gh"), col("doc_id").as("id_a"))
      .join(cand.select(col("gh"), col("doc_id").as("id_b")), Seq("gh"))
      .filter(col("id_a") < col("id_b"))
      // (doc, window) rows are distinct, so pair×window rows are too:
      // the count IS the distinct shared-window count, no extra distinct
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("n_shared"))
  }

  /** Edit-distance near-duplicate pairs via prefix blocking: candidate
    * pairs share their first `prefixLen` characters and differ in length
    * by at most `maxDist` (a true Levenshtein bound — each length unit
    * costs one edit), then exact `levenshtein` confirms. The classic
    * record-linkage blocking shape: the join key is high-cardinality (a
    * text prefix), so the shuffle spreads evenly, and the per-block
    * quadratic is bounded by `maxBlock` — blocks bigger than that are
    * boilerplate prefixes (license headers, templated openings) whose
    * pairs a later pass can handle by cluster id instead of pairwise.
    * Everything here is plain string arithmetic, so DuckDB mirrors it
    * exactly (q75's oracle) — unlike the hash-based minhash/simhash
    * candidate generators.
    *
    * Catches the small-edit near-dup family (typo fixes, version bumps,
    * whitespace drift) that shingle-based minhash is least sensitive to;
    * misses edits inside the first `prefixLen` chars, by design — run
    * alongside minhash, not instead of it. */
  def editDistancePairs(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxDist: Int = 3,
      prefixLen: Int = 16,
      maxBlock: Int = 64): DataFrame = {
    // materialized once: both sides of the self-join read the blocked
    // table, and the block-count window shouldn't run twice (lazy
    // checkpoint — the caller's first action materializes it, r18)
    val blocked = docs
      .select(col(idCol).as("doc_id"), col(textCol).as("text"),
        substring(col(textCol), 1, prefixLen).as("blk"),
        length(col(textCol)).as("len"))
      .withColumn("bn", count(lit(1)).over(Window.partitionBy(col("blk"))))
      .filter(col("bn") <= maxBlock)
      .localCheckpoint(false)
    // EXPLICIT block-keyed fan-out before the quadratic verify (r18
    // optimization round): the checkpoint inherits the window exchange's
    // AQE-coalesced layout — coalescing targets BYTES, and the blocked
    // table is small in bytes but O(block²·len²) in verify CPU, so the
    // whole DP ran in 1-2 tasks (measured: q75 = 5 tasks total, ~4 s of
    // serial levenshtein on a 32-core box). A user repartition with an
    // explicit partition count is exempt from AQE coalescing; sizing it
    // to defaultParallelism keeps it cluster-adaptive (the fanOutForCpu
    // convention), and both join sides share the ONE reused exchange.
    val wide = blocked.repartition(
      docs.sparkSession.sparkContext.defaultParallelism, col("blk"))
    val a = wide.select(col("blk"), col("doc_id").as("doc_id_a"),
      col("text").as("text_a"), col("len").as("len_a"))
    val b = wide.select(col("blk"), col("doc_id").as("doc_id_b"),
      col("text").as("text_b"), col("len").as("len_b"))
    a.join(b, Seq("blk"))
      .filter(col("doc_id_a") < col("doc_id_b") &&
        abs(col("len_a") - col("len_b")) <= maxDist)
      // NOTE (r17 optimization round): the threshold form
      // `levenshtein(a, b, maxDist)` (banded O(len·maxDist) DP) was
      // tried and REVERTED — on this operator's short blocked strings
      // (part names, ~33 chars) Spark's banded implementation measured
      // consistently SLOWER than the plain DP (bench medians 2.10 s →
      // 2.78 s at sf0.1; the band bookkeeping outweighs the saved
      // cells until strings are much longer than the threshold).
      // Callers deduping long documents should reconsider it.
      .select(col("doc_id_a"), col("doc_id_b"),
        levenshtein(col("text_a"), col("text_b")).as("dist"))
      .filter(col("dist") <= maxDist)
  }
}
