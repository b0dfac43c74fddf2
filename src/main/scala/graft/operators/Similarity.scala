package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.GraftFunctions

/** Approximate-nearest-neighbor search over an embedding column
  * (array<float>).
  *
  * Two paths:
  *  - [[bruteForceTopK]]: exact baseline — broadcast the (small) query
  *    set, one scan over the corpus, per-query top-k via ranking window.
  *    At 100 TB this is the correct shape when |queries| is small: the
  *    corpus is never shuffled, only scanned; the window ranks within
  *    query partitions whose size equals the corpus count per query, so
  *    for large corpora prefer the LSH path.
  *  - [[lshTopK]]: sign-LSH (random hyperplanes) buckets corpus and
  *    queries; top-k is computed inside matching buckets only. Recall is
  *    tunable via plane count (fewer planes → bigger buckets → higher
  *    recall, more compute). Hyperplane components are derived from a
  *    hash of (plane, dimension) — deterministic, no stored model.
  */
object Similarity {

  def cosine(a: Column, b: Column): Column = GraftFunctions.cosine_similarity(a, b)

  /** Sign-LSH bucket id over a named array<float> column: one bit per
    * hyperplane; component d of plane p is ±1 from splitmix64(p·1024+d)
    * parity. A codegen'd custom expression ([[graft.functions.SignLshBucket]])
    * — one fused JVM loop per row, no model state, reproducible on any
    * cluster size. */
  def signLshBucket(vecName: String, planes: Int): Column =
    GraftFunctions.sign_lsh_bucket(col(vecName), planes)

  /** Per-query exact top-k via the partial-aggregatable bounded-heap
    * aggregate ([[graft.functions.TopKByScore]]): each map task reduces its
    * partition to a k-entry heap per query, heaps merge across the shuffle,
    * and ranks come from the final sorted heap. Shuffled bytes are
    * `partitions × queries × k` entries — constant in corpus size — unlike
    * a `row_number().over(partitionBy(query_id))` window, which funnels
    * every scored corpus row through one reducer per query. Tie-break is
    * (score desc, id asc), identical to the ranking-window ordering. */
  private def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored
      .groupBy(col("query_id"))
      .agg(GraftFunctions.top_k_by_score(col("cosine"), col("neighbor_id"), k).as("topk"))
      .select(col("query_id"), posexplode(col("topk")).as(Seq("pos", "t")))
      .select(
        col("query_id"),
        col("t.id").as("neighbor_id"),
        col("t.score").as("cosine"),
        (col("pos") + 1).as("rank"))

  /** Exact top-k cosine neighbors for each query vector. */
  def bruteForceTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int): DataFrame = {
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv")))
    val scored = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .crossJoin(q)
      .withColumn("cosine", cosine(col("cv"), col("qv")))
    topKPerQuery(scored, k)
  }

  /** ANN top-k with multi-probe: the query probes its own sign-LSH bucket
    * plus every bucket within Hamming distance `probeRadius` (flipped
    * hyperplane subsets) — the standard recall boost that costs
    * O(planes^radius)× on the tiny broadcast query side and nothing on
    * the corpus side. Radius 2 roughly doubles radius-1 recall at
    * moderate plane counts (measured 0.34 → 0.58 at 6 planes, 500-vector
    * corpus, k=10) while still probing only `1 + p + p(p-1)/2` of the
    * `2^p` buckets. */
  def lshTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      planes: Int = 8,
      probeRadius: Int = 2): DataFrame = {
    require(planes >= 1, s"need at least one hyperplane, got $planes")
    // clamp the radius to the plane count: radius 2 with a single plane
    // would render sequence(0, -1) — a DESCENDING [0,-1] sequence whose
    // out-of-range bit flips produce duplicate probe buckets and break
    // the "probes are pairwise distinct" invariant the no-dedup join
    // relies on (the same pair would enter the top-k heap twice)
    val radius = math.min(math.max(probeRadius, 0), planes)
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .withColumn("bucket", signLshBucket("cv", planes))
    val h1 =
      s"transform(sequence(0, ${planes - 1}), i -> bucket0 ^ shiftleft(1L, i))"
    val h2 =
      s"flatten(transform(sequence(0, ${planes - 2}), i -> " +
        s"transform(sequence(i + 1, ${planes - 1}), " +
        "j -> bucket0 ^ shiftleft(1L, i) ^ shiftleft(1L, j))))"
    val probes =
      if (radius == 0) "array(bucket0)"
      else if (radius == 1 || planes < 2) s"concat(array(bucket0), $h1)"
      else s"concat(array(bucket0), $h1, $h2)"
    val q = broadcast(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
        .withColumn("bucket0", signLshBucket("qv", planes))
        .select(col("query_id"), col("qv"), explode(expr(probes)).as("bucket")))
    // no dedup needed: a corpus row has exactly one bucket and the probe
    // buckets are pairwise distinct, so each (query, neighbor) joins ≤ once
    val joined = c.join(q, Seq("bucket"))
      .withColumn("cosine", cosine(col("cv"), col("qv")))
    topKPerQuery(joined, k)
  }

  /** Literal array<float> column from a centroid (plain `lit` per element:
    * `typedlit` breaks under foreign classloaders — see SparkEntry). */
  private def litVec(v: Array[Float]): Column = array(v.map(x => lit(x)): _*)

  /** Per-row cosine scores against every centroid, as one array column. */
  private def centroidScores(vecCol: Column, cents: Array[Array[Float]]): Column =
    array(cents.map(c => cosine(vecCol, litVec(c))): _*)

  /** argmax over [[centroidScores]] — first max wins (deterministic). */
  private[operators] def nearestCell(vecCol: Column, cents: Array[Array[Float]]): Column = {
    val s = centroidScores(vecCol, cents)
    (array_position(s, array_max(s)) - 1).cast("int")
  }

  /** Coarse quantizer for [[ivfTopK]]: k-means by Lloyd iteration, written
    * as plain DataFrame aggregations so the training scan distributes like
    * any other query (no driver-side loops over rows — only the k×dim
    * centroid matrix is ever collected). Initialization picks the
    * `nlist` smallest-id exemplar vectors — deterministic, no RNG state,
    * and SQL-replayable. Cosine is the assignment metric, so member means
    * are the (unnormalized) spherical k-means update; means go through
    * [[graft.functions.ExactAgg]]'s decimal path, so the trained matrix
    * is order- AND engine-invariant (the q40 oracle replays the full
    * training in DuckDB). At production scale: train on a sample (`sampleN`),
    * persist the centroid matrix, and reuse it across queries; here it is
    * recomputed per call because the corpora are small. */
  def trainIvfCentroids(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      nlist: Int,
      iters: Int = 3,
      sampleN: Int = 100000): Array[Array[Float]] = {
    val sample = corpus.select(col(idCol).as("id"), col(vecCol).as("v"))
      .orderBy(xxhash64(col("id"))).limit(sampleN)
    // Exemplar init by SMALLEST id and EXACT-decimal member means make the
    // whole training run engine-invariant: every step (first-max-wins
    // cosine argmax, decimal-quantized mean, float round) is a pinned
    // deterministic op, so the q40 oracle can unroll these same Lloyd
    // rounds as DuckDB CTEs and hash-match the search results bit-for-bit.
    var cents = sample.orderBy(col("id")).limit(nlist)
      .select("v").collect().map(_.getSeq[Float](0).toArray)
    for (_ <- 1 to iters) {
      val updated = sample
        .withColumn("cell", nearestCell(col("v"), cents))
        .select(col("cell"), posexplode(col("v")).as(Seq("pos", "x")))
        .groupBy("cell", "pos")
        .agg(graft.functions.ExactAgg.davg(col("x")).as("m"))
        .groupBy("cell")
        .agg(sort_array(collect_list(struct(col("pos"), col("m")))).as("ps"))
        .select(col("cell"), expr("transform(ps, p -> cast(p.m as float))").as("c"))
        .collect().map(r => r.getInt(0) -> r.getSeq[Float](1).toArray).toMap
      // cells that lost every member keep their previous centroid
      cents = cents.indices.map(i => updated.getOrElse(i, cents(i))).toArray
    }
    cents
  }

  /** IVF (inverted-file) ANN: corpus rows are indexed by nearest coarse
    * centroid; a query scores only the rows in its `nprobe` closest cells.
    * The second classic ANN scale path next to [[lshTopK]] — centroids
    * adapt to the data distribution, so cells stay balanced where static
    * hyperplanes can't. Corpus-side cost: one assignment scan (k×dim
    * fused cosine kernels, codegen'd) + the bucket-join shuffle keyed by
    * cell; query side is broadcast with an nprobe-cell fan-out. Recall is
    * tunable via nprobe (= nlist recovers exact brute force). */
  def ivfTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      iters: Int = 3,
      centroids: Option[Array[Array[Float]]] = None): DataFrame = {
    // IVF's contract is train-once / search-many: callers that persist the
    // centroid matrix (it is tiny) pass it back in and skip training —
    // also what keeps repeated searches from re-running Lloyd jobs.
    val cents = centroids.getOrElse(
      trainIvfCentroids(corpus, corpusId, corpusVec, nlist, iters))
    // a corpus smaller than nlist trains fewer centroids — size the probe
    // expression from the actual matrix, not the requested cell count
    val cells = cents.length
    val probeN = math.min(nprobe, cells)
    val c = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      .withColumn("cell", nearestCell(col("cv"), cents))
    val q = broadcast(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
        .withColumn("scores", centroidScores(col("qv"), cents))
        // top-nprobe cells: pair (-score, index) sorts ascending = score desc
        .select(col("query_id"), col("qv"),
          explode(expr(
            s"transform(slice(array_sort(transform(sequence(0, ${cells - 1}), " +
              s"i -> struct(-scores[i] AS neg, i AS idx))), 1, $probeN), p -> p.idx)"))
            .as("cell")))
    val joined = c.join(q, Seq("cell"))
      .withColumn("cosine", cosine(col("cv"), col("qv")))
    topKPerQuery(joined, k)
  }

  /** Per-group element-wise mean of an embedding column — class
    * prototypes / cluster centroids, exploded to one row per
    * (group, dimension). Cross-row float sums are order-dependent in
    * IEEE arithmetic, so the mean goes through [[graft.functions.ExactAgg]]
    * (exact decimal sum, one final IEEE divide): the result is
    * bit-identical on 32 local threads and 1000 executors — and to the
    * DuckDB oracle. The explode inflates rows ×dim before aggregation,
    * but partial aggregation combines map-side, so the shuffle carries
    * only groups × dim rows. */
  def centroids(df: DataFrame, labelCol: Column, vecCol: Column): DataFrame =
    df.select(labelCol.as("label"), posexplode(vecCol).as(Seq("pos", "e")))
      .groupBy(col("label"), col("pos"))
      .agg(
        graft.functions.ExactAgg.davg(col("e").cast("double")).as("c"),
        count(lit(1)).as("n"))

  /** Per-vector symmetric int8 quantization — the storage path for an
    * embedding column at corpus scale (4× smaller than float32; the
    * dot-product kernels can then run on ints). `scale = max(|e|)/127`
    * per row, `code = floor(e/scale + 0.5)` — floor(x+0.5) instead of
    * round() because floor is IEEE-exact and identical in every engine,
    * while round()'s half-way rule differs (and e/scale CAN land exactly
    * on .5). Zero vectors quantize to zeros with scale 0. Both steps are
    * codegen'd custom kernels ([[graft.functions.QuantScale]] /
    * [[graft.functions.QuantInt8]]) — per-row, shuffle-free, and
    * deterministic down to the bit (q57 oracle).
    * Output: input columns + `scale` (double) + `q` (array<int>). */
  def quantizeInt8(df: DataFrame, vecCol: String): DataFrame =
    df.withColumn("scale", GraftFunctions.quant_scale(col(vecCol)))
      .withColumn("q", GraftFunctions.quant_int8(col(vecCol), col("scale")))

  /** Product-quantization codebook (Jégou et al., "Product Quantization
    * for Nearest Neighbor Search", TPAMI 2011): the vector space is split
    * into `m` orthogonal subspaces of dim/m dims, and each subspace gets
    * its own `k`-centroid quantizer — so a vector compresses to `m` small
    * codes (m bytes at k ≤ 256) with k^m effective reconstruction points.
    * Training reuses the deterministic DataFrame-native Lloyd loop
    * ([[trainIvfCentroids]]) once per subspace; the codebook
    * (m × k × dim/m floats) is tiny and, like the IVF index, is trained
    * once and persisted at production scale. */
  def trainPq(
      corpus: DataFrame,
      idCol: String,
      vecCol: String,
      m: Int,
      k: Int,
      iters: Int = 3): Array[Array[Array[Float]]] = {
    val d = corpus.select(size(col(vecCol))).first().getInt(0)
    require(d % m == 0, s"dim $d not divisible into $m subspaces")
    val sub = d / m
    (0 until m).map { s =>
      val sliced = corpus.select(col(idCol).as("id"),
        slice(col(vecCol), s * sub + 1, sub).as("v"))
      trainIvfCentroids(sliced, "id", "v", k, iters)
    }.toArray
  }

  /** Encode each vector to its `m` per-subspace nearest-centroid codes
    * (one array<int> column `codes`) — per-row expression work only. */
  def pqEncode(df: DataFrame, vecCol: String, cents: Array[Array[Array[Float]]]): DataFrame = {
    val m = cents.length
    val sub = cents.head.head.length
    val codeCols = (0 until m).map { s =>
      nearestCell(slice(col(vecCol), s * sub + 1, sub), cents(s))
    }
    df.withColumn("codes", array(codeCols: _*))
  }

  /** ANN over the PQ-compressed corpus (asymmetric distance computation):
    * corpus rows are scored from their codes alone via the
    * [[graft.functions.PqScore]] kernel — the raw corpus floats are never
    * read at search time, which is the point: at 100 TB the persisted
    * index is the m-byte code column (32× smaller than float32 at
    * m=8/dim=64), and search I/O scales with it. Same broadcast-queries /
    * corpus-never-shuffled / bounded-heap top-k shape as the other ANN
    * paths. `rerank > 0` adds the classic second stage: the PQ scan
    * produces a `rerank`-deep shortlist per query, and only those
    * candidate rows are re-scored with exact float cosine — the raw
    * vectors are touched for queries × rerank rows instead of the whole
    * corpus (the shortlist is broadcast, so the corpus is still never
    * shuffled). Recall vs exact search is asserted in spec; compose with
    * [[ivfTopK]]-style cell pruning when scanning even the codes is too
    * much (classic IVF-PQ). */
  def pqTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      m: Int = 8,
      codebook: Int = 16,
      iters: Int = 3,
      rerank: Int = 0,
      centroids: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val cents = centroids.getOrElse(trainPq(corpus, corpusId, corpusVec, m, codebook, iters))
    val sub = cents.head.head.length
    val flat = cents.flatMap(_.flatMap(identity))
    val c = pqEncode(
        corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("v")), "v", cents)
      .select(col("neighbor_id"), col("codes"))
    val q = broadcast(queries.select(col(queryId).as("query_id"), col(queryVec).as("qv")))
    val scored = c.crossJoin(q)
      .withColumn("cosine",
        GraftFunctions.pq_score(col("codes"), col("qv"), flat, cents.head.length, sub))
    if (rerank <= 0) topKPerQuery(scored, k)
    else {
      val shortlist = topKPerQuery(scored, rerank).select("query_id", "neighbor_id")
      val cRaw = corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv"))
      val rescored = cRaw.join(broadcast(shortlist), Seq("neighbor_id"))
        .join(q, Seq("query_id"))
        .withColumn("cosine", cosine(col("cv"), col("qv")))
      topKPerQuery(rescored, k)
    }
  }

  /** IVF-PQ — the production-scale ANN composition (Jégou et al. TPAMI'11
    * §IV, IVFADC): the coarse quantizer bounds WHICH rows each query
    * scores (its `nprobe` of `nlist` cells), the product quantizer bounds
    * WHAT is read per row (the m-byte code). At 100 TB the persisted
    * index is the (cell, codes) pair per vector — search I/O is the
    * probed cells' code bytes; raw floats are touched only for the
    * `rerank` shortlist. The corpus is never shuffled: queries broadcast
    * with their probe-cell fan-out and join the cell-keyed codes.
    *
    * Direct-coding variant: codes quantize the vectors themselves, not
    * the per-cell residuals (canonical IVFADC) — one shared codebook, no
    * per-cell code tables, at some recall cost recovered by `rerank`;
    * recall floors are pinned in RecallSpec. Both codebooks follow the
    * train-once / search-many contract: pass them back in to skip
    * training jobs on repeated searches. */
  def ivfPqTopK(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nlist: Int = 16,
      nprobe: Int = 4,
      m: Int = 8,
      codebook: Int = 16,
      iters: Int = 3,
      rerank: Int = 0,
      coarseCentroids: Option[Array[Array[Float]]] = None,
      pqCentroids: Option[Array[Array[Array[Float]]]] = None): DataFrame = {
    val ccents = coarseCentroids.getOrElse(
      trainIvfCentroids(corpus, corpusId, corpusVec, nlist, iters))
    val pcents = pqCentroids.getOrElse(
      trainPq(corpus, corpusId, corpusVec, m, codebook, iters))
    // the persisted-index shape: (cell, codes) per corpus row
    val c = pqEncode(
        corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("v")),
        "v", pcents)
      .withColumn("cell", nearestCell(col("v"), ccents))
      .select(col("neighbor_id"), col("cell"), col("codes"))
    ivfPqSearchTail(c, queries, queryId, queryVec, k, nprobe, ccents, pcents,
      rerank, corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("cv")),
      pruneCells = false)
  }

  /** IVFADC search over an ALREADY-CODED corpus — the shape a persisted
    * index actually serves ([[AnnIndexStore.buildCodes]]): `codedCorpus`
    * is (neighbor_id, cell, codes), e.g. [[AnnIndexStore.loadCodes]]'s
    * cell-partitioned parquet, and search never touches raw corpus
    * floats except for the `rerank` shortlist (`corpusForRerank`).
    * Identical output to [[ivfPqTopK]] with the same centroids (asserted
    * in AnnIndexStoreSpec). The probed cells — at most `nlist` distinct
    * ints across the whole query panel — are computed up front and
    * applied as a static `IN` filter, so a cell-partitioned store scans
    * ONLY the probed partitions: search I/O is the probed cells' code
    * bytes, exactly the IVFADC promise. */
  def ivfPqTopKFromCodes(
      codedCorpus: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int,
      coarseCentroids: Array[Array[Float]],
      pqCentroids: Array[Array[Array[Float]]],
      rerank: Int = 0,
      corpusForRerank: Option[DataFrame] = None): DataFrame = {
    require(rerank <= 0 || corpusForRerank.isDefined,
      "rerank > 0 needs corpusForRerank = (neighbor_id, cv) raw vectors")
    ivfPqSearchTail(
      codedCorpus.select(col("neighbor_id"), col("cell"), col("codes")),
      queries, queryId, queryVec, k, nprobe, coarseCentroids, pqCentroids,
      rerank, corpusForRerank.orNull, pruneCells = true)
  }

  /** The shared IVFADC probe/score/rerank tail over a coded corpus.
    * `pruneCells` collects the panel's probed cells (bounded by nlist —
    * a scalar-sized driver read, like the centroid loads) and filters
    * the coded corpus by them before the join, which becomes partition
    * pruning when the corpus is a cell-partitioned store. */
  private def ivfPqSearchTail(
      c: DataFrame,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int,
      nprobe: Int,
      ccents: Array[Array[Float]],
      pcents: Array[Array[Array[Float]]],
      rerank: Int,
      rerankRaw: DataFrame,
      pruneCells: Boolean): DataFrame = {
    val cells = ccents.length
    val probeN = math.min(nprobe, cells)
    val sub = pcents.head.head.length
    val flat = pcents.flatMap(_.flatMap(identity))
    val q = broadcast(
      queries.select(col(queryId).as("query_id"), col(queryVec).as("qv"))
        .withColumn("scores", centroidScores(col("qv"), ccents))
        .select(col("query_id"), col("qv"),
          explode(expr(
            s"transform(slice(array_sort(transform(sequence(0, ${cells - 1}), " +
              s"i -> struct(-scores[i] AS neg, i AS idx))), 1, $probeN), p -> p.idx)"))
            .as("cell")))
    val cIn =
      if (!pruneCells) c
      else {
        val probed = q.select("cell").distinct().collect().map(_.getInt(0))
        c.where(col("cell").isin(probed.toSeq: _*))
      }
    val scored = cIn.join(q, Seq("cell"))
      // 4th arg is k (centroids PER SUBSPACE — the flat-codebook stride),
      // not m; they only coincide when m == codebook
      .withColumn("cosine",
        GraftFunctions.pq_score(col("codes"), col("qv"), flat, pcents.head.length, sub))
    if (rerank <= 0) topKPerQuery(scored, k)
    else {
      val shortlist = topKPerQuery(scored, rerank).select("query_id", "neighbor_id")
      val rescored = rerankRaw.join(broadcast(shortlist), Seq("neighbor_id"))
        .join(broadcast(queries.select(col(queryId).as("query_id"),
          col(queryVec).as("qv"))), Seq("query_id"))
        .withColumn("cosine", cosine(col("cv"), col("qv")))
      topKPerQuery(rescored, k)
    }
  }

  /** Exact top-k search in int8 space: the corpus is [[quantizeInt8]]
    * codes (what you'd actually persist for a 100 TB embedding store —
    * 4× less scan I/O), queries quantize the same way, and scoring is the
    * integer-cosine kernel ([[graft.functions.CosineInt8]]). Same
    * broadcast-queries / never-shuffle-corpus / bounded-heap-top-k shape
    * as [[bruteForceTopK]]; scales cancel in cosine, so no dequantization
    * happens anywhere. Integer dots are order-exact, so unlike the float
    * path's scores these are reproducible bit-for-bit in ANY engine —
    * q58's oracle checks every score. Recall vs float-space search is
    * asserted in spec (quantization error ≤ scale/2 per element). */
  def bruteForceTopKInt8(
      corpus: DataFrame,
      corpusId: String,
      corpusVec: String,
      queries: DataFrame,
      queryId: String,
      queryVec: String,
      k: Int): DataFrame = {
    val c = quantizeInt8(
        corpus.select(col(corpusId).as("neighbor_id"), col(corpusVec).as("v")), "v")
      .select(col("neighbor_id"), col("q").as("cq"))
    val q = broadcast(quantizeInt8(
        queries.select(col(queryId).as("query_id"), col(queryVec).as("v")), "v")
      .select(col("query_id"), col("q").as("qq")))
    val scored = c.crossJoin(q)
      .withColumn("cosine", GraftFunctions.cosine_int8(col("cq"), col("qq")))
    topKPerQuery(scored, k)
  }

  /** Greedy k-center (farthest-point / Gonzalez) coreset selection over
    * an embedding column, plus the nearest-center assignment of every
    * vector — the diversity-aware sample a curation pipeline draws when
    * it wants COVERAGE of embedding space rather than an iid slice
    * (2-approximation to the optimal k-center cover).
    *
    * Determinism end to end: the seed is the minimum id; each round
    * picks the vector farthest from the chosen set as the MIN
    * (closest-cosine, id) struct — float `max`/`min` are exact, and the
    * per-pair cosines ride the pinned in-order accumulation chain
    * ([[graft.functions.HashKernels.cosineFF]]), so every round — and
    * therefore the whole selection — replays bit-for-bit in DuckDB.
    *
    * Scale shape: k driver rounds, each ONE full scan with the chosen
    * vectors broadcast as literals (k·dim floats of driver state — index
    * metadata, not data); no shuffle anywhere (the per-round argmin and
    * the final assignment are scan + aggregate). k-center is inherently
    * sequential in k — at 100 TB you bound k (≤64ish) or run it on a
    * deterministic pre-sample ([[graft.operators.Sampling.hashSample]]),
    * both of which keep the scan count, not the data, the cost. */
  def kCenterAssign(df: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    require(k >= 1, s"need k >= 1 centers, got $k")
    val v = df.select(col(idCol).as("vec_id"), col(vecCol).as("e"))
    // seed = the minimum id; its vector rides the same one-row aggregate
    // (vec_id is unique, so the struct min never compares the array field)
    val seed = v.select(min(struct(col("vec_id").as("id"), col("e").as("e"))).as("s"))
      .head().getStruct(0)
    var chosenIds = Vector(seed.getLong(0))
    var chosenVecs = Vector(seed.getSeq[Float](1).toArray)
    for (_ <- 1 until k) {
      // farthest-from-set = MIN over rows of (max cosine to any chosen);
      // ties break to the smaller id via the struct order. Already-chosen
      // ids are excluded so an all-duplicates tail can't re-pick one.
      // The picked vector rides the same one-row aggregate — one scan per
      // round, not two.
      val mc = array_max(array(chosenVecs.map(cv => cosine(col("e"), litVec(cv))): _*))
      val picked = v.filter(!col("vec_id").isInCollection(chosenIds))
        .select(min(struct(mc.as("mc"), col("vec_id").as("id"), col("e").as("e"))).as("s"))
        .head().getStruct(0)
      chosenIds :+= picked.getLong(1)
      chosenVecs :+= picked.getSeq[Float](2).toArray
    }
    // nearest-center assignment: max cosine, ties to the smaller center id
    // (struct max on (cos, -center) — float max is exact, so ties are real)
    val scored = array(chosenIds.zip(chosenVecs).map { case (id, cv) =>
      struct(cosine(col("e"), litVec(cv)).as("c"), lit(-id).as("nid"))
    }: _*)
    v.select(col("vec_id"),
        array_max(scored).as("best"))
      .select(col("vec_id"),
        (-col("best.nid")).as("center"),
        col("best.c").as("cos_to_center"))
      .withColumn("is_center", col("vec_id") === col("center"))
  }
}
