package graft

import org.apache.spark.sql.functions._

import graft.operators.Dedup

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val base = "alpha beta gamma delta epsilon zeta eta theta iota kappa " +
    "lambda mu nu xi omicron pi rho sigma tau upsilon"

  /** corpus with planted exact dups (1,2), near dups (3,4), unrelated (5,6). */
  private def corpus = Seq(
    (1L, base),
    (2L, base),
    (3L, base + " phi"),
    (4L, base + " chi"),
    (5L, "totally different text about spark catalyst optimizer rules and strategies here"),
    (6L, "yet another unrelated document mentioning parquet columnar storage formats")
  ).toDF("doc_id", "text")

  test("exactDuplicates: identical text shares hash, keeper is lowest id") {
    val out = Dedup.exactDuplicates(corpus, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> (r.getInt(2), r.getBoolean(3))).toMap
    assert(out(1L) == (1, false))
    assert(out(2L) == (2, true))
    assert(out(3L) == (1, false)) // unique text → rank 1
  }

  test("exactDuplicates composed with canonicalizeUnicode catches planted homoglyphs") {
    // VERDICT r14 item 6: the dedup family case/punct folding cannot see
    // - a homoglyph-spam copy (Cyrillic lookalikes) and an NFC-form
    // split (decomposed accents) of the same document. Raw exact dedup
    // misses both; routing the text through canonicalizeUnicode first
    // makes them exact duplicates of the original, while a genuinely
    // different document stays unique.
    import graft.operators.TextOps
    val planted = Seq(
      (1L, base),
      // Cyrillic \u0430/\u043e for a/o - pixel-identical, byte-different
      (2L, base.replace('a', '\u0430').replace('o', '\u043e')),
      // decomposed accent spelling of an accented copy vs its NFC form
      (3L, base + " caf\u00e9"),
      (4L, base + " cafe\u0301"),
      (5L, "totally different text about spark catalyst optimizer rules")
    ).toDF("doc_id", "text")
    val raw = Dedup.exactDuplicates(planted, "doc_id", "text")
      .filter(col("is_duplicate")).count()
    assert(raw == 0L, s"byte-level dedup must MISS all planted variants, flagged $raw")
    val canon = planted.select(col("doc_id"),
      TextOps.canonicalizeUnicode(col("text")).as("text"))
    val out = Dedup.exactDuplicates(canon, "doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getBoolean(3)).toMap
    assert(out == Map(1L -> false, 2L -> true, 3L -> false, 4L -> true, 5L -> false),
      s"canonical dedup must keep the lowest id of each homoglyph cluster: $out")
  }

  test("minhashPairs: planted near-dups found, unrelated absent") {
    val pairs = Dedup.minhashPairs(corpus, "doc_id", "text",
      k = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L))) // exact dup: jaccard 1.0
    assert(pairs.contains((3L, 4L)) || pairs.contains((1L, 3L))) // near dup family
    assert(!pairs.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("minhashPairs: jaccard values are exact set Jaccard") {
    val j = Dedup.minhashPairs(corpus, "doc_id", "text",
      k = 3, numHashes = 32, bands = 16, threshold = 0.9)
      .filter(col("id_a") === 1 && col("id_b") === 2)
      .select("jaccard").as[Double].collect()
    assert(j.length == 1 && j.head == 1.0)
  }

  test("minhashPairsAgainst: batch-vs-corpus pairs only, equivalent to full pairing on the cross set") {
    val newDocs = Seq((100L, base), (101L, "completely novel content nothing shared")).toDF("doc_id", "text")
    val got = Dedup.minhashPairsAgainst(newDocs, corpus, "doc_id", "text",
      k = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getDouble(2))).toMap
    // the planted exact dup pairs with both corpus copies at jaccard 1.0
    assert(got.get((100L, 1L)).contains(1.0) && got.get((100L, 2L)).contains(1.0))
    // only cross pairs: no corpus-side ids in the id_new column
    assert(got.keys.forall(_._1 >= 100L))
    assert(!got.keys.exists(_._1 == 101L), "novel doc must pair with nothing")
    // cross-restricted equivalence with the full self-pairing on new ∪ corpus
    val full = Dedup.minhashPairs(newDocs.union(corpus), "doc_id", "text",
      k = 3, numHashes = 32, bands = 16, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val fullCross = full.filter { case (a, b) => (a >= 100L) != (b >= 100L) }
      .map { case (a, b) => if (a >= 100L) (a, b) else (b, a) }
    assert(got.keySet == fullCross)
  }

  test("simhashPairs: exact and near dups collide, unrelated don't") {
    val pairs = Dedup.simhashPairs(corpus, "doc_id", "text", maxHamming = 6)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs.contains((1L, 2L)))
    assert(!pairs.exists(p => p._1 == 5L && p._2 == 6L))
  }

  test("simhashPairs: degenerate quarter-bucket is capped, normal pairs survive") {
    // 30 byte-identical docs share every quarter → one 30-doc bucket per
    // quarter; with maxBucket = 10 all four buckets drop and the clones
    // contribute no pairs, while the unrelated planted dup pair (ids
    // 101/102) rides a small bucket and survives
    val clones = (1L to 30L).map(i => (i, base))
    val others = Seq(
      (101L, "quarterly totally different text one two three four five six"),
      (102L, "quarterly totally different text one two three four five six"))
    val docs = (clones ++ others).toDF("doc_id", "text")
    val capped = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6, maxBucket = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(capped == Set((101L, 102L)), s"got $capped")
    // uncapped control: the clone family pairs up quadratically
    val uncapped = Dedup.simhashPairs(docs, "doc_id", "text", maxHamming = 6, maxBucket = 1000)
      .collect().length
    assert(uncapped == 30 * 29 / 2 + 1)
  }

  test("jaccardEdges: exact edges from the df-capped inverted index") {
    // (1,2) identical → jaccard 1; (3,4) differ by one trailing token:
    // shingle sets share 18 of 20 → 18/22 ≈ 0.82 ≥ 0.5; (5,6) share no
    // rare shingle → no candidate, no edge
    val edges = Dedup.jaccardEdges(corpus, "doc_id", "text", k = 3, maxDf = 20, threshold = 0.5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(edges.contains((1L, 2L)))
    assert(edges.contains((3L, 4L)))
    assert(!edges.exists(p => p._1 == 5L || p._2 == 5L || p._1 == 6L || p._2 == 6L))
    // a shingle shared by MORE than maxDf docs generates no candidates:
    // 5 identical docs with maxDf = 4 → every shared shingle has df 5 → no edges
    val five = (1L to 5L).map(i => (i, base)).toDF("doc_id", "text")
    assert(Dedup.jaccardEdges(five, "doc_id", "text", k = 3, maxDf = 4).count() == 0)
  }

  test("containmentEdges: a quoted-subset doc is caught where Jaccard misses it") {
    // doc 7 = base's first 8 tokens: its 6 shingles are ALL inside doc
    // 1's 18 → containment(7→1) = 1.0, but Jaccard = 6/18 ≈ 0.33
    val c7 = corpus.union(Seq((7L, "alpha beta gamma delta epsilon zeta eta theta"))
      .toDF("doc_id", "text"))
    val rows = Dedup.containmentEdges(c7, "doc_id", "text").collect()
      .map(r => ((r.getLong(0), r.getLong(1)),
        (r.getAs[Long]("inter"), r.getAs[Long]("size_a"), r.getAs[Long]("size_b"),
          r.getAs[Double]("cont_a_in_b"), r.getAs[Double]("cont_b_in_a")))).toMap
    assert(rows.contains((1L, 7L)))
    val (inter, sa, sb, cab, cba) = rows((1L, 7L))
    assert((inter, sa, sb) == (6L, 18L, 6L))
    assert(cba == 1.0 && cab == 6.0 / 18.0)
    // the symmetric operator at its 0.5 Jaccard threshold misses the pair
    val jp = Dedup.jaccardEdges(c7, "doc_id", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(!jp.contains((1L, 7L)))
    // unrelated docs never pair
    assert(!rows.keySet.exists(p => p._1 == 5L || p._2 == 5L))
  }

  test("components over jaccardEdges: propagation, star contraction, and the driver fast path all agree") {
    val edges = Dedup.jaccardEdges(corpus, "doc_id", "text")
    // driverLimit = 0 forces the distributed rounds; default takes the
    // size-adaptive union-find — all four must produce identical labels
    val prop = Dedup.duplicateClusters(edges, driverLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val star = Dedup.duplicateClustersStars(edges, driverLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val propFast = Dedup.duplicateClusters(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val starFast = Dedup.duplicateClustersStars(edges)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(prop == star)
    assert(propFast == prop)
    assert(starFast == star)
    assert(prop(1L) == 1L && prop(2L) == 1L)
  }

  test("duplicateClusters: chains, blobs, and singleton pairs resolve to min-id components") {
    // component {1,2,3,4} as a pure chain (worst-case diameter),
    // component {10,11,12} as a triangle, component {20,21} as one edge
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
  }

  test("duplicateClusters: 40-node chain converges within the doubling budget, tiny budget throws") {
    // A pure chain is the worst case for plain min-label propagation
    // (O(diameter) rounds); pointer doubling must close a 40-node chain in
    // ~log2(40) ≈ 6 rounds. A 2-round budget must fail LOUDLY, not return
    // partially-propagated labels.
    // driverLimit = 0: this test is ABOUT the distributed rounds — the
    // default would route a 39-edge chain through the union-find
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val got = Dedup.duplicateClusters(chain, maxIter = 8, driverLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got.size == 40 && got.values.forall(_ == 1L))
    assertThrows[IllegalStateException] {
      Dedup.duplicateClusters(chain, maxIter = 2, driverLimit = 0).count()
    }
    // the fast path resolves the same chain without any round budget
    val fastGot = Dedup.duplicateClusters(chain, maxIter = 2)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fastGot == got)
    // probe boundary: the symmetric edge table holds 2×39 rows; a limit
    // exactly at that size stays on the driver, one below must fall back
    // to the distributed rounds (and, with the tiny budget, throw)
    val atLimit = Dedup.duplicateClusters(chain, maxIter = 2, driverLimit = 78)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(atLimit == got)
    assertThrows[IllegalStateException] {
      Dedup.duplicateClusters(chain, maxIter = 2, driverLimit = 77).count()
    }
  }

  test("duplicateClustersStars: matches label propagation on chains, blobs, and the minhash graph") {
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (3L, 4L),
      (10L, 11L), (11L, 12L), (10L, 12L),
      (20L, 21L)
    ).toDF("id_a", "id_b")
    val stars = Dedup.duplicateClustersStars(pairs)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(stars == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L))
    // 40-node chain: log-round convergence; tiny budget throws loudly
    // (driverLimit = 0 keeps these on the distributed alternations)
    val chain = (1L until 40L).map(i => (i, i + 1)).toDF("id_a", "id_b")
    val chainGot = Dedup.duplicateClustersStars(chain, maxIter = 10, driverLimit = 0)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(chainGot.size == 40 && chainGot.values.forall(_ == 1L))
    assertThrows[IllegalStateException] {
      Dedup.duplicateClustersStars(chain, maxIter = 1, driverLimit = 0).count()
    }
    // equivalence with the propagation path on a real LSH-derived graph
    val g = Dedup.minhashPairs(corpus, "doc_id", "text",
      k = 3, numHashes = 32, bands = 16, threshold = 0.5)
    val a = Dedup.duplicateClusters(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val b = Dedup.duplicateClustersStars(g).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(a == b)
  }

  test("duplicateClusters composes with minhashPairs for end-to-end dedup") {
    val clusters = Dedup.duplicateClusters(
      Dedup.minhashPairs(corpus, "doc_id", "text",
        k = 3, numHashes = 32, bands = 16, threshold = 0.5))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // docs 1 and 2 are exact duplicates → same cluster, keeper = 1
    assert(clusters(1L) == 1L && clusters(2L) == 1L)
    // unrelated docs never enter the pair graph
    assert(!clusters.contains(5L) && !clusters.contains(6L))
  }

  test("embeddingNearDups: planted near-identical vectors pair up") {
    val v1 = Array.tabulate(16)(i => math.sin(i + 1).toFloat)
    val v2 = v1.clone(); v2(0) = v2(0) * 1.01f // ~same direction
    val v3 = Array.tabulate(16)(i => math.cos(3 * i + 2).toFloat) // unrelated
    val df = Seq((1L, v1), (2L, v2), (3L, v3)).toDF("vec_id", "embedding")
    val pairs = Dedup.embeddingNearDups(df, "vec_id", "embedding", planes = 4, threshold = 0.99)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(pairs == Set((1L, 2L)))
  }

  test("sharedWindowPairs: copied paragraph pairs up; boilerplate windows df-capped out") {
    val para = "one two three four five six seven eight nine ten eleven twelve"
    val boiler = "standard legal disclaimer applies to all content in this repository today"
    val docs = (Seq(
      (1L, s"alpha beta gamma $para delta epsilon zeta eta theta iota kappa"),
      (2L, s"completely different opening text here $para and a different tail section too"),
      (3L, "nothing in common with anything else at all in this little document here")
    ) ++ (10L until 22L).map(i => (i, s"doc $i unique prefix $boiler unique suffix $i")))
      .toDF("doc_id", "text")
    val pairs = Dedup.sharedWindowPairs(docs, "doc_id", "text", w = 10, maxDf = 10)
      .collect().map(r => ((r.getLong(0), r.getLong(1)), r.getLong(2))).toMap
    // docs 1,2 share the 12-token paragraph → 3 distinct 10-token windows
    assert(pairs.keySet == Set((1L, 2L)), s"only the copy-paste pair: $pairs")
    assert(pairs((1L, 2L)) == 3L)
  }

  test("editDistancePairs: prefix-blocked levenshtein with length bound and block cap") {
    val base = "the quick brown fox jumps over the lazy dog again and again"
    val docs = Seq(
      (1L, base),
      (2L, base.replace("jumps", "jumbs")), // 1 substitution, same prefix
      (3L, base + " xx"), // 3 appended chars: dist 3, within bound
      (4L, base + " xxxx"), // dist 5 > 3: length prefilter must drop it
      (5L, "a completely different document about databases"),
      (6L, "xhe quick brown fox jumps over the lazy dog again and again")
      // ^ 1 edit from doc 1 but INSIDE the 16-char prefix → different
      //   block → missed by design (documented blind spot)
    ).toDF("doc_id", "text")
    val pairs = Dedup.editDistancePairs(docs, "doc_id", "text", maxDist = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    // (2,3) is dist 4 → over maxDist; pairs with 4 differ by 5 in length
    // → length prefilter; 6 shares no block with 1 → never compared
    assert(pairs == Set((1L, 2L, 1), (1L, 3L, 3), (3L, 4L, 2)))

    // degenerate block: 100 docs sharing a prefix blow past maxBlock → no
    // quadratic, zero pairs from that block
    val boiler = (100L until 200L).map(i => (i, s"LICENSE HEADER v$i common opening"))
      .toDF("doc_id", "text")
    assert(Dedup.editDistancePairs(boiler, "doc_id", "text",
      maxDist = 3, maxBlock = 64).count() == 0)
  }
}
