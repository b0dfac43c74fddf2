package graft

import org.apache.spark.sql.functions._

import graft.operators.{AnnIndexStore, Similarity}

/** The train-once / search-many ANN lifecycle: codebooks persist to
  * parquet bit-for-bit, and a probe-only search from the loaded artifacts
  * returns exactly what an inline-trained search returns (training is
  * deterministic, so the artifact IS the index — no retrain drift). */
class AnnIndexStoreSpec extends SparkSpec {

  private def rmrf(f: java.io.File): Unit = {
    if (f.isDirectory) f.listFiles().foreach(rmrf)
    f.delete()
  }

  test("IVF centroids roundtrip parquet bit-for-bit; loaded-artifact search == inline-trained") {
    val e = graft.util.SparkUtil.table(spark, sf(), "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ann-store-ivf").toFile
    try {
      val path = s"${dir.getAbsolutePath}/ivf"
      val built = AnnIndexStore.buildIvf(e, "vec_id", "embedding", nlist = 8, path)
      val loaded = AnnIndexStore.loadIvf(spark, path)
      assert(built.length == loaded.length)
      assert(built.zip(loaded).forall { case (a, b) => a.sameElements(b) })
      val q = e.filter(col("vec_id") < 3)
      val probeOnly = Similarity.ivfTopK(e, "vec_id", "embedding",
          q, "vec_id", "embedding", 5, nlist = 8, centroids = Some(loaded))
        .collect().map(_.toSeq).toSet
      val inline = Similarity.ivfTopK(e, "vec_id", "embedding",
          q, "vec_id", "embedding", 5, nlist = 8)
        .collect().map(_.toSeq).toSet
      assert(probeOnly == inline,
        "search from the persisted index must equal an inline-trained search")
    } finally rmrf(dir)
  }

  test("coded corpus: search from the cell-partitioned store == encode-inline, scan prunes to probed cells") {
    val e = graft.util.SparkUtil.table(spark, sf(), "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ann-store-codes").toFile
    try {
      val cc = Similarity.trainIvfCentroids(e, "vec_id", "embedding", 16, 3)
      val pc = Similarity.trainPq(e, "vec_id", "embedding", m = 16, k = 16)
      val path = s"${dir.getAbsolutePath}/codes"
      AnnIndexStore.buildCodes(e, "vec_id", "embedding", cc, pc, path)

      val q = e.filter(col("vec_id") < 3)
      val fromStore = Similarity.ivfPqTopKFromCodes(
        AnnIndexStore.loadCodes(spark, path), q, "vec_id", "embedding",
        k = 5, nprobe = 4, cc, pc, rerank = 20,
        corpusForRerank = Some(e.select(col("vec_id").as("neighbor_id"),
          col("embedding").as("cv"))))
      val inline = Similarity.ivfPqTopK(e, "vec_id", "embedding",
        q, "vec_id", "embedding", 5,
        nlist = 16, nprobe = 4, m = 16, rerank = 20,
        coarseCentroids = Some(cc), pqCentroids = Some(pc))
      assert(fromStore.collect().map(_.toSeq).toSet ==
        inline.collect().map(_.toSeq).toSet,
        "search from persisted codes must equal the encode-inline search")

      // the probed-cells IN filter must reach the store scan as a
      // PARTITION filter — search I/O is the probed cells' files only
      val plan = fromStore.queryExecution.executedPlan.toString
      val pf = "PartitionFilters: \\[[^\\]]*cell".r
      assert(pf.findFirstIn(plan).isDefined,
        s"no partition filter on cell in the codes scan:\n$plan")
    } finally rmrf(dir)
  }

  test("buildAnnIndexes writes both artifacts and the registered ANN queries run probe-only") {
    val dir = java.nio.file.Files.createTempDirectory("ann-build").toFile
    try {
      graft.queries.SimilarityQueries.buildAnnIndexes(spark, sf(), dir.getAbsolutePath)
      assert(new java.io.File(dir, "ivf").exists, "ivf artifact missing")
      assert(new java.io.File(dir, "pq").exists, "pq artifact missing")
      // cache seeded → the registered queries search without retraining
      assert(graft.queries.SimilarityQueries.queries("q81_ann_ivfpq")(spark, sf()).count() > 0)
      assert(graft.queries.SimilarityQueries.queries("q40_ann_ivf")(spark, sf()).count() > 0)
    } finally rmrf(dir)
  }

  test("annSweepFromCodes measures the nprobe/recall tradeoff from the persisted store") {
    val sw = graft.queries.SimilarityQueries.annSweepFromCodes(spark, sf(), Seq(1, 4, 8))
    assert(sw.map(_._1) == Seq(1, 4, 8))
    sw.foreach { case (np, sec, rec) =>
      assert(sec > 0.0, s"non-positive search time at nprobe=$np")
      assert(rec >= 0.0 && rec <= 1.0, s"recall out of range at nprobe=$np: $rec")
    }
    val r = sw.map(_._3)
    assert(r(1) >= 0.5, s"nprobe=4 recall ${r(1)} fell below the q81 floor")
    // no strict monotonicity: with a fixed rerank shortlist, widening
    // the probe can crowd a few true neighbors out of the ADC top-100
    // (measured 1.0 -> 0.92 from np4 to np8 at sf0.1) — assert a floor
    // at the widest probe instead
    assert(r(2) >= 0.7, s"nprobe=8 recall ${r(2)} collapsed: $r")
  }

  test("PQ codebook roundtrips parquet bit-for-bit; loaded-artifact IVF-PQ search == inline") {
    val e = graft.util.SparkUtil.table(spark, sf(), "embeddings")
    val dir = java.nio.file.Files.createTempDirectory("ann-store-pq").toFile
    try {
      val ivfPath = s"${dir.getAbsolutePath}/ivf"
      val pqPath = s"${dir.getAbsolutePath}/pq"
      val builtIvf = AnnIndexStore.buildIvf(e, "vec_id", "embedding", nlist = 8, ivfPath)
      val builtPq = AnnIndexStore.buildPq(e, "vec_id", "embedding", m = 8, k = 8, pqPath)
      val loadedPq = AnnIndexStore.loadPq(spark, pqPath)
      assert(builtPq.length == loadedPq.length)
      assert(builtPq.zip(loadedPq).forall { case (s1, s2) =>
        s1.length == s2.length &&
          s1.zip(s2).forall { case (a, b) => a.sameElements(b) }
      })
      val q = e.filter(col("vec_id") < 3)
      val probeOnly = Similarity.ivfPqTopK(e, "vec_id", "embedding",
          q, "vec_id", "embedding", 5, nlist = 8, nprobe = 4, m = 8, codebook = 8,
          rerank = 20, coarseCentroids = Some(AnnIndexStore.loadIvf(spark, ivfPath)),
          pqCentroids = Some(loadedPq))
        .collect().map(_.toSeq).toSet
      val inline = Similarity.ivfPqTopK(e, "vec_id", "embedding",
          q, "vec_id", "embedding", 5, nlist = 8, nprobe = 4, m = 8, codebook = 8,
          rerank = 20, coarseCentroids = Some(builtIvf), pqCentroids = Some(builtPq))
        .collect().map(_.toSeq).toSet
      assert(probeOnly == inline)
    } finally rmrf(dir)
  }
}
