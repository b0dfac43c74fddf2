package graft

import org.apache.spark.sql.functions._

import graft.operators.{Multimodal, Similarity}
import graft.util.SparkUtil

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  test("cosine kernel: known values, zero-norm guard") {
    val df = Seq(
      (Array(1.0f, 0.0f), Array(1.0f, 0.0f), 1.0),
      (Array(1.0f, 0.0f), Array(0.0f, 1.0f), 0.0),
      (Array(1.0f, 1.0f), Array(1.0f, 0.0f), 1.0 / math.sqrt(2.0)),
      (Array(0.0f, 0.0f), Array(1.0f, 0.0f), 0.0) // zero norm → 0.0
    ).toDF("a", "b", "want")
    val got = df.select(Similarity.cosine(col("a"), col("b")).as("c"), col("want"))
      .collect()
    got.foreach(r => assert(math.abs(r.getDouble(0) - r.getDouble(1)) < 1e-15))
  }

  test("bruteForceTopK: self is rank 1 with cosine 1.0") {
    val e = SparkUtil.table(spark, sf("sf0.001"), "embeddings")
    val out = Similarity.bruteForceTopK(
      e, "vec_id", "embedding", e.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
    val top = out.filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0L until 3L).foreach { q =>
      assert(top(q)._1 == q)
      assert(math.abs(top(q)._2 - 1.0) < 1e-12)
    }
  }

  test("centroids: exact per-label element-wise means") {
    val df = Seq(
      (1, Array(1.0f, 3.0f)),
      (1, Array(3.0f, 5.0f)),
      (2, Array(-2.0f, 0.5f))
    ).toDF("label", "embedding")
    val got = Similarity.centroids(df, col("label"), col("embedding"))
      .collect().map(r => (r.getInt(0), r.getInt(1)) -> (r.getDouble(2), r.getLong(3))).toMap
    assert(got == Map(
      (1, 0) -> (2.0, 2L), (1, 1) -> (4.0, 2L),
      (2, 0) -> (-2.0, 1L), (2, 1) -> (0.5, 1L)))
  }

  test("quantizeInt8: exact codes on known vectors, round-trip bound, zero-vector guard") {
    val df = Seq(
      (1L, Array(1.0f, -2.0f, 0.5f, 0.0f)),
      (2L, Array(0.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.quantizeInt8(df, "embedding")
      .collect().map(r => r.getLong(0) -> (r.getDouble(2), r.getSeq[Int](3))).toMap
    val scale = 2.0 / 127.0
    assert(got(1L)._1 == scale)
    assert(got(1L)._2 == Seq(64, -127, 32, 0)) // floor(63.5+.5), floor(-126.5), floor(32.25), 0
    assert(got(2L)._1 == 0.0 && got(2L)._2 == Seq(0, 0))
    // dequantization error ≤ scale/2 per element
    val errs = Seq(1.0, -2.0, 0.5, 0.0).zip(got(1L)._2)
      .map { case (e, q) => math.abs(e - q * scale) }
    assert(errs.forall(_ <= scale / 2 + 1e-12))
  }

  test("bruteForceTopKInt8: self is rank 1, high recall vs float-space search") {
    val e = SparkUtil.table(spark, sf("sf0.001"), "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val int8 = Similarity.bruteForceTopKInt8(
      e, "vec_id", "embedding", q, "vec_id", "embedding", 10)
    val top = int8.filter(col("rank") === 1).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    (0L until 5L).foreach { qid =>
      assert(top(qid)._1 == qid, s"query $qid: self not rank 1 in int8 space")
      assert(math.abs(top(qid)._2 - 1.0) < 1e-12)
    }
    val float = Similarity.bruteForceTopK(
      e, "vec_id", "embedding", q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = int8.select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (float intersect got).size.toDouble / float.size
    assert(recall >= 0.9, s"int8 recall $recall vs float space — quantization too lossy")
  }

  test("pqTopK: exact when the codebook reconstructs perfectly; real recall on the corpus") {
    // vectors drawn from 2 distinct values per 2-dim subspace: Lloyd with
    // k=2 converges to those exact points, reconstruction is lossless,
    // and PQ scores must equal exact cosine
    val a = Array(1.0f, 2.0f); val b = Array(-1.0f, 0.5f)
    val vecs = Seq(
      (0L, a ++ a), (1L, a ++ b), (2L, b ++ a), (3L, b ++ b),
      (4L, a ++ a), (5L, b ++ a))
      .toDF("vec_id", "embedding")
    val pq = Similarity.pqTopK(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") < 2), "vec_id", "embedding", 6, m = 2, codebook = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    val exact = Similarity.bruteForceTopK(vecs, "vec_id", "embedding",
      vecs.filter(col("vec_id") < 2), "vec_id", "embedding", 6)
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getDouble(2)).toMap
    exact.foreach { case (key, cos) =>
      assert(pq.contains(key) && math.abs(pq(key) - cos) < 1e-12,
        s"$key: pq=${pq.get(key)} exact=$cos")
    }
    // lossy regime: trained codebook on the synthetic corpus with the
    // q59 config (m=16/k=16 + 50-deep exact rerank); probed recall 0.9
    // at sf0.01 — assert a robust floor
    val e = SparkUtil.table(spark, sf("sf0.001"), "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val got = Similarity.pqTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10, m = 16, codebook = 16, rerank = 50)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val truth = Similarity.bruteForceTopK(e, "vec_id", "embedding",
      q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (truth intersect got).size.toDouble / truth.size
    assert(recall >= 0.7, s"pq+rerank recall $recall too low for m=16,k=16,rerank=50")
  }

  test("topK plan shape: heap aggregate with map-side combine, no ranking window") {
    val e = SparkUtil.table(spark, sf("sf0.001"), "embeddings")
    val out = Similarity.bruteForceTopK(
      e, "vec_id", "embedding", e.filter(col("vec_id") < 3), "vec_id", "embedding", 5)
    val plan = out.queryExecution.executedPlan.toString
    // no per-query single-reducer exchange: the ranking window is gone...
    assert(!plan.contains("Window"), s"ranking window present:\n$plan")
    // ...replaced by the bounded-heap aggregate, partial (map-side) +
    // final, so shuffled bytes are O(partitions × queries × k)
    assert(plan.contains("top_k_by_score"), plan)
    assert(plan.contains("partial_top_k_by_score"), s"no map-side combine:\n$plan")
  }

  test("topK heap matches ranking-window semantics incl. tie-break") {
    import org.apache.spark.sql.expressions.Window
    val e = SparkUtil.table(spark, sf("sf0.001"), "embeddings")
    val q = e.filter(col("vec_id") < 5)
    val got = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    // reference: the old window formulation, computed independently
    val qb = broadcast(q.select(col("vec_id").as("query_id"), col("embedding").as("qv")))
    val want = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("cv"))
      .crossJoin(qb)
      .withColumn("cosine", Similarity.cosine(col("cv"), col("qv")))
      .withColumn("rank", row_number().over(
        Window.partitionBy("query_id").orderBy(col("cosine").desc, col("neighbor_id").asc)))
      .filter(col("rank") <= 10)
      .select("query_id", "neighbor_id", "cosine", "rank")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getInt(3))).toSet
    assert(got == want)
  }

  test("lshTopK: recall vs brute force is reasonable at few planes") {
    val e = SparkUtil.table(spark, sf("sf0.001"), "embeddings")
    val q = e.filter(col("vec_id") < 10)
    val brute = Similarity.bruteForceTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", 10)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Similarity.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding", 10, planes = 4)
      .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val recall = (brute intersect lsh).size.toDouble / brute.size
    assert(recall >= 0.3, s"recall $recall too low") // few planes, single probe
    // every LSH hit must be a genuine corpus member with itself at rank 1
    assert(lsh.exists { case (a, b) => a == b })
  }

  test("lshTopK: probe radius clamps to plane count — no duplicate pairs, no rank gaps") {
    // planes=1, probeRadius=2 used to render sequence(0,-1) — a DESCENDING
    // [0,-1] probe list with out-of-range flips that duplicated buckets, so
    // the same (query, neighbor) could enter the heap twice
    val e = SparkUtil.table(spark, sf("sf0.001"), "embeddings")
    val q = e.filter(col("vec_id") < 3)
    val out = Similarity.lshTopK(e, "vec_id", "embedding", q, "vec_id", "embedding",
      10, planes = 1, probeRadius = 2)
      .select("query_id", "neighbor_id", "rank").collect()
    val pairs = out.map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == pairs.distinct.length,
      "duplicate (query, neighbor) pairs — probe buckets not distinct")
    // with 1 plane and its flip, every corpus row is probed: exact top-10
    out.groupBy(_.getLong(0)).foreach { case (_, rs) =>
      assert(rs.map(_.getInt(2)).sorted.sameElements(1 to 10))
    }
  }

  test("multimodal: stub decode is deterministic, partition-shaped, joinable") {
    val media = Multimodal.syntheticMedia(spark, 50)
    val f1 = Multimodal.featureFrame(media).orderBy("media_id").collect()
    val f2 = Multimodal.featureFrame(media.repartition(7)).orderBy("media_id").collect()
    assert(f1.length == 50)
    // determinism across partitionings
    assert(f1.map(_.getLong(0)).sameElements(f2.map(_.getLong(0))))
    assert(f1.map(_.getInt(2)).sameElements(f2.map(_.getInt(2))))
    // features feed the similarity ops (self-similarity = 1)
    val ff = Multimodal.featureFrame(media)
    val self = ff.select(Similarity.cosine(col("features"), col("features")).as("c"))
      .agg(min("c")).as[Double].collect().head
    assert(math.abs(self - 1.0) < 1e-12)
  }

  test("frame sampling: stride math") {
    val media = Multimodal.syntheticMedia(spark, 30)
    val frames = Multimodal.sampleFrames(media, strideMs = 500L)
    val counts = frames.groupByKey(_.media_id).count().collect().toMap
    val durations = media.filter(_.kind == "video").collect().map(m => m.media_id -> m.duration_ms).toMap
    durations.foreach { case (id, dur) =>
      assert(counts(id) == (dur + 499) / 500)
    }
  }

  test("kCenterAssign: farthest-point order and nearest-center assignment on planted axes") {
    // seed = min id (0). Round 1: ids 2 and 3 are both orthogonal to 0
    // (mc = 0) while 1 hugs 0 — the (mc, id) tie breaks to 2. Round 2:
    // 3 is orthogonal to BOTH chosen (mc = 0) — picked. 1 never wins.
    val df = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f, 0.0f))
    ).toDF("vec_id", "embedding")
    val got = Similarity.kCenterAssign(df, "vec_id", "embedding", k = 3)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getBoolean(3))).toMap
    assert(got(0L) == (0L, true))
    assert(got(2L) == (2L, true))
    assert(got(3L) == (3L, true))
    assert(got(1L)._1 == 0L && !got(1L)._2) // assigned to its hug, not a center
    // k = n degenerates to every point a center of itself
    val all = Similarity.kCenterAssign(df, "vec_id", "embedding", k = 4)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(all == Map(0L -> 0L, 1L -> 1L, 2L -> 2L, 3L -> 3L))
  }

  test("pq_sse kernel equals the composed encode+SSE chain bit-for-bit") {
    import spark.implicits._
    // m=2 subspaces of dim 2, k=2 centroids each — hand-checkable geometry
    val cents: Array[Array[Array[Float]]] = Array(
      Array(Array(1f, 0f), Array(0f, 1f)),   // subspace 0: x-axis vs y-axis
      Array(Array(1f, 1f), Array(-1f, 1f)))  // subspace 1: the two diagonals
    val vecs = Seq(
      (0L, Array(3f, 0.5f, 2f, 2.5f)),
      (1L, Array(0.1f, 4f, -1f, 0.9f)),
      (2L, Array(0f, 0f, 1f, -1f)))          // zero-norm slice → score 0.0 both, FIRST wins
    val df = vecs.toDF("vec_id", "embedding")
    val got = df.select(col("vec_id"),
        graft.functions.GraftFunctions.pq_sse(col("embedding"),
          cents.flatten.flatten, 2, 2, 2).as("sses"))
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    // expected: the composed chain — cosine argmax (first max wins, the
    // nearestCell/array_position semantics) then index-order (x-y)² fold
    def cos(a: Seq[Double], b: Seq[Double]): Double = {
      val dot = a.zip(b).map { case (x, y) => x * y }.foldLeft(0.0) {
        case (acc, t) => acc + t }
      val na = a.map(x => x * x).sum
      val nb = b.map(x => x * x).sum
      if (na == 0.0 || nb == 0.0) 0.0 else dot / (math.sqrt(na) * math.sqrt(nb))
    }
    vecs.foreach { case (id, v) =>
      val exp = (0 until 2).map { sp =>
        val sl = v.slice(sp * 2, sp * 2 + 2).map(_.toDouble).toSeq
        val scores = cents(sp).map(c => cos(sl, c.map(_.toDouble).toSeq))
        val code = scores.indexOf(scores.max)
        sl.zip(cents(sp)(code)).foldLeft(0.0) {
          case (acc, (x, y)) => acc + (x - y.toDouble) * (x - y.toDouble) }
      }
      assert(got(id) == exp, s"vec $id")
    }
    // the zero-norm slice must take code 0 (first max wins on 0.0 == 0.0)
    val sse2sub0 = got(2L).head
    val expZero = 0.0 + (0.0 - 1.0) * (0.0 - 1.0) + 0.0 // (0,0) vs centroid (1,0)
    assert(sse2sub0 == expZero)
  }
}
