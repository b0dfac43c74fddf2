package graft

import org.apache.spark.sql.functions._

import graft.operators.Joins

class JoinsSpec extends SparkSpec {
  import spark.implicits._

  test("saltedJoin: result equals plain join under heavy key skew") {
    // 10k rows of one hot key + scattered others
    val left = (Seq.fill(10000)(1L) ++ (2L to 100L)).toDF("k")
      .withColumn("lv", monotonically_increasing_id())
    val right = (1L to 100L).map(k => (k, s"r$k")).toDF("k", "rv")
    val plain = left.join(right, Seq("k")).groupBy("k").count()
    val salted = Joins.saltedJoin(left, right, "k").groupBy("k").count()
    assert(salted.exceptAll(plain).count() == 0 && plain.exceptAll(salted).count() == 0)
    // the hot key's rows spread across multiple salt partitions pre-join
    val spread = left.withColumn("_salt", (rand(seed = 42) * 16).cast("int"))
      .filter(col("k") === 1).select("_salt").distinct().count()
    assert(spread > 4)
  }

  test("asofJoin: nearest preceding match, equal-ts inclusion, deterministic tie-break") {
    import spark.implicits._
    val clicks = Seq(
      (1L, "A", 5L),   // before any view → nulls
      (2L, "A", 20L),  // ties with views at t=20 → matched ("at or before")
      (3L, "A", 25L),  // after both → latest view
      (4L, "B", 30L)   // other key: isolated
    ).toDF("event_id", "user", "t")
    val views = Seq(
      ("A", 10L, 101L, 1.0),
      ("A", 20L, 102L, 2.0), // two views at the same ts:
      ("A", 20L, 103L, 3.0), //   largest ord (103) must win deterministically
      ("B", 29L, 104L, 9.0)
    ).toDF("user", "vt", "ord", "vvalue")
    val out = Joins.asofJoin(clicks, views, Seq("user"), "t", "vt", "ord")
      .collect().map(r => r.getLong(0) ->
        (Option(r.get(3)).map(_.asInstanceOf[Long]), Option(r.get(4)).map(_.asInstanceOf[Double]))).toMap
    assert(out(1L) == ((None, None)))
    assert(out(2L) == ((Some(20L), Some(3.0))))
    assert(out(3L) == ((Some(20L), Some(3.0))))
    assert(out(4L) == ((Some(29L), Some(9.0))))
  }

  test("asofJoin: right row with a NULL value column matches atomically") {
    import spark.implicits._
    // The newest view (ord 102) legitimately carries a NULL vvalue. The
    // matched row must be (vt=20, vvalue=NULL) — per-column last(ignoreNulls)
    // carrying would stitch vt from ord 102 with vvalue from ord 101, a
    // composite row that never existed.
    val clicks = Seq((1L, "A", 25L)).toDF("event_id", "user", "t")
    val views = Seq(
      ("A", 10L, 101L, Some(1.0)),
      ("A", 20L, 102L, None: Option[Double])
    ).toDF("user", "vt", "ord", "vvalue")
    val row = Joins.asofJoin(clicks, views, Seq("user"), "t", "vt", "ord")
      .select("asof_vt", "asof_vvalue").collect().head
    assert(row.getLong(0) == 20L)
    assert(row.isNullAt(1), s"expected NULL vvalue from the matched row, got ${row.get(1)}")
  }

  test("rangeJoin: inclusive bounds, bucket-boundary crossings, no duplicate pairs") {
    import spark.implicits._
    val left = Seq((1L, "A", 19L), (2L, "A", 100L), (3L, "B", 50L))
      .toDF("lid", "user", "lt")
    val right = Seq(
      ("A", 9L),   // 19 - 10: inclusive lower bound of click 1
      ("A", 29L),  // 19 + 10: inclusive upper bound, crosses bucket boundary
      ("A", 30L),  // 19 + 11: out of range
      ("A", 95L),  // in range of click 2
      ("B", 61L)   // out of range of click 3 (+11)
    ).toDF("user", "rt")
    val pairs = Joins.rangeJoin(left, right, Seq("user"), "lt", "rt",
      lower = -10L, upper = 10L)
      .select("lid", "rt").collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.length == pairs.distinct.length, "duplicate pairs emitted")
    assert(pairs.toSet == Set((1L, 9L), (1L, 29L), (2L, 95L)))
  }

  test("bloomSemiJoin: exact semi-join result, zero false negatives, bounded FPR") {
    import spark.implicits._
    import graft.functions.GraftFunctions
    import org.apache.spark.sql.functions.xxhash64
    val fact = (0L until 2000L).map(i => (i, s"row$i")).toDF("k", "payload")
    val dim = (0L until 2000L by 37L).map(Tuple1(_)).toDF("dk") // 55 keys
    // composed result identical to a plain semi join
    val got = Joins.bloomSemiJoin(fact, dim, "k", "dk")
      .select("k").collect().map(_.getLong(0)).toSet
    val expected = fact.join(dim, col("k") === col("dk"), "left_semi")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(got === expected)
    // fact and dim sharing the key NAME must not be ambiguous (the dim
    // side is aliased internally)
    val sameName = Joins.bloomSemiJoin(fact, dim.toDF("k"), "k", "k")
      .select("k").collect().map(_.getLong(0)).toSet
    assert(sameName === expected)
    // probe alone: every dim key passes (no false negatives possible)...
    val words = dim.select(
      GraftFunctions.bloom_build(xxhash64(col("dk")), 1 << 16, 5).as("w"))
      .head().getSeq[Long](0).toArray
    val pass = fact.filter(GraftFunctions.bloom_might_contain(
      xxhash64(col("k")), words, 1 << 16, 5))
      .select("k").collect().map(_.getLong(0)).toSet
    assert(expected.subsetOf(pass), "bloom probe dropped a true match")
    // ...and non-members pass at a bounded false-positive rate:
    // 55 keys × 5 hashes in 65536 bits → theoretical FPR ≈ 1e-11; even
    // 100× slack keeps the disjoint survivor count at zero here, but
    // assert a loose 1% so the test never flakes on constants.
    val fpr = (pass -- expected).size.toDouble / (2000 - expected.size)
    assert(fpr <= 0.01, s"false-positive rate $fpr exceeds bound")
  }
}
