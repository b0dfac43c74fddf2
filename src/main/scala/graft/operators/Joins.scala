package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Join utilities for the cluster-scale failure modes local tests never
  * hit: key skew and repeated co-located joins.
  */
object Joins {

  /** Skew-resistant inner equi-join: the left (large, skewed) side gets a
    * random salt in [0, salts); the right side is replicated once per salt
    * value. A hot key's rows then spread across `salts` reducers instead
    * of serializing through one. Use when AQE's skew handling isn't
    * available (streaming state joins) or a key is pathological enough to
    * need a guaranteed spread. Replication cost: |right| × salts — meant
    * for moderate right sides.
    */
  def saltedJoin(
      left: DataFrame,
      right: DataFrame,
      key: String,
      salts: Int = 16): DataFrame = {
    val saltedLeft = left.withColumn("_salt", (rand(seed = 42) * salts).cast("int"))
    val saltedRight = right.withColumn("_salt",
      explode(expr(s"sequence(0, ${salts - 1})")))
    saltedLeft.join(saltedRight, Seq(key, "_salt")).drop("_salt")
  }

  /** As-of join (nearest preceding match): for every left row, attach the
    * right row with the greatest `rightTs` ≤ `leftTs` within the same
    * keys — without any inequality join. Both sides union into one
    * relation and a running `last(..., ignoreNulls)` window carries the
    * most recent right-side values forward; one shuffle on `keys`, linear
    * scan per partition — the shape that survives 100 TB, unlike a
    * BroadcastNestedLoop theta-join.
    *
    * Right rows sort before left rows at equal timestamps (ties match
    * "at or before"), and `rightOrd` (a unique right-side id) makes the
    * winner among equal right timestamps deterministic: largest ord wins.
    * Every right column except keys and `rightOrd` comes back as
    * `asof_<name>` (null when no preceding right row exists). Left and
    * right column names must not collide except on `keys`.
    *
    * All right values ride in ONE struct through the window (left rows
    * contribute a NULL struct), so a right row that legitimately holds a
    * NULL in one value column still matches atomically — per-column
    * `last(ignoreNulls)` would stitch fields from different right rows
    * into a composite that never existed. */
  def asofJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTs: String,
      rightTs: String,
      rightOrd: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val rightVals = right.columns.filterNot(c => keys.contains(c) || c == rightOrd)
    require(rightVals.nonEmpty, "right side carries no value columns")
    val l = left
      .withColumn("__t", col(leftTs)).withColumn("__side", lit(1))
      .withColumn("__ord", lit(Long.MaxValue))
    val r = right
      .withColumn("__t", col(rightTs)).withColumn("__side", lit(0))
      .withColumn("__ord", col(rightOrd).cast("long")).drop(rightOrd)
    val u = l.unionByName(r, allowMissingColumns = true)
      .withColumn("__rv",
        when(col("__side") === 0, struct(rightVals.map(col): _*)))
    val w = Window.partitionBy(keys.map(col): _*)
      .orderBy(col("__t"), col("__side"), col("__ord"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    u.withColumn("__carried", last(col("__rv"), ignoreNulls = true).over(w))
      .filter(col("__side") === 1)
      .select(left.columns.map(col) ++
        rightVals.map(v => col("__carried").getField(v).as(s"asof_$v")): _*)
  }

  /** Range join: left × right pairs with `rightTime` in
    * `[leftTime + lower, leftTime + upper]` under equal `keys`, via the
    * bucket trick — left rows bucket on `leftTime div width`, right rows
    * replicate to every bucket their match interval can touch (≤ 3 for
    * width = upper − lower), and an equi-join + residual filter does the
    * rest. Shuffle volume is |left| + ~2|right|, never the |left|×|right|
    * of the nested-loop plan Spark would otherwise pick for a theta join.
    * Time values must be non-negative (`div` truncation = floor). */
  def rangeJoin(
      left: DataFrame,
      right: DataFrame,
      keys: Seq[String],
      leftTime: String,
      rightTime: String,
      lower: Long,
      upper: Long): DataFrame = {
    require(upper > lower, "empty range")
    val width = upper - lower
    val lb = left.withColumn("__b", expr(s"$leftTime div $width"))
    val rb = right.withColumn("__b",
      explode(expr(s"sequence(($rightTime - ($upper)) div $width, ($rightTime - ($lower)) div $width)")))
    lb.join(rb, (keys :+ "__b").toSeq)
      .filter(col(rightTime) >= col(leftTime) + lower &&
        col(rightTime) <= col(leftTime) + upper)
      .drop("__b")
  }

  /** Bloom-accelerated semi join: exact `left_semi` of `fact` against
    * `dim`, with a bloom-filter prefilter deleting non-matching fact rows
    * AT THE SCAN, before the join shuffle. The filter is built by one
    * distributed aggregate over `dim` (map-side OR-combined words,
    * `numBits/8` bytes shuffled per task — constant in row count), pulled
    * to the driver as a single row, and baked into a codegen'd probe
    * expression on the fact scan — the same lifecycle as a broadcast
    * variable, sized `numBits/8` bytes regardless of dim's row width.
    * False positives survive the probe but die in the residual exact
    * semi join, so results are bit-identical to a plain semi join; false
    * negatives cannot happen. At 100 TB this is the canonical
    * star-schema reduction: the fact shuffle carries only rows that
    * (probably) match, at ~1% FPR for numBits ≈ 10×|dim keys|.
    *
    * Both sides hash with the identical `xxhash64(key)` — the build and
    * probe MUST agree on the hash function. */
  def bloomSemiJoin(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      numBits: Int = 1 << 16,
      numHashes: Int = 5): DataFrame = {
    import graft.functions.GraftFunctions
    val words = dim
      .select(GraftFunctions.bloom_build(xxhash64(col(dimKey)), numBits, numHashes).as("w"))
      .head().getSeq[Long](0).toArray
    // the dim key is aliased so fact and dim may share a key NAME — an
    // unaliased col(factKey) === col(dimKey) is ambiguous when they match
    fact
      .filter(GraftFunctions.bloom_might_contain(
        xxhash64(col(factKey)), words, numBits, numHashes))
      .join(dim.select(col(dimKey).as("__dim_key")),
        col(factKey) === col("__dim_key"), "left_semi")
  }
}
