package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.ExactAgg._
import graft.util.SparkUtil.table

/** Relational engine breadth over the TPC-H-ish star schema: scan with
  * pushdown, hash/broadcast joins, distinct, set ops, semi/anti joins,
  * ranking window functions, rollup, top-k. The reference itself uses only
  * a slice of this (SURVEY.md §2.11 lists the deliberate absences) — these
  * prove the engine is a complete analytics surface, not just the pipeline.
  *
  * Scale notes: dimension tables (region, nation) are broadcast
  * explicitly; fact-fact joins shuffle on their keys and rely on AQE for
  * skew/coalesce. Filters are literal predicates that push to the parquet
  * scan (verified via explain in BenchSpec).
  */
object RelationalQueries {

  private val cutoff = "1998-09-02"

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // TPC-H Q1 shape: scan + filter pushdown + wide hash aggregation.
    "q10_pricing_summary" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(cutoff).cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_base_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("sum_disc_price"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")) * (lit(1.0) + col("l_tax"))).as("sum_charge"),
          davg(col("l_quantity")).as("avg_qty"),
          davg(col("l_extendedprice")).as("avg_price"),
          davg(col("l_discount")).as("avg_disc"),
          count(lit(1)).as("count_order"))),

    // TPC-H Q5 shape: multi-join with broadcast dims, revenue per nation.
    "q11_revenue_by_nation" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val n = broadcast(table(s, dir, "nation"))
      val r = broadcast(table(s, dir, "region").filter(col("r_name") === "ASIA"))
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("n_name"))
        .agg(
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"),
          count(lit(1)).as("n_items"))
    }),

    // Top-k: global sort + limit with deterministic tiebreak.
    "q12_top_orders" -> ((s, dir) =>
      table(s, dir, "orders")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
        .limit(10)
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))),

    // Fact-fact-dim join, revenue per market segment.
    "q13_mktsegment_revenue" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      li.join(o, col("l_orderkey") === col("o_orderkey"))
        .join(c, col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_mktsegment"))
        .agg(dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount"))).as("revenue"))
    }),

    // Distinct aggregation.
    "q14_distinct_users" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_users"), count(lit(1)).as("n_events"))),

    // Set semantics: UNION (distinct) of two predicates.
    "q15_union_distinct" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
        .union(c.filter(col("c_acctbal") > 9000.0).select(col("c_custkey")))
        .distinct()
    }),

    // Left-semi join (EXISTS).
    "q16_semi_join" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_semi")
        .select(col("c_custkey"), col("c_mktsegment"))
    }),

    // Left-anti join (NOT EXISTS): customers without any urgent order.
    "q17_anti_join" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .select(col("c_custkey"), col("c_acctbal"))
    }),

    // Ranking window function: top-2 orders per customer.
    "q18_window_rank" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_custkey"))
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 2)
        .select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"), col("rn"))
    }),

    // Rollup over region → nation with exact money sums.
    "q19_rollup" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val n = broadcast(table(s, dir, "nation"))
      val r = broadcast(table(s, dir, "region"))
      c.join(n, col("c_nationkey") === col("n_nationkey"))
        .join(r, col("n_regionkey") === col("r_regionkey"))
        .rollup(col("r_name"), col("n_name"))
        .agg(count(lit(1)).as("n_customers"), dsum(col("c_acctbal")).as("sum_bal"))
    }),

    // SQL-text interface: TPC-H Q3 shape via spark.sql over registered
    // views — the oracle runs the *identical* SQL string in DuckDB.
    "q35_sql_tpch3" -> ((s, dir) => {
      Seq("customer", "orders", "lineitem").foreach(t =>
        table(s, dir, t).createOrReplaceTempView(t))
      s.sql(sqlQ3)
    }),

    // Subquery battery: correlated scalar + correlated EXISTS +
    // uncorrelated scalar, one shared SQL string in both engines.
    "q84_sql_subqueries" -> ((s, dir) => {
      Seq("customer", "orders").foreach(t =>
        table(s, dir, t).createOrReplaceTempView(t))
      s.sql(sqlSubqueries)
    }),

    // CUBE over order status × priority.
    "q36_cube" -> ((s, dir) =>
      table(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("sum_price"))),

    // Session windows (300 s gap) per user over the events stream table.
    "q37_session_stats" -> ((s, dir) => {
      val ev = graft.util.SparkUtil.events(s, dir)
      ev.groupBy(col("user_id"), session_window(col("ts"), "300 seconds"))
        .agg(count(lit(1)).as("cnt"))
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_sessions"),
          sum(col("cnt")).as("n_events"),
          max(col("cnt")).as("max_session_events"))
    }),

    // Approximate sketches: HLL distinct counts + a sampled median per
    // segment — the constant-memory path for 100 TB cardinalities.
    // Restated (round 6) over this repo's DETERMINISTIC sketch forms so
    // the estimates themselves oracle-check bit-for-bit: the md5-derived
    // 256-register HLL (q97's recipe — integer register sums, one final
    // IEEE divide) and a content-derived 1/4 sample resolved to its
    // exact type-1 median by the multi-rank selection operator. Same
    // sketch quality class as the engine-opaque built-ins, none of their
    // engine-specific randomness; SketchSpec still bounds the error.
    "q39_approx_sketches" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val hex = md5(col("o_custkey").cast("string"))
      val regs = o.select(col("o_orderpriority"),
          conv(substring(hex, 1, 2), 16, 10).cast("long").as("b"),
          (lit(53) - length(bin(conv(substring(hex, 3, 13), 16, 10)
            .cast("long")))).as("r"))
        .groupBy(col("o_orderpriority"), col("b"))
        .agg(max(col("r")).as("m"))
        .groupBy(col("o_orderpriority"))
        .agg(count(lit(1)).as("nregs"),
          sum(expr("shiftleft(1L, cast(52 - m as int))")).as("sp"))
      val regSum = col("sp") + (lit(256L) - col("nregs")) * lit(4503599627370496L)
      val hll = regs.select(col("o_orderpriority"),
        (lit(hllConst) / regSum.cast("double")).as("sketch_custs"))
      val sample = o.filter(
        substring(md5(col("o_orderkey").cast("string")), 1, 2) < "40")
      val med = graft.operators.TimeSeriesOps.exactQuantiles(
          sample, "o_orderpriority", "o_totalprice", "o_orderkey",
          Seq(0.5), materializeInput = false)
        .select(col("o_orderpriority"),
          col("value").as("sample_p50"), col("n").as("n_sampled"))
      val n = o.groupBy(col("o_orderpriority")).agg(count(lit(1)).as("n"))
      hll.join(med, "o_orderpriority").join(n, "o_orderpriority")
    }),

    // Exact percentiles (Spark percentile ≡ DuckDB quantile_cont).
    "q38_percentiles" -> ((s, dir) =>
      table(s, dir, "lineitem")
        .groupBy(col("l_returnflag"))
        .agg(
          expr("percentile(l_extendedprice, 0.5)").as("p50"),
          expr("percentile(l_extendedprice, 0.95)").as("p95"),
          expr("percentile(l_extendedprice, 0.99)").as("p99"),
          min(col("l_extendedprice")).as("min_price"),
          max(col("l_extendedprice")).as("max_price")))
  ,

    // As-of join: each click event picks up the most recent view (ts +
    // value) at or before it per user — union + running-window operator
    // (graft.operators.Joins.asofJoin), one shuffle, no theta join.
    // Time keys emitted as epoch-micros longs for engine-neutral hashing.
    "q47_asof_join" -> ((s, dir) => {
      val ev = graft.util.SparkUtil.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
      val views = ev.filter(col("event_type") === "view")
        .select(col("user_id"), unix_micros(col("ts")).as("view_t_us"),
          col("event_id").as("view_ord"), col("value").as("view_value"))
      graft.operators.Joins.asofJoin(
        clicks, views, Seq("user_id"), "t_us", "view_t_us", "view_ord")
    }),

    // Grouped top-k via the bounded-heap aggregate (the ANN top-k kernel
    // generalized to relational work): top-3 customers by balance per
    // market segment with NO ranking window — map-side k-entry heaps
    // merge across one shuffle, so shuffled rows are groups × k, constant
    // in table size, where the window plan funnels every row of a
    // segment through a single reducer. Tie-break (score desc, id asc)
    // matches ROW_NUMBER ordering exactly.
    "q49_group_topk" -> ((s, dir) =>
      table(s, dir, "customer")
        .groupBy(col("c_mktsegment"))
        .agg(graft.functions.GraftFunctions
          .top_k_by_score(col("c_acctbal"), col("c_custkey"), 3).as("topk"))
        .select(col("c_mktsegment"), posexplode(col("topk")).as(Seq("pos", "t")))
        .select(col("c_mktsegment"), col("t.id").as("c_custkey"),
          col("t.score").as("c_acctbal"), (col("pos") + 1).as("rnk"))),

    // Range join: errors within ±60 s of each click per user, counted —
    // bucketed-replication equi-join (Joins.rangeJoin), shuffle volume
    // |left| + ~2|right| instead of a nested-loop theta join.
    "q48_range_join" -> ((s, dir) => {
      val ev = graft.util.SparkUtil.events(s, dir)
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id"), col("user_id"), unix_micros(col("ts")).as("t_us"))
      val errors = ev.filter(col("event_type") === "error")
        .select(col("user_id"), unix_micros(col("ts")).as("e_t_us"))
      val counts = graft.operators.Joins.rangeJoin(
        clicks, errors, Seq("user_id"), "t_us", "e_t_us",
        lower = -60000000L, upper = 60000000L)
        .groupBy(col("event_id")).agg(count(lit(1)).as("n"))
      clicks.join(counts, Seq("event_id"), "left")
        .select(col("event_id"), col("user_id"), col("t_us"),
          coalesce(col("n"), lit(0L)).as("n_errors_1m"))
    }),

    // PIVOT: hour-of-day × event-type value sums. The value list is
    // explicit, so the plan is a single pass with no distinct-values
    // pre-query — the shape that matters when the pivoted scan is 100 TB.
    "q64_pivot" -> ((s, dir) =>
      graft.util.SparkUtil.events(s, dir)
        .withColumn("hr", hour(col("ts")).cast("long"))
        .groupBy(col("hr"))
        .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
        .agg(dsum(col("value")))),

    // GROUPING SETS (the general form beneath rollup/cube): identical
    // SQL text runs in both engines, like q35.
    "q65_grouping_sets" -> ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(sqlGroupingSets)
    }),

    // Bloom-accelerated semi join: the codegen'd probe deletes
    // non-matching fact rows at the scan; the residual exact semi join
    // kills false positives, so the result is bit-identical to the plain
    // EXISTS the oracle runs. Aggregated so the output stays small.
    "q67_bloom_semi" -> ((s, dir) => {
      val dim = table(s, dir, "customer").filter(col("c_acctbal") > 5000.0)
        .select(col("c_custkey"))
      val fact = graft.util.SparkUtil.events(s, dir)
      graft.operators.Joins.bloomSemiJoin(fact, dim, "user_id", "c_custkey")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
    }),

    // Window-function battery: value-offset and distribution functions
    // over one partitioned sort — lead, ntile, percent_rank, cume_dist,
    // first/last value. All rank-derived or exact-ratio outputs, so the
    // oracle matches bit-for-bit.
    "q71_window_battery" -> ((s, dir) => {
      val w = Window.partitionBy(col("o_orderpriority"))
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .filter(col("o_orderstatus") === "F")
        .select(
          col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"),
          lead(col("o_totalprice"), 1).over(w).as("next_price"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"),
          cume_dist().over(w).as("cume"),
          first(col("o_orderkey")).over(w).as("cheapest_key"))
    }),

    // Set operations: INTERSECT and EXCEPT (distinct semantics) —
    // completing §2.8 beyond union.
    "q72_intersect_except" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val building = c.filter(col("c_mktsegment") === "BUILDING").select(col("c_custkey"))
      val rich = c.filter(col("c_acctbal") > 5000.0).select(col("c_custkey"))
      building.intersect(rich).withColumn("side", lit("both"))
        .union(building.except(rich).withColumn("side", lit("building_only")))
    }),

    // Equal-width histogram: global min/max as a broadcast 1-row scalar,
    // then a pure per-row bucket expression — two scans, no shuffle
    // beyond the final tiny aggregation; floor math is engine-portable
    // where width_bucket built-ins are not.
    "q70_histogram" -> ((s, dir) => {
      val ev = graft.util.SparkUtil.events(s, dir)
      val bounds = ev.agg(min(col("value")).as("lo"), max(col("value")).as("hi"))
      ev.crossJoin(broadcast(bounds))
        .withColumn("bucket",
          when(col("hi") === col("lo"), lit(0L))
            .otherwise(least(
              floor((col("value") - col("lo")) / ((col("hi") - col("lo")) / lit(10.0))),
              lit(9L))))
        .groupBy(col("event_type"), col("bucket"))
        .agg(count(lit(1)).as("n"),
          min(col("value")).as("lo_v"), max(col("value")).as("hi_v"))
    }),

    // FULL OUTER join: high-balance customers ⟗ urgent-order counts —
    // both null-padded sides must survive.
    "q66_full_outer" -> ((s, dir) => {
      val c = table(s, dir, "customer").filter(col("c_acctbal") > 9000.0)
        .select(col("c_custkey"), col("c_acctbal"))
      val o = table(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
        .groupBy(col("o_custkey")).agg(count(lit(1)).as("n_urgent"))
      c.join(o, col("c_custkey") === col("o_custkey"), "full_outer")
        .select(
          coalesce(col("c_custkey"), col("o_custkey")).as("custkey"),
          col("c_acctbal"), col("n_urgent"))
    }),

    // Change-log compaction: latest event per (user, event_type) —
    // the merge-on-read snapshot an incremental ingest keeps current.
    // One shuffle on a high-cardinality key; event_id breaks ts ties.
    // Timestamps compact to micros (ts_us): DuckDB reads the nano
    // parquet at micro precision, so the oracle can only mirror micros.
    "q76_latest_state" -> ((s, dir) =>
      graft.operators.Compaction.latestSnapshot(
        graft.util.SparkUtil.events(s, dir)
          .select(col("user_id"), col("event_type"),
            expr("ts_ns div 1000").as("ts_us"), col("event_id"), col("value")),
        keyCols = Seq("user_id", "event_type"),
        tsCol = "ts_us", tieCol = "event_id")),

    // Skew-safe salted join: lineitem ⋈ supplier on l_suppkey with the
    // supplier side replicated across 8 salts, then revenue per nation.
    // The salt spreads any pathological key over 8 reducers; the result
    // is provably salt-invariant, which the plain-join oracle checks.
    "q77_salted_join" -> ((s, dir) =>
      graft.operators.Joins.saltedJoin(
        table(s, dir, "lineitem")
          .select(col("l_suppkey").as("s_suppkey"),
            (col("l_extendedprice") * (lit(1.0) - col("l_discount")))
              .as("rev")),
        table(s, dir, "supplier").select(col("s_suppkey"), col("s_nationkey")),
        key = "s_suppkey", salts = 8)
        .groupBy(col("s_nationkey"))
        .agg(dsum(col("rev")).as("revenue"),
          count(lit(1)).as("n_items"))),

    // Recursive CTE (Spark 4's WITH RECURSIVE, executed as an iterative
    // UnionLoop): generate the full day calendar spanning the event log,
    // then gap-fill per-type daily counts with explicit zeros — calendar
    // densification, the standard prep before any time-series model.
    // The recursion iterates over INT day numbers (a DATE recursion
    // column trips the loop's row decoder in 4.1) in 32-DAY strides, each
    // stride exploded into its ≤32 in-range days: every UnionLoop
    // iteration is a full micro-job, so recursion granularity is a
    // fixed-cost knob — week strides already cut wall time ~5× vs daily,
    // and 32-day strides drop a month-scale log to ONE anchor row + one
    // termination probe (r9's driver run showed this query alone drift
    // 6.5× under JVM contention; fewer rounds shrink that exposure).
    // Working set stays one row per
    // stride — driver-bounded like a broadcast scalar. The calendar ×
    // event-type cross join is two tiny derived sides (whitelisted in
    // PlanShapeSpec); the count join stays a hash join.
    "q85_gap_fill" -> ((s, dir) => {
      graft.util.SparkUtil.events(s, dir).createOrReplaceTempView("ev")
      s.sql(sqlGapFill)
    }),

    // LATERAL correlated subquery with ORDER BY + LIMIT (per-nation
    // top-2 customers): Catalyst decorrelates the limit into a ranked
    // join — the remaining relational join form q49's heap aggregate
    // does not cover. Identical SQL text runs in DuckDB.
    "q87_lateral_topn" -> ((s, dir) => {
      Seq("customer", "nation").foreach(t =>
        table(s, dir, t).createOrReplaceTempView(t))
      s.sql(sqlLateralTopN)
    }),

    // Semi-structured extraction: pull a typed field out of the JSON
    // `props` payload column (get_json_object path probe → long) and
    // aggregate per type. Per-row codegen'd parsing, no shuffle before
    // the final small aggregation; malformed/missing keys degrade to
    // null and are counted, never thrown (the quarantine contract).
    "q88_json_extract" -> ((s, dir) =>
      table(s, dir, "events")
        .select(col("event_type"),
          get_json_object(col("props"), "$.k").cast("long").as("k"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"),
          sum(col("k")).as("sum_k"),
          min(col("k")).as("min_k"),
          max(col("k")).as("max_k"),
          count(when(col("k").isNull, 1)).as("n_bad"))),

    // UNPIVOT (wide → long relational reshape, the inverse of q64's
    // pivot): per-status metrics melted into (metric, val) rows. One
    // aggregation then a per-row Expand — no extra shuffle. Identical
    // SQL text runs in DuckDB.
    "q89_unpivot" -> ((s, dir) => {
      table(s, dir, "orders").createOrReplaceTempView("orders")
      s.sql(sqlUnpivot)
    }),

    // HyperLogLog distinct-count estimate, oracle-checked BIT-EXACT —
    // the approx-distinct sibling of q96's Count-Min. Engine built-ins
    // (approx_count_distinct / DuckDB's HLL) carry opaque state that can
    // never hash-match; this one derives every register from md5, which
    // both engines compute identically: bucket = first 8 hash bits
    // (256 registers), rank = position of the first 1-bit in the next
    // 52. Registers aggregate with MAX (map-side combined; shuffled rows
    // ≤ groups × 256 regardless of input size), and the harmonic-mean
    // denominator Σ 2^(-M_b) is kept EXACT as the integer Σ 2^(52-M_b)
    // (≤ 256·2^52 < 2^61), so the only float ops are one cast and one
    // division — deterministic IEEE in both engines. Raw HLL estimate
    // only: the small/large-range corrections need ln(), whose last ulp
    // is libm-dependent. Exact distinct joins in for the error audit.
    "q97_hll_distinct" -> ((s, dir) => {
      val hex = md5(col("user_id").cast("string"))
      val regs = table(s, dir, "events")
        .select(col("event_type"),
          conv(substring(hex, 1, 2), 16, 10).cast("long").as("b"),
          (lit(53) - length(bin(conv(substring(hex, 3, 13), 16, 10)
            .cast("long")))).as("r"))
        .groupBy(col("event_type"), col("b"))
        .agg(max(col("r")).as("m"))
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("nregs"),
          sum(expr("shiftleft(1L, cast(52 - m as int))")).as("sp"))
      val exact = table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
      val regSum = col("sp") + (lit(256L) - col("nregs")) * lit(4503599627370496L)
      regs.join(exact, "event_type")
        .select(col("event_type"),
          col("nregs").cast("long").as("n_regs"),
          regSum.cast("long").as("reg_sum"),
          (lit(hllConst) / regSum.cast("double")).as("hll_est"),
          col("n_exact"))
    }),

    // HLL sketch MERGE, oracle-checked BIT-EXACT — the property q97's
    // estimate rests on at 100 TB: registers are mergeable (max is
    // associative/commutative/idempotent), so the global sketch is a
    // register-max ROLLUP of the per-group sketches — no second scan of
    // the input, which is exactly how per-shard sketches combine on a
    // 1000-executor cluster (and why approx-distinct needs no re-read
    // when partitions move). The '__all__' scope here is computed FROM
    // q97's per-type registers, not from the events table; exact
    // distincts join in for the error audit of both scopes. Shuffled
    // rows ≤ (types + 1) × 256 regardless of input size.
    "q146_hll_union" -> ((s, dir) => {
      val hex = md5(col("user_id").cast("string"))
      val perType = table(s, dir, "events")
        .select(col("event_type"),
          conv(substring(hex, 1, 2), 16, 10).cast("long").as("b"),
          (lit(53) - length(bin(conv(substring(hex, 3, 13), 16, 10)
            .cast("long")))).as("r"))
        .groupBy(col("event_type"), col("b"))
        .agg(max(col("r")).as("m"))
      val merged = perType.groupBy(col("b")).agg(max(col("m")).as("m"))
        .select(lit("__all__").as("scope"), col("b"), col("m"))
      val scoped = perType
        .select(col("event_type").as("scope"), col("b"), col("m"))
        .unionAll(merged)
      val agg = scoped.groupBy(col("scope"))
        .agg(count(lit(1)).as("nregs"),
          sum(expr("shiftleft(1L, cast(52 - m as int))")).as("sp"))
      val ev = table(s, dir, "events")
      val exact = ev.groupBy(col("event_type"))
        .agg(countDistinct(col("user_id")).as("n_exact"))
        .select(col("event_type").as("scope"), col("n_exact"))
        .unionAll(ev.agg(countDistinct(col("user_id")).as("n_exact"))
          .select(lit("__all__").as("scope"), col("n_exact")))
      val regSum =
        col("sp") + (lit(256L) - col("nregs")) * lit(4503599627370496L)
      agg.join(exact, "scope")
        .select(col("scope"),
          col("nregs").cast("long").as("n_regs"),
          regSum.cast("long").as("reg_sum"),
          (lit(hllConst) / regSum.cast("double")).as("hll_est"),
          col("n_exact"))
    }),

    // Fixed-iteration PageRank over the user↔event-type interaction
    // graph (both directions, so no dangling mass), oracle-checked
    // BIT-EXACT: the mass-passing recurrence runs in scaled INTEGER
    // arithmetic — pr₀ = 10⁶, contribution = pr div outdeg, update =
    // 150000 + (85 · Σ contribs) div 100, i.e. d = 0.85 with floor
    // division — so three Spark join-aggregate rounds equal the same
    // three rounds unrolled as CTEs in DuckDB, digit for digit (float
    // PageRank could never hash-match: Σ over in-neighbors is
    // order-sensitive). Per round: one hash join on src (degree table
    // broadcast-sized here, shuffle-partitioned at scale) + one
    // aggregate on dst — the standard distributed PR shape, O(log·E)
    // total. Headroom: total mass = N·10⁶, times 85 — int64 holds past
    // 10¹¹ nodes.
    "q99_pagerank" -> ((s, dir) => {
      val pairs = table(s, dir, "events")
        .select(concat(lit("u"), col("user_id").cast("string")).as("u"),
          concat(lit("t"), col("event_type")).as("t"))
        .distinct()
      val edges = pairs.select(col("u").as("src"), col("t").as("dst"))
        .unionAll(pairs.select(col("t").as("src"), col("u").as("dst")))
      graft.operators.Graphs.integerPageRank(edges, iters = 3)
    }),

    // Gap-based sessionization (1 h inactivity splits): the batch analog
    // of a session window (q37's session_window). One window over
    // the HIGH-cardinality user key (no funnel — parallelism is the user
    // count), integer epoch-micro arithmetic end to end: a null lag
    // (first event) falls through the CASE to 0, the running sum of
    // session starts IS the 0-based session index — both engines share
    // those semantics exactly.
    "q101_sessionize" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), col("event_id"),
          expr("ts_ns div 1000").as("t_us"))
        .withColumn("new_s",
          when(col("t_us") - lag(col("t_us"), 1).over(w) > 3600000000L, 1L)
            .otherwise(lit(0L)))
        .withColumn("session_idx", sum(col("new_s")).over(w))
        .groupBy(col("user_id"), col("session_idx"))
        .agg(count(lit(1)).as("n_events"),
          min(col("t_us")).as("start_us"), max(col("t_us")).as("end_us"))
    }),

    // Cohort retention: users bucketed by their first-seen epoch day,
    // activity counted per (cohort day, day offset) — distinct users,
    // so revisits within a day collapse. Two shuffles on user_id (first
    // agg + the distinct), one on the cohort cell; pure integer day
    // arithmetic (ts_ns div 86.4e12), no calendar functions to disagree
    // over.
    "q102_retention" -> ((s, dir) => {
      val days = graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 86400000000000").as("day"))
      val cohort = days.groupBy(col("user_id")).agg(min(col("day")).as("c_day"))
      days.join(cohort, "user_id")
        .groupBy(col("c_day"), (col("day") - col("c_day")).as("offset_day"))
        .agg(countDistinct(col("user_id")).as("n_users"))
    }),

    // Ordered conversion funnel view → click → purchase: each stage's
    // time is the MIN event time STRICTLY AFTER the previous stage —
    // three per-user aggregates chained by equi joins (user_id is high
    // cardinality; AQE coalesces), left joins preserve drop-off (null =
    // never converted). Epoch-micro integers only → hash-exact.
    // Per-user behavior transition matrix (first-order Markov counts):
    // how often each event type follows each other type within a user's
    // (ts, event_id)-ordered stream, with the row-share in ppm — the
    // sequence statistic behind next-action models and bot detection.
    // One sort-shuffle on the HIGH-cardinality user key for the lag;
    // the (prev, cur) aggregate output is type² rows regardless of
    // corpus size; shares by integer floor division → hash-exact.
    "q133_transitions" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("user_id")).orderBy(col("t_us"), col("event_id"))
      val ev = graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("t_us"), col("event_id"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .filter(col("prev_type").isNotNull)
      val cnt = ev.groupBy(col("prev_type"), col("event_type").as("next_type"))
        .agg(count(lit(1)).as("n"))
      val rowTot = cnt.groupBy(col("prev_type")).agg(sum(col("n")).as("row_total"))
      cnt.join(broadcast(rowTot), Seq("prev_type"))
        .select(col("prev_type"), col("next_type"), col("n"),
          expr("(n * 1000000) div row_total").as("share_ppm"))
    }),

    // Z-ORDER locality audit — the Morton-interleave layout key a 100 TB
    // table would be clustered on so min-max pruning works on BOTH scan
    // dimensions at once (linear sort orders only prune the leading
    // one). 8-bit bucket per dimension (user_id; floor(value)), the
    // 16-bit Morton code as codegen'd shift/mask expressions, then per
    // 256-code tile: rows, distinct users, code span, first event — the
    // pruning-quality report (a one-user or one-value-band predicate
    // touches ~√tiles under z-order vs all tiles under the wrong linear
    // sort). Integer-only → hash-exact. Scale shape: per-row bit math +
    // one map-side-combined aggregate on an 8-bit key; the actual
    // rewrite this audits would be repartitionByRange(zval) +
    // sortWithinPartitions(zval) at write time.
    "q137_zorder" -> ((s, dir) => {
      val ub = pmod(col("user_id"), lit(256L))
      val vb = pmod(floor(col("value")).cast("long"), lit(256L))
      // The codegen'd Morton kernel: left's bit i → position 2i,
      // right's → 2i+1, so (vb, ub) puts value on even lanes.
      val z = graft.functions.GraftFunctions.zorder_key(vb, ub, 8)
      table(s, dir, "events")
        .select(col("event_id"), col("user_id"), z.as("zval"))
        .withColumn("tile", shiftright(col("zval"), 8))
        .groupBy(col("tile"))
        .agg(count(lit(1)).as("n_events"),
          countDistinct(col("user_id")).as("n_users"),
          min(col("zval")).as("z_min"), max(col("zval")).as("z_max"),
          min(col("event_id")).as("first_event"))
    }),

    // Session behavior MOTIFS: event-type trigrams occurring inside one
    // session (30-min inactivity gap), counted corpus-wide with their
    // distinct-user reach — the sequence-mining step past q133's
    // first-order transitions (a motif is evidence of a FLOW, not just
    // an edge). The trigram comes from two lead()s sharing q101's
    // session sort — ONE sort-shuffle on user_id total, no explode, no
    // self-join on the sequence; session containment is the single
    // predicate lead(session_idx, 2) = session_idx (session indices are
    // nondecreasing within the sort, so the middle element is pinned
    // too). Output is event-type³-sized at any corpus size.
    "q141_session_motifs" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("t_us"))
        .withColumn("new_s",
          when(col("t_us") - lag(col("t_us"), 1).over(w) > 1800000000L, 1L)
            .otherwise(lit(0L)))
        .withColumn("session_idx", sum(col("new_s")).over(w))
        .withColumn("m2", lead(col("event_type"), 1).over(w))
        .withColumn("m3", lead(col("event_type"), 2).over(w))
        .withColumn("s3", lead(col("session_idx"), 2).over(w))
        .filter(col("s3") === col("session_idx"))
        .groupBy(col("event_type").as("m1"), col("m2"), col("m3"))
        .agg(count(lit(1)).as("n_occ"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Join-key SKEW profiler: the pre-join diagnostic that decides
    // whether a shuffle join needs salting (q77) or an AQE skew split —
    // per candidate join column, the 10 heaviest keys with their ppm
    // share of the table. One map-side-combined count per column and a
    // TakeOrderedAndProject top-10 (per-partition heaps, never a global
    // sort); the three profiles union into one report. Keys travel as
    // strings so heterogeneous columns share a schema. Integer counts +
    // floor-division shares → hash-exact.
    "q142_skew_profile" -> ((s, dir) => {
      def prof(df: DataFrame, c: String, label: String): DataFrame = {
        val cnt = df.groupBy(col(c).cast("string").as("key"))
          .agg(count(lit(1)).as("cnt"))
        val tot = cnt.agg(sum(col("cnt")).as("total"))
        cnt.crossJoin(broadcast(tot))
          .select(lit(label).as("col_name"), col("key"), col("cnt"),
            expr("(cnt * 1000000) div total").as("share_ppm"))
          .orderBy(col("cnt").desc, col("key")).limit(10)
      }
      prof(table(s, dir, "events"), "user_id", "events.user_id")
        .unionAll(prof(table(s, dir, "lineitem"), "l_orderkey", "lineitem.l_orderkey"))
        .unionAll(prof(table(s, dir, "lineitem"), "l_partkey", "lineitem.l_partkey"))
    }),

    // LAST-TOUCH attribution: each purchase credited to the immediately
    // preceding event within a 30-min touch window (else "none") —
    // the attribution report behind every conversion dashboard, and the
    // lag() complement of q103's forward-walking funnel. One sort-
    // shuffle on the high-cardinality user key; integer epoch-micro
    // window arithmetic; string/count outputs → hash-exact.
    "q163_attribution" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("t_us"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .withColumn("prev_t", lag(col("t_us"), 1).over(w))
        .filter(col("event_type") === "purchase")
        .select(col("user_id"),
          when(col("prev_t").isNotNull &&
              col("t_us") - col("prev_t") <= 1800000000L, col("prev_type"))
            .otherwise(lit("none")).as("touch"))
        .groupBy(col("touch"))
        .agg(count(lit(1)).as("n_purchases"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Group-CARDINALITY profile: the full log₂ group-size distribution
    // per candidate key — q142 names the top heavy keys, this shows the
    // whole shape (n_keys and row mass per size octave), which is what
    // actually decides shuffle-partition counts, AQE coalescing, and
    // whether a key needs salting at all. One map-side-combined count
    // per key column, then a second tiny aggregate over (col, octave);
    // floor(log₂ cnt) = length(bin(cnt)) − 1, the q97-pinned bin()
    // parity, so buckets replay exactly. Output ≤ 64 rows per column at
    // ANY input size.
    "q160_cardinality_profile" -> ((s, dir) => {
      def prof(df: DataFrame, c: String, label: String): DataFrame =
        df.groupBy(col(c).as("key")).agg(count(lit(1)).as("cnt"))
          .select(lit(label).as("col_name"),
            (length(bin(col("cnt"))) - 1).cast("int").as("log2_bucket"),
            col("cnt"))
          .groupBy(col("col_name"), col("log2_bucket"))
          .agg(count(lit(1)).as("n_keys"), sum(col("cnt")).as("n_rows"))
      prof(table(s, dir, "events"), "user_id", "events.user_id")
        .unionAll(prof(table(s, dir, "documents"), "source", "documents.source"))
        .unionAll(prof(table(s, dir, "lineitem"), "l_orderkey", "lineitem.l_orderkey"))
    }),

    // Skew-SALTING planner: q142 finds the heavy keys; this emits the
    // remediation table a salted join (q77 / Joins.saltedJoin) consumes —
    // per key, salt_n = ceil(cnt / target) replicas and the resulting
    // per-shard row bound ceil(cnt / salt_n). Both ceilings are the
    // integer identity (a + b − 1) div b, so the plan replays exactly in
    // any engine, and salt_n is a pure function of the count — retries
    // and AQE re-plans regenerate the identical plan. target = 100 rows/
    // shard here (data-independent semantics; at 100 TB the same query
    // runs with target ≈ rows-per-task budget). One map-side-combined
    // count — the planner costs one aggregate over keys, not data.
    "q151_salt_plan" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("event_type"))
        .agg(count(lit(1)).as("cnt"))
        .withColumn("salt_n", expr("(cnt + 99) div 100"))
        .select(col("event_type"), col("cnt"), col("salt_n"),
          expr("(cnt + salt_n - 1) div salt_n").as("rows_per_shard"),
          (col("salt_n") > 1).as("salted"))),

    "q103_funnel" -> ((s, dir) => {
      val ev = graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), col("event_type"),
          expr("ts_ns div 1000").as("t_us"))
      val t1 = ev.filter(col("event_type") === "view")
        .groupBy(col("user_id")).agg(min(col("t_us")).as("t1_us"))
      val t2 = ev.filter(col("event_type") === "click")
        .join(t1, "user_id").filter(col("t_us") > col("t1_us"))
        .groupBy(col("user_id")).agg(min(col("t_us")).as("t2_us"))
      val t3 = ev.filter(col("event_type") === "purchase")
        .join(t2, "user_id").filter(col("t_us") > col("t2_us"))
        .groupBy(col("user_id")).agg(min(col("t_us")).as("t3_us"))
      t1.join(t2, Seq("user_id"), "left").join(t3, Seq("user_id"), "left")
    }),

    // MERGE INTO semantics (the lakehouse upsert Spark OSS itself lacks
    // without a table format): one full-outer join on the key, then the
    // four-way decision — matched+delete drops, matched updates (source
    // wins), source-only inserts, target-only survives, and a
    // not-matched delete is a no-op. The update/insert/delete batch is
    // derived deterministically from the snapshot (mod-7 updates, mod-11
    // inserts under shifted keys, mod-13 deletes) so both engines build
    // the identical source. One shuffle on the key; source rows are the
    // only wide traffic.
    "q105_merge_upsert" -> ((s, dir) => {
      val tgt = table(s, dir, "documents")
        .select(col("doc_id"), col("lang").as("t_lang"), col("n_chars").as("t_n"))
      val src = table(s, dir, "documents")
        .filter(col("doc_id") % 7 === 0 || col("doc_id") % 11 === 0 ||
          col("doc_id") % 13 === 0)
        .select(
          when(col("doc_id") % 11 === 0, col("doc_id") + 1000000L)
            .otherwise(col("doc_id")).as("doc_id"),
          col("lang").as("s_lang"),
          (col("n_chars") + 1000L).as("s_n"),
          (col("doc_id") % 13 === 0).as("del"))
      tgt.join(src, Seq("doc_id"), "full_outer")
        .filter(col("del").isNull || !col("del"))
        .select(col("doc_id"),
          coalesce(col("s_lang"), col("t_lang")).as("lang"),
          coalesce(col("s_n"), col("t_n")).as("n_chars"))
    }),

    // TPC-H Q7 shape (cross-nation shipping volume by year): the 6-way
    // join + conditional-pair filter + year rollup, as verbatim SQL text
    // executed by BOTH engines — Catalyst picks broadcast joins for the
    // nation dims and shuffles the fact once; the decimal-cast SUM keeps
    // the revenue order-invariant.
    "q106_tpch7" -> ((s, dir) => {
      Seq("supplier", "lineitem", "orders", "customer", "nation")
        .foreach(t => table(s, dir, t).createOrReplaceTempView(t))
      s.sql(sqlQ7)
    }),

    // TPC-H Q21 shape (suppliers who kept waiting, adapted to this
    // schema's columns: "late" = shipped >30 days after order date):
    // the EXISTS / NOT EXISTS double-correlation — a semi AND an anti
    // join against the same derived table, the hardest of the classic
    // subquery shapes. Spark de-correlates both into equi joins on
    // l_orderkey (left-semi + left-anti — scalable; no per-row
    // re-execution), and the shared verbatim SQL text runs unchanged in
    // DuckDB. Integer counts + TakeOrdered top-20 → hash-exact.
    "q158_tpch21" -> ((s, dir) => {
      Seq("lineitem", "orders")
        .foreach(t => table(s, dir, t).createOrReplaceTempView(t))
      s.sql(sqlQ21)
    }),

    // TPC-H Q17 shape (small-quantity-order revenue): the classic
    // correlated-average subquery, DE-correlated into one per-part
    // aggregate + join — the rewrite every optimizer wants and the only
    // shape that scales (the correlated form re-aggregates per probe
    // row). The 0.2·avg predicate runs as the INTEGER cross-product
    // 5·qty·cnt < sum_qty (l_quantity is integral; no float avg enters
    // the filter), revenue sums in decimal, and the /7.0 final division
    // goes through the split decimal→double cast — all in SQL text both
    // engines parse verbatim. Per-part aggregate shuffles on the join
    // key it feeds, so AQE plans one exchange for both sides.
    "q156_tpch17" -> ((s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql(sqlQ17)
    }),

    // Calendar battery: the per-event date derivations every partitioned
    // lake layout keys on — epoch day and day-of-week via pure integer
    // arithmetic (engine-proof by construction; 1970-01-01 is a
    // Thursday), year/month/day-of-month via EXTRACT and the month
    // bucket via date_trunc, both UTC proleptic-Gregorian in the two
    // engines. Per-row codegen, shuffle-free.
    "q109_calendar" -> ((s, dir) =>
      graft.util.SparkUtil.events(s, dir)
        .select(col("event_id"), col("ts"),
          expr("ts_ns div 86400000000000").as("epoch_day"))
        .select(col("event_id"), col("epoch_day"),
          ((col("epoch_day") + 4) % 7).as("dow"),
          (col("epoch_day") - ((col("epoch_day") + 3) % 7)).as("week_start_day"),
          expr("CAST(EXTRACT(year FROM ts) AS BIGINT)").as("y"),
          expr("CAST(EXTRACT(month FROM ts) AS BIGINT)").as("m"),
          expr("CAST(EXTRACT(day FROM ts) AS BIGINT)").as("dom"),
          date_trunc("month", col("ts")).cast("date").as("month_start"))),

    // Bag-semantics set ops (INTERSECT ALL / EXCEPT ALL, §2.8's
    // multiset completion beyond q72's DISTINCT forms): duplicates
    // survive by multiplicity — the multiset difference of per-type
    // user activity. Verbatim SQL text in both engines; Spark plans
    // the ALL variants as aggregate+generate (count-and-replicate), no
    // join explosion.
    "q110_bag_setops" -> ((s, dir) => {
      graft.util.SparkUtil.events(s, dir).createOrReplaceTempView("events")
      s.sql(sqlBagSetOps)
    }),

    // Grouped mode / argmax without a ranking window: the most active
    // user per event type through the bounded-heap top-k (k = 1) over
    // per-(type, user) counts — count descending, user_id ascending on
    // ties, exactly ROW_NUMBER's order (counts < 2⁵³ are exact doubles).
    // Shuffled rows after the count: groups × 1.
    "q111_top_user" -> ((s, dir) =>
      table(s, dir, "events")
        .groupBy(col("event_type"), col("user_id"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("event_type"))
        .agg(graft.functions.GraftFunctions
          .top_k_by_score(col("n").cast("double"), col("user_id"), 1).as("t"))
        .select(col("event_type"),
          col("t")(0)("id").as("top_user"),
          col("t")(0)("score").cast("long").as("n_events"))),

    // Conditional aggregation via the SQL FILTER clause (verbatim text
    // in both engines) — the idiomatic one-pass multi-predicate rollup;
    // integer counts and sums only, so parity is exact.
    "q112_filter_agg" -> ((s, dir) => {
      graft.util.SparkUtil.events(s, dir).createOrReplaceTempView("events")
      s.sql(sqlFilterAgg)
    }),

    // CDC log COMPACTION: the change-log replayed to latest-wins final
    // state per key — the Kafka-compacted-topic / lakehouse CDC-apply
    // staple that q105's single-batch MERGE does not cover. Each event
    // is an upsert of `value` keyed by user; event_type 'purchase' is
    // the tombstone. The winner is ONE max-struct aggregate (lexicographic
    // on the unique (t_us, event_id) order) — map-side combinable, no
    // ranking window, shuffled rows = keys not log length; at 100 TB the
    // same aggregate compacts a full CDC topic in one pass. final_value
    // is a copied input double → hash-exact.
    "q166_cdc_compaction" -> ((s, dir) =>
      graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("t_us"),
          col("event_id"), col("event_type"), col("value"))
        .groupBy(col("user_id"))
        .agg(max(struct(col("t_us"), col("event_id"), col("event_type"),
            col("value"))).as("w"),
          count(lit(1)).as("n_ops"))
        .select(col("user_id"),
          col("w")("event_type").as("final_type"),
          col("w")("t_us").as("final_t_us"),
          col("w")("value").as("final_value"),
          col("n_ops"),
          when(col("w")("event_type") === "purchase", lit(1))
            .otherwise(lit(0)).as("deleted"))),

    // SCD-2 point-in-time enrichment: the non-purchase event stream is
    // the slowly-changing dimension (each event opens a validity
    // interval for that user's segment, closed by the next); purchases
    // are the facts, each stamped with the segment version valid AT its
    // timestamp. Spark-first: no interval theta join — dims and facts
    // union into ONE per-user sort, segment = last(dim, ignoreNulls)
    // running frame, version = running count of dim rows (the SCD-2
    // surrogate-version number), so the whole PIT lookup is a single
    // sort-shuffle on the high-cardinality user key. Tie rule: a dim
    // event at the fact's exact timestamp applies (dim sorts first via
    // is_dim DESC). Strings + integer micros → hash-exact.
    "q167_scd2_pit" -> ((s, dir) => {
      val e = graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), expr("ts_ns div 1000").as("t_us"),
          col("event_id"), col("event_type"))
      val tagged = e.select(col("user_id"), col("t_us"), col("event_id"),
        when(col("event_type") =!= "purchase", lit(1)).otherwise(lit(0))
          .as("is_dim"),
        when(col("event_type") =!= "purchase", col("event_type")).as("seg"))
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("is_dim").desc, col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      tagged
        .withColumn("segment", last(col("seg"), ignoreNulls = true).over(w))
        .withColumn("seg_version",
          count(when(col("is_dim") === 1, 1)).over(w))
        .filter(col("is_dim") === 0)
        .select(col("user_id"), col("event_id"), col("t_us"),
          coalesce(col("segment"), lit("none")).as("segment"),
          col("seg_version"))
    }),

    // BENFORD leading-digit audit: the numeric-sanity check fabricated
    // or truncated measure columns fail — observed first-digit mass of
    // l_extendedprice per return flag, in ppm. The digit comes from the
    // INTEGER part (floor → BIGINT → first decimal character), so no
    // float formatting or libm log10 crosses engines; expected Benford
    // shares are constants the reader compares. One map-side-combined
    // count + a per-flag total joined back; output ≤ flags × 9 rows at
    // any scale.
    "q168_benford" -> ((s, dir) => {
      val d = table(s, dir, "lineitem")
        .select(col("l_returnflag"),
          expr("CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT)" +
            " AS STRING), 1, 1) AS INT)").as("digit"))
        .groupBy(col("l_returnflag"), col("digit"))
        .agg(count(lit(1)).as("cnt"))
      val tot = d.groupBy(col("l_returnflag"))
        .agg(sum(col("cnt")).as("total"))
      d.join(tot, "l_returnflag")
        .select(col("l_returnflag"), col("digit"), col("cnt"),
          expr("(cnt * 1000000) div total").as("share_ppm"))
    }),

    // Single-source BFS levels (bounded): hop distance from the
    // least-id user over the bipartite user↔event-type interaction
    // graph — the shortest-path member of the graph battery (components
    // q73/q74 give reachability, PageRank q99 gives mass, triangles
    // q132 give closure; none give DISTANCE). Four unrolled frontier
    // rounds, each ONE equi-join (frontier × edges) + distinct + an
    // anti-join against the visited set — the textbook distributed BFS,
    // each round checkpointed so the plan stays linear in rounds. A
    // node's level is its FIRST reach = min hop by construction, which
    // is what the WITH RECURSIVE oracle computes. Strings + int levels →
    // hash-exact.
    "q175_bfs_levels" -> ((s, dir) => {
      val ev = table(s, dir, "events")
      // lazy checkpoint: the size probe below is the first action, so
      // the distinct edge set materializes as a side effect of it (the
      // eager form paid a separate checkpoint job — r18)
      val edges = ev.select(
          concat(lit("u:"), col("user_id").cast("string")).as("a"),
          concat(lit("t:"), col("event_type")).as("b"))
        .distinct().localCheckpoint(false)
      // Size-adaptive driver fast path (r18 optimization round) — the
      // Dedup.driverComponents / Graphs.driverRank philosophy applied to
      // the BFS rounds: when the DISTINCT bipartite edge set fits on the
      // driver, the 4 levels run as a local adjacency walk instead of
      // 4 × (join + distinct + anti-join) rounds with two checkpoints
      // each (~10 scheduling-bound jobs for a handful of tasks at
      // sf0.1). min-level BFS over an explicit frontier is exactly what
      // the distributed rounds compute; levels are small ints, so the
      // result is bit-identical. An over-limit edge set takes the
      // distributed rounds unchanged.
      val cap = 500000
      val probe = edges.limit(cap + 1).collect()
      val seedRow = ev.agg(min(col("user_id")).as("m")).head()
      if (probe.length <= cap && !seedRow.isNullAt(0) &&
        !probe.exists(r => r.isNullAt(0) || r.isNullAt(1))) {
        val seedNode = "u:" + seedRow.get(0).toString
        val adj = scala.collection.mutable.HashMap
          .empty[String, scala.collection.mutable.ArrayBuffer[String]]
        probe.foreach { r =>
          val (a, b) = (r.getString(0), r.getString(1))
          adj.getOrElseUpdate(a, scala.collection.mutable.ArrayBuffer.empty) += b
          adj.getOrElseUpdate(b, scala.collection.mutable.ArrayBuffer.empty) += a
        }
        val level = scala.collection.mutable.LinkedHashMap(seedNode -> 0)
        var frontier = Seq(seedNode)
        (1 to 4).foreach { l =>
          frontier = frontier
            .flatMap(n => adj.getOrElse(n, Nil))
            .distinct.filterNot(level.contains)
          frontier.foreach(n => level(n) = l)
        }
        import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
        s.createDataFrame(
          s.sparkContext.parallelize(
            level.toSeq.map { case (n, l) => org.apache.spark.sql.Row(n, l) },
            math.max(1, math.min(s.sparkContext.defaultParallelism,
              level.size / 5000 + 1))),
          StructType(Seq(StructField("node", StringType, nullable = true),
            StructField("level", IntegerType, nullable = false))))
      } else {
        val bi = edges.unionAll(edges.select(col("b").as("a"), col("a").as("b")))
        val seed = ev.agg(min(col("user_id")).as("m"))
          .select(concat(lit("u:"), col("m").cast("string")).as("node"),
            lit(0).as("level"))
        var levels = seed.localCheckpoint(true)
        var frontier = levels.select(col("node"))
        for (l <- 1 to 4) {
          val next = bi
            .join(frontier.withColumnRenamed("node", "a"), Seq("a"))
            .select(col("b").as("node")).distinct()
            .join(levels, Seq("node"), "left_anti")
            .withColumn("level", lit(l))
            .localCheckpoint(true)
          levels = levels.unionByName(next).localCheckpoint(true)
          frontier = next.select(col("node"))
        }
        levels
      }
    }),

    // LINEAR multi-touch attribution: every touch in the 30 minutes
    // before a purchase shares the credit equally (1/n in ppm) — the
    // fair-share complement of q163's winner-takes-all last-touch.
    // The purchase↔touch pairing is the bucketed-replication
    // Joins.rangeJoin (shuffle ∝ rows × window/bucket, never a theta
    // join); per-purchase touch counts and per-type credit are two
    // map-side-combined aggregates; credit stays an integer floor
    // (1000000 div n), so the shares sum exactly. Untouched purchases
    // surface as the 'none' row via an anti-join — attribution reports
    // must conserve total purchase mass.
    "q176_linear_attribution" -> ((s, dir) => {
      val e = graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("t_us"))
      val touches = e.filter(col("event_type") =!= "purchase")
        .select(col("user_id"), col("event_type").as("touch_type"),
          col("t_us").as("tt"))
      val purch = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("p_id"),
          col("t_us").as("pt"))
      val pairs = graft.operators.Joins.rangeJoin(
        purch, touches, Seq("user_id"), "pt", "tt",
        -1800000000L, -1L).localCheckpoint(true)
      val n = pairs.groupBy(col("p_id")).agg(count(lit(1)).as("nt"))
      val credited = pairs.join(n, Seq("p_id"))
        .select(col("touch_type"), col("p_id"),
          expr("1000000 div nt").as("credit"))
        .groupBy(col("touch_type"))
        .agg(count(lit(1)).as("n_pairs"),
          countDistinct(col("p_id")).as("n_purchases"),
          sum(col("credit")).as("credit_ppm_sum"))
      val none = purch
        .join(pairs.select(col("p_id")).distinct(), Seq("p_id"), "left_anti")
        .agg(count(lit(1)).as("c"))
        .select(lit("none").as("touch_type"), lit(0L).as("n_pairs"),
          col("c").as("n_purchases"), (col("c") * 1000000L).as("credit_ppm_sum"))
      credited.unionByName(none)
    }),

    // Behavioral PATH mining: the top-20 most common session journeys
    // ("view>view>click>purchase") — the sequence-level view q133's
    // pairwise transition matrix cannot give. Sessions come from q101's
    // gap rule; each session's path is its first ≤ 20 events (capped
    // BEFORE collecting, so per-session aggregate state is bounded) in
    // the total (t_us, event_id) order — collect_list is unordered by
    // contract, so the order is re-established by sort_array over
    // (rank, type) structs, never relied on. Top-20 via
    // orderBy(count DESC, path).limit — TakeOrderedAndProject's
    // distributed heaps (the q149 discipline), not a global sort.
    "q177_session_paths" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("t_us"), col("event_id"))
      val sess = graft.util.SparkUtil.events(s, dir)
        .select(col("user_id"), col("event_id"), col("event_type"),
          expr("ts_ns div 1000").as("t_us"))
        .withColumn("new_s",
          when(col("t_us") - lag(col("t_us"), 1).over(w) > 3600000000L, 1L)
            .otherwise(lit(0L)))
        .withColumn("session_idx", sum(col("new_s")).over(w))
      val wS = Window.partitionBy(col("user_id"), col("session_idx"))
        .orderBy(col("t_us"), col("event_id"))
      sess
        .withColumn("rk", row_number().over(wS))
        .filter(col("rk") <= 20)
        .groupBy(col("user_id"), col("session_idx"))
        .agg(sort_array(collect_list(struct(col("rk"), col("event_type"))))
          .as("evs"))
        .select(col("user_id"),
          expr("array_join(transform(evs, x -> x.event_type), '>')")
            .as("path"))
        .groupBy(col("path"))
        .agg(count(lit(1)).as("n_sessions"),
          countDistinct(col("user_id")).as("n_users"))
        .orderBy(col("n_sessions").desc, col("path"))
        .limit(20)
    }),

    // GAINS/LIFT table: users ranked by activity, cut into equi-depth
    // octiles by the distributed exact selection's fences (q159's
    // v < fence rule, so ties replay), and each octile's share of all
    // purchases cumulated BEST-FIRST — "the top eighth of users
    // captures X % of conversions", the targeting-efficiency curve
    // behind every scoring model. Cumulation folds the ≤ 8 octile rows
    // in ONE aggregate (no window); shares are integer ppm floors over
    // exact counts. The 1-row fence-array crossJoin is whitelisted by
    // design.
    "q179_octile_lift" -> ((s, dir) => {
      val u = table(s, dir, "events")
        .groupBy(col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purch"))
        .withColumn("g", lit("all"))
      val fences = graft.operators.TimeSeriesOps
        .exactQuantiles(u, "g", "n_events", "user_id",
          Seq(0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875),
          materializeInput = false)
        .agg(sort_array(collect_list(col("value"))).as("f"))
      u.crossJoin(broadcast(fences))
        .select(col("n_purch"),
          size(filter(col("f"), v => v < col("n_events").cast("double")))
            .as("octile"))
        .groupBy(col("octile"))
        .agg(count(lit(1)).as("n_users"), sum(col("n_purch")).as("n_purchases"))
        .agg(sort_array(collect_list(struct((-col("octile")).as("no"),
            col("octile"), col("n_users"), col("n_purchases")))).as("arr"),
          sum(col("n_purchases")).as("total_p"))
        .select(col("total_p"), explode(expr(
          """aggregate(arr,
            |  struct(cast(0 as bigint) as cum,
            |    cast(array() as array<struct<octile:int,n_users:bigint,
            |      n_purchases:bigint,cum:bigint>>) as out),
            |  (s, x) -> named_struct('cum', s.cum + x.n_purchases,
            |    'out', array_append(s.out, named_struct('octile', x.octile,
            |      'n_users', x.n_users, 'n_purchases', x.n_purchases,
            |      'cum', s.cum + x.n_purchases))),
            |  s -> s.out)""".stripMargin)).as("r"))
        .select(col("r.octile").as("octile"), col("r.n_users").as("n_users"),
          col("r.n_purchases").as("n_purchases"),
          col("r.cum").as("cum_purchases"),
          expr("(r.cum * 1000000) div total_p").as("cum_share_ppm"))
    })
  )

  /** q112: identical text in Spark and DuckDB. */
  private val sqlFilterAgg: String =
    """SELECT event_type,
      |  COUNT(*) AS n_all,
      |  COUNT(*) FILTER (WHERE value > 50.0) AS n_hi,
      |  COUNT(DISTINCT user_id) FILTER (WHERE value > 50.0) AS n_hi_users,
      |  CAST(SUM(CASE WHEN value > 50.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_hi_case
      |FROM events GROUP BY event_type""".stripMargin

  /** q110: identical text in Spark and DuckDB. `clicks EXCEPT ALL views`
    * keeps each user once per surplus click; INTERSECT ALL keeps the
    * overlap multiplicity. A constant tag separates the two branches. */
  private val sqlBagSetOps: String =
    """SELECT 'surplus' AS part, user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  EXCEPT ALL
      |  SELECT user_id FROM events WHERE event_type = 'view')
      |UNION ALL
      |SELECT 'overlap' AS part, user_id FROM (
      |  SELECT user_id FROM events WHERE event_type = 'click'
      |  INTERSECT ALL
      |  SELECT user_id FROM events WHERE event_type = 'view')""".stripMargin

  /** q97's leading constant α₂₅₆·m²·2⁵², m = 256: folded to ONE double
    * here and embedded verbatim (exact decimal form) in the oracle SQL,
    * so both engines divide by the identical IEEE value — computing
    * α = 0.7213/(1 + 1.079/m) separately in each engine could
    * re-associate and flip the last ulp. */
  private val hllConst: Double =
    0.7213 / (1 + 1.079 / 256) * 65536.0 * 4503599627370496.0

  /** q85: Spark-side text. The DuckDB oracle mirrors it with its own
    * date arithmetic (epoch-day ints are the engine-neutral currency,
    * exactly like the t_us micros convention elsewhere). */
  private val sqlGapFill: String =
    """WITH RECURSIVE wk AS (
      |  SELECT (SELECT MIN(unix_date(to_date(ts))) FROM ev) AS w
      |  UNION ALL
      |  SELECT w + 32 AS w FROM wk
      |  WHERE w + 32 <= (SELECT MAX(unix_date(to_date(ts))) FROM ev)
      |),
      |cal AS (
      |  SELECT w + o AS d FROM wk
      |  LATERAL VIEW explode(sequence(0, 31)) offs AS o
      |  WHERE w + o <= (SELECT MAX(unix_date(to_date(ts))) FROM ev)
      |)
      |SELECT t.event_type, date_format(date_from_unix_date(c.d), 'yyyy-MM-dd') AS day,
      |       COALESCE(x.n, CAST(0 AS BIGINT)) AS n
      |FROM cal c
      |CROSS JOIN (SELECT DISTINCT event_type FROM ev) t
      |LEFT JOIN (SELECT event_type, unix_date(to_date(ts)) AS d, COUNT(1) AS n
      |           FROM ev GROUP BY event_type, unix_date(to_date(ts))) x
      |  ON x.event_type = t.event_type AND x.d = c.d""".stripMargin

  /** Runs verbatim in both Spark SQL and DuckDB. */
  private val sqlLateralTopN: String =
    """SELECT n_name, c_name, c_acctbal
      |FROM nation n, LATERAL (
      |  SELECT c_name, c_acctbal FROM customer
      |  WHERE c_nationkey = n.n_nationkey
      |  ORDER BY c_acctbal DESC, c_name ASC LIMIT 2) c""".stripMargin

  /** Runs verbatim in both Spark SQL and DuckDB. */
  private val sqlUnpivot: String =
    """SELECT o_orderstatus, metric, val FROM (
      |  SELECT o_orderstatus,
      |    CAST(COUNT(1) AS DOUBLE) AS n_orders,
      |    CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price,
      |    MIN(o_totalprice) AS min_price,
      |    MAX(o_totalprice) AS max_price
      |  FROM orders GROUP BY o_orderstatus) w
      |UNPIVOT (val FOR metric IN (n_orders, sum_price, min_price, max_price))""".stripMargin

  /** Runs verbatim in both Spark SQL and DuckDB. */
  private val sqlGroupingSets: String =
    """SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n_orders,
      |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,6))) AS DOUBLE) AS sum_price
      |FROM orders
      |GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())""".stripMargin

  /** Runs verbatim in both Spark SQL and DuckDB. */
  /** Correlated scalar subquery + EXISTS + uncorrelated scalar in one
    * query — the Catalyst subquery-rewrite surface (RewriteCorrelated
    * ScalarSubquery → left outer aggregate join; EXISTS → left semi).
    * Identical SQL text runs in DuckDB. The uncorrelated scalar is
    * max-based (exact) rather than avg-based: an avg boundary predicate
    * could flip rows on last-ulp summation-order differences. */
  private val sqlSubqueries: String =
    s"""SELECT c_custkey, c_acctbal,
       |  (SELECT COUNT(*) FROM orders o WHERE o.o_custkey = c.c_custkey) AS n_orders
       |FROM customer c
       |WHERE c_acctbal > (SELECT MAX(c_acctbal) FROM customer) * 0.9
       |  AND EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
       |              AND o.o_orderpriority = '1-URGENT')""".stripMargin

  /** q106: identical text in Spark and DuckDB (the q35 pattern). */
  private val sqlQ7: String =
    """SELECT supp_nation, cust_nation, l_year,
      |  CAST(SUM(CAST(volume AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
      |  COUNT(1) AS n_items
      |FROM (
      |  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
      |         CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
      |         l_extendedprice * (1.0 - l_discount) AS volume
      |  FROM supplier
      |  JOIN lineitem ON s_suppkey = l_suppkey
      |  JOIN orders ON o_orderkey = l_orderkey
      |  JOIN customer ON c_custkey = o_custkey
      |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
      |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
      |  WHERE n1.n_name <> n2.n_name
      |) AS shipping
      |GROUP BY supp_nation, cust_nation, l_year""".stripMargin

  /** TPC-H Q21 shape, shared verbatim with the oracle. */
  private val sqlQ21: String =
    """WITH l AS (
      |  SELECT l_orderkey, l_suppkey,
      |    l_shipdate > o_orderdate + INTERVAL 30 DAY AS late
      |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
      |  WHERE o_orderstatus = 'F')
      |SELECT s.l_suppkey AS suppkey, COUNT(1) AS numwait
      |FROM l s
      |WHERE s.late
      |  AND EXISTS (SELECT 1 FROM l o WHERE o.l_orderkey = s.l_orderkey
      |              AND o.l_suppkey <> s.l_suppkey)
      |  AND NOT EXISTS (SELECT 1 FROM l o2 WHERE o2.l_orderkey = s.l_orderkey
      |                  AND o2.l_suppkey <> s.l_suppkey AND o2.late)
      |GROUP BY s.l_suppkey
      |ORDER BY numwait DESC, suppkey ASC LIMIT 20""".stripMargin

  /** TPC-H Q17 de-correlated; shared verbatim with the oracle. The
    * split FLOOR cast keeps the decimal→double conversion
    * engine-independent (q114 discipline, here in portable SQL text). */
  private val sqlQ17: String =
    """WITH agg AS (
      |  SELECT l_partkey AS pk, COUNT(1) AS cnt,
      |         SUM(CAST(l_quantity AS BIGINT)) AS sum_qty
      |  FROM lineitem GROUP BY l_partkey),
      |small AS (
      |  SELECT l.l_extendedprice
      |  FROM lineitem l JOIN agg ON l.l_partkey = agg.pk
      |  WHERE 5 * CAST(l.l_quantity AS BIGINT) * agg.cnt < agg.sum_qty),
      |s AS (SELECT COUNT(1) AS n_small,
      |             SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS rev
      |      FROM small)
      |SELECT CAST(n_small AS BIGINT) AS n_small,
      |  (CAST(FLOOR(rev) AS DOUBLE) + CAST(rev - FLOOR(rev) AS DOUBLE)) / 7.0
      |    AS avg_yearly
      |FROM s""".stripMargin

  private val sqlQ3: String =
    s"""SELECT l_orderkey, o_orderdate,
       |  CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount) AS DECIMAL(18,6))) AS DOUBLE) AS revenue
       |FROM customer
       |JOIN orders ON c_custkey = o_custkey
       |JOIN lineitem ON l_orderkey = o_orderkey
       |WHERE c_mktsegment = 'BUILDING'
       |  AND o_orderdate < TIMESTAMP '1998-03-15 00:00:00'
       |  AND l_shipdate > TIMESTAMP '1998-03-15 00:00:00'
       |GROUP BY l_orderkey, o_orderdate
       |ORDER BY revenue DESC, l_orderkey ASC
       |LIMIT 10""".stripMargin

  def oracles: Map[String, String] = Map(
    "q84_sql_subqueries" -> sqlSubqueries,

    "q85_gap_fill" ->
      """WITH RECURSIVE cal AS (
        |  SELECT (SELECT MIN(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT)) FROM events) AS d
        |  UNION ALL
        |  SELECT d + 1 AS d FROM cal
        |  WHERE d < (SELECT MAX(CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT)) FROM events)
        |)
        |SELECT t.event_type, strftime(DATE '1970-01-01' + c.d, '%Y-%m-%d') AS day,
        |       CAST(COALESCE(x.n, 0) AS BIGINT) AS n
        |FROM cal c
        |CROSS JOIN (SELECT DISTINCT event_type FROM events) t
        |LEFT JOIN (SELECT event_type, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT) AS d, COUNT(1) AS n
        |           FROM events GROUP BY event_type, CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS INT)) x
        |  ON x.event_type = t.event_type AND x.d = c.d""".stripMargin,

    "q87_lateral_topn" -> sqlLateralTopN,

    "q88_json_extract" ->
      """SELECT event_type, COUNT(1) AS n,
        |  CAST(SUM(CAST(json_extract_string(props, 'k') AS BIGINT)) AS BIGINT) AS sum_k,
        |  MIN(CAST(json_extract_string(props, 'k') AS BIGINT)) AS min_k,
        |  MAX(CAST(json_extract_string(props, 'k') AS BIGINT)) AS max_k,
        |  COUNT(1) FILTER (json_extract_string(props, 'k') IS NULL) AS n_bad
        |FROM events GROUP BY event_type""".stripMargin,

    "q89_unpivot" -> sqlUnpivot,

    "q47_asof_join" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t_us
        |  FROM events WHERE event_type = 'click'),
        |v AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS vt, event_id AS ord, value
        |  FROM events WHERE event_type = 'view'),
        |u AS (
        |  SELECT user_id, t_us AS t, 1 AS side, 9223372036854775807 AS ord,
        |         event_id, t_us, CAST(NULL AS BIGINT) AS vt, CAST(NULL AS DOUBLE) AS vvalue
        |  FROM c
        |  UNION ALL
        |  SELECT user_id, vt AS t, 0 AS side, ord,
        |         NULL, NULL, vt, value
        |  FROM v),
        |w AS (
        |  SELECT *,
        |    last_value(vt IGNORE NULLS) OVER win AS asof_view_t_us,
        |    last_value(vvalue IGNORE NULLS) OVER win AS asof_view_value
        |  FROM u
        |  WINDOW win AS (PARTITION BY user_id ORDER BY t, side, ord
        |                 ROWS UNBOUNDED PRECEDING))
        |SELECT event_id, user_id, t_us, asof_view_t_us, asof_view_value
        |FROM w WHERE side = 1""".stripMargin,

    "q48_range_join" ->
      """WITH c AS (
        |  SELECT event_id, user_id, epoch_ns(ts) // 1000 AS t_us
        |  FROM events WHERE event_type = 'click'),
        |e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS e_t_us
        |  FROM events WHERE event_type = 'error')
        |SELECT c.event_id, c.user_id, c.t_us,
        |  COUNT(e.e_t_us) AS n_errors_1m
        |FROM c LEFT JOIN e
        |  ON c.user_id = e.user_id
        | AND e.e_t_us >= c.t_us - 60000000
        | AND e.e_t_us <= c.t_us + 60000000
        |GROUP BY c.event_id, c.user_id, c.t_us""".stripMargin,

    "q49_group_topk" ->
      """SELECT c_mktsegment, c_custkey, c_acctbal, CAST(rn AS INT) AS rnk FROM (
        |  SELECT c_mktsegment, c_custkey, c_acctbal,
        |    ROW_NUMBER() OVER (PARTITION BY c_mktsegment
        |      ORDER BY c_acctbal DESC, c_custkey ASC) AS rn
        |  FROM customer) WHERE rn <= 3""".stripMargin,

    "q10_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  ${sqlSum("l_quantity")} AS sum_qty,
         |  ${sqlSum("l_extendedprice")} AS sum_base_price,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS sum_disc_price,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount) * (1.0 + l_tax)")} AS sum_charge,
         |  ${sqlAvg("l_quantity")} AS avg_qty,
         |  ${sqlAvg("l_extendedprice")} AS avg_price,
         |  ${sqlAvg("l_discount")} AS avg_disc,
         |  COUNT(1) AS count_order
         |FROM lineitem WHERE l_shipdate <= TIMESTAMP '$cutoff 00:00:00'
         |GROUP BY l_returnflag, l_linestatus""".stripMargin,

    "q11_revenue_by_nation" ->
      s"""SELECT n_name,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(1) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA'
         |GROUP BY n_name""".stripMargin,

    "q12_top_orders" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10""".stripMargin,

    "q13_mktsegment_revenue" ->
      s"""SELECT c_mktsegment,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |GROUP BY c_mktsegment""".stripMargin,

    "q14_distinct_users" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users, COUNT(1) AS n_events
        |FROM events GROUP BY event_type""".stripMargin,

    "q15_union_distinct" ->
      """SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'
        |UNION
        |SELECT c_custkey FROM customer WHERE c_acctbal > 9000.0""".stripMargin,

    "q16_semi_join" ->
      """SELECT c_custkey, c_mktsegment FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q17_anti_join" ->
      """SELECT c_custkey, c_acctbal FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders
        |  WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')""".stripMargin,

    "q18_window_rank" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INT) AS rn FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    ROW_NUMBER() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
        |  FROM orders) WHERE rn <= 2""".stripMargin,

    "q19_rollup" ->
      s"""SELECT r_name, n_name, COUNT(1) AS n_customers,
         |  ${sqlSum("c_acctbal")} AS sum_bal
         |FROM customer
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY ROLLUP (r_name, n_name)""".stripMargin,

    "q35_sql_tpch3" -> sqlQ3,

    "q36_cube" ->
      s"""SELECT o_orderstatus, o_orderpriority, COUNT(1) AS n_orders,
         |  ${sqlSum("o_totalprice")} AS sum_price
         |FROM orders GROUP BY CUBE (o_orderstatus, o_orderpriority)""".stripMargin,

    "q37_session_stats" ->
      """WITH t AS (SELECT user_id, epoch_ns(ts) // 1000 AS tus FROM events),
        | o AS (SELECT user_id, tus,
        |   CASE WHEN tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus) >= 300000000
        |        OR lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
        |        THEN 1 ELSE 0 END AS brk FROM t),
        | g AS (SELECT user_id, tus,
        |   SUM(brk) OVER (PARTITION BY user_id ORDER BY tus ROWS UNBOUNDED PRECEDING) AS grp FROM o),
        | sess AS (SELECT user_id, grp, COUNT(1) AS cnt FROM g GROUP BY user_id, grp)
        |SELECT user_id, COUNT(1) AS n_sessions, CAST(SUM(cnt) AS BIGINT) AS n_events,
        |       MAX(cnt) AS max_session_events
        |FROM sess GROUP BY user_id""".stripMargin,

    "q38_percentiles" ->
      """SELECT l_returnflag,
        |  quantile_cont(l_extendedprice, 0.5) AS p50,
        |  quantile_cont(l_extendedprice, 0.95) AS p95,
        |  quantile_cont(l_extendedprice, 0.99) AS p99,
        |  MIN(l_extendedprice) AS min_price,
        |  MAX(l_extendedprice) AS max_price
        |FROM lineitem GROUP BY l_returnflag""".stripMargin,

    "q64_pivot" -> {
      val arms = Seq("click", "error", "purchase", "signup", "view").map(t =>
        s"CAST(SUM(CAST(value AS DECIMAL(18,6))) FILTER (event_type = '$t') AS DOUBLE) AS $t")
      s"""SELECT hour(ts) AS hr, ${arms.mkString(",\n  ")}
         |FROM events GROUP BY hr""".stripMargin
    },

    "q65_grouping_sets" -> sqlGroupingSets,

    "q67_bloom_semi" ->
      """SELECT event_type, COUNT(1) AS n, COUNT(DISTINCT user_id) AS n_users
        |FROM events e
        |WHERE EXISTS (SELECT 1 FROM customer c
        |  WHERE c.c_custkey = e.user_id AND c.c_acctbal > 5000.0)
        |GROUP BY event_type""".stripMargin,

    "q71_window_battery" ->
      """SELECT o_orderpriority, o_orderkey, o_totalprice,
        |  lead(o_totalprice, 1) OVER w AS next_price,
        |  CAST(ntile(4) OVER w AS INT) AS quartile,
        |  percent_rank() OVER w AS pct_rank,
        |  cume_dist() OVER w AS cume,
        |  first_value(o_orderkey) OVER w AS cheapest_key
        |FROM orders WHERE o_orderstatus = 'F'
        |WINDOW w AS (PARTITION BY o_orderpriority
        |             ORDER BY o_totalprice ASC, o_orderkey ASC)""".stripMargin,

    "q72_intersect_except" ->
      """WITH b AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |     r AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000.0)
        |SELECT c_custkey, 'both' AS side FROM (SELECT c_custkey FROM b INTERSECT SELECT c_custkey FROM r)
        |UNION ALL
        |SELECT c_custkey, 'building_only' AS side FROM (SELECT c_custkey FROM b EXCEPT SELECT c_custkey FROM r)""".stripMargin,

    "q70_histogram" ->
      """WITH b AS (SELECT MIN(value) AS lo, MAX(value) AS hi FROM events)
        |SELECT event_type,
        |  CASE WHEN hi = lo THEN 0
        |       ELSE least(CAST(floor((value - lo) / ((hi - lo) / 10.0)) AS BIGINT), 9)
        |       END AS bucket,
        |  COUNT(1) AS n, MIN(value) AS lo_v, MAX(value) AS hi_v
        |FROM events CROSS JOIN b
        |GROUP BY event_type, bucket""".stripMargin,

    "q66_full_outer" ->
      """WITH c AS (SELECT c_custkey, c_acctbal FROM customer WHERE c_acctbal > 9000.0),
        |     o AS (SELECT o_custkey, COUNT(1) AS n_urgent FROM orders
        |           WHERE o_orderpriority = '1-URGENT' GROUP BY o_custkey)
        |SELECT COALESCE(c_custkey, o_custkey) AS custkey, c_acctbal, n_urgent
        |FROM c FULL JOIN o ON c_custkey = o_custkey""".stripMargin,

    // Latest-wins per (user_id, event_type), at the micro precision both
    // engines share for the nano-parquet column.
    "q76_latest_state" ->
      """SELECT user_id, event_type, ts_us, event_id, value
        |FROM (SELECT user_id, event_type, epoch_ns(ts) // 1000 AS ts_us,
        |        event_id, value,
        |        row_number() OVER (PARTITION BY user_id, event_type
        |          ORDER BY epoch_ns(ts) // 1000 DESC, event_id DESC) AS rn
        |      FROM events)
        |WHERE rn = 1""".stripMargin,

    // The salt must be invisible in the result: a plain join + group-by
    // is the whole oracle.
    "q77_salted_join" ->
      s"""SELECT s_nationkey,
         |  ${sqlSum("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(1) AS n_items
         |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         |GROUP BY s_nationkey""".stripMargin,

    // md5-derived registers are engine-portable; the integer register
    // sum makes everything up to the single final division exact.
    // Same md5-HLL recipe as q97 + the q115-style sampled type-1 median.
    "q39_approx_sketches" ->
      s"""WITH h AS (
         |  SELECT o_orderpriority,
         |    CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 1, 2)) AS BIGINT) AS b,
         |    53 - length(bin(CAST(concat('0x', substr(md5(CAST(o_custkey AS VARCHAR)), 3, 13)) AS BIGINT))) AS r
         |  FROM orders),
         |regs AS (SELECT o_orderpriority, b, MAX(r) AS m FROM h GROUP BY o_orderpriority, b),
         |agg AS (SELECT o_orderpriority, COUNT(1) AS nregs,
         |          SUM(1::BIGINT << CAST(52 - m AS INT)) AS sp
         |        FROM regs GROUP BY o_orderpriority),
         |hll AS (SELECT o_orderpriority,
         |          ${new java.math.BigDecimal(hllConst).toPlainString}
         |            / CAST(sp + (256 - nregs) * 4503599627370496 AS DOUBLE) AS sketch_custs
         |        FROM agg),
         |samp AS (
         |  SELECT o_orderpriority, CAST(o_totalprice AS DOUBLE) AS v,
         |    row_number() OVER (PARTITION BY o_orderpriority
         |                       ORDER BY CAST(o_totalprice AS DOUBLE), o_orderkey) AS rn,
         |    COUNT(1) OVER (PARTITION BY o_orderpriority) AS ns
         |  FROM orders
         |  WHERE substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 2) < '40'),
         |med AS (SELECT o_orderpriority, v AS sample_p50, CAST(ns AS BIGINT) AS n_sampled
         |        FROM samp WHERE rn = greatest(CAST(ceil(0.5 * ns) AS BIGINT), 1)),
         |cnt AS (SELECT o_orderpriority, COUNT(1) AS n FROM orders GROUP BY o_orderpriority)
         |SELECT o_orderpriority, sketch_custs, sample_p50, n_sampled, n
         |FROM hll JOIN med USING (o_orderpriority) JOIN cnt USING (o_orderpriority)""".stripMargin,

    "q97_hll_distinct" ->
      s"""WITH h AS (
         |  SELECT event_type,
         |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS b,
         |    53 - length(bin(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 3, 13)) AS BIGINT))) AS r
         |  FROM events),
         |regs AS (SELECT event_type, b, MAX(r) AS m FROM h GROUP BY event_type, b),
         |agg AS (SELECT event_type, COUNT(1) AS nregs,
         |          SUM(1::BIGINT << CAST(52 - m AS INT)) AS sp
         |        FROM regs GROUP BY event_type),
         |ex AS (SELECT event_type, COUNT(DISTINCT user_id) AS nd FROM events GROUP BY event_type)
         |SELECT a.event_type,
         |  CAST(nregs AS BIGINT) AS n_regs,
         |  CAST(sp + (256 - nregs) * 4503599627370496 AS BIGINT) AS reg_sum,
         |  ${new java.math.BigDecimal(hllConst).toPlainString}
         |    / CAST(sp + (256 - nregs) * 4503599627370496 AS DOUBLE) AS hll_est,
         |  CAST(nd AS BIGINT) AS n_exact
         |FROM agg a JOIN ex USING (event_type)""".stripMargin,

    // The '__all__' registers roll up from the per-type registers by
    // MAX, exactly as the Spark side merges — never re-reading events.
    "q146_hll_union" ->
      s"""WITH h AS (
         |  SELECT event_type,
         |    CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 1, 2)) AS BIGINT) AS b,
         |    53 - length(bin(CAST(concat('0x', substr(md5(CAST(user_id AS VARCHAR)), 3, 13)) AS BIGINT))) AS r
         |  FROM events),
         |pt AS (SELECT event_type, b, MAX(r) AS m FROM h GROUP BY event_type, b),
         |scoped AS (
         |  SELECT event_type AS scope, b, m FROM pt
         |  UNION ALL
         |  SELECT '__all__' AS scope, b, MAX(m) AS m FROM pt GROUP BY b),
         |agg AS (SELECT scope, COUNT(1) AS nregs,
         |          SUM(1::BIGINT << CAST(52 - m AS INT)) AS sp
         |        FROM scoped GROUP BY scope),
         |ex AS (
         |  SELECT event_type AS scope, COUNT(DISTINCT user_id) AS nd
         |  FROM events GROUP BY event_type
         |  UNION ALL
         |  SELECT '__all__' AS scope, COUNT(DISTINCT user_id) AS nd FROM events)
         |SELECT a.scope,
         |  CAST(nregs AS BIGINT) AS n_regs,
         |  CAST(sp + (256 - nregs) * 4503599627370496 AS BIGINT) AS reg_sum,
         |  ${new java.math.BigDecimal(hllConst).toPlainString}
         |    / CAST(sp + (256 - nregs) * 4503599627370496 AS DOUBLE) AS hll_est,
         |  CAST(nd AS BIGINT) AS n_exact
         |FROM agg a JOIN ex USING (scope)""".stripMargin,

    // The three integer mass-passing rounds, unrolled (standard SQL
    // forbids aggregates in a recursive term); // is integer division
    // on BIGINT operands, matching Spark's `div` on positive values.
    "q99_pagerank" ->
      """WITH pairs AS (
        |  SELECT DISTINCT 'u' || CAST(user_id AS VARCHAR) AS u,
        |                  't' || event_type AS t FROM events),
        |edges AS (SELECT u AS src, t AS dst FROM pairs
        |          UNION ALL SELECT t AS src, u AS dst FROM pairs),
        |deg AS (SELECT src, COUNT(1) AS outdeg FROM edges GROUP BY src),
        |wd AS (SELECT e.src, e.dst, d.outdeg FROM edges e JOIN deg d USING (src)),
        |p0 AS (SELECT src AS node, 1000000::BIGINT AS pr FROM deg),
        |p1 AS (SELECT dst AS node, 150000 + (85 * SUM(pr // outdeg)) // 100 AS pr
        |       FROM wd JOIN p0 ON src = node GROUP BY dst),
        |p2 AS (SELECT dst AS node, 150000 + (85 * SUM(pr // outdeg)) // 100 AS pr
        |       FROM wd JOIN p1 ON src = node GROUP BY dst),
        |p3 AS (SELECT dst AS node, 150000 + (85 * SUM(pr // outdeg)) // 100 AS pr
        |       FROM wd JOIN p2 ON src = node GROUP BY dst)
        |SELECT node, CAST(pr AS BIGINT) AS pr FROM p3""".stripMargin,

    // Identical lag/CASE/running-sum semantics; a null lag falls to 0.
    "q101_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, event_id, epoch_ns(ts) // 1000 AS t_us FROM events),
        |s AS (
        |  SELECT user_id, event_id, t_us,
        |    CASE WHEN t_us - lag(t_us) OVER (PARTITION BY user_id
        |           ORDER BY t_us, event_id) > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |x AS (
        |  SELECT user_id, t_us,
        |    SUM(new_s) OVER (PARTITION BY user_id
        |      ORDER BY t_us, event_id) AS session_idx
        |  FROM s)
        |SELECT user_id, CAST(session_idx AS BIGINT) AS session_idx,
        |  COUNT(1) AS n_events, MIN(t_us) AS start_us, MAX(t_us) AS end_us
        |FROM x GROUP BY user_id, session_idx""".stripMargin,

    "q102_retention" ->
      """WITH d AS (
        |  SELECT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events),
        |c AS (SELECT user_id, MIN(day) AS c_day FROM d GROUP BY user_id)
        |SELECT c.c_day, d.day - c.c_day AS offset_day,
        |  COUNT(DISTINCT d.user_id) AS n_users
        |FROM d JOIN c USING (user_id)
        |GROUP BY c.c_day, d.day - c.c_day""".stripMargin,

    // q133: the same lag over (user, t_us, event_id), type²-sized counts,
    // integer ppm shares.
    "q133_transitions" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t_us, event_id
        |  FROM events),
        |lg AS (
        |  SELECT user_id, event_type,
        |    lag(event_type) OVER (PARTITION BY user_id
        |                          ORDER BY t_us, event_id) AS prev_type
        |  FROM e),
        |cnt AS (
        |  SELECT prev_type, event_type AS next_type, COUNT(*) AS n
        |  FROM lg WHERE prev_type IS NOT NULL GROUP BY prev_type, event_type),
        |rt AS (SELECT prev_type, SUM(n) AS row_total FROM cnt GROUP BY prev_type)
        |SELECT c.prev_type, c.next_type, c.n,
        |  CAST((c.n * 1000000) // r.row_total AS BIGINT) AS share_ppm
        |FROM cnt c JOIN rt r ON c.prev_type = r.prev_type""".stripMargin,

    "q137_zorder" -> {
      val zTerms = (0 until 8).map(i =>
        s"(((ub >> $i) & 1) << ${2 * i + 1}) | (((vb >> $i) & 1) << ${2 * i})")
        .mkString(" |\n         |    ")
      s"""WITH b AS (
         |  SELECT event_id, user_id,
         |    user_id % 256 AS ub,
         |    CAST(floor(value) AS BIGINT) % 256 AS vb
         |  FROM events),
         |z AS (
         |  SELECT event_id, user_id,
         |    $zTerms AS zval
         |  FROM b)
         |SELECT zval >> 8 AS tile, COUNT(1) AS n_events,
         |  COUNT(DISTINCT user_id) AS n_users,
         |  MIN(zval) AS z_min, MAX(zval) AS z_max,
         |  MIN(event_id) AS first_event
         |FROM z GROUP BY tile""".stripMargin
    },

    // lag() of NULL compares false in the CASE → 0, same as Spark's
    // otherwise(0); session_idx is nondecreasing in the sort, so the
    // single s3 = session_idx predicate pins the whole trigram.
    "q141_session_motifs" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type, epoch_ns(ts) // 1000 AS t_us
        |  FROM events),
        |s AS (
        |  SELECT user_id, event_id, event_type, t_us,
        |    CASE WHEN t_us - lag(t_us) OVER
        |        (PARTITION BY user_id ORDER BY t_us, event_id) > 1800000000
        |      THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |sx AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY t_us, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
        |  FROM s),
        |m AS (
        |  SELECT user_id, event_type AS m1,
        |    lead(event_type, 1) OVER w AS m2,
        |    lead(event_type, 2) OVER w AS m3,
        |    session_idx,
        |    lead(session_idx, 2) OVER w AS s3
        |  FROM sx WINDOW w AS (PARTITION BY user_id ORDER BY t_us, event_id))
        |SELECT m1, m2, m3, COUNT(1) AS n_occ,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM m WHERE s3 = session_idx GROUP BY m1, m2, m3""".stripMargin,

    "q142_skew_profile" -> {
      def prof(tbl: String, c: String, label: String): String =
        s"""SELECT col_name, key, cnt, share_ppm FROM (
           |  SELECT '$label' AS col_name, CAST($c AS VARCHAR) AS key,
           |    COUNT(1) AS cnt,
           |    CAST((COUNT(1) * 1000000) // SUM(COUNT(1)) OVER () AS BIGINT)
           |      AS share_ppm,
           |    ROW_NUMBER() OVER (ORDER BY COUNT(1) DESC,
           |      CAST($c AS VARCHAR) ASC) AS rn
           |  FROM $tbl GROUP BY $c)
           |WHERE rn <= 10""".stripMargin
      Seq(prof("events", "user_id", "events.user_id"),
        prof("lineitem", "l_orderkey", "lineitem.l_orderkey"),
        prof("lineitem", "l_partkey", "lineitem.l_partkey"))
        .mkString("", "\nUNION ALL\n", "")
    },

    "q156_tpch17" -> sqlQ17,
    "q158_tpch21" -> sqlQ21,

    // Identical lag pair over the same (t_us, event_id) user sort.
    "q163_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_ns(ts) // 1000 AS t_us FROM events),
        |l AS (
        |  SELECT user_id, event_type, t_us,
        |    lag(event_type) OVER (PARTITION BY user_id
        |      ORDER BY t_us, event_id) AS prev_type,
        |    lag(t_us) OVER (PARTITION BY user_id
        |      ORDER BY t_us, event_id) AS prev_t
        |  FROM e)
        |SELECT CASE WHEN prev_t IS NOT NULL AND t_us - prev_t <= 1800000000
        |            THEN prev_type ELSE 'none' END AS touch,
        |  COUNT(1) AS n_purchases, COUNT(DISTINCT user_id) AS n_users
        |FROM l WHERE event_type = 'purchase'
        |GROUP BY 1""".stripMargin,

    // Same length(bin()) − 1 octave rule (bin() parity pinned by q97).
    "q160_cardinality_profile" -> {
      def prof(tbl: String, c: String, label: String): String =
        s"""SELECT '$label' AS col_name,
           |  CAST(length(bin(cnt)) - 1 AS INT) AS log2_bucket,
           |  COUNT(1) AS n_keys, CAST(SUM(cnt) AS BIGINT) AS n_rows
           |FROM (SELECT $c AS key, COUNT(1) AS cnt FROM $tbl GROUP BY $c)
           |GROUP BY length(bin(cnt)) - 1""".stripMargin
      Seq(prof("events", "user_id", "events.user_id"),
        prof("documents", "source", "documents.source"),
        prof("lineitem", "l_orderkey", "lineitem.l_orderkey"))
        .mkString("", "\nUNION ALL\n", "")
    },

    // Same (a + b - 1) // b ceilings over BIGINT counts.
    "q151_salt_plan" ->
      """WITH c AS (
        |  SELECT event_type, COUNT(1) AS cnt FROM events GROUP BY event_type),
        |s AS (SELECT event_type, cnt, (cnt + 99) // 100 AS salt_n FROM c)
        |SELECT event_type, CAST(cnt AS BIGINT) AS cnt,
        |  CAST(salt_n AS BIGINT) AS salt_n,
        |  CAST((cnt + salt_n - 1) // salt_n AS BIGINT) AS rows_per_shard,
        |  salt_n > 1 AS salted
        |FROM s""".stripMargin,

    "q103_funnel" ->
      """WITH e AS (
        |  SELECT user_id, event_type, epoch_ns(ts) // 1000 AS t_us FROM events),
        |t1 AS (SELECT user_id, MIN(t_us) AS t1_us FROM e
        |       WHERE event_type = 'view' GROUP BY user_id),
        |t2 AS (SELECT e.user_id, MIN(e.t_us) AS t2_us
        |       FROM e JOIN t1 USING (user_id)
        |       WHERE e.event_type = 'click' AND e.t_us > t1.t1_us
        |       GROUP BY e.user_id),
        |t3 AS (SELECT e.user_id, MIN(e.t_us) AS t3_us
        |       FROM e JOIN t2 USING (user_id)
        |       WHERE e.event_type = 'purchase' AND e.t_us > t2.t2_us
        |       GROUP BY e.user_id)
        |SELECT t1.user_id, t1.t1_us, t2.t2_us, t3.t3_us
        |FROM t1 LEFT JOIN t2 USING (user_id) LEFT JOIN t3 USING (user_id)""".stripMargin,

    // The identical derived source batch and four-way merge decision.
    // The shifted key gets its own name (new_doc_id) and is re-aliased in
    // an outer layer: computing `doc_id % 13` in the SAME select list
    // that re-aliases doc_id relied on DuckDB resolving the BASE column
    // under the shadowing alias — an ambiguity a resolver change would
    // silently flip (ADVICE r5).
    "q105_merge_upsert" ->
      """WITH tgt AS (
        |  SELECT doc_id, lang AS t_lang, n_chars AS t_n FROM documents),
        |src0 AS (
        |  SELECT CASE WHEN doc_id % 11 = 0 THEN doc_id + 1000000
        |              ELSE doc_id END AS new_doc_id,
        |         lang AS s_lang, n_chars + 1000 AS s_n,
        |         doc_id % 13 = 0 AS del
        |  FROM documents
        |  WHERE doc_id % 7 = 0 OR doc_id % 11 = 0 OR doc_id % 13 = 0),
        |src AS (
        |  SELECT new_doc_id AS doc_id, s_lang, s_n, del FROM src0)
        |SELECT doc_id,
        |  COALESCE(s_lang, t_lang) AS lang,
        |  COALESCE(s_n, t_n) AS n_chars
        |FROM tgt FULL JOIN src USING (doc_id)
        |WHERE del IS NULL OR NOT del""".stripMargin,

    "q106_tpch7" -> sqlQ7,

    // Integer day/dow arithmetic plus EXTRACT/date_trunc — the oracle
    // mirrors the micro-precision view of the nano timestamps.
    "q109_calendar" ->
      """WITH e AS (
        |  SELECT event_id, make_timestamp(epoch_ns(ts) // 1000) AS ts,
        |         epoch_ns(ts) // 86400000000000 AS epoch_day
        |  FROM events)
        |SELECT event_id, epoch_day,
        |  (epoch_day + 4) % 7 AS dow,
        |  epoch_day - ((epoch_day + 3) % 7) AS week_start_day,
        |  CAST(EXTRACT(year FROM ts) AS BIGINT) AS y,
        |  CAST(EXTRACT(month FROM ts) AS BIGINT) AS m,
        |  CAST(EXTRACT(day FROM ts) AS BIGINT) AS dom,
        |  CAST(date_trunc('month', ts) AS DATE) AS month_start
        |FROM e""".stripMargin,

    "q110_bag_setops" -> sqlBagSetOps,

    // ROW_NUMBER mirrors the heap's (count desc, user asc) order.
    "q111_top_user" ->
      """SELECT event_type, user_id AS top_user, CAST(n AS BIGINT) AS n_events
        |FROM (
        |  SELECT event_type, user_id, n,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |                       ORDER BY n DESC, user_id ASC) AS rn
        |  FROM (SELECT event_type, user_id, COUNT(1) AS n
        |        FROM events GROUP BY event_type, user_id))
        |WHERE rn = 1""".stripMargin,

    "q112_filter_agg" -> sqlFilterAgg,

    // ROW_NUMBER over the same unique (t_us, event_id) order mirrors the
    // max-struct winner.
    "q166_cdc_compaction" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS t_us, event_id,
        |         event_type, value FROM events),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
        |    ORDER BY t_us DESC, event_id DESC) AS rn,
        |    COUNT(1) OVER (PARTITION BY user_id) AS n_ops
        |  FROM e)
        |SELECT user_id, event_type AS final_type, t_us AS final_t_us,
        |  value AS final_value, CAST(n_ops AS BIGINT) AS n_ops,
        |  CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS deleted
        |FROM r WHERE rn = 1""".stripMargin,

    // Identical union sort (t_us, is_dim DESC, event_id) + IGNORE NULLS
    // running last + dim-row running count.
    "q167_scd2_pit" ->
      """WITH e AS (
        |  SELECT user_id, epoch_ns(ts) // 1000 AS t_us, event_id,
        |    CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END AS is_dim,
        |    CASE WHEN event_type <> 'purchase' THEN event_type END AS seg
        |  FROM events),
        |w AS (
        |  SELECT user_id, event_id, t_us, is_dim,
        |    last_value(seg IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY t_us, is_dim DESC, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS segment,
        |    COUNT(CASE WHEN is_dim = 1 THEN 1 END) OVER (PARTITION BY user_id
        |      ORDER BY t_us, is_dim DESC, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg_version
        |  FROM e)
        |SELECT user_id, event_id, t_us,
        |  COALESCE(segment, 'none') AS segment,
        |  CAST(seg_version AS BIGINT) AS seg_version
        |FROM w WHERE is_dim = 0""".stripMargin,

    // Same integer-string first digit; integer ppm floor division.
    "q168_benford" ->
      """WITH d AS (
        |  SELECT l_returnflag,
        |    CAST(substring(CAST(CAST(floor(l_extendedprice) AS BIGINT)
        |      AS VARCHAR), 1, 1) AS INT) AS digit,
        |    COUNT(1) AS cnt
        |  FROM lineitem GROUP BY 1, 2),
        |t AS (SELECT l_returnflag, SUM(cnt) AS total FROM d GROUP BY 1)
        |SELECT d.l_returnflag, d.digit, CAST(d.cnt AS BIGINT) AS cnt,
        |  CAST((d.cnt * 1000000) // t.total AS BIGINT) AS share_ppm
        |FROM d JOIN t USING (l_returnflag)""".stripMargin,

    // The recursive min-level closure over the same bipartite edges,
    // bounded at 4 hops; BFS first-reach = MIN(lvl).
    "q175_bfs_levels" ->
      """WITH RECURSIVE e AS (
        |  SELECT DISTINCT 'u:' || CAST(user_id AS VARCHAR) AS a,
        |         't:' || event_type AS b FROM events),
        |bi AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
        |seed AS (
        |  SELECT 'u:' || CAST(MIN(user_id) AS VARCHAR) AS n FROM events),
        |walk(n, lvl) AS (
        |  SELECT n, 0 FROM seed
        |  UNION
        |  SELECT bi.b, w.lvl + 1 FROM walk w
        |  JOIN bi ON bi.a = w.n WHERE w.lvl < 4)
        |SELECT n AS node, CAST(MIN(lvl) AS INT) AS level
        |FROM walk GROUP BY n""".stripMargin,

    // Same inclusive [pt−30min, pt−1] pairing, integer floor credit.
    "q176_linear_attribution" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_ns(ts) // 1000 AS t_us FROM events),
        |t AS (SELECT user_id, event_type AS touch_type, t_us AS tt
        |      FROM e WHERE event_type <> 'purchase'),
        |p AS (SELECT user_id, event_id AS p_id, t_us AS pt
        |      FROM e WHERE event_type = 'purchase'),
        |pr AS (
        |  SELECT p.p_id, t.touch_type FROM p JOIN t
        |  ON p.user_id = t.user_id
        |  AND t.tt BETWEEN p.pt - 1800000000 AND p.pt - 1),
        |n AS (SELECT p_id, COUNT(1) AS nt FROM pr GROUP BY p_id),
        |c AS (SELECT pr.touch_type, pr.p_id, 1000000 // n.nt AS credit
        |      FROM pr JOIN n USING (p_id))
        |SELECT touch_type, COUNT(1) AS n_pairs,
        |  COUNT(DISTINCT p_id) AS n_purchases,
        |  CAST(SUM(credit) AS BIGINT) AS credit_ppm_sum
        |FROM c GROUP BY touch_type
        |UNION ALL
        |SELECT 'none', CAST(0 AS BIGINT), COUNT(1),
        |  CAST(COUNT(1) * 1000000 AS BIGINT)
        |FROM p WHERE p_id NOT IN (SELECT p_id FROM pr)""".stripMargin,

    // Same q101 gap sessions; string_agg carries an explicit ORDER BY,
    // mirroring the sort_array re-established order; same top-20 rule.
    "q177_session_paths" ->
      """WITH e AS (
        |  SELECT user_id, event_id, event_type,
        |         epoch_ns(ts) // 1000 AS t_us FROM events),
        |s AS (
        |  SELECT *, CASE WHEN t_us - lag(t_us) OVER (PARTITION BY user_id
        |    ORDER BY t_us, event_id) > 3600000000 THEN 1 ELSE 0 END AS new_s
        |  FROM e),
        |x AS (
        |  SELECT *, SUM(new_s) OVER (PARTITION BY user_id
        |    ORDER BY t_us, event_id) AS session_idx FROM s),
        |r AS (
        |  SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id, session_idx
        |    ORDER BY t_us, event_id) AS rk FROM x),
        |paths AS (
        |  SELECT user_id, session_idx,
        |    string_agg(event_type, '>' ORDER BY rk) AS path
        |  FROM r WHERE rk <= 20 GROUP BY user_id, session_idx),
        |agg AS (
        |  SELECT path, COUNT(1) AS n_sessions,
        |    COUNT(DISTINCT user_id) AS n_users
        |  FROM paths GROUP BY path)
        |SELECT path, n_sessions, n_users FROM agg
        |ORDER BY n_sessions DESC, path LIMIT 20""".stripMargin,

    // Same ceil(q·n) fences over (score, user_id), same v < fence
    // bucket rule, best-first cumulation, integer ppm floor.
    "q179_octile_lift" ->
      """WITH u AS (
        |  SELECT user_id, COUNT(1) AS n_events,
        |    SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS n_purch
        |  FROM events GROUP BY user_id),
        |r AS (
        |  SELECT CAST(n_events AS DOUBLE) AS v, user_id,
        |    row_number() OVER (ORDER BY CAST(n_events AS DOUBLE), user_id)
        |      AS rn,
        |    COUNT(1) OVER () AS n
        |  FROM u),
        |qs AS (SELECT unnest([0.125, 0.25, 0.375, 0.5,
        |                      0.625, 0.75, 0.875]::DOUBLE[]) AS q),
        |fr AS (SELECT v FROM r JOIN qs ON rn = CAST(ceil(q * n) AS BIGINT)),
        |fl AS (SELECT list_sort(list(v)) AS f FROM fr),
        |b AS (
        |  SELECT u.n_purch,
        |    len(list_filter(fl.f, x -> x < CAST(u.n_events AS DOUBLE)))
        |      AS octile
        |  FROM u CROSS JOIN fl),
        |per AS (SELECT octile, COUNT(1) AS n_users,
        |          SUM(n_purch) AS n_purchases
        |        FROM b GROUP BY octile),
        |t AS (SELECT SUM(n_purchases) AS total_p FROM per),
        |c AS (
        |  SELECT octile, n_users, n_purchases,
        |    SUM(n_purchases) OVER (ORDER BY octile DESC
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM per)
        |SELECT CAST(octile AS INT) AS octile,
        |  CAST(n_users AS BIGINT) AS n_users,
        |  CAST(n_purchases AS BIGINT) AS n_purchases,
        |  CAST(cum AS BIGINT) AS cum_purchases,
        |  CAST((cum * 1000000) // (SELECT total_p FROM t) AS BIGINT)
        |    AS cum_share_ppm
        |FROM c""".stripMargin
  )
}
