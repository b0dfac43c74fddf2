package graft

/** Registry-wide plan-shape regression gate: no query may plan a
  * CartesianProduct or BroadcastNestedLoopJoin — the two shapes that are
  * O(|l|·|r|) and end a 100 TB run — except the explicitly whitelisted
  * ANN brute-force baseline, whose nested loop is a corpus scan against a
  * broadcast ≤ 5-row query set (bounded by design, and the exact shape a
  * small-query-set top-k wants). Planning only; nothing executes except
  * operators that train/iterate at construction time. */
class PlanShapeSpec extends SparkSpec {

  // q30/q58: crossJoin against a broadcast, constant-size query set;
  // q50/q69/q70: crossJoin against a broadcast 1-row scalar (global
  // count / min-max bounds) — bounded by design (the "nested loop" side
  // is O(1) rows); q85: day-calendar × distinct event types, both tiny
  // derived dimensions (days since corpus start × type count); q96:
  // fixed probe list × broadcast 1-row sketch
  // q98: crossJoin against the broadcast 1-row BM25 corpus-stats scalar
  // q119: crossJoin against the broadcast 1-row global n_min scalar
  // q124/q130: crossJoins against the broadcast 1-row Σweight and budget
  // scalars (the mixture plan's only non-scan inputs; q130 executes it)
  // q136: q98's 1-row stats scalar + the broadcast single query vector
  // q140/q142: crossJoin against the broadcast 1-row corpus/table total
  // q143: label-pair theta-join of two LABELS-sized centroid aggregates
  // (class labels, not data — both sides are tiny derived dimensions)
  // q153: composes q30's whitelisted brute-force baseline (the audit's
  // exact side); q154: crossJoin against the broadcast 1-row total
  private val boundedByDesign =
    Set("q30_ann_brute", "q50_tfidf", "q58_ann_int8", "q59_ann_pq",
      "q69_heavy_hitters", "q70_histogram", "q85_gap_fill", "q96_countmin",
      "q98_bm25", "q119_alpha_mixture", "q124_mixture_plan",
      "q130_mixture_execute", "q131_domain_tokens", "q135_quality_coverage",
      "q136_rrf_fusion", "q140_collocations", "q142_skew_profile",
      "q143_class_margin", "q153_recall_audit", "q154_zipf_curve",
      // q164: five rounds of a 20-row candidate scan against the 1-row
      // broadcast selected-set array (bm25's stats scalar included)
      // q165: q119's 1-row n_min scalar against the language counts
      "q164_mmr_rerank", "q165_temperature_sweep",
      // q173: the two 1-row top-10 list scalars joined for the prefix-
      // overlap fold (bm25's stats scalar included)
      "q173_rbo",
      // q179: the 1-row octile fence-array scalar against the user table
      "q179_octile_lift",
      // q192: three left joins ON TRUE against the broadcast ≤1-row
      // best-pair scalar of each BPE round (bounded by design; LEFT so
      // the no-pair fixed point passes rows through)
      "q192_bpe_merges")

  test("no registered query plans an unbounded join shape") {
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, f) =>
      val plan = f(spark, sf()).queryExecution.executedPlan.toString
      val bad = Seq("CartesianProduct", "BroadcastNestedLoopJoin")
        .filter(plan.contains)
        .filterNot(_ => boundedByDesign(name))
      bad.map(b => s"$name: $b")
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("the text replace chains plan inside whole-stage codegen") {
    // htmlText/canonicalizeUnicode are regexp_replace/replace built-in
    // folds precisely so a 100 TB scrubbing pass stays codegen'd (the
    // scaladoc's cost-shape claim); this pins that the ~20-step chain
    // doesn't trip codegen size limits into interpreted eval. q186 is
    // exchange-free, so the executed plan shows the final codegen marks
    // without AQE re-planning.
    val plan = SparkEntry.queries("q186_html_extract")(spark, sf())
      .queryExecution.executedPlan.toString
    val chainLines = plan.linesIterator
      .filter(l => l.contains("Project") && l.contains("regexp_replace")).toSeq
    assert(chainLines.nonEmpty, s"expected the chain projection in:\n$plan")
    assert(chainLines.forall(_.contains("*(")),
      s"chain projection fell out of whole-stage codegen:\n$plan")
  }

  test("q03 two-phase fan-out keeps its pinned repartition width under AQE") {
    // commit 450ebf3: AQE coalesces the tiny phase-1 partials to 1-2
    // partitions, and the fused 360-offset explode inherits that width —
    // observed 4 s → 40+ s. slidingStatsMultiTwoPhaseExact pins the
    // fan-out with repartition(defaultParallelism, bucket_ms div chunk),
    // whose REPARTITION_BY_NUM origin AQE may not coalesce. This test
    // fails if the repartition is removed, widened to a column-only
    // repartition (coalescable REPARTITION_BY_COL), or a Spark upgrade
    // starts coalescing it anyway.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AQEShuffleReadExec, AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.{REPARTITION_BY_NUM, ShuffleExchangeExec}
    val df = SparkEntry.queries("q03_moving_stats_all")(spark, sf())
    df.count() // materialize so AQE finalizes every stage
    def all(p: SparkPlan): Seq[SparkPlan] =
      p +: (p.children ++ (p match {
        case q: QueryStageExec => Seq(q.plan)
        case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
        case _ => Nil
      })).flatMap(all)
    val nodes = all(df.queryExecution.executedPlan)
    val pinned = nodes.collect {
      case s: ShuffleExchangeExec if s.shuffleOrigin == REPARTITION_BY_NUM => s
    }
    assert(pinned.nonEmpty,
      "q03's explicit fan-out repartition is gone from the executed plan")
    val par = spark.sparkContext.defaultParallelism
    pinned.foreach { s =>
      assert(s.outputPartitioning.numPartitions == par,
        s"fan-out pinned to ${s.outputPartitioning.numPartitions}, expected $par")
      assert(s.outputPartitioning.toString.contains("div"),
        s"fan-out no longer hashes the coarse time chunk: ${s.outputPartitioning}")
    }
    // the 360× explode must CONSUME the pinned exchange (sit above it in
    // the final plan), and the shuffle read over it must not be coalesced
    val gens = nodes.collect {
      case g: org.apache.spark.sql.execution.GenerateExec => g
    }
    assert(gens.exists(g => all(g).exists(pinned.contains)),
      "the offset explode no longer runs over the pinned repartition")
    nodes.collect {
      case r: AQEShuffleReadExec if all(r).exists(pinned.contains) => r
    }.foreach { r =>
      assert(!r.hasCoalescedPartition,
        s"AQE coalesced the pinned fan-out exchange: $r")
    }
  }

  test("no registered query plans a window partitioned only by lang (per-language funnel)") {
    // `partition by lang` caps a window's parallelism at the language
    // count — at 100 TB each language is a single-task sort of most of
    // the corpus. Packing (q46/q55) routes running sums through the
    // salted two-phase Packing.groupedCumSum instead; this gate keeps
    // the funnel from coming back.
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, f) =>
      f(spark, sf()).queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.nonEmpty &&
              w.partitionSpec.flatMap(_.references.toSeq).map(_.name).toSet == Set("lang") =>
          s"$name: window partitioned only by lang"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("no registered query plans an unpartitioned window (single-reducer funnel)") {
    // a Window with an empty partitionSpec sorts the WHOLE input through
    // one task — the row_number()-over-everything shape this repo
    // replaces with heap top-k (q49) and two-phase indexing (q68)
    val offenders = SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, f) =>
      f(spark, sf()).queryExecution.sparkPlan.collect {
        case w: org.apache.spark.sql.execution.window.WindowExec
            if w.partitionSpec.isEmpty =>
          s"$name: unpartitioned Window"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }

  test("statsStream runs all six windows as one stateful aggregation with no Expand") {
    // One per-symbol pane operator emits the nested records; a per-window
    // window() topology would plan six StateStoreSaveExecs and six wide
    // Expands, the explode-and-aggregate one a StateStoreSaveExec, and the
    // collect_list re-nest an object-hash aggregate that falls back to sort.
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.{ExpandExec, SparkPlan}
    import org.apache.spark.sql.execution.aggregate.{ObjectHashAggregateExec, SortAggregateExec}
    import org.apache.spark.sql.execution.streaming.operators.stateful.StateStoreSaveExec
    import org.apache.spark.sql.execution.streaming.operators.stateful.flatmapgroupswithstate.FlatMapGroupsWithStateExec
    import org.apache.spark.sql.execution.streaming.runtime.{MemoryStream, StreamingQueryWrapper}
    import spark.implicits._
    val in = MemoryStream[String](spark)
    val encodePlans = scala.collection.mutable.ArrayBuffer.empty[SparkPlan]
    val q = graft.streaming.MovingStatsJob.statsStream(in.toDF()).writeStream
      .queryName("stats_plan_shape").outputMode("update")
      .foreachBatch { (b: DataFrame, _: Long) =>
        val encoded = graft.streaming.MovingStatsJob.nested(b)
        encoded.collect() // a foreachBatch must read every partition
        encodePlans.synchronized { encodePlans += encoded.queryExecution.sparkPlan }
        ()
      }.start()
    try {
      in.addData("""{"symbol":"BTC","price":1.0,"event_time":"2024-01-01T00:00:02Z"}""")
      q.processAllAvailable()
      val plan = q.asInstanceOf[StreamingQueryWrapper].streamingQuery.lastExecution.executedPlan
      assert(plan.collect { case s: FlatMapGroupsWithStateExec => s }.length == 1, plan)
      assert(encodePlans.nonEmpty)
      (plan +: encodePlans.synchronized(encodePlans.toList)).foreach { p =>
        assert(p.collect {
          case s: StateStoreSaveExec => s
          case e: ExpandExec => e
          case a: ObjectHashAggregateExec => a
          case a: SortAggregateExec => a
        }.isEmpty, p)
      }
      assert(q.lastProgress.stateOperators.length == 1)
    } finally q.stop()
  }

  test("q199 composes the whole ladder as ONE lazy plan with its Generate boundaries") {
    // VERDICT r16 item 4: the web→training-sequences ladder must stay a
    // single registered plan — no driver materialization between stages
    // (construction launches zero jobs), and the q188 Generate-boundary
    // lesson must hold at the extraction stage: the ~25-pass htmlText
    // chain may appear in several plan BRANCHES (each evaluates it once
    // per row), but no single operator may inline it twice — that is
    // the projection-collapse shape whose generated method grew past
    // janino's 64 KB limit and silently fell back to interpreted eval.
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.catalyst.expressions.Literal
    val jobs = new java.util.concurrent.atomic.AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      def settle(): Int = {
        var last = -1; var settled = 0
        while (settled < 3) {
          Thread.sleep(150)
          if (jobs.get == last) settled += 1 else { settled = 0; last = jobs.get }
        }
        jobs.get
      }
      // baseline: the bare fanned-out scan the ladder starts from pays
      // fixed scan-setup jobs (parquet schema read + the lazy
      // checkpoint's RDD resolution) — every registered query pays
      // these; they are not inter-stage actions
      graft.util.SparkUtil.fanOutForCpu(
        graft.util.SparkUtil.table(spark, sf(), "documents"), "doc_id")
        .queryExecution.executedPlan
      val baseline = settle()
      // the PURE plan tree (stageCache = false): the declarative
      // composition claim — six stages as one tree, zero jobs at
      // construction. The REGISTERED form materializes each stage
      // boundary at construction (executor-side localCheckpoint, the
      // q193-edges / groupedCumSum eager pattern — never a driver
      // collect); its semantics are the oracle's to check, its plan
      // structure is THIS tree's, so the structural audits read this
      // variant (a checkpoint boundary hides upstream plan structure).
      val exec = graft.queries.TextQueries
        .webToSequencesLadder(spark, sf(), stageCache = false)
        .queryExecution
      exec.executedPlan // force full analysis + physical planning
      val total = settle()
      assert(total - baseline <= baseline,
        s"composing the pure-tree ladder must add no jobs beyond its " +
          s"own scan setup (baseline $baseline, ladder ${total - baseline})")
      // the ladder's row-expansion stages survive optimization as
      // Generate nodes (line explode, gram explode, span-cover explode,
      // chunk-start explode, plus the extraction boundary)
      val gens = exec.optimizedPlan.collect {
        case g: org.apache.spark.sql.catalyst.plans.logical.Generate => g
      }
      assert(gens.size >= 5,
        s"expected the ladder's explode boundaries, got ${gens.size}")
      // per-NODE chain-copy audit via the chain's unique "&nbsp;" literal
      val copiesPerNode = exec.optimizedPlan.collect { case n =>
        n.expressions.map(_.collect {
          case Literal(v, _) if v != null && v.toString == "&nbsp;" => 1
        }.sum).sum
      }
      assert(copiesPerNode.sum >= 1, "extraction chain vanished from the plan")
      assert(copiesPerNode.forall(_ <= 1),
        s"extraction chain inlined 2+ times into one operator " +
          s"(codegen 64 KB hazard): $copiesPerNode")
    } finally spark.sparkContext.removeSparkListener(listener)
  }
}
