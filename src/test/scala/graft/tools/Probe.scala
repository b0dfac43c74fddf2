package graft.tools

import graft.operators.TickOps
import graft.util.SparkUtil

/** Ad-hoc timing/plan probe: Test/runMain graft.tools.Probe <what> [sfDir].
  * what = query name from SparkEntry.queries, "multi_exact",
  * "multi_fast", "union_exact", or "explain:<query>".
  *
  * Lives under src/test (VERDICT r13 item 7): it is driver-side
  * diagnostics, not engine code — keeping it out of src/main keeps the
  * non-test LoC figure measuring only the engine. */
object Probe {
  def main(args: Array[String]): Unit = {
    val what = args(0)
    val dir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val spark = SparkUtil.newLocalSession("probe", sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    def ticks = SparkUtil.events(spark, dir)
      .selectExpr("event_type AS symbol", "value AS price", "ts AS event_time")
    def time(f: => Long): Unit = {
      val t0 = System.nanoTime()
      val n = f
      println(f"PROBE $what rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
    }
    what match {
      case "multi_exact" =>
        time(TickOps.slidingStatsMulti(ticks, TickOps.defaultWindows, exact = true).count())
      case "multi_fast" =>
        time(TickOps.slidingStatsMulti(ticks, TickOps.defaultWindows, exact = false).count())
      case "union_exact" =>
        time(TickOps.movingStatsUnion(ticks, TickOps.defaultWindows, exact = true).count())
      case "sqlfns" =>
        graft.GraftExtensions.register(spark)
        SparkUtil.table(spark, dir, "documents").createOrReplaceTempView("docs")
        val r = spark.sql(
          """SELECT count(DISTINCT rolling_fingerprint(text)) AS fps,
            |       count(DISTINCT simhash64(split(text, '\\s+'))) AS shs,
            |       min(sig_overlap(minhash_from_tokens(split(text, '\\s+'), 3, 16),
            |                       minhash_from_tokens(split(text, '\\s+'), 3, 16))) AS self_overlap
            |FROM docs""".stripMargin).collect().head
        println(s"PROBE sqlfns fingerprints=${r.getLong(0)} simhashes=${r.getLong(1)} self_overlap=${r.getDouble(2)}")
      case "mh_stages" =>
        import org.apache.spark.sql.functions._
        val docs = SparkUtil.table(spark, dir, "documents")
        val t0 = System.nanoTime()
        val withSig = docs
          .select(col("doc_id"), graft.operators.TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), graft.operators.Dedup.shingles("toks", 2).as("sh"))
          .filter(size(col("sh")) > 0)
          .withColumn("sig", graft.operators.Dedup.minhashSignature("sh", 32))
        println(s"PROBE sig_rows=${withSig.count()} t=${(System.nanoTime() - t0) / 1e9}")
        val t1 = System.nanoTime()
        val banded = withSig.select(col("doc_id"), col("sig"),
          posexplode(expr(
            "transform(sequence(0, 15), b -> xxhash64(array_join(slice(sig, b * 2 + 1, 2), ',')))"))
            .as(Seq("band", "band_hash")))
        val aa = banded.select(col("band"), col("band_hash"), col("doc_id").as("id_a"), col("sig").as("sig_a"))
        val bb = banded.select(col("band"), col("band_hash"), col("doc_id").as("id_b"), col("sig").as("sig_b"))
        val raw = aa.join(bb, Seq("band", "band_hash")).filter(col("id_a") < col("id_b"))
        println(s"PROBE raw_pairs=${raw.count()} t=${(System.nanoTime() - t1) / 1e9}")
        val t2 = System.nanoTime()
        val cand = raw.filter(graft.functions.GraftFunctions.sig_overlap(col("sig_a"), col("sig_b")) >= 0.1)
          .select(col("id_a"), col("id_b")).distinct()
        println(s"PROBE candidates=${cand.count()} t=${(System.nanoTime() - t2) / 1e9}")
        val t3 = System.nanoTime()
        val n = graft.operators.Dedup.ngramJaccard(cand, docs, "doc_id", "text", 2)
          .filter(col("jaccard") >= 0.2).count()
        println(s"PROBE final=$n t=${(System.nanoTime() - t3) / 1e9}")
      case "dedup_probe_cmp" =>
        // per-trigger admission cost, plain path-layout index vs the
        // hybrid (bucketed standing corpus + empty tail): same batch,
        // same corpus, same decisions — the delta is the corpus-side
        // band-key shuffle the bucketed layout eliminates
        import org.apache.spark.sql.functions.{col, max}
        import graft.operators.DedupIndexStore
        import graft.streaming.StreamOps
        val docs = SparkUtil.table(spark, dir, "documents")
        // optional 3rd arg: corpus replication factor — the corpus-side
        // shuffle the hybrid eliminates grows with the STANDING corpus
        // while the batch stays fixed, so the plain/bucketed delta only
        // becomes visible once the corpus dwarfs the per-job overhead
        val mult = if (args.length > 2) args(2).toInt else 1
        val corpus0 = docs.filter(col("doc_id") % 10 =!= 0)
        val corpus = if (mult == 1) corpus0 else {
          val span = docs.agg(max(col("doc_id"))).head().getLong(0) + 1
          corpus0.crossJoin(spark.range(mult).toDF("__k"))
            .withColumn("doc_id", col("doc_id") + col("__k") * span)
            .drop("__k")
        }
        val batch = docs.filter(col("doc_id") % 10 === 0).limit(100).cache()
        batch.count()
        val plainIdx = java.nio.file.Files.createTempDirectory("cmp_plain").toString
        SparkUtil.deleteDirOnExit(plainIdx)
        DedupIndexStore.build(corpus, "doc_id", "text", plainIdx, 2, 32, 16)
        spark.sql("DROP TABLE IF EXISTS cmp_idx_bands")
        spark.sql("DROP TABLE IF EXISTS cmp_idx_shingles")
        spark.sql("DROP TABLE IF EXISTS cmp_idx_meta")
        DedupIndexStore.buildBucketed(corpus, "doc_id", "text", "cmp_idx", 8, 2, 32, 16)
        val tail = java.nio.file.Files.createTempDirectory("cmp_tail").toString
        SparkUtil.deleteDirOnExit(tail)
        DedupIndexStore.initEmpty(spark, tail, 2, 32, 16)
        def secs(f: => Long): Double = {
          val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
        }
        (0 until 4).foreach { r =>
          val p = secs(StreamOps.admitBatch(
            batch, "doc_id", "text", plainIdx, 0.2).count())
          val b = secs(StreamOps.admitBatchBucketed(
            batch, "doc_id", "text", "cmp_idx", tail, 0.2).count())
          println(f"PROBE dedup_probe_cmp rep$r plain=$p%.2f bucketed=$b%.2f")
        }
        spark.sql("DROP TABLE IF EXISTS cmp_idx_bands")
        spark.sql("DROP TABLE IF EXISTS cmp_idx_shingles")
        spark.sql("DROP TABLE IF EXISTS cmp_idx_meta")
      case "recall" =>
        // measured recall of the three LSH queries vs exact ground truth,
        // with the exact driver-query parameters (q27/q31/q32)
        import org.apache.spark.sql.functions._
        import graft.functions.GraftFunctions
        val docs = SparkUtil.table(spark, dir, "documents")
        val emb = SparkUtil.table(spark, dir, "embeddings")

        val sh = docs.select(col("doc_id"),
          GraftFunctions.shingle_hashes(graft.operators.TextOps.tokens(col("text")), 2).as("sh"))
        val truth27 = sh.select(col("doc_id").as("id_a"), col("sh").as("sh_a"))
          .crossJoin(sh.select(col("doc_id").as("id_b"), col("sh").as("sh_b")))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            GraftFunctions.jaccard_sorted(col("sh_a"), col("sh_b")).as("j"))
          .filter(col("j") >= 0.2)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val got27 = graft.operators.Dedup.minhashPairs(docs, "doc_id", "text",
          k = 2, numHashes = 32, bands = 16, threshold = 0.2)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(s"PROBE q27 truth=${truth27.size} got=${got27.size} " +
          s"outside_truth=${(got27 diff truth27).size} " +
          s"recall=${(got27 intersect truth27).size.toDouble / truth27.size}")

        val q = emb.filter(col("vec_id") < 5)
        val brute = graft.operators.Similarity.bruteForceTopK(
          emb, "vec_id", "embedding", q, "vec_id", "embedding", 10)
          .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val lsh = graft.operators.Similarity.lshTopK(
          emb, "vec_id", "embedding", q, "vec_id", "embedding", 10, planes = 6)
          .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(s"PROBE q31 truth=${brute.size} got=${lsh.size} " +
          s"recall=${(brute intersect lsh).size.toDouble / brute.size}")

        val ivf = graft.operators.Similarity.ivfTopK(
          emb, "vec_id", "embedding", q, "vec_id", "embedding", 10,
          nlist = 16, nprobe = 4)
          .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(s"PROBE q40 truth=${brute.size} got=${ivf.size} " +
          s"recall=${(brute intersect ivf).size.toDouble / brute.size}")

        Seq((8, 16), (16, 16), (8, 32)).foreach { case (mm, kk) =>
          val pqCents = graft.operators.Similarity.trainPq(emb, "vec_id", "embedding", mm, kk)
          Seq(0, 50).foreach { rr =>
            val pq = graft.operators.Similarity.pqTopK(
              emb, "vec_id", "embedding", q, "vec_id", "embedding", 10,
              m = mm, codebook = kk, rerank = rr, centroids = Some(pqCents))
              .select("query_id", "neighbor_id").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            println(s"PROBE q59(m=$mm,k=$kk,rerank=$rr) truth=${brute.size} got=${pq.size} " +
              s"recall=${(brute intersect pq).size.toDouble / brute.size}")
          }
        }

        val truth32 = emb.select(col("vec_id").as("id_a"), col("embedding").as("v_a"))
          .crossJoin(emb.select(col("vec_id").as("id_b"), col("embedding").as("v_b")))
          .filter(col("id_a") < col("id_b"))
          .select(col("id_a"), col("id_b"),
            GraftFunctions.cosine_similarity(col("v_a"), col("v_b")).as("c"))
          .filter(col("c") >= 0.4)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val got32 = graft.operators.Dedup.embeddingNearDups(
          emb, "vec_id", "embedding", planes = 4, threshold = 0.4, tables = 3)
          .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(s"PROBE q32 truth=${truth32.size} got=${got32.size} " +
          s"outside_truth=${(got32 diff truth32).size} " +
          s"recall=${(got32 intersect truth32).size.toDouble / truth32.size}")
      case "all" =>
        // run every query with a stderr name marker so codegen-fallback
        // ERROR lines (log4j → stderr) attribute to the query that made them
        graft.SparkEntry.queries.keys.toSeq.sorted.foreach { name =>
          System.err.println(s"### PROBE-QUERY $name")
          System.err.flush()
          try graft.SparkEntry.queries(name)(spark, dir).count()
          catch { case e: Throwable =>
            System.err.println(s"### PROBE-FAIL $name ${e.getClass.getName}")
          }
        }
      case w if w.startsWith("plan:") =>
        // planning cost vs execution cost: construct + plan, then count
        val name = w.stripPrefix("plan:")
        (1 to 2).foreach { i =>
          val t0 = System.nanoTime()
          val df = graft.SparkEntry.queries(name)(spark, dir)
          val planned = df.queryExecution.executedPlan
          val t1 = System.nanoTime()
          df.count()
          val t2 = System.nanoTime()
          println(f"PROBE $name rep$i plan=${(t1 - t0) / 1e9}%.2f s exec=${(t2 - t1) / 1e9}%.2f s (${planned.getClass.getSimpleName})")
        }
      case "langid_parts" =>
        import org.apache.spark.sql.functions._
        val docs = SparkUtil.table(spark, dir, "documents")
        def t3(label: String)(df: org.apache.spark.sql.DataFrame): Unit = {
          val times = (1 to 3).map { _ =>
            val t0 = System.nanoTime(); df.count(); (System.nanoTime() - t0) / 1e9
          }.sorted
          println(f"PROBE langid_parts $label med=${times(1)}%.2f s")
        }
        val toks = graft.operators.TextOps.tokens(lower(col("text")))
        t3("split_only")(docs.select(toks.as("t")).select(sum(size(col("t")))))
        t3("split_4sets")(docs.select(
          graft.operators.TextOps.langProfiles.toSeq.sortBy(_._1).zipWithIndex.map {
            case ((_, words), i) =>
              graft.functions.GraftFunctions.token_set_count(toks, words).as(s"c$i")
          }: _*)
          .select(sum(col("c0") + col("c1") + col("c2") + col("c3"))))
        t3("cjk_regex")(docs.select(
          regexp_count(col("text"), lit("[\\u4e00-\\u9fff]")).as("c")).select(sum(col("c"))))
        t3("full_langid")(docs.select(
          graft.operators.TextOps.langId(col("text")).as("l"))
          .select(count(col("l"))))
        t3("groupby_expr_key")(docs
          .groupBy(col("lang"), graft.operators.TextOps.langId(col("text")).as("predicted"))
          .agg(count(lit(1))))
        t3("groupby_projected_key")(docs
          .select(col("lang"), graft.operators.TextOps.langId(col("text")).as("predicted"))
          .groupBy(col("lang"), col("predicted"))
          .agg(count(lit(1))))
        // same group-by shape, scalar key: isolates the struct-greatest
        val cjk = regexp_count(col("text"), lit("[\\u4e00-\\u9fff]")).cast("double") /
          greatest(length(col("text")), lit(1)).cast("double")
        t3("groupby_scalar_key")(docs
          .groupBy(col("lang"), when(cjk > 0.3, lit("zh")).otherwise(lit("en")).as("p"))
          .agg(count(lit(1))))
        t3("agg_on_struct_greatest")(docs.select(
          graft.operators.TextOps.langId(col("text")).as("l"))
          .groupBy(col("l")).agg(count(lit(1))))
      case "q55_stages" =>
        import org.apache.spark.sql.functions._
        val docs = SparkUtil.table(spark, dir, "documents")
        val q44 = graft.SparkEntry.queries("q44_filter_pipeline")(spark, dir)
        def t(label: String)(f: => Long): Unit = {
          val t0 = System.nanoTime()
          val n = f
          println(f"PROBE q55stage $label rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        t("kept")(q44.filter(col("keep")).select(col("doc_id")).count())
        val kept = q44.filter(col("keep")).select(col("doc_id"))
        t("join")(docs.join(kept, Seq("doc_id")).count())
        val chunks = graft.operators.TextOps.chunkByTokens(
          docs.join(kept, Seq("doc_id")), "doc_id", "text", 32, 24)
        t("chunks")(chunks.count())
        t("chunks_lang")(chunks.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")).count())
        t("full")(graft.SparkEntry.queries("q55_clean_chunks")(spark, dir).count())
        t("full2")(graft.SparkEntry.queries("q55_clean_chunks")(spark, dir).count())
      case "q55_cost" =>
        import org.apache.spark.sql.functions._
        val docs = SparkUtil.table(spark, dir, "documents")
        def t(label: String)(f: => Any): Unit = {
          val t0 = System.nanoTime()
          val n = f
          println(f"PROBE q55cost $label -> $n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
        t("quality")(docs.agg(sum(graft.operators.TextOps.qualityScore(col("text")))).collect().head.get(0))
        val grams = docs
          .select(col("doc_id"), graft.operators.TextOps.tokens(col("text")).as("toks"))
          .select(col("doc_id"), graft.operators.Dedup.shinglesAll("toks", 3).as("grams"))
        t("rep")(grams.select((lit(1.0) - size(array_distinct(col("grams"))) / size(col("grams"))).as("r"))
          .agg(sum(col("r"))).collect().head.get(0))
        t("cont")(graft.operators.TextOps.contamination(docs, "doc_id", "text",
          benchFilter = col("doc_id") % 50 === 0, k = 5)
          .agg(sum(col("contamination"))).collect().head.get(0))
        t("dup")(graft.operators.Dedup.exactDuplicates(docs, "doc_id", "text")
          .filter(col("is_duplicate")).count())
        t("cont2")(graft.operators.TextOps.contamination(docs, "doc_id", "text",
          benchFilter = col("doc_id") % 50 === 0, k = 5)
          .agg(sum(col("contamination"))).collect().head.get(0))
        t("quality2")(docs.agg(sum(graft.operators.TextOps.qualityScore(col("text")))).collect().head.get(0))
        t("tok_only")(docs.agg(sum(size(graft.operators.TextOps.tokens(lower(col("text")))))).collect().head.get(0))
        t("distinct_only")(docs.agg(sum(size(array_distinct(graft.operators.TextOps.tokens(lower(col("text"))))))).collect().head.get(0))
        t("stop_only")(docs.agg(sum(graft.functions.GraftFunctions.token_set_count(
          graft.operators.TextOps.tokens(lower(col("text"))), graft.operators.TextOps.stopwords))).collect().head.get(0))
      case w if w.startsWith("diag:") || w.startsWith("diagchurn:") =>
        // Deep per-rep diagnosis of run-to-run variance (VERDICT r11 item
        // 1): for each rep of <query>, report wall time alongside every
        // counter that can name a dilation cause —
        //   exRun/exCpu/exGC  task-summed executor run / CPU / GC millis
        //                     (run >> cpu = scheduling or lock stalls;
        //                      gc high = allocation storm),
        //   jit              HotSpot total JIT compilation-time delta
        //                     (high + falling wall = warmup; ~0 + high
        //                      wall = interpreter stuck / code cache full),
        //   janinoN/janinoMs codegen compilations delta (nonzero on a
        //                     rep >1 = codegen cache eviction → fresh
        //                     unprofiled classes),
        //   codeheap         JIT code-cache occupancy (near the reserve =
        //                     compiler disabled, everything interprets).
        // diagchurn: additionally runs a ~40-query slice of the registry
        // between reps — the bench's interleaved shape — to reproduce the
        // in-bench dilation under instrumentation.
        val churn = w.startsWith("diagchurn:")
        val name = w.split(":", 2)(1)
        val reps = if (args.length > 2) args(2).toInt else 10
        val exRun = new java.util.concurrent.atomic.AtomicLong
        val exCpu = new java.util.concurrent.atomic.AtomicLong
        val exGc = new java.util.concurrent.atomic.AtomicLong
        // per-stage detail ring: (stageId, name-head, tasks, runMs, cpuMs)
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[
          (Int, String, Int, Long, Long)]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val tm = s.stageInfo.taskMetrics
              if (tm != null) {
                exRun.addAndGet(tm.executorRunTime)
                exCpu.addAndGet(tm.executorCpuTime / 1000000L)
                exGc.addAndGet(tm.jvmGCTime)
                stages.add((s.stageInfo.stageId,
                  s.stageInfo.name.takeWhile(_ != '\n').take(60),
                  s.stageInfo.numTasks, tm.executorRunTime,
                  tm.executorCpuTime / 1000000L))
              }
            }
          })
        def jitMs: Long = java.lang.management.ManagementFactory
          .getCompilationMXBean.getTotalCompilationTime
        def gcMs: Long = java.lang.management.ManagementFactory
          .getGarbageCollectorMXBeans.toArray
          .map(_.asInstanceOf[java.lang.management.GarbageCollectorMXBean]
            .getCollectionTime).sum
        def codeHeapMb: Long = java.lang.management.ManagementFactory
          .getMemoryPoolMXBeans.toArray
          .map(_.asInstanceOf[java.lang.management.MemoryPoolMXBean])
          .filter(_.getName.startsWith("CodeHeap"))
          .map(_.getUsage.getUsed).sum / 1024 / 1024
        val cg = org.apache.spark.metrics.source.CodegenMetrics
        val churnSet = if (churn)
          graft.SparkEntry.queries.keys.toSeq.sorted.zipWithIndex
            .filter(_._2 % 4 == 0).map(_._1).filterNot(_ == name)
        else Seq.empty
        (1 to reps).foreach { i =>
          if (churn) churnSet.foreach { c =>
            try graft.SparkEntry.queries(c)(spark, dir).count()
            catch { case _: Throwable => () }
          }
          val (r0, c0, g0) = (exRun.get, exCpu.get, exGc.get)
          val j0: Long = jitMs
          val d0: Long = gcMs
          val cn0: Long = cg.METRIC_COMPILATION_TIME.getCount
          val t0 = System.nanoTime()
          val n = graft.SparkEntry.queries(name)(spark, dir).count()
          val wall = (System.nanoTime() - t0) / 1e9
          println(f"PROBE diag $name rep$i rows=$n wall=$wall%.2f " +
            f"exRun=${exRun.get - r0}ms exCpu=${exCpu.get - c0}ms " +
            f"exGC=${exGc.get - g0}ms jit=${jitMs - j0}ms gc=${gcMs - d0}ms " +
            f"janinoN=${cg.METRIC_COMPILATION_TIME.getCount - cn0} " +
            f"codeheap=${codeHeapMb}MB")
          // top stages of THIS rep by task-summed run time: names which
          // stage serializes or dilates (wall >> sum/32 = skew/few tasks)
          import scala.jdk.CollectionConverters._
          val reps5 = stages.asScala.toSeq.sortBy(-_._4).take(5)
          reps5.foreach { case (sid, nm, nt, run, cpu) =>
            println(f"PROBE diag-stage rep$i s$sid tasks=$nt run=${run}ms cpu=${cpu}ms  $nm")
          }
          stages.clear()
        }
      case "q55_repro" =>
        // reproduce the q55_stages full2 blowup (897 s at 10×) under the
        // diag counters: same prelude (kept/join/chunks/chunks_lang
        // materializations), then full ×3, top stages printed per step
        import org.apache.spark.sql.functions.col
        val exRun = new java.util.concurrent.atomic.AtomicLong
        val exCpu = new java.util.concurrent.atomic.AtomicLong
        val stages = new java.util.concurrent.ConcurrentLinkedQueue[
          (Int, String, Int, Long, Long)]()
        spark.sparkContext.addSparkListener(
          new org.apache.spark.scheduler.SparkListener {
            override def onStageCompleted(
                s: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
              val tm = s.stageInfo.taskMetrics
              if (tm != null) {
                exRun.addAndGet(tm.executorRunTime)
                exCpu.addAndGet(tm.executorCpuTime / 1000000L)
                // name serialized hot stages by their RDD scopes (the SQL
                // operator tree this stage executes), not the callsite
                val scope = if (s.stageInfo.numTasks == 1 && tm.executorRunTime > 5000)
                  s.stageInfo.rddInfos.map(r =>
                    r.scope.map(_.name).getOrElse(r.name)).mkString("<-").take(300)
                else ""
                stages.add((s.stageInfo.stageId,
                  (s.stageInfo.name.takeWhile(_ != '\n').take(40) +
                    (if (scope.nonEmpty) s"  RDDs:$scope" else "")),
                  s.stageInfo.numTasks, tm.executorRunTime,
                  tm.executorCpuTime / 1000000L))
              }
            }
          })
        def step(label: String)(f: => Long): Unit = {
          val (r0, c0) = (exRun.get, exCpu.get)
          val t0 = System.nanoTime()
          val n = f
          println(f"PROBE q55repro $label rows=$n wall=${(System.nanoTime() - t0) / 1e9}%.2f " +
            f"exRun=${exRun.get - r0}ms exCpu=${exCpu.get - c0}ms")
          import scala.jdk.CollectionConverters._
          stages.asScala.toSeq.sortBy(-_._4).take(4).foreach {
            case (sid, nm, nt, run, cpu) =>
              println(f"PROBE q55repro-stage $label s$sid tasks=$nt run=${run}ms cpu=${cpu}ms  $nm")
          }
          stages.clear()
        }
        val docs = SparkUtil.table(spark, dir, "documents")
        val q44 = graft.SparkEntry.queries("q44_filter_pipeline")(spark, dir)
        step("kept")(q44.filter(col("keep")).select(col("doc_id")).count())
        val kept = q44.filter(col("keep")).select(col("doc_id"))
        step("join")(docs.join(kept, Seq("doc_id")).count())
        val chunks = graft.operators.TextOps.chunkByTokens(
          docs.join(kept, Seq("doc_id")), "doc_id", "text", 32, 24)
        step("chunks")(chunks.count())
        step("chunks_lang")(chunks.join(docs.select(col("doc_id"), col("lang")), Seq("doc_id")).count())
        (1 to 3).foreach { i =>
          step(s"full$i")(graft.SparkEntry.queries("q55_clean_chunks")(spark, dir).count())
        }
      case "stress_build" =>
        // materialize the bench's 10× stress tables at a FIXED path so
        // diag/x3 runs can measure the stressed queries in a cold JVM
        val out = if (args.length > 2) args(2) else "/tmp/graft_stress10x"
        graft.util.SparkUtil.buildStress10x(spark, dir, out)
        println(s"PROBE stress_build -> $out")
      case w if w.startsWith("x3:") =>
        // three timed runs in one JVM — shows warm-cache / post-codegen cost
        val name = w.stripPrefix("x3:")
        (1 to 3).foreach { i =>
          val t0 = System.nanoTime()
          val n = graft.SparkEntry.queries(name)(spark, dir).count()
          println(f"PROBE $name rep$i rows=$n t=${(System.nanoTime() - t0) / 1e9}%.2f s")
        }
      case w if w.startsWith("explain:") =>
        val q = graft.SparkEntry.queries(w.stripPrefix("explain:"))(spark, dir)
        println(q.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      case q =>
        time(graft.SparkEntry.queries(q)(spark, dir).count())
    }
    spark.stop()
  }
}
