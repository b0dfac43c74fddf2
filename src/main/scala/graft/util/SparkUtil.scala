package graft.util

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.checkpointing.FileSystemBasedCheckpointFileManager
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, TimestampNTZType, TimestampType}

/** Session + table helpers shared by queries, Verify, Bench and tests. */
object SparkUtil {

  /** Confs every session needs, safe to set at runtime.
    *
    * `nanosAsLong` is kept for backward compatibility with testdata
    * generations that write `events.ts` as parquet TIMESTAMP(NANOS):
    * Spark refuses that type by default, and with the flag reads it as a
    * Long of epoch-nanos which [[events]] converts explicitly. Current
    * testdata writes TIMESTAMP_MICROS, which arrives as a timestamp type
    * directly — [[events]] branches on whichever shape it finds. The
    * session TZ is pinned UTC so NTZ↔TZ casts are identities.
    */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark
  }

  def table(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    configure(spark)
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** The `events` table with both a raw epoch-nano long (`ts_ns`) and a
    * proper TimestampType column (`ts`, microsecond precision) so callers
    * can pick integer bucket math or Spark's `window()` as appropriate.
    *
    * Schema-agnostic on purpose: the physical type of `events.ts` has
    * drifted between testdata generations (TIMESTAMP(NANOS) → read as a
    * Long via `nanosAsLong`, vs TIMESTAMP_MICROS → TimestampNTZType), so
    * we branch on whatever the scan reports rather than assuming either.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = table(spark, sfDir, "events")
    raw.schema("ts").dataType match {
      case LongType => // epoch-nanos read via nanosAsLong
        raw
          .withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      case TimestampType | TimestampNTZType => // micros precision
        val both = raw
          .withColumn("ts", col("ts").cast(TimestampType))
          .withColumn("ts_ns", unix_micros(col("ts")) * lit(1000L))
        // Same column order as the Long branch: ts_ns in ts's slot, ts last.
        val order = raw.columns.map(c => if (c == "ts") "ts_ns" else c) :+ "ts"
        both.select(order.map(col).toIndexedSeq: _*)
      case other =>
        throw new IllegalStateException(
          s"events.ts has unsupported type $other — expected a Long of " +
            "epoch-nanos or a timestamp type; testdata schema drifted again?")
    }
  }

  /** Fan a scan out to the cluster's core count before CPU-heavy per-row
    * stages (text kernels, codec decode) when its split count undershoots
    * it. A parquet file is splittable only at row-group granularity — the
    * small-SF `documents` table is ONE row group, so every text kernel
    * upstream of the first shuffle otherwise runs on ONE core of 32 (the
    * whole q55 pipeline measured 5 s single-threaded vs ~1 s fanned out).
    * CPU-bound stages want partitions ∝ cores, not ∝ input bytes, and
    * AQE's size-based coalescing cannot see CPU cost. At production
    * scale a 100 TB scan already splits into thousands of row groups and
    * this is a no-op — the shuffle is only paid exactly when the input
    * is too small for it to matter. Hash-partitioned on `key` (content-
    * deterministic, unlike round-robin, so retries and both engines see
    * the same placement).
    *
    * The fanned-out result is a LAZY local checkpoint, which matters as
    * much as the repartition (round-12 root cause): a bare repartition is
    * TRANSPARENT to the optimizer, so a downstream filter on a computed
    * column (q55's keep-gate: quality/repetition of the text) is alias-
    * substituted and PUSHED below the exchange onto the 1-split scan —
    * the expensive kernels run serialized on one core, exactly what this
    * helper exists to prevent (measured: a 39 s single-task stage
    * carrying ~70% of q55@10× wall time). The checkpoint is an optimizer
    * barrier (LogicalRDD leaf): predicates evaluate after the exchange,
    * on all cores. It also materializes the fanned rows ONCE per query,
    * so the 3-4 branches that re-derive signals from the same documents
    * (quality, grams, contamination, chunker) read cached blocks instead
    * of re-scanning. Both effects apply only in the small-input regime
    * where this helper fires at all; at scale the unchanged `df` keeps
    * full scan pushdown — which is then the OPTIMAL shape (filter at the
    * scan, shuffle survivors only). */
  def fanOutForCpu(df: org.apache.spark.sql.DataFrame, key: String): org.apache.spark.sql.DataFrame = {
    val cores = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= cores) df
    else df.repartition(cores, col(key)).localCheckpoint(false)
  }

  /** Recursively delete `dir` when the JVM exits — for session-lifetime
    * temp artifacts (built index stores) that `File.deleteOnExit` cannot
    * reap (it refuses non-empty directories). */
  def deleteDirOnExit(dir: String): Unit =
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        if (f.isDirectory) {
          val kids = f.listFiles()
          if (kids != null) kids.foreach(rm)
        }
        f.delete()
      }
      rm(new java.io.File(dir))
    }))

  /** Materialize the 10×-replicated stress tables (events/part/documents)
    * under `outDir` — copies shifted in time and id (a longer history,
    * not pathological duplicates, except `documents`, which replicates
    * as EXACT copies on purpose: the worst case for MinHash LSH).
    * Bench's stress10x section reads them. */
  def buildStress10x(spark: SparkSession, sfDir: String, outDir: String): Unit = {
    val mult = 10
    // events.ts normalizes through [[events]] into a ts_ns Long — shift
    // copies with integer math, then write back as TIMESTAMP_MICROS (the
    // current testdata shape, so the stressed run reads what production
    // reads)
    val ev = events(spark, sfDir)
    val b = ev.agg(min(col("ts_ns")), max(col("ts_ns")), max(col("event_id"))).head()
    val span = b.getLong(1) - b.getLong(0) + 86400L * 1000000000L
    val idSpan = b.getLong(2) + 1
    ev.drop("ts")
      .crossJoin(spark.range(mult).toDF("__k"))
      .withColumn("ts_ns", col("ts_ns") + col("__k") * span)
      .withColumn("event_id", col("event_id") + col("__k") * idSpan)
      .drop("__k")
      .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
      .drop("ts_ns")
      .write.mode("overwrite").parquet(s"$outDir/events.parquet")
    // part and documents are written MULTI-FILE (hash on their keys): the
    // production shape a 10×-and-growing table actually has — a crossJoin
    // preserves the 1-file source's single partition, and a one-row-group
    // parquet file is UNSPLITTABLE, which silently serialized every scan
    // of the stressed tables onto one core (round 12: this was most of
    // q55@10×'s wall time, hidden behind the bench's own claim that the
    // replicated table was "written multi-partition")
    val pt = table(spark, sfDir, "part")
    val pSpan = pt.agg(max(col("p_partkey"))).head().getLong(0) + 1
    pt.crossJoin(spark.range(mult).toDF("__k"))
      .withColumn("p_partkey", col("p_partkey") + col("__k") * pSpan)
      .drop("__k")
      .repartition(32, col("p_partkey"))
      .write.mode("overwrite").parquet(s"$outDir/part.parquet")
    val dt = table(spark, sfDir, "documents")
    val dSpan = dt.agg(max(col("doc_id"))).head().getLong(0) + 1
    dt.crossJoin(spark.range(mult).toDF("__k"))
      .withColumn("doc_id", col("doc_id") + col("__k") * dSpan)
      .drop("__k")
      .repartition(32, col("doc_id"))
      .write.mode("overwrite").parquet(s"$outDir/documents.parquet")
  }

  /** The one session builder: a `local[cores]` session for the
    * streaming jobs, the batch driver mains (`Verify`, `Bench`), the
    * tests and `streambench`.
    *
    * Its checkpoint I/O forks no processes. Without Hadoop's native
    * library, the default checkpoint manager's `FileContext.rename` forks
    * `readlink` several times per committed file (data file and `.crc`),
    * and the local filesystem forks `chmod` for every file it creates. With a state-store delta per instance plus
    * offset- and commit-log entries on every trigger, that was over 2,000
    * processes in one 6 s streaming benchmark run. Here the checkpoint
    * manager is Spark's `FileSystem`-based one (same temp-file-and-rename
    * commit, no link-status lookups) and `file:` is
    * [[NoForkLocalFileSystem]] (same `.crc` sidecars and mode bits, set
    * without `chmod`). Checksums and `checkCorrectness` stay on.
    *
    * Hadoop caches filesystems by scheme, not by configuration: a `file:`
    * filesystem created in this JVM before the session keeps Hadoop's
    * forking class. */
  def newLocalSession(appName: String, cores: String): SparkSession = {
    val spark = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.ui.enabled", "false")
      // Long-lived-session JIT hygiene (round-12 q55 variance root cause).
      // The codegen class cache defaults to 100 entries; the query
      // registry compiles ~900 distinct codegen units, so in a bench or
      // production JVM every query's every run RE-COMPILED its generated
      // classes (measured: 61 janino compiles per q55 rep under churn, 0
      // standalone) and ran them cold. HotSpot profiles die with the
      // evicted class, so the hottest fused kernels never reached C2 and
      // the same plan read anywhere from 5 s to 55 s. Static conf, must
      // be set before the session exists; sized to hold the whole
      // registry with headroom.
      .config("spark.sql.codegen.cache.maxEntries", "5000")
      .config("spark.sql.streaming.checkpointFileManagerClass",
        classOf[FileSystemBasedCheckpointFileManager].getName)
      .config("spark.hadoop.fs.file.impl", classOf[NoForkLocalFileSystem].getName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    configure(spark)
  }
}
