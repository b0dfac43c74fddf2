package streambench

import java.nio.file.{Files, Paths}

import graft.util.SparkUtil

/** Benchmark JVM entry point. Runs one workload and writes its result as
  * JSON to `--out` (the Python front end turns it into the report):
  *
  * {{{
  *   streambench.Main --workload ticks|docs_ingest
  *     --seed N --seconds S --trace 0|1 --work DIR --out FILE
  * }}}
  *
  * Spark runs `local[N]` with N the cores the JVM may use. The seed only
  * shapes the generated inputs; the program under test receives nothing
  * but the published frames and documents. */
object Main {
  val Workloads = Seq("ticks", "docs_ingest")

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    require(Workloads.contains(workload), s"unknown workload $workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toInt
    val trace = a.getOrElse("trace", "0") == "1"
    val cores = Runtime.getRuntime.availableProcessors
    val work = Paths.get(a("work")).toAbsolutePath.toString

    val jvm0 = (Jvm.jitMs, Jvm.gcMs)
    val tSession = System.nanoTime()
    val spark = SparkUtil.newLocalSession("streambench", cores.toString)
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(trace, f"${(workload, seed).hashCode}%08x")
    val progress = new ProgressLog(tracer)
    spark.streams.addListener(progress)
    val result = new Result
    val ctx = new Ctx(spark, work, seed, seconds, tracer, progress, result)
    val t0 = System.nanoTime()
    try {
      workload match {
        case "ticks" => Ticks.run(ctx)
        case "docs_ingest" => Ingest.run(ctx)
      }
      val wallNs = System.nanoTime() - t0
      val jvm1 = (Jvm.jitMs, Jvm.gcMs)
      val rss = Jvm.peakRssMb
      result.lines += f"jvm: local[$cores], session start ${(t0 - tSession) / 1e9}%.1f s, workload ${wallNs / 1e9}%.1f s"
      result.layer("jvm.peak_rss_mb", rss, "MB")
      result.note("peak_rss_mb", rss, "MB")
      result.note("error_rate", result.failed.toDouble / math.max(1L, result.attempted), "ratio",
        s"${result.failed} of ${result.attempted} outputs wrong or missing")
      result.layer("jvm.jit_ms", (jvm1._1 - jvm0._1).toDouble, "ms")
      result.layer("jvm.gc_ms", (jvm1._2 - jvm0._2).toDouble, "ms")
      result.layer("trace.overhead_pct", 100.0 * tracer.overheadNs / wallNs, "%")
      tracer.write(Paths.get(work, "trace.json"))
      Files.write(Paths.get(a("out")), result.toJson.getBytes("UTF-8"))
    } finally {
      spark.streams.active.foreach(_.stop())
      spark.stop()
    }
  }
}
