package streambench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Spans recorded in the benchmark's own code around each call into a
  * layer. Kept in memory, written out when the run ends. When disabled,
  * `span` just runs its body. The recorder times its own work (id
  * allocation, clock reads, appending spans, turning progress events into
  * spans), so the traced run can report what tracing cost it. */
final class Tracer(val enabled: Boolean, val traceId: String) {
  import Tracer.Span

  private val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
  private var nextId = 1
  private var selfNs = 0L
  private val origin = System.nanoTime()

  def span[A](name: String, parent: Int = 0)(body: Int => A): A =
    if (!enabled) body(0)
    else {
      val a = System.nanoTime()
      val id = newId()
      val s = System.nanoTime()
      try body(id)
      finally {
        val e = System.nanoTime()
        synchronized { spans += Span(id, parent, name, s, e) }
        charge(s - a + System.nanoTime() - e)
      }
    }

  /** Runs tracing work done outside `span` and charges its time to the
    * tracer's overhead. */
  def overhead[A](body: => A): A = {
    val a = System.nanoTime()
    try body finally charge(System.nanoTime() - a)
  }

  private def charge(ns: Long): Unit = synchronized { selfNs += ns }

  /** A span whose interval was measured elsewhere (a progress event's
    * duration breakdown). Returns its id so children can point at it. */
  def record(id: Int, parent: Int, name: String, startNs: Long, endNs: Long): Int = {
    if (enabled) synchronized { spans += Span(id, parent, name, startNs, endNs) }
    id
  }

  def newId(): Int = synchronized { val i = nextId; nextId += 1; i }

  def overheadNs: Long = synchronized(selfNs)

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val rows = synchronized(spans.toVector).map { s =>
      s"""{"trace":"$traceId","id":${s.id},"parent":${s.parent},"name":"${s.name}",""" +
        s""""start_us":${(s.startNs - origin) / 1000},"end_us":${(s.endNs - origin) / 1000}}"""
    }
    java.nio.file.Files.write(path, rows.mkString("[\n", ",\n", "\n]\n").getBytes("UTF-8"))
  }
}

object Tracer {
  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
}

/** JVM-level counters read through MXBeans and /proc. */
object Jvm {
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(b => math.max(0L, b.getCollectionTime)).sum

  def jitMs: Long = {
    val c = ManagementFactory.getCompilationMXBean
    if (c != null && c.isCompilationTimeMonitoringSupported) c.getTotalCompilationTime else 0L
  }

  def cpuNs: Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  /** Peak resident set size (VmHWM) in MB. */
  def peakRssMb: Double = {
    val src = scala.io.Source.fromFile("/proc/self/status")
    try src.getLines().find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    finally src.close()
  }
}

object Stats {
  /** Linear-interpolated quantile (the same rule as numpy's default). */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** The highest of p99 / p90 / p50 that has at least ten samples beyond
    * it, as (label, value); p50 when there are fewer than 20 samples. */
  def tail(xs: Seq[Double]): (String, Double) =
    Seq(("p99", 0.99), ("p90", 0.90))
      .find { case (_, q) => xs.size * (1 - q) >= 10 }
      .map { case (l, q) => (l, quantile(xs, q)) }
      .getOrElse(("p50", median(xs)))
}
