package streambench

import java.util.UUID
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}

import graft.streaming.{MovingStatsJob, ZScoreJob}
import graft.streaming.fake.FakeBroker

/** One deployment of the shipped three-topic pipeline on the in-JVM
  * broker: `MovingStatsJob.run` and `ZScoreJob.run` exactly as shipped,
  * with only deployment settings chosen here (format, topics, checkpoint
  * dirs, starting offsets, a 0 s trigger). */
final class Pipeline(workDir: String) {
  val price = "btc-price"
  val moving = "btc-price-moving"
  val zscore = "btc-price-zscore"
  Seq(price, moving, zscore).foreach(FakeBroker.createTopic(_))

  var movingQ: StreamingQuery = _
  var zscoreQ: StreamingQuery = _

  def startMoving(spark: SparkSession, progress: ProgressLog): StreamingQuery = {
    movingQ = MovingStatsJob.run(spark, Pipeline.Brokers, price, moving,
      s"$workDir/ckpt/moving", MovingStatsJob.H1Mode.ForeachBatch,
      format = "fakekafka", startingOffsets = "earliest",
      triggerInterval = "0 seconds")
    progress.register(movingQ.id, "moving")
    movingQ
  }

  def startZScore(spark: SparkSession, progress: ProgressLog): StreamingQuery = {
    zscoreQ = ZScoreJob.run(spark, Pipeline.Brokers, price, moving, zscore,
      s"$workDir/ckpt/zscore", MovingStatsJob.H1Mode.ForeachBatch,
      format = "fakekafka", startingOffsets = "earliest",
      triggerInterval = "0 seconds")
    progress.register(zscoreQ.id, "zscore")
    zscoreQ
  }

  def queries: Seq[StreamingQuery] = Seq(movingQ, zscoreQ).filter(_ != null)

  /** Wait until everything published so far has gone through both
    * stages: the moving-stats query has committed the price topic's end,
    * then the z-score query has committed the ends of both its inputs.
    * Trailing no-data batches (state eviction after the watermark moved)
    * publish nothing and are not waited for. */
  def drain(): Unit = {
    val priceEnd = FakeBroker.latestOffsets(price).sum
    Pipeline.awaitCommitted(movingQ, 0, priceEnd)
    val movingEnd = FakeBroker.latestOffsets(moving).sum
    Pipeline.awaitCommitted(zscoreQ, 0, priceEnd)
    Pipeline.awaitCommitted(zscoreQ, 1, movingEnd)
  }

  def stop(): Unit = queries.foreach(_.stop())
}

object Pipeline {
  val Brokers = "fake:9092"

  def rethrow(q: StreamingQuery): Unit =
    q.exception.foreach(e => throw new IllegalStateException(s"query ${q.id} failed", e))

  /** Sum of a source offset's per-partition positions (`[o0,o1,...]`). */
  def offsetSum(json: String): Long =
    json.trim.stripPrefix("[").stripSuffix("]").split(",")
      .iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).sum

  /** Block until `q` has committed `end` records of its `source`-th input. */
  def awaitCommitted(q: StreamingQuery, source: Int, end: Long): Unit = {
    def committed = q.recentProgress.iterator.filter(_.sources.length > source)
      .map(p => offsetSum(p.sources(source).endOffset)).maxOption.getOrElse(-1L)
    while (committed < end) {
      rethrow(q)
      require(q.isActive, s"query ${q.id} stopped while draining")
      Thread.sleep(10)
    }
  }
}

/** Per-query progress, collected from outside the program through
  * Spark's `StreamingQueryListener`. Only progress events of executed
  * batches are kept (idle heartbeats carry no `addBatch`). When tracing,
  * each event becomes a span with its duration breakdown as children. */
final class ProgressLog(tracer: Tracer) extends StreamingQueryListener {
  import ProgressLog.Entry

  private val roles = new ConcurrentHashMap[UUID, String]()
  private val entries = new java.util.concurrent.ConcurrentLinkedQueue[Entry]()
  @volatile var onEntry: Entry => Unit = _ => ()

  def register(id: UUID, role: String): Unit = roles.put(id, role)

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
    val role = roles.get(e.progress.id)
    if (role != null && e.progress.durationMs.containsKey("addBatch")) {
      val en = Entry(role, e.progress, System.nanoTime())
      entries.add(en)
      onEntry(en)
      if (tracer.enabled) tracer.overhead(traceBatch(en))
    }
  }

  /** The trigger as a span ending when the event arrived, its phases as
    * consecutive children in execution order. */
  private def traceBatch(en: Entry): Unit = {
    val d = en.p.durationMs
    def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
    val end = en.atNanos
    var at = end - ms("triggerExecution") * 1000000L
    val id = tracer.record(tracer.newId(), 0, s"${en.role}.batch", at, end)
    Seq("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")
      .foreach { k =>
        val n = ms(k) * 1000000L
        tracer.record(tracer.newId(), id, s"${en.role}.$k", at, at + n)
        at += n
      }
  }

  def all: Seq[Entry] = entries.asScala.toSeq
  def of(role: String): Seq[Entry] = all.filter(_.role == role)

  /** Listener events arrive asynchronously: wait (up to 10 s) until every
    * executed batch of `qs` has been delivered. */
  def settle(qs: Seq[StreamingQuery]): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    def pending = qs.exists { q =>
      val executed = q.recentProgress.count(_.durationMs.containsKey("addBatch"))
      all.count(_.p.id == q.id) < executed
    }
    while (pending && System.nanoTime() < deadline) Thread.sleep(10)
  }

  /** Summed source end offsets of a progress event, by source position
    * (plan order: the moving job reads the price topic; the z-score join
    * reads the price topic, then the moving topic). */
  def endOffsets(p: StreamingQueryProgress, source: Int): Long =
    if (source >= p.sources.length) 0L else Pipeline.offsetSum(p.sources(source).endOffset)
}

object ProgressLog {
  final case class Entry(role: String, p: StreamingQueryProgress, atNanos: Long)
}
