package graft.streaming.fake

import scala.collection.mutable

/** In-JVM Kafka broker double backing the `fakekafka` data source.
  *
  * The sandbox has no Kafka broker or connector jars, so the real
  * `format("kafka")` plans in [[graft.streaming.KafkaIO]] have never
  * executed at runtime. This object is the smallest thing that lets them:
  * a partitioned, offset-addressed, truncatable log per topic, shared
  * JVM-wide — which is exactly the visibility `local[*]` gives executors.
  * It is a TEST DOUBLE: correct only in local mode (single JVM); a real
  * deployment swaps the format string back to `kafka`.
  *
  * Semantics mirrored from Kafka (and exercised by FakeKafkaSpec):
  *  - per-partition monotonically increasing offsets, end = next offset;
  *  - keyed records hash to a stable partition, unkeyed round-robin
  *    (the default partitioner's contract);
  *  - retention: [[truncateTo]] advances the earliest retained offset, so
  *    a consumer positioned below it faces Kafka's OffsetOutOfRange
  *    condition (surfaced through `failOnDataLoss`);
  *  - topic admin — create (3 partitions by default, the reference's
  *    choice in setup_transform.py:83-131), delete, list.
  */
object FakeBroker {

  final case class Rec(
      offset: Long,
      key: Array[Byte],
      value: Array[Byte],
      timestampMs: Long)

  private final class PartitionLog {
    var startOffset: Long = 0L // earliest retained; advances on truncate
    val records = mutable.ArrayBuffer[Rec]()
    def endOffset: Long = startOffset + records.size
  }

  private val topics = mutable.LinkedHashMap[String, Array[PartitionLog]]()
  private val roundRobin = mutable.HashMap[String, Int]()

  /** Reference default: 3 partitions, RF 1 (setup_transform.py:83-131).
    * Idempotent, like `kafka-topics --create --if-not-exists`. */
  def createTopic(topic: String, partitions: Int = 3): Unit = synchronized {
    require(partitions > 0, s"fakekafka: partitions must be > 0, got $partitions")
    if (!topics.contains(topic))
      topics(topic) = Array.fill(partitions)(new PartitionLog)
  }

  def deleteTopic(topic: String): Unit = synchronized {
    topics.remove(topic); roundRobin.remove(topic)
  }

  def listTopics(): Seq[String] = synchronized { topics.keys.toSeq }

  private def logs(topic: String): Array[PartitionLog] =
    topics.getOrElse(topic, throw new NoSuchElementException(
      s"fakekafka: unknown topic '$topic' (createTopic first)"))

  def numPartitions(topic: String): Int = synchronized { logs(topic).length }

  /** Append one record. Keyed records go to hash(key) mod partitions —
    * stable co-partitioning by key, Kafka's default-partitioner contract —
    * unkeyed ones round-robin. Returns (partition, offset). */
  def publish(
      topic: String,
      key: Array[Byte],
      value: Array[Byte],
      timestampMs: Long = System.currentTimeMillis()): (Int, Long) = synchronized {
    val ls = logs(topic)
    val p =
      if (key != null && key.nonEmpty)
        math.floorMod(java.util.Arrays.hashCode(key), ls.length)
      else {
        val i = roundRobin.getOrElse(topic, 0)
        roundRobin(topic) = i + 1
        i % ls.length
      }
    val log = ls(p)
    val off = log.endOffset
    log.records += Rec(off, key, value, timestampMs)
    (p, off)
  }

  def earliestOffsets(topic: String): Array[Long] = synchronized {
    logs(topic).map(_.startOffset)
  }

  def latestOffsets(topic: String): Array[Long] = synchronized {
    logs(topic).map(_.endOffset)
  }

  /** Records with offsets in [from, until), clamped to what is retained. */
  def fetch(topic: String, partition: Int, from: Long, until: Long): Seq[Rec] =
    synchronized {
      val log = logs(topic)(partition)
      val lo = math.max(from, log.startOffset)
      val hi = math.min(until, log.endOffset)
      if (hi <= lo) Seq.empty
      else log.records.view
        .slice((lo - log.startOffset).toInt, (hi - log.startOffset).toInt)
        .toVector
    }

  /** Retention analog: drop records below `newStart`. A consumer whose
    * checkpointed position is now below the earliest retained offset hits
    * the OffsetOutOfRange condition on its next fetch plan. */
  def truncateTo(topic: String, partition: Int, newStart: Long): Unit =
    synchronized {
      val log = logs(topic)(partition)
      val ns = math.max(newStart, log.startOffset)
      val drop = math.min(ns - log.startOffset, log.records.size.toLong).toInt
      log.records.remove(0, drop)
      log.startOffset = ns
    }
}
