package graft.streaming.fake

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

/** DataSource V2 `fakekafka` format: the Kafka connector's semantics over
  * [[FakeBroker]], so KafkaIO-built plans execute at runtime in this
  * broker-less sandbox.
  *
  * Mirrors the option and schema surface of `format("kafka")` that the
  * reference relies on (moving_statistic.py:32-39,123-131):
  * `subscribe`, `startingOffsets` earliest|latest, `failOnDataLoss`
  * (true by default, as in Kafka), write-side `topic`; read schema
  * key/value/topic/partition/offset/timestamp/timestampType. Offsets are
  * checkpointed by the engine via the standard `Offset` JSON round-trip —
  * restart/resume, latest-vs-earliest, and data-loss tolerance are real,
  * not simulated (FakeKafkaSpec drives all three through checkpoints).
  *
  * Writes are at-least-once, matching the real (non-transactional) Kafka
  * sink: each task publishes as it writes; epoch commit is a no-op.
  */
class FakeKafkaProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "fakekafka"
  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    FakeKafka.schema
  override def getTable(
      schema: StructType,
      partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = new FakeKafkaTable
}

object FakeKafka {
  /** Exactly the Kafka source's columns, in its order. */
  val schema: StructType = StructType(Seq(
    StructField("key", BinaryType),
    StructField("value", BinaryType),
    StructField("topic", StringType),
    StructField("partition", IntegerType),
    StructField("offset", LongType),
    StructField("timestamp", TimestampType),
    StructField("timestampType", IntegerType)))

  /** Column index + is-string flag for the write side; Kafka accepts
    * STRING or BINARY for key/value and casts strings to bytes. */
  private[fake] def resolveField(
      schema: StructType, name: String, required: Boolean): Option[(Int, Boolean)] =
    schema.fields.indexWhere(_.name.equalsIgnoreCase(name)) match {
      case -1 if required => throw new IllegalArgumentException(
        s"fakekafka: required column 'value' missing from ${schema.simpleString}")
      case -1 => None
      case i => schema(i).dataType match {
        case BinaryType => Some((i, false))
        case StringType => Some((i, true))
        case dt => throw new IllegalArgumentException(
          s"fakekafka: column '$name' must be STRING or BINARY, got ${dt.simpleString}")
      }
    }
}

private[fake] class FakeKafkaTable extends Table with SupportsRead with SupportsWrite {
  override def name(): String = "fakekafka"
  override def schema(): StructType = FakeKafka.schema
  override def capabilities(): util.Set[TableCapability] = util.EnumSet.of(
    TableCapability.MICRO_BATCH_READ,
    TableCapability.STREAMING_WRITE,
    // like the real Kafka sink: input frames carry (key, value[, ...]) in
    // STRING or BINARY, not the source's 7-column read schema — the write
    // builder validates shape itself
    TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder with Scan {
      override def build(): Scan = this
      override def readSchema(): StructType = FakeKafka.schema
      override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
        val topic = Option(options.get("subscribe")).getOrElse(
          throw new IllegalArgumentException("fakekafka: 'subscribe' option required"))
        val starting = Option(options.get("startingOffsets")).getOrElse("latest")
        // Kafka's default is fail-fast on unretained offsets
        val failOnDataLoss = Option(options.get("failOnDataLoss")).forall(_.toBoolean)
        new FakeKafkaStream(topic, starting, failOnDataLoss)
      }
    }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val topic = Option(info.options.get("topic")).getOrElse(
      throw new IllegalArgumentException("fakekafka: 'topic' option required for writes"))
    val schema = info.schema()
    // validate eagerly so a bad frame shape fails at analysis, not in tasks
    FakeKafka.resolveField(schema, "value", required = true)
    FakeKafka.resolveField(schema, "key", required = false)
    // SupportsStreamingUpdateAsAppend: update-mode rows are written as
    // appends — the real Kafka sink's declaration (its writer publishes
    // every changed aggregate as a new message)
    new WriteBuilder with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      override def build(): Write = new Write {
        override def toStreaming: StreamingWrite = new FakeKafkaWrite(topic, schema)
      }
    }
  }
}

/** One micro-batch stream over a subscribed topic. Partition count is
  * fixed at topic creation (no dynamic partition discovery — the
  * reference's topics are static 3-partition, setup_transform.py:92). */
private[fake] class FakeKafkaStream(topic: String, startingOffsets: String, failOnDataLoss: Boolean)
  extends MicroBatchStream {

  override def initialOffset(): Offset = startingOffsets.toLowerCase match {
    case "earliest" => FakeKafkaOffset(FakeBroker.earliestOffsets(topic))
    case "latest" => FakeKafkaOffset(FakeBroker.latestOffsets(topic))
    case other => throw new IllegalArgumentException(
      s"fakekafka: startingOffsets must be earliest|latest, got '$other'")
  }

  override def latestOffset(): Offset = FakeKafkaOffset(FakeBroker.latestOffsets(topic))

  override def deserializeOffset(json: String): Offset = FakeKafkaOffset.fromJson(json)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[FakeKafkaOffset].offsets
    val e = end.asInstanceOf[FakeKafkaOffset].offsets
    val earliest = FakeBroker.earliestOffsets(topic)
    s.indices.map { p =>
      val from =
        if (s(p) >= earliest(p)) s(p)
        else if (failOnDataLoss) throw new IllegalStateException(
          s"fakekafka: offsets out of range on $topic-$p: requested ${s(p)}, " +
            s"earliest retained ${earliest(p)} (data lost to retention; " +
            "set failOnDataLoss=false to resume from earliest)")
        else earliest(p) // Kafka's tolerated-gap behavior: skip to retained
      FakeKafkaInputPartition(topic, p, math.min(from, e(p)), e(p))
        : InputPartition
    }.toArray
  }

  override def createReaderFactory(): PartitionReaderFactory = new FakeKafkaReaderFactory

  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** Per-partition end offsets; JSON form `[o0,o1,...]` is what lands in the
  * checkpoint's offset log and round-trips through deserializeOffset. */
private[fake] case class FakeKafkaOffset(offsets: Array[Long]) extends Offset {
  override def json(): String = offsets.mkString("[", ",", "]")
}

private[fake] object FakeKafkaOffset {
  def fromJson(s: String): FakeKafkaOffset = FakeKafkaOffset(
    s.trim.stripPrefix("[").stripSuffix("]").split(",")
      .iterator.map(_.trim).filter(_.nonEmpty).map(_.toLong).toArray)
}

private[fake] case class FakeKafkaInputPartition(
    topic: String, partition: Int, from: Long, until: Long) extends InputPartition

private[fake] class FakeKafkaReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[FakeKafkaInputPartition]
    new PartitionReader[InternalRow] {
      private val recs = FakeBroker.fetch(p.topic, p.partition, p.from, p.until).iterator
      private var cur: FakeBroker.Rec = _
      override def next(): Boolean = {
        if (recs.hasNext) { cur = recs.next(); true } else false
      }
      override def get(): InternalRow = InternalRow(
        cur.key,
        cur.value,
        UTF8String.fromString(p.topic),
        p.partition,
        cur.offset,
        cur.timestampMs * 1000L, // micros, catalyst timestamp encoding
        0) // TimestampType.CREATE_TIME
      override def close(): Unit = ()
    }
  }
}

/** The streaming write: tasks publish as they write (the real Kafka
  * sink's at-least-once contract — no transaction to roll back), so epoch
  * commit and abort are no-ops. */
private[fake] class FakeKafkaWrite(topic: String, schema: StructType) extends StreamingWrite {

  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    new FakeKafkaWriterFactory(topic, schema)
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
  // tasks publish directly, no coordination
  override def useCommitCoordinator(): Boolean = false
}

private[fake] class FakeKafkaWriterFactory(topic: String, schema: StructType)
  extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new DataWriter[InternalRow] {
      private val valueIdx = FakeKafka.resolveField(schema, "value", required = true).get
      private val keyIdx = FakeKafka.resolveField(schema, "key", required = false)
      private def bytes(row: InternalRow, f: (Int, Boolean)): Array[Byte] =
        if (row.isNullAt(f._1)) null
        else if (f._2) row.getUTF8String(f._1).getBytes
        else row.getBinary(f._1)
      override def write(row: InternalRow): Unit =
        FakeBroker.publish(topic, keyIdx.map(bytes(row, _)).orNull, bytes(row, valueIdx))
      override def commit(): WriterCommitMessage = FakeKafkaCommit
      override def abort(): Unit = ()
      override def close(): Unit = ()
    }
}

private[fake] case object FakeKafkaCommit extends WriterCommitMessage
