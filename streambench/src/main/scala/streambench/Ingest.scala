package streambench

import java.nio.charset.StandardCharsets.UTF_8

import scala.collection.mutable

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructField, StructType}

import graft.operators.DedupIndexStore
import graft.streaming.{KafkaIO, StreamOps}
import graft.streaming.fake.FakeBroker

/** `docs_ingest` (closed loop, one client): a bucketed standing index
  * of `BaseDocs` documents, then steps of `BatchDocs` fresh documents
  * published to a `documents` topic; each step waits until the shipped
  * `StreamOps.streamingIngestDedupBucketed` query has processed them,
  * and every `CompactEvery` steps the client runs
  * `DedupIndexStore.compactTail`. Steps repeat for `--seconds`, and at
  * least `MinSteps` times. */
object Ingest {
  val BaseDocs = 300
  val BatchDocs = 50
  val CompactEvery = 2
  /** A closed loop runs at least this many steps, however slow they are. */
  val MinSteps = 2
  val Buckets = 4
  // the index parameters are DedupIndexStore's defaults, spelled out so the
  // tail and the replay index are built with the same ones
  val K = 3
  val NumHashes = 32
  val Bands = 8

  private val docSchema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    import spark.implicits._
    val r = ctx.result
    val tracer = ctx.tracer
    val gen = new DocGen(ctx.seed)
    val base = gen.next(BaseDocs)
    val topic = "documents"
    val tableBase = "bench_ingest_idx"
    val tail = s"${ctx.workDir}/ingest/tail"
    FakeBroker.createTopic(topic)
    val admitted = mutable.Map.empty[Long, Set[Long]]
    val byOffset = mutable.Map.empty[(Int, Long), (Long, String)]

    val t0 = System.nanoTime()
    val q = tracer.span("setup") { sid =>
      tracer.span("index.build", sid) { _ =>
        DedupIndexStore.buildBucketed(base.toDF("doc_id", "text"), "doc_id", "text",
          tableBase, Buckets, K, NumHashes, Bands)
        DedupIndexStore.initEmpty(spark, tail, K, NumHashes, Bands)
      }
      val docs = KafkaIO.source(spark, Pipeline.Brokers, topic, "earliest", "fakekafka")
        .select(from_json(col("value").cast(StringType), docSchema).as("d"))
        .select(col("d.doc_id"), col("d.text"))
      val q = tracer.span("query.start", sid) { _ =>
        StreamOps.streamingIngestDedupBucketed(docs, "doc_id", "text", tableBase, tail,
          s"${ctx.workDir}/ckpt/ingest",
          (df, batchId) => {
            val ids = df.select("doc_id").as[Long].collect().toSet
            admitted.synchronized(admitted(batchId) = ids)
          })
      }
      ctx.progress.register(q.id, "ingest")
      Ticks.awaitFirstBatch(q)
      q
    }
    val setupS = (System.nanoTime() - t0) / 1e9

    val stepMs = mutable.ArrayBuffer.empty[Double]
    val compactMs = mutable.ArrayBuffer.empty[Double]
    var tailFiles = 0L
    var submitted = 0L
    val cpu0 = Jvm.cpuNs
    val loop0 = System.nanoTime()
    val deadline = loop0 + ctx.seconds * 1000000000L
    var step = 0
    while (step < MinSteps || System.nanoTime() < deadline) {
      val batch = gen.next(BatchDocs)
      val s = System.nanoTime()
      tracer.span("client.step") { cid =>
        // the client submits its batch as one append (FakeBroker's methods
        // share its monitor), so a trigger never catches half a step
        tracer.span("publish", cid)(_ => FakeBroker.synchronized {
          batch.foreach { case (id, text) =>
            val (part, off) = FakeBroker.publish(topic, null,
              s"""{"doc_id":$id,"text":"$text"}""".getBytes(UTF_8))
            byOffset((part, off)) = (id, text)
          }
        })
        tracer.span("processAllAvailable", cid)(_ => q.processAllAvailable())
      }
      Pipeline.rethrow(q)
      stepMs += (System.nanoTime() - s) / 1e6
      submitted += batch.size
      step += 1
      if (step % CompactEvery == 0) {
        tailFiles = math.max(tailFiles, countFiles(new java.io.File(tail)))
        val c = System.nanoTime()
        tracer.span("compactTail")(_ => DedupIndexStore.compactTail(spark, tableBase, tail, Buckets))
        compactMs += (System.nanoTime() - c) / 1e6
      }
    }
    val loopS = (System.nanoTime() - loop0) / 1e9
    val cpuMs = (Jvm.cpuNs - cpu0) / 1e6
    tailFiles = math.max(tailFiles, countFiles(new java.io.File(tail)))
    q.stop()

    // replay: the same micro-batches, in order, through StreamOps.admitBatch
    // against a plain index built from the same standing corpus
    ctx.progress.settle(Seq(q))
    // numInputRows counts every read of the batch (the admission round
    // reads it more than once), so a batch's documents come from its offsets
    def range(p: org.apache.spark.sql.streaming.StreamingQueryProgress) = {
      val until = offsets(p.sources(0).endOffset)
      (Option(p.sources(0).startOffset).map(offsets).getOrElse(Array.fill(until.length)(0L)), until)
    }
    val batches = ctx.progress.of("ingest").map(_.p)
      .filter { p => val (a, b) = range(p); b.sum > a.sum }.sortBy(_.batchId)
    val tCheck = System.nanoTime()
    tracer.span("check") { _ =>
      val replay = s"${ctx.workDir}/ingest/replay"
      DedupIndexStore.build(base.toDF("doc_id", "text"), "doc_id", "text", replay, K, NumHashes, Bands)
      batches.foreach { p =>
        val (from, until) = range(p)
        val docs = from.indices.flatMap(part =>
          (from(part) until until(part)).map(o => byOffset((part, o))))
        val df = docs.toDF("doc_id", "text")
        val want = StreamOps.admitBatch(df, "doc_id", "text", replay)
          .select("doc_id").as[Long].collect().toSet
        val got = admitted.getOrElse(p.batchId, Set.empty[Long])
        docs.foreach { case (id, _) =>
          r.check(want(id) == got(id),
            s"doc $id of batch ${p.batchId}: replay admits=${want(id)}, stream admitted=${got(id)}")
        }
        DedupIndexStore.append(df.filter(col("doc_id").isin(want.toSeq: _*)),
          "doc_id", "text", replay, s"r${p.batchId}")
      }
      val checked = batches.map { p => val (a, b) = range(p); b.sum - a.sum }.sum
      r.check(checked == submitted, s"stream processed $checked docs of $submitted submitted")
    }
    spark.sql(s"DROP TABLE IF EXISTS ${tableBase}_bands")
    spark.sql(s"DROP TABLE IF EXISTS ${tableBase}_shingles")
    spark.sql(s"DROP TABLE IF EXISTS ${tableBase}_meta")

    r.lines += f"phases: setup $setupS%.1f s, loop $loopS%.1f s, check ${(System.nanoTime() - tCheck) / 1e9}%.1f s"
    val triggerMs = batches.map(p => Option(p.durationMs.get("triggerExecution")).map(_.doubleValue).getOrElse(0.0))
    val admittedN = admitted.valuesIterator.map(_.size).sum
    r.e2e("latency_p50_ms", Stats.median(stepMs.toSeq), "ms")
    r.e2e("cpu_ms_per_item", cpuMs / submitted, "ms")
    r.e2e("setup_s", setupS, "s")
    r.note("setup_s", setupS, "s")
    r.note("ingest_docs_per_s", submitted / loopS, "1/s", s"$submitted docs in ${f"$loopS%.3f"} s, 1 client")
    r.note("ingest_trigger_p50_ms", Stats.median(stepMs.toSeq), "ms", s"n=${stepMs.size}")
    r.note("ingest_trigger_p90_ms", Stats.quantile(stepMs.toSeq, 0.9), "ms",
      s"n=${stepMs.size}, ${(stepMs.size * 0.1).round} beyond")
    r.note("cpu_ms_per_doc", cpuMs / submitted, "ms")
    r.layer("ingest.trigger_ms_p50", Stats.median(triggerMs), "ms")
    r.layer("ingest.compact_ms", Stats.median(compactMs.toSeq), "ms")
    r.layer("ingest.admitted_ratio", admittedN.toDouble / math.max(1L, submitted), "ratio")
    r.layer("ingest.tail_files", tailFiles.toDouble, "count")
  }

  private def offsets(json: String): Array[Long] =
    json.trim.stripPrefix("[").stripSuffix("]").split(",").map(_.trim.toLong)

  private def countFiles(dir: java.io.File): Long =
    if (!dir.exists) 0L
    else if (dir.isFile) (if (dir.getName.endsWith(".parquet")) 1L else 0L)
    else Option(dir.listFiles).map(_.map(countFiles).sum).getOrElse(0L)
}
