package graft

import java.nio.file.{Files, Paths}
import java.time.Instant

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.{RecordedEvent, RecordingFile}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{ChecksumException, FileAlreadyExistsException, FileSystem, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.execution.streaming.state.StateStore

import graft.streaming.{MovingStatsJob, ZScoreJob}
import graft.streaming.fake.FakeBroker
import graft.util.{NoForkLocalFileSystem, NoForkRawLocalFileSystem}

/** Checkpoint I/O of the shipped session ([[graft.util.SparkUtil.newLocalSession]]):
  * both streaming jobs run their micro-batches without forking a single
  * process, and the file manager it selects keeps the commit protocol,
  * the `.crc` sidecars and the mode bits of Hadoop's forking default. */
class CheckpointIoSpec extends SparkSpec {

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString

  private def hadoopConf: Configuration =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sessionState.newHadoopConf()

  private def manager(dir: String): CheckpointFileManager =
    CheckpointFileManager.create(new Path(dir), hadoopConf)

  private def write(fm: CheckpointFileManager, p: Path, bytes: Array[Byte], overwrite: Boolean): Unit = {
    val out = fm.createAtomic(p, overwriteIfPossible = overwrite)
    out.write(bytes)
    out.close()
  }

  private def read(fm: CheckpointFileManager, p: Path): Array[Byte] = {
    val in = fm.open(p)
    try in.readAllBytes() finally in.close()
  }

  private def mode(p: java.nio.file.Path): Int =
    Files.getAttribute(p, "unix:mode").asInstanceOf[Int] & 0xfff

  test("the shipped session selects the FileSystem-based manager over the non-forking file: filesystem") {
    val conf = hadoopConf
    assert(conf.get("spark.sql.streaming.checkpointFileManagerClass") ==
      classOf[FileSystemBasedCheckpointFileManager].getName)
    assert(manager(tmp("graft-ckio-cls")).isInstanceOf[FileSystemBasedCheckpointFileManager])
    assert(FileSystem.get(new java.net.URI("file:///"), conf).isInstanceOf[NoForkLocalFileSystem],
      "a file: filesystem cached before the session would keep Hadoop's forking class")
  }

  test("the shipped session carries the confs the batch driver mains rely on") {
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(spark.sparkContext.master == "local[4]")
    assert(spark.conf.get("spark.sql.shuffle.partitions").toInt == spark.sparkContext.defaultParallelism)
    assert(spark.conf.get("spark.sql.codegen.cache.maxEntries") == "5000")
    assert(spark.sparkContext.getConf.get("spark.ui.enabled") == "false")
    assert(spark.sparkContext.uiWebUrl.isEmpty)
    // Spark's own optimizer: no session extension, no injected rule
    assert(spark.experimental.extraOptimizations.isEmpty,
      s"extra optimizer rules: ${spark.experimental.extraOptimizations}")
    assert(spark.conf.getOption("spark.sql.extensions").isEmpty)
  }

  test("micro-batches of both streaming jobs spawn no processes") {
    val (price, moving, zout) = ("ckio-price", "ckio-moving", "ckio-zscore")
    Seq(price, moving, zout).foreach(FakeBroker.createTopic(_))
    val base = 1704067200L // 2024-01-01T00:00:00Z
    def publishRound(r: Int): Unit = (0 until 40).foreach { i =>
      val ts = Instant.ofEpochSecond(base + r * 40L + i)
      FakeBroker.publish(price, null,
        s"""{"symbol":"BTCUSDT","price":${100.0 + i % 7},"event_time":"$ts"}""".getBytes("UTF-8"))
    }
    // once-per-JVM probes that fork in class initializers, run on first
    // use, not per batch: Hadoop's `Shell` runs `setsid`, Spark's procfs
    // metrics (first executor heartbeat) run `getconf`
    FileSystem.get(new java.net.URI("file:///"), hadoopConf)
    Class.forName("org.apache.spark.executor.ProcfsMetricsGetter$")
    // state stores of earlier suites close now, not while recording (a
    // RocksDB store deletes its local directory with a forked `rm -rf`)
    StateStore.stop()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val dump = Paths.get(tmp("graft-ckio-jfr"), "rec.jfr")
    rec.start()
    val qm = MovingStatsJob.run(spark, "fake:9092", price, moving, tmp("graft-ckio-moving"),
      MovingStatsJob.H1Mode.ForeachBatch, format = "fakekafka",
      startingOffsets = "earliest", triggerInterval = "0 seconds")
    val qz = ZScoreJob.run(spark, "fake:9092", price, moving, zout, tmp("graft-ckio-zscore"),
      MovingStatsJob.H1Mode.ForeachBatch, format = "fakekafka",
      startingOffsets = "earliest", triggerInterval = "0 seconds")
    try {
      (0 until 3).foreach { r =>
        publishRound(r)
        qm.processAllAvailable()
        qz.processAllAvailable()
      }
    } finally {
      qm.stop(); qz.stop()
      rec.stop()
    }
    rec.dump(dump)
    rec.close()
    def batches(q: org.apache.spark.sql.streaming.StreamingQuery) =
      q.recentProgress.count(_.durationMs.containsKey("addBatch"))
    assert(batches(qm) >= 3 && batches(qz) >= 3,
      s"need three micro-batches of each job, got ${batches(qm)} and ${batches(qz)}")
    assert(qz.recentProgress.exists(_.stateOperators.exists(_.numRowsTotal > 0)),
      "the z-score join should have committed state")
    def frames(e: RecordedEvent): Seq[String] =
      Option(e.getStackTrace).toSeq.flatMap(_.getFrames.asScala
        .map(f => s"${f.getMethod.getType.getName}.${f.getMethod.getName}"))
    // Spark's temp-directory cleanup (`JavaUtils.deleteRecursively` forks
    // `rm -rf`) of earlier suites' sessions may run on a GC cleaner thread
    // at any time; it is not checkpoint I/O. A spawn is excused only if
    // its whole stack is recorded, runs through that cleanup, and touches
    // neither streaming execution nor Hadoop's filesystem.
    def tempDirCleanup(e: RecordedEvent): Boolean = {
      val fs = frames(e)
      Option(e.getStackTrace).exists(!_.isTruncated) &&
        fs.exists(_.startsWith("org.apache.spark.network.util.JavaUtils.deleteRecursively")) &&
        !fs.exists(f => f.startsWith("org.apache.spark.sql.execution.streaming.") ||
          f.startsWith("org.apache.hadoop.fs."))
    }
    val spawned = RecordingFile.readAllEvents(dump).asScala
      .filter(e => e.getEventType.getName == "jdk.ProcessStart" && !tempDirCleanup(e))
      .map(e => s"${e.getString("command")} at ${frames(e).take(12).mkString(" <- ")}")
    assert(spawned.isEmpty,
      s"${spawned.size} processes spawned during micro-batches: ${spawned.take(5).mkString("; ")}")
  }

  test("createAtomic without overwrite fails on an existing file and keeps its bytes") {
    val dir = tmp("graft-ckio-noover")
    val fm = manager(dir)
    val p = new Path(dir, "0")
    write(fm, p, "old".getBytes, overwrite = false)
    intercept[FileAlreadyExistsException] {
      write(fm, p, "new".getBytes, overwrite = false)
    }
    assert(new String(read(fm, p)) == "old")
  }

  test("createAtomic with overwrite replaces the file") {
    val dir = tmp("graft-ckio-over")
    val fm = manager(dir)
    val p = new Path(dir, "1.delta")
    write(fm, p, "old".getBytes, overwrite = false)
    write(fm, p, "newer".getBytes, overwrite = true)
    assert(new String(read(fm, p)) == "newer")
  }

  test("cancel leaves neither the file nor a temp file") {
    val dir = tmp("graft-ckio-cancel")
    val fm = manager(dir)
    val out = fm.createAtomic(new Path(dir, "2.delta"), overwriteIfPossible = false)
    out.write("partial".getBytes)
    out.cancel()
    assert(Files.list(Paths.get(dir)).iterator.asScala.toSeq.isEmpty,
      "a cancelled write must leave nothing behind")
  }

  test("committed files carry a .crc sidecar and a flipped byte fails the read") {
    val dir = tmp("graft-ckio-crc")
    val fm = manager(dir)
    val p = new Path(dir, "3.delta")
    val bytes = Array.tabulate[Byte](4096)(i => (i * 31).toByte)
    write(fm, p, bytes, overwrite = false)
    assert(Files.exists(Paths.get(dir, ".3.delta.crc")), "Hadoop checksum sidecar missing")
    assert(read(fm, p).sameElements(bytes))
    val data = Paths.get(dir, "3.delta")
    val flipped = Files.readAllBytes(data)
    flipped(1000) = (flipped(1000) ^ 0x40).toByte
    Files.write(data, flipped)
    intercept[ChecksumException](read(fm, p))
  }

  test("files and directories get the mode bits Hadoop's forking chmod gives") {
    def oct(s: String): Int = Integer.parseInt(s, 8)
    // an umask unlike the process default, so a skipped chmod shows
    val conf = new Configuration(hadoopConf)
    conf.set("fs.permissions.umask-mode", "027")
    val forking = new RawLocalFileSystem()
    forking.initialize(new java.net.URI("file:///"), conf)
    val noFork = new NoForkRawLocalFileSystem()
    noFork.initialize(new java.net.URI("file:///"), conf)
    val dir = tmp("graft-ckio-mode")
    def created(fs: FileSystem, name: String): (Int, Int) = {
      val d = new Path(dir, s"$name-dir")
      assert(fs.mkdirs(d))
      val f = new Path(d, "f")
      fs.create(f, false).close()
      (mode(Paths.get(d.toString)), mode(Paths.get(f.toString)))
    }
    val expected = created(forking, "forking")
    assert(expected == (oct("750"), oct("640")), f"umask 027 (${expected._1}%o, ${expected._2}%o)")
    assert(created(noFork, "nofork") == expected)
    // explicit modes, the sticky bit included, on a file and a directory
    // that start with both set-id bits (chmod clears them on the file and
    // keeps them on the directory)
    Seq("f", "d").foreach { kind =>
      Seq("755", "600", "1777", "711").foreach { bits =>
        val perm = new FsPermission(oct(bits).toShort)
        val modes = Seq(forking, noFork).map { fs =>
          val p = new Path(dir, s"$kind-$bits-${fs.getClass.getSimpleName}")
          if (kind == "d") assert(fs.mkdirs(p)) else fs.create(p, false).close()
          Files.setAttribute(Paths.get(p.toString), "unix:mode", Int.box(oct("6750")))
          fs.setPermission(p, perm)
          mode(Paths.get(p.toString))
        }
        assert(modes(0) == modes(1), f"$kind $bits: chmod gave ${modes(0)}%o, no-fork ${modes(1)}%o")
      }
    }
  }
}
