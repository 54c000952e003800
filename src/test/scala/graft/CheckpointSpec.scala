package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.nio.file.attribute.PosixFilePermissions
import java.sql.Timestamp

import scala.jdk.CollectionConverters._

import graft.operators.Bars
import graft.operators.Micro
import graft.streaming.{LocalCheckpointFileManager, StreamingBars, StreamingCusum, StreamingDedup}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, LocalFileSystem, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{CheckpointFileManager, FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
import org.apache.spark.sql.Encoders
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

/** A non-local `AbstractFileSystem` for the delegate choice: the
  * `graftremote:` scheme, backed by the local disk so no host is needed.
  */
class GraftRemoteFs(uri: URI, conf: Configuration)
    extends DelegateToFileSystem(uri, new RawLocalFileSystem(), conf, "graftremote", false)

class LocalCheckpointFileManagerSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  private def tempDir(name: String): File = Files.createTempDirectory(name).toFile

  private def manager(dir: File, conf: Configuration = new Configuration()) =
    new LocalCheckpointFileManager(new Path(dir.toURI), conf)

  private def write(m: CheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(f: File): String = new String(Files.readAllBytes(f.toPath), UTF_8)

  test("local paths get the FileSystem manager, other schemes Spark's default") {
    val local = new Configuration()
    assert(LocalCheckpointFileManager.isLocalPath(new URI("file:/tmp/ckpt"), local))
    assert(LocalCheckpointFileManager.isLocalPath(new URI("/tmp/ckpt"), local))
    assert(!LocalCheckpointFileManager.isLocalPath(new URI("hdfs://nn:8020/ckpt"), local))
    assert(!LocalCheckpointFileManager.isLocalPath(new URI("s3a://bucket/ckpt"), local))
    val hdfsDefault = new Configuration()
    hdfsDefault.set("fs.defaultFS", "hdfs://nn:8020")
    assert(!LocalCheckpointFileManager.isLocalPath(new URI("/ckpt"), hdfsDefault))

    assert(manager(tempDir("ckpt_local")).delegate.isInstanceOf[FileSystemBasedCheckpointFileManager])
    val remote = new Configuration()
    remote.set("fs.AbstractFileSystem.graftremote.impl", classOf[GraftRemoteFs].getName)
    remote.set(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
    val m = new LocalCheckpointFileManager(new Path("graftremote:/ckpt"), remote)
    assert(m.delegate.isInstanceOf[FileContextBasedCheckpointFileManager])
    assert(spark.conf.get(LocalCheckpointFileManager.ConfKey) == classOf[LocalCheckpointFileManager].getName)
  }

  test("createAtomic: no-overwrite onto an existing file throws, overwrite replaces it") {
    val dir = tempDir("ckpt_atomic")
    val m = manager(dir)
    val p = new Path(dir.toURI.toString + "0")
    write(m, p, "first", overwrite = false)
    assert(read(new File(dir, "0")) == "first")
    intercept[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
    assert(read(new File(dir, "0")) == "first")
    // with Hive's ProxyLocalFileSystem behind `file:` this overwrite was
    // silently skipped (its rename onto an existing file returns false)
    write(m, p, "third", overwrite = true)
    assert(read(new File(dir, "0")) == "third")
  }

  test("a no-overwrite createAtomic that loses to an existing file leaves no temp file") {
    val dir = tempDir("ckpt_collide")
    val m = manager(dir)
    val p = new Path(dir.toURI.toString + "0")
    write(m, p, "first", overwrite = false)
    val committed = dir.list().toSet
    intercept[FileAlreadyExistsException](write(m, p, "second", overwrite = false))
    assert(dir.list().toSet == committed, dir.list().toSeq)
    assert(read(new File(dir, "0")) == "first")
  }

  test("cancel leaves neither the target nor a temp file behind") {
    val dir = tempDir("ckpt_cancel")
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir.toURI.toString + "1"), true)
    out.write("partial".getBytes(UTF_8))
    out.cancel()
    assert(dir.list().isEmpty, dir.list().toSeq)
  }

  /** Commands of the processes the JVM started while `f` ran (JFR). */
  private def processStarts(f: => Unit): Seq[String] = {
    val rec = new jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try f finally rec.stop()
    val file = Files.createTempFile("process_starts", ".jfr")
    try {
      rec.dump(file)
      jdk.jfr.consumer.RecordingFile.readAllEvents(file).asScala.map(_.getString("command")).toSeq
    } finally {
      rec.close()
      Files.delete(file)
    }
  }

  test("local checkpoint files and directories get the chmod path's mode bits, without a fork") {
    val conf = new Configuration()
    conf.set("fs.permissions.umask-mode", "027")
    // what a state store writes: a new directory, a delta and its .crc sidecar
    def modes(m: CheckpointFileManager, root: File): Map[String, String] = {
      m.mkdirs(new Path(root.toURI.toString + "state/0"))
      write(m, new Path(root.toURI.toString + "state/0/1.delta"), "delta", overwrite = false)
      Files.walk(root.toPath).iterator.asScala.filterNot(_ == root.toPath).map { f =>
        root.toPath.relativize(f).toString -> PosixFilePermissions.toString(Files.getPosixFilePermissions(f))
      }.toMap
    }
    // the parent's path: Hadoop's LocalFileSystem, which forks chmod
    val chmodConf = new Configuration(conf)
    chmodConf.set("fs.file.impl", classOf[LocalFileSystem].getName)
    chmodConf.setBoolean("fs.file.impl.disable.cache", true)
    val chmodDir = tempDir("ckpt_chmod")
    val viaChmod = modes(new FileSystemBasedCheckpointFileManager(new Path(chmodDir.toURI), chmodConf), chmodDir)

    val nioDir = tempDir("ckpt_nio")
    var viaNio = Map.empty[String, String]
    val forks = processStarts { viaNio = modes(manager(nioDir, conf), nioDir) }
    assert(viaNio.keySet == Set("state", "state/0", "state/0/1.delta", "state/0/.1.delta.crc"), viaNio)
    assert(viaNio == viaChmod)
    assert(viaNio("state/0/1.delta") == "rw-r-----", viaNio)
    assert(!forks.exists(_.contains("chmod")), forks)
  }

  test("state-store deltas still get Spark's checksum files") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "true")
    val ckpt = tempDir("ckpt_crc")
    try {
      val input = org.apache.spark.sql.execution.streaming.runtime.MemoryStream[(Timestamp, String, Double, Double)]
      val q = StreamingBars.bars(input.toDF().toDF("ts", "symbol", "price", "volume"))
        .writeStream.format("memory").queryName("crcbars").outputMode("append")
        .option("checkpointLocation", ckpt.getPath).start()
      input.addData((new Timestamp(1000L), "A", 10.0, 1.0))
      q.processAllAvailable()
      input.addData((new Timestamp(400000L), "A", 11.0, 1.0))
      q.processAllAvailable()
      q.stop()
    } finally before match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
    val stateFiles = Files.walk(new File(ckpt, "state").toPath).toArray.map(_.toString)
    assert(stateFiles.exists(_.endsWith("/1.delta")), stateFiles.toSeq)
    // Spark's checksum file (N.delta.crc), and Hadoop's .N.delta.crc sidecar
    assert(stateFiles.exists(_.endsWith("/1.delta.crc")), stateFiles.toSeq)
    assert(stateFiles.exists(_.endsWith("/.1.delta.crc")), stateFiles.toSeq)
  }
}

class StreamingRestartSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("StreamingBars restarted on its checkpoint equals the batch bars, no duplicates") {
    import spark.implicits._
    val root = Files.createTempDirectory("restart").toFile
    val (in, out, ckpt) = (new File(root, "in"), new File(root, "out"), new File(root, "ckpt"))
    // three symbols, one tick each per 1.3 s, integer volumes (exact sums);
    // 97-tick files, so the stop point falls inside a bar
    val ticks = (0 until 582).map { i =>
      val sym = Seq("A", "B", "C")(i % 3)
      (i * 1300L + (i % 3) * 400L, sym, 100.0 + (i * 37 % 23) - (i % 7) * 0.5, 1.0 + i % 5)
    }
    val files = ticks.grouped(97).toSeq
    val k = 3
    val schema = StructType(Seq(StructField("ts", TimestampType), StructField("symbol", StringType),
      StructField("price", DoubleType), StructField("volume", DoubleType)))

    def feed(i: Int): Unit =
      files(i).map { case (ms, s, p, v) => (new Timestamp(ms), s, p, v) }
        .toDF("ts", "symbol", "price", "volume").coalesce(1)
        .write.mode("append").parquet(in.getPath)

    def start(): StreamingQuery =
      StreamingBars.bars(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(in.getPath))
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ckpt.getPath).start(out.getPath)

    feed(0)
    val q1 = start()
    q1.processAllAvailable()
    for (i <- 1 until k) {
      feed(i)
      q1.processAllAvailable()
    }
    q1.stop()
    val stopMs = files(k).head._1
    assert(stopMs % 60000L != 0L && ticks.exists(t => t._1 < stopMs && t._1 / 60000L == stopMs / 60000L))

    val q2 = start()
    for (i <- k until files.length) {
      feed(i)
      q2.processAllAvailable()
    }
    val wmMs = java.time.Instant.parse(q2.lastProgress.eventTime.get("watermark")).toEpochMilli
    val resumedAt = q2.recentProgress.map(_.batchId).min
    q2.stop()
    assert(resumedAt >= k, s"restart began at batch $resumedAt")

    val cols = Seq("symbol", "bucket_ms", "open", "high", "low", "close", "volume", "n_trades").map(col)
    val expected = Bars.ohlcv(ticks.toDF("ts", "symbol", "price", "volume")
        .withColumn("ts", col("ts") * 1000000L), 60)
      .filter(col("bucket_ms") + 60000L <= wmMs).select(cols: _*).collect()
    val emitted = spark.read.parquet(out.getPath).select(cols: _*).collect()
    assert(expected.length > 5)
    assert(emitted.length == emitted.toSet.size, "duplicate bar")
    assert(emitted.toSet == expected.toSet)
  }

  test("StreamingDedup restarted on its checkpoint emits every key exactly once") {
    import spark.implicits._
    val root = Files.createTempDirectory("restart_dedup").toFile
    val (in, out, ckpt) = (new File(root, "in"), new File(root, "out"), new File(root, "ckpt"))
    // file i: 20 new keys, a copy of one of them, and copies of ten keys
    // first seen two files earlier, so files k and k+1 repeat keys whose
    // first copy was emitted before the stop. Event time is 1 s per key
    // and the watermark delay an hour, so no key's state expires.
    val files = (0 until 6).map { i =>
      val fresh = (i * 20L until i * 20L + 20L).map(id => (id * 1000L, id))
      val again = if (i < 2) Nil else ((i - 2) * 20L until (i - 2) * 20L + 10L).map(id => (id * 1000L + 7L, id))
      fresh ++ again :+ (fresh.head._1 + 3L, fresh.head._2)
    }
    val k = 3
    assert(files(k).map(_._2).exists(id => files.take(k).flatten.exists(_._2 == id)))
    val schema = StructType(Seq(StructField("ts", TimestampType), StructField("id", LongType)))

    def feed(i: Int): Unit =
      files(i).map { case (ms, id) => (new Timestamp(ms), id) }
        .toDF("ts", "id").coalesce(1)
        .write.mode("append").parquet(in.getPath)

    def start(): StreamingQuery =
      StreamingDedup.dedup(spark.readStream.schema(schema).option("maxFilesPerTrigger", "1")
          .parquet(in.getPath), "1 hour", Seq("id"))
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ckpt.getPath).start(out.getPath)

    feed(0)
    val q1 = start()
    q1.processAllAvailable()
    for (i <- 1 until k) {
      feed(i)
      q1.processAllAvailable()
    }
    q1.stop()
    val q2 = start()
    for (i <- k until files.length) {
      feed(i)
      q2.processAllAvailable()
    }
    val resumedAt = q2.recentProgress.map(_.batchId).min
    q2.stop()
    assert(resumedAt >= k, s"restart began at batch $resumedAt")

    val emitted = spark.read.parquet(out.getPath).select("id").as[Long].collect().toSeq
    assert(emitted.length == emitted.distinct.length,
      s"keys emitted twice: ${emitted.diff(emitted.distinct)}")
    assert(emitted.toSet == files.flatten.map(_._2).toSet)
  }

  test("StreamingCusum restarted on its checkpoint with open state equals the batch events") {
    import spark.implicits._
    import StreamingCusum.{CusumState, Tick}
    val root = Files.createTempDirectory("restart_cusum").toFile
    val (in, out, ckpt) = (new File(root, "in"), new File(root, "out"), new File(root, "ckpt"))
    val ticks = Micro.intTicks(spark, TestSpark.Sf).select("symbol", "ts", "event_id", "cents")
      .as[Tick].collect().sortBy(t => (t.ts, t.event_id))
    val files = ticks.grouped(ticks.length / 6 + 1).toSeq
    val (k, h) = (3, 10000L)
    // the stop point leaves per-symbol sums open: some symbol has moved
    // since its last event without crossing the threshold
    val open = files.take(k).flatten.foldLeft(Map.empty[String, CusumState]) { (m, t) =>
      val st = m.getOrElse(t.symbol, CusumState(0L, hasPrev = false, 0L, 0L, 0L))
      m.updated(t.symbol, StreamingCusum.step(st, t, h)._1)
    }
    assert(open.values.exists(st => st.n > 0 && (st.sp != 0L || st.sm != 0L)))

    def feed(i: Int): Unit =
      files(i).toSeq.toDF().coalesce(1).write.mode("append").parquet(in.getPath)

    def start(): StreamingQuery =
      StreamingCusum.track(spark.readStream.schema(Encoders.product[Tick].schema)
          .option("maxFilesPerTrigger", "1").parquet(in.getPath).as[Tick], h)
        .writeStream.format("parquet").outputMode("append")
        .option("checkpointLocation", ckpt.getPath).start(out.getPath)

    feed(0)
    val q1 = start()
    q1.processAllAvailable()
    for (i <- 1 until k) {
      feed(i)
      q1.processAllAvailable()
    }
    q1.stop()
    val q2 = start()
    for (i <- k until files.length) {
      feed(i)
      q2.processAllAvailable()
    }
    val resumedAt = q2.recentProgress.map(_.batchId).min
    q2.stop()
    assert(resumedAt >= k, s"restart began at batch $resumedAt")

    val cols = Seq("symbol", "ts", "event_id", "direction", "s_cents", "n_ticks").map(col)
    val emitted = spark.read.parquet(out.getPath).select(cols: _*).collect().toSeq
    val expected = Micro.cusumEvents(spark, TestSpark.Sf, h).select(cols: _*).collect().toSeq
    val ids = emitted.map(_.getAs[Long]("event_id"))
    assert(ids.length == ids.distinct.length, s"events emitted twice: ${ids.diff(ids.distinct)}")
    assert(expected.nonEmpty)
    assert(emitted.sortBy(_.toString) == expected.sortBy(_.toString))
  }
}
