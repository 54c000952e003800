package graft

import java.io.File
import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.sql.Timestamp

import graft.operators.Bars
import graft.streaming.{LocalCheckpointFileManager, StreamingBars}
import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{DelegateToFileSystem, FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.execution.streaming.checkpointing.{FileContextBasedCheckpointFileManager, FileSystemBasedCheckpointFileManager}
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

  private def manager(dir: File) =
    new LocalCheckpointFileManager(new Path(dir.toURI), new Configuration())

  private def write(m: LocalCheckpointFileManager, p: Path, text: String, overwrite: Boolean): Unit = {
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
    // Spark's checksum file (N.delta.crc), not Hadoop's .N.delta.crc sidecar
    assert(stateFiles.exists(f => f.endsWith(".delta.crc") && !new File(f).getName.startsWith(".")),
      stateFiles.toSeq)
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
}
