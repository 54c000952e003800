package graft.tools

import java.sql.Timestamp

import graft.{GraftSession, Tables}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

/** Streaming-throughput bench lane (VERDICT r11 task 8): one rows/sec
  * row per streaming operator, replaying the sf0.1 feeds through a
  * MemoryStream in micro-batch chunks — the throughput companion of the
  * per-plan EXPLAIN audit and the batch Bench. The reference's published
  * figure is "10,000+ ticks/second sustained" (reference README.md:243)
  * for its asyncio loop; these lanes measure the same live-ingest
  * posture on Structured Streaming state stores.
  *
  * Method: per lane, the input rows (derived from the sf0.1 tables the
  * batch oracles use) are split into `STREAM_BENCH_BATCHES` ordered
  * chunks; the query is started and one empty micro-batch is processed
  * untimed (plan + state-store open), then the timed loop feeds each
  * chunk and `processAllAvailable()`s it — so the number includes real
  * per-trigger commit overhead at the replay cadence, not one giant
  * batch. rows/sec = input rows / timed seconds.
  *
  * `runMain graft.tools.StreamBench [sfDir]` — prints one JSON line and
  * writes streambench detail (SPARK_GRAFT_STREAM_FILE, default
  * streambench.json).
  */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse(
      sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    val nBatches =
      sys.env.get("STREAM_BENCH_BATCHES").flatMap(_.toIntOption).getOrElse(20)
    // optional lane subset, e.g. STREAM_BENCH_LANES=neardup,ingest —
    // lets a rehearsal re-measure one lane without replaying all ten
    val laneFilter: Option[Set[String]] =
      sys.env.get("STREAM_BENCH_LANES").map(_.split(",").map(_.trim).toSet)
    // optional FIXED rows-per-trigger (overrides nBatches): the r14
    // trigger-size sweep measures how per-trigger overhead amortizes
    val chunkSize: Option[Int] =
      sys.env.get("STREAM_BENCH_CHUNK_ROWS").flatMap(_.toIntOption)
    val spark = GraftSession.get("graft-streambench")
    import spark.implicits._
    implicit val sq: org.apache.spark.sql.SQLContext = spark.sqlContext

    def chunks[T](xs: Seq[T], n: Int): Seq[Seq[T]] = {
      val size = chunkSize.getOrElse(math.max(1, (xs.length + n - 1) / n))
      xs.grouped(size).toSeq
    }

    val results = scala.collection.mutable.LinkedHashMap[String, (Long, Double, Long)]()

    /** One lane: feed `data` in order through `build`, timing the chunk
      * replay. `repeat` > 1 refeeds every chunk that many times (the
      * redelivery pattern the dedup lane exists to absorb).
      */
    def lane[T: Encoder](name: String, data: Seq[T], mode: String,
                         build: Dataset[T] => DataFrame,
                         repeat: Int = 1): Unit = {
      if (laneFilter.exists(!_.contains(name))) return
      val input = MemoryStream[T]
      val q = build(input.toDS()).writeStream
        .format("memory").queryName(s"sb_$name").outputMode(mode).start()
      q.processAllAvailable() // untimed: plan + state-store open
      val cs = chunks(data, nBatches)
      val t0 = System.nanoTime()
      var fed = 0L
      // sustained-run evidence (r15 task 1): per-trigger seconds, so a
      // long run shows whether the steady state holds or the state
      // store/backlog degrades trigger over trigger
      val perTrigger = sys.env.contains("STREAM_BENCH_PER_TRIGGER")
      var ti = 0
      for (c <- cs; _ <- 1 to repeat) {
        val tt = System.nanoTime()
        input.addData(c: _*)
        q.processAllAvailable()
        fed += c.length
        if (perTrigger) {
          val tSec = (System.nanoTime() - tt) / 1e9
          ti += 1
          println(f"""{"lane":"$name","trigger":$ti,"rows":${c.length},"sec":$tSec%.3f,"rows_per_sec":${c.length / tSec}%.0f}""")
        }
      }
      val sec = (System.nanoTime() - t0) / 1e9
      val out = spark.table(s"sb_$name").count()
      q.stop()
      results(name) = (fed, sec, out)
      System.err.println(f"[streambench] $name%-12s ${fed}%7d rows in $sec%7.2f s = ${fed / sec}%9.0f rows/s (out=$out)")
    }

    // ---- shared feeds (driver-side replay buffers; bench harness only)
    val ticksDf = Tables.ticks(spark, sfDir)
    lazy val tickRows: Seq[(Timestamp, String, Double, Double)] = ticksDf
      .orderBy("ts", "event_id")
      .select(col("ts"), col("symbol"), col("price"), col("volume"))
      .collect().toSeq
      .map(r => (new Timestamp(r.getLong(0) / 1000000L), r.getString(1),
        r.getDouble(2), r.getDouble(3)))

    lazy val eventRows: Seq[(Timestamp, Long, Long)] = Tables.events(spark, sfDir)
      .orderBy("ts", "event_id")
      .select(col("ts"), col("user_id"), col("event_id"))
      .collect().toSeq
      .map(r => (new Timestamp(r.getLong(0) / 1000000L), r.getLong(1), r.getLong(2)))

    // 1. tick -> OHLCV bars (watermarked event-time windows, update mode)
    lane[(Timestamp, String, Double, Double)]("bars", tickRows, "update",
      ds => graft.streaming.StreamingBars.bars(
        ds.toDF("ts", "symbol", "price", "volume")))

    // 2. sessionization (session_window + watermark, append)
    lane[(Timestamp, Long, Long)]("sessions", eventRows, "append",
      ds => graft.streaming.StreamingSessions.sessions(
        ds.toDF("ts", "user_id", "event_id"), gap = "30 minutes",
        watermark = "10 minutes"))

    // 3. exact dedup under redelivery: every chunk delivered twice —
    // half the fed rows are replays the state store must absorb
    lane[(Timestamp, Long, Long)]("dedup", eventRows, "append",
      ds => graft.streaming.StreamingDedup.dedup(
        ds.toDF("ts", "user_id", "event_id"), "10 minutes", Seq("event_id")),
      repeat = 2)

    // 4. exact-infinite EWM over 1-min bars (mapGroupsWithState)
    lazy val barRows: Seq[graft.streaming.StreamingEma.Bar] =
      graft.operators.Bars.ohlcvCached(spark, sfDir, 60)
        .orderBy("bucket_ms", "symbol")
        .select(col("symbol"), col("bucket_ms"), col("close"))
        .collect().toSeq
        .map(r => graft.streaming.StreamingEma.Bar(r.getString(0), r.getLong(1), r.getDouble(2)))
    lane[graft.streaming.StreamingEma.Bar]("ema", barRows, "append",
      ds => graft.streaming.StreamingEma.track(ds).toDF())

    // 5. order-book lifecycle (flatMapGroupsWithState order matching)
    lazy val bookRows: Seq[graft.operators.OrderLifecycle.BookEvent] =
      graft.operators.OrderLifecycle.eventsFromTicks(ticksDf)
        .orderBy("ts", "event_id").collect().toSeq
    lane[graft.operators.OrderLifecycle.BookEvent]("lifecycle", bookRows, "append",
      ds => graft.streaming.StreamingLifecycle.track(ds).toDF())

    // 6. near-dup gate vs a standing corpus (stream-static band probes);
    // the static index is materialized before the lane so the timed part
    // is the stream side only. The feed is the ORGANIC mix (r14): half
    // near-edits of standing docs (one appended token — most bands still
    // collide, so the doc flags with identity), half token-reversed
    // (novel — the probe prefilter passes them without ever touching the
    // identity join). Replaying the corpus verbatim (the pre-r14 feed)
    // made every doc a 100% self-hit, which measures the degenerate
    // all-dup backlog, not the live-gate posture this lane exists for.
    val docsDf = Tables.documents(spark, sfDir)
    val index = graft.streaming.StreamingNearDup.corpusIndex(docsDf).cache()
    index.count()
    val baseMs = System.currentTimeMillis()
    lazy val docRows: Seq[(Timestamp, Long, String)] = docsDf
      .orderBy("doc_id").select(col("doc_id"), col("text"))
      .collect().toSeq.zipWithIndex
      .map { case (r, i) => (new Timestamp(baseMs + i), r.getLong(0), r.getString(1)) }
    lazy val neardupRows: Seq[(Timestamp, Long, String)] =
      docRows.map { case (ts, id, text) =>
        (ts, id + 100000000L,
          if (id % 2 == 0) text + s" marker$id"
          else text.split(" ").reverse.mkString(" "))
      }
    lane[(Timestamp, Long, String)]("neardup", neardupRows, "append",
      ds => graft.streaming.StreamingNearDup.flagged(
        ds.toDF("ts", "doc_id", "text"), index, "10 minutes"))
    index.unpersist(blocking = false)

    // 6b. full corpus-ingest admission (quality -> exact -> 8-band gate
    // -> shard): half the stream is near-edits of standing docs (one
    // appended marker token — exact gate passes, band gate rejects),
    // half is token-REVERSED docs (shares ~no 3-grams with its source —
    // admitted when the quality gate passes), so both outcomes of every
    // gate are exercised and out_rows > 0
    val cIdx = graft.streaming.StreamingCorpusIngest.contentIndex(docsDf).cache()
    val bIdx = graft.streaming.StreamingCorpusIngest.bandIndex(docsDf).cache()
    cIdx.count(); bIdx.count()
    lazy val ingestRows: Seq[(Timestamp, Long, String)] =
      docRows.map { case (ts, id, text) =>
        if (id % 2 == 0) (ts, id, text + s" marker$id")
        else (ts, id, text.split(" ").reverse.mkString(" "))
      }
    lane[(Timestamp, Long, String)]("ingest", ingestRows, "append",
      ds => graft.streaming.StreamingCorpusIngest.admit(
        ds.toDF("ts", "doc_id", "text"), cIdx, bIdx, "10 minutes"))
    cIdx.unpersist(blocking = false); bIdx.unpersist(blocking = false)

    // 7. stateful position tracking (signal fold per symbol)
    lazy val signalRows: Seq[graft.streaming.StatefulPositions.SignalEvent] =
      tickRows.zipWithIndex.map { case ((ts, sym, price, _), i) =>
        graft.streaming.StatefulPositions.SignalEvent(
          sym, ts.getTime, price, (i % 3 - 1))
      }
    lane[graft.streaming.StatefulPositions.SignalEvent]("positions", signalRows, "append",
      ds => graft.streaming.StatefulPositions.track(ds).toDF())

    // 8. closed-loop paper-trading engine (strategy + broker, one account)
    lazy val paperTicks: Seq[graft.streaming.PaperTrading.Tick] =
      tickRows.zipWithIndex.map { case ((ts, sym, price, _), i) =>
        graft.streaming.PaperTrading.Tick(sym, i.toLong, ts.getTime, price)
      }
    lane[graft.streaming.PaperTrading.Tick]("engine", paperTicks, "append",
      ds => graft.streaming.PaperTrading.engineLoop(ds, "acct-1", qty = 10.0).toDF())

    // 9. CUSUM event filter (mapGroupsWithState; all-integer state)
    lazy val cusumTicks: Seq[graft.streaming.StreamingCusum.Tick] =
      graft.operators.Micro.intTicks(spark, sfDir)
        .orderBy("ts", "event_id")
        .select(col("symbol"), col("ts"), col("event_id"), col("cents"))
        .collect().toSeq
        .map(r => graft.streaming.StreamingCusum.Tick(
          r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    lane[graft.streaming.StreamingCusum.Tick]("cusum", cusumTicks, "append",
      ds => graft.streaming.StreamingCusum.track(ds).toDF())

    // 10. information-driven dollar bars (eager close-on-threshold)
    lazy val infoTicks: Seq[graft.streaming.StreamingInfoBars.Tick] =
      graft.operators.Micro.intTicks(spark, sfDir)
        .orderBy("ts", "event_id")
        .select(col("symbol"), col("ts"), col("event_id"), col("price"),
          col("vol"), col("cents"))
        .collect().toSeq
        .map(r => graft.streaming.StreamingInfoBars.Tick(
          r.getString(0), r.getLong(1), r.getLong(2), r.getDouble(3),
          r.getLong(4), r.getLong(5)))
    lane[graft.streaming.StreamingInfoBars.Tick]("infobars", infoTicks, "append",
      ds => graft.streaming.StreamingInfoBars.track(
        ds, graft.operators.Micro.DollarBarCents, useDollar = true).toDF())

    val lanesJson = results.map { case (n, (rows, sec, out)) =>
      f""""$n":{"rows":$rows,"sec":$sec%.3f,"rows_per_sec":${rows / sec}%.0f,"out_rows":$out}"""
    }.mkString("{", ",", "}")
    val line =
      s"""{"metric":"stream_rows_per_sec","lanes":$lanesJson,"batches":$nBatches,"sf":"$sfDir"}"""
    println(line)
    val name = sys.env.getOrElse("SPARK_GRAFT_STREAM_FILE", "streambench.json")
    val f = if (new java.io.File(name).isAbsolute) new java.io.File(name)
      else new java.io.File(sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", "."), name)
    try {
      val pw = new java.io.PrintWriter(f)
      try pw.println(line) finally pw.close()
    } catch { case e: Throwable => System.err.println(s"streambench write failed: $e") }
    spark.stop()
  }
}
