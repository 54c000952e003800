package graft

import graft.streaming.{StatefulPositions, StreamingBars, StreamingSessions}
import graft.streaming.StatefulPositions.{PositionState, SignalEvent}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.sql.Timestamp

class StreamingSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("streaming OHLCV matches batch semantics on the same ticks") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double, Double)]
    val ticks = input.toDF().toDF("ts", "symbol", "price", "volume")
    val q = StreamingBars.bars(ticks).writeStream
      .format("memory").queryName("sbars").outputMode("update").start()
    input.addData(
      (new Timestamp(0L), "A", 10.0, 1.0),
      (new Timestamp(30000L), "A", 12.0, 2.0),
      (new Timestamp(61000L), "A", 11.0, 1.0))
    q.processAllAvailable()
    val rows = spark.table("sbars")
      .groupBy("symbol", "bucket_ms")
      .agg(last("open").as("open"), last("close").as("close"), last("volume").as("volume"))
      .orderBy("bucket_ms").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(0).getAs[Double]("open") == 10.0)
    assert(rows(0).getAs[Double]("close") == 12.0)
    assert(rows(0).getAs[Double]("volume") == 3.0)
  }

  test("streaming sessionization closes sessions at the gap and emits on watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamingSessions.sessions(events, gap = "10 seconds", watermark = "5 seconds")
      .writeStream.format("memory").queryName("ssess").outputMode("append").start()
    // user 1: two sessions (9s gaps inside, 20s gap between);
    // user 2: one session; the far-future event pushes the watermark
    // past every close so append mode emits them all
    input.addData(
      (new Timestamp(0L), 1L), (new Timestamp(9000L), 1L), (new Timestamp(18000L), 1L),
      (new Timestamp(38000L), 1L), (new Timestamp(40000L), 1L),
      (new Timestamp(5000L), 2L))
    q.processAllAvailable()
    input.addData((new Timestamp(500000L), 99L))
    q.processAllAvailable()
    val rows = spark.table("ssess").orderBy("user_id", "session_start_ms").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4), r.getLong(5)))
    q.stop()
    // strict-gap contract: a sequential fold over the same events
    val expected = Seq(
      (1L, 0L, 0L, 18000L, 3L, 18000L),      // 0,9,18s chain within 10s gaps
      (1L, 38000L, 38000L, 40000L, 2L, 2000L), // next session after 20s silence
      (2L, 5000L, 5000L, 5000L, 1L, 0L))
    assert(rows.toSeq == expected, s"got ${rows.toSeq}")
  }

  test("property: sessionization matches the sequential fold across random batch splits") {
    // the StreamingEma-style replay fuzz: random per-user event times,
    // fed in event-time order but split at RANDOM micro-batch
    // boundaries, must produce exactly the sessions of a sequential
    // strict-gap fold — watermark-boundary merges (a session straddling
    // a batch split, a gap-exactly-at-boundary) are generated, not
    // hand-picked. In-order feed means no event is ever late, so the
    // fold is the complete oracle.
    import org.scalacheck.{Gen, Prop}
    import org.scalacheck.Test.{check, Parameters}
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val GapMs = 10000L
    val genCase = for {
      nUsers <- Gen.choose(1, 3)
      times <- Gen.listOfN(nUsers,
        Gen.nonEmptyListOf(Gen.choose(0L, 120000L)).map(_.take(12)))
      nSplits <- Gen.choose(0, 3)
      splits <- Gen.listOfN(nSplits, Gen.choose(0, times.map(_.size).sum))
    } yield (times, splits)
    val counter = new java.util.concurrent.atomic.AtomicInteger(0)
    val prop = Prop.forAll(genCase) { case (times, splits) =>
      val events = times.zipWithIndex
        .flatMap { case (ts, u) => ts.map(t => (t, u.toLong + 1)) }
        .sortBy(x => (x._1, x._2))
      val name = s"ssess_prop_${counter.incrementAndGet()}"
      val input = MemoryStream[(Timestamp, Long)]
      val q = StreamingSessions.sessions(
          input.toDF().toDF("ts", "user_id"), gap = "10 seconds", watermark = "5 seconds")
        .writeStream.format("memory").queryName(name).outputMode("append").start()
      // random batch boundaries over the in-order stream
      val cuts = (splits.map(_.min(events.size)) :+ 0 :+ events.size).distinct.sorted
      cuts.zip(cuts.tail).foreach { case (a, b) =>
        val batch = events.slice(a, b)
        if (batch.nonEmpty) {
          input.addData(batch.map { case (t, u) => (new Timestamp(t), u) }: _*)
          q.processAllAvailable()
        }
      }
      input.addData((new Timestamp(10000000L), 999L)) // close every session
      q.processAllAvailable()
      val got = spark.table(name).filter(col("user_id") =!= 999L)
        .orderBy("user_id", "session_start_ms").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).toSeq
      q.stop()
      // sequential strict-gap fold: same session iff diff < gap
      val expected = events.groupBy(_._2).toSeq.flatMap { case (u, es) =>
        val ts = es.map(_._1).sorted
        val sess = ts.tail.foldLeft(List(List(ts.head))) { (acc, t) =>
          if (t - acc.head.head < GapMs) (t :: acc.head) :: acc.tail
          else List(t) :: acc
        }.map(_.reverse).reverse
        sess.map(s => (u, s.head, s.head, s.last, s.length.toLong, s.last - s.head))
      }.sortBy(x => (x._1, x._2))
      got == expected
    }
    val res = check(Parameters.default.withMinSuccessfulTests(8), prop)
    assert(res.passed, res.status.toString)
  }

  test("streaming sessionization drops events later than the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long)]
    val events = input.toDF().toDF("ts", "user_id")
    val q = StreamingSessions.sessions(events, gap = "10 seconds", watermark = "5 seconds")
      .writeStream.format("memory").queryName("slate").outputMode("append").start()
    input.addData((new Timestamp(0L), 1L))
    q.processAllAvailable() // watermark advances to -5s... then:
    input.addData((new Timestamp(100000L), 2L))
    q.processAllAvailable() // watermark now 95s: user 1's session closed
    // this event is 80s behind the watermark — must be dropped, not
    // resurrect user 1's already-emitted session
    input.addData((new Timestamp(15000L), 1L))
    q.processAllAvailable()
    input.addData((new Timestamp(300000L), 99L))
    q.processAllAvailable()
    val u1 = spark.table("slate").filter(col("user_id") === 1L).collect()
    q.stop()
    assert(u1.length == 1, s"late event must not extend or duplicate the closed session: ${u1.toSeq}")
    assert(u1.head.getAs[Long]("n_events") == 1L)
  }

  test("stateful position tracking: step transition accounting") {
    val s0 = PositionState(0.0, StatefulPositions.InitialCash, 0.0)
    val (s1, u1) = StatefulPositions.step(s0, SignalEvent("A", 1L, 100.0, 1))
    assert(u1.traded == 100.0) // bought 100 shares
    assert(math.abs(u1.cash - (1000000.0 - 10000.0 - 15.0)) < 1e-9) // cost 0.0015*10000
    assert(math.abs(u1.equity - (u1.cash + 10000.0)) < 1e-9)
    val (_, u2) = StatefulPositions.step(s1, SignalEvent("A", 2L, 110.0, 0))
    assert(u2.traded == -100.0)
    assert(u2.position == 0.0)
  }

  test("flatMapGroupsWithState tracks state across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[SignalEvent]
    val q = StatefulPositions.track(input.toDS()).writeStream
      .format("memory").queryName("spos").outputMode("append").start()
    input.addData(SignalEvent("A", 1L, 100.0, 1))
    q.processAllAvailable()
    input.addData(SignalEvent("A", 2L, 110.0, 0)) // second micro-batch uses saved state
    q.processAllAvailable()
    val rows = spark.table("spos").orderBy("tsMs").collect()
    q.stop()
    assert(rows.length == 2)
    assert(rows(1).getAs[Double]("traded") == -100.0) // remembered the long position
  }

  test("streaming order lifecycle matches the batch replay trade-for-trade") {
    import graft.operators.OrderLifecycle
    import graft.operators.OrderLifecycle.BookEvent
    import spark.implicits._
    implicit val sq = spark.sqlContext
    // resting limit from batch 1 crosses in batch 2; a batch-2 cancel
    // kills a batch-1 order; a market order submitted at a batch boundary
    // fills on the next batch's tick
    val batches = Seq(
      Seq(BookEvent("A", 1L, 1L, "tick", "buy", 100.0, 0.0, -1L),
        BookEvent("A", 2L, 2L, "limit", "buy", 99.0, 5.0, -1L),
        BookEvent("A", 3L, 3L, "limit", "sell", 104.0, 2.0, -1L),
        BookEvent("A", 4L, 4L, "tick", "buy", 101.0, 0.0, -1L)), // both rest
      Seq(BookEvent("A", 5L, 5L, "cancel", "sell", 0.0, 0.0, 3L), // kill the sell
        BookEvent("A", 6L, 6L, "tick", "buy", 98.0, 0.0, -1L),    // buy@99 crosses
        BookEvent("A", 7L, 7L, "market", "buy", 0.0, 1.0, -1L)),  // pends
      Seq(BookEvent("A", 8L, 8L, "tick", "buy", 105.0, 0.0, -1L)) // market fills; sell@104 cancelled
    )
    val input = MemoryStream[BookEvent]
    val q = graft.streaming.StreamingLifecycle.track(input.toDS()).writeStream
      .format("memory").queryName("slife").outputMode("append").start()
    batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("slife").orderBy("trade_seq").collect()
      .map(r => (r.getAs[Long]("trade_seq"), r.getAs[Long]("order_event_id"),
        r.getAs[String]("fill_kind"), r.getAs[Double]("price"), r.getAs[Double]("qty")))
    val batch = OrderLifecycle.scanSymbol("A", batches.flatten.iterator).toSeq
      .map(t => (t.trade_seq, t.order_event_id, t.fill_kind, t.price, t.qty))
    assert(streamed.toSeq == batch)
    assert(batch.map(x => (x._2, x._3)) ==
      Seq((2L, "book_cross"), (7L, "market"))) // cancelled sell never trades
  }

  test("streaming exact-infinite EWM matches the pandas adjusted-weights definition") {
    import graft.streaming.StreamingEma
    import graft.streaming.StreamingEma.Bar
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val closes = Seq(100.0, 102.0, 99.0, 101.5, 103.0, 98.0, 104.0)
    val bars = closes.zipWithIndex.map { case (c, i) => Bar("A", i.toLong, c) }
    val input = MemoryStream[Bar]
    val q = StreamingEma.track(input.toDS()).writeStream
      .format("memory").queryName("sema").outputMode("append").start()
    // split across micro-batches: state must carry the infinite tail
    input.addData(bars.take(3): _*); q.processAllAvailable()
    input.addData(bars.drop(3): _*); q.processAllAvailable()
    q.stop()
    val got = spark.table("sema").orderBy("bucket_ms").collect()
      .map(r => r.getAs[Double]("ema12"))
    // brute-force adjusted EWM: ema_t = Σ β^k x_{t-k} / Σ β^k over ALL history
    val beta = 1.0 - 2.0 / 13
    val want = closes.indices.map { t =>
      val num = (0 to t).map(k => math.pow(beta, k) * closes(t - k)).sum
      val den = (0 to t).map(k => math.pow(beta, k)).sum
      num / den
    }
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("paper-account roll-up aggregates the latest per-symbol ledger state") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[SignalEvent]
    val q = StatefulPositions.track(input.toDS()).writeStream
      .format("memory").queryName("sacct").outputMode("append").start()
    input.addData(SignalEvent("A", 1L, 100.0, 1), SignalEvent("B", 1L, 50.0, 1))
    q.processAllAvailable()
    input.addData(SignalEvent("A", 2L, 110.0, 1)) // A marks up, stays long
    q.processAllAvailable()
    q.stop()
    val acct = StatefulPositions.accountSummary(spark.table("sacct")).collect()
    assert(acct.length == 1)
    val r = acct.head
    assert(r.getAs[Long]("n_symbols") == 2)
    // A: bought 100 @ 100 (cost 15), equity at 110 = cash + 11000
    val cashA = 1000000.0 - 10000.0 - 15.0
    val cashB = 1000000.0 - 5000.0 - 7.5
    assert(math.abs(r.getAs[Double]("cash") - (cashA + cashB)) < 1e-6)
    assert(math.abs(r.getAs[Double]("position_value") - (11000.0 + 5000.0)) < 1e-6)
    val pv = cashA + 11000.0 + cashB + 5000.0
    assert(math.abs(r.getAs[Double]("portfolio_value") - pv) < 1e-6)
    assert(math.abs(r.getAs[Double]("pnl") - (pv - 2000000.0)) < 1e-6)
  }
}

class StreamingDedupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("replayed events are dropped across micro-batches within the watermark") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, Long, Double)]
    val events = input.toDF().toDF("ts", "event_id", "price")
    val q = graft.streaming.StreamingDedup.dedup(events, "10 minutes", Seq("event_id"))
      .writeStream.format("memory").queryName("sdedup").outputMode("append").start()
    input.addData((new Timestamp(1000L), 1L, 10.0), (new Timestamp(2000L), 2L, 11.0))
    q.processAllAvailable()
    // replay of event 1 in a later micro-batch (same watermark window)
    input.addData((new Timestamp(3000L), 1L, 10.0), (new Timestamp(4000L), 3L, 12.0))
    q.processAllAvailable()
    q.stop()
    val ids = spark.table("sdedup").collect().map(_.getAs[Long]("event_id")).sorted
    assert(ids.toSeq == Seq(1L, 2L, 3L)) // the replayed 1 appears once
  }
}

class WatermarkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("events later than the watermark are dropped from their closed window") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val input = MemoryStream[(Timestamp, String, Double, Double)]
    val q = StreamingBars.bars(input.toDF().toDF("ts", "symbol", "price", "volume"),
      barSeconds = 60, watermark = "1 minute").writeStream
      .format("memory").queryName("wmbars").outputMode("append").start()
    // window [0,60) gets one tick; then event-time jumps far ahead,
    // advancing the watermark past that window's close
    input.addData((new Timestamp(10000L), "A", 10.0, 1.0))
    q.processAllAvailable()
    input.addData((new Timestamp(600000L), "A", 20.0, 1.0))
    q.processAllAvailable()
    // a late tick for the closed [0,60) window must be ignored
    input.addData((new Timestamp(20000L), "A", 99.0, 1.0))
    q.processAllAvailable()
    input.addData((new Timestamp(900000L), "A", 30.0, 1.0))
    q.processAllAvailable()
    q.stop()
    val w0 = spark.table("wmbars").filter(col("bucket_ms") === 0L).collect()
    assert(w0.length == 1)
    assert(w0(0).getAs[Double]("high") == 10.0) // late 99.0 never entered
    assert(w0(0).getAs[Long]("n_trades") == 1L)
  }
}

class StreamingNearDupSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import graft.operators.DedupPack
  import graft.streaming.StreamingNearDup

  test("stateless stream-side band keys equal the batch pipeline's on the corpus") {
    val docs = Tables.documents(spark, TestSpark.Sf)
    val batch = DedupPack.bandSignatures(DedupPack.minhashSignatures(docs))
      .collect().map(r => (r.getLong(0), r.getAs[Number]("band").intValue, r.getString(2)))
      .toSet
    val live = StreamingNearDup.bandKeys(docs.select("doc_id", "text"))
      .select("doc_id", "band", "sig")
      .collect().map(r => (r.getLong(0), r.getAs[Number]("band").intValue, r.getString(2)))
      .toSet
    assert(batch.nonEmpty)
    assert(live === batch)
  }

  test("property: stream/batch signature parity on adversarial token streams") {
    import spark.implicits._
    val rnd = new scala.util.Random(41)
    val vocab = Vector("a", "bb", "ccc", "", "d d", "ee")
    // doc lengths straddle the 3-token boundary; empty tokens from
    // double spaces exercise the split(" ") vs array-slice agreement
    val docs = (1 to 80).map { i =>
      val len = rnd.nextInt(7)
      (i.toLong, "en", Seq.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }.toDF("doc_id", "lang", "text")
    val batch = DedupPack.bandSignatures(DedupPack.minhashSignatures(docs))
      .collect().map(r => (r.getLong(0), r.getAs[Number]("band").intValue, r.getString(2)))
      .toSet
    val live = StreamingNearDup.bandKeys(docs.select("doc_id", "text"))
      .select("doc_id", "band", "sig")
      .collect().map(r => (r.getLong(0), r.getAs[Number]("band").intValue, r.getString(2)))
      .toSet
    assert(live === batch)
  }

  test("live gate flags a standing-corpus copy once and passes novel text") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val corpus = Seq(
      (100L, "en", "alpha beta gamma delta eps zeta"),
      (101L, "en", "one two three four five six"))
      .toDF("doc_id", "lang", "text")
    val index = StreamingNearDup.corpusIndex(corpus)
    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingNearDup.flagged(docs, index, "10 minutes")
      .writeStream.format("memory").queryName("sneardup").outputMode("append").start()
    input.addData(
      (new Timestamp(1000L), 1L, "alpha beta gamma delta eps zeta"), // copy of 100
      (new Timestamp(2000L), 2L, "purple monkey dishwasher quantum flux pancake"),
      (new Timestamp(2500L), 3L, "hi")) // < 3 tokens: no signature, no crash
    q.processAllAvailable()
    // the same pair re-arriving in a later micro-batch stays flagged ONCE
    input.addData((new Timestamp(3000L), 1L, "alpha beta gamma delta eps zeta"))
    q.processAllAvailable()
    q.stop()
    val rows = spark.table("sneardup").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("match_doc")))
    assert(rows.toSeq === Seq((1L, 100L)))
  }

  test("streaming dollar bars equal the batch bars (minus open bars) across batch splits") {
    import graft.operators.Micro
    import graft.streaming.StreamingInfoBars
    import graft.streaming.StreamingInfoBars.Tick
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sf = TestSpark.Sf
    // the real sf0.001 tick feed replayed in 4 ordered chunks
    val ticks = Micro.intTicks(spark, sf)
      .select("symbol", "ts", "event_id", "price", "vol", "cents")
      .as[Tick].collect().sortBy(t => (t.ts, t.event_id))
    val chunks = ticks.grouped(math.max(1, ticks.length / 4 + 1)).toSeq
    val input = MemoryStream[Tick]
    val threshold = 200000L // $2k: forces many bar closes at sf0.001
    val q = StreamingInfoBars.track(input.toDS(), threshold, useDollar = true)
      .writeStream.format("memory").queryName("sbars_info").outputMode("append").start()
    chunks.foreach { c => input.addData(c: _*); q.processAllAvailable() }
    q.stop()
    def key(sym: String, r: (Long, Long, Double, Double, Double, Double, Long, Long, Long, Long)) =
      (sym, r._1, r._2, r._3, r._4, r._5, r._6, r._7, r._8, r._9, r._10)
    val streamed = spark.table("sbars_info").collect().map(r =>
      key(r.getAs[String]("symbol"), (r.getAs[Long]("bar_id"), r.getAs[Long]("n_ticks"),
        r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"), r.getAs[Long]("volume"), r.getAs[Long]("dollar_cents"),
        r.getAs[Long]("ts_start"), r.getAs[Long]("ts_end")))).toSet
    val batchAll = Micro.thresholdBars(Micro.intTicks(spark, sf), "dollar_c",
      threshold).collect()
    // eager emission: a bar is streamed the moment its measure mass
    // crosses the threshold, so the only withheld bar per symbol is the
    // TRULY open one — bar_id == floor(total measure / threshold)
    val openBar = ticks.groupBy(_.symbol)
      .map { case (sym, ts2) => sym -> ts2.map(t => t.cents * t.vol).sum / threshold }
    val batch = batchAll.filter(r =>
      r.getAs[Long]("bar_id") != openBar(r.getAs[String]("symbol"))).map(r =>
      key(r.getAs[String]("symbol"), (r.getAs[Long]("bar_id"), r.getAs[Long]("n_ticks"),
        r.getAs[Double]("open"), r.getAs[Double]("high"), r.getAs[Double]("low"),
        r.getAs[Double]("close"), r.getAs[Long]("volume"), r.getAs[Long]("dollar_cents"),
        r.getAs[Long]("ts_start"), r.getAs[Long]("ts_end")))).toSet
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }
}

class StreamingCusumSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import graft.operators.Micro
  import graft.streaming.StreamingCusum
  import graft.streaming.StreamingCusum.Tick

  test("streaming CUSUM events equal the batch filter event-for-event across micro-batches") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val sf = TestSpark.Sf
    val ticks = Micro.intTicks(spark, sf)
      .select("symbol", "ts", "event_id", "cents")
      .as[Tick].collect().sortBy(t => (t.ts, t.event_id))
    val chunks = ticks.grouped(math.max(1, ticks.length / 4 + 1)).toSeq
    val input = MemoryStream[Tick]
    val q = StreamingCusum.track(input.toDS(), h = 20L)
      .writeStream.format("memory").queryName("scusum").outputMode("append").start()
    chunks.foreach { c => input.addData(c: _*); q.processAllAvailable() }
    q.stop()
    val streamed = spark.table("scusum").collect().map(r =>
      (r.getAs[String]("symbol"), r.getAs[Long]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Int]("direction"), r.getAs[Long]("s_cents"), r.getAs[Long]("n_ticks")))
      .toSet
    val batch = Micro.cusumEvents(spark, sf).collect().map(r =>
      (r.getAs[String]("symbol"), r.getAs[Long]("ts"), r.getAs[Long]("event_id"),
        r.getAs[Int]("direction"), r.getAs[Long]("s_cents"), r.getAs[Long]("n_ticks")))
      .toSet
    assert(batch.nonEmpty)
    assert(streamed == batch)
  }
}

class StreamingIngestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  import graft.streaming.StreamingCorpusIngest

  // long distinct-word texts so the quality gate (>= 150 chars,
  // composite >= 0.7) is decided by construction, not by luck
  private def mkText(prefix: String, n: Int = 30): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")

  test("stream admission equals the batch gates set-for-set") {
    import spark.implicits._
    implicit val sq = spark.sqlContext
    val s1 = mkText("alpha")
    val s2 = mkText("bravo")
    val standing = Seq((100L, "en", s1), (101L, "en", s2))
      .toDF("doc_id", "lang", "text")
    val cIdx = StreamingCorpusIngest.contentIndex(standing)
    val bIdx = StreamingCorpusIngest.bandIndex(standing)

    val fresh = mkText("golf")
    // quality-passing but SIGNATURE-LESS: 2 tokens < the 3-gram shingle
    // floor, yet 201 chars of distinct text clears the quality gate —
    // must pass the near-dup gate vacuously (r13 ADVICE: the stream path
    // silently dropped these while the batch path admitted them)
    val shortDoc = ("q" * 100) + " " + ("z" * 100)
    val incoming = Seq(
      (1L, s1),                                     // exact standing copy
      (2L, s1.replace("alpha7", "zulu7")),          // near copy of s1
      (3L, fresh),                                  // novel, high quality
      (4L, "too short"),                            // quality reject
      (5L, mkText("hotel")),                        // novel, high quality
      (6L, fresh),                                  // within-stream dup of 3
      (7L, shortDoc))                               // sig-less, quality-passing

    val input = MemoryStream[(Timestamp, Long, String)]
    val docs = input.toDF().toDF("ts", "doc_id", "text")
    val q = StreamingCorpusIngest
      .admit(docs, cIdx, bIdx, "10 minutes")
      .writeStream.format("memory").queryName("singest").outputMode("append").start()
    // split across micro-batches: the dup (6) arrives AFTER its original
    val rows = incoming.zipWithIndex.map { case ((id, t), i) =>
      (new Timestamp(1000L + i * 1000L), id, t)
    }
    input.addData(rows.take(4): _*); q.processAllAvailable()
    input.addData(rows.drop(4): _*); q.processAllAvailable()
    q.stop()
    val streamed = spark.table("singest").collect()
      .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"))).toSet

    // deterministic individual contracts
    val ids = streamed.map(_._1)
    assert(!ids.contains(1L), "exact standing copy rejected")
    assert(ids.contains(3L), "novel high-quality doc admitted")
    assert(!ids.contains(4L), "low-quality doc rejected")
    assert(ids.contains(5L))
    assert(!ids.contains(6L), "within-stream duplicate admitted only once")
    assert(ids.contains(7L), "sig-less short doc passes the near-dup gate vacuously")

    // full parity: the batch gates on the same input produce the SAME set
    val incomingDf = incoming.toDF("doc_id", "text")
    val batch = StreamingCorpusIngest.admitBatch(incomingDf, standing)
      .collect().map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("shard"))).toSet
    assert(streamed === batch)
    assert(streamed.nonEmpty)
  }

  test("near-dup band gate rejects a one-token edit of a standing doc") {
    import spark.implicits._
    val s1 = mkText("kilo")
    val standing = Seq((200L, "en", s1)).toDF("doc_id", "lang", "text")
    val near = s1.replace("kilo5", "mike5")
    val out = StreamingCorpusIngest.admitBatch(
      Seq((1L, near), (2L, mkText("november"))).toDF("doc_id", "text"), standing)
      .collect().map(_.getAs[Long]("doc_id")).toSet
    assert(!out.contains(1L), "one-token edit shares a MinHash band")
    assert(out.contains(2L))
  }
}
