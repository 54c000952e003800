package graft

import graft.backtest.StopLoss
import graft.backtest.StopLoss.SignalBar
import graft.etl.Normalizer
import graft.sources.ParquetSink
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class StopLossSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("trailing stop exits when price retraces past the trail from the peak") {
    val trades = StopLoss.trailingScan("A", Iterator(
      SignalBar("A", 1L, 100.0, 1),  // enter
      SignalBar("A", 2L, 110.0, 1),  // peak 110
      SignalBar("A", 3L, 107.0, 1)   // 107 < 110*0.98=107.8 → stop
    ), trailPct = 0.02).toSeq
    assert(trades.size == 1)
    val t = trades.head
    assert(t.exit_reason == "trailing_stop" && t.peak_px == 110.0 && t.exit_px == 107.0)
  }

  test("short side: stop trails above the running trough (risk_monitor.py:492)") {
    val trades = StopLoss.trailingScan("A", Iterator(
      SignalBar("A", 1L, 100.0, -1), // enter short
      SignalBar("A", 2L, 90.0, -1),  // trough 90
      SignalBar("A", 3L, 92.0, -1)   // 92 > 90*1.02=91.8 → stop
    ), trailPct = 0.02).toSeq
    assert(trades.size == 1)
    val t = trades.head
    assert(t.exit_reason == "trailing_stop" && t.peak_px == 90.0 && t.exit_px == 92.0)
    // a short that keeps falling never stops out; exits at end of data
    val ride = StopLoss.trailingScan("A", Iterator(
      SignalBar("A", 1L, 100.0, -1),
      SignalBar("A", 2L, 95.0, -1),
      SignalBar("A", 3L, 91.0, -1)
    ), trailPct = 0.02).toSeq
    assert(ride.size == 1 && ride.head.exit_reason == "end_of_data" && ride.head.peak_px == 91.0)
  }

  test("signal exit and end-of-data exits are labeled; invariants hold on real data") {
    val trades = StopLoss.run(
      graft.backtest.Signals.maCrossPlain(
        graft.operators.Bars.ohlcv(Tables.ticks(spark, TestSpark.Sf), 60))).collect()
    assert(trades.nonEmpty)
    trades.foreach { t =>
      assert(t.exit_ms >= t.entry_ms)
      assert(t.peak_px >= t.entry_px)
      assert(Set("trailing_stop", "signal_exit", "end_of_data")(t.exit_reason))
      if (t.exit_reason == "trailing_stop") assert(t.exit_px <= t.peak_px * 0.98 + 1e-9)
    }
  }
}

class BatchResampleSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("archive -> bars -> partitioned layout roundtrip, pruned reads, downsample parity") {
    import graft.operators.Bars
    import graft.sources.BatchResample
    val dir = Files.createTempDirectory("graft-resample").toString
    BatchResample.resampleTicks(spark, TestSpark.Sf, s"$dir/bars1m", 60)
    val back = BatchResample.readBars(spark, s"$dir/bars1m")
    val direct = Bars.ohlcv(Tables.ticks(spark, TestSpark.Sf), 60)
    assert(back.count() == direct.count())
    def closeSum(df: org.apache.spark.sql.DataFrame) =
      df.agg(sum("close")).collect()(0).getDouble(0)
    assert(math.abs(closeSum(back) - closeSum(direct)) < 1e-6)
    // symbol filter must prune partition directories before IO
    val plan = back.filter(col("symbol") === "click").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(symbol"), plan.take(500))
    // batch downsample job matches the in-memory operator
    BatchResample.downsampleBars(spark, s"$dir/bars1m", s"$dir/bars5m", 300)
    val b5 = BatchResample.readBars(spark, s"$dir/bars5m")
    val d5 = Bars.downsample(direct, 300)
    assert(b5.count() == d5.count())
    assert(math.abs(closeSum(b5) - closeSum(d5)) < 1e-6)
  }

  test("resample_file dispatches on suffix: csv and parquet inputs give identical bars") {
    import graft.operators.Bars
    import graft.sources.{BatchResample, FileSource}
    val dir = Files.createTempDirectory("graft-resample-file").toString
    val ticks = Normalizer.trades(Tables.events(spark, TestSpark.Sf))
      .select("ts_ms", "symbol", "price", "volume")
    FileSource.writeTicksCsv(ticks, s"$dir/in.csv")
    ticks.write.mode("overwrite").parquet(s"$dir/in.parquet")
    BatchResample.resampleFile(spark, s"$dir/in.csv", s"$dir/bars_csv", 60)
    BatchResample.resampleFile(spark, s"$dir/in.parquet", s"$dir/bars_pq", 60)
    val a = BatchResample.readBars(spark, s"$dir/bars_csv")
      .orderBy("symbol", "bucket_ms").collect()
    val b = BatchResample.readBars(spark, s"$dir/bars_pq")
      .orderBy("symbol", "bucket_ms").collect()
    assert(a.length == b.length && a.length > 0)
    a.zip(b).foreach { case (x, y) => assert(x == y) }
    // csv ingest is single-pass: the explicit schema means no inference scan
    val csvPlan = FileSource.readTicksCsv(spark, s"$dir/in.csv")
      .queryExecution.executedPlan.toString
    assert(csvPlan.contains("csv"), csvPlan.take(300))
  }
}

class ParquetSinkSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("partitioned sink roundtrip + pruned latest-trades read") {
    val dir = Files.createTempDirectory("graft-sink").toString
    val trades = Normalizer.trades(Tables.events(spark, TestSpark.Sf))
    ParquetSink.writeTrades(trades, dir)
    val back = ParquetSink.readTrades(spark, dir)
    assert(back.count() == trades.count())
    // symbol filter must prune partition directories before IO
    val plan = back.filter(col("symbol") === "click").queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(symbol"), plan.take(500))
    val latest = ParquetSink.latestTrades(spark, dir, "click", 5).collect()
    assert(latest.length == 5)
    assert(latest.map(_.getAs[Long]("ts_ms")).toSeq == latest.map(_.getAs[Long]("ts_ms")).sorted.reverse.toSeq)
  }
}
