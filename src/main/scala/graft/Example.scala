package graft

import graft.backtest.{Backtester, Metrics, Signals}
import graft.etl.Cleaner
import graft.operators.Bars

/** End-to-end workflow example — the Spark-native counterpart of the
  * reference's example.py (ingest → clean → bars → resample → strategy →
  * backtest → metrics). `runMain graft.Example [sfDir]`.
  */
object Example {
  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.001")
    val spark = GraftSession.get("graft-example")

    println("[1/6] Loading tick feed...")
    val ticks = Tables.ticks(spark, d)
    println(s"  ${ticks.count()} ticks, ${ticks.select("symbol").distinct().count()} symbols")

    println("[2/6] Cleaning (dedup keys, price validation, IQR outliers)...")
    val clean = Cleaner.removeOutliersIqr(ticks)
    println(s"  after cleaning: ${clean.count()} rows")

    println("[3/6] Tick -> 1-minute OHLCV bars...")
    val bars1m = Bars.ohlcv(clean, 60)
    println(s"  ${bars1m.count()} bars")

    println("[4/6] Resampling to 5-minute bars...")
    val bars5m = Bars.downsample(bars1m, 300)
    println(s"  ${bars5m.count()} bars")

    println("[5/6] Mean-reversion strategy -> vectorized backtest...")
    val bt = Backtester.run(Signals.meanReversionPlain(bars1m))
    val trades = bt.filter(org.apache.spark.sql.functions.col("trade") =!= 0).count()
    println(s"  ${trades} position changes")

    println("[6/6] Performance metrics:")
    Metrics.compute(bt).orderBy("symbol").show(truncate = false)

    spark.stop()
  }
}
