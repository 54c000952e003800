package graft.backtest

import graft.functions.Port
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Performance metrics over a backtest result (one row per symbol).
  *
  * Reference: backtesting/metrics.py PerformanceMetrics.get_all_metrics —
  * the reference's statistics as 13 output columns (its total_return and
  * final equity are recovered from log_total_return: equity = initial ·
  * e^log_total), computed as a single hash aggregate per symbol instead
  * of one pandas pass per metric. Annualization uses the reference defaults
  * (252 periods/year, 2% risk-free). Transcendental outputs are snapped
  * with Port.r; profit_factor emits NULL where the reference emits inf
  * (no losing periods).
  */
object Metrics {
  def PeriodsPerYear: Double = graft.GraftConfig.active.periodsPerYear
  def RiskFree: Double = graft.GraftConfig.active.riskFreeRate
  def RfPerPeriod: Double = RiskFree / PeriodsPerYear

  /** The 13 metric column names, in the oracle's output order. */
  val MetricNames: Seq[String] = Seq("log_total_return", "cagr", "volatility",
    "sharpe_ratio", "sortino_ratio", "max_drawdown", "calmar_ratio",
    "win_rate", "profit_factor", "num_trades", "exposure", "average_win",
    "average_loss")

  /** The metric aggregate expressions over a group containing columns
    * `net`/`position`/`prevPos`/`dd`, aliased `<name><suffix>` — shared
    * by [[compute]] (suffix "") and the wide-form strategy comparison
    * (one suffix per strategy, all in one aggregate pass).
    */
  def aggExprs(net: Column, position: Column, prevPos: Column, dd: Column,
               suffix: String = ""): Seq[Column] = {
    val excess = net - RfPerPeriod
    // log-domain total return: Σ ln(1+net); exp() of it overflows any
    // portable rounding at synthetic volatilities, so the log is the metric.
    val logTotal = sum(log(lit(1.0) + greatest(net, lit(-0.9999))))
    val n = count(lit(1)).cast("double")
    val cagr = exp(logTotal * lit(PeriodsPerYear) / n) - 1
    val sd = stddev_samp(net)
    val sdEx = stddev_samp(excess)
    val downside = stddev_samp(when(excess < 0, excess))
    val mdd = min(dd)
    val gains = sum(when(net > 0, net).otherwise(0.0))
    val losses = abs(sum(when(net < 0, net).otherwise(0.0)))
    val nonzero = sum(when(net =!= 0, 1.0).otherwise(0.0))
    val wins = sum(when(net > 0, 1.0).otherwise(0.0))
    def z(c: Column): Column = coalesce(c, lit(0.0))
    Seq(
      Port.r(logTotal, 6).as(s"log_total_return$suffix"),
      Port.r(cagr, 6).as(s"cagr$suffix"),
      Port.r(sd * math.sqrt(PeriodsPerYear), 6).as(s"volatility$suffix"),
      Port.r(z(when(sdEx =!= 0, avg(excess) / sdEx * math.sqrt(PeriodsPerYear))), 6).as(s"sharpe_ratio$suffix"),
      Port.r(z(when(downside =!= 0, avg(excess) / downside * math.sqrt(PeriodsPerYear))), 6).as(s"sortino_ratio$suffix"),
      Port.r(mdd, 6).as(s"max_drawdown$suffix"),
      Port.r(z(when(abs(mdd) > 0, cagr / abs(mdd))), 6).as(s"calmar_ratio$suffix"),
      Port.r(z(when(nonzero > 0, wins / nonzero)), 6).as(s"win_rate$suffix"),
      when(losses =!= 0, Port.r(gains / losses, 6)).as(s"profit_factor$suffix"),
      sum(when(prevPos.isNotNull && position =!= prevPos, 1L).otherwise(0L)).as(s"num_trades$suffix"),
      Port.r(sum(when(position =!= 0, 1.0).otherwise(0.0)) / n, 6).as(s"exposure$suffix"),
      Port.r(z(when(wins > 0, gains / wins)), 8).as(s"average_win$suffix"),
      Port.r(z(when(nonzero - wins > 0, -losses / (nonzero - wins))), 8).as(s"average_loss$suffix")
    )
  }

  /** The per-group metric table. `extra` aggregates ride the same hash
    * aggregate and land between the keys and the metrics, so a caller
    * that also needs per-group counts of the backtest frame (MarketJob's
    * funnel) gets them without a second pass over it.
    */
  def compute(backtest: DataFrame, keys: Seq[String] = Seq("symbol"),
              extra: Seq[Column] = Nil): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy("bucket_ms")
      .rowsBetween(Window.unboundedPreceding, 0)
    // window layering (r07): cum-max and lag share partition/order, so
    // one projection → one WindowExec (two frame processors, one sort)
    val withPeak = backtest
      .select(col("*"),
        max(col("log_equity")).over(w).as("log_peak"),
        lag(col("position"), 1).over(
          Window.partitionBy(keys.map(col): _*).orderBy("bucket_ms")).as("prev_pos"))
      .withColumn("dd", exp(col("log_equity") - col("log_peak")) - 1)
    val aggs = extra ++ aggExprs(col("net_returns"), col("position"), col("prev_pos"), col("dd"))
    withPeak.groupBy(keys.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }
}
