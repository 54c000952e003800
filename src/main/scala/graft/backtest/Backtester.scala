package graft.backtest

import graft.functions.Port
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Vectorized signal backtest.
  *
  * Reference: backtesting/portfolio.py VectorizedPortfolio.backtest_signals —
  * position = signal, trades = Δposition, strategy returns = lagged position
  * × bar returns, costs = |trade| × (commission+slippage), equity =
  * initial × cumprod(1+net). The cumprod is the one non-trivial distributed
  * piece: it becomes exp(running sum of ln(1+net)) — an associative window
  * aggregate, no sequential scan. Everything is per-symbol windows, so the
  * operator parallelizes across symbols and AQE handles skew.
  */
object Backtester {
  def DefaultCostRate: Double = graft.GraftConfig.active.costRate // commission + slippage
  def InitialCash: Double = graft.GraftConfig.active.initialCash

  /** The per-bar backtest expressions — ONE definition each. [[run]] and
    * the wide three-strategy form (ExtrasPack q_strategy_comparison)
    * both build from these, so an edit here cannot desync the two from
    * each other or from the oracle (same hazard class the round-8 Risk
    * refactor closed).
    */
  def returnsExpr(close: Column, prevClose: Column): Column =
    coalesce(close / prevClose - 1, lit(0.0))

  def tradeExpr(pos: Column, prevPos: Column): Column =
    pos - coalesce(prevPos, lit(0.0))

  def stratRetExpr(prevPos: Column, returns: Column): Column =
    coalesce(prevPos, lit(0.0)) * returns

  def costFromTrade(trade: Column, costRate: Double): Column =
    abs(trade) * costRate

  def costExpr(pos: Column, prevPos: Column, costRate: Double): Column =
    costFromTrade(tradeExpr(pos, prevPos), costRate)

  /** Log-domain equity cumsum with each ln term quantized to the 1e-8
    * grid BEFORE the running sum (see [[run]] for why).
    */
  def logEquityExpr(net: Column, cum: org.apache.spark.sql.expressions.WindowSpec): Column =
    sum(floor(log(lit(1.0) + greatest(net, lit(-0.9999))) * 1e8 + lit(0.5))
      .cast("decimal(38,0)")).over(cum).cast("double") / 1e8

  /** Session-memoized ma-cross(10/50) backtest frame over 1-min bars —
    * the most shared subplan in the library (metrics, streaks, drawdown,
    * kelly, limit alerts, risk snapshot/log all consume it). Same
    * pattern as Bars.ohlcvCached / TextPack.shinglesCached: one build
    * per session, every consumer reads the cache.
    */
  def maCrossCached(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.Memo.share("Backtester.maCross", s, d)(
      graft.Memo.pin(run(Signals.maCrossPlain(graft.operators.Bars.ohlcvCached(s, d, 60)))))

  /** Input: bars with `signal`; output adds position/returns/costs/
    * net_returns/log_equity. `returns`/`net_returns` are pure IEEE
    * arithmetic (hash-exact); `log_equity` = Σ ln(1+net) is the
    * log-growth since inception (equity = InitialCash · e^log_equity).
    */
  def run(barsWithSignal: DataFrame, costRate: Double = DefaultCostRate,
          keys: Seq[String] = Seq("symbol")): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy("bucket_ms")
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    // window layering (r07): both lags ride ONE WindowExec (the old
    // withColumn chain planned one per expression — and evaluated
    // lag(position) twice); the equity cumsum is the only second layer
    barsWithSignal
      .withColumn("position", col("signal").cast("double"))
      .select(col("*"),
        lag(col("position"), 1).over(w).as("_prev_pos"),
        lag(col("close"), 1).over(w).as("_prev_close"))
      .withColumn("trade", tradeExpr(col("position"), col("_prev_pos")))
      .withColumn("returns", returnsExpr(col("close"), col("_prev_close")))
      .withColumn("strategy_returns", stratRetExpr(col("_prev_pos"), col("returns")))
      .withColumn("costs", costFromTrade(col("trade"), costRate))
      .withColumn("net_returns", col("strategy_returns") - col("costs"))
      // Equity stays in log domain: synthetic bar returns compound past
      // 1e13, where absolute rounding can't be engine-portable. net is
      // clamped at -0.9999 (equity floors near 0 instead of going
      // negative when a crash bar plus costs exceeds -100%). Each ln
      // term is quantized to the 1e-8 grid BEFORE the running sum, so
      // the cumulation is EXACT integer arithmetic (decimal(38,0) here,
      // HUGEINT in the oracle) — summation order can't move the value.
      // The post-sum snap alternative failed at sf0.1: after a crash
      // bar's ln(1e-4) term the running sum sits near -1e3, where float
      // reassociation noise (~n·ulp) spans the 1e-8 snap step and the
      // two engines floored to different sides.
      .withColumn("log_equity", logEquityExpr(col("net_returns"), cum))
      .drop("_prev_pos", "_prev_close")
  }
}
