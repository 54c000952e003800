package graft.backtest

import graft.{QueryPack, Tables}
import graft.functions.Port
import graft.operators.Bars
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Risk queries. Reference: backtesting/risk_monitor.py. */
object RiskPack extends QueryPack {

  private def bars1m(s: SparkSession, d: String): DataFrame =
    Bars.ohlcvCached(s, d, 60)

  private def btMaCross(s: SparkSession, d: String): DataFrame =
    Backtester.maCrossCached(s, d)

  /** Session-memoized per-symbol return statistics (VaR/CVaR/annualized
    * mean+vol in ONE aggregate over one pass of the bar returns) — the
    * shared upstream of q_var_cvar, q_vol_position_sizing, and
    * q_risk_snapshot, which each re-ran the returns pipeline before r07.
    * Tiny (one row per symbol); expression-identical to Risk.varCvar /
    * Risk.volSizing so the oracles are unchanged.
    */
  private def riskStats(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("RiskPack.riskStats", s, d)(
      // built from Risk's own expression lists (varCvarAggs +
      // annStatsAggs via varCvarOn's extraAggs) — one definition per
      // formula, so this fused frame cannot desync from the oracled
      // Risk.varCvar / Risk.volSizing forms
      Risk.varCvarOn(Risk.barReturns(bars1m(s, d)),
        percentile(col("r"), lit(0.05)), percentile(col("r"), lit(0.01)),
        Risk.annStatsAggs).cache())

  /** Session-memoized per-(symbol, day) net/drawdown aggregate — fans out
    * into the two alert families of q_risk_alert_log (a bare per-call
    * .cache() here would sit outside Memo eviction).
    */
  private def dailyRiskCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("RiskPack.dailyRisk", s, d) {
      val cum = Window.partitionBy("symbol").orderBy("bucket_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
      btMaCross(s, d)
        .withColumn("dd", exp(col("log_equity") - max(col("log_equity")).over(cum)) - 1)
        .withColumn("day_ms", expr("bucket_ms div 86400000") * 86400000L)
        .groupBy("symbol", "day_ms")
        .agg(sum(col("net_returns")).as("day_net"), min(col("dd")).as("day_min_dd"))
        .cache()
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_var_cvar" -> ((s, d) =>
      riskStats(s, d).select("symbol", "var_95", "var_99", "cvar_95", "n")
        .orderBy("symbol")),
    // The bounded-state production variant of q_var_cvar —
    // approx_percentile (GK sketch, O(accuracy) state) instead of the
    // exact sort-based percentile buffer. Oracled since r15 via the
    // error-bound referee: the exact columns ride the memoized stats
    // frame and hash against DuckDB's exact mirror, while the sketch
    // path runs in full and its rank-bound verdict lands as 0/1 flag
    // columns the mirror pins at 1 — an out-of-bound sketch now FAILS
    // the driver's hash, not just RiskApproxSpec.
    "q_var_cvar_approx" -> ((s, d) =>
      riskStats(s, d).select("symbol", "var_95", "var_99", "cvar_95", "n")
        .join(Risk.sketchRankChecks(Risk.barReturns(bars1m(s, d))), "symbol")
        .orderBy("symbol")),
    "q_kelly_sizing" -> ((s, d) => Risk.kelly(btMaCross(s, d)).orderBy("symbol")),
    "q_vol_position_sizing" -> ((s, d) => {
      // derived per-row sizing over the memoized stats (risk_monitor.py:360),
      // sizing expressions shared with Risk.volSizing (one definition)
      Risk.sizingCols(1000000.0, 0.15, 0.25)
        .foldLeft(riskStats(s, d)
          .select(col("symbol"), col("mean_return_ann"), col("volatility_ann"))) {
          case (df, (name, c)) => df.withColumn(name, c)
        }
        .orderBy("symbol")
    }),
    "q_risk_limit_alerts" -> ((s, d) => Risk.limitAlerts(btMaCross(s, d)).orderBy("symbol")),
    "q_position_limit_alerts" -> ((s, d) => {
      // check_position_limits (risk_monitor.py:120): per-symbol share of
      // portfolio value vs the limit (default 0.25), medium at 1x / high
      // at 1.5x — as a daily monitor frame over the five strategy equity
      // curves (equity share = position-value share at equal initial
      // capital); non-breach days carry level 'ok'
      val limit = 0.25
      val daily = btMaCross(s, d)
        .withColumn("day_ms", expr("bucket_ms div 86400000") * 86400000L)
        .groupBy("symbol", "day_ms")
        .agg(exp(max_by(col("log_equity"), col("bucket_ms"))).as("eod_eq"))
      // portfolio total as a whole-day window sum, not groupBy +
      // join-back (one pass over the daily frame instead of two)
      val frac = col("eod_eq") / col("port_value")
      daily
        .withColumn("port_value",
          sum(col("eod_eq")).over(Window.partitionBy("day_ms")))
        .select(col("symbol"), col("day_ms"),
          Port.r(frac, 6).as("position_fraction"),
          when(frac > limit * 1.5, "high")
            .when(frac > limit, "medium").otherwise("ok").as("level"))
        .orderBy("symbol", "day_ms")
    }),
    "q_risk_alert_log" -> ((s, d) => {
      // per-alert rows, the reference's alert history frame
      // (risk_monitor.py:278 get_alerts_df; levels: drawdown :175
      // critical past 1.5x threshold, daily loss :211 critical past 2x)
      val daily = dailyRiskCached(s, d)
      val lossAlerts = daily.filter(col("day_net") < -0.05).select(
        col("symbol"), col("day_ms"), lit("daily_loss").as("metric"),
        Port.r(-col("day_net"), 8).as("value"), lit(0.05).as("threshold"),
        when(col("day_net") < -0.10, "critical").otherwise("high").as("level"))
      val ddAlerts = daily.filter(col("day_min_dd") < -0.20).select(
        col("symbol"), col("day_ms"), lit("drawdown").as("metric"),
        Port.r(-col("day_min_dd"), 6).as("value"), lit(0.20).as("threshold"),
        when(col("day_min_dd") < -0.30, "critical").otherwise("high").as("level"))
      lossAlerts.unionByName(ddAlerts).orderBy("symbol", "day_ms", "metric")
    }),
    "q_risk_snapshot" -> ((s, d) => {
      // composed monitoring snapshot (risk_monitor.py:224 monitor, :299
      // get_metrics_df: one frame with VaR+CVaR+vol+drawdown+limit state
      // per check). Two fused pipelines instead of four (r06 shape):
      // VaR+CVaR+volatility come from the memoized per-symbol stats
      // frame (one returns pass per session, shared with q_var_cvar and
      // q_vol_position_sizing); the backtest side computes dd once,
      // aggregates to daily rows, and derives max-drawdown, final
      // equity AND both alert counts from that one daily frame
      // (eod-of-last-day log equity == log equity at the global last
      // bar; min over daily minima == global min).
      val vcv = riskStats(s, d)
      val cum = Window.partitionBy("symbol").orderBy("bucket_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
      val daily = btMaCross(s, d)
        .withColumn("dd", exp(col("log_equity") - max(col("log_equity")).over(cum)) - 1)
        .withColumn("day_ms", expr("bucket_ms div 86400000") * 86400000L)
        .groupBy("symbol", "day_ms")
        .agg(sum(col("net_returns")).as("day_net"), min(col("dd")).as("day_min_dd"),
          max_by(col("log_equity"), col("bucket_ms")).as("eod_log_eq"))
      val ddal = daily.groupBy("symbol").agg(
        Port.r(abs(min(col("day_min_dd"))), 6).as("max_drawdown"),
        Port.r(exp(max_by(col("eod_log_eq"), col("day_ms"))), 6).as("equity_final"),
        sum(when(col("day_net") < -0.05, 1L).otherwise(0L)).as("n_daily_loss_alerts"),
        sum(when(col("day_min_dd") < -0.20, 1L).otherwise(0L)).as("n_drawdown_alert_days"))
      vcv.select("symbol", "var_95", "var_99", "cvar_95", "volatility_ann")
        .join(ddal, "symbol").orderBy("symbol")
    })
  )

  private val RetsCte: String =
    QueryPack.BarsCte + """,
      |rets0 AS (
      |  SELECT symbol, bucket_ms,
      |         close / lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ms) - 1 AS r
      |  FROM bars
      |),
      |rets AS (SELECT * FROM rets0 WHERE r IS NOT NULL)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_var_cvar" ->
      s"""WITH $RetsCte,
         |v AS (
         |  SELECT symbol, quantile_cont(r, 0.05) AS var95, quantile_cont(r, 0.01) AS var99
         |  FROM rets GROUP BY symbol
         |)
         |SELECT r.symbol,
         |       floor(max(v.var95) * 1e8 + 0.5) / 1e8 AS var_95,
         |       floor(max(v.var99) * 1e8 + 0.5) / 1e8 AS var_99,
         |       floor(avg(CASE WHEN r.r <= v.var95 THEN r.r END) * 1e8 + 0.5) / 1e8 AS cvar_95,
         |       count(*) AS n
         |FROM rets r JOIN v ON r.symbol = v.symbol
         |GROUP BY r.symbol ORDER BY r.symbol""".stripMargin,
    // exact side mirrored; the sketch verdicts are pinned at 1 — the
    // referee flags are computed ONLY by the engine (DuckDB has no GK
    // sketch), and the hash compare fails if any symbol's sketch lands
    // outside its guaranteed rank-error bound
    "q_var_cvar_approx" ->
      s"""WITH $RetsCte,
         |v AS (
         |  SELECT symbol, quantile_cont(r, 0.05) AS var95, quantile_cont(r, 0.01) AS var99
         |  FROM rets GROUP BY symbol
         |)
         |SELECT r.symbol,
         |       floor(max(v.var95) * 1e8 + 0.5) / 1e8 AS var_95,
         |       floor(max(v.var99) * 1e8 + 0.5) / 1e8 AS var_99,
         |       floor(avg(CASE WHEN r.r <= v.var95 THEN r.r END) * 1e8 + 0.5) / 1e8 AS cvar_95,
         |       count(*) AS n,
         |       1 AS sketch_ok_95,
         |       1 AS sketch_ok_99
         |FROM rets r JOIN v ON r.symbol = v.symbol
         |GROUP BY r.symbol ORDER BY r.symbol""".stripMargin,
    "q_kelly_sizing" ->
      s"""WITH ${BtSql.MaCrossBacktestCte},
         |agg AS (
         |  SELECT symbol,
         |    floor(coalesce(CASE WHEN sum(CASE WHEN net_returns != 0 THEN 1.0 ELSE 0.0 END) > 0
         |      THEN sum(CASE WHEN net_returns > 0 THEN 1.0 ELSE 0.0 END) / sum(CASE WHEN net_returns != 0 THEN 1.0 ELSE 0.0 END) END, 0.0) * 1e6 + 0.5) / 1e6 AS win_rate,
         |    floor(coalesce(CASE WHEN sum(CASE WHEN net_returns > 0 THEN 1.0 ELSE 0.0 END) > 0
         |      THEN sum(CASE WHEN net_returns > 0 THEN net_returns ELSE 0.0 END) / sum(CASE WHEN net_returns > 0 THEN 1.0 ELSE 0.0 END) END, 0.0) * 1e8 + 0.5) / 1e8 AS avg_win,
         |    floor(coalesce(CASE WHEN sum(CASE WHEN net_returns != 0 THEN 1.0 ELSE 0.0 END) - sum(CASE WHEN net_returns > 0 THEN 1.0 ELSE 0.0 END) > 0
         |      THEN abs(sum(CASE WHEN net_returns < 0 THEN net_returns ELSE 0.0 END)) / (sum(CASE WHEN net_returns != 0 THEN 1.0 ELSE 0.0 END) - sum(CASE WHEN net_returns > 0 THEN 1.0 ELSE 0.0 END)) END, 0.0) * 1e8 + 0.5) / 1e8 AS avg_loss
         |  FROM bt GROUP BY symbol
         |)
         |SELECT symbol, win_rate, avg_win, avg_loss,
         |       floor((CASE WHEN avg_loss = 0 THEN 0.0
         |              ELSE least(greatest((win_rate * (avg_win / avg_loss) - (1.0 - win_rate)) / (avg_win / avg_loss) * 0.25, 0.0), 0.25)
         |              END) * 1e6 + 0.5) / 1e6 AS kelly_fraction
         |FROM agg ORDER BY symbol""".stripMargin,
    "q_vol_position_sizing" ->
      s"""WITH $RetsCte,
         |agg AS (
         |  SELECT symbol,
         |         floor(avg(r) * 252 * 1e8 + 0.5) / 1e8 AS mean_return_ann,
         |         floor(stddev_samp(r) * sqrt(252.0) * 1e8 + 0.5) / 1e8 AS volatility_ann
         |  FROM rets GROUP BY symbol
         |),
         |frac AS (
         |  SELECT *, floor((CASE WHEN volatility_ann = 0 THEN 0.0
         |                   ELSE least(0.15 / volatility_ann, 0.25) END) * 1e6 + 0.5) / 1e6 AS position_fraction
         |  FROM agg
         |)
         |SELECT symbol, mean_return_ann, volatility_ann, position_fraction,
         |       floor(position_fraction * 1000000.0 * 1e2 + 0.5) / 1e2 AS position_dollars
         |FROM frac ORDER BY symbol""".stripMargin,
    "q_risk_limit_alerts" ->
      s"""WITH ${BtSql.WithPeakCte},
         |daily AS (
         |  SELECT symbol, bucket_ms // 86400000 * 86400000 AS day_ms,
         |         sum(net_returns) AS day_net, min(dd) AS day_min_dd
         |  FROM wp GROUP BY symbol, 2
         |)
         |SELECT symbol,
         |       CAST(sum(CASE WHEN day_net < -0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_daily_loss_alerts,
         |       CAST(sum(CASE WHEN day_min_dd < -0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_drawdown_alert_days,
         |       floor(min(day_net) * 1e8 + 0.5) / 1e8 AS worst_daily_net,
         |       floor(min(day_min_dd) * 1e6 + 0.5) / 1e6 AS worst_drawdown
         |FROM daily GROUP BY symbol ORDER BY symbol""".stripMargin,
    "q_position_limit_alerts" ->
      s"""WITH ${BtSql.MaCrossBacktestCte},
         |daily AS (
         |  SELECT symbol, bucket_ms // 86400000 * 86400000 AS day_ms,
         |         exp(arg_max(log_equity, bucket_ms)) AS eod_eq
         |  FROM bt GROUP BY 1, 2
         |),
         |tot AS (SELECT day_ms, sum(eod_eq) AS port_value FROM daily GROUP BY 1)
         |SELECT d.symbol, d.day_ms,
         |       floor(d.eod_eq / t.port_value * 1e6 + 0.5) / 1e6 AS position_fraction,
         |       CASE WHEN d.eod_eq / t.port_value > 0.375 THEN 'high'
         |            WHEN d.eod_eq / t.port_value > 0.25 THEN 'medium'
         |            ELSE 'ok' END AS level
         |FROM daily d JOIN tot t USING (day_ms)
         |ORDER BY d.symbol, d.day_ms""".stripMargin,
    "q_risk_alert_log" ->
      s"""WITH ${BtSql.WithPeakCte},
         |daily AS (
         |  SELECT symbol, bucket_ms // 86400000 * 86400000 AS day_ms,
         |         sum(net_returns) AS day_net, min(dd) AS day_min_dd
         |  FROM wp GROUP BY symbol, 2
         |),
         |alerts AS (
         |  SELECT symbol, day_ms, 'daily_loss' AS metric,
         |         floor(-day_net * 1e8 + 0.5) / 1e8 AS value,
         |         0.05 AS threshold,
         |         CASE WHEN day_net < -0.10 THEN 'critical' ELSE 'high' END AS level
         |  FROM daily WHERE day_net < -0.05
         |  UNION ALL
         |  SELECT symbol, day_ms, 'drawdown' AS metric,
         |         floor(-day_min_dd * 1e6 + 0.5) / 1e6 AS value,
         |         0.20 AS threshold,
         |         CASE WHEN day_min_dd < -0.30 THEN 'critical' ELSE 'high' END AS level
         |  FROM daily WHERE day_min_dd < -0.20
         |)
         |SELECT * FROM alerts ORDER BY symbol, day_ms, metric""".stripMargin,
    "q_risk_snapshot" ->
      s"""WITH ${BtSql.WithPeakCte},
         |rets0 AS (
         |  SELECT symbol, bucket_ms,
         |         close / lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ms) - 1 AS r
         |  FROM bars
         |),
         |rets AS (SELECT * FROM rets0 WHERE r IS NOT NULL),
         |v AS (
         |  SELECT symbol, quantile_cont(r, 0.05) AS var95, quantile_cont(r, 0.01) AS var99
         |  FROM rets GROUP BY symbol
         |),
         |vc AS (
         |  SELECT r.symbol,
         |         floor(max(v.var95) * 1e8 + 0.5) / 1e8 AS var_95,
         |         floor(max(v.var99) * 1e8 + 0.5) / 1e8 AS var_99,
         |         floor(avg(CASE WHEN r.r <= v.var95 THEN r.r END) * 1e8 + 0.5) / 1e8 AS cvar_95
         |  FROM rets r JOIN v ON r.symbol = v.symbol GROUP BY r.symbol
         |),
         |vol AS (
         |  SELECT symbol, floor(stddev_samp(r) * sqrt(252.0) * 1e8 + 0.5) / 1e8 AS volatility_ann
         |  FROM rets GROUP BY symbol
         |),
         |ddq AS (
         |  SELECT symbol,
         |         floor(abs(min(dd)) * 1e6 + 0.5) / 1e6 AS max_drawdown,
         |         floor(exp(arg_max(log_equity, bucket_ms)) * 1e6 + 0.5) / 1e6 AS equity_final
         |  FROM wp GROUP BY symbol
         |),
         |daily AS (
         |  SELECT symbol, bucket_ms // 86400000 * 86400000 AS day_ms,
         |         sum(net_returns) AS day_net, min(dd) AS day_min_dd
         |  FROM wp GROUP BY symbol, 2
         |),
         |al AS (
         |  SELECT symbol,
         |         CAST(sum(CASE WHEN day_net < -0.05 THEN 1 ELSE 0 END) AS BIGINT) AS n_daily_loss_alerts,
         |         CAST(sum(CASE WHEN day_min_dd < -0.2 THEN 1 ELSE 0 END) AS BIGINT) AS n_drawdown_alert_days
         |  FROM daily GROUP BY symbol
         |)
         |SELECT vc.symbol, vc.var_95, vc.var_99, vc.cvar_95, vol.volatility_ann,
         |       ddq.max_drawdown, ddq.equity_final,
         |       al.n_daily_loss_alerts, al.n_drawdown_alert_days
         |FROM vc JOIN vol USING (symbol) JOIN ddq USING (symbol) JOIN al USING (symbol)
         |ORDER BY vc.symbol""".stripMargin
  )
}
