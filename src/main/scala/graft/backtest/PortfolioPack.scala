package graft.backtest

import graft.{Memo, QueryPack, Tables}
import graft.functions.Port
import graft.operators.Bars
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Portfolio statistics / optimization queries on hourly bar returns.
  * Reference: backtesting/portfolio_optimization.py.
  */
object PortfolioPack extends QueryPack {

  private def barsH(s: SparkSession, d: String): DataFrame =
    Bars.ohlcvCached(s, d, 3600)

  /** Session memos over the hourly bars, keyed by (session, dataset).
    * The six queries share one returns scan (it feeds the covariance, the
    * mean returns and the symbol collect), one N² covariance join, one
    * scored frontier (frontier, max-sharpe, min-vol; one row per weight
    * composition) and one risk-contribution grid (the risk-parity
    * argmin and its join back).
    */
  private def rets(s: SparkSession, d: String): DataFrame =
    Memo.share("PortfolioPack.rets", s, d)(Risk.barReturns(barsH(s, d)).cache())

  private def retsAndCov(s: SparkSession, d: String): (DataFrame, DataFrame) =
    (rets(s, d), Memo.share("PortfolioPack.cov", s, d)(PortfolioOpt.covFromRets(rets(s, d)).cache()))

  private def frontier(s: SparkSession, d: String): (DataFrame, DataFrame) =
    Memo.shareWith[(DataFrame, DataFrame)]("PortfolioPack.frontier", s, d)(Memo.releasePair) {
      val (grid, f) = PortfolioOpt.frontierFrom(s, retsAndCov(s, d), 4)
      (grid, f.cache())
    }

  private def rcGrid(s: SparkSession, d: String): DataFrame =
    Memo.share("PortfolioPack.rcGrid", s, d)(PortfolioOpt.rcGridFrom(s, retsAndCov(s, d), 4).cache())

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_asset_stats" -> ((s, d) =>
      retsAndCov(s, d)._2
        .select(col("symbol1"), col("symbol2"),
          Port.r(col("cov_ann_raw"), 4).as("cov_ann"),
          Port.r(col("corr_raw"), 6).as("corr"),
          col("n"))
        .orderBy("symbol1", "symbol2")),
    "q_efficient_frontier" -> ((s, d) =>
      frontier(s, d)._2.orderBy("grid_id")),
    "q_max_sharpe" -> ((s, d) =>
      PortfolioOpt.selectFrom(frontier(s, d), "max_sharpe")),
    "q_min_vol" -> ((s, d) =>
      PortfolioOpt.selectFrom(frontier(s, d), "min_vol")),
    "q_risk_parity" -> ((s, d) =>
      PortfolioOpt.riskContribFrom(retsAndCov(s, d)._2, 0.2).orderBy("symbol")),
    "q_risk_parity_opt" -> ((s, d) =>
      PortfolioOpt.riskParityFrom(rets(s, d), rcGrid(s, d)))
  )

  private val RetsHCte: String =
    QueryPack.barsCteAt(3600) + """,
      |rets0 AS (
      |  SELECT symbol, bucket_ms,
      |         close / lag(close) OVER (PARTITION BY symbol ORDER BY bucket_ms) - 1 AS r
      |  FROM bars
      |),
      |rets AS (SELECT * FROM rets0 WHERE r IS NOT NULL),
      |cov AS (
      |  SELECT a.symbol AS symbol1, b.symbol AS symbol2,
      |         covar_samp(a.r, b.r) * 252 AS cov_ann_raw,
      |         corr(a.r, b.r) AS corr_raw, count(*) AS n
      |  FROM rets a JOIN rets b ON a.bucket_ms = b.bucket_ms
      |  GROUP BY 1, 2
      |)""".stripMargin

  /** Frontier CTE chain ending in `fr` (grid_id, port_return, port_vol,
    * sharpe) + `gridw` (grid_id, symbol, weight) — shared by the frontier
    * and the argmax/argmin selection oracles.
    */
  private val FrontierCte: String =
    s"""$RetsHCte,
       |mu AS (SELECT symbol, avg(r) * 252 AS mu_ann_raw FROM rets GROUP BY symbol),
       |digits AS (
       |  SELECT i1, i2, i3, i4, i5,
       |         CAST(i1*625 + i2*125 + i3*25 + i4*5 + i5 AS BIGINT) AS grid_id
       |  FROM (SELECT unnest(generate_series(0, 4)) AS i1) a
       |  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i2) b
       |  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i3) c
       |  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i4) d
       |  CROSS JOIN (SELECT unnest(generate_series(0, 4)) AS i5) e
       |  WHERE i1 + i2 + i3 + i4 + i5 = 4
       |),
       |gridw AS (
       |  SELECT grid_id, s.sym AS symbol,
       |         (CASE s.idx WHEN 1 THEN i1 WHEN 2 THEN i2 WHEN 3 THEN i3
       |                     WHEN 4 THEN i4 ELSE i5 END) / 4.0 AS weight
       |  FROM digits CROSS JOIN (VALUES ('click', 1), ('error', 2), ('purchase', 3),
       |                                 ('signup', 4), ('view', 5)) s(sym, idx)
       |),
       |ret AS (
       |  SELECT grid_id, sum(weight * mu_ann_raw) AS port_ret_raw
       |  FROM gridw g JOIN mu ON g.symbol = mu.symbol GROUP BY grid_id
       |),
       |vol AS (
       |  SELECT g1.grid_id, sqrt(sum(g1.weight * g2.weight * cov_ann_raw)) AS port_vol_raw
       |  FROM gridw g1 JOIN gridw g2 ON g1.grid_id = g2.grid_id
       |  JOIN cov ON cov.symbol1 = g1.symbol AND cov.symbol2 = g2.symbol
       |  GROUP BY g1.grid_id
       |),
       |fr AS (
       |  SELECT r.grid_id,
       |         floor(port_ret_raw * 1e6 + 0.5) / 1e6 AS port_return,
       |         floor(port_vol_raw * 1e6 + 0.5) / 1e6 AS port_vol,
       |         floor((CASE WHEN port_vol_raw > 0 THEN (port_ret_raw - 0.02) / port_vol_raw
       |                ELSE 0.0 END) * 1e6 + 0.5) / 1e6 AS sharpe
       |  FROM ret r JOIN vol v ON r.grid_id = v.grid_id
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_asset_stats" ->
      s"""WITH $RetsHCte
         |SELECT symbol1, symbol2,
         |       floor(cov_ann_raw * 1e4 + 0.5) / 1e4 AS cov_ann,
         |       floor(corr_raw * 1e6 + 0.5) / 1e6 AS corr, n
         |FROM cov ORDER BY symbol1, symbol2""".stripMargin,
    "q_efficient_frontier" ->
      s"""WITH $FrontierCte
         |SELECT grid_id, port_return, port_vol, sharpe
         |FROM fr ORDER BY grid_id""".stripMargin,
    "q_max_sharpe" ->
      s"""WITH $FrontierCte,
         |sel AS (SELECT grid_id FROM fr ORDER BY sharpe DESC, grid_id LIMIT 1)
         |SELECT f.grid_id, g.symbol, g.weight, f.port_return, f.port_vol, f.sharpe
         |FROM fr f JOIN sel USING (grid_id) JOIN gridw g USING (grid_id)
         |ORDER BY g.symbol""".stripMargin,
    "q_min_vol" ->
      s"""WITH $FrontierCte,
         |sel AS (SELECT grid_id FROM fr ORDER BY port_vol, grid_id LIMIT 1)
         |SELECT f.grid_id, g.symbol, g.weight, f.port_return, f.port_vol, f.sharpe
         |FROM fr f JOIN sel USING (grid_id) JOIN gridw g USING (grid_id)
         |ORDER BY g.symbol""".stripMargin,
    "q_risk_parity_opt" ->
      s"""WITH $FrontierCte,
         |marginal AS (
         |  SELECT g.grid_id, c.symbol1, sum(g.weight * c.cov_ann_raw) AS marg
         |  FROM gridw g JOIN cov c ON c.symbol2 = g.symbol
         |  GROUP BY 1, 2
         |),
         |withw AS (
         |  SELECT m.grid_id, m.symbol1, m.marg, g.weight
         |  FROM marginal m JOIN gridw g ON g.grid_id = m.grid_id AND g.symbol = m.symbol1
         |),
         |pv AS (SELECT grid_id, sqrt(sum(weight * marg)) AS pv FROM withw GROUP BY 1),
         |rc AS (
         |  SELECT w.grid_id, w.symbol1, w.weight, w.weight * w.marg / p.pv AS rc
         |  FROM withw w JOIN pv p ON w.grid_id = p.grid_id
         |),
         |obj AS (
         |  SELECT grid_id, floor(sum((rc - 0.2) * (rc - 0.2)) * 1e2 + 0.5) / 1e2 AS objective
         |  FROM rc GROUP BY 1
         |),
         |sel AS (SELECT grid_id, objective FROM obj ORDER BY objective, grid_id LIMIT 1)
         |SELECT r.grid_id, r.symbol1 AS symbol, r.weight,
         |       floor(r.rc * 1e6 + 0.5) / 1e6 AS risk_contrib, s.objective
         |FROM rc r JOIN sel s ON r.grid_id = s.grid_id
         |ORDER BY symbol""".stripMargin,
    "q_risk_parity" ->
      s"""WITH $RetsHCte,
         |marginal AS (
         |  SELECT symbol1, sum(cov_ann_raw * 0.2) AS marginal_raw
         |  FROM cov GROUP BY symbol1
         |),
         |pv AS (SELECT sqrt(sum(marginal_raw * 0.2)) AS port_vol_raw FROM marginal)
         |SELECT symbol1 AS symbol,
         |       floor(marginal_raw * 1e4 + 0.5) / 1e4 AS marginal_contrib,
         |       floor(0.2 * marginal_raw / port_vol_raw * 1e6 + 0.5) / 1e6 AS risk_contrib,
         |       floor(port_vol_raw * 1e6 + 0.5) / 1e6 AS port_vol
         |FROM marginal CROSS JOIN pv ORDER BY symbol""".stripMargin
  )
}
