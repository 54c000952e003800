package graft.backtest

import graft.functions.Port
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Portfolio statistics and optimization queries.
  *
  * Reference: backtesting/portfolio_optimization.py. The scipy SLSQP loops
  * (optimize_max_sharpe/min_volatility) re-express as a distributed weight-
  * grid search: the grid is generated relationally, crossed with the
  * pairwise covariance matrix, and scored in one aggregation — the shape
  * that scales to dense grids on a cluster, replacing a driver-side
  * optimizer. Risk-parity contributions (RiskParityOptimizer:245) are the
  * same relational product with fixed weights.
  */
object PortfolioOpt {
  val RiskFree = 0.02

  /** Pairwise annualized covariance/correlation matrix of per-symbol bar
    * returns, joined on time bucket (full N×N, both directions).
    * portfolio_optimization.py:22 (returns_df.cov() * 252).
    *
    * These public functions cache nothing of the frame they are given:
    * the six registered queries share their returns, covariance and
    * frontier through `PortfolioPack`'s (session, dataset) memos, which
    * call the `*From` forms below.
    */
  def covMatrix(bars: DataFrame): DataFrame =
    covFromRets(Risk.barReturns(bars))

  private[backtest] def covFromRets(rets: DataFrame): DataFrame = {
    val a = rets.select(col("symbol").as("symbol1"), col("bucket_ms"), col("r").as("r1"))
    val b = rets.select(col("symbol").as("symbol2"), col("bucket_ms"), col("r").as("r2"))
    a.join(b, "bucket_ms")
      .groupBy("symbol1", "symbol2")
      .agg(
        (covar_samp(col("r1"), col("r2")) * 252).as("cov_ann_raw"),
        corr(col("r1"), col("r2")).as("corr_raw"),
        count(lit(1)).as("n"))
  }

  /** Mean annualized return per symbol. */
  def meanReturns(bars: DataFrame): DataFrame =
    muFromRets(Risk.barReturns(bars))

  private def muFromRets(rets: DataFrame): DataFrame =
    rets.groupBy("symbol").agg((avg(col("r")) * 252).as("mu_ann_raw"))

  /** All weight compositions of `quarters` steps over the symbol set,
    * long format: (grid_id, symbol, weight).
    */
  def weightGrid(spark: SparkSession, symbols: Seq[String], quarters: Int = 4): DataFrame = {
    import spark.implicits._
    val n = symbols.length
    def compositions(slots: Int, total: Int): Seq[List[Int]] =
      if (slots == 1) Seq(List(total))
      else (0 to total).flatMap(i => compositions(slots - 1, total - i).map(i :: _))
    // grid_id = base-(quarters+1) encoding of the composition digits, so
    // the oracle can recompute it arithmetically.
    val rows = compositions(n, quarters).flatMap { ws =>
      val gid = ws.foldLeft(0L)((a, w) => a * (quarters + 1) + w)
      ws.zip(symbols).map { case (w, sym) =>
        (gid, sym, w.toDouble / quarters)
      }
    }
    rows.toDF("grid_id", "symbol", "weight")
  }

  /** Efficient frontier by grid search: portfolio return/vol/Sharpe per
    * weight composition (portfolio_optimization.py:182).
    */
  /** Weight grids are driver-built (they must be: compositions are a
    * combinatorial object, not data), so the symbol universe collect is
    * bounded — a mis-keyed input fails fast instead of OOMing the driver.
    */
  def MaxSymbols: Int = graft.GraftConfig.active.optMaxSymbols

  private def symbolUniverse(mu: DataFrame): Seq[String] = {
    val syms = mu.select("symbol").limit(MaxSymbols + 1).collect().map(_.getString(0))
    require(syms.length <= MaxSymbols,
      s"weight-grid optimizer supports <= $MaxSymbols symbols, got more")
    syms.sorted.toSeq
  }

  def frontier(spark: SparkSession, bars: DataFrame, quarters: Int = 4): DataFrame =
    frontierFrom(spark, barsInputs(bars), quarters)._2

  /** A frame's bar returns and their covariance, uncached. */
  private def barsInputs(bars: DataFrame): (DataFrame, DataFrame) = {
    val rets = Risk.barReturns(bars)
    (rets, covFromRets(rets))
  }

  /** Argmax/argmin composition over the frontier grid — the number the
    * reference's users consume (portfolio_optimization.py:87
    * optimize_max_sharpe, :136 optimize_min_volatility). Returns the
    * winning weight vector in long form with its metrics.
    */
  def selectPortfolio(spark: SparkSession, bars: DataFrame, objective: String,
                      quarters: Int = 4): DataFrame =
    selectFrom(frontierFrom(spark, barsInputs(bars), quarters), objective)

  private[backtest] def selectFrom(gridAndFrontier: (DataFrame, DataFrame),
                                   objective: String): DataFrame = {
    val (grid, f) = gridAndFrontier
    val best = (objective match {
      case "max_sharpe" => f.orderBy(col("sharpe").desc, col("grid_id"))
      case "min_vol"    => f.orderBy(col("port_vol"), col("grid_id"))
      case o            => throw new IllegalArgumentException(s"objective: $o")
    }).limit(1)
    grid.join(broadcast(best), "grid_id")
      .select(col("grid_id"), col("symbol"), col("weight"),
        col("port_return"), col("port_vol"), col("sharpe"))
      .orderBy("symbol")
  }

  /** The weight grid and its scored frontier over (returns, covariance). */
  private[backtest] def frontierFrom(spark: SparkSession, retsAndCov: (DataFrame, DataFrame),
                                     quarters: Int): (DataFrame, DataFrame) = {
    val (rets, cov) = retsAndCov
    val mu = muFromRets(rets)
    val symbols = symbolUniverse(mu)
    val grid = weightGrid(spark, symbols, quarters)

    val ret = grid.join(mu, "symbol")
      .groupBy("grid_id")
      .agg(sum(col("weight") * col("mu_ann_raw")).as("port_ret_raw"))

    val g1 = grid.select(col("grid_id"), col("symbol").as("symbol1"), col("weight").as("w1"))
    val g2 = grid.select(col("grid_id"), col("symbol").as("symbol2"), col("weight").as("w2"))
    val vol = g1.join(g2, "grid_id")
      .join(broadcast(cov), Seq("symbol1", "symbol2"))
      .groupBy("grid_id")
      .agg(sqrt(sum(col("w1") * col("w2") * col("cov_ann_raw"))).as("port_vol_raw"))

    val f = ret.join(vol, "grid_id")
      .select(
        col("grid_id"),
        Port.r(col("port_ret_raw"), 6).as("port_return"),
        Port.r(col("port_vol_raw"), 6).as("port_vol"),
        Port.r(when(col("port_vol_raw") > 0,
          (col("port_ret_raw") - RiskFree) / col("port_vol_raw")).otherwise(0.0), 6).as("sharpe"))
    (grid, f)
  }

  /** Risk-parity weight search (portfolio_optimization.py:282
    * RiskParityOptimizer.optimize): the SLSQP loop re-expressed as the
    * same distributed grid search as the frontier — for every weight
    * composition, risk contributions rc_i = w_i·(Σ_j cov_ij·w_j)/σ_p and
    * the reference's objective Σ(rc_i − 1/n)², argmin by snapped
    * objective (ties → lowest grid_id). Returns the winning composition
    * in long form with its contributions.
    */
  def riskParityOptimize(spark: SparkSession, bars: DataFrame,
                         quarters: Int = 4): DataFrame = {
    val inputs = barsInputs(bars)
    riskParityFrom(inputs._1, rcGridFrom(spark, inputs, quarters))
  }

  /** Risk contributions rc of every grid composition over (returns,
    * covariance): one row per (grid_id, symbol1) with its weight.
    */
  private[backtest] def rcGridFrom(spark: SparkSession, retsAndCov: (DataFrame, DataFrame),
                                   quarters: Int): DataFrame = {
    val (rets, cov) = retsAndCov
    val symbols = symbolUniverse(muFromRets(rets))
    val grid = weightGrid(spark, symbols, quarters)
    val g2 = grid.select(col("grid_id"), col("symbol").as("symbol2"), col("weight").as("w2"))
    val marginal = g2.join(broadcast(cov), "symbol2")
      .groupBy(col("grid_id"), col("symbol1"))
      .agg(sum(col("w2") * col("cov_ann_raw")).as("marg"))
    val withW = marginal.join(
      grid.select(col("grid_id"), col("symbol").as("symbol1"), col("weight")),
      Seq("grid_id", "symbol1"))
    // σ_p as a whole-grid-row window sum, not groupBy + join-back: the
    // join form planned withW's three-shuffle lineage twice
    withW
      .withColumn("pv", sqrt(sum(col("weight") * col("marg"))
        .over(Window.partitionBy("grid_id"))))
      .withColumn("rc", col("weight") * col("marg") / col("pv"))
  }

  private[backtest] def riskParityFrom(rets: DataFrame, rc: DataFrame): DataFrame = {
    val symbols = symbolUniverse(muFromRets(rets))
    val target = 1.0 / symbols.length
    val best = rc.groupBy("grid_id")
      .agg(Port.r(sum((col("rc") - target) * (col("rc") - target)), 2).as("objective"))
      .orderBy(col("objective"), col("grid_id")).limit(1)
    rc.join(broadcast(best), "grid_id")
      .select(col("grid_id"), col("symbol1").as("symbol"), col("weight"),
        Port.r(col("rc"), 6).as("risk_contrib"), col("objective"))
      .orderBy("symbol")
  }

  /** Risk contribution per asset at fixed equal weights
    * (portfolio_optimization.py:245 calculate_risk_contributions).
    */
  def riskContributions(bars: DataFrame, weight: Double = 0.2): DataFrame =
    riskContribFrom(covMatrix(bars), weight)

  private[backtest] def riskContribFrom(cov: DataFrame, weight: Double): DataFrame = {
    val marginal = cov.groupBy("symbol1")
      .agg(sum(col("cov_ann_raw") * weight).as("marginal_raw"))
    val portVol = marginal
      .agg(sqrt(sum(col("marginal_raw") * weight)).as("port_vol_raw"))
    marginal.crossJoin(broadcast(portVol))
      .select(
        col("symbol1").as("symbol"),
        Port.r(col("marginal_raw"), 4).as("marginal_contrib"),
        Port.r(lit(weight) * col("marginal_raw") / col("port_vol_raw"), 6).as("risk_contrib"),
        Port.r(col("port_vol_raw"), 6).as("port_vol"))
  }
}
