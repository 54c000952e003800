package graft.sources

import graft.{QueryPack, Tables}
import graft.backtest.{Backtester, BtSql, Metrics, Signals}
import graft.etl.Cleaner
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed end-to-end MARKET pipeline — the reference's core flow
  * (etl/pipeline.py fetch → cleaner.py clean → tick_to_ohlcv.py
  * resample → backtesting/engine.py run → metrics.py report) wired as
  * ONE sources-level job, the trading-side sibling of [[CorpusJob]]:
  *
  *   raw ticks
  *     -> bounds: one aggregate over the tick scan gives the per-symbol
  *        IQR bounds of the valid prices (cleaner.py:215 price-range
  *        gate, cleaner.py:230 clean_pipeline order) and the raw tick
  *        count; broadcast back onto the valid feed
  *     -> clean: the IQR outlier filter, carrying the raw count
  *     -> resample: 1-minute OHLCV bars over the CLEANED feed
  *     -> signal + backtest: the oracled ma-cross vectorized chain
  *     -> report: the 13-metric performance table per symbol, with
  *        the funnel counts (raw/clean ticks, bars) so the manifest
  *        carries the composition evidence.
  *
  * The job is one plan and keeps no memo. Every frame in it has one
  * reader per run, and under AQE a lazy cache is a fill job of its own
  * plus an eager planning pass, so a cold run would pay for copies it
  * never reads twice. The funnel counts ride aggregates the chain runs
  * anyway: the raw count the bounds aggregate, the clean and bar counts
  * the metrics aggregate. One shuffle by symbol serves the whole
  * signal -> backtest -> metrics chain.
  *
  * Every stage is the oracled building block the individual queries
  * verify (q_validate_prices, q_clean_outliers_iqr, q_ohlcv_1min,
  * q_backtest_ma_cross, q_perf_metrics); the composed mirror rebuilds
  * the identical chain in SQL via BtSql.chainFromBars over a cleaned
  * bars CTE — one end-to-end hash comparison across five stages.
  * MarketJobSpec additionally pins the summary against an independent
  * stage-by-stage driver-side composition of the registered queries'
  * own operators.
  */
object MarketJob extends QueryPack {

  private val MinPrice = 10.0
  private val MaxPrice = 180.0

  /** Cleaned tick feed: validate -> per-symbol IQR gate, keeping
    * ts/price/volume for the bar stage and the symbol's raw tick count
    * (`n_raw_ticks`, over valid and invalid ticks alike) for the report.
    * The bounds and the raw count come from one aggregate over the tick
    * scan; the bounds see only the valid prices.
    */
  def cleanTicks(s: SparkSession, d: String): DataFrame = {
    val ticks = Tables.ticks(s, d).select("symbol", "ts", "event_id", "price", "volume")
    val valid = col("price") >= MinPrice && col("price") <= MaxPrice
    val bounds = Cleaner.iqrBounds(ticks, valid = valid,
      extra = Seq(count(lit(1)).as("n_raw_ticks")))
    ticks.filter(valid).join(broadcast(bounds), "symbol")
      .filter(col("price") >= col("lo") && col("price") <= col("hi"))
      .select("symbol", "ts", "event_id", "price", "volume", "n_raw_ticks")
  }

  /** The cleaned 1-minute bars, still carrying `n_raw_ticks`. */
  def cleanBars(s: SparkSession, d: String): DataFrame =
    graft.operators.Bars.ohlcv(cleanTicks(s, d), 60,
      extra = Seq(max(col("n_raw_ticks")).as("n_raw_ticks")))

  /** The composed per-symbol summary manifest. The funnel counts ride
    * the metrics aggregate: the backtest frame has one row per clean
    * bar, its `n_trades` sum is the symbol's clean tick count, and every
    * row carries the raw count. The manifest has one row per symbol, so
    * it is sorted in one partition (a range-partitioned `orderBy` would
    * add a sampling job).
    */
  def summary(s: SparkSession, d: String): DataFrame =
    Metrics.compute(Backtester.run(Signals.maCrossPlain(cleanBars(s, d))), extra = Seq(
      max(col("n_raw_ticks")).as("n_raw_ticks"),
      sum(col("n_trades")).as("n_clean_ticks"),
      count(lit(1)).as("n_bars")))
      .repartition(1)
      .sortWithinPartitions("symbol")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_market_job_summary" -> ((s, d) => summary(s, d)))

  private val CleanBarsCte: String =
    s"""${QueryPack.TicksCte},
       |tv AS (
       |  SELECT symbol, ts, price, volume FROM ticks
       |  WHERE price >= $MinPrice AND price <= $MaxPrice
       |),
       |bounds AS (
       |  SELECT symbol,
       |         quantile_cont(price, 0.25)
       |           - (quantile_cont(price, 0.75) - quantile_cont(price, 0.25)) * 3.0 AS lo,
       |         quantile_cont(price, 0.75)
       |           + (quantile_cont(price, 0.75) - quantile_cont(price, 0.25)) * 3.0 AS hi
       |  FROM tv GROUP BY symbol
       |),
       |cleanticks AS (
       |  SELECT tv.symbol, tv.ts, tv.price, tv.volume
       |  FROM tv JOIN bounds USING (symbol)
       |  WHERE tv.price >= bounds.lo AND tv.price <= bounds.hi
       |),
       |bars AS (
       |  SELECT symbol,
       |         epoch_ns(ts) // 60000000000 * 60000 AS bucket_ms,
       |         arg_min(price, ts) AS open,
       |         max(price) AS high,
       |         min(price) AS low,
       |         arg_max(price, ts) AS close,
       |         sum(volume) AS volume,
       |         count(*) AS n_trades
       |  FROM cleanticks GROUP BY symbol, 2
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_market_job_summary" ->
      ("WITH " + BtSql.chainFromBars(CleanBarsCte) + BtSql.WpTail +
        s""",
           |met AS (
           |${BtSql.metricsSelect("symbol")}
           |),
           |counts AS (
           |  SELECT t.symbol,
           |         count(*) AS n_raw_ticks,
           |         CAST(coalesce(c.n_clean, 0) AS BIGINT) AS n_clean_ticks,
           |         CAST(coalesce(b.n_bars, 0) AS BIGINT) AS n_bars
           |  FROM ticks t
           |  LEFT JOIN (SELECT symbol, count(*) AS n_clean
           |             FROM cleanticks GROUP BY 1) c ON t.symbol = c.symbol
           |  LEFT JOIN (SELECT symbol, count(*) AS n_bars
           |             FROM bars GROUP BY 1) b ON t.symbol = b.symbol
           |  GROUP BY t.symbol, c.n_clean, b.n_bars
           |)
           |SELECT counts.symbol, counts.n_raw_ticks, counts.n_clean_ticks,
           |       counts.n_bars, met.* EXCLUDE (symbol)
           |FROM counts JOIN met USING (symbol)
           |ORDER BY counts.symbol""".stripMargin))
}
