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
  *     -> validate: price-range gate (cleaner.py:215 bounds)
  *     -> clean: per-symbol IQR outlier filter over the valid feed
  *        (cleaner.py:230 clean_pipeline order; bounds broadcast)
  *     -> resample: 1-minute OHLCV bars over the CLEANED feed
  *     -> signal + backtest: the oracled ma-cross vectorized chain
  *     -> report: the 13-metric performance table per symbol, with
  *        the funnel counts (raw/clean ticks, bars) so the manifest
  *        carries the composition evidence.
  *
  * Two session memos, both lazy caches: the cleaned bars, laid out by
  * symbol once at their fill, and the backtest frame over them. That
  * one exchange serves the whole signal -> backtest -> metrics chain;
  * the clean and bar counts come out of the metrics aggregate itself,
  * so no stage is read twice and no tick-sized frame stays resident.
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

  /** Cleaned tick feed: validate -> per-symbol IQR gate (keeps
    * ts/price/volume so the bar stage can resample it). Not memoized:
    * [[summary]] reads it once, through the bar fill, and takes its
    * per-symbol count from the bars' `n_trades` (every clean tick lands
    * in exactly one bar), so a cached copy would only hold the job's one
    * tick-sized frame resident.
    */
  def cleanTicks(s: SparkSession, d: String): DataFrame = {
    val valid = Tables.ticks(s, d)
      .select("symbol", "ts", "event_id", "price", "volume")
      .filter(col("price") >= MinPrice && col("price") <= MaxPrice)
    valid.join(broadcast(Cleaner.iqrBounds(valid)), "symbol")
      .filter(col("price") >= col("lo") && col("price") <= col("hi"))
      .select("symbol", "ts", "event_id", "price", "volume")
  }

  /** Session memo for the cleaned 1-minute bars, laid out the way
    * [[graft.operators.Bars.ohlcvCached]] lays out the raw bars:
    * partitioned by symbol and sorted by (symbol, bucket_ms), then
    * cached lazily (one copy, filled by the first reader). The ma-cross
    * and backtest windows plan straight on its scan, with no Exchange or
    * Sort of their own.
    */
  private val cleanBarCache =
    graft.Memo.map[(SparkSession, String), DataFrame](graft.Memo.release)

  def cleanBars(s: SparkSession, d: String): DataFrame =
    cleanBarCache.getOrElseUpdate((s, d),
      graft.Memo.layout(graft.operators.Bars.ohlcv(cleanTicks(s, d), 60),
        Seq("symbol"), Seq("symbol", "bucket_ms")))

  /** Session memo for the backtest equity frame over the CLEANED bars —
    * the signal + vectorized-backtest stage of the composed job. Distinct
    * from Backtester.maCrossCached, which runs on the raw 1-minute bars:
    * this chain's input is the IQR-cleaned feed, so it shares nothing
    * with that memo. A plain lazy cache: the cached relation keeps the
    * bars' symbol partitioning, so the metrics windows and aggregate
    * read it without an exchange, and a warm call re-runs only them.
    */
  private val btCache =
    graft.Memo.map[(SparkSession, String), DataFrame](graft.Memo.release)

  private def btCleanCached(s: SparkSession, d: String): DataFrame =
    btCache.getOrElseUpdate((s, d),
      Backtester.run(Signals.maCrossPlain(cleanBars(s, d))).cache())

  /** The composed per-symbol summary manifest. The funnel counts ride
    * the metrics aggregate: the backtest frame has one row per clean
    * bar, and its `n_trades` sum is the symbol's clean tick count. The
    * manifest has one row per symbol, so it is sorted in one partition
    * (a range-partitioned `orderBy` would add a sampling job).
    */
  def summary(s: SparkSession, d: String): DataFrame = {
    val raw = Tables.ticks(s, d).groupBy("symbol")
      .agg(count(lit(1)).as("n_raw_ticks"))
    val met = Metrics.compute(btCleanCached(s, d), extra = Seq(
      sum(col("n_trades")).as("n_clean_ticks"), count(lit(1)).as("n_bars")))
    raw.join(met, "symbol")
      .repartition(1)
      .sortWithinPartitions("symbol")
  }

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
