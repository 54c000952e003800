package graft.etl

import graft.{QueryPack, Tables}
import graft.functions.Port
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ETL + cleaning queries. Reference: etl/normalizer.py,
  * data_processing/cleaner.py, etl/database_writer.py:165.
  */
object EtlPack extends QueryPack {
  import graft.operators.Bars

  /** Session-memoized dedup stage for the clean-pipeline funnel (fans out
    * into four downstream counts/aggregates within the query).
    */
  private def dedupStageCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("EtlPack.dedupStage", s, d)(
      Cleaner.dedupKeepFirst(Tables.ticks(s, d))
        .select(col("symbol"), col("first_price").as("price")).cache())

  /** Session-memoized gap-run frame over the 1-min bars: all three fill
    * queries derive from the same exploded spine — one build per
    * (session, dataset) instead of three.
    */
  private def gapRunsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("EtlPack.gapRuns", s, d)(
      Cleaner.gapRuns(Bars.ohlcvCached(s, d, 60)).cache())

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_normalize_trades" -> ((s, d) =>
      Normalizer.trades(Tables.events(s, d))
        .orderBy("ts_ms", "symbol", "feed_seq", "price")),
    "q_normalize_quotes" -> ((s, d) =>
      Normalizer.quotes(Tables.quotes(s, d))
        .orderBy("ts_ms", "symbol", "bid_price")),
    "q_clean_dedup_exact" -> ((s, d) =>
      Cleaner.dedupKeepFirst(Tables.ticks(s, d)).orderBy("user_id", "symbol")),
    "q_clean_outliers_iqr" -> ((s, d) => {
      val kept = Cleaner.removeOutliersIqr(Tables.ticks(s, d))
      kept.groupBy("symbol")
        .agg(count(lit(1)).as("kept_count"),
          min("price").as("kept_min"), max("price").as("kept_max"))
        .orderBy("symbol")
    }),
    "q_clean_outliers_zscore" -> ((s, d) => {
      val kept = Cleaner.removeOutliersZscore(Tables.ticks(s, d))
      kept.groupBy("symbol")
        .agg(count(lit(1)).as("kept_count"),
          min("price").as("kept_min"), max("price").as("kept_max"))
        .orderBy("symbol")
    }),
    "q_validate_prices" -> ((s, d) =>
      Cleaner.validatePrices(Tables.ticks(s, d), 10.0, 180.0).orderBy("symbol")),
    "q_fill_missing_minutes" -> ((s, d) =>
      Cleaner.ffillFromRuns(gapRunsCached(s, d))
        .orderBy("symbol", "bucket_ms")),
    "q_fill_missing_bfill" -> ((s, d) =>
      Cleaner.bfillFromRuns(gapRunsCached(s, d))
        .orderBy("symbol", "bucket_ms")),
    "q_fill_missing_interp" -> ((s, d) =>
      Cleaner.interpFromRuns(gapRunsCached(s, d))
        .orderBy("symbol", "bucket_ms")),
    "q_clean_pipeline" -> ((s, d) => {
      // composed cleaning chain (cleaner.py:230 clean_pipeline_pandas,
      // reference order: dedup → validate → IQR outliers) as a
      // per-symbol funnel with stage row counts + surviving price range
      val ticks = Tables.ticks(s, d)
      val raw = ticks.groupBy("symbol").agg(count(lit(1)).as("n_raw"))
      // the dedup stage is the earliest shared frame, so its tick scan +
      // first-wins shuffle run once and every later stage (count,
      // validate, IQR bounds, outlier filter) is a cheap filter/agg over
      // the cached rows — the old valid-level cache still built the
      // dedup lineage twice; session-memoized (not a bare per-call
      // .cache()) so Memo.invalidateAll owns eviction
      val dedup = dedupStageCached(s, d)
      val nDedup = dedup.groupBy("symbol").agg(count(lit(1)).as("n_dedup"))
      val valid = dedup.filter(col("price") >= 10.0 && col("price") <= 180.0)
      val nValid = valid.groupBy("symbol").agg(count(lit(1)).as("n_valid"))
      val bounds = Cleaner.iqrBounds(valid)
      val clean = valid.join(broadcast(bounds), "symbol")
        .filter(col("price") >= col("lo") && col("price") <= col("hi"))
      val nClean = clean.groupBy("symbol")
        .agg(count(lit(1)).as("n_clean"),
          min("price").as("clean_min"), max("price").as("clean_max"))
      raw.join(nDedup, "symbol").join(nValid, "symbol").join(nClean, "symbol")
        .orderBy("symbol")
    }),
    "q_spread_stats" -> ((s, d) =>
      // per-symbol quote quality: average/max spread and relative spread
      // in basis points (normalizer.py:69 spread/mid consumers). Exact
      // integer-scaled sums make the averages bit-identical.
      Normalizer.quotes(Tables.quotes(s, d))
        .groupBy("symbol")
        .agg(
          count(lit(1)).as("n_quotes"),
          (sum(floor(col("spread") * 1e6 + lit(0.5)).cast("long")) / 1e6 /
            count(lit(1))).as("avg_spread"),
          max(col("spread")).as("max_spread"),
          (sum(floor(col("spread") / col("mid") * 1e4 * 1e6 + lit(0.5)).cast("long")) / 1e6 /
            count(lit(1))).as("avg_spread_bps"))
        .orderBy("symbol")),
    "q_volume_profile" -> ((s, d) =>
      // intraday volume seasonality: volume share by hour-of-day per
      // symbol — one hash aggregate, ratio of exact integer sums
      Tables.ticks(s, d)
        .select(col("symbol"), expr("(ts div 3600000000000) % 24").as("hour_of_day"),
          col("volume"))
        .groupBy("symbol", "hour_of_day")
        .agg(sum(col("volume")).as("volume"), count(lit(1)).as("n_trades"))
        .withColumn("share",
          col("volume") / sum(col("volume")).over(
            org.apache.spark.sql.expressions.Window.partitionBy("symbol")))
        .orderBy("symbol", "hour_of_day")),
    "q_latest_trades" -> ((s, d) => {
      // two-level top-N: a window on symbol alone sorts a symbol's whole
      // tick history in one task at scale — local winners per (symbol,
      // input split) first (any split's top-N contains the global top-N),
      // then the global rank over ≤ N·splits rows per symbol
      val ord = Seq(col("ts").desc, col("event_id").desc)
      val wLocal = Window.partitionBy("symbol", "_cell").orderBy(ord: _*)
      val w = Window.partitionBy("symbol").orderBy(ord: _*)
      Tables.ticks(s, d)
        .withColumn("_cell", spark_partition_id())
        .withColumn("_lrk", row_number().over(wLocal))
        .filter(col("_lrk") <= 3)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("symbol"), expr("ts div 1000000").as("ts_ms"),
          col("price"), col("volume"), col("rn"))
        .orderBy("symbol", "rn")
    })
  )

  def oracles: Map[String, String] = Map(
    "q_normalize_trades" ->
      """SELECT epoch_ns(ts) // 1000000 AS ts_ms, event_type AS symbol,
        |       value AS price, CAST(1 + user_id % 100 AS DOUBLE) AS volume,
        |       CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT) AS feed_seq
        |FROM events
        |WHERE value > 0 AND event_type IS NOT NULL AND length(event_type) > 0
        |ORDER BY ts_ms, symbol, feed_seq, price""".stripMargin,
    "q_normalize_quotes" ->
      s"""WITH ${QueryPack.TicksCte}
         |SELECT epoch_ns(ts) // 1000000 AS ts_ms, symbol,
         |       price * 0.999 AS bid_price, price * 1.001 AS ask_price,
         |       volume AS bid_size, volume * 1.5 AS ask_size,
         |       (price * 0.999 + price * 1.001) / 2 AS mid,
         |       price * 1.001 - price * 0.999 AS spread
         |FROM ticks ORDER BY ts_ms, symbol, bid_price""".stripMargin,
    "q_clean_dedup_exact" ->
      s"""WITH ${QueryPack.TicksCte}
         |SELECT user_id, symbol, min(epoch_ns(ts)) // 1000000 AS first_ts_ms,
         |       arg_min(price, ts) AS first_price, count(*) AS n_dups
         |FROM ticks GROUP BY user_id, symbol ORDER BY user_id, symbol""".stripMargin,
    "q_clean_outliers_iqr" ->
      s"""WITH ${QueryPack.TicksCte},
         |bounds AS (
         |  SELECT symbol,
         |         quantile_cont(price, 0.25) - (quantile_cont(price, 0.75) - quantile_cont(price, 0.25)) * 3.0 AS lo,
         |         quantile_cont(price, 0.75) + (quantile_cont(price, 0.75) - quantile_cont(price, 0.25)) * 3.0 AS hi
         |  FROM ticks GROUP BY symbol
         |)
         |SELECT t.symbol, count(*) AS kept_count,
         |       min(price) AS kept_min, max(price) AS kept_max
         |FROM ticks t JOIN bounds b ON t.symbol = b.symbol
         |WHERE t.price >= b.lo AND t.price <= b.hi
         |GROUP BY t.symbol ORDER BY t.symbol""".stripMargin,
    "q_clean_outliers_zscore" ->
      s"""WITH ${QueryPack.TicksCte},
         |stats AS (
         |  SELECT symbol, avg(price) AS mu, stddev_samp(price) AS sd
         |  FROM ticks GROUP BY symbol
         |)
         |SELECT t.symbol, count(*) AS kept_count,
         |       min(price) AS kept_min, max(price) AS kept_max
         |FROM ticks t JOIN stats s ON t.symbol = s.symbol
         |WHERE abs(t.price - s.mu) / s.sd < 3.0
         |GROUP BY t.symbol ORDER BY t.symbol""".stripMargin,
    "q_validate_prices" ->
      s"""WITH ${QueryPack.TicksCte}
         |SELECT symbol,
         |       CAST(sum(CASE WHEN price >= 10.0 AND price <= 180.0 THEN 1 ELSE 0 END) AS BIGINT) AS valid_count,
         |       CAST(sum(CASE WHEN price < 10.0 OR price > 180.0 THEN 1 ELSE 0 END) AS BIGINT) AS invalid_count,
         |       count(*) AS total
         |FROM ticks GROUP BY symbol ORDER BY symbol""".stripMargin,
    "q_fill_missing_minutes" ->
      s"""WITH ${QueryPack.BarsCte},
         |spine AS (
         |  SELECT symbol, unnest(generate_series(lo, hi, 60000)) AS bucket_ms
         |  FROM (SELECT symbol, min(bucket_ms) AS lo, max(bucket_ms) AS hi
         |        FROM bars GROUP BY symbol)
         |)
         |SELECT s.symbol, s.bucket_ms,
         |       last_value(b.close IGNORE NULLS) OVER (
         |         PARTITION BY s.symbol ORDER BY s.bucket_ms
         |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS close_ffill,
         |       CAST(b.close IS NULL AS INT) AS was_missing
         |FROM spine s LEFT JOIN bars b ON s.symbol = b.symbol AND s.bucket_ms = b.bucket_ms
         |ORDER BY s.symbol, s.bucket_ms""".stripMargin,
    "q_fill_missing_bfill" ->
      s"""WITH ${QueryPack.BarsCte},
         |spine AS (
         |  SELECT symbol, unnest(generate_series(lo, hi, 60000)) AS bucket_ms
         |  FROM (SELECT symbol, min(bucket_ms) AS lo, max(bucket_ms) AS hi
         |        FROM bars GROUP BY symbol)
         |)
         |SELECT s.symbol, s.bucket_ms,
         |       first_value(b.close IGNORE NULLS) OVER (
         |         PARTITION BY s.symbol ORDER BY s.bucket_ms
         |         ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS close_bfill,
         |       CAST(b.close IS NULL AS INT) AS was_missing
         |FROM spine s LEFT JOIN bars b ON s.symbol = b.symbol AND s.bucket_ms = b.bucket_ms
         |ORDER BY s.symbol, s.bucket_ms""".stripMargin,
    "q_fill_missing_interp" ->
      s"""WITH ${QueryPack.BarsCte},
         |spine AS (
         |  SELECT symbol, unnest(generate_series(lo, hi, 60000)) AS bucket_ms
         |  FROM (SELECT symbol, min(bucket_ms) AS lo, max(bucket_ms) AS hi
         |        FROM bars GROUP BY symbol)
         |),
         |j AS (
         |  SELECT s.symbol, s.bucket_ms, b.close,
         |         last_value(b.close IGNORE NULLS) OVER wb AS pv,
         |         last_value(CASE WHEN b.close IS NOT NULL THEN s.bucket_ms END IGNORE NULLS) OVER wb AS pt,
         |         first_value(b.close IGNORE NULLS) OVER wf AS nv,
         |         first_value(CASE WHEN b.close IS NOT NULL THEN s.bucket_ms END IGNORE NULLS) OVER wf AS nt
         |  FROM spine s LEFT JOIN bars b ON s.symbol = b.symbol AND s.bucket_ms = b.bucket_ms
         |  WINDOW wb AS (PARTITION BY s.symbol ORDER BY s.bucket_ms
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         |         wf AS (PARTITION BY s.symbol ORDER BY s.bucket_ms
         |                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
         |)
         |SELECT symbol, bucket_ms,
         |       ${Port.rsql("CASE WHEN close IS NOT NULL THEN close ELSE pv + (nv - pv) * CAST(bucket_ms - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE) END", 6)} AS close_interp,
         |       CAST(close IS NULL AS INT) AS was_missing
         |FROM j ORDER BY symbol, bucket_ms""".stripMargin,
    "q_clean_pipeline" ->
      s"""WITH ${QueryPack.TicksCte},
         |dedup AS (
         |  SELECT symbol AS dsym, arg_min(price, ts) AS price
         |  FROM ticks GROUP BY user_id, symbol
         |),
         |raw AS (SELECT symbol, count(*) AS n_raw FROM ticks GROUP BY symbol),
         |nd AS (SELECT dsym AS symbol, count(*) AS n_dedup FROM dedup GROUP BY 1),
         |valid AS (SELECT dsym AS symbol, price FROM dedup WHERE price >= 10.0 AND price <= 180.0),
         |nv AS (SELECT symbol, count(*) AS n_valid FROM valid GROUP BY symbol),
         |bounds AS (
         |  SELECT symbol,
         |         quantile_cont(price, 0.25) - (quantile_cont(price, 0.75) - quantile_cont(price, 0.25)) * 3.0 AS lo,
         |         quantile_cont(price, 0.75) + (quantile_cont(price, 0.75) - quantile_cont(price, 0.25)) * 3.0 AS hi
         |  FROM valid GROUP BY symbol
         |),
         |clean AS (
         |  SELECT v.symbol, v.price FROM valid v JOIN bounds b ON v.symbol = b.symbol
         |  WHERE v.price >= b.lo AND v.price <= b.hi
         |),
         |nc AS (SELECT symbol, count(*) AS n_clean, min(price) AS clean_min,
         |              max(price) AS clean_max FROM clean GROUP BY symbol)
         |SELECT r.symbol, n_raw, n_dedup, n_valid, n_clean, clean_min, clean_max
         |FROM raw r JOIN nd USING (symbol) JOIN nv USING (symbol) JOIN nc USING (symbol)
         |ORDER BY r.symbol""".stripMargin,
    "q_spread_stats" ->
      s"""WITH ${QueryPack.TicksCte},
         |q AS (
         |  SELECT symbol,
         |         price * 1.001 - price * 0.999 AS spread,
         |         (price * 0.999 + price * 1.001) / 2 AS mid
         |  FROM ticks
         |)
         |SELECT symbol, count(*) AS n_quotes,
         |       CAST(sum(CAST(floor(spread * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6 / count(*) AS avg_spread,
         |       max(spread) AS max_spread,
         |       CAST(sum(CAST(floor(spread / mid * 1e4 * 1e6 + 0.5) AS BIGINT)) AS BIGINT) / 1e6 / count(*) AS avg_spread_bps
         |FROM q GROUP BY symbol ORDER BY symbol""".stripMargin,
    "q_volume_profile" ->
      s"""WITH ${QueryPack.TicksCte},
         |vp AS (
         |  SELECT symbol, (epoch_ns(ts) // 3600000000000) % 24 AS hour_of_day,
         |         sum(volume) AS volume, count(*) AS n_trades
         |  FROM ticks GROUP BY 1, 2
         |)
         |SELECT symbol, hour_of_day, volume, n_trades,
         |       volume / sum(volume) OVER (PARTITION BY symbol) AS share
         |FROM vp ORDER BY symbol, hour_of_day""".stripMargin,
    "q_latest_trades" ->
      s"""WITH ${QueryPack.TicksCte}
         |SELECT symbol, epoch_ns(ts) // 1000000 AS ts_ms, price, volume, rn FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY symbol ORDER BY ts DESC, event_id DESC) AS rn
         |  FROM ticks)
         |WHERE rn <= 3 ORDER BY symbol, rn""".stripMargin
  )
}
