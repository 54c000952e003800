package graft.backtest

import graft.functions.Port
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** ML feature engineering over bars.
  *
  * Reference: backtesting/ml_strategy.py:132 TechnicalMLStrategy
  * .engineer_features — RSI(14) from price deltas, Bollinger(20, 2σ),
  * SMA 10/50, volume/SMA20 ratio, 1- and 5-bar returns, 20-bar return
  * volatility. EWM-based MACD is excluded here (infinite-impulse state —
  * covered by the streaming layer, not a set-level query). Only rows with
  * every lookback complete (rn ≥ 50) are emitted, mirroring dropna on the
  * reference's rolling NaNs.
  */
object MlFeatures {

  /** Session-memoized feature frame over 1-min bars — shared by
    * q_ml_features and q_feature_importance (the seven sliding frames
    * are the expensive part; build once per session).
    */
  def cached(s: org.apache.spark.sql.SparkSession, d: String): DataFrame =
    graft.Memo.share("MlFeatures.features", s, d)(
      graft.Memo.pin(compute(graft.operators.Bars.ohlcvCached(s, d, 60))))

  def compute(bars: DataFrame): DataFrame = {
    val w = Window.partitionBy("symbol").orderBy("bucket_ms")
    val cum = w.rowsBetween(Window.unboundedPreceding, 0)
    def frame(k: Int) = w.rowsBetween(-(k - 1), 0)
    // The four sliding price/volume AVERAGES are prefix-sum differences
    // (every frame O(1) per row, one shared sort — the signals' round-3
    // rewrite; Spark re-aggregates a rowsBetween frame from scratch per
    // row) over 1e-6-QUANTIZED values summed as exact integers
    // (decimal(38,0) here, BIGINT frames in the oracle): the diff then
    // EQUALS the oracle's direct frame sum bit-for-bit at any scale.
    // Plain float prefix diffs were tried first and flipped one snapped
    // row per scale (rsi at sf0.1, bb_upper at sf0.01) — ~1e-9 drift is
    // real against a 1e-6 grid over 60k+ rows. gain/loss stay direct
    // 14-row float frames (their ratio feeds rsi's snap; frames are
    // narrow so the O(k) cost is small), as do the two stddevs (central
    // moments don't survive quantization or prefix cancellation).
    //
    // Window LAYERING (r07): all window expressions over raw columns sit
    // in one projection (layer 1), everything whose window input is a
    // layer-1 column (delta frames, prefix-sum lags, the returns_1d
    // stddev) in a second — TWO WindowExec passes over one sort, where
    // the old withColumn chain planned one per expression.
    val dec = "decimal(38,0)"
    def q6(c: org.apache.spark.sql.Column) = floor(c * 1e6 + lit(0.5)).cast(dec)
    val l1 = Signals.withRn(bars).select(col("*"),
      sum(q6(col("close"))).over(cum).as("_cc"),
      sum(q6(col("volume"))).over(cum).as("_cv"),
      lag(col("close"), 1).over(w).as("_lag1"),
      lag(col("close"), 5).over(w).as("_lag5"),
      stddev_samp(col("close")).over(frame(20)).as("_sd20"),
      lead(col("close"), 1).over(w).as("_lead1"))
    val delta = col("close") - col("_lag1")
    val l2 = l1
      .withColumn("returns_1d", col("close") / col("_lag1") - 1)
      .select(col("*"),
        avg(when(delta > 0, delta).otherwise(0.0)).over(frame(14)).as("_gain"),
        avg(when(delta < 0, -delta).otherwise(0.0)).over(frame(14)).as("_loss"),
        lag(col("_cc"), 10).over(w).as("_lcc10"),
        lag(col("_cc"), 20).over(w).as("_lcc20"),
        lag(col("_cc"), 50).over(w).as("_lcc50"),
        lag(col("_cv"), 20).over(w).as("_lcv20"),
        stddev_samp(col("returns_1d")).over(frame(20)).as("_vol20"))
    def slidingQ(c: org.apache.spark.sql.Column, lagged: String, k: Int) =
      (c - coalesce(col(lagged), lit(0).cast(dec))).cast("double") / (k * 1e6)
    val sma20 = slidingQ(col("_cc"), "_lcc20", 20)
    val (gain, loss, sd20) = (col("_gain"), col("_loss"), col("_sd20"))
    l2
      .withColumn("returns_5d", col("close") / col("_lag5") - 1)
      .withColumn("rsi",
        when(loss === 0 && gain === 0, lit(null))
          .when(loss === 0, 100.0)
          .otherwise(Port.r(lit(100.0) - lit(100.0) / (lit(1.0) + gain / loss), 4)))
      .withColumn("bb_upper", Port.r(sma20 + sd20 * 2, 6))
      .withColumn("bb_lower", Port.r(sma20 - sd20 * 2, 6))
      .withColumn("sma_fast", Port.r(slidingQ(col("_cc"), "_lcc10", 10), 6))
      .withColumn("sma_slow", Port.r(slidingQ(col("_cc"), "_lcc50", 50), 6))
      .withColumn("volume_sma_ratio",
        Port.r(col("volume") / slidingQ(col("_cv"), "_lcv20", 20), 6))
      .withColumn("volatility", Port.r(col("_vol20"), 8))
      // rn (the original bar index — the walk-forward folds' coordinate
      // system) and fwd (next-bar forward return) ride the SAME window
      // sort for free; q_feature_importance consumes them without a
      // window pass of its own. The filter drops only the warmup prefix,
      // so lead() over the unfiltered stream equals lead() over the
      // filtered one for every surviving row. q_ml_features drops both.
      .withColumn("fwd", col("_lead1") / col("close") - 1)
      .filter(col("rn") >= 50)
      .select(col("symbol"), col("bucket_ms"), col("close"),
        col("returns_1d"), col("returns_5d"), col("rsi"), col("bb_upper"),
        col("bb_lower"), col("sma_fast"), col("sma_slow"),
        col("volume_sma_ratio"), col("volatility"), col("rn"), col("fwd"))
  }
}
