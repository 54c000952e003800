package graft.backtest

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Trading-signal generators over OHLCV bars.
  *
  * Reference: backtesting/strategy.py (MeanReversionStrategy:71,
  * MovingAverageCrossStrategy:118, MomentumStrategy:150,
  * BuyAndHoldStrategy:195). All are per-symbol window pipelines — rolling
  * frames partitioned by symbol, ordered by bar bucket — so they scale with
  * symbols × bars and never shuffle more than once (the bars aggregate).
  * Bars with an incomplete lookback window get signal 0 (pandas emits NaN
  * there and the reference's comparisons leave those at 0).
  */
object Signals {

  private def w = Window.partitionBy("symbol").orderBy("bucket_ms")

  /** Adds `rn` (1-based bar index per symbol) used for warmup cutoffs. */
  def withRn(bars: DataFrame): DataFrame =
    bars.withColumn("rn", row_number().over(w))

  /** Running (prefix) sum frame: O(1) per row, unlike a sliding
    * `rowsBetween(-(k-1), 0)` frame, which Spark re-aggregates from
    * scratch for every row (O(k) per row, no retraction support). A
    * k-bar sliding sum is the difference of two prefix sums — all the
    * window work collapses to one running accumulator plus offset
    * lookups, every frame O(1), all sharing a single WindowExec sort.
    * Prefix sums here run over integer CENTS (see [[cents]]) — exact in
    * any association below 2^53, so prefix-diff, sliding-frame, and
    * chunked forms are EQUAL by arithmetic. (The pre-r16 float form's
    * ~n·ulp re-association drift flipped two ma-cross decisions at sf0.1
    * bar density on the composed market job's cleaned feed — the class
    * of bug the integer decisions remove.)
    */
  private def cum = w.rowsBetween(Window.unboundedPreceding, 0)

  // (sliding k-sums are prefix-sum differences: s - coalesce(lag(s, k), 0).
  // A window function can't nest inside another, so each plain form
  // materializes the prefix sums in layer 1 and their lags in layer 2 —
  // both layers share one partitioning and sort, no extra exchange.)

  // ---- adaptive routing: the default entry points pick the flat or the
  // two-level (chunked) form from the per-symbol history depth, so every
  // caller is scale-safe by default. Measured crossover (one hot symbol,
  // local[32]; SURVEY.md §8): parity at 5M rows/symbol, chunked 5.96 s
  // vs flat 26.5 s warm at 30M — the flat form serializes a symbol's
  // whole history through one task's sort, the chunked form spreads
  // (symbol, chunk) tasks. Below the threshold the chunked form's extra stage constants
  // (~1.4 s at sf0.1) lose.

  /** Rows-per-symbol above which the chunked two-level forms win. */
  val ChunkSwitchRows: Long = 10000000L

  /** True when the chunked form should be used: the caller's hint when
    * given (deploy-time feeds know their depth — table stats, ingest
    * counters), else plan statistics when the plan carries row count AND
    * symbol NDV (CBO/ANALYZE), else false — an unknown depth errs toward
    * the flat form, whose failure mode is a slow sort, not a wrong
    * result, and the crossover measured above (SURVEY.md §8) guides
    * pinning hints.
    */
  def useChunked(bars: DataFrame, rowsPerSymbolHint: Option[Long] = None): Boolean =
    rowsPerSymbolHint.orElse(statsRowsPerSymbol(bars)).exists(_ >= ChunkSwitchRows)

  /** Plan-statistics estimate of rows per symbol — metadata only, never a
    * job. Both stats are usually absent without CBO; that's the intended
    * conservative default (flat form).
    */
  private def statsRowsPerSymbol(bars: DataFrame): Option[Long] = {
    val stats = bars.queryExecution.optimizedPlan.stats
    val symbolNdv = stats.attributeStats.collectFirst {
      case (attr, cs) if attr.name == "symbol" => cs.distinctCount
    }.flatten
    for (rc <- stats.rowCount; ndv <- symbolNdv if ndv > 0)
      yield (rc / ndv).toLong
  }

  /** MA crossover: 1 while fast MA > slow MA, else 0 (strategy.py:118). */
  def maCross(bars: DataFrame, fast: Int = 10, slow: Int = 50,
              rowsPerSymbolHint: Option[Long] = None): DataFrame =
    if (useChunked(bars, rowsPerSymbolHint)) maCrossChunked(bars, fast, slow)
    else maCrossPlain(bars, fast, slow)

  // ---- window LAYERING (r07): a withColumn between two window
  // expressions inserts a Project that blocks CollapseWindow, so the old
  // chains planned one WindowExec PER expression — each a full
  // row-copying pass over the partition sort. Every plain form now puts
  // all same-layer window expressions in ONE projection: layer 1 the
  // rank/prefix sums over raw columns, layer 2 the lags of those sums —
  // two WindowExec total, expressions token-identical (q_strategy_
  // comparison measured 2.4 -> 0.8 s isolated from the same fix).

  // ---- exact ma-cross decision (r16). fast_ma > slow_ma is decided in
  // integer CENTS: prices are cent-denominated, so floor(close*100+0.5)
  // is the exact integer both engines agree on, integer-valued doubles
  // sum EXACTLY (no rounding below 2^53 — per-symbol cent prefix sums
  // reach ~1e13 at 1e9 bars, three orders inside the envelope) in ANY
  // association, and (Σf)·slow > (Σs)·fast is the true rational MA
  // comparison with no division. The float form this replaces agreed
  // with the avg()-OVER mirror only to ~n·ulp — at sf0.1 bar density
  // two bars of the composed market job's CLEANED feed landed exactly
  // on the boundary and flipped (2-4 trades/symbol drift). The integer
  // decision is engine- and association-independent: plain, chunked,
  // and DuckDB mirrors are now EQUAL by arithmetic, not by luck.
  private[backtest] def cents(c: Column): Column = floor(c * 100 + lit(0.5))

  def maCrossPlain(bars: DataFrame, fast: Int = 10, slow: Int = 50): DataFrame = {
    val base = bars.select(col("*"),
      row_number().over(w).as("rn"),
      sum(cents(col("close"))).over(cum).as("_psc"))
    val lagged = base.select(col("*"),
      lag(col("_psc"), fast).over(w).as("_lf"),
      lag(col("_psc"), slow).over(w).as("_ls"))
    val fastNum = (col("_psc") - coalesce(col("_lf"), lit(0.0))) * slow
    val slowNum = (col("_psc") - coalesce(col("_ls"), lit(0.0))) * fast
    lagged
      .withColumn("signal",
        when(col("rn") >= slow && fastNum > slowNum, 1).otherwise(0))
      .drop("_psc", "_lf", "_ls")
  }

  /** Mean reversion: +1 when z < -k, -1 when z > k (strategy.py:71).
    * Rolling mean/stddev via prefix-sum and prefix-sum-of-squares
    * differences: var = (Σx² − (Σx)²/k)/(k−1). Cancellation error is
    * ~ulp(Σx²) ≪ the z-score's ±2σ decision boundary for any
    * non-degenerate price window.
    */
  def meanReversion(bars: DataFrame, window: Int = 20, numStd: Double = 2.0,
                    rowsPerSymbolHint: Option[Long] = None): DataFrame =
    if (useChunked(bars, rowsPerSymbolHint)) meanReversionChunked(bars, window, numStd)
    else meanReversionPlain(bars, window, numStd)

  // exact mean-reversion decision (r16, same class as the ma-cross fix):
  // z<-ns / z>ns decided on integer-CENT sums with the division-free
  // quadratic  dev²·(k−1) > ns²·k·(k·Σc² − (Σc)²)  where dev = k·c − Σc.
  // All terms are integer-valued doubles — exact in any association below
  // 2^53, i.e. for prices < ~$5,300 at k=20 (generator max $560; cast to
  // long before widening the envelope). sd=0 degenerates to 0>0 = false
  // → signal 0, matching the float form's NaN-comparison behavior.
  private def mrSignal(c: Column, s1: Column, s2: Column, k: Int,
                       ns: Double): (Column, Column) = {
    val dev = c * k - s1
    val lhs = dev * dev * (k - 1)
    val rhs = lit(ns * ns * k) * (s2 * k - s1 * s1)
    (dev < 0 && lhs > rhs, dev > 0 && lhs > rhs) // (z < -ns, z > ns)
  }

  def meanReversionPlain(bars: DataFrame, window: Int = 20, numStd: Double = 2.0): DataFrame = {
    val base = bars.select(col("*"),
      row_number().over(w).as("rn"),
      sum(cents(col("close"))).over(cum).as("_ps1"),
      sum(cents(col("close")) * cents(col("close"))).over(cum).as("_ps2"))
    val lagged = base.select(col("*"),
      lag(col("_ps1"), window).over(w).as("_l1"),
      lag(col("_ps2"), window).over(w).as("_l2"))
    val s1 = col("_ps1") - coalesce(col("_l1"), lit(0.0))
    val s2 = col("_ps2") - coalesce(col("_l2"), lit(0.0))
    val (zLo, zHi) = mrSignal(cents(col("close")), s1, s2, window, numStd)
    lagged
      .withColumn("signal",
        when(col("rn") < window, 0)
          .when(zLo, 1)
          .when(zHi, -1)
          .otherwise(0))
      .drop("_ps1", "_ps2", "_l1", "_l2")
  }

  /** Momentum: ±1 when lookback pct-change exceeds ±threshold
    * (strategy.py:150).
    */
  def momentum(bars: DataFrame, lookback: Int = 20, threshold: Double = 0.02,
               rowsPerSymbolHint: Option[Long] = None): DataFrame =
    if (useChunked(bars, rowsPerSymbolHint)) momentumChunked(bars, lookback, threshold)
    else momentumPlain(bars, lookback, threshold)

  def momentumPlain(bars: DataFrame, lookback: Int = 20, threshold: Double = 0.02): DataFrame = {
    val base = bars.select(col("*"),
      row_number().over(w).as("rn"),
      lag(col("close"), lookback).over(w).as("_lb"))
    val mom = col("close") / col("_lb") - 1
    base
      .withColumn("signal",
        when(col("rn") <= lookback, 0)
          .when(mom > threshold, 1)
          .when(mom < -threshold, -1)
          .otherwise(0))
      .drop("_lb")
  }

  /** All three production signals (default parameters) from ONE
    * per-symbol window pass — columns `s_ma`, `s_mr`, `s_mo` alongside
    * the bars. The ensemble and strategy-comparison queries previously
    * ran three separate signal pipelines (three sorts of the same bars,
    * then joins/unions); every rolling input here shares the single
    * (symbol, bucket_ms) sort. At chunked-signal depth (≥10M rows per
    * symbol) callers fall back to the individual chunked forms — the
    * fusion is a stage-constant win, the chunking a scale necessity.
    */
  def allThreePlain(bars: DataFrame): DataFrame = {
    val base = bars.select(col("*"),
      row_number().over(w).as("rn"),
      sum(cents(col("close"))).over(cum).as("_psc"),
      sum(cents(col("close")) * cents(col("close"))).over(cum).as("_ps2"))
    val lagged = base.select(col("*"),
      lag(col("_psc"), 10).over(w).as("_lf10"),
      lag(col("_psc"), 50).over(w).as("_ls50"),
      lag(col("_psc"), 20).over(w).as("_l120"),
      lag(col("_ps2"), 20).over(w).as("_l220"),
      lag(col("close"), 20).over(w).as("_lc20"))
    val fastNum = (col("_psc") - coalesce(col("_lf10"), lit(0.0))) * 50
    val slowNum = (col("_psc") - coalesce(col("_ls50"), lit(0.0))) * 10
    val s1 = col("_psc") - coalesce(col("_l120"), lit(0.0))
    val s2 = col("_ps2") - coalesce(col("_l220"), lit(0.0))
    val (zLo, zHi) = mrSignal(cents(col("close")), s1, s2, 20, 2.0)
    val mom = col("close") / col("_lc20") - 1
    lagged
      .withColumn("s_ma", when(col("rn") >= 50 && fastNum > slowNum, 1).otherwise(0))
      .withColumn("s_mr",
        when(col("rn") < 20, 0).when(zLo, 1).when(zHi, -1).otherwise(0))
      .withColumn("s_mo",
        when(col("rn") <= 20, 0).when(mom > 0.02, 1).when(mom < -0.02, -1).otherwise(0))
      .drop("_psc", "_ps2", "_lf10", "_ls50", "_l120", "_l220", "_lc20")
  }

  // ---- two-level (chunked) variants: identical semantics, but no task
  // ever sorts a full symbol history (graft.operators.ChunkedWindows) —
  // the scale form for histories that exceed one task's sort budget.
  // Lag values are exact copies (ghost rows); the decision prefix sums
  // run over integer cents (exact under re-association), so the chunked
  // signals EQUAL the plain variants by arithmetic — no tie caveat.

  import graft.operators.ChunkedWindows

  def maCrossChunked(bars: DataFrame, fast: Int = 10, slow: Int = 50): DataFrame = {
    // cents prefix sums are integer-valued doubles: the chunk-offset
    // re-association is EXACT below 2^53, so chunked == plain by
    // arithmetic (the float form matched "except on exact ties").
    val b = ChunkedWindows.withRnAndPrefixSums(bars, Seq(("_psc", cents(col("close")))))
    val t = ChunkedWindows.withBoundedLags(b,
      Seq(("_psc", fast, "_lf"), ("_psc", slow, "_ls")))
    val fastNum = (col("_psc") - coalesce(col("_lf"), lit(0.0))) * slow
    val slowNum = (col("_psc") - coalesce(col("_ls"), lit(0.0))) * fast
    t.withColumn("signal",
        when(col("rn") >= slow && fastNum > slowNum, 1).otherwise(0))
      .drop("_psc", "_lf", "_ls")
  }

  def meanReversionChunked(bars: DataFrame, window: Int = 20,
                           numStd: Double = 2.0): DataFrame = {
    val b = ChunkedWindows.withRnAndPrefixSums(bars,
      Seq(("_ps1", cents(col("close"))),
          ("_ps2", cents(col("close")) * cents(col("close")))))
    val t = ChunkedWindows.withBoundedLags(b,
      Seq(("_ps1", window, "_l1"), ("_ps2", window, "_l2")))
    val s1 = col("_ps1") - coalesce(col("_l1"), lit(0.0))
    val s2 = col("_ps2") - coalesce(col("_l2"), lit(0.0))
    val (zLo, zHi) = mrSignal(cents(col("close")), s1, s2, window, numStd)
    t.withColumn("signal",
        when(col("rn") < window, 0)
          .when(zLo, 1)
          .when(zHi, -1)
          .otherwise(0))
      .drop("_ps1", "_ps2", "_l1", "_l2")
  }

  def momentumChunked(bars: DataFrame, lookback: Int = 20,
                      threshold: Double = 0.02): DataFrame = {
    val b = ChunkedWindows.withRnAndPrefixSums(bars, Seq.empty)
    val t = ChunkedWindows.withBoundedLags(b, Seq(("close", lookback, "_lc")))
    val mom = col("close") / col("_lc") - 1
    t.withColumn("signal",
        when(col("rn") <= lookback, 0)
          .when(mom > threshold, 1)
          .when(mom < -threshold, -1)
          .otherwise(0))
      .drop("_lc")
  }
}
