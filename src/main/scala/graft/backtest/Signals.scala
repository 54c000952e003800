package graft.backtest

import graft.operators.ChunkedWindows
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
  *
  * Each rule is one [[Rule]]: the prefix sums and lags it reads and its
  * decision over them. The forms differ only in the step that adds `rn`,
  * the prefix sums and the lags: the plain forms use one (symbol,
  * bucket_ms) sort, the chunked forms [[ChunkedWindows]], which never
  * sorts a full symbol history in one task — the scale form for
  * histories that exceed one task's sort budget.
  */
object Signals {

  private def w = Window.partitionBy("symbol").orderBy("bucket_ms")

  /** Adds `rn` (1-based bar index per symbol) used for warmup cutoffs. */
  def withRn(bars: DataFrame): DataFrame =
    bars.withColumn("rn", row_number().over(w))

  /** Running (prefix) sum frame: O(1) per row, unlike a sliding
    * `rowsBetween(-(k-1), 0)` frame, which Spark re-aggregates from
    * scratch for every row (O(k) per row, no retraction support). A
    * k-bar sliding sum is the difference of two prefix sums,
    * s - coalesce(lag(s, k), 0).
    */
  private def cum = w.rowsBetween(Window.unboundedPreceding, 0)

  // ---- exact decisions (r16). Prices are cent-denominated, so
  // floor(close*100+0.5) is the exact integer both engines agree on, and
  // integer-valued doubles sum EXACTLY below 2^53 (per-symbol cent prefix
  // sums reach ~1e13 at 1e9 bars) in ANY association. The plain, chunked
  // and DuckDB forms are therefore EQUAL by arithmetic; a float decision
  // agrees only to ~n·ulp and flips bars that land on the boundary.
  private[backtest] def cents(c: Column): Column = floor(c * 100 + lit(0.5))

  /** One trading rule: the prefix sums (name, summand) and lags (source,
    * k, name) it reads, and its signal over them and `rn`. The column
    * names are parameters so the fused form can share one prefix sum
    * between rules.
    */
  private final case class Rule(sums: Seq[(String, Column)],
                                lags: Seq[(String, Int, String)], signal: Column)

  private def sliding(ps: String, lagged: String): Column =
    col(ps) - coalesce(col(lagged), lit(0.0))

  /** MA crossover: 1 while fast MA > slow MA, else 0 (strategy.py:118),
    * decided as (Σf)·slow > (Σs)·fast on cent sums — the true rational
    * MA comparison with no division.
    */
  private def maCrossRule(fast: Int, slow: Int, ps: String = "_psc",
                          lf: String = "_lf", ls: String = "_ls"): Rule = {
    val fastNum = sliding(ps, lf) * slow
    val slowNum = sliding(ps, ls) * fast
    Rule(Seq(ps -> cents(col("close"))), Seq((ps, fast, lf), (ps, slow, ls)),
      when(col("rn") >= slow && fastNum > slowNum, 1).otherwise(0))
  }

  /** Mean reversion: +1 when z < -ns, -1 when z > ns over a k-bar window
    * (strategy.py:71), decided on cent sums by the division-free
    * quadratic  dev²·(k−1) > ns²·k·(k·Σc² − (Σc)²)  where dev = k·c − Σc.
    * All terms are integer-valued doubles — exact below 2^53, i.e. for
    * prices < ~$5,300 at k=20 (generator max $560; cast to long before
    * widening the envelope). sd=0 degenerates to 0>0 = false → signal 0,
    * matching the float form's NaN-comparison behavior.
    */
  private def meanReversionRule(k: Int, ns: Double, ps1: String = "_ps1",
                                ps2: String = "_ps2", l1: String = "_l1",
                                l2: String = "_l2"): Rule = {
    val c = cents(col("close"))
    val s1 = sliding(ps1, l1)
    val s2 = sliding(ps2, l2)
    val dev = c * k - s1
    val lhs = dev * dev * (k - 1)
    val rhs = lit(ns * ns * k) * (s2 * k - s1 * s1)
    Rule(Seq(ps1 -> c, ps2 -> c * c), Seq((ps1, k, l1), (ps2, k, l2)),
      when(col("rn") < k, 0)
        .when(dev < 0 && lhs > rhs, 1)
        .when(dev > 0 && lhs > rhs, -1)
        .otherwise(0))
  }

  /** Momentum: ±1 when lookback pct-change exceeds ±threshold
    * (strategy.py:150).
    */
  private def momentumRule(lookback: Int, threshold: Double, lb: String = "_lb"): Rule = {
    val mom = col("close") / col(lb) - 1
    Rule(Seq.empty, Seq(("close", lookback, lb)),
      when(col("rn") <= lookback, 0)
        .when(mom > threshold, 1)
        .when(mom < -threshold, -1)
        .otherwise(0))
  }

  private type Step = (DataFrame, Seq[(String, Column)], Seq[(String, Int, String)]) => DataFrame

  /** Flat step over the one (symbol, bucket_ms) sort. A window function
    * can't nest inside another, so `rn` and the prefix sums go in one
    * projection and the lags of those sums in a second; raw-column lags
    * share the first when there are no sums. Each projection is one
    * WindowExec (layering, r07: a withColumn between two window
    * expressions would block CollapseWindow and plan one full-partition
    * pass per expression).
    */
  private val flat: Step = (bars, sums, lags) => {
    val first = row_number().over(w).as("rn") +:
      sums.map { case (n, c) => sum(c).over(cum).as(n) }
    val lagged = lags.map { case (src, k, n) => lag(col(src), k).over(w).as(n) }
    if (sums.isEmpty) bars.select(col("*") +: (first ++ lagged): _*)
    else bars.select(col("*") +: first: _*).select(col("*") +: lagged: _*)
  }

  /** Two-level step: lags are exact copies (ghost rows) and the prefix
    * sums are exact under the chunk-offset re-association, so the chunked
    * signals EQUAL the plain ones.
    */
  private val chunked: Step = (bars, sums, lags) =>
    ChunkedWindows.withBoundedLags(ChunkedWindows.withRnAndPrefixSums(bars, sums), lags)

  /** Adds each (column, rule) signal with one `step` over the rules'
    * shared inputs, then drops those inputs.
    */
  private def signals(step: Step, bars: DataFrame, rules: (String, Rule)*): DataFrame = {
    val sums = rules.flatMap(_._2.sums).distinctBy(_._1)
    val lags = rules.flatMap(_._2.lags)
    rules.foldLeft(step(bars, sums, lags)) { case (d, (n, r)) => d.withColumn(n, r.signal) }
      .drop(sums.map(_._1) ++ lags.map(_._3): _*)
  }

  def maCrossPlain(bars: DataFrame, fast: Int = 10, slow: Int = 50): DataFrame =
    signals(flat, bars, "signal" -> maCrossRule(fast, slow))

  def meanReversionPlain(bars: DataFrame, window: Int = 20, numStd: Double = 2.0): DataFrame =
    signals(flat, bars, "signal" -> meanReversionRule(window, numStd))

  def momentumPlain(bars: DataFrame, lookback: Int = 20, threshold: Double = 0.02): DataFrame =
    signals(flat, bars, "signal" -> momentumRule(lookback, threshold))

  /** All three production signals (default parameters) from ONE
    * per-symbol window pass — columns `s_ma`, `s_mr`, `s_mo` alongside
    * the bars, every rolling input on the single (symbol, bucket_ms) sort
    * and the cent prefix sum shared by ma-cross and mean reversion.
    */
  def allThreePlain(bars: DataFrame): DataFrame =
    signals(flat, bars,
      "s_ma" -> maCrossRule(10, 50, lf = "_lf10", ls = "_ls50"),
      "s_mr" -> meanReversionRule(20, 2.0, ps1 = "_psc", l1 = "_l120", l2 = "_l220"),
      "s_mo" -> momentumRule(20, 0.02, lb = "_lc20"))

  def maCrossChunked(bars: DataFrame, fast: Int = 10, slow: Int = 50): DataFrame =
    signals(chunked, bars, "signal" -> maCrossRule(fast, slow))

  def meanReversionChunked(bars: DataFrame, window: Int = 20,
                           numStd: Double = 2.0): DataFrame =
    signals(chunked, bars, "signal" -> meanReversionRule(window, numStd))

  def momentumChunked(bars: DataFrame, lookback: Int = 20,
                      threshold: Double = 0.02): DataFrame =
    signals(chunked, bars, "signal" -> momentumRule(lookback, threshold))
}
