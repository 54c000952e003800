package graft.backtest

import graft.{QueryPack, Tables}
import graft.functions.Port
import graft.operators.Bars
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Remaining strategy/risk surface: buy&hold, ensemble voting, bounded-
  * window EMA/MACD, fixed-risk sizing, trailing stops.
  * Reference: strategy.py:195 (BuyAndHoldStrategy), ml_strategy.py:312
  * (EnsembleStrategy), ml_strategy.py:150 (MACD features),
  * risk_monitor.py:385 (fixed_risk_sizing), risk_monitor.py:415
  * (StopLossManager).
  */
object ExtrasPack extends QueryPack {

  private def bars1m(s: SparkSession, d: String): DataFrame =
    Bars.ohlcvCached(s, d, 60)

  /** Session-memoized fused three-signal frame (Signals.allThreePlain
    * over 1-min bars) — q_signal_ensemble and q_strategy_comparison both
    * consume it; one window pass per session instead of one per query.
    */
  private def allThreeCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("ExtrasPack.allThree", s, d)(
      graft.Memo.pin(Signals.allThreePlain(bars1m(s, d))))

  /** Strategy suffixes of the wide three-strategy frame. */
  private val StratSfx =
    Seq("ma_cross" -> "s_ma", "mean_reversion" -> "s_mr", "momentum" -> "s_mo")

  /** Session-memoized WIDE three-strategy backtest frame: positions,
    * net returns, log equity, running peak and drawdown for all three
    * strategies as column families over the single per-symbol sort
    * (the window-layered chain q_strategy_comparison built per call
    * before r15). Caching it makes the comparison one hash agg + stack
    * over bar-scale cached rows; the frame is the natural read surface
    * for any cross-strategy analysis (turnover, attribution).
    */
  private def wideThreeCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("ExtrasPack.wideThree", s, d) {
      val w = Window.partitionBy("symbol").orderBy("bucket_ms")
      val cum = w.rowsBetween(Window.unboundedPreceding, 0)
      val lagLayer = allThreeCached(s, d).select(
        col("*") +:
          Backtester.returnsExpr(col("close"), lag(col("close"), 1).over(w)).as("returns") +:
          StratSfx.map { case (x, sc) =>
            lag(col(sc).cast("double"), 1).over(w).as(s"prev_pos_$x")
          }: _*)
      val netLayer = lagLayer.select(
        col("*") +: StratSfx.flatMap { case (x, sc) =>
          val pos = col(sc).cast("double")
          val prev = col(s"prev_pos_$x")
          val net = Backtester.stratRetExpr(prev, col("returns")) -
            Backtester.costExpr(pos, prev, Backtester.DefaultCostRate)
          Seq(pos.as(s"position_$x"), net.as(s"net_$x"))
        }: _*)
      val eqLayer = netLayer.select(
        col("*") +: StratSfx.map { case (x, _) =>
          Backtester.logEquityExpr(col(s"net_$x"), cum).as(s"log_equity_$x")
        }: _*)
      val peakLayer = eqLayer.select(
        col("*") +: StratSfx.map { case (x, _) =>
          max(col(s"log_equity_$x")).over(cum).as(s"peak_$x")
        }: _*)
      graft.Memo.pin(peakLayer.select(
        col("*") +: StratSfx.map { case (x, _) =>
          (exp(col(s"log_equity_$x") - col(s"peak_$x")) - 1).as(s"dd_$x")
        }: _*))
    }

  /** EMA via a bounded 60-tap weighted sum of window lags — one sort per
    * symbol, no join (a rank-range self-join explodes to |bars|² per
    * symbol before its range filter). The tap sums are fixed-order `+`
    * chains, so both engines compute bit-identical doubles. This is the
    * set-level form of pandas ewm(span) with adjusted weights truncated at
    * 60 lags (residual tail weight ~1% at span 26, ~5e-5 at span 12);
    * exact-infinite EWM is streaming state.
    */
  private[backtest] val EmaTaps = 60

  private[backtest] case class EmaBar(symbol: String, bucket_ms: Long, close: Double)
  private[backtest] case class EmaOut(symbol: String, bucket_ms: Long, ema12: Double, ema26: Double)

  private[backtest] case class CentBar(symbol: String, bucket_ms: Long, cents: Long)
  private[backtest] case class EwmaOut(symbol: String, bucket_ms: Long, v: Double)

  /** RiskMetrics EWMA variance of minute-bar cent changes: σ²_t =
    * Σ_{k<m} λ^k·r²_{t−k} / Σ_{k<m} λ^k with λ = 0.94, truncated at the
    * same 60 taps as [[emaCols]] (residual tail weight λ^60 ≈ 2.4%) and
    * normalized by the populated weight mass so early bars are unbiased.
    * Same ring-buffer scan + fixed-k-order float sum as the EMA — the
    * oracle's explicit lag-chain adds the identical doubles in the
    * identical order. r² inputs are exact integer cent² values.
    */
  /** EWMA weights λ^k quantized to exact 2^20 integer units, k <
    * EmaTaps, plus the cumulative masses Σ_{k<m}. Quantized-integer
    * weights make the whole EWMA numerator an EXACT integer sum —
    * measured: DuckDB reassociates a 60-term float `+` chain (its
    * literal chain differed from the left-fold by 1 ulp), and at this
    * magnitude a 1e-6 snap boundary sits inside that noise, so only an
    * integer formulation is engine-portable (the windowed-float-sum
    * rule, constant-weights edition).
    */
  private[backtest] def quantWeights(lambda: Double): (Array[Long], Array[Long]) = {
    val w = Array.tabulate(EmaTaps)(k => math.round(math.pow(lambda, k) * (1L << 20)))
    (w, w.scanLeft(0L)(_ + _))
  }

  private def ewmaVarScan(s: SparkSession, d: String, lambda: Double): DataFrame = {
    import s.implicits._
    val (w, dens) = quantWeights(lambda)
    val ds = bars1m(s, d)
      .select(col("symbol"), col("bucket_ms"),
        floor(col("close") * 100 + lit(0.5)).cast("long").as("cents")).as[CentBar]
    graft.operators.SortedScan.perKey(ds, Seq("symbol"), Seq("bucket_ms"))(_.symbol) {
      (sym, it) =>
        val buf = new Array[Long](EmaTaps)
        var n = 0L
        var prev = Long.MinValue
        it.flatMap { b =>
          if (prev == Long.MinValue) { prev = b.cents; Iterator.empty }
          else {
            val dpc = b.cents - prev
            prev = b.cents
            buf((n % EmaTaps).toInt) = dpc * dpc
            n += 1
            val m = math.min(n, EmaTaps.toLong).toInt
            val newest = ((n - 1) % EmaTaps).toInt
            var acc = 0L
            var k = 0
            while (k < m) {
              acc = acc + buf((newest - k + EmaTaps) % EmaTaps) * w(k)
              k += 1
            }
            Iterator.single(EwmaOut(sym, b.bucket_ms, acc.toDouble / dens(m).toDouble))
          }
        }
    }.toDF()
  }

  /** Ring-buffer secondary-sort scan: each row costs O(taps) flops over
    * the last 60 closes held in a fixed 60-slot ring — no 60-element
    * array materialized per row (the r02 collect_list sliding frame
    * built 80k of them at sf0.1 and evaluated a 120-term projection).
    * The tap sum runs in the SAME k-order, left-associated, with the
    * same Scala-computed weight constants as the oracle's explicit
    * lag-chain — bit-identical doubles (skipping the unpopulated taps is
    * exact: acc + 0.0·w == acc for the positive sums here). Sequential
    * per symbol, parallel across symbols; at scale the scan streams —
    * state is 60 doubles however long the history.
    */
  private def emaCols(bars: DataFrame, spans: Seq[Int]): DataFrame = {
    val spark = bars.sparkSession
    import spark.implicits._
    val weights = spans.map { span =>
      val beta = 1.0 - 2.0 / (span + 1)
      (beta, Array.tabulate(EmaTaps)(k => math.pow(beta, k)))
    }.toArray
    val ds = bars.select(col("symbol"), col("bucket_ms"), col("close")).as[EmaBar]
    graft.operators.SortedScan.perKey(ds, Seq("symbol"), Seq("bucket_ms"))(_.symbol) {
      (sym, it) =>
        val buf = new Array[Double](EmaTaps)
        var n = 0L
        val out = new Array[Double](weights.length)
        it.map { b =>
          buf((n % EmaTaps).toInt) = b.close
          n += 1
          val m = math.min(n, EmaTaps.toLong).toInt
          val newest = ((n - 1) % EmaTaps).toInt
          var s = 0
          while (s < weights.length) {
            val (beta, w) = weights(s)
            var acc = 0.0
            var k = 0
            while (k < m) {
              acc = acc + buf((newest - k + EmaTaps) % EmaTaps) * w(k)
              k += 1
            }
            // weight mass of the populated lags in closed form:
            // Σ_{k<min(rn,taps)} β^k = (1 − β^min(rn,taps)) / (1 − β)
            out(s) = acc / ((1.0 - math.pow(beta, m.toDouble)) / (1.0 - beta))
            s += 1
          }
          EmaOut(sym, b.bucket_ms, out(0), out(1))
        }
    }.toDF()
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ewma_vol" -> ((s, d) =>
      ewmaVarScan(s, d, 0.94)
        .select(col("symbol"), col("bucket_ms"),
          Port.r(col("v"), 6).as("ewma_var_cents2"),
          Port.r(sqrt(col("v")), 6).as("ewma_vol_cents"))
        .orderBy("symbol", "bucket_ms")),
    "q_signal_buy_hold" -> ((s, d) =>
      Signals.withRn(bars1m(s, d))
        .select(col("symbol"), col("bucket_ms"), col("close"), lit(1).as("signal"))
        .orderBy("symbol", "bucket_ms")),
    "q_ic_decay" -> ((s, d) => {
      // Information-coefficient decay: pooled Pearson corr of each raw
      // signal vs the forward cent move at horizons 1/5/10 bars — the
      // signal-evaluation table read before q_strategy_comparison.
      // Signals are exact ±1/0 ints and forward moves exact cent
      // diffs, so ALL co-moments are exact decimal(38,0)/HUGEINT sums;
      // constant-signal cells pin ic = 0 (no NaN divergence). One
      // WindowExec carries all three leads; stack melts strategy and
      // horizon so ONE moment aggregate serves the 9 cells.
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val w = Window.partitionBy("symbol").orderBy("bucket_ms")
      val f = allThreeCached(s, d)
        .withColumn("cents", floor(col("close") * 100 + lit(0.5)).cast("long"))
        .select(col("symbol"), col("bucket_ms"),
          col("s_ma").cast("long").as("x1"), col("s_mr").cast("long").as("x2"),
          col("s_mo").cast("long").as("x3"),
          (lead(col("cents"), 1).over(w) - col("cents")).as("f1"),
          (lead(col("cents"), 5).over(w) - col("cents")).as("f5"),
          (lead(col("cents"), 10).over(w) - col("cents")).as("f10"))
      f.selectExpr("symbol",
        "stack(3, 'ma_cross', x1, 'mean_reversion', x2, 'momentum', x3) AS (strategy, x)",
        "f1", "f5", "f10")
        .selectExpr("strategy", "x",
          "stack(3, 1L, f1, 5L, f5, 10L, f10) AS (horizon, y)")
        .filter(col("y").isNotNull)
        .groupBy("strategy", "horizon")
        .agg(count(lit(1)).as("n_obs"),
          sum(col("x").cast(dec38)).as("sx"),
          sum(col("y").cast(dec38)).as("sy"),
          sum((col("x") * col("y")).cast(dec38)).as("sxy"),
          sum((col("x") * col("x")).cast(dec38)).as("sxx"),
          sum((col("y") * col("y")).cast(dec38)).as("syy"))
        .withColumn("nd", col("n_obs").cast(dec38))
        .withColumn("num", col("nd") * col("sxy") - col("sx") * col("sy"))
        .withColumn("dxx", col("nd") * col("sxx") - col("sx") * col("sx"))
        .withColumn("dyy", col("nd") * col("syy") - col("sy") * col("sy"))
        .withColumn("ic", when(col("dxx") === 0 || col("dyy") === 0, lit(0.0))
          .otherwise(Port.r(col("num").cast("double") /
            sqrt(col("dxx").cast("double") * col("dyy").cast("double")), 6)))
        .select("strategy", "horizon", "n_obs", "ic")
        .orderBy("strategy", "horizon")
    }),
    "q_signal_turnover" -> ((s, d) => {
      // Signal turnover per (symbol, strategy): mean |Δsignal| and flip
      // count — the trading-cost burden read next to q_ic_decay (an IC
      // that doesn't clear the turnover cost is not a signal). Exact
      // integer sums, one division.
      val w2 = Window.partitionBy("symbol", "strategy").orderBy("bucket_ms")
      allThreeCached(s, d).selectExpr("symbol", "bucket_ms",
        """stack(3, 'ma_cross', CAST(s_ma AS LONG),
          |'mean_reversion', CAST(s_mr AS LONG),
          |'momentum', CAST(s_mo AS LONG)) AS (strategy, x)""".stripMargin)
        .withColumn("dx", abs(col("x") - lag("x", 1).over(w2)))
        .groupBy("symbol", "strategy")
        .agg(count(lit(1)).as("n_bars"),
          sum(when(col("dx") > 0, 1L).otherwise(0L)).as("n_changes"),
          coalesce(sum("dx"), lit(0L)).as("s_dx"))
        .withColumn("turnover",
          col("s_dx").cast("double") / col("n_bars").cast("double"))
        .select("symbol", "strategy", "n_bars", "n_changes", "turnover")
        .orderBy("symbol", "strategy")
    }),
    "q_signal_ensemble" -> ((s, d) =>
      // one fused window pass for all three member signals — the old
      // three-pipeline + two-join form re-sorted the same bars thrice
      allThreeCached(s, d)
        .select(col("symbol"), col("bucket_ms"),
          col("s_ma").as("s1"), col("s_mr").as("s2"), col("s_mo").as("s3"))
        .withColumn("vote", col("s1") + col("s2") + col("s3"))
        .withColumn("signal",
          when(col("vote") >= 2, 1).when(col("vote") <= -2, -1).otherwise(0))
        .select("symbol", "bucket_ms", "s1", "s2", "s3", "signal")
        .orderBy("symbol", "bucket_ms")),
    "q_ema_macd" -> ((s, d) =>
      emaCols(bars1m(s, d), Seq(12, 26))
        .withColumn("macd", Port.r(col("ema12") - col("ema26"), 6))
        .select(col("symbol"), col("bucket_ms"),
          Port.r(col("ema12"), 6).as("ema12"),
          Port.r(col("ema26"), 6).as("ema26"), col("macd"))
        .orderBy("symbol", "bucket_ms")),
    "q_strategy_comparison" -> ((s, d) => {
      // the flagship backtesting workflow: every strategy × every metric
      // in one distributed pass (BacktestEngine.run over each strategy in
      // the reference). Fully WIDE: the three strategies ride the single
      // per-symbol sort as column families (bar returns computed once,
      // not once per strategy), all 3×13 metrics aggregate in ONE hash
      // agg over the bar-scale frame, and the (strategy, metrics) rows
      // come from a stack() over the symbol-level aggregate — vs the
      // stacked-union form's 3× rows through two sorts and a shuffle.
      // Formulas come from Backtester's shared expression builders and
      // Metrics.aggExprs (one definition per formula — r08), so the
      // stacked-form oracle (BtSql) pins the values unchanged.
      // Window LAYERING (r07): interleaving withColumn projections
      // between window expressions blocks Spark's CollapseWindow rule —
      // the old foldLeft chain planned ELEVEN WindowExec operators over
      // one sort, each a full row-copying pass. Same-layer window
      // expressions now share one projection, so the plan collapses to
      // the dependency-minimal THREE Window operators (lags → equity
      // cumsums → running peaks). Expressions are token-identical —
      // values and oracle unchanged.
      // the wide column-family frame is session-memoized (wideThreeCached)
      // — the comparison itself is one hash agg + stack over cached rows
      val sfx = StratSfx
      val aggs = sfx.flatMap { case (x, _) =>
        Metrics.aggExprs(col(s"net_$x"), col(s"position_$x"),
          col(s"prev_pos_$x"), col(s"dd_$x"), s"_$x")
      }
      val wide = wideThreeCached(s, d).groupBy("symbol").agg(aggs.head, aggs.tail: _*)
      val stackExpr = s"stack(${sfx.size}, " + sfx.map { case (x, _) =>
        s"'$x', " + Metrics.MetricNames.map(m => s"`${m}_$x`").mkString(", ")
      }.mkString(", ") + s") as (strategy, ${Metrics.MetricNames.mkString(", ")})"
      wide.select(col("symbol"), expr(stackExpr))
        .select(("strategy" +: "symbol" +: Metrics.MetricNames).map(col): _*)
        .orderBy("strategy", "symbol")
    }),
    "q_feature_sequences" -> ((s, d) => {
      // DL input windows (ml_strategy.py:223 create_sequences): last-10
      // close sequence per bar as fixed feature columns. One sliding
      // collect_list frame instead of 10 parallel lag processors; the
      // rn >= 10 filter keeps exactly the rows whose frame is full, so
      // f_k = lag(close, 9-k) == element_at(arr, k+1) exactly.
      val w = Window.partitionBy("symbol").orderBy("bucket_ms")
      val withArr = Signals.withRn(bars1m(s, d))
        .withColumn("_arr", collect_list(col("close")).over(w.rowsBetween(-9, 0)))
      withArr.filter(col("rn") >= 10)
        .select(Seq(col("symbol"), col("bucket_ms")) ++
          (0 until 10).map(k => element_at(col("_arr"), k + 1).as(s"f$k")): _*)
        .orderBy("symbol", "bucket_ms")
    }),
    "q_rl_state" -> ((s, d) => {
      // RL strategy state construction (ml_strategy.py:275 get_state):
      // the state at bar i is the previous 10 returns (zeros through the
      // warmup, NaN return filled with 0). The agent itself is an
      // external model — the policy stand-in is a documented
      // deterministic threshold on the state mean (the same boundary
      // treatment as Multimodal.decodeStub).
      // ONE sliding collect_list frame instead of 10 parallel lag
      // processors (the r02-documented 2× win): rows with rn > 10 have a
      // full 10-element frame, so lag(ret, j) == element_at(arr, 11-j)
      // exactly; warmup rows emit zeros before the array is consulted.
      // `ret` is coalesced (never null), so collect_list drops nothing.
      val w = Window.partitionBy("symbol").orderBy("bucket_ms")
      val rets = Signals.withRn(bars1m(s, d))
        .withColumn("ret",
          coalesce(col("close") / lag(col("close"), 1).over(w) - 1, lit(0.0)))
        .withColumn("_arr", collect_list(col("ret")).over(w.rowsBetween(-10, -1)))
      val withState = (1 to 10).foldLeft(rets) { (df, j) =>
        df.withColumn(s"s$j", when(col("rn") <= 10, 0.0)
          .otherwise(Port.r(element_at(col("_arr"), 11 - j), 8)))
      }
      val mean = (1 to 10).map(j => col(s"s$j")).reduce(_ + _) / 10
      withState
        .withColumn("action", when(col("rn") <= 10, 0)
          .when(mean > 0.0005, 1).when(mean < -0.0005, -1).otherwise(0))
        .select(Seq(col("symbol"), col("bucket_ms")) ++
          (1 to 10).map(j => col(s"s$j")) :+ col("action"): _*)
        .orderBy("symbol", "bucket_ms")
    }),
    "q_trailing_stops" -> ((s, d) =>
      // oracled via a per-symbol recursive CTE (the trailing state is
      // path-dependent — a typed per-symbol scan here); StopLossSpec
      // additionally pins the invariants
      StopLoss.run(Signals.maCrossPlain(bars1m(s, d))).toDF()
        .orderBy("symbol", "entry_ms")),
    "q_fixed_risk_sizing" -> ((s, d) => {
      // per symbol, every 100th bar: entry = close, stop = 1-min low of that
      // bar, 2% account risk, 25% max position (risk_monitor.py:385)
      val pv = 1000000.0
      Signals.withRn(bars1m(s, d))
        .filter(col("rn") % 100 === 0)
        .select(col("symbol"), col("bucket_ms"), col("close").as("entry"),
          col("low").as("stop"))
        .withColumn("price_risk", col("entry") - col("stop"))
        .withColumn("position_size",
          Port.r(when(col("price_risk") === 0, 0.0)
            .otherwise(least(lit(pv * 0.02) / col("price_risk"),
              lit(pv * 0.25) / col("entry"))), 4))
        .orderBy("symbol", "bucket_ms")
    })
  )

  /** The matching 60-term lag chain in DuckDB SQL (weights embedded as the
    * same Scala-computed double literals; left-assoc + chain like reduce).
    */
  private def emaSql(span: Int): String = {
    val alpha = 2.0 / (span + 1)
    val beta = 1.0 - alpha
    val num = (0 until EmaTaps).map { k =>
      val wt = math.pow(beta, k)
      s"(coalesce(lag(close, $k) OVER w, 0.0) * CAST($wt AS DOUBLE))"
    }.mkString(" + ")
    val den = s"(1.0 - pow(CAST($beta AS DOUBLE), CAST(least(row_number() OVER w, $EmaTaps) AS DOUBLE))) / (1.0 - CAST($beta AS DOUBLE))"
    s"($num) / ($den)"
  }

  private val RlStateSql: String = {
    val sCols = (1 to 10).map(j =>
      s"CASE WHEN rn <= 10 THEN 0.0 ELSE ${Port.rsql(s"coalesce(lag(ret, $j) OVER w, 0.0)", 8)} END AS s$j")
      .mkString(",\n       ")
    val mean = "(" + (1 to 10).map(j => s"s$j").mkString(" + ") + ") / 10"
    s"""WITH ${QueryPack.BarsCte},
       |r AS (
       |  SELECT symbol, bucket_ms,
       |         row_number() OVER w AS rn,
       |         coalesce(close / lag(close) OVER w - 1, 0.0) AS ret
       |  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ms)
       |),
       |st AS (
       |  SELECT symbol, bucket_ms, rn,
       |       $sCols
       |  FROM r WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ms)
       |)
       |SELECT symbol, bucket_ms, ${(1 to 10).map(j => s"s$j").mkString(", ")},
       |       CASE WHEN rn <= 10 THEN 0
       |            WHEN $mean > 0.0005 THEN 1
       |            WHEN $mean < -0.0005 THEN -1 ELSE 0 END AS action
       |FROM st ORDER BY symbol, bucket_ms""".stripMargin
  }

  /** Shared mirror CTE: the three raw signals per (symbol, bar) —
    * values hash-proven equal to allThreeCached's s_ma/s_mr/s_mo by
    * the q_signal_ensemble oracle. Final CTE: `votes` (keeps close
    * for downstream forward-return mirrors).
    */
  private val VotesCte: String =
    s"""${QueryPack.BarsCte},
       |sig AS (
       |  SELECT symbol, bucket_ms,
       |         row_number() OVER w AS rn,
       |         sum(floor(close * 100 + 0.5))
       |           OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS fast_c,
       |         sum(floor(close * 100 + 0.5))
       |           OVER (w ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS slow_c,
       |         sum(floor(close * 100 + 0.5))
       |           OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s1c,
       |         sum(floor(close * 100 + 0.5) * floor(close * 100 + 0.5))
       |           OVER (w ROWS BETWEEN 19 PRECEDING AND CURRENT ROW) AS s2c,
       |         lag(close, 20) OVER w AS lag20, close
       |  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ms)
       |),
       |votes AS (
       |  SELECT symbol, bucket_ms, close,
       |         -- integer-CENT ma-cross + z decisions (see BtSql.chainFromBars)
       |         CASE WHEN rn >= 50 AND fast_c * 50 > slow_c * 10 THEN 1 ELSE 0 END AS s1,
       |         CASE WHEN rn < 20 THEN 0
       |              WHEN floor(close * 100 + 0.5) * 20 - s1c < 0
       |               AND (floor(close * 100 + 0.5) * 20 - s1c) * (floor(close * 100 + 0.5) * 20 - s1c) * 19
       |                 > 80 * (s2c * 20 - s1c * s1c) THEN 1
       |              WHEN floor(close * 100 + 0.5) * 20 - s1c > 0
       |               AND (floor(close * 100 + 0.5) * 20 - s1c) * (floor(close * 100 + 0.5) * 20 - s1c) * 19
       |                 > 80 * (s2c * 20 - s1c * s1c) THEN -1 ELSE 0 END AS s2,
       |         CASE WHEN rn <= 20 THEN 0
       |              WHEN close / lag20 - 1 > 0.02 THEN 1
       |              WHEN close / lag20 - 1 < -0.02 THEN -1 ELSE 0 END AS s3
       |  FROM sig
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    // the trailing-stop state machine (risk_monitor.py:415) is
    // path-dependent, so its mirror is a per-symbol recursive CTE: the
    // working table holds one (side, entry, peak) state row per symbol
    // and advances every symbol one bar per iteration. MATERIALIZED on
    // the signal CTE is load-bearing (else DuckDB re-evaluates the
    // window chain per iteration). Double arithmetic is ordered exactly
    // as the Scala scan (left-assoc products), so equality is exact.
    "q_trailing_stops" ->
      s"""WITH RECURSIVE ${graft.QueryPack.BarsCte},
         |sig AS MATERIALIZED (
         |  SELECT symbol, bucket_ms, close,
         |         CAST(row_number() OVER w AS BIGINT) AS rn,
         |         sum(floor(close * 100 + 0.5))
         |           OVER (w ROWS BETWEEN 9 PRECEDING AND CURRENT ROW) AS fast_c,
         |         sum(floor(close * 100 + 0.5))
         |           OVER (w ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS slow_c
         |  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ms)
         |),
         |sb AS MATERIALIZED (
         |  SELECT symbol, bucket_ms, close, rn,
         |         -- integer-CENT ma-cross decision (see BtSql.chainFromBars)
         |         CASE WHEN rn >= 50 AND fast_c * 50 > slow_c * 10 THEN 1 ELSE 0 END AS signal
         |  FROM sig
         |),
         |rec AS (
         |  SELECT symbol, 0 AS rn, 0 AS side,
         |         CAST(0 AS BIGINT) AS entry_ms, CAST(0 AS DOUBLE) AS entry_px,
         |         CAST(0 AS DOUBLE) AS peak,
         |         CAST(NULL AS BIGINT) AS exit_ms, CAST(NULL AS DOUBLE) AS exit_px,
         |         CAST(NULL AS DOUBLE) AS peak_px, CAST(NULL AS VARCHAR) AS exit_reason,
         |         CAST(NULL AS BIGINT) AS t_entry_ms, CAST(NULL AS DOUBLE) AS t_entry_px
         |  FROM (SELECT DISTINCT symbol FROM sb)
         |  UNION ALL
         |  SELECT symbol, b_rn,
         |         CASE WHEN p_side = 0 THEN b_signal
         |              WHEN stop_hit OR b_signal <> p_side THEN 0
         |              ELSE p_side END AS side,
         |         CASE WHEN p_side = 0 AND b_signal <> 0 THEN b_ms ELSE p_entry_ms END AS entry_ms,
         |         CASE WHEN p_side = 0 AND b_signal <> 0 THEN b_close ELSE p_entry_px END AS entry_px,
         |         CASE WHEN p_side = 0 THEN (CASE WHEN b_signal <> 0 THEN b_close ELSE p_peak END)
         |              ELSE peak2 END AS peak,
         |         CASE WHEN p_side <> 0 AND (stop_hit OR b_signal <> p_side) THEN b_ms END AS exit_ms,
         |         CASE WHEN p_side <> 0 AND (stop_hit OR b_signal <> p_side) THEN b_close END AS exit_px,
         |         CASE WHEN p_side <> 0 AND (stop_hit OR b_signal <> p_side) THEN peak2 END AS peak_px,
         |         CASE WHEN p_side <> 0 AND stop_hit THEN 'trailing_stop'
         |              WHEN p_side <> 0 AND b_signal <> p_side THEN 'signal_exit' END AS exit_reason,
         |         CASE WHEN p_side <> 0 AND (stop_hit OR b_signal <> p_side) THEN p_entry_ms END AS t_entry_ms,
         |         CASE WHEN p_side <> 0 AND (stop_hit OR b_signal <> p_side) THEN p_entry_px END AS t_entry_px
         |  FROM (
         |    SELECT b.symbol, b.rn AS b_rn, b.bucket_ms AS b_ms, b.close AS b_close,
         |           b.signal AS b_signal,
         |           r.side AS p_side, r.entry_ms AS p_entry_ms, r.entry_px AS p_entry_px,
         |           r.peak AS p_peak,
         |           CASE WHEN r.side * b.close > r.side * r.peak THEN b.close ELSE r.peak END AS peak2,
         |           r.side * b.close <= r.side *
         |             (CASE WHEN r.side * b.close > r.side * r.peak THEN b.close ELSE r.peak END)
         |             * (1.0 - r.side * 0.02) AS stop_hit
         |    FROM rec r JOIN sb b ON b.symbol = r.symbol AND b.rn = r.rn + 1
         |  )
         |),
         |trades AS (
         |  SELECT symbol, t_entry_ms AS entry_ms, exit_ms, t_entry_px AS entry_px,
         |         exit_px, peak_px, exit_reason
         |  FROM rec WHERE exit_reason IS NOT NULL
         |),
         |last_state AS (
         |  SELECT r.symbol, r.entry_ms, b.bucket_ms AS exit_ms, r.entry_px,
         |         b.close AS exit_px, r.peak AS peak_px, 'end_of_data' AS exit_reason
         |  FROM (SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY rn DESC) AS rr
         |        FROM rec) r
         |  JOIN (SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY rn DESC) AS rr
         |        FROM sb) b ON b.symbol = r.symbol AND b.rr = 1
         |  WHERE r.rr = 1 AND r.side <> 0
         |)
         |SELECT * FROM (SELECT * FROM trades UNION ALL SELECT * FROM last_state)
         |ORDER BY symbol, entry_ms""".stripMargin,
    "q_rl_state" -> RlStateSql,
    "q_ewma_vol" -> {
      val (wq, masses) = quantWeights(0.94)
      val num = (0 until EmaTaps).map { k =>
        s"(coalesce(lag(r2, $k) OVER w, 0) * CAST(${wq(k)} AS HUGEINT))"
      }.mkString(" + ")
      val den = (1 to EmaTaps).map { m =>
        s"WHEN $m THEN ${masses(m)}"
      }.mkString(s"CASE least(row_number() OVER w, $EmaTaps) ", " ", " END")
      s"""WITH ${QueryPack.BarsCte},
         |d0 AS (
         |  SELECT symbol, bucket_ms, CAST(floor(close * 100 + 0.5) AS BIGINT) AS cents
         |  FROM bars
         |),
         |d1 AS (
         |  SELECT symbol, bucket_ms,
         |         cents - lag(cents) OVER (PARTITION BY symbol ORDER BY bucket_ms) AS dpc
         |  FROM d0
         |),
         |d2 AS (
         |  SELECT symbol, bucket_ms, dpc * dpc AS r2
         |  FROM d1 WHERE dpc IS NOT NULL
         |),
         |e AS (
         |  SELECT symbol, bucket_ms, CAST($num AS DOUBLE) / CAST($den AS DOUBLE) AS v
         |  FROM d2 WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ms)
         |)
         |SELECT symbol, bucket_ms,
         |       floor(v * 1e6 + 0.5) / 1e6 AS ewma_var_cents2,
         |       floor(sqrt(v) * 1e6 + 0.5) / 1e6 AS ewma_vol_cents
         |FROM e ORDER BY symbol, bucket_ms""".stripMargin
    },
    "q_signal_buy_hold" ->
      s"""WITH ${QueryPack.BarsCte}
         |SELECT symbol, bucket_ms, close, 1 AS signal
         |FROM bars ORDER BY symbol, bucket_ms""".stripMargin,
    "q_strategy_comparison" ->
      s"""WITH ${BtSql.StackedStrategiesWithPeakCte}
         |${BtSql.metricsSelect("strategy, symbol")}""".stripMargin,
    "q_signal_ensemble" ->
      s"""WITH $VotesCte
         |SELECT symbol, bucket_ms, s1, s2, s3,
         |       CASE WHEN s1 + s2 + s3 >= 2 THEN 1
         |            WHEN s1 + s2 + s3 <= -2 THEN -1 ELSE 0 END AS signal
         |FROM votes ORDER BY symbol, bucket_ms""".stripMargin,
    "q_ic_decay" ->
      s"""WITH $VotesCte,
         |f AS (
         |  SELECT symbol, bucket_ms, s1, s2, s3,
         |         lead(cents, 1) OVER w - cents AS f1,
         |         lead(cents, 5) OVER w - cents AS f5,
         |         lead(cents, 10) OVER w - cents AS f10
         |  FROM (SELECT *, CAST(floor(close * 100 + 0.5) AS BIGINT) AS cents FROM votes)
         |  WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ms)
         |),
         |st AS (
         |  SELECT symbol, CAST(g.strategy AS VARCHAR) AS strategy,
         |         CAST(CASE g.strategy WHEN 'ma_cross' THEN s1
         |                  WHEN 'mean_reversion' THEN s2 ELSE s3 END AS BIGINT) AS x,
         |         f1, f5, f10
         |  FROM f CROSS JOIN (SELECT unnest(
         |    ['ma_cross', 'mean_reversion', 'momentum']) AS strategy) g
         |),
         |hz AS (
         |  SELECT strategy, CAST(h.horizon AS BIGINT) AS horizon, x,
         |         CASE h.horizon WHEN 1 THEN f1 WHEN 5 THEN f5 ELSE f10 END AS y
         |  FROM st CROSS JOIN (SELECT unnest([1, 5, 10]) AS horizon) h
         |),
         |m AS (
         |  SELECT strategy, horizon, count(*) AS n_obs,
         |         sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
         |         sum(x * x) AS sxx, sum(y * y) AS syy
         |  FROM hz WHERE y IS NOT NULL GROUP BY 1, 2
         |),
         |b AS (
         |  SELECT strategy, horizon, n_obs,
         |         CAST(n_obs AS HUGEINT) * sxy - sx * sy AS num,
         |         CAST(n_obs AS HUGEINT) * sxx - sx * sx AS dxx,
         |         CAST(n_obs AS HUGEINT) * syy - sy * sy AS dyy
         |  FROM m
         |)
         |SELECT strategy, horizon, n_obs,
         |       CASE WHEN dxx = 0 OR dyy = 0 THEN 0.0 ELSE
         |         floor(CAST(num AS DOUBLE)
         |           / sqrt(CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)) * 1e6 + 0.5) / 1e6
         |       END AS ic
         |FROM b ORDER BY strategy, horizon""".stripMargin,
    "q_signal_turnover" ->
      s"""WITH $VotesCte,
         |st AS (
         |  SELECT symbol, bucket_ms, CAST(g.strategy AS VARCHAR) AS strategy,
         |         CAST(CASE g.strategy WHEN 'ma_cross' THEN s1
         |                  WHEN 'mean_reversion' THEN s2 ELSE s3 END AS BIGINT) AS x
         |  FROM votes CROSS JOIN (SELECT unnest(
         |    ['ma_cross', 'mean_reversion', 'momentum']) AS strategy) g
         |),
         |d AS (
         |  SELECT symbol, strategy,
         |         abs(x - lag(x) OVER (PARTITION BY symbol, strategy
         |           ORDER BY bucket_ms)) AS dx
         |  FROM st
         |),
         |a AS (
         |  SELECT symbol, strategy, count(*) AS n_bars,
         |         CAST(sum(CASE WHEN dx > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_changes,
         |         CAST(coalesce(sum(dx), 0) AS BIGINT) AS s_dx
         |  FROM d GROUP BY 1, 2
         |)
         |SELECT symbol, strategy, n_bars, n_changes,
         |       CAST(s_dx AS DOUBLE) / CAST(n_bars AS DOUBLE) AS turnover
         |FROM a ORDER BY symbol, strategy""".stripMargin,
    "q_ema_macd" ->
      s"""WITH ${QueryPack.BarsCte},
         |emas AS (
         |  SELECT symbol, bucket_ms,
         |         ${emaSql(12)} AS ema12,
         |         ${emaSql(26)} AS ema26
         |  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ms)
         |)
         |SELECT symbol, bucket_ms,
         |       floor(ema12 * 1e6 + 0.5) / 1e6 AS ema12,
         |       floor(ema26 * 1e6 + 0.5) / 1e6 AS ema26,
         |       floor((ema12 - ema26) * 1e6 + 0.5) / 1e6 AS macd
         |FROM emas ORDER BY symbol, bucket_ms""".stripMargin,
    "q_feature_sequences" -> {
      val lagCols = (0 until 10).map(k => s"lag(close, ${9 - k}) OVER w AS f$k").mkString(",\n         |       ")
      s"""WITH ${QueryPack.BarsCte},
         |seq AS (
         |  SELECT symbol, bucket_ms,
         |       row_number() OVER w AS rn,
         |       $lagCols
         |  FROM bars WINDOW w AS (PARTITION BY symbol ORDER BY bucket_ms)
         |)
         |SELECT symbol, bucket_ms, f0, f1, f2, f3, f4, f5, f6, f7, f8, f9
         |FROM seq WHERE rn >= 10 ORDER BY symbol, bucket_ms""".stripMargin
    },
    "q_fixed_risk_sizing" ->
      s"""WITH ${QueryPack.BarsCte},
         |rnb AS (SELECT *, row_number() OVER (PARTITION BY symbol ORDER BY bucket_ms) AS rn
         |        FROM bars)
         |SELECT symbol, bucket_ms, close AS entry, low AS stop,
         |       close - low AS price_risk,
         |       floor((CASE WHEN close - low = 0 THEN 0.0
         |              ELSE least(1000000.0 * 0.02 / (close - low),
         |                         1000000.0 * 0.25 / close) END) * 1e4 + 0.5) / 1e4 AS position_size
         |FROM rnb WHERE rn % 100 = 0 ORDER BY symbol, bucket_ms""".stripMargin
  )
}
