package graft

import graft.backtest.{Backtester, Metrics, Signals}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

class BacktestSpec extends AnyFunSuite {
  private val spark = TestSpark.spark

  test("vectorized backtest: hand-checked positions, costs, net returns") {
    import spark.implicits._
    // bars with a precomputed signal: flat → long → flat
    val bars = Seq(
      ("A", 0L, 100.0, 0), ("A", 60000L, 110.0, 1),
      ("A", 120000L, 121.0, 1), ("A", 180000L, 121.0, 0)
    ).toDF("symbol", "bucket_ms", "close", "signal")
    val bt = Backtester.run(bars).orderBy("bucket_ms").collect()
    // t1: enters long (trade=1, cost 0.0015), lagged position 0 → strategy 0
    assert(bt(1).getAs[Double]("costs") == 0.0015)
    assert(bt(1).getAs[Double]("strategy_returns") == 0.0)
    // t2: held long through +10% bar
    assert(math.abs(bt(2).getAs[Double]("net_returns") - 0.1) < 1e-12)
    // t3: exits (trade=-1, cost) with flat price
    assert(bt(3).getAs[Double]("net_returns") == -0.0015)
    // log equity compounds net returns
    val expected = math.log(1 - 0.0015) + math.log(1.1) + math.log(1 - 0.0015)
    assert(math.abs(bt(3).getAs[Double]("log_equity") - expected) < 1e-6)
  }

  test("portfolio equity curve: no row-scale data through a single-partition window") {
    val df = SparkEntry.queries("q_portfolio_multi_asset")(spark, TestSpark.Sf)
    df.collect() // execute so AQE finalizes the plan
    val plan = df.queryExecution.executedPlan.toString
    // every unpartitioned window spec must operate on the chunk-level
    // aggregate (chunk_sum), never on the per-bucket stream
    val windowLines = plan.linesIterator.filter(_.contains("windowspecdefinition(")).toSeq
    assert(windowLines.nonEmpty)
    windowLines.foreach { l =>
      val partitioned = l.contains("windowspecdefinition(chunk#") ||
        l.contains("windowspecdefinition(symbol#")
      if (!partitioned)
        assert(l.contains("chunk_sum"),
          s"single-partition window over row-scale data:\n$l")
    }
  }

  test("signals warmup: no signal before lookback completes") {
    val bars = graft.operators.Bars.ohlcv(Tables.ticks(spark, TestSpark.Sf), 3600)
    val sig = Signals.maCrossPlain(bars, fast = 3, slow = 5)
    val early = sig.filter(col("rn") < 5).filter(col("signal") =!= 0).count()
    assert(early == 0)
  }

  test("metrics aggregate produces one row per symbol with sane bounds") {
    val bars = graft.operators.Bars.ohlcv(Tables.ticks(spark, TestSpark.Sf), 60)
    val m = Metrics.compute(Backtester.run(Signals.maCrossPlain(bars))).collect()
    assert(m.length == 5)
    m.foreach { r =>
      val mdd = r.getAs[Double]("max_drawdown")
      assert(mdd <= 0.0 && mdd >= -1.0)
      val wr = r.getAs[Double]("win_rate")
      assert(wr >= 0.0 && wr <= 1.0)
      val exp = r.getAs[Double]("exposure")
      assert(exp >= 0.0 && exp <= 1.0)
    }
  }

  test("ic decay and turnover: 9-cell grid, bounded ic, flips cross-check the ensemble votes") {
    val ic = SparkEntry.queries("q_ic_decay")(spark, TestSpark.Sf).collect()
    assert(ic.length == 9)
    val byCell = ic.map(r => (r.getAs[String]("strategy"), r.getAs[Long]("horizon")) ->
      (r.getAs[Long]("n_obs"), r.getAs[Double]("ic"))).toMap
    byCell.values.foreach { case (n, v) =>
      assert(n > 0)
      assert(v >= -1.0 && v <= 1.0)
    }
    // longer horizons lose lead rows -> n_obs non-increasing in horizon
    Seq("ma_cross", "mean_reversion", "momentum").foreach { st =>
      assert(byCell((st, 1L))._1 >= byCell((st, 10L))._1)
    }
    // turnover n_changes equals flips recomputed from the (hash-verified)
    // ensemble vote stream
    val votes = SparkEntry.queries("q_signal_ensemble")(spark, TestSpark.Sf)
      .collect().map(r => (r.getAs[String]("symbol"), r.getAs[Long]("bucket_ms"),
        r.getAs[Int]("s1").toLong))
      .sortBy(t => (t._1, t._2))
    val flips = votes.groupBy(_._1).map { case (sym, rows) =>
      sym -> rows.map(_._3).sliding(2).count(p => p.length == 2 && p(0) != p(1)).toLong
    }
    val turn = SparkEntry.queries("q_signal_turnover")(spark, TestSpark.Sf)
      .collect().filter(_.getAs[String]("strategy") == "ma_cross")
      .map(r => r.getAs[String]("symbol") -> r.getAs[Long]("n_changes")).toMap
    assert(turn == flips)
  }

  test("corr matrix: full upper triangle, unit diagonal, bounded values") {
    val out = graft.backtest.MarketStatsPack.queries("q_corr_matrix")(
      spark, TestSpark.Sf).collect()
    val syms = out.map(_.getAs[String]("sym1")).distinct.sorted
    val n = syms.length
    assert(out.length == n * (n + 1) / 2, "one row per unordered pair")
    out.foreach { r =>
      val (a, b, c) = (r.getAs[String]("sym1"), r.getAs[String]("sym2"),
        r.getAs[Double]("corr"))
      assert(a <= b)
      assert(c >= -1.0 - 1e-6 && c <= 1.0 + 1e-6, s"$a/$b corr=$c")
      if (a == b) assert(c == 1.0, s"diagonal $a corr=$c")
      assert(r.getAs[Long]("n_obs") > 0)
    }
  }
}
