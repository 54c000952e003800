package graft

import graft.backtest.{Backtester, Metrics, Signals}
import graft.etl.Cleaner
import graft.sources.MarketJob
import graft.tools.ExplainAudit
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The composed market pipeline (raw -> validate -> IQR clean -> bars
  * -> ma-cross backtest -> metrics manifest): the DuckDB oracle proves
  * engine parity of the whole chain; these pin the COMPOSITION — the
  * manifest must equal an independent stage-by-stage assembly from the
  * registered operators themselves.
  */
class MarketJobSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val d = TestSpark.Sf

  test("summary equals an independent stage-by-stage composition") {
    val got = MarketJob.summary(spark, d).collect()
      .map(r => r.getAs[String]("symbol") -> r).toMap

    // independent assembly: the registered operators, chained by hand
    val valid = Tables.ticks(spark, d)
      .select("symbol", "ts", "event_id", "price", "volume")
      .filter(col("price") >= 10.0 && col("price") <= 180.0)
    val clean = Cleaner.removeOutliersIqr(valid) // the q_clean_outliers_iqr operator
    val bars = graft.operators.Bars.ohlcv(clean, 60)
    val met = Metrics.compute(Backtester.run(Signals.maCrossPlain(bars)))
      .collect().map(r => r.getAs[String]("symbol") -> r).toMap
    val cleanN = clean.groupBy("symbol").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val barsN = bars.groupBy("symbol").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val rawN = Tables.ticks(spark, d).groupBy("symbol")
      .agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toMap

    assert(got.keySet == met.keySet)
    got.foreach { case (sym, row) =>
      assert(row.getAs[Long]("n_raw_ticks") == rawN(sym))
      assert(row.getAs[Long]("n_clean_ticks") == cleanN(sym))
      assert(row.getAs[Long]("n_bars") == barsN(sym))
      // funnel only removes rows, in order
      assert(row.getAs[Long]("n_clean_ticks") <= row.getAs[Long]("n_raw_ticks"))
      assert(row.getAs[Long]("n_bars") <= row.getAs[Long]("n_clean_ticks"))
      // every metric column matches the independent chain bit-for-bit
      met(sym).schema.fieldNames.filterNot(_ == "symbol").foreach { c =>
        val (a, b) = (row.getAs[Any](c), met(sym).getAs[Any](c))
        assert(a == b, s"$sym.$c: $a != $b")
      }
    }
    assert(got.nonEmpty)
  }

  /** Cold state: every session memo dropped and the catalog cache
    * cleared, so nothing another suite left cached can shorten the plan.
    */
  private def cold(): Unit = {
    Memo.invalidateAll()
    spark.catalog.clearCache()
  }

  /** Spark jobs one cold `summary(...).collect()` submits under TestSpark
    * (local[4], 4 shuffle partitions): schema inference, the bounds
    * shuffle and broadcast, the bar shuffle, the symbol shuffle, the
    * one-partition shuffle and the result. Per-job overhead is most of a
    * cold summary at small scale, so an added memo fill, re-read or sort
    * job shows here as a changed count.
    */
  private val ColdSummaryJobs = 7

  test("cold summary runs a pinned number of Spark jobs as one memo-free plan") {
    def coldJobs(): (Int, org.apache.spark.sql.DataFrame) = {
      cold()
      val (df, s) = obs.span("cold summary") {
        val df = MarketJob.summary(spark, d)
        df.collect()
        df
      }
      (s.jobs, df)
    }
    val (n1, df) = coldJobs()
    val (n2, _) = coldJobs()
    assert(n1 == n2, s"cold job count must repeat exactly ($n1 vs $n2)")
    assert(n1 == ColdSummaryJobs, s"cold summary ran $n1 Spark jobs, pinned $ColdSummaryJobs")

    val nodes = ExplainAudit.collectNodes(df.queryExecution.executedPlan)
    // the bounds aggregate and the valid feed; the raw count has no scan
    val eventScans = nodes.collect {
      case s: FileSourceScanExec
          if s.relation.location.rootPaths.exists(_.getName == "events.parquet") => s
    }
    assert(eventScans.size == 2, s"events.parquet scanned ${eventScans.size} times")
    assert(!nodes.exists(_.isInstanceOf[InMemoryTableScanExec]), "the job must read no cache")

    // bars -> signal -> backtest -> metrics: one shuffle by symbol
    def aggWith(c: String) = nodes.collectFirst {
      case a: BaseAggregateExec if a.output.exists(_.name == c) => a
    }
    val (metricsAgg, barAgg) = (aggWith("sharpe_ratio"), aggWith("n_trades"))
    assert(metricsAgg.nonEmpty && barAgg.nonEmpty, "metrics or bar aggregate missing")
    val underBars = ExplainAudit.collectNodes(barAgg.get)
    val between = ExplainAudit.collectNodes(metricsAgg.get)
      .filterNot(n => underBars.exists(_ eq n)).filter(_.isInstanceOf[ShuffleExchangeLike])
    assert(between.size == 1,
      s"${between.size} shuffles between the bar and metrics aggregates:\n${between.mkString("\n")}")
  }

  test("a cold summary persists nothing, and a second call returns identical rows") {
    val sc = spark.sparkContext
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    cold()
    val before = sc.getPersistentRDDs.keySet
    assert(cacheManager.isEmpty)
    val first = MarketJob.summary(spark, d).collect().toSeq
    assert(first.nonEmpty)
    assert(sc.getPersistentRDDs.keySet == before, "a cold summary must persist no RDD")
    assert(cacheManager.isEmpty, "a cold summary must register nothing with the CacheManager")
    val second = MarketJob.summary(spark, d).collect().toSeq
    assert(second == first, "a second call must return identical rows")
  }
}
