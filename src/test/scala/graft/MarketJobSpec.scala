package graft

import graft.backtest.{Backtester, Metrics, Signals}
import graft.etl.Cleaner
import graft.sources.MarketJob
import graft.tools.ExplainAudit
import org.apache.spark.ListenerBusAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.adaptive.ShuffleQueryStageExec
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel
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
    * (local[4], 4 shuffle partitions). Per-job overhead is most of a cold
    * summary at small scale, so an added memo pin, re-read or sort job
    * shows here as a changed count.
    */
  private val ColdSummaryJobs = 11

  test("cold summary runs a pinned number of Spark jobs, metrics read the memo without an exchange") {
    val sc = spark.sparkContext
    def coldJobs(): (Int, org.apache.spark.sql.DataFrame) = {
      cold()
      ListenerBusAccess.drain(sc)
      val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
      val l = new SparkListener {
        override def onJobStart(js: SparkListenerJobStart): Unit = jobs.incrementAndGet()
      }
      sc.addSparkListener(l)
      val df = try {
        val df = MarketJob.summary(spark, d)
        df.collect()
        ListenerBusAccess.drain(sc)
        df
      } finally sc.removeSparkListener(l)
      (jobs.get(), df)
    }
    val (n1, df) = coldJobs()
    val (n2, _) = coldJobs()
    assert(n1 == n2, s"cold job count must repeat exactly ($n1 vs $n2)")
    assert(n1 == ColdSummaryJobs, s"cold summary ran $n1 Spark jobs, pinned $ColdSummaryJobs")

    // the metrics aggregate and everything under it: the metrics windows
    // over the backtest memo's scan, with no shuffle anywhere between
    val metricsAgg = ExplainAudit.collectNodes(df.queryExecution.executedPlan).collectFirst {
      case a: BaseAggregateExec if a.output.exists(_.name == "sharpe_ratio") => a
    }
    assert(metricsAgg.nonEmpty, "no metrics aggregate in the executed plan")
    val below = ExplainAudit.collectNodes(metricsAgg.get)
    assert(below.exists {
      case s: InMemoryTableScanExec => s.output.exists(_.name == "log_equity")
      case _ => false
    }, "the metrics aggregate must read the backtest memo's InMemoryTableScan")
    val shuffles = below.filter {
      case _: ShuffleExchangeLike | _: ShuffleQueryStageExec => true
      case _ => false
    }
    assert(shuffles.isEmpty,
      s"exchange between the backtest memo and the metrics aggregate:\n${shuffles.mkString("\n")}")
  }

  /** The memos are lazy caches now, not checkpoint pins: Memo.release
    * must free them through the CacheManager, a warm call must reuse
    * them, and the tick feed must never be cached.
    */
  test("invalidateAll frees every MarketJob memo; a warm call persists nothing new") {
    val sc = spark.sparkContext
    cold()
    val before = sc.getPersistentRDDs.keySet
    val first = MarketJob.summary(spark, d).collect().toSeq
    val filled = sc.getPersistentRDDs.keySet -- before
    assert(filled.nonEmpty, "summary must fill its memos (otherwise this tests nothing)")
    val bars = MarketJob.cleanBars(spark, d)
    val bt = Backtester.run(Signals.maCrossPlain(bars))
    assert(bars.storageLevel != StorageLevel.NONE && bt.storageLevel != StorageLevel.NONE,
      "the cleaned bars and the backtest frame must be cached")
    assert(MarketJob.cleanTicks(spark, d).storageLevel == StorageLevel.NONE,
      "the tick-sized clean feed must not be cached")

    val second = MarketJob.summary(spark, d).collect().toSeq
    assert(second == first, "a warm call must return identical rows")
    assert(sc.getPersistentRDDs.keySet -- before == filled, "a warm call must persist nothing new")

    Memo.invalidateAll()
    assert(bars.storageLevel == StorageLevel.NONE && bt.storageLevel == StorageLevel.NONE,
      "invalidateAll must drop MarketJob's frames from the CacheManager")
    val leaked = filled.intersect(sc.getPersistentRDDs.keySet)
    assert(leaked.isEmpty, s"invalidateAll left ${leaked.size} RDD(s) persistent: $leaked")
  }
}
