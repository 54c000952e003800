package graftbench

import graft.{Memo, Tables}
import graft.backtest.{Backtester, Metrics, Signals}
import graft.operators.{Bars, TextPack}
import graft.sources.{CorpusJob, MarketJob}
import graft.streaming.StreamingBars
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, expr, unix_micros}
import org.apache.spark.sql.streaming.StreamingQuery
import org.apache.spark.sql.types.StructType

import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** One benchmark workload. `op` is the timed call; every other method runs
  * off the clock.
  */
trait Workload {
  /** Input rows one op processes. */
  def rowsPerOp: Long
  /** Whether to drain the ContextCleaner before each op (batch workloads). */
  def settleBetweenOps: Boolean = true
  /** One-off work before the first warm-up op. */
  def setup(): Unit = ()
  def beforeOp(i: Int): Unit = ()
  def op(i: Int): Unit
  /** Checks op i's output; false counts the op as failed. */
  def check(i: Int): Boolean
  /** Runs op i traced and returns its per-layer metrics. */
  def tracedOp(i: Int, t: Tracer): Seq[(String, Double)]
  /** Per-layer metrics measured after a traced op, outside its time. */
  def tracedExtras(t: Tracer): Seq[(String, Double)] = Nil
  /** Checks after the loop: the number of failed ops it found, plus the
    * results to compare with DuckDB (directory name -> oracle SQL) written
    * under `checkDir`.
    */
  def finish(checkDir: String): (Int, Map[String, String])
}

object Workload {
  /** Cold start of a composed job: every session memo and cached frame
    * dropped, the way a production run starts.
    */
  def invalidate(spark: SparkSession): Unit = {
    Memo.invalidateAll()
    spark.catalog.clearCache()
  }

  /** Writes collected rows as parquet for the DuckDB comparison. */
  def writeRows(spark: SparkSession, rows: Array[Row], schema: StructType, path: String): Unit =
    spark.createDataFrame(rows.toSeq.asJava, schema).coalesce(1)
      .write.mode("overwrite").parquet(path)

  def deleteTree(f: java.io.File): Unit = {
    Option(f.listFiles).foreach(_.foreach(deleteTree))
    f.delete()
  }
}

/** Holds the first op's result; later ops must reproduce it exactly. */
final class Reference {
  var rows: Array[Row] = _
  var schema: StructType = _
  def matches(r: Array[Row], s: StructType): Boolean =
    if (rows == null) { rows = r; schema = s; true } else r.sameElements(rows)
}

/** Cold MarketJob.summary: raw ticks -> validate + IQR clean -> 1-minute
  * bars -> ma-cross backtest -> per-symbol metrics. After each traced op,
  * off its clock, the warm analyst mix and one cold corpus run record the
  * per-layer metrics of those layers.
  */
final class MarketCold(spark: SparkSession, data: String, work: String) extends Workload {
  private val ref = new Reference
  private val analyst = new AnalystMix(spark, data)
  private val corpus = new CorpusRun(spark, data, work)
  private var last: DataFrame = _
  private var out: Array[Row] = _
  private var traceFailures = 0
  lazy val rowsPerOp: Long = Tables.events(spark, data).count()

  override def beforeOp(i: Int): Unit = Workload.invalidate(spark)

  def op(i: Int): Unit = {
    last = MarketJob.summary(spark, data)
    out = last.collect()
  }

  def check(i: Int): Boolean = ref.matches(out, last.schema)

  def tracedOp(i: Int, t: Tracer): Seq[(String, Double)] = {
    Workload.invalidate(spark)
    val ticks = t.span("tables.ticks")(Trace.materialize(Tables.ticks(spark, data)))
    val clean = t.span("etl.clean_ticks")(Trace.materialize(MarketJob.cleanTicks(spark, data)))
    // off the spans: the rejected ticks, counted independently of the
    // kept ones, so that in = kept + rejected is a real check
    val rejected = Tables.ticks(spark, data).select("event_id")
      .join(MarketJob.cleanTicks(spark, data).select("event_id"), Seq("event_id"), "left_anti")
      .count()
    if (ticks.rowsOut != clean.rowsOut + rejected) traceFailures += 1
    val bars = t.span("operators.bars")(Trace.materialize(MarketJob.cleanBars(spark, data)))
    val bt = Backtester.run(Signals.maCrossPlain(MarketJob.cleanBars(spark, data))).cache()
    val run = t.span("backtest.ma_cross_run")(Trace.materialize(bt))
    val met = t.span("backtest.metrics")(Trace.materialize(Metrics.compute(bt)))
    val summary = t.span("sources.market_summary") {
      op(i)
      out.length.toLong
    }
    if (!check(i)) traceFailures += 1
    val resident = Trace.residentMb(spark)
    bt.unpersist()
    Seq(ticks, clean, bars, run, met, summary).flatMap(_.metrics) ++ Seq(
      "etl.clean_ticks.rows_rejected" -> rejected.toDouble,
      "memo.resident_mb" -> resident)
  }

  /** The warm analyst mix over the memos the cold op left behind, then a
    * cold corpus run.
    */
  override def tracedExtras(t: Tracer): Seq[(String, Double)] = {
    val (queries, queriesOk) = analyst.traced(t)
    val (docs, docsOk) = corpus.traced(t)
    if (!queriesOk || !docsOk) traceFailures += 1
    queries ++ docs
  }

  def finish(checkDir: String): (Int, Map[String, String]) = {
    Workload.writeRows(spark, ref.rows, ref.schema, s"$checkDir/q_market_job_summary")
    (traceFailures, analyst.writeSample(checkDir) ++ corpus.writeSample(checkDir) +
      ("q_market_job_summary" -> graft.SparkEntry.oracleSql("q_market_job_summary")))
  }
}

/** Warm analyst queries: a fixed mix of events-only queries, one per pack
  * (Bars, Indicators, Vol, Backtest, Risk, Micro, Etl). The first pass
  * fills the session memos and records each query's reference result;
  * every later pass must reproduce it and, traced, splits each query into
  * construct (the call returns), plan (`executedPlan`) and execute.
  */
final class AnalystMix(spark: SparkSession, data: String) {
  private val packs: Seq[(String, graft.QueryPack)] = Seq(
    "bars" -> graft.operators.BarsPack,
    "indicators" -> graft.operators.IndicatorsPack,
    "vol" -> graft.operators.VolPack,
    "backtest" -> graft.backtest.BacktestPack,
    "risk" -> graft.backtest.RiskPack,
    "micro" -> graft.operators.MicroPack,
    "etl" -> graft.etl.EtlPack)

  /** The first four also have their results compared with DuckDB. */
  val mix: Seq[String] = Seq(
    "q_ohlcv_1min", "q_backtest_ma_cross", "q_realized_vol", "q_clean_outliers_iqr",
    "q_atr", "q_var_cvar", "q_kyle_lambda")
  private val oracleSample = mix.take(4)

  private val packOf: Map[String, String] = mix.map { q =>
    q -> packs.collectFirst { case (p, pack) if pack.queries.contains(q) => p }
      .getOrElse(sys.error(s"$q is in none of the analyst packs"))
  }.toMap
  private val queries = graft.SparkEntry.queries
  private val refs = mix.map(_ -> new Reference).toMap

  /** One fill pass, then one traced pass; false if a result differs. */
  def traced(t: Tracer): (Seq[(String, Double)], Boolean) = {
    val filled = mix.map { q =>
      val df = queries(q)(spark, data)
      refs(q).matches(df.collect(), df.schema)
    }
    var ok = filled.forall(identity)
    val metrics = mix.flatMap { q =>
      var df: DataFrame = null
      var rows: Array[Row] = null
      val construct = t.span("query.construct") { df = queries(q)(spark, data); 0L }
      val plan = t.span("query.plan") { df.queryExecution.executedPlan; 0L }
      val exec = t.span("query.exec") { rows = df.collect(); rows.length.toLong }
      ok &= refs(q).matches(rows, df.schema)
      val jobs = (construct.stats.jobs + plan.stats.jobs + exec.stats.jobs).toDouble
      Seq("construct_ms" -> construct.ms, "plan_ms" -> plan.ms, "exec_ms" -> exec.ms,
        "jobs" -> jobs).flatMap { case (k, v) => Seq(s"query.$k" -> v, s"query.${packOf(q)}.$k" -> v) }
    }
    (metrics, ok)
  }

  /** Writes the oracle sample's reference results, if a pass ran. */
  def writeSample(checkDir: String): Map[String, String] =
    oracleSample.filter(refs(_).rows != null).map { q =>
      Workload.writeRows(spark, refs(q).rows, refs(q).schema, s"$checkDir/$q")
      q -> graft.SparkEntry.oracleSql(q)
    }.toMap
}

/** One cold CorpusJob.run, traced: documents -> exact dedup and near-dup/
  * quality gate -> pack -> mix -> 64 shards plus a manifest, into a
  * run-scoped directory. Every run must reproduce the first run's manifest.
  */
final class CorpusRun(spark: SparkSession, data: String, work: String) {
  private val ref = new Reference
  private var runs = 0

  def traced(t: Tracer): (Seq[(String, Double)], Boolean) = {
    Workload.invalidate(spark)
    Workload.deleteTree(new java.io.File(s"$work/corpus_run_${runs - 1}"))
    val dir = s"$work/corpus_run_$runs"
    runs += 1
    def q(name: String) = TextPack.queries(name)(spark, data)
    val docs = t.span("tables.documents")(Trace.materialize(Tables.documents(spark, data)))
    val shingles = t.span("operators.shingles")(
      Trace.materialize(TextPack.shinglesCached(spark, data)))
    val pairs = t.span("operators.neardup_pairs")(Trace.materialize(q("q_dedup_ngram_jaccard")))
    val filter = t.span("operators.corpus_filter")(Trace.materialize(q("q_corpus_filter")))
    val cleaned = t.span("sources.cleaned_docs")(
      Trace.materialize(CorpusJob.cleanedDocs(spark, data)))
    val mixed = t.span("sources.mixed_layout")(
      Trace.materialize(CorpusJob.mixedLayout(spark, data)))
    var manifest: DataFrame = null
    var out: Array[Row] = null
    val write = t.span("sources.shard_write") {
      manifest = CorpusJob.run(spark, data, dir)
      out = manifest.collect()
      out.length.toLong
    }
    val metrics = Seq(docs, shingles, pairs, filter, cleaned, mixed, write).flatMap(_.metrics) ++
      Seq("operators.neardup_pairs.heavy_stage_p95_over_p50" -> pairs.heavyStageP95OverP50,
        "sources.shard_write.bytes_written" -> write.stats.bytesWritten.toDouble)
    (metrics, ref.matches(out, manifest.schema))
  }

  /** Writes the first run's manifest, if a run happened. */
  def writeSample(checkDir: String): Map[String, String] =
    if (ref.rows == null) Map.empty else {
      Workload.writeRows(spark, ref.rows, ref.schema, s"$checkDir/q_corpus_job_manifest")
      Map("q_corpus_job_manifest" -> graft.SparkEntry.oracleSql("q_corpus_job_manifest"))
    }
}

/** Closed-loop tick stream: one client adds a fixed-size batch of ticks to
  * a MemoryStream and waits until StreamingBars.bars has processed it.
  * Ticks come from the stream table in time order; once it is used up it
  * is replayed shifted by whole days, so event time keeps advancing.
  */
final class TickStream(spark: SparkSession, data: String, work: String, val rowsPerOp: Long)
    extends Workload {
  import spark.implicits._
  private type Tick = (Timestamp, String, Double, Double)
  private val DayMs = 86400000L
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val input = MemoryStream[Tick]
  private var query: StreamingQuery = _
  private var base: Array[(Long, String, Double, Double)] = _ // ts in epoch µs
  private var next: Seq[Tick] = _
  private var fed = 0

  override def settleBetweenOps: Boolean = false
  private def nBatches = (base.length / rowsPerOp).toInt

  override def setup(): Unit = {
    base = Tables.ticks(spark, data).orderBy("ts")
      .select(expr("ts div 1000"), col("symbol"), col("price"), col("volume"))
      .as[(Long, String, Double, Double)].collect()
    // exactly one micro-batch per op: no trailing no-data batches
    spark.conf.set("spark.sql.streaming.noDataMicroBatches.enabled", "false")
    query = StreamingBars.bars(input.toDF().toDF("ts", "symbol", "price", "volume"))
      .writeStream.format("memory").queryName("bench_bars").outputMode("append")
      .option("checkpointLocation", s"$work/stream_ckpt").start()
  }

  private def batch(i: Int): Seq[Tick] = {
    val shiftUs = (i / nBatches) * DayMs * 1000L
    val from = (i % nBatches) * rowsPerOp.toInt
    base.slice(from, from + rowsPerOp.toInt).toSeq.map { case (us, s, p, v) =>
      val t = new Timestamp((us + shiftUs) / 1000)
      t.setNanos(((us + shiftUs) % 1000000L).toInt * 1000)
      (t, s, p, v)
    }
  }

  override def beforeOp(i: Int): Unit = next = batch(i)

  def op(i: Int): Unit = {
    input.addData(next)
    query.processAllAvailable()
    fed = i + 1
  }

  def check(i: Int): Boolean = query.lastProgress.numInputRows == rowsPerOp

  def tracedOp(i: Int, t: Tracer): Seq[(String, Double)] = {
    beforeOp(i)
    op(i)
    val p = query.lastProgress
    val d = p.durationMs.asScala.map { case (k, v) => k -> v.toDouble }.withDefaultValue(0.0)
    val st = p.stateOperators.head
    Seq(
      "streaming.query_planning_ms" -> d("queryPlanning"),
      "streaming.add_batch_ms" -> d("addBatch"),
      "streaming.wal_commit_ms" -> d("walCommit"),
      "streaming.commit_offsets_ms" -> d("commitOffsets"),
      "streaming.state_rows_total" -> st.numRowsTotal.toDouble,
      "streaming.state_memory_mb" -> st.memoryUsedBytes / 1e6,
      "streaming.state_commit_ms" -> st.commitTimeMs.toDouble,
      "streaming.rows_out" -> st.numRowsRemoved.toDouble)
  }

  /** Batch parity: every bar the stream emitted equals Bars.ohlcv over the
    * same ticks, and every batch bar whose window closed under the last
    * watermark was emitted.
    */
  def finish(checkDir: String): (Int, Map[String, String]) = {
    val wmMs = java.time.Instant.parse(query.lastProgress.eventTime.get("watermark")).toEpochMilli
    query.stop()
    val ticks = (0 until fed).flatMap(batch).toDF("ts", "symbol", "price", "volume")
      .select(unix_micros(col("ts")) * 1000L as "ts",
        col("symbol"), col("price"), col("volume"))
    val cols = Seq("symbol", "bucket_ms", "open", "high", "low", "close", "volume", "n_trades")
    val expected = Bars.ohlcv(ticks, 60).filter(col("bucket_ms") + 60000L <= wmMs)
      .select(cols.map(col): _*).collect().toSet
    val emitted = spark.table("bench_bars").select(cols.map(col): _*).collect()
    val ok = emitted.length == emitted.toSet.size && emitted.toSet == expected && expected.nonEmpty
    println(s"stream parity: ${emitted.length} bars emitted, ${expected.size} expected, ok=$ok")
    (if (ok) 0 else fed, Map.empty)
  }
}
