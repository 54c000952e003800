package graft.operators

import graft.functions.Port
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Tick → OHLCV bars and resampling.
  *
  * Reference: data_processing/tick_to_ohlcv.py:69 (group_by_dynamic +
  * first/max/min/last/sum) and data_processing/resampler.py:283
  * (downsample_ohlcv). Spark-first shape: one hash aggregate keyed on
  * (symbol, bucket) — `min_by`/`max_by` pick open/close without any sort,
  * so the whole operator is a single shuffle with map-side partial
  * aggregation. Partitions by bar key, so it scales with symbols × buckets,
  * not tick count.
  *
  * `ts` is an epoch-nanosecond long; buckets travel as epoch-millis longs
  * (`bucket_ms`), computed with exact integer division. Open/high/low/close
  * are untouched input doubles (no rounding needed); volume sums are exact
  * integer-valued doubles.
  */
object Bars {

  /** Epoch-ms bucket floor of an epoch-ns `ts` column. */
  def bucketMs(seconds: Long): Column =
    (expr(s"ts div ${seconds * 1000000000L}") * (seconds * 1000L)).as("bucket_ms")

  /** OHLCV bars at `seconds` granularity from a tick feed
    * (ts[ns], symbol, price, volume). `extra` aggregates ride the same
    * hash aggregate and land after `n_trades`, so a per-symbol value the
    * feed carries (MarketJob's raw tick count) reaches the bars without a
    * join.
    */
  def ohlcv(ticks: DataFrame, seconds: Long, extra: Seq[Column] = Nil): DataFrame =
    ticks
      .groupBy(col("symbol"), bucketMs(seconds))
      .agg(
        min_by(col("price"), col("ts")).as("open"),
        Seq(
          max(col("price")).as("high"),
          min(col("price")).as("low"),
          max_by(col("price"), col("ts")).as("close"),
          sum(col("volume")).as("volume"),
          count(lit(1)).as("n_trades")
        ) ++ extra: _*
      )

  /** Session-memoized cached bars: ~20 queries derive from the same
    * tick→bars aggregate, so one materialization per (session, dataset,
    * granularity) — the engine's shared-materialized-view behavior, same
    * pattern as the memoized jaccard pairs. Cache is bars-sized
    * (symbols × buckets), never tick-sized.
    */
  def ohlcvCached(s: SparkSession, d: String, seconds: Long): DataFrame =
    // laid out for the ~30 consumers that window/aggregate by symbol over
    // bucket_ms order: partitioned by symbol, sorted by (symbol,
    // bucket_ms), so each consumer elides its Exchange+Sort (Memo.layout).
    graft.Memo.share("Bars.ohlcv", s, d, seconds)(
      graft.Memo.layout(ohlcv(graft.Tables.ticks(s, d), seconds),
        Seq("symbol"), Seq("symbol", "bucket_ms")))

  /** Downsample OHLCV bars to a coarser granularity (bars must carry
    * bucket_ms/open/high/low/close/volume).
    */
  def downsample(bars: DataFrame, seconds: Long): DataFrame = {
    val coarse = (expr(s"bucket_ms div ${seconds * 1000L}") * (seconds * 1000L)).as("bucket_ms")
    bars
      .groupBy(col("symbol"), coarse)
      .agg(
        min_by(col("open"), col("bucket_ms")).as("open"),
        max(col("high")).as("high"),
        min(col("low")).as("low"),
        max_by(col("close"), col("bucket_ms")).as("close"),
        sum(col("volume")).as("volume")
      )
  }

  /** Hourly VWAP + trade count per symbol. The money sum is snapped to its
    * exact 2-decimal value before dividing so both engines divide identical
    * doubles.
    */
  def vwapHourly(ticks: DataFrame): DataFrame =
    ticks
      .groupBy(col("symbol"), bucketMs(3600))
      .agg(
        Port.r(Port.r(sum(col("price") * col("volume")), 2) / sum(col("volume")), 4).as("vwap"),
        sum(col("volume")).as("volume"),
        count(lit(1)).as("n_trades")
      )
}
