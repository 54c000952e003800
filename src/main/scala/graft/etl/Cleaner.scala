package graft.etl

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Market-data cleaning: outlier removal, dedup, validation, gap fill.
  *
  * Reference: data_processing/cleaner.py (DataCleaner). Spark shapes:
  * per-symbol statistics come from one aggregate that is broadcast back
  * onto the feed (two narrow shuffles total, no per-row Python); the gap
  * fill builds the minute spine with `sequence`+`explode` so the spine is
  * generated distributed, never collected.
  */
object Cleaner {

  /** Per-symbol IQR bounds (cleaner.py:21, method="iqr"); exact
    * interpolated percentiles, threshold × IQR beyond the quartiles.
    *
    * Only rows where `valid` holds enter the percentiles (`percentile`
    * skips the nulls `when` leaves), so the bounds equal those over the
    * pre-filtered feed, and a symbol with no valid row gets null bounds.
    * `extra` aggregates run over every row of the same aggregate and land
    * between `symbol` and the bounds: a caller that also needs per-symbol
    * counts of the unfiltered feed (MarketJob's raw tick count) gets them
    * without a second scan.
    */
  def iqrBounds(ticks: DataFrame, threshold: Double = graft.GraftConfig.active.outlierThreshold,
                valid: Column = lit(true), extra: Seq[Column] = Nil): DataFrame = {
    val (q1, q3) = (element_at(col("qs"), 1), element_at(col("qs"), 2))
    ticks
      .groupBy("symbol")
      .agg(percentile(when(valid, col("price")), array(lit(0.25), lit(0.75))).as("qs"), extra: _*)
      .select(col("*"),
        (q1 - (q3 - q1) * threshold).as("lo"),
        (q3 + (q3 - q1) * threshold).as("hi"))
      .drop("qs")
  }

  /** Filter ticks outside per-symbol IQR bounds; bounds side is tiny and
    * broadcast.
    */
  def removeOutliersIqr(ticks: DataFrame, threshold: Double = graft.GraftConfig.active.outlierThreshold): DataFrame = {
    val bounds = iqrBounds(ticks, threshold)
    ticks
      .join(broadcast(bounds), "symbol")
      .filter(col("price") >= col("lo") && col("price") <= col("hi"))
      .drop("lo", "hi")
  }

  /** Filter ticks with per-symbol |z| >= threshold removed
    * (cleaner.py:21, method="zscore"; sample stddev like pandas .std()).
    */
  def removeOutliersZscore(ticks: DataFrame, threshold: Double = graft.GraftConfig.active.outlierThreshold): DataFrame = {
    val stats = ticks.groupBy("symbol")
      .agg(avg(col("price")).as("mu"), stddev_samp(col("price")).as("sd"))
    ticks
      .join(broadcast(stats), "symbol")
      .filter(abs(col("price") - col("mu")) / col("sd") < threshold)
      .drop("mu", "sd")
  }

  /** Keep the earliest record per duplicate key (cleaner.py:123,
    * keep="first"): one hash aggregate, no sort.
    */
  def dedupKeepFirst(ticks: DataFrame): DataFrame =
    ticks
      .groupBy(col("user_id"), col("symbol"))
      .agg(
        // ms precision: DuckDB truncates parquet ns timestamps to µs, so
        // raw ns longs can never hash-match across engines.
        expr("min(ts) div 1000000").as("first_ts_ms"),
        min_by(col("price"), col("ts")).as("first_price"),
        count(lit(1)).as("n_dups")
      )

  /** Valid/invalid price partition counts (cleaner.py:215). */
  def validatePrices(ticks: DataFrame, minPrice: Double, maxPrice: Double): DataFrame =
    ticks
      .groupBy("symbol")
      .agg(
        sum(when(col("price") >= minPrice && col("price") <= maxPrice, 1L).otherwise(0L)).as("valid_count"),
        sum(when(col("price") < minPrice || col("price") > maxPrice, 1L).otherwise(0L)).as("invalid_count"),
        count(lit(1)).as("total")
      )

  /** Minute spine per symbol with forward-filled close (cleaner.py:171,
    * method="ffill"): the previous bracket of each spine row's gap run.
    * The `*FromRuns` forms take [[gapRuns]] already built, so the three
    * fills can share one spine.
    */
  def fillMissingMinutes(bars: DataFrame): DataFrame = ffillFromRuns(gapRuns(bars))

  private[etl] def ffillFromRuns(runs: DataFrame): DataFrame =
    runs.select(
      col("symbol"),
      col("bucket_ms"),
      col("pv").as("close_ffill"),
      (col("bucket_ms") =!= col("pt")).cast("int").as("was_missing")
    )

  /** Backward fill (cleaner.py:171, method="bfill"): next known close
    * looking forward — the gap run's next bracket; the known row itself
    * for on-spine bars. Gap rows always have a next bar (the spine ends
    * at the last known bar), so no null case.
    */
  def fillMissingBfill(bars: DataFrame): DataFrame = bfillFromRuns(gapRuns(bars))

  private[etl] def bfillFromRuns(runs: DataFrame): DataFrame =
    runs.select(
      col("symbol"),
      col("bucket_ms"),
      when(col("bucket_ms") === col("pt"), col("pv")).otherwise(col("nv")).as("close_bfill"),
      (col("bucket_ms") =!= col("pt")).cast("int").as("was_missing")
    )

  /** Time-linear interpolation (cleaner.py:171, method="interpolate" →
    * pandas interpolate(method="time")): gaps take
    * prev + (next − prev) · (t − t_prev)/(t_next − t_prev); both brackets
    * ride along on the gap-run row, so there is no window over the spine.
    */
  def fillMissingInterp(bars: DataFrame): DataFrame = interpFromRuns(gapRuns(bars))

  private[etl] def interpFromRuns(runs: DataFrame): DataFrame =
    runs.select(
      col("symbol"),
      col("bucket_ms"),
      graft.functions.Port.r(
        when(col("bucket_ms") === col("pt"), col("pv")).otherwise(
          col("pv") + (col("nv") - col("pv")) *
            (col("bucket_ms") - col("pt")).cast("double") /
            (col("nt") - col("pt")).cast("double")), 6).as("close_interp"),
      (col("bucket_ms") =!= col("pt")).cast("int").as("was_missing")
    )

  /** The minute spine as per-bar gap runs: `lead()` over the KNOWN bars
    * (a window orders of magnitude smaller than the spine) attaches each
    * bar's next bracket, then each bar explodes into its own run of
    * minutes [pt, nt). Every spine row is generated already carrying both
    * interpolation brackets, so none of the fills needs a window sort or
    * a join over the spine — the round-2 shape (spine left-join bars +
    * ascending/descending running windows) sorted the full spine up to
    * twice per query. The explode is two-level (days, then minutes within
    * the day ∩ run) so a pathological multi-year gap stays a bounded
    * 1440-element array per task, and run rows re-derive cheaply however
    * long the gap.
    */
  private[graft] def gapRuns(bars: DataFrame): DataFrame = {
    // Two-level next-bracket: lead(1) inside (symbol, day) chunk windows,
    // stitched at chunk boundaries with the first bar of the next
    // non-empty chunk (a chunk-level lead over one row per (symbol, day)
    // — #chunks-scale, not row-scale). No task ever sorts a full symbol
    // history; the stitched values are exact copies of the plain lead's,
    // so fill outputs are bit-identical.
    val w2 = Window.partitionBy("symbol", "ck").orderBy("pt")
    val wc = Window.partitionBy("symbol").orderBy("ck")
    val base = bars
      .select(col("symbol"), col("bucket_ms").as("pt"), col("close").as("pv"))
      .withColumn("ck", expr("pt div 86400000"))
    val nexts = base.groupBy("symbol", "ck")
      .agg(min_by(struct(col("pt"), col("pv")), col("pt")).as("f"))
      .withColumn("nf", lead(col("f"), 1).over(wc))
      .select(col("symbol"), col("ck"),
        col("nf.pt").as("b_nt"), col("nf.pv").as("b_nv"))
    base
      // both leads in one projection → one WindowExec (layering, r07)
      .select(col("*"),
        lead(col("pt"), 1).over(w2).as("nt"),
        lead(col("pv"), 1).over(w2).as("nv"))
      .join(nexts, Seq("symbol", "ck"))
      .withColumn("nt", coalesce(col("nt"), col("b_nt")))
      .withColumn("nv", coalesce(col("nv"), col("b_nv")))
      .drop("ck", "b_nt", "b_nv")
      .withColumn("run_end", coalesce(col("nt") - 60000L, col("pt")))
      .withColumn("day", explode(sequence(expr("pt div 86400000"), expr("run_end div 86400000"))))
      .withColumn("bucket_ms", explode(sequence(
        greatest(col("pt"), col("day") * 86400000L),
        least(col("run_end"), col("day") * 86400000L + 86340000L),
        lit(60000L))))
  }
}
