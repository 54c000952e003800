package graft.operators

import graft.Tables
import graft.functions.Port
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Market-microstructure operators over the raw tick feed: information-
  * driven bars (dollar / volume thresholds, López de Prado, "Advances in
  * Financial Machine Learning" ch. 2), tick-rule signed order flow, and
  * Roll's implied effective spread (Roll 1984). Extends the reference's
  * time-bar resampling family (data_processing/tick_to_ohlcv.py:69,
  * resampler.py:283) with the event-driven bar clocks used on tick-scale
  * research data.
  *
  * Scale posture (SURVEY §6): every per-symbol sequential quantity is
  * computed two-level — intra-(symbol, day-chunk) windows plus a
  * dimension-scale chunk-linking window — so no symbol's full history
  * ever sorts in a single task. All running measures are EXACT integers
  * (price cents, integer volume units), so the chunked decomposition is
  * bit-identical to the flat single-window form the DuckDB oracle runs:
  * integer addition is associative, and sign/threshold comparisons on
  * exact integers cannot flip on re-association (the q_pack_contexts
  * proof pattern).
  */
object Micro {

  /** Dollar-bar threshold: a bar closes when cumulative traded value
    * crosses a multiple of $100k (10M cents) — ~40-50 ticks/bar on the
    * synthetic feed, mirroring the "avg ticks per bar" sizing rule.
    */
  def DollarBarCents: Long = graft.GraftConfig.active.dollarBarCents

  /** Volume-bar threshold: one bar per 2000 traded units. */
  def VolumeBarUnits: Long = graft.GraftConfig.active.volumeBarUnits

  /** Day chunk for the two-level windows (ts is epoch-ns). */
  val ChunkNs = 86400000000000L

  /** Smallest tick-scan size estimate (optimizer stats bytes — parquet
    * file footprint) at which [[adaptiveChunkNs]] picks the chunked form.
    */
  val ChunkedScanMinBytes: Long = 8L * 1024 * 1024

  /** Scale-adaptive chunk span for the r17 day-chunked scans
    * (q_asof_join's union-fill, the effective-spread quote basis):
    * returns [[ChunkNs]] when the tick scan's optimizer size estimate
    * crosses [[ChunkedScanMinBytes]], else -1 (single-window form).
    * Guide §2: partitioning must derive from input size, not a
    * constant tuned for local mode OR for the cluster — the chunked
    * form's carry/ghost stages cost a fixed ~0.4-0.7 s that buys
    * nothing at kB-MB feeds, and the single-window form serializes a
    * symbol's stream into one task at GB+ feeds (sf10 rehearsal: both
    * queries ~23 s flat across core counts unchunked, 3.6-5.2 s
    * chunked). Both forms are proven bit-identical (CoreSpec / MicroSpec
    * form-equality properties), so the switch can never change values,
    * only the plan shape. The estimate is driver-only plan statistics —
    * no job runs, and the reader frame is session-memoized.
    */
  def adaptiveChunkNs(s: SparkSession, d: String): Long = {
    val bytes = graft.Tables.events(s, d).queryExecution
      .optimizedPlan.stats.sizeInBytes
    if (bytes >= ChunkedScanMinBytes) ChunkNs else -1L
  }

  private val dec38 = DecimalType(38, 0)

  /** Tick frame with exact integer measures: cent-quantized price
    * (floor(p·100 + 0.5) — pure IEEE, engine-portable), integer volume
    * units, and per-tick traded value in cents. All bar/flow/spread
    * arithmetic happens on these integers; the raw double price is kept
    * only for OHLC output values.
    */
  def intTicks(s: SparkSession, d: String): DataFrame =
    Tables.ticks(s, d).select(
      col("symbol"), col("ts"), col("event_id"), col("price"),
      col("volume").cast("long").as("vol"),
      floor(col("price") * 100 + lit(0.5)).cast("long").as("cents"))
      .withColumn("dollar_c", col("cents") * col("vol"))

  /** Exclusive per-symbol running sum of `measure` (exact longs), two-
    * level: intra-chunk running sums + broadcast chunk offsets cumulated
    * through a #chunks-scale window. Equals the flat per-symbol window
    * exactly (integer associativity).
    */
  def exclCum(t: DataFrame, measure: String, chunkNs: Long = ChunkNs): DataFrame = {
    val wIn = Window.partitionBy("symbol", "_ck").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    val wc = Window.partitionBy("symbol").orderBy("_ck")
      .rowsBetween(Window.unboundedPreceding, -1)
    val base = t.withColumn("_ck", expr(s"ts div $chunkNs"))
    val offs = base.groupBy("symbol", "_ck").agg(sum(col(measure)).as("_t"))
      .select(col("symbol"), col("_ck"),
        coalesce(sum(col("_t")).over(wc), lit(0L)).as("_off"))
    base.join(broadcast(offs), Seq("symbol", "_ck"))
      .withColumn("cum_prev",
        coalesce(sum(col(measure)).over(wIn), lit(0L)) + col("_off"))
      .drop("_ck", "_off")
  }

  /** Information-driven bars: tick i belongs to bar
    * floor(exclusive_cumsum(measure) / threshold) — the bar that was
    * "open" when the tick arrived; a bar closes once its measure mass
    * reaches the threshold. OHLC by first/last tick time, exact integer
    * volume/value sums.
    */
  def thresholdBars(t: DataFrame, measure: String, threshold: Long,
                    chunkNs: Long = ChunkNs): DataFrame =
    barAgg(exclCum(t, measure, chunkNs)
      .withColumn("bar_id", expr(s"cum_prev div ${threshold}L")))

  /** Threshold bars over the session-memoized cumulative frame
    * ([[cumTicksCached]]): same values as [[thresholdBars]] — the cum
    * column IS exclCum's cum_prev for that measure, computed once per
    * session in the shared window pass instead of once per query.
    */
  def thresholdBarsCached(s: SparkSession, d: String, cumCol: String,
                          threshold: Long, chunkNs: Long = ChunkNs): DataFrame =
    barAgg(cumTicksCached(s, d, chunkNs)
      .withColumn("bar_id", expr(s"$cumCol div ${threshold}L")))

  private def barAgg(t: DataFrame): DataFrame =
    t.groupBy("symbol", "bar_id")
      .agg(count(lit(1)).as("n_ticks"),
        expr("min_by(price, ts)").as("open"),
        max("price").as("high"),
        min("price").as("low"),
        expr("max_by(price, ts)").as("close"),
        sum("vol").as("volume"),
        sum("dollar_c").as("dollar_cents"),
        min("ts").as("ts_start"),
        max("ts").as("ts_end"))
      .orderBy("symbol", "bar_id")

  /** Session-memoized cumulative tick frame: the signed-tick frame plus
    * exclusive per-symbol running sums of all three bar-clock measures —
    * traded value (dollar_c), volume units (vol), and signed volume
    * (sv = sign·vol) — from ONE shared two-level window pass (same-frame
    * sums collapse into a single WindowExec pair). Before r15
    * q_dollar_bars, q_volume_bars, q_vpin and q_obv each ran their own
    * exclCum pass over the same feed; with the shared frame each
    * consumer is one hash aggregate over cached rows. Exact integers
    * throughout, so every cum column is bit-identical to the per-query
    * exclCum it replaces.
    */
  def cumTicksCached(s: SparkSession, d: String,
                     chunkNs: Long = ChunkNs): DataFrame =
    graft.Memo.share("Micro.cumTicks", s, d, chunkNs) {
      val wIn = Window.partitionBy("symbol", "_ck").orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      val wc = Window.partitionBy("symbol").orderBy("_ck")
        .rowsBetween(Window.unboundedPreceding, -1)
      val base = signedTicksCached(s, d, chunkNs)
        .withColumn("sv", col("sign").cast("long") * col("vol"))
        .withColumn("_ck", expr(s"ts div $chunkNs"))
      val offs = base.groupBy("symbol", "_ck")
        .agg(sum(col("dollar_c")).as("_td"), sum(col("vol")).as("_tv"),
          sum(col("sv")).as("_tsv"))
        .select(col("symbol"), col("_ck"),
          coalesce(sum(col("_td")).over(wc), lit(0L)).as("_offd"),
          coalesce(sum(col("_tv")).over(wc), lit(0L)).as("_offv"),
          coalesce(sum(col("_tsv")).over(wc), lit(0L)).as("_offsv"))
      // pinned, not cached: the consumers are single hash aggregates,
      // and re-analyzing the deep tick lineage (chunk links + two window
      // layers) per execution cost more driver time than the aggregates
      // themselves
      graft.Memo.pin(base.join(broadcast(offs), Seq("symbol", "_ck"))
        .select(col("symbol"), col("ts"), col("event_id"), col("price"),
          col("vol"), col("cents"), col("dollar_c"), col("dpc"), col("dpn"),
          col("sign"), col("sv"),
          (coalesce(sum(col("dollar_c")).over(wIn), lit(0L)) + col("_offd"))
            .as("cum_dollar_prev"),
          (coalesce(sum(col("vol")).over(wIn), lit(0L)) + col("_offv"))
            .as("cum_vol_prev"),
          (coalesce(sum(col("sv")).over(wIn), lit(0L)) + col("_offsv"))
            .as("cum_sv_prev")))
    }

  /** Ticks with `dpc` = cent-price diff vs the previous tick of the same
    * symbol (global stream order, null on the symbol's first tick) and
    * the chunk-linking columns (`_ck`, `_nextfirstdpc` = the NEXT
    * chunk's first diff, for cross-boundary leads). Two-level: the
    * previous/next chunk's boundary cents come from a dimension-scale
    * chunk summary broadcast back, so the row windows stay chunk-local.
    */
  def diffedTicks(s: SparkSession, d: String, chunkNs: Long = ChunkNs): DataFrame = {
    val wRow = Window.partitionBy("symbol", "_ck").orderBy("ts", "event_id")
    val wCk = Window.partitionBy("symbol").orderBy("_ck")
    val base = intTicks(s, d).withColumn("_ck", expr(s"ts div $chunkNs"))
    // (symbol, ts) is unique in the feed (enforced upstream by the
    // normalizer's dedup); arg by ts alone, window order keeps the
    // event_id tiebreak for defense.
    val links = base.groupBy("symbol", "_ck")
      .agg(expr("max_by(cents, ts)").as("_lastc"),
        expr("min_by(cents, ts)").as("_firstc"))
      .select(col("symbol"), col("_ck"),
        lag("_lastc", 1).over(wCk).as("_prevc"),
        (lead("_firstc", 1).over(wCk) - col("_lastc")).as("_nextfirstdpc"))
    base.join(broadcast(links), Seq("symbol", "_ck"))
      .withColumn("dpc",
        col("cents") - coalesce(lag("cents", 1).over(wRow), col("_prevc")))
      // dpn = the NEXT tick's dpc (r16, for q_roll_spread's serial-cov
      // pair without a per-query window): within a chunk lead(cents) −
      // cents IS the next row's dpc (its lag(cents) is this row's cents,
      // never the _prevc fallback), and across the boundary the next
      // chunk's first dpc is exactly _nextfirstdpc — so this equals
      // lead(dpc) over the same window bit-for-bit while staying in the
      // ONE WindowExec the lag already runs (lead of the raw column, not
      // of the window-derived dpc, which would need a second layer).
      .withColumn("dpn",
        coalesce(lead("cents", 1).over(wRow) - col("cents"), col("_nextfirstdpc")))
  }

  /** Tick-rule signed order flow (the classic trade-classification rule):
    * sign = +1 on an uptick, −1 on a downtick, carried forward through
    * flat ticks; a symbol's leading undefined stretch defaults to +1.
    * Aggregated per (symbol, hour): buy/sell volume and the normalized
    * order-flow imbalance (one IEEE division of exact integer sums).
    * Carry-forward is two-level: intra-chunk last-non-null + a
    * dimension-scale chain of per-chunk closing signs.
    */
  /** Per-tick trade classification: every tick of the feed with its
    * tick-rule `sign` (+1/−1, flats carried, leading run +1). The
    * carry-forward is two-level (intra-chunk last-non-null + a
    * dimension-scale chain of per-chunk closing signs); equals the flat
    * per-symbol carry exactly (signs are exact integers).
    */
  def signedTicks(s: SparkSession, d: String, chunkNs: Long = ChunkNs): DataFrame = {
    val wRow = Window.partitionBy("symbol", "_ck").orderBy("ts", "event_id")
    val wCk = Window.partitionBy("symbol").orderBy("_ck")
    val i1 = diffedTicks(s, d, chunkNs)
      .withColumn("raw_sign", when(col("dpc") > 0, 1).when(col("dpc") < 0, -1))
    val chain = i1.groupBy("symbol", "_ck")
      .agg(expr("max_by(raw_sign, ts) FILTER (WHERE raw_sign IS NOT NULL)").as("_end"))
      .select(col("symbol"), col("_ck"),
        last(col("_end"), ignoreNulls = true)
          .over(wCk.rowsBetween(Window.unboundedPreceding, -1)).as("_chain"))
    i1
      .withColumn("_intra", last(col("raw_sign"), ignoreNulls = true)
        .over(wRow.rowsBetween(Window.unboundedPreceding, 0)))
      .join(broadcast(chain), Seq("symbol", "_ck"))
      .withColumn("sign", coalesce(col("_intra"), col("_chain"), lit(1)))
      .select("symbol", "ts", "event_id", "price", "vol", "cents",
        "dollar_c", "dpc", "dpn", "sign")
  }

  /** Session-memoized signed-tick frame: q_tick_rule_flow and q_vpin
    * both consume it, and its build is the costliest part of either
    * (chunk links + two window layers + the chain aggregate over the
    * full tick feed). One fill per (session, dir, chunk) serves both;
    * Memo owns eviction like every other session cache.
    */
  def signedTicksCached(s: SparkSession, d: String,
                        chunkNs: Long = ChunkNs): DataFrame =
    graft.Memo.share("Micro.signedTicks", s, d, chunkNs)(
      graft.Memo.pin(signedTicks(s, d, chunkNs)))

  def tickRuleFlow(s: SparkSession, d: String, chunkNs: Long = ChunkNs): DataFrame =
    signedTicksCached(s, d, chunkNs)
      .groupBy(col("symbol"),
        expr("ts div 3600000000000 * 3600000").as("bucket_ms"))
      .agg(sum(when(col("sign") === 1, col("vol")).otherwise(0L)).as("buy_vol"),
        sum(when(col("sign") === -1, col("vol")).otherwise(0L)).as("sell_vol"),
        count(lit(1)).as("n_ticks"))
      .withColumn("imbalance",
        (col("buy_vol") - col("sell_vol")).cast("double") /
          (col("buy_vol") + col("sell_vol")).cast("double"))
      .orderBy("symbol", "bucket_ms")

  /** VPIN — volume-synchronized probability of informed trading (Easley,
    * López de Prado, O'Hara 2012): the tick-rule-classified feed cut into
    * fixed-volume buckets; per bucket the absolute order-flow imbalance
    * |B−S|/V; VPIN = its trailing mean over `window` buckets. The
    * per-bucket imbalance snaps to integer micro-units BEFORE the
    * trailing window sum — DuckDB evaluates windowed float sums through
    * a segment tree (different summation order than Spark's in-order
    * frame), so only integer window sums are engine-portable. The
    * trailing window runs over the BUCKET frame (volume-bucket
    * cardinality, ~V× smaller than ticks — the bars-level window class).
    */
  def vpin(s: SparkSession, d: String, chunkNs: Long = ChunkNs,
           bucketVol: Long = VolumeBarUnits, window: Int = 10): DataFrame = {
    val b = cumTicksCached(s, d, chunkNs)
      .withColumn("bucket_id", expr(s"cum_vol_prev div ${bucketVol}L"))
      .groupBy("symbol", "bucket_id")
      .agg(sum(when(col("sign") === 1, col("vol")).otherwise(0L)).as("buy_vol"),
        sum(when(col("sign") === -1, col("vol")).otherwise(0L)).as("sell_vol"),
        min("ts").as("ts_start"), max("ts").as("ts_end"))
      .withColumn("imb_micro",
        floor(abs(col("buy_vol") - col("sell_vol")).cast("double") /
          (col("buy_vol") + col("sell_vol")).cast("double") * 1e6 + lit(0.5))
          .cast("long"))
    val w = Window.partitionBy("symbol").orderBy("bucket_id")
      .rowsBetween(-(window - 1), 0)
    b.withColumn("n_win", count(lit(1)).over(w))
      .withColumn("vpin",
        sum(col("imb_micro")).over(w).cast("double") / (col("n_win") * 1e6))
      .withColumn("imbalance", col("imb_micro") / 1e6)
      .select("symbol", "bucket_id", "buy_vol", "sell_vol",
        "ts_start", "ts_end", "imbalance", "vpin")
      .orderBy("symbol", "bucket_id")
  }

  /** Kyle's lambda (Kyle 1985): the per-symbol price-impact slope of
    * the regression Δp_t = λ·(signed volume)_t + ε over ticks — the
    * cost-model input a sizing layer reads next to q_roll_spread. x =
    * tick-rule sign × volume, y = cent diff: both exact integers, so
    * the OLS moments are exact decimal(38,0)/HUGEINT sums; λ and r²
    * are mirrored single op chains. Rides the session-memoized
    * signed-tick frame (free when flow/VPIN already ran).
    */
  def kyleLambda(s: SparkSession, d: String, chunkNs: Long = ChunkNs): DataFrame =
    signedTicksCached(s, d, chunkNs)
      .filter(col("dpc").isNotNull)
      .withColumn("x", col("sign") * col("vol"))
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_ticks"),
        sum(col("x").cast(dec38)).as("sx"),
        sum(col("dpc").cast(dec38)).as("sy"),
        sum((col("x") * col("dpc")).cast(dec38)).as("sxy"),
        sum((col("x") * col("x")).cast(dec38)).as("sxx"),
        sum((col("dpc") * col("dpc")).cast(dec38)).as("syy"))
      .withColumn("nd", col("n_ticks").cast(dec38))
      .withColumn("num", col("nd") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dxx", col("nd") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dyy", col("nd") * col("syy") - col("sy") * col("sy"))
      .withColumn("kyle_lambda",
        // zero-variance guard (mirrors q_ic_decay): constant signed flow
        // or constant diffs give dxx/dyy = 0 — pin to 0 in both engines
        when(col("dxx") === 0, lit(0.0)).otherwise(Port.r(
          col("num").cast("double") / col("dxx").cast("double"), 8)))
      .withColumn("r2",
        when(col("dxx") === 0 || col("dyy") === 0, lit(0.0)).otherwise(Port.r(
          (col("num").cast("double") * col("num").cast("double")) /
            (col("dxx").cast("double") * col("dyy").cast("double")), 6)))
      .select("symbol", "n_ticks", "kyle_lambda", "r2")
      .orderBy("symbol")

  /** Lags carried by the shared minute-bar cent-lag frame: covers the
    * variance ratio's max q (10) and the ACF's max lag + 1 (6).
    */
  val BarLags = 11

  /** Session-memoized minute-bar cent-lag frame: (symbol, bucket_ms,
    * cents, c1..c11 with c_k = lag(cents, k)) from ONE WindowExec over
    * the memoized minute bars. q_return_acf and q_variance_ratio each
    * re-sorted the bar frame and ran their own lag windows before r15;
    * both now read this frame, and their diffs (exact integer
    * subtractions of the same lag values) are bit-identical to the
    * per-query windows they replace. Bar-scale rows — the cache is the
    * bars-level footprint class, not ticks.
    */
  def barCentLagsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("Micro.barCentLags", s, d) {
      val w = Window.partitionBy("symbol").orderBy("bucket_ms")
      // pinned, as cumTicksCached: the ACF/VR aggregates read a shallow scan
      graft.Memo.pin(Bars.ohlcvCached(s, d, 60)
        .select(col("symbol"), col("bucket_ms"),
          floor(col("close") * 100 + lit(0.5)).cast("long").as("cents"))
        .select(col("symbol") +: col("bucket_ms") +: col("cents") +:
          (1 to BarLags).map(k => lag(col("cents"), k).over(w).as(s"c$k")): _*))
    }

  /** Lo-MacKinlay variance ratio VR(q) = Var(q-period diff)/(q·Var(1))
    * per symbol on minute-bar cent diffs, q ∈ {2, 5, 10} — VR < 1 flags
    * mean reversion, > 1 trending (read next to q_return_acf before
    * choosing a signal family). Population variances from exact integer
    * moments; the q=1 base variance broadcast-joins back onto the
    * (symbol × q) dimension frame; VR is mirrored IEEE ops, snapped.
    */
  def varianceRatio(s: SparkSession, d: String,
                    qs: Seq[Int] = Seq(1, 2, 5, 10)): DataFrame = {
    require(qs.max <= BarLags, s"variance-ratio q ${qs.max} exceeds BarLags $BarLags")
    // d_k = cents − lag(cents, k): read off the session-memoized cent-lag
    // frame (one WindowExec per session, shared with q_return_acf) — the
    // subtraction of exact integers is bit-identical to the per-query
    // window it replaces
    val lagged = barCentLagsCached(s, d).select(col("symbol") +: col("cents") +:
      qs.map(k => (col("cents") - col(s"c$k")).as(s"d$k")): _*)
    val stackExpr = qs.map(k => s"${k}L, d$k").mkString(", ")
    val m = lagged
      .selectExpr("symbol", s"stack(${qs.size}, $stackExpr) AS (q, y)")
      .filter(col("y").isNotNull)
      .groupBy("symbol", "q")
      .agg(count(lit(1)).as("n_periods"),
        sum(col("y").cast(dec38)).as("sy"),
        sum((col("y") * col("y")).cast(dec38)).as("syy"))
      .withColumn("nd", col("n_periods").cast(dec38))
      .withColumn("variance",
        (col("nd") * col("syy") - col("sy") * col("sy")).cast("double") /
          (col("nd") * col("nd")).cast("double"))
    val base1 = m.filter(col("q") === 1)
      .select(col("symbol"), col("variance").as("var1"))
    m.filter(col("q") =!= 1)
      .join(broadcast(base1), "symbol")
      .withColumn("vr", Port.r(col("variance") / (col("q") * col("var1")), 6))
      .select("symbol", "q", "n_periods", "vr")
      .orderBy("symbol", "q")
  }

  /** Serial autocorrelation of minute-bar close changes per symbol at
    * lags 1..`maxLag` — the mean-reversion/momentum diagnostic read
    * before picking a signal family. Exact integer co-moments of cent
    * diffs (decimal(38,0)/HUGEINT); Pearson per (symbol, lag) as one
    * division by a sqrt of exactly-derived doubles, mirrored op-for-op.
    * Windows run over BARS (the adjudicated bars-level class); one
    * WindowExec carries all five lags.
    */
  def returnAcf(s: SparkSession, d: String, maxLag: Int = 5): DataFrame = {
    require(maxLag + 1 <= BarLags, s"acf lag $maxLag exceeds BarLags ${BarLags - 1}")
    // x = cents − c1 (the 1-bar diff; null only on each symbol's first
    // bar) and its lag-k value y_k = c_k − c_{k+1}: both read off the
    // session-memoized cent-lag frame. Equal to the old filter-then-lag
    // form exactly — the filter dropped only the one null-x row per
    // symbol, so lag(x, k) over the filtered frame is x_{i−k}, which is
    // c_k − c_{k+1} at row i wherever either is defined (exact integers).
    val lagged = barCentLagsCached(s, d)
      .select(col("symbol") +: (col("cents") - col("c1")).as("x") +:
        (1 to maxLag).map(k => (col(s"c$k") - col(s"c${k + 1}")).as(s"y$k")): _*)
      .filter(col("x").isNotNull)
    val stackExpr = (1 to maxLag).map(k => s"${k}L, y$k").mkString(", ")
    val pairs = lagged
      .selectExpr("symbol", "x", s"stack($maxLag, $stackExpr) AS (lag, y)")
      .filter(col("y").isNotNull)
    pairs.groupBy("symbol", "lag")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("x").cast(dec38)).as("sx"),
        sum(col("y").cast(dec38)).as("sy"),
        sum((col("x") * col("y")).cast(dec38)).as("sxy"),
        sum((col("x") * col("x")).cast(dec38)).as("sxx"),
        sum((col("y") * col("y")).cast(dec38)).as("syy"))
      .withColumn("nd", col("n_pairs").cast(dec38))
      .withColumn("num", col("nd") * col("sxy") - col("sx") * col("sy"))
      .withColumn("dxx", col("nd") * col("sxx") - col("sx") * col("sx"))
      .withColumn("dyy", col("nd") * col("syy") - col("sy") * col("sy"))
      .withColumn("acf",
        when(col("dxx") === 0 || col("dyy") === 0, lit(0.0))
          .otherwise(Port.r(col("num").cast("double") /
            sqrt(col("dxx").cast("double") * col("dyy").cast("double")), 6)))
      .select("symbol", "lag", "n_pairs", "acf")
      .orderBy("symbol", "lag")
  }

  /** Price-impact curve: mean |Δp| per (symbol, trade-size bucket) —
    * the NONLINEAR companion of q_kyle_lambda's single slope (square-
    * root-law diagnostics read this table). Sizes bucket on the fixed
    * vol grid (vol ∈ 1..100 → decile = (vol−1) div 10); means are
    * exact integer |cent-diff| sums over counts, one division each.
    */
  def priceImpactCurve(s: SparkSession, d: String,
                       chunkNs: Long = ChunkNs): DataFrame =
    // rides the session-memoized cumulative tick frame (r16): dpc is the
    // same column diffedTicks computed, so this is one hash aggregate
    // over checkpointed rows instead of a fresh scan+links+window chain.
    cumTicksCached(s, d, chunkNs)
      .filter(col("dpc").isNotNull)
      .withColumn("size_bucket", expr("(vol - 1) div 10"))
      .groupBy("symbol", "size_bucket")
      .agg(count(lit(1)).as("n_ticks"),
        sum("vol").as("total_vol"),
        sum(abs(col("dpc"))).as("s_abs"))
      .withColumn("avg_abs_move_cents",
        col("s_abs").cast("double") / col("n_ticks").cast("double"))
      .select("symbol", "size_bucket", "n_ticks", "total_vol", "avg_abs_move_cents")
      .orderBy("symbol", "size_bucket")

  case class CusumTick(symbol: String, ts: Long, event_id: Long, cents: Long)
  case class CusumEvent(symbol: String, ts: Long, event_id: Long,
                        direction: Int, s_cents: Long, n_ticks: Long)

  /** CUSUM event filter (López de Prado AFML ch. 2.5.2.1, the
    * event-based sampling scheme): symmetric cumulative sums of cent
    * diffs, S⁺ = max(0, S⁺+Δ), S⁻ = min(0, S⁻+Δ); emit an event and
    * reset both when either crosses ±h. The reset makes the recursion
    * genuinely sequential (NOT window-expressible — the event set
    * feeds back into the state), so this is a SortedScan per symbol:
    * rows-only in the driver gate, spec-pinned against an in-test
    * sequential fold; state is three longs regardless of history
    * length, parallel across symbols.
    */
  def cusumEvents(s: SparkSession, d: String, h: Long = 20L): DataFrame = {
    import s.implicits._
    val ds = intTicks(s, d)
      .select(col("symbol"), col("ts"), col("event_id"), col("cents")).as[CusumTick]
    SortedScan.perKey(ds, Seq("symbol"), Seq("ts", "event_id"))(_.symbol) {
      (sym, it) =>
        var prev = Long.MinValue
        var sp = 0L
        var sm = 0L
        var n = 0L
        it.flatMap { t =>
          if (prev == Long.MinValue) { prev = t.cents; Iterator.empty }
          else {
            val dpc = t.cents - prev
            prev = t.cents
            n += 1
            sp = math.max(0L, sp + dpc)
            sm = math.min(0L, sm + dpc)
            if (sp >= h) {
              val e = CusumEvent(sym, t.ts, t.event_id, 1, sp, n)
              sp = 0L; sm = 0L; n = 0L
              Iterator.single(e)
            } else if (sm <= -h) {
              val e = CusumEvent(sym, t.ts, t.event_id, -1, sm, n)
              sp = 0L; sm = 0L; n = 0L
              Iterator.single(e)
            } else Iterator.empty
          }
        }
    }.toDF().orderBy("symbol", "ts", "event_id")
  }

  /** Hawkes self-exciting intensity at each tick (Hawkes 1971; the
    * order-flow-clustering diagnostic of the point-process literature):
    * λ_t = μ + α·Σ_{k≤K} exp(−Δt_k/τ) over the K most recent
    * same-symbol inter-arrival gaps, with μ = 0.1, α = 0.5, τ = 30 s,
    * K = 20. Each exp term snaps to integer micro-units BEFORE the sum
    * (transcendental portability: JVM exp and libm exp can differ by an
    * ulp, and integer chains are reassociation-proof), so the tap sum
    * is exact; λ is one mirrored op chain. NOTE this is probabilistic,
    * not a proof: the snap fixes reassociation but an exp() value
    * landing within an ulp of a .5 micro-unit boundary can still flip
    * between engines (same residual risk as the ln() taps in
    * q_zipf_slope / q_token_entropy / q_unigram_kl). Measured posture:
    * zero flips across every sf and the 10x rehearsal; the fully-proof
    * alternative is a shared integer lookup keyed on the quantized gap
    * (q_ewma_vol's quantWeights pattern), at the cost of a bounded
    * gap-domain assumption the tick feed does not satisfy. All K lags ride ONE
    * WindowExec partitioned by (symbol, day) — bounded at any corpus
    * size; a day's leading ticks simply see fewer taps (documented:
    * cross-midnight excitation is dropped, like the RV family's
    * overnight exclusion).
    */
  def hawkesIntensity(s: SparkSession, d: String, taps: Int = 20,
                      tauNs: Double = 30e9): DataFrame = {
    val w = Window.partitionBy("symbol", "_day").orderBy("ts", "event_id")
    val base = intTicks(s, d)
      .withColumn("_day", expr(s"ts div $ChunkNs"))
    val lagged = base.select(col("symbol") +: col("ts") +: col("event_id") +:
      (1 to taps).map(k => lag(col("ts"), k).over(w).as(s"t$k")): _*)
    val termCols = (1 to taps).map { k =>
      coalesce(
        floor(exp((col(s"t$k") - col("ts")).cast("double") / tauNs) * 1e6 + lit(0.5))
          .cast("long"),
        lit(0L))
    }
    val nContrib = (1 to taps).map(k =>
      when(col(s"t$k").isNotNull, 1L).otherwise(0L)).reduce(_ + _)
    lagged
      .withColumn("s_u", termCols.reduce(_ + _))
      .withColumn("n_contrib", nContrib)
      .withColumn("intensity",
        Port.r(lit(0.1) + lit(0.5) * (col("s_u").cast("double") / 1e6), 6))
      .select("symbol", "ts", "event_id", "n_contrib", "intensity")
      .orderBy("symbol", "ts", "event_id")
  }

  /** Roll's implied effective spread per symbol (Roll 1984): the serial
    * covariance of consecutive cent-price changes is −S²/4 under
    * bid-ask bounce, so S = 2·√(−cov) when cov < 0 (0 otherwise). The
    * co-moments are EXACT integer sums (decimal(38,0) at any corpus
    * size / HUGEINT in the mirror); cov is one IEEE division of exact
    * integers, snapped, and the spread derives from the SNAPPED cov on
    * both engines — no float summation order anywhere.
    */
  def rollSpread(s: SparkSession, d: String, chunkNs: Long = ChunkNs): DataFrame =
    // rides the session-memoized cumulative tick frame (r16): dpc/dpn are
    // precomputed there in the shared window pass, so the whole query is
    // one hash aggregate over checkpointed rows — the old form re-ran the
    // full diffedTicks chain (scan + chunk links + window) plus its own
    // lead window per call. dpn on the memo frame equals the old
    // lead(dpc) bit-for-bit (see diffedTicks), so the oracle is untouched.
    cumTicksCached(s, d, chunkNs)
      .filter(col("dpc").isNotNull && col("dpn").isNotNull)
      .groupBy("symbol")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("dpc").cast(dec38)).as("sx"),
        sum(col("dpn").cast(dec38)).as("sy"),
        sum((col("dpc") * col("dpn")).cast(dec38)).as("sxy"))
      .withColumn("num",
        col("n_pairs").cast(dec38) * col("sxy") - col("sx") * col("sy"))
      .withColumn("den", col("n_pairs").cast(dec38) * col("n_pairs").cast(dec38))
      .withColumn("cov_cents2",
        Port.r(col("num").cast("double") / col("den").cast("double"), 6))
      .withColumn("roll_spread_cents",
        Port.r(lit(2) * sqrt(greatest(-col("cov_cents2"), lit(0.0))), 6))
      .select("symbol", "n_pairs", "cov_cents2", "roll_spread_cents")
      .orderBy("symbol")

  /** Effective spread per (symbol, hour) from the trade feed against
    * the STRICTLY-PREVIOUS quote's midpoint — the TAQ methodology
    * (eff = 2·|p − m|/m, here reported directly as |p − m|/m in bps):
    * the quote basis is the last trade at each prior instant
    * (deterministic: max_by event_id within a tied timestamp), made
    * visible one nanosecond later so a trade never sees its own quote.
    * One AsOfJoin (single shuffle on symbol, no range explosion); the
    * per-trade bps snaps to integer micro-units BEFORE the hash
    * aggregate so the hourly mean is an exact integer sum / (n·1e6).
    * `buy_frac` classifies by the quote-rule sign(p − m).
    *
    * Reference family: data_processing/cleaner.py spread statistics
    * (q_spread_stats) — this is the trade-conditioned counterpart the
    * dashboard reads next to it.
    */
  def effectiveSpread(s: SparkSession, d: String,
                      chunkNs: Long = ChunkNs): DataFrame = {
    val t = graft.Tables.ticks(s, d)
    // ONE window pass (r16, closes the r15 q_effective_spread perf-weak
    // row): the quote side of the old AsOfJoin derives from the SAME
    // tick stream — the synthetic quote available at a trade's ts is
    // the last trade at a strictly earlier ts (max event_id within that
    // ts). That is exactly a running range-frame max_by over
    // (ts, event_id): RANGE UNBOUNDED PRECEDING TO -1 excludes the
    // current instant, and the struct ordering picks the latest
    // event_id of the latest earlier ts — bit-identical to the
    // quotes-agg + union-asof it replaces (the mirror is unchanged),
    // but one shuffle instead of three stages. Window state is O(1)
    // (incremental growing frame), same per-symbol partitioning
    // contract as AsOfJoin itself.
    // Day-chunked two-level quote basis (r17): the symbol-only range
    // window serialized each symbol's full stream in one task — ~22 s
    // wall at sf10 with IDENTICAL time on 8 and 32 cores. The running
    // max_by splits exactly: within a (symbol, day) chunk the same
    // range frame runs; the cross-chunk state is the latest
    // (ts, event_id) tick of all PRIOR chunks — a per-chunk max struct
    // cumulated by a chunk-level window (#chunks rows), joined back and
    // taken only where the intra-chunk frame is empty (a chunk's intra
    // candidate always carries a later (ts, event_id) than any carry).
    // Values bit-identical (MicroSpec compares forms); parallelism is
    // symbol x day. `chunkNs <= 0` selects the flat single-window
    // basis (the r16 shape): the carry stages cost ~0.4 s of fixed
    // exchanges that buy nothing until a symbol's stream is large
    // enough to serialize its window task — the registered query picks
    // the form from the scan's input size (adaptiveChunkNs, guide §2
    // scale-adaptive partitioning).
    val tsel = t.select(col("symbol"), col("ts"), col("event_id"), col("price"))
    val withQp = if (chunkNs <= 0) {
      val w = Window.partitionBy("symbol").orderBy(col("ts"))
        .rangeBetween(Window.unboundedPreceding, -1)
      tsel.withColumn("qp",
        max_by(col("price"), struct(col("ts"), col("event_id"))).over(w))
    } else {
      val wIntra = Window.partitionBy("symbol", "_ck").orderBy(col("ts"))
        .rangeBetween(Window.unboundedPreceding, -1)
      val wCarry = Window.partitionBy("symbol").orderBy("_ck")
        .rowsBetween(Window.unboundedPreceding, -1)
      val base = tsel.withColumn("_ck", expr(s"ts div $chunkNs"))
      val carries = base.groupBy("symbol", "_ck")
        .agg(max(struct(col("ts"), col("event_id"), col("price"))).as("_m"))
        .select(col("symbol"), col("_ck"),
          max(col("_m")).over(wCarry).getField("price").as("_carry"))
      base
        .withColumn("_qi",
          max_by(col("price"), struct(col("ts"), col("event_id"))).over(wIntra))
        .join(carries, Seq("symbol", "_ck"))
        .withColumn("qp", coalesce(col("_qi"), col("_carry")))
    }
    withQp
      .filter(col("qp").isNotNull)
      // bid/ask/mid written as the exact oracle expression sequence
      .withColumn("bid", col("qp") * 0.999)
      .withColumn("ask", col("qp") * 1.001)
      .withColumn("mid", (col("bid") + col("ask")) / 2)
      .withColumn("eff_u",
        floor(abs(col("price") - col("mid")) / col("mid") * 1e4 * 1e6 + lit(0.5))
          .cast("long"))
      .withColumn("buy", (col("price") > col("mid")).cast("long"))
      .groupBy(col("symbol"),
        expr("ts div 3600000000000 * 3600000").as("bucket_ms"))
      .agg(count(lit(1)).as("n_trades"),
        (sum(col("eff_u")).cast("double") / (count(lit(1)) * 1e6))
          .as("avg_eff_bps"),
        Port.r(sum(col("buy")).cast("double") / count(lit(1)), 6).as("buy_frac"))
      .orderBy("symbol", "bucket_ms")
  }
}
