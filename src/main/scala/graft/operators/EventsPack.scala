package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Event-stream analytics: gap sessionization, ordered funnel, as-of
  * enrichment, order-book depth. Reference: order_book.py:125-204 (book
  * views); websocket_client.py stats windows; database_writer.py:165.
  */
object EventsPack extends QueryPack {

  private def GapNs: Long = graft.GraftConfig.active.sessionGapNs // 30-minute session gap by default

  /** Session-memoized distinct (user_id, day) frame — the expensive pass
    * shared by q_dau_wau and q_dau_wau_approx (result is at most
    * |users|×|days| rows, tiny next to the event stream).
    */
  private def userDaysCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("EventsPack.userDays", s, d)(
      Tables.events(s, d)
        .select(col("user_id"), expr("ts div 86400000000000").as("day"))
        .distinct().cache())

  /** Configured funnel stage list (GraftConfig events.funnel_stages;
    * default signup→view→click→purchase). First stage is ungated; each
    * later stage only counts events strictly after the previous stage.
    */
  private def funnelStages: Vector[String] =
    graft.GraftConfig.active.funnelStages

  /** Per-user ordered funnel stage minima (the q_funnel frame):
    * user_id plus one t_<stage> column per configured stage — ONE events
    * scan, one dependent whole-user-partition window layer per stage.
    */
  private def funnelPerUser(s: SparkSession, d: String): DataFrame = {
    val stages = funnelStages
    val w = Window.partitionBy("user_id")
    def stageMin(evType: String, after: Option[org.apache.spark.sql.Column]) =
      min(when(after.foldLeft(col("event_type") === evType)(
        (p, a) => p && col("ts") > a), col("ts"))).over(w)
    val staged = stages.zipWithIndex.foldLeft(
      Tables.events(s, d).select("user_id", "event_type", "ts")) {
      case (df, (st, i)) =>
        val after = if (i == 0) None else Some(col(s"t_${stages(i - 1)}"))
        df.withColumn(s"t_$st", stageMin(st, after))
    }
    val aggs = stages.map(st => max(col(s"t_$st")).as(s"t_$st"))
    staged.groupBy("user_id").agg(aggs.head, aggs.tail: _*)
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_funnel_timing" -> ((s, d) => {
      // Inter-stage latency profile of the ordered funnel: for each
      // transition, how many users complete it and the exact p50/p90 of
      // the gap in WHOLE SECONDS (integer div of the ns difference).
      // Quantiles use the histogram rank-select (the q_length_quantiles
      // shape): aggregate to (stage × distinct gap) first — bounded by
      // the time range, never a row-scale window — then cumsum + pick
      // smallest value whose cumulative count reaches ceil(p·n). Exact
      // integers end-to-end.
      val pu = funnelPerUser(s, d)
      val stages = funnelStages
      val transitions = stages.sliding(2).zipWithIndex.collect {
        case (Vector(a, b), i) =>
          struct(lit(s"${i + 1}_${a}_to_$b").as("stage"),
            expr(s"(t_$b - t_$a) div 1000000000").as("gap_s"))
      }.toSeq
      val gaps = pu.select(explode(array(transitions: _*)).as("g"))
        .select(col("g.stage").as("stage"), col("g.gap_s").as("gap_s"))
        .filter(col("gap_s").isNotNull)
      val hist = gaps.groupBy("stage", "gap_s").agg(count(lit(1)).as("c"))
      val ws = Window.partitionBy("stage")
      hist
        .withColumn("n_users", sum(col("c")).over(ws))
        .withColumn("cum", sum(col("c")).over(ws.orderBy("gap_s")
          .rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("stage")
        .agg(max(col("n_users")).as("n_users"),
          min(when(col("cum") >= expr("(n_users + 1) div 2"),
            col("gap_s"))).as("p50_gap_s"),
          min(when(col("cum") >= expr("(9 * n_users + 9) div 10"),
            col("gap_s"))).as("p90_gap_s"),
          max(col("gap_s")).as("max_gap_s"))
        .orderBy("stage")
    }),
    "q_user_ltv" -> ((s, d) =>
      // Per-user lifetime-value ledger over the event stream: purchase
      // count and exact cent value (the reference dashboard's
      // revenue-per-user view), activity span in days, event count.
      // One hash aggregate over the events scan; money sums are exact
      // integer cents (the engine's money rule).
      Tables.events(s, d)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_events"),
          sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
            .as("n_purchases"),
          sum(when(col("event_type") === "purchase",
            floor(col("value") * 100 + lit(0.5)).cast("long")).otherwise(0L))
            .as("ltv_cents"),
          (expr("max(ts div 86400000000000)") -
            expr("min(ts div 86400000000000)") + 1).as("span_days"))
        .orderBy("user_id")),
    "q_sessionize" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("ts")
      val sess = Tables.events(s, d)
        .withColumn("gap", col("ts") - lag(col("ts"), 1).over(w))
        .withColumn("new_s", when(col("gap").isNull || col("gap") > GapNs, 1L).otherwise(0L))
        .withColumn("sid", sum(col("new_s")).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      sess.groupBy("user_id", "sid")
        .agg(count(lit(1)).as("n_ev"), expr("(max(ts) - min(ts)) div 1000000").as("dur_ms"))
        .groupBy("user_id")
        .agg(max(col("sid")).as("n_sessions"),
          sum(col("n_ev")).as("n_events"),
          max(col("n_ev")).as("max_session_events"),
          max(col("dur_ms")).as("max_session_dur_ms"))
        .orderBy("user_id")
    }),
    "q_funnel" -> ((s, d) => {
      // ONE events scan: each funnel stage is a whole-user-partition
      // conditional min over the previous stage's window output — one
      // dependent window layer per stage on one shuffle. The old
      // per-stage groupBy + join chain planned the events lineage once
      // per stage PLUS once per join probe. Semantics are identical:
      // strict `>` carries over, and a null previous stage nulls the
      // comparison, which mirrors the inner-join gating (count() skips
      // nulls). First stage counts as n_<stage>, later ones
      // n_<stage>_after (completed-after-previous).
      val perUser = funnelPerUser(s, d)
      val stages = funnelStages
      val counts = stages.zipWithIndex.map { case (st, i) =>
        count(col(s"t_$st")).as(if (i == 0) s"n_$st" else s"n_${st}_after")
      }
      perUser.agg(counts.head, counts.tail: _*)
    }),
    "q_asof_join" -> ((s, d) => {
      val left = Tables.ticks(s, d)
        .select(col("symbol"), expr("ts div 1000000").as("ts_ms"), col("price"))
      val right = Bars.ohlcvCached(s, d, 3600)
        .select(col("symbol"), (col("bucket_ms") + 3600000L).as("ts_ms"),
          col("close").as("prev_hour_close"))
      // day-chunked scan (r17): parallelism = symbol x day, not symbol —
      // the sf10 rehearsal measured the symbol-only window at ~23 s wall
      // with IDENTICAL time on 8 and 32 cores (5 single-task sorts).
      // Scale-adaptive (guide §2): the ghost-carry stages cost ~0.7 s of
      // fixed exchanges, so the chunked form engages only past the
      // configured input size — both forms are property-proven
      // bit-identical (CoreSpec), the switch cannot change values.
      AsOfJoin.backward(left, right, "symbol", "ts_ms", Seq("prev_hour_close"),
        chunkSpan =
          if (Micro.adaptiveChunkNs(s, d) > 0) Some(86400000L) else None)
        .select("symbol", "ts_ms", "price", "prev_hour_close")
        .orderBy("symbol", "ts_ms", "price")
    }),
    "q_order_book_depth" -> ((s, d) =>
      bookLevels(s, d)
        .withColumn("level_rank", row_number().over(
          Window.partitionBy("symbol", "side")
            .orderBy(when(col("side") === "buy", -col("price_level")).otherwise(col("price_level")))).cast("long"))
        .filter(col("level_rank") <= 5)
        .select("symbol", "side", "level_rank", "price_level", "total_qty", "n_orders")
        .orderBy("symbol", "side", "level_rank")),
    "q_retention_cohorts" -> ((s, d) => {
      // weekly cohort retention: users grouped by first-seen week, distinct
      // activity counted per week offset
      val wk = expr("ts div 604800000000000").as("wk") // ns → week index
      // ONE events scan: cohort week is a per-user window min (the old
      // groupBy + join-back planned the distinct activity set twice),
      // and the cohort size is the aggregated frame's own offset-0 row
      // (every user is active in their min week by definition), so the
      // sizes scan disappears too. All-integer ops — exact either way.
      val activity = Tables.events(s, d).select(col("user_id"), wk).distinct()
        .withColumn("cohort_wk", min(col("wk")).over(Window.partitionBy("user_id")))
      activity
        .groupBy(col("cohort_wk"), (col("wk") - col("cohort_wk")).as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .withColumn("cohort_size",
          max(when(col("week_offset") === 0, col("n_active")))
            .over(Window.partitionBy("cohort_wk")))
        .select((col("cohort_wk") * 604800000L).as("cohort_week_ms"),
          col("week_offset"), col("n_active"), col("cohort_size"),
          (col("n_active") / col("cohort_size")).as("retention"))
        .orderBy("cohort_week_ms", "week_offset")
    }),
    "q_dau_wau" -> ((s, d) => {
      // daily/weekly active users in ONE pass with NO distinct
      // aggregate: a (user, day) row contributes to trailing window w
      // only when it is the user's FIRST activity inside [w-6, w] —
      // i.e. w in [max(day, prev_day+7), day+6] with prev_day from one
      // lag over the user partition. That emits every (user, window)
      // pair EXACTLY once (the earliest in-window day a has a
      // predecessor < w-6, so max(a, pred+7) <= w <= a+6; any later
      // in-window day b has pred >= w-6, so its lower bound pred+7 > w),
      // making WAU a plain count and DAU the d == day rows (each
      // (user, day) is distinct in the memoized frame). When prev_day
      // pushes the window range past `day`, the self-day is prepended
      // flagged dau-only (d < lo). vs the previous countDistinct form
      // the shuffle drops from 7n expanded pairs (two-phase distinct)
      // to n rows (the lag window) + map-side-combined counts — the
      // shape that matters when user-days are 10^11. Window-days with
      // no actual activity (dau = 0 ghosts) drop out as before; same
      // values by construction, so the oracle is unchanged.
      // [[dauWauApprox]] stays the bounded-state production variant.
      dauWauExact(s, d).orderBy("day_ms")
    }),
    // The bounded-state production variant of q_dau_wau — HLL sketches
    // instead of exact per-window distinct state. Oracled since r15 via
    // the error-bound referee: exact day/dau/wau columns hash against
    // the mirror while the HLL path runs in full and its per-day
    // estimate is judged against the sketch's error bound (lgK=14 →
    // RSE ≈ 1.04/√2¹⁴ ≈ 0.8%; flag allows 4·RSE relative or 8 absolute,
    // whichever is larger — HLL is exact in sparse mode at small
    // cardinalities, so small-count days never flap). The mirror pins
    // the flag at 1: an out-of-bound estimate fails the driver's hash.
    // CAVEAT (unlike GK's hard rank bound): 4·RSE is a ~4σ PROBABILISTIC
    // bound — on fresh data/seeds a CORRECT sketch can legitimately land
    // outside it (p ≈ 6e-5 per day, so expect one flip per ~16k
    // day-windows). A flag flip on new data means "investigate the
    // estimate", not necessarily "the sketch is broken"; widen to the
    // sketch library's a-priori bound if a deployment needs a hard gate.
    "q_dau_wau_approx" -> ((s, d) => {
      val rse = 1.04 / math.sqrt((1 << 14).toDouble)
      val est = dauWauApproxOn(userDaysCached(s, d))
        .select(col("day_ms"), col("wau").as("wau_est"))
      dauWauExact(s, d)
        .join(est, "day_ms")
        .select(col("day_ms"), col("dau"), col("wau"),
          (abs(col("wau_est") - col("wau")) <=
            greatest(col("wau") * (4 * rse), lit(8.0))).cast("int")
            .as("wau_in_bound"))
        .orderBy("day_ms")
    }),
    "q_order_match_sim" -> ((s, d) =>
      OrderMatch.run(OrderMatch.ordersFromTicks(Tables.ticks(s, d)))
        .toDF().orderBy("symbol", "seq")),
    "q_order_lifecycle" -> ((s, d) =>
      OrderLifecycle.run(OrderLifecycle.eventsFromTicks(Tables.ticks(s, d)))
        .toDF().orderBy("symbol", "trade_seq")),
    "q_order_book_summary" -> ((s, d) =>
      bookLevels(s, d).groupBy("symbol")
        .agg(
          max(when(col("side") === "buy", col("price_level"))).as("best_bid"),
          min(when(col("side") === "sell", col("price_level"))).as("best_ask"))
        .withColumn("spread", col("best_ask") - col("best_bid"))
        .withColumn("mid", (col("best_bid") + col("best_ask")) / 2.0)
        .orderBy("symbol")),
    "q_order_book_imbalance" -> ((s, d) =>
      // order-flow imbalance + volume-weighted side prices per symbol
      // (the standard consumer of the depth view). Every sum here is an
      // exact integer in a double (levels ≤ 200 × qty ≤ 100), so the
      // divisions are bit-identical across engines with no rounding.
      bookLevels(s, d).groupBy("symbol")
        .agg(
          sum(when(col("side") === "buy", col("total_qty")).otherwise(0.0)).as("bid_qty"),
          sum(when(col("side") === "sell", col("total_qty")).otherwise(0.0)).as("ask_qty"),
          sum(when(col("side") === "buy", col("price_level") * col("total_qty"))
            .otherwise(0.0)).as("bid_notional"),
          sum(when(col("side") === "sell", col("price_level") * col("total_qty"))
            .otherwise(0.0)).as("ask_notional"))
        .select(col("symbol"), col("bid_qty"), col("ask_qty"),
          ((col("bid_qty") - col("ask_qty")) / (col("bid_qty") + col("ask_qty"))).as("imbalance"),
          (col("bid_notional") / col("bid_qty")).as("vw_bid"),
          (col("ask_notional") / col("ask_qty")).as("vw_ask"))
        .orderBy("symbol"))
  )

  /** Production-scale DAU/WAU (the q_dau_wau semantics for web-scale
    * user counts): DAU stays exact — a count over the distinct
    * (user, day) set — while WAU is a DataSketches HLL union: ONE
    * per-day sketch aggregate runs over the user-scale rows, and the
    * trailing-7-day union then runs over the ~days-sized sketch frame.
    * The oracled q_dau_wau expands the user-day set 7× and holds full
    * per-window distinct state — the engine's one remaining unbounded
    * distinct at web scale, which this variant closes (same pattern as
    * Risk.varCvarApprox: exact form stays the oracle, DauWauApproxSpec
    * pins the sketch error on a known population; lgConfigK=14 →
    * relative standard error ≈ 1.04/√2^14 ≈ 0.8%).
    */
  def dauWauApprox(events: DataFrame, lgConfigK: Int = 14): DataFrame =
    dauWauApproxOn(events
      .select(col("user_id"), expr("ts div 86400000000000").as("day")).distinct(), lgConfigK)

  /** Session-memoized exact DAU/WAU frame (day_ms, dau, wau,
    * stickiness), unordered — q_dau_wau and the approx referee both
    * read it (the referee joins the HLL estimates against these exact
    * values). Days-scale rows. See the q_dau_wau scaladoc for the
    * first-activity-in-window derivation.
    */
  private def dauWauExact(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("EventsPack.dauWauExact", s, d) {
      val w = Window.partitionBy("user_id").orderBy("day")
      graft.Memo.pin(userDaysCached(s, d)
        .withColumn("lo",
          greatest(col("day"), coalesce(lag(col("day"), 1).over(w) + 7, col("day"))))
        .select(col("day"), col("lo"),
          explode(when(col("lo") > col("day"),
            concat(array(col("day")), sequence(col("lo"), col("day") + 6)))
            .otherwise(sequence(col("lo"), col("day") + 6))).as("d"))
        .groupBy("d")
        .agg(count(when(col("day") === col("d"), 1)).as("dau"),
          count(when(col("d") >= col("lo"), 1)).as("wau"))
        .filter(col("dau") > 0)
        .select((col("d") * 86400000L).as("day_ms"), col("dau"), col("wau"),
          (col("dau") / col("wau")).as("stickiness")))
    }

  /** [[dauWauApprox]] over an already-distinct (user_id, day) frame —
    * lets the pack share one memoized distinct pass with q_dau_wau.
    */
  def dauWauApproxOn(userDays: DataFrame, lgConfigK: Int = 14): DataFrame = {
    val daily = userDays.groupBy("day").agg(
      count(lit(1)).as("dau"),
      hll_sketch_agg(col("user_id"), lgConfigK).as("_sk"))
    val days = daily.select(col("day").as("d"))
    val wau = daily.join(broadcast(days),
        col("day") >= col("d") - 6 && col("day") <= col("d"))
      .groupBy("d").agg(hll_sketch_estimate(hll_union_agg(col("_sk"))).as("wau"))
    daily.join(wau, col("day") === col("d"))
      .select((col("day") * 86400000L).as("day_ms"), col("dau"), col("wau"),
        (col("dau") / col("wau")).as("stickiness"))
      .orderBy("day_ms")
  }

  /** Synthetic limit-order book: side by user parity, integer price
    * levels, resting qty aggregated per level (order_book.py:179
    * get_depth).
    */
  private def bookLevels(s: SparkSession, d: String): DataFrame =
    Tables.ticks(s, d)
      .select(col("symbol"),
        when(col("user_id") % 2 === 0, "buy").otherwise("sell").as("side"),
        floor(col("price")).as("price_level"),
        col("volume"))
      .groupBy("symbol", "side", "price_level")
      .agg(sum(col("volume")).as("total_qty"), count(lit(1)).as("n_orders"))

  private val LevelsCte: String =
    QueryPack.TicksCte + """,
      |lvls AS (
      |  SELECT symbol,
      |         CASE WHEN user_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
      |         CAST(floor(price) AS BIGINT) AS price_level,
      |         sum(volume) AS total_qty, count(*) AS n_orders
      |  FROM ticks GROUP BY 1, 2, 3
      |)""".stripMargin

  def oracles: Map[String, String] = Map(
    // Price-time-priority matching (order_book.py:206 submit loop,
    // :427 _match_orders) is a sequential per-symbol fold over a resting
    // BOOK, so the mirror is a recursive CTE whose working table holds
    // one (symbol, book state) row per symbol and advances ONE micro-step
    // per iteration: load the next order when idle and either consume the
    // best opposite resting order (one fill row) or place the remainder.
    // The books are LIST<STRUCT> columns; "best" is list_sort(...)[1]
    // under a key that encodes price-time priority (negated price for
    // buys, per-symbol arrival rank rn as the time key). All qty
    // arithmetic is integer-valued doubles (volume = 1 + user_id % 100,
    // least/subtract only) and prices are carried verbatim, so every
    // emitted value is bit-identical to the Spark fold. Same class as the
    // r13 cusum/trailing-stop recursive mirrors; ~22 s at sf0.01.
    "q_order_match_sim" ->
      """WITH RECURSIVE
        |ord AS MATERIALIZED (
        |  SELECT event_type AS symbol, event_id,
        |         CASE WHEN user_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
        |         value AS price,
        |         CAST(1 + user_id % 100 AS DOUBLE) AS qty,
        |         row_number() OVER (PARTITION BY event_type ORDER BY ts, event_id) AS rn
        |  FROM events
        |),
        |n AS (SELECT symbol, max(rn) AS n_ord FROM ord GROUP BY symbol),
        |rec AS (
        |  SELECT symbol,
        |         CAST(1 AS BIGINT) AS i,
        |         CAST(0 AS DOUBLE) AS rem,
        |         '' AS w_side, CAST(0 AS BIGINT) AS w_eid,
        |         CAST(0 AS DOUBLE) AS w_price, CAST(0 AS BIGINT) AS w_rn,
        |         []::STRUCT(negp DOUBLE, rn BIGINT, eid BIGINT, qty DOUBLE)[] AS buys,
        |         []::STRUCT(p DOUBLE, rn BIGINT, eid BIGINT, qty DOUBLE)[] AS sells,
        |         CAST(0 AS BIGINT) AS seq,
        |         CAST(NULL AS BIGINT) AS f_seq, CAST(NULL AS BIGINT) AS f_buy,
        |         CAST(NULL AS BIGINT) AS f_sell, CAST(NULL AS DOUBLE) AS f_price,
        |         CAST(NULL AS DOUBLE) AS f_qty
        |  FROM n
        |  UNION ALL
        |  SELECT symbol,
        |    new_i,
        |    CASE WHEN crossing THEN w_rem - traded ELSE CAST(0 AS DOUBLE) END,
        |    side2, eid2, price2, rn2,
        |    CASE WHEN crossing AND side2 = 'sell' THEN
        |           list_concat(list_filter(buys, x -> x != best_buy),
        |             CASE WHEN best_qty > traded
        |                  THEN [{negp: (best_buy).negp, rn: (best_buy).rn,
        |                         eid: (best_buy).eid, qty: best_qty - traded}]
        |                  ELSE []::STRUCT(negp DOUBLE, rn BIGINT, eid BIGINT, qty DOUBLE)[] END)
        |         WHEN NOT crossing AND side2 = 'buy' THEN
        |           list_append(buys, {negp: -price2, rn: rn2, eid: eid2, qty: w_rem})
        |         ELSE buys END,
        |    CASE WHEN crossing AND side2 = 'buy' THEN
        |           list_concat(list_filter(sells, x -> x != best_sell),
        |             CASE WHEN best_qty > traded
        |                  THEN [{p: (best_sell).p, rn: (best_sell).rn,
        |                         eid: (best_sell).eid, qty: best_qty - traded}]
        |                  ELSE []::STRUCT(p DOUBLE, rn BIGINT, eid BIGINT, qty DOUBLE)[] END)
        |         WHEN NOT crossing AND side2 = 'sell' THEN
        |           list_append(sells, {p: price2, rn: rn2, eid: eid2, qty: w_rem})
        |         ELSE sells END,
        |    CASE WHEN crossing THEN seq + 1 ELSE seq END,
        |    CASE WHEN crossing THEN seq + 1 ELSE NULL END,
        |    CASE WHEN crossing THEN (CASE WHEN side2 = 'buy' THEN eid2 ELSE best_eid END) END,
        |    CASE WHEN crossing THEN (CASE WHEN side2 = 'sell' THEN eid2 ELSE best_eid END) END,
        |    CASE WHEN crossing THEN best_price END,
        |    CASE WHEN crossing THEN traded END
        |  FROM (
        |    SELECT *,
        |      CASE WHEN side2 = 'buy'
        |           THEN best_sell IS NOT NULL AND (best_sell).p <= price2
        |           ELSE best_buy IS NOT NULL AND -(best_buy).negp >= price2 END AS crossing,
        |      CASE WHEN side2 = 'buy' THEN (best_sell).p ELSE -(best_buy).negp END AS best_price,
        |      CASE WHEN side2 = 'buy' THEN (best_sell).eid ELSE (best_buy).eid END AS best_eid,
        |      CASE WHEN side2 = 'buy' THEN (best_sell).qty ELSE (best_buy).qty END AS best_qty,
        |      CASE WHEN side2 = 'buy' THEN least(w_rem, (best_sell).qty)
        |           ELSE least(w_rem, (best_buy).qty) END AS traded
        |    FROM (
        |      SELECT r.symbol,
        |        CASE WHEN r.rem = 0 THEN r.i + 1 ELSE r.i END AS new_i,
        |        CASE WHEN r.rem = 0 THEN o.side ELSE r.w_side END AS side2,
        |        CASE WHEN r.rem = 0 THEN o.event_id ELSE r.w_eid END AS eid2,
        |        CASE WHEN r.rem = 0 THEN o.price ELSE r.w_price END AS price2,
        |        CASE WHEN r.rem = 0 THEN o.rn ELSE r.w_rn END AS rn2,
        |        CASE WHEN r.rem = 0 THEN o.qty ELSE r.rem END AS w_rem,
        |        r.buys, r.sells, r.seq,
        |        list_sort(r.buys)[1] AS best_buy,
        |        list_sort(r.sells)[1] AS best_sell
        |      FROM rec r JOIN n USING (symbol)
        |      LEFT JOIN ord o ON o.symbol = r.symbol AND r.rem = 0 AND o.rn = r.i
        |      WHERE r.rem > 0 OR r.i <= n.n_ord
        |    )
        |  )
        |)
        |SELECT symbol, f_seq AS seq, f_buy AS buy_event_id, f_sell AS sell_event_id,
        |       f_price AS price, f_qty AS qty
        |FROM rec WHERE f_seq IS NOT NULL ORDER BY symbol, seq""".stripMargin,
    // The full lifecycle machine (order_book.py:245 submit, :268 market,
    // :302 limit, :109 cancel, :391 process_tick, :333 _execute_trade)
    // as the same micro-step recursion: ONE action per iteration chosen
    // by the reference's own precedence — pending order processing in
    // submission order, then buy-side book crossings, then sell-side —
    // falling through to "consume the next event" when a tick's work is
    // drained. State per symbol = pending LIST, two book LISTs, lazy
    // cancel + resting id LISTs, and the per-symbol ledger scalars
    // (cash, position, seq). All ledger float ops are written with the
    // exact expression shapes the Scala fold uses (fee = (q*px)*0.001,
    // cash - ((q*px) + fee), ...) so the sequential IEEE fold is
    // bit-identical — including the cash/position REJECTION comparisons.
    // ~29 s at sf0.01.
    "q_order_lifecycle" ->
      """WITH RECURSIVE
        |ord AS MATERIALIZED (
        |  SELECT symbol, ts, event_id, kind, side, price, qty,
        |         coalesce(last_value(CASE WHEN kind = 'limit' THEN event_id END IGNORE NULLS)
        |           OVER (PARTITION BY symbol ORDER BY ts, event_id
        |                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), -1) AS ref_id,
        |         row_number() OVER (PARTITION BY symbol ORDER BY ts, event_id) AS rn
        |  FROM (
        |    SELECT event_type AS symbol, epoch_ns(ts) AS ts, event_id,
        |           CASE WHEN user_id % 10 = 0 THEN 'market'
        |                WHEN user_id % 10 = 1 THEN 'cancel'
        |                WHEN user_id % 10 <= 4 THEN 'limit'
        |                ELSE 'tick' END AS kind,
        |           CASE WHEN user_id % 2 = 0 THEN 'buy' ELSE 'sell' END AS side,
        |           CASE WHEN user_id % 10 BETWEEN 2 AND 4
        |                THEN value * (1.0 + (event_id % 2 * 2 - 1) * 0.005)
        |                ELSE value END AS price,
        |           CAST(1 + user_id % 100 AS DOUBLE) AS qty
        |    FROM events
        |  )
        |),
        |n AS (SELECT symbol, max(rn) AS n_ord FROM ord GROUP BY symbol),
        |rec AS (
        |  SELECT symbol,
        |         CAST(1 AS BIGINT) AS i, false AS working,
        |         CAST(0 AS DOUBLE) AS px, CAST(0 AS BIGINT) AS tts,
        |         []::STRUCT(eid BIGINT, ots BIGINT, kind VARCHAR, side VARCHAR, price DOUBLE, qty DOUBLE)[] AS pending,
        |         []::STRUCT(negp DOUBLE, ots BIGINT, eid BIGINT, qty DOUBLE)[] AS buys,
        |         []::STRUCT(p DOUBLE, ots BIGINT, eid BIGINT, qty DOUBLE)[] AS sells,
        |         []::BIGINT[] AS cancelled, []::BIGINT[] AS resting,
        |         CAST(1000000.0 AS DOUBLE) AS cash, CAST(0 AS DOUBLE) AS pos,
        |         CAST(0 AS BIGINT) AS seq,
        |         CAST(NULL AS BIGINT) AS f_seq, CAST(NULL AS BIGINT) AS f_eid,
        |         CAST(NULL AS VARCHAR) AS f_side, CAST(NULL AS VARCHAR) AS f_kind,
        |         CAST(NULL AS DOUBLE) AS f_qty, CAST(NULL AS DOUBLE) AS f_px,
        |         CAST(NULL AS DOUBLE) AS f_comm, CAST(NULL AS BIGINT) AS f_ts
        |  FROM n
        |  UNION ALL
        |  SELECT symbol,
        |    CASE WHEN act = 'ev' THEN i + 1 ELSE i END,
        |    CASE WHEN act = 'ev' THEN o_kind = 'tick' ELSE working END,
        |    CASE WHEN act = 'ev' AND o_kind = 'tick' THEN o_price ELSE px END,
        |    CASE WHEN act = 'ev' AND o_kind = 'tick' THEN o_ts ELSE tts END,
        |    CASE WHEN act = 'pend' THEN pending[2:]
        |         WHEN act = 'ev' AND o_kind IN ('limit', 'market')
        |           THEN list_append(pending, {eid: o_eid, ots: o_ts, kind: o_kind,
        |                                      side: o_side, price: o_price, qty: o_qty})
        |         ELSE pending END,
        |    CASE WHEN act = 'popb' THEN list_filter(buys, x -> x != best_buy)
        |         WHEN act = 'pend' AND rest_book AND (ph).side = 'buy'
        |           THEN list_append(buys, {negp: -(ph).price, ots: (ph).ots,
        |                                   eid: (ph).eid, qty: (ph).qty})
        |         ELSE buys END,
        |    CASE WHEN act = 'pops' THEN list_filter(sells, x -> x != best_sell)
        |         WHEN act = 'pend' AND rest_book AND (ph).side = 'sell'
        |           THEN list_append(sells, {p: (ph).price, ots: (ph).ots,
        |                                    eid: (ph).eid, qty: (ph).qty})
        |         ELSE sells END,
        |    CASE WHEN act = 'popb' AND hit_b THEN list_filter(cancelled, x -> x != (best_buy).eid)
        |         WHEN act = 'pops' AND hit_s THEN list_filter(cancelled, x -> x != (best_sell).eid)
        |         WHEN act = 'ev' AND o_kind = 'cancel' AND list_contains(resting, o_ref)
        |           THEN list_append(cancelled, o_ref)
        |         ELSE cancelled END,
        |    CASE WHEN act = 'pend' AND rest_book THEN list_append(resting, (ph).eid)
        |         WHEN act = 'popb' AND NOT hit_b THEN list_filter(resting, x -> x != (best_buy).eid)
        |         WHEN act = 'pops' AND NOT hit_s THEN list_filter(resting, x -> x != (best_sell).eid)
        |         WHEN act = 'ev' AND o_kind = 'cancel' AND list_contains(resting, o_ref)
        |           THEN list_filter(resting, x -> x != o_ref)
        |         ELSE resting END,
        |    CASE WHEN ok AND side_x = 'buy' THEN cash - ((qty_x * px_x) + fee_x)
        |         WHEN ok THEN cash + ((qty_x * px_x) - fee_x) ELSE cash END,
        |    CASE WHEN ok AND side_x = 'buy' THEN pos + qty_x
        |         WHEN ok THEN pos - qty_x ELSE pos END,
        |    CASE WHEN ok THEN seq + 1 ELSE seq END,
        |    CASE WHEN ok THEN seq + 1 END,
        |    CASE WHEN ok THEN eid_x END,
        |    CASE WHEN ok THEN side_x END,
        |    CASE WHEN ok THEN kind_x END,
        |    CASE WHEN ok THEN qty_x END,
        |    CASE WHEN ok THEN px_x END,
        |    CASE WHEN ok THEN fee_x END,
        |    CASE WHEN ok THEN tts END
        |  FROM (
        |    SELECT *,
        |      is_exec AND (CASE WHEN side_x = 'buy'
        |                        THEN NOT (cash < ((qty_x * px_x) + fee_x))
        |                        ELSE NOT (pos < qty_x) END) AS ok
        |    FROM (
        |      SELECT *, ((qty_x * px_x) * 0.001) AS fee_x
        |      FROM (
        |        SELECT *,
        |          CASE WHEN act = 'pend' THEN (ph).side
        |               WHEN act = 'popb' THEN 'buy'
        |               WHEN act = 'pops' THEN 'sell' END AS side_x,
        |          CASE WHEN act = 'pend' AND (ph).kind = 'market' THEN 'market'
        |               WHEN act = 'pend' AND marketable THEN 'limit_immediate'
        |               WHEN act IN ('popb', 'pops') THEN 'book_cross' END AS kind_x,
        |          CASE WHEN act = 'pend' THEN (ph).qty
        |               WHEN act = 'popb' THEN (best_buy).qty
        |               WHEN act = 'pops' THEN (best_sell).qty END AS qty_x,
        |          CASE WHEN act = 'pend' THEN (ph).eid
        |               WHEN act = 'popb' THEN (best_buy).eid
        |               WHEN act = 'pops' THEN (best_sell).eid END AS eid_x,
        |          CASE WHEN act = 'pend' AND (ph).kind = 'market'
        |                 THEN (CASE WHEN (ph).side = 'buy' THEN px * (1 + 0.0005)
        |                            ELSE px * (1 - 0.0005) END)
        |               WHEN act = 'pend' THEN (ph).price
        |               WHEN act = 'popb' THEN -(best_buy).negp
        |               WHEN act = 'pops' THEN (best_sell).p END AS px_x,
        |          (act = 'pend' AND ((ph).kind = 'market' OR marketable))
        |            OR (act = 'popb' AND NOT hit_b)
        |            OR (act = 'pops' AND NOT hit_s) AS is_exec,
        |          (act = 'pend' AND (ph).kind = 'limit' AND NOT marketable) AS rest_book
        |        FROM (
        |          SELECT *,
        |            CASE WHEN working AND len(pending) > 0 THEN 'pend'
        |                 WHEN working AND best_buy IS NOT NULL AND -(best_buy).negp >= px THEN 'popb'
        |                 WHEN working AND best_sell IS NOT NULL AND (best_sell).p <= px THEN 'pops'
        |                 WHEN o_rn IS NOT NULL THEN 'ev'
        |                 ELSE 'die' END AS act,
        |            ((ph).side = 'buy' AND px <= (ph).price)
        |              OR ((ph).side = 'sell' AND px >= (ph).price) AS marketable,
        |            list_contains(cancelled, (best_buy).eid) AS hit_b,
        |            list_contains(cancelled, (best_sell).eid) AS hit_s
        |          FROM (
        |            SELECT r.*, o.kind AS o_kind, o.side AS o_side, o.price AS o_price,
        |                   o.qty AS o_qty, o.event_id AS o_eid, o.ts AS o_ts,
        |                   o.ref_id AS o_ref, o.rn AS o_rn,
        |                   list_sort(r.buys)[1] AS best_buy,
        |                   list_sort(r.sells)[1] AS best_sell,
        |                   r.pending[1] AS ph
        |            FROM rec r
        |            LEFT JOIN ord o ON o.symbol = r.symbol AND o.rn = r.i
        |          )
        |        ) WHERE act <> 'die'
        |      )
        |    )
        |  )
        |)
        |SELECT symbol, f_seq AS trade_seq, f_eid AS order_event_id, f_side AS side,
        |       f_kind AS fill_kind, f_qty AS qty, f_px AS price, f_comm AS commission,
        |       f_ts AS ts
        |FROM rec WHERE f_seq IS NOT NULL ORDER BY symbol, trade_seq""".stripMargin,
    "q_sessionize" ->
      s"""WITH e AS (SELECT user_id, epoch_ns(ts) AS tns FROM events),
         |g AS (
         |  SELECT user_id, tns,
         |         tns - lag(tns) OVER (PARTITION BY user_id ORDER BY tns) AS gap
         |  FROM e
         |),
         |sids AS (
         |  SELECT user_id, tns,
         |         sum(CASE WHEN gap IS NULL OR gap > ${GapNs} THEN 1 ELSE 0 END) OVER (
         |           PARTITION BY user_id ORDER BY tns
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
         |  FROM g
         |),
         |per_sess AS (
         |  SELECT user_id, sid, count(*) AS n_ev,
         |         (max(tns) - min(tns)) // 1000000 AS dur_ms
         |  FROM sids GROUP BY user_id, sid
         |)
         |SELECT user_id, CAST(max(sid) AS BIGINT) AS n_sessions,
         |       CAST(sum(n_ev) AS BIGINT) AS n_events,
         |       CAST(max(n_ev) AS BIGINT) AS max_session_events,
         |       CAST(max(dur_ms) AS BIGINT) AS max_session_dur_ms
         |FROM per_sess GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_funnel_timing" ->
      """WITH s1 AS (
        |  SELECT user_id, min(epoch_ns(ts)) AS t_signup FROM events
        |  WHERE event_type = 'signup' GROUP BY user_id
        |),
        |s2 AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t_view FROM events e JOIN s1 USING (user_id)
        |  WHERE e.event_type = 'view' AND epoch_ns(e.ts) > s1.t_signup GROUP BY e.user_id
        |),
        |s3 AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t_click FROM events e JOIN s2 USING (user_id)
        |  WHERE e.event_type = 'click' AND epoch_ns(e.ts) > s2.t_view GROUP BY e.user_id
        |),
        |s4 AS (
        |  SELECT e.user_id, min(epoch_ns(e.ts)) AS t_purchase FROM events e JOIN s3 USING (user_id)
        |  WHERE e.event_type = 'purchase' AND epoch_ns(e.ts) > s3.t_click GROUP BY e.user_id
        |),
        |gaps AS (
        |  SELECT '1_signup_to_view' AS stage,
        |         (t_view - t_signup) // 1000000000 AS gap_s
        |  FROM s1 JOIN s2 USING (user_id)
        |  UNION ALL
        |  SELECT '2_view_to_click', (t_click - t_view) // 1000000000
        |  FROM s2 JOIN s3 USING (user_id)
        |  UNION ALL
        |  SELECT '3_click_to_purchase', (t_purchase - t_click) // 1000000000
        |  FROM s3 JOIN s4 USING (user_id)
        |),
        |hist AS (SELECT stage, gap_s, count(*) AS c FROM gaps GROUP BY 1, 2),
        |wn AS (
        |  SELECT stage, gap_s, c,
        |         sum(c) OVER (PARTITION BY stage) AS n_users,
        |         sum(c) OVER (PARTITION BY stage ORDER BY gap_s
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM hist
        |)
        |SELECT stage, CAST(max(n_users) AS BIGINT) AS n_users,
        |       min(CASE WHEN cum >= (n_users + 1) // 2 THEN gap_s END) AS p50_gap_s,
        |       min(CASE WHEN cum >= (9 * n_users + 9) // 10 THEN gap_s END) AS p90_gap_s,
        |       max(gap_s) AS max_gap_s
        |FROM wn GROUP BY stage ORDER BY stage""".stripMargin,
    "q_user_ltv" ->
      """SELECT user_id, count(*) AS n_events,
        |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |            AS BIGINT) AS n_purchases,
        |       CAST(sum(CASE WHEN event_type = 'purchase'
        |            THEN CAST(floor(value * 100 + 0.5) AS BIGINT) ELSE 0 END)
        |            AS BIGINT) AS ltv_cents,
        |       max(epoch_ns(ts) // 86400000000000)
        |         - min(epoch_ns(ts) // 86400000000000) + 1 AS span_days
        |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,
    "q_funnel" ->
      """WITH s1 AS (
        |  SELECT user_id, min(ts) AS t_signup FROM events WHERE event_type = 'signup' GROUP BY user_id
        |),
        |s2 AS (
        |  SELECT e.user_id, min(e.ts) AS t_view FROM events e JOIN s1 ON e.user_id = s1.user_id
        |  WHERE e.event_type = 'view' AND e.ts > s1.t_signup GROUP BY e.user_id
        |),
        |s3 AS (
        |  SELECT e.user_id, min(e.ts) AS t_click FROM events e JOIN s2 ON e.user_id = s2.user_id
        |  WHERE e.event_type = 'click' AND e.ts > s2.t_view GROUP BY e.user_id
        |),
        |s4 AS (
        |  SELECT e.user_id, min(e.ts) AS t_purchase FROM events e JOIN s3 ON e.user_id = s3.user_id
        |  WHERE e.event_type = 'purchase' AND e.ts > s3.t_click GROUP BY e.user_id
        |)
        |SELECT count(s1.t_signup) AS n_signup, count(s2.t_view) AS n_view_after,
        |       count(s3.t_click) AS n_click_after, count(s4.t_purchase) AS n_purchase_after
        |FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
        |        LEFT JOIN s3 ON s1.user_id = s3.user_id
        |        LEFT JOIN s4 ON s1.user_id = s4.user_id""".stripMargin,
    "q_asof_join" ->
      s"""WITH ${QueryPack.barsCteAt(3600)},
         |b AS (SELECT symbol, bucket_ms + 3600000 AS avail_ms, close FROM bars),
         |t AS (SELECT symbol, epoch_ns(ts) // 1000000 AS ts_ms, price FROM ticks)
         |SELECT t.symbol, t.ts_ms, t.price, b.close AS prev_hour_close
         |FROM t ASOF LEFT JOIN b ON t.symbol = b.symbol AND t.ts_ms >= b.avail_ms
         |ORDER BY t.symbol, t.ts_ms, t.price""".stripMargin,
    "q_retention_cohorts" ->
      """WITH activity AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 604800000000000 AS wk FROM events
        |),
        |cohorts AS (SELECT user_id, min(wk) AS cohort_wk FROM activity GROUP BY user_id),
        |sizes AS (SELECT cohort_wk, count(*) AS cohort_size FROM cohorts GROUP BY cohort_wk),
        |ret AS (
        |  SELECT c.cohort_wk, a.wk - c.cohort_wk AS week_offset, count(*) AS n_active
        |  FROM activity a JOIN cohorts c ON a.user_id = c.user_id
        |  GROUP BY 1, 2
        |)
        |SELECT r.cohort_wk * 604800000 AS cohort_week_ms, r.week_offset,
        |       r.n_active, s.cohort_size,
        |       r.n_active / s.cohort_size AS retention
        |FROM ret r JOIN sizes s ON r.cohort_wk = s.cohort_wk
        |ORDER BY cohort_week_ms, week_offset""".stripMargin,
    "q_order_book_depth" ->
      s"""WITH $LevelsCte
         |SELECT symbol, side, level_rank, price_level, total_qty, n_orders FROM (
         |  SELECT *, row_number() OVER (
         |    PARTITION BY symbol, side
         |    ORDER BY CASE WHEN side = 'buy' THEN -price_level ELSE price_level END) AS level_rank
         |  FROM lvls)
         |WHERE level_rank <= 5 ORDER BY symbol, side, level_rank""".stripMargin,
    "q_dau_wau" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |wau AS (
        |  SELECT d.day AS d, count(DISTINCT u.user_id) AS wau
        |  FROM (SELECT day FROM dau) d
        |  JOIN ud u ON u.day >= d.day - 6 AND u.day <= d.day
        |  GROUP BY d.day
        |)
        |SELECT dau.day * 86400000 AS day_ms, dau.dau, wau.wau,
        |       dau.dau / wau.wau AS stickiness
        |FROM dau JOIN wau ON dau.day = wau.d
        |ORDER BY day_ms""".stripMargin,
    // exact side mirrored; the HLL verdict is pinned at 1 — the flag is
    // computed ONLY by the engine (DuckDB has no DataSketches HLL), and
    // the hash compare fails if any day's estimate leaves its bound
    "q_dau_wau_approx" ->
      """WITH ud AS (
        |  SELECT DISTINCT user_id, epoch_ns(ts) // 86400000000000 AS day FROM events
        |),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
        |wau AS (
        |  SELECT d.day AS d, count(DISTINCT u.user_id) AS wau
        |  FROM (SELECT day FROM dau) d
        |  JOIN ud u ON u.day >= d.day - 6 AND u.day <= d.day
        |  GROUP BY d.day
        |)
        |SELECT dau.day * 86400000 AS day_ms, dau.dau, wau.wau,
        |       1 AS wau_in_bound
        |FROM dau JOIN wau ON dau.day = wau.d
        |ORDER BY day_ms""".stripMargin,
    "q_order_book_imbalance" ->
      s"""WITH $LevelsCte,
         |agg AS (
         |  SELECT symbol,
         |         sum(CASE WHEN side = 'buy' THEN total_qty ELSE 0.0 END) AS bid_qty,
         |         sum(CASE WHEN side = 'sell' THEN total_qty ELSE 0.0 END) AS ask_qty,
         |         sum(CASE WHEN side = 'buy' THEN price_level * total_qty ELSE 0.0 END) AS bid_notional,
         |         sum(CASE WHEN side = 'sell' THEN price_level * total_qty ELSE 0.0 END) AS ask_notional
         |  FROM lvls GROUP BY symbol
         |)
         |SELECT symbol, bid_qty, ask_qty,
         |       (bid_qty - ask_qty) / (bid_qty + ask_qty) AS imbalance,
         |       bid_notional / bid_qty AS vw_bid,
         |       ask_notional / ask_qty AS vw_ask
         |FROM agg ORDER BY symbol""".stripMargin,
    "q_order_book_summary" ->
      s"""WITH $LevelsCte
         |SELECT symbol,
         |       max(CASE WHEN side = 'buy' THEN price_level END) AS best_bid,
         |       min(CASE WHEN side = 'sell' THEN price_level END) AS best_ask,
         |       min(CASE WHEN side = 'sell' THEN price_level END)
         |         - max(CASE WHEN side = 'buy' THEN price_level END) AS spread,
         |       (max(CASE WHEN side = 'buy' THEN price_level END)
         |         + min(CASE WHEN side = 'sell' THEN price_level END)) / 2.0 AS mid
         |FROM lvls GROUP BY symbol ORDER BY symbol""".stripMargin
  )
}
