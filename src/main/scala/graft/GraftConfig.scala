package graft

/** Typed configuration surface for the engine's tunable constants.
  *
  * Engine-parity counterpart of the reference's externalized settings
  * (reference `etl/config.py`:1-119 + `config/settings.yaml`): the
  * reference threads outlier thresholds, backtest cost/rate constants and
  * batch sizing through a dot-notation config; the engine previously
  * baked its equivalents as `val`s inside the operators (the $100k
  * dollar-bar threshold in Micro.scala, the 0.25 position limit in
  * Risk.scala, the LSH caps in DedupPack/AnnPack, the funnel stage list
  * in EventsPack). This case class is the single surface a deployment
  * tunes — every field's default IS the previous baked constant, so the
  * default config is bit-identical to the pre-config engine (the oracle
  * hashes prove it).
  *
  * Threading rule: operators read `GraftConfig.active.<field>` through
  * small `def` accessors (plan-build-time inlining — the value lands in
  * the generated code exactly like the old `val`). Because session memos
  * key on (session, dataset) and may bake a config value into their
  * materialized frames, [[GraftConfig.set]] invalidates all memos —
  * changing config mid-session is safe but drops the warm caches.
  */
final case class GraftConfig(
  // --- bars (reference data_processing defaults; Micro.scala) ---
  /** Dollar-bar clock threshold in exact integer cents ($100k). */
  dollarBarCents: Long = 10000000L,
  /** Volume-bar clock threshold in share units. */
  volumeBarUnits: Long = 2000L,
  // --- cleaning (reference settings.yaml data_processing.outlier_threshold) ---
  /** IQR multiplier / z-score threshold for outlier removal. */
  outlierThreshold: Double = 3.0,
  // --- backtesting (reference settings.yaml backtesting.*) ---
  initialCash: Double = 1000000.0,
  commission: Double = 0.001,
  slippage: Double = 0.0005,
  riskFreeRate: Double = 0.02,
  periodsPerYear: Double = 252.0,
  // --- risk (reference risk_monitor.py defaults; Risk.scala) ---
  /** Max position weight for kelly/vol sizing clamps. */
  maxPosition: Double = 0.25,
  /** Target annualized volatility for vol-scaled sizing. */
  targetVol: Double = 0.15,
  // --- events (EventsPack.scala) ---
  /** Ordered funnel stage list, first stage ungated. */
  funnelStages: Vector[String] = Vector("signup", "view", "click", "purchase"),
  /** Session gap in minutes (a pause longer than this starts a new session). */
  sessionGapMinutes: Long = 30L,
  // --- dedup / ANN scale caps (DedupPack.scala, AnnPack.scala) ---
  /** Max docs per (band, key) LSH bucket before the bucket is dropped
    * from pair generation (the linearity guard at 100 TB).
    */
  lshBucketCap: Long = 2000L,
  /** Max verified partners kept per (doc, bucket) in the banded joins. */
  lshPairsPerDocPerBucket: Long = 64L,
  /** Bucket cap for the embedding hyperplane-LSH near-dup blocking. */
  annLshCap: Long = 2000L,
  // --- portfolio optimization (PortfolioOpt.scala) ---
  /** Max symbols the weight-grid optimizer enumerates (driver-side grid). */
  optMaxSymbols: Int = 64
) {
  /** Round-trip cost rate = commission + slippage (reference
    * backtesting.commission + backtesting.slippage).
    */
  def costRate: Double = commission + slippage
  def sessionGapNs: Long = sessionGapMinutes * 60L * 1000000000L
}

object GraftConfig {
  val default: GraftConfig = GraftConfig()

  @volatile private var current: GraftConfig = default

  def active: GraftConfig = current

  /** Install a new active config. Session memos may have materialized
    * frames under the old constants, so all memo maps are invalidated —
    * the same contract as rewriting an input path (Memo.invalidateAll).
    */
  def set(cfg: GraftConfig): Unit = {
    val changed = cfg != current
    current = cfg
    if (changed) Memo.invalidateAll()
  }

  /** Run `body` under `cfg`, restoring the previous config after (test
    * and notebook convenience; memos invalidate on both transitions).
    */
  def withConfig[T](cfg: GraftConfig)(body: => T): T = {
    val prev = current
    set(cfg)
    try body finally set(prev)
  }

  /** Load from a flat `key = value` / `key: value` properties file using
    * the reference's dot-notation keys (settings.yaml section.key).
    * Unknown keys fail fast — a typo'd tuning key must not silently run
    * at defaults. Keys absent from the file keep their defaults.
    */
  def load(path: String): GraftConfig = {
    val src = scala.io.Source.fromFile(path)
    val lines = try src.getLines().toVector finally src.close()
    val kvs = lines.map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val i = l.indexWhere(c => c == '=' || c == ':')
        require(i > 0, s"config line has no key separator: '$l'")
        (l.take(i).trim, l.drop(i + 1).trim)
      }
    fromKeys(kvs.toMap)
  }

  /** Apply dotted-key overrides on top of the defaults. */
  def fromKeys(kvs: Map[String, String]): GraftConfig =
    kvs.foldLeft(default) { case (c, (k, v)) =>
      k match {
        case "bars.dollar_bar_cents"          => c.copy(dollarBarCents = v.toLong)
        case "bars.volume_bar_units"          => c.copy(volumeBarUnits = v.toLong)
        case "data_processing.outlier_threshold" => c.copy(outlierThreshold = v.toDouble)
        case "backtesting.initial_cash"       => c.copy(initialCash = v.toDouble)
        case "backtesting.commission"         => c.copy(commission = v.toDouble)
        case "backtesting.slippage"           => c.copy(slippage = v.toDouble)
        case "backtesting.risk_free_rate"     => c.copy(riskFreeRate = v.toDouble)
        case "backtesting.periods_per_year"   => c.copy(periodsPerYear = v.toDouble)
        case "risk.max_position"              => c.copy(maxPosition = v.toDouble)
        case "risk.target_vol"                => c.copy(targetVol = v.toDouble)
        case "events.funnel_stages"           =>
          c.copy(funnelStages = v.split(",").map(_.trim).filter(_.nonEmpty).toVector)
        case "events.session_gap_minutes"     => c.copy(sessionGapMinutes = v.toLong)
        case "dedup.lsh_bucket_cap"           => c.copy(lshBucketCap = v.toLong)
        case "dedup.lsh_pairs_per_doc_per_bucket" =>
          c.copy(lshPairsPerDocPerBucket = v.toLong)
        case "ann.lsh_cap"                    => c.copy(annLshCap = v.toLong)
        case "portfolio.max_symbols"          => c.copy(optMaxSymbols = v.toInt)
        case other => throw new IllegalArgumentException(
          s"unknown config key '$other' — known keys follow the reference's " +
            "settings.yaml section.key form (see GraftConfig.fromKeys)")
      }
    }
}
