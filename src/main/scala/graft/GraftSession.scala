package graft

import graft.streaming.LocalCheckpointFileManager
import org.apache.spark.sql.SparkSession

/** Session factory with the settings every graft job wants.
  *
  * Local testing runs `local[32]`; at deploy scale the same config applies
  * minus the master override. AQE stays on so skewed shuffles re-plan at
  * runtime (salting fallback is then only needed for pathological keys).
  */
object GraftSession {
  /** THE parallelism default, shared by every entry point (GraftSession,
    * Bench, Verify, the tools): `SPARK_GRAFT_CPUS` if set, else the
    * machine's cores. One constant — BENCH_r02's 217.5 s cold pass came
    * from Bench defaulting to a literal that disagreed with the pinned
    * local[32] methodology, and r06 still carried a hardcoded 32 here.
    */
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def builder(appName: String = "graft"): SparkSession.Builder = {
    val cpus = GraftSession.cpus
    SparkSession
      .builder()
      .appName(appName)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // IEEE/null-propagating arithmetic, NOT errors: Spark 4 defaults
      // ANSI on, under which x/0.0 throws — but a 100 TB feed WILL
      // contain a zero price somewhere, and the engine must degrade that
      // row (returns -> null -> 0), not kill the job. DuckDB returns
      // NULL for double division by zero, so this is also the oracle's
      // semantics. (Found via sf0.1: 6 zero-value events make every
      // Backtester query throw under ANSI — masked by Bench's
      // catch-all until round 6.)
      .config("spark.sql.ansi.enabled", "false")
      // AQE on: production scale needs runtime coalescing + skew
      // splitting (guide §2.5).
      .config("spark.sql.adaptive.enabled", "true")
      // events.ts is parquet TIMESTAMP(NANOS): surface it as a ns-epoch
      // long (exact) instead of failing the scan.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      // AQE coalescing floor (r16). The default minPartitionSize (1 MB)
      // collapses every small-SF shuffle to ONE post-shuffle partition,
      // serializing window/aggregate stages that have 5-32-way key
      // parallelism (ProfileQuery r16: 300+ ms single-task WindowExec
      // stages all over the mid-tail). parallelismFirst (default true)
      // targets total/parallelism bytes per partition but never goes
      // below this floor, so the floor is what binds on kB-scale
      // shuffles. 128k keeps those stages parallel (A/B swept 16k / 128k
      // / 512k / 1m on the window-heavy and event-stream families: 128k
      // dominated — 16k over-splits the high-cardinality event shuffles,
      // 1m serializes the bar windows); at production scale the floor is
      // irrelevant — any shuffle past a few GB is governed by the 64 MB
      // advisory size, so this is NOT a local-only tuning constant (the
      // advisory default is unchanged).
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "128k")
      .config("spark.sql.autoBroadcastJoinThreshold", 64L * 1024 * 1024)
      // The engine's wide single-pass aggregates (54 exact co-moment
      // sums in q_feature_importance, 3×13 metrics in
      // q_strategy_comparison) exceed the default 100-field codegen
      // cutoff and silently fall back to the interpreted row path —
      // measured ~25% slower on the co-moment aggregate. 300 keeps
      // whole-stage codegen on for them.
      .config("spark.sql.codegen.maxFields", "300")
      .config("spark.ui.enabled", "false")
      // Streaming checkpoints on the local file system commit through
      // Hadoop's FileSystem API: without the native Hadoop library,
      // Spark's FileContext default forks `readlink` on every rename, a
      // third of a small micro-batch. See LocalCheckpointFileManager.
      .config(LocalCheckpointFileManager.ConfKey, classOf[LocalCheckpointFileManager].getName)
  }

  def get(appName: String = "graft"): SparkSession = {
    val spark = builder(appName).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
