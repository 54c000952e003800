package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Pruned readers over the test-schema parquet tables plus the derived
  * market-data views every operator shares.
  *
  * The tick/quote mapping (reference: etl/normalizer.py:11,69) treats
  * `events` as the raw feed: symbol := event_type, price := value,
  * volume := 1 + user_id % 100 (deterministic synthetic size). Column
  * pruning happens naturally — callers select before shuffling, and the
  * parquet scan only materializes what the plan needs.
  */
object Tables {
  /** Session-memoized READER frames (r17): `spark.read.parquet` costs
    * ~80-130 ms of pure driver constant PER CALL even on a 4 kB table
    * (file listing + a footer-reading schema-inference job), and every
    * query re-paid it per table per invocation — 1-7 tables × 190
    * queries, the single largest slice of the per-query fixed cost
    * (GapProbe r17: q5's 6-table construct was 530-660 ms/call). The
    * cached value is the ANALYZED READER PLAN — file index + inferred
    * schema — never data or results; semantics over the immutable test
    * dirs are identical, and mutable-path sessions get the same
    * [[Memo.invalidateAll]] contract as every other session memo. At
    * production scale this is also the §6 file-listing-cache posture:
    * re-listing a large table's files on every query is driver poison.
    */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    val path = s"$dir/$name.parquet"
    Memo.shareWith[DataFrame]("Tables.reader", spark, path)(_ => ())(spark.read.parquet(path))
  }

  def region(s: SparkSession, d: String): DataFrame   = load(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = load(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = load(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = load(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = load(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = load(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = load(s, d, "lineitem")

  /** Feed-boundary timestamp normalization (reference etl/normalizer.py:28-38
    * sniffs epoch-s/epoch-ms numerics and ISO strings the same way): whatever
    * encoding the feed ships — epoch-ns BIGINT (nanos parquet under
    * nanosAsLong), TIMESTAMP / TIMESTAMP_NTZ (micros parquet), DATE, or an
    * ISO-8601 string — downstream operators see ONE canonical epoch-ns
    * LongType. Session timezone is pinned UTC (GraftSession), so NTZ and
    * string wall-clocks convert as UTC instants, matching DuckDB's
    * `epoch_ns(ts)` on the same file. Anything else fails loudly here, at
    * the boundary, instead of 56 queries deep at analysis time.
    */
  def epochNs(df: DataFrame, c: String): DataFrame = df.schema(c).dataType match {
    case LongType          => df
    // A 32-bit int can only represent ~2.1s past the epoch as nanos, so an
    // IntegerType feed column is necessarily epoch-SECONDS (valid through
    // 2038) — the same magnitude reasoning as the reference's epoch-s/ms
    // sniffing (etl/normalizer.py:28-38). A plain Long cast here would
    // silently collapse every row to a 1970 instant.
    case IntegerType       => df.withColumn(c, col(c).cast(LongType) * lit(1000000000L))
    case TimestampType     => df.withColumn(c, unix_micros(col(c)) * lit(1000L))
    case TimestampNTZType  => df.withColumn(c, unix_micros(col(c).cast(TimestampType)) * lit(1000L))
    case DateType          => df.withColumn(c, unix_date(col(c)).cast(LongType) * lit(86400000000000L))
    case StringType        => df.withColumn(c, unix_micros(to_timestamp(col(c))) * lit(1000L))
    case other => throw new IllegalArgumentException(
      s"$c: expected epoch-ns BIGINT, epoch-s INT, TIMESTAMP, DATE or ISO string at the feed boundary, got $other")
  }

  def events(s: SparkSession, d: String): DataFrame =
    epochNs(load(s, d, "events"), "ts")
  def documents(s: SparkSession, d: String): DataFrame  = load(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = load(s, d, "embeddings")

  /** Raw tick feed: symbol/price/volume/ts (+ event_id for dedup keys).
    * `ts` is an epoch-nanosecond long (nanosAsLong scan) — bucket math must
    * use integer `div`, never double division (2^53 < ns epoch).
    */
  def ticks(s: SparkSession, d: String): DataFrame =
    events(s, d).select(
      col("event_id"),
      col("ts"),
      col("event_type").as("symbol"),
      col("value").as("price"),
      (lit(1) + col("user_id") % 100).cast("double").as("volume"),
      col("user_id"),
      col("props")
    )

  /** Derived two-sided quote feed (bid/ask around the trade price).
    * Pure IEEE products — bit-identical in any engine, no rounding needed.
    */
  def quotes(s: SparkSession, d: String): DataFrame =
    ticks(s, d).select(
      col("ts"),
      col("symbol"),
      (col("price") * 0.999).as("bid_price"),
      (col("price") * 1.001).as("ask_price"),
      col("volume").as("bid_size"),
      (col("volume") * 1.5).as("ask_size")
    )
}
