package graft

import scala.collection.concurrent.TrieMap

/** Registry for the session-memoized shared subplans (bars, shingles,
  * jaccard pairs, portfolio stats/frontier). Entries are keyed by
  * (session, dataset[, param]) and are never implicitly invalidated —
  * correct for the driver's immutable test datasets, a stale-read hazard
  * for a long-lived session over mutable paths. Such sessions call
  * [[Memo.invalidateAll]] after rewriting inputs: every registered memo
  * map clears and its materialized DataFrames unpersist.
  *
  * A memo frame takes one of two forms:
  *  - [[pin]] is eager: one `localCheckpoint`, filled when the memo is
  *    built. It cuts the lineage, so each of many warm readers analyzes a
  *    scan instead of the memo's whole build, and it carries its measured
  *    size. Use it for frames that many queries read.
  *  - [[layout]] (or a bare `.cache()`) is lazy: it fills inside the first
  *    job that reads it. Use it for frames that several queries read, such
  *    as `Bars.ohlcvCached`, where the layout spares each reader a shuffle.
  * A chain with one reader per run keeps no memo at all: under AQE a lazy
  * cache is still a fill job of its own (a `TableCacheQueryStage`) plus an
  * eager planning pass, paid on every cold run for a copy read once.
  */
object Memo {
  private val clearers = scala.collection.mutable.ArrayBuffer.empty[() => Unit]

  /** A registered memo map; `onEvict` runs per value on invalidation
    * (unpersist cached DataFrames there — use [[release]] for DataFrame
    * values so checkpoint-materialized frames actually free their blocks).
    */
  def map[K, V](onEvict: V => Unit): TrieMap[K, V] = {
    val m = TrieMap.empty[K, V]
    synchronized { clearers += (() => { m.values.foreach(onEvict); m.clear() }) }
    m
  }

  def invalidateAll(): Unit = synchronized { clearers.foreach(_.apply()) }

  /** The eager memo form: materialize `df` once as a local checkpoint and
    * return a frame over it that carries what the planner needs.
    *  - Lineage: consumers plan over a scan of the rows, not the memo's
    *    build (the IVF-PQ explain was 27.5k lines of k-means before).
    *  - Size: the scan reports the checkpoint's measured block bytes. A
    *    bare checkpoint keeps the build plan's estimate, often far too
    *    large, so a small memo would sort-merge instead of broadcast.
    *  - Width: the partitions the build left, which after a shuffle is
    *    AQE's coalesced count, at most the session's shuffle partitions
    *    (the core count): a pin's scan runs at most one task per core.
    * A pin declares no layout: a declared one drops the consumer's
    * Exchange, so a query's final `orderBy` range-samples by re-running
    * the consumer's work from the scan (ROADMAP item 4). Values are
    * unchanged (the builders are deterministic). [[release]] frees the
    * checkpoint blocks.
    */
  def pin(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.graft.Bridge.measuredCheckpoint(df.localCheckpoint())

  /** The lazy memo form: hash-partition by `partCols`, sort within
    * partitions by `sortCols`, then `.cache()`. `InMemoryRelation` keeps
    * that partitioning and ordering, so consumers keyed the same way
    * elide their Exchange and Sort; the fill runs inside the first job
    * that reads the frame (a symbol-window consumer at sf0.1: 4 jobs /
    * ~420 ms warm → 3 jobs / ~240 ms).
    */
  def layout(df: org.apache.spark.sql.DataFrame,
             partCols: Seq[String], sortCols: Seq[String]): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.functions.col
    df.repartition(partCols.map(col): _*)
      .sortWithinPartitions(sortCols.map(col): _*)
      .cache()
  }

  /** Eviction hook for DataFrame-valued memos. `Dataset.unpersist` only
    * consults the CacheManager, which does not track the RDD-level
    * persistence `localCheckpoint` installs — so for a [[pin]] it is a
    * no-op and the blocks would stay resident until the ContextCleaner
    * eventually GCs the RDD. Walk the analyzed plan for the checkpoint's
    * `LogicalRDD` leaves and unpersist their RDDs directly, in addition
    * to the CacheManager path (which frees a [[layout]]).
    */
  def release(df: org.apache.spark.sql.DataFrame): Unit = {
    import scala.util.control.NonFatal
    try df.unpersist() catch { case NonFatal(_) => () }
    try df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        try lr.rdd.unpersist(blocking = false) catch { case NonFatal(_) => () }
      case _ => ()
    } catch { case NonFatal(_) => () }
  }
}
