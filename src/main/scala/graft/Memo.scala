package graft

import scala.collection.concurrent.TrieMap

/** The one registry of session memos: shared subplans (bars, shingles,
  * jaccard pairs, portfolio stats/frontier), reader plans and the
  * bucketed fact layout. Every memo is declared, filled and evicted here.
  *
  * A key is a memo name, unique per call site (`"TextPack.shingles"`),
  * followed by the parts that identify the input: usually the session
  * and dataset dir, plus a parameter, a frame instance or a
  * canonicalized plan where the memo is keyed on those. [[share]] runs
  * `build` on a miss and returns the stored value on a hit; a `build`
  * may itself call the registry for another key.
  *
  * Entries are never implicitly invalidated — correct for immutable
  * input datasets, a stale-read hazard for a long-lived session over
  * mutable paths. Such sessions call [[invalidateAll]] after
  * rewriting inputs: every entry runs its eviction once (for frames,
  * [[release]]) and the registry empties, so the next call rebuilds.
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
  import org.apache.spark.sql.DataFrame

  private final class Entry(val value: Any, val evict: () => Unit)

  private val registry = TrieMap.empty[Seq[Any], Entry]

  /** The frame memo under (`name`, `parts`); evicts through [[release]]. */
  def share(name: String, parts: Any*)(build: => DataFrame): DataFrame =
    shareWith[DataFrame](name, parts: _*)(release)(build)

  /** A memo of any value, evicted by `evict` on invalidation. */
  def shareWith[V](name: String, parts: Any*)(evict: V => Unit)(build: => V): V =
    registry.getOrElseUpdate(name +: parts, {
      val v = build
      new Entry(v, () => evict(v))
    }).value.asInstanceOf[V]

  /** Eviction for memos that hold a pair of frames. */
  def releasePair(p: (DataFrame, DataFrame)): Unit = { release(p._1); release(p._2) }

  def contains(name: String, parts: Any*): Boolean = registry.contains(name +: parts)

  /** Drop one entry now, running its eviction. */
  def evict(name: String, parts: Any*): Unit =
    registry.remove(name +: parts).foreach(_.evict())

  def invalidateAll(): Unit = synchronized {
    val entries = registry.values.toList
    registry.clear()
    entries.foreach(_.evict())
  }

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
  def pin(df: DataFrame): DataFrame =
    org.apache.spark.sql.graft.Bridge.measuredCheckpoint(df.localCheckpoint())

  /** The lazy memo form: hash-partition by `partCols`, sort within
    * partitions by `sortCols`, then `.cache()`. `InMemoryRelation` keeps
    * that partitioning and ordering, so consumers keyed the same way
    * elide their Exchange and Sort; the fill runs inside the first job
    * that reads the frame (a symbol-window consumer at sf0.1: 4 jobs /
    * ~420 ms warm → 3 jobs / ~240 ms).
    */
  def layout(df: DataFrame,
             partCols: Seq[String], sortCols: Seq[String]): DataFrame = {
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
  def release(df: DataFrame): Unit = {
    import scala.util.control.NonFatal
    try df.unpersist() catch { case NonFatal(_) => () }
    try df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        try lr.rdd.unpersist(blocking = false) catch { case NonFatal(_) => () }
      case _ => ()
    } catch { case NonFatal(_) => () }
  }
}
