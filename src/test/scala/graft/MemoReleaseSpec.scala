package graft

import org.scalatest.funsuite.AnyFunSuite

/** ADVICE r15 (Micro.scala:123): Dataset.unpersist is a no-op for
  * localCheckpoint-materialized memo frames — only the CacheManager is
  * consulted, not the RDD-level persistence the checkpoint installed.
  * Memo.release walks the LogicalRDD leaves and unpersists their RDDs;
  * this spec proves invalidateAll actually frees the blocks (before the
  * fix, the checkpointed RDDs stayed in getPersistentRDDs until GC).
  */
class MemoReleaseSpec extends AnyFunSuite {
  private val spark = TestSpark.spark
  private val sf = TestSpark.Sf

  test("invalidateAll frees checkpoint-materialized memo blocks") {
    Memo.invalidateAll()
    // give the (synchronous) unpersists a beat, then snapshot
    val before = spark.sparkContext.getPersistentRDDs.keySet
    // fill several checkpoint-backed memos (bag-of-words, idf, cum ticks)
    SparkEntry.queries("q_tfidf_topterms")(spark, sf).count()
    SparkEntry.queries("q_dollar_bars")(spark, sf).count()
    val during = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(during.nonEmpty,
      "memo fill must persist checkpoint RDDs (otherwise this spec tests nothing)")
    Memo.invalidateAll()
    val after = spark.sparkContext.getPersistentRDDs.keySet
    val leaked = during.intersect(after)
    assert(leaked.isEmpty,
      s"invalidateAll left ${leaked.size} checkpointed RDD(s) persistent: $leaked")
  }

  /** Memo.pin is the one eager form: a single checkpoint (no cache
    * layer) whose scan carries the measured block bytes as its size, so
    * a small memo built from an over-estimating plan still broadcasts.
    */
  test("pin keeps one checkpoint that carries its measured size") {
    import org.apache.spark.sql.execution.LogicalRDD
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    import org.apache.spark.sql.functions._
    import org.apache.spark.storage.StorageLevel
    def checkpointRdds(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.collect { case lr: LogicalRDD => lr.rdd }
    // five rows whose build plan estimates megabytes
    def small() = spark.range(0, 1000000).groupBy((col("id") % 5).as("k")).count()
    val pinned = Memo.pin(small())
    assert(checkpointRdds(pinned).size == 1, "pin must truncate lineage to a checkpoint leaf")
    assert(pinned.storageLevel == StorageLevel.NONE)
    assert(pinned.queryExecution.analyzed.collectFirst { case r: InMemoryRelation => r }.isEmpty,
      "pin must not add a cache layer")
    val id = checkpointRdds(pinned).head.id
    val bytes = org.apache.spark.BlockManagerAccess.rddBlockBytes(id).values.sum
    assert(bytes > 0)
    assert(pinned.queryExecution.optimizedPlan.stats.sizeInBytes == BigInt(bytes))

    val key = "spark.sql.autoBroadcastJoinThreshold"
    val threshold = spark.conf.get(key)
    spark.conf.set(key, 1024L * 1024)
    try {
      val bare = small().localCheckpoint()
      assert(bare.queryExecution.optimizedPlan.stats.sizeInBytes > 1024 * 1024,
        "the bare checkpoint must over-estimate, or the join below tests nothing")
      val facts = spark.range(0, 100000).select((col("id") % 5).as("k"))
      val joined = facts.join(pinned, "k")
      assert(joined.queryExecution.sparkPlan.collectFirst { case j: BroadcastHashJoinExec => j }.nonEmpty,
        joined.queryExecution.sparkPlan.treeString)
      assert(joined.count() == 100000)
      Memo.release(bare)
    } finally spark.conf.set(key, threshold)

    assert(Memo.share("MemoReleaseSpec.small")(pinned) eq pinned)
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    Memo.invalidateAll()
    assert(!spark.sparkContext.getPersistentRDDs.contains(id))
  }

  /** The size must count every partition's block as soon as pin
    * returns, even while the status store still lags: the planner
    * broadcasts whatever reads as small, so a partial count would
    * broadcast a large memo.
    */
  test("pin's size counts every partition's block as soon as pin returns") {
    import org.apache.spark.sql.execution.LogicalRDD
    val rows = 80000L
    val resume = org.apache.spark.ListenerBusAccess.holdStatusQueue(spark.sparkContext)
    val pinned = try Memo.pin(spark.range(0, rows, 1, 8).selectExpr("id", "id * 2 as v"))
      finally resume()
    val size = pinned.queryExecution.optimizedPlan.stats.sizeInBytes
    val rdd = pinned.queryExecution.analyzed.collectFirst { case lr: LogicalRDD => lr.rdd }.get
    val blocks = org.apache.spark.BlockManagerAccess.rddBlockBytes(rdd.id)
    assert(rdd.partitions.length == 8 && blocks.keySet == (0 until 8).toSet, blocks)
    assert(size == BigInt(blocks.values.sum))
    // two longs a row, at the least
    assert(size >= rows * 16, s"$size bytes for $rows rows")
    Memo.release(pinned)
  }

  /** r17 Memo.layout (guide §2.4): a memo cached pre-partitioned by its
    * consumers' clustering key and pre-sorted by their window order must
    * (a) hold exactly the same rows and (b) let a symbol-window consumer
    * plan WITHOUT a shuffle before the window — the session-memo analog
    * of a bucketed+sorted table. Guards the layout against a Spark
    * upgrade silently dropping cached-plan partitioning propagation.
    */
  test("layout elides the consumer window's exchange and keeps values") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    def mkBars() = spark.range(0, 400).selectExpr(
      "concat('S', id % 7) as symbol", "id as bucket_ms", "(id * 37 % 100) as close")
    val plain = mkBars().cache()
    val laid = Memo.layout(mkBars(), Seq("symbol"), Seq("symbol", "bucket_ms"))
    val w = Window.partitionBy("symbol").orderBy("bucket_ms")
    def consume(src: org.apache.spark.sql.DataFrame) = src
      .withColumn("mm", max("close").over(w.rowsBetween(-3, 0)))
      .orderBy("symbol", "bucket_ms")
    val a = consume(plain).collect().toSeq
    val b = consume(laid).collect().toSeq
    assert(a == b, "layout must not change values or output order")
    def shufflesBelowWindow(df: org.apache.spark.sql.DataFrame): Int = {
      df.queryExecution.toRdd.count() // finalize AQE
      val plan = df.queryExecution.executedPlan.toString
      // count executed exchanges ABOVE the memo scan: the laid plan's
      // only exchange is the terminal range sort
      "Exchange (hash|range)partitioning".r.findAllIn(
        plan.split("InMemoryRelation").head).length
    }
    val plainEx = shufflesBelowWindow(consume(plain))
    val laidEx = shufflesBelowWindow(consume(laid))
    assert(laidEx < plainEx,
      s"laid consumer must shuffle less than plain ($laidEx vs $plainEx)")
    assert(laidEx == 1, s"laid consumer should keep only the final sort exchange, saw $laidEx")
    plain.unpersist(); laid.unpersist()
  }
}
