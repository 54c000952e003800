package org.apache.spark.sql.graft

import org.apache.spark.{SparkContext, SparkEnv}
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.StageInfo
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.plans.logical.Statistics
import org.apache.spark.sql.classic
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.storage.RDDBlockId

/** Bridge into the `private[sql]` Column↔Expression converters — the
  * supported escape hatch for libraries that define native Catalyst
  * expressions against the classic SQL API (Spark 4 wraps Columns around
  * ColumnNodes, not Expressions) — into `Dataset.ofRows`, the block
  * manager's record of a checkpoint's blocks, the listener bus, and the
  * `private[spark]` operator scopes of a stage's RDDs.
  */
object Bridge {
  def toColumn(e: Expression): Column = ExpressionUtils.column(e)
  def toExpression(c: Column): Expression = ExpressionUtils.expression(c)

  /** Blocks until every event posted to `sc`'s listener bus so far has
    * been delivered: listeners, and the status store behind
    * `SparkContext.getRDDStorageInfo`, see a finished job only after it.
    */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** The plan operators that built a stage's RDDs (`Exchange`,
    * `WholeStageCodegen (2)`, ...), latest RDD first, each named once.
    */
  def operatorScopes(stage: StageInfo): Seq[String] =
    stage.rddInfos.sortBy(-_.id).flatMap(_.scope.map(_.name)).distinct

  /** A frame over the RDD of `checkpointed` (a local checkpoint) whose
    * `LogicalRDD` reports the RDD's measured block bytes as its size, or
    * the build plan's estimate when some partition has no block on
    * record. Built anew: `LogicalRDD` equality ignores its stats, so a
    * `transform` that only swaps them is dropped as unchanged.
    */
  def measuredCheckpoint(checkpointed: DataFrame): DataFrame = {
    val ds = checkpointed.asInstanceOf[classic.Dataset[Row]]
    val session = ds.sparkSession
    val lr = ds.queryExecution.analyzed.asInstanceOf[LogicalRDD]
    val stats = blockBytes(lr.rdd).map(b => Statistics(sizeInBytes = BigInt(b))).getOrElse(lr.stats)
    val node = LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning, lr.outputOrdering, lr.isStreaming)(
      session, Some(stats), Some(lr.constraints))
    classic.Dataset.ofRows(session, node)
  }

  /** Total bytes of `rdd`'s blocks, one per partition, or None if a
    * partition has none. Read from the BlockManagerMaster, which each
    * block put updates before its task ends; the status store behind
    * `SparkContext.getRDDStorageInfo` is filled later by the listener
    * bus and can still miss blocks when the checkpoint job returns.
    */
  private def blockBytes(rdd: RDD[_]): Option[Long] = {
    val master = SparkEnv.get.blockManager.master
    val perPartition = rdd.partitions.indices.map { p =>
      master.getBlockStatus(RDDBlockId(rdd.id, p), askStorageEndpoints = false)
        .values.map(b => b.memSize + b.diskSize).maxOption
    }
    if (perPartition.forall(_.isDefined)) Some(perPartition.flatten.sum) else None
  }
}
