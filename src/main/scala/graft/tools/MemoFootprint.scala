package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.graft.Bridge

/** Memo storage-pressure audit (VERDICT r16 item 4): fills the session
  * memo graph by running the memo-heavy query families once, then dumps
  * every persisted RDD's memory/disk footprint from the block manager —
  * the resident cost of the memo checkpoints and caches, per memo class
  * and per SF.
  *
  * `runMain graft.tools.MemoFootprint <sfDir> [query,query,...]`
  */
object MemoFootprint {
  private val MemoHeavy = Seq(
    // bars/ticks cumulative frames
    "q_stochastic", "q_roll_spread", "q_price_impact_curve",
    // text/corpus shingle + token memos
    "q_dedup_minhash_lsh", "q_ngram_novelty", "q_decontaminate",
    "q_eval_coverage", "q_bm25_topk", "q_unigram_logprob",
    // dedup signatures + band frames
    "q_dedup_simhash", "q_media_neardup",
    // ANN: kmeans, PQ, pool, edges, brute ground truth
    "q_ann_ivfpq_topk", "q_ann_recall_audit", "q_knn_graph",
    "q_dedup_embedding", "q_ann_beam_topk",
    // backtest/market-job aggregate memos
    "q_feature_importance", "q_market_job_summary", "q_ml_features",
    "q_portfolio_multi_asset")

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.1")
    val names = args.lift(1).map(_.split(",").toSeq).getOrElse(MemoHeavy)
    val spark = GraftSession.get("graft-memofootprint")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => () }
    for (n <- names)
      try SparkEntry.queries(n)(spark, d).queryExecution.toRdd.count()
      catch { case e: Throwable =>
        System.err.println(s"[memofootprint] $n failed: ${e.getMessage}") }
    // the status store behind getRDDStorageInfo lags the block manager
    // until the listener bus has delivered every block update
    Bridge.drainListenerBus(spark.sparkContext)
    val infos = spark.sparkContext.getRDDStorageInfo
      .filter(i => i.memSize + i.diskSize > 0).sortBy(-_.memSize)
    var totMem = 0L; var totDisk = 0L
    infos.foreach { i =>
      totMem += i.memSize; totDisk += i.diskSize
      println(f"MEMO rdd=${i.id}%5d mem=${i.memSize / 1024.0 / 1024}%9.2f MB " +
        f"disk=${i.diskSize / 1024.0 / 1024}%8.2f MB parts=${i.numCachedPartitions}%3d " +
        s"name=${Option(i.name).getOrElse("").take(90)}")
    }
    println(f"MEMO TOTAL mem=${totMem / 1024.0 / 1024}%.2f MB " +
      f"disk=${totDisk / 1024.0 / 1024}%.2f MB rdds=${infos.length} sf=$d")
    // executor/storage memory ceiling for context
    val mem = Runtime.getRuntime.maxMemory() / 1024.0 / 1024
    println(f"MEMO HEAP max=${mem}%.0f MB")
    spark.stop()
  }
}
