package graft.tools

import graft.{GraftSession, SparkEntry}
import org.apache.spark.sql.execution.exchange.Exchange

/** Prints, per query, the properties that matter at scale: parquet
  * filter pushdown, pruned read schemas, whole-stage codegen coverage,
  * and the executed plan's Exchange and Sort counts and join kinds.
  * `runMain graft.tools.ExplainAudit <sfDir> [query...]`.
  */
object ExplainAudit {
  val Headliners = Seq(
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier",
    "q_ohlcv_1min", "q_backtest_ma_cross", "q_asof_join",
    "q_dedup_ngram_jaccard", "q_ann_cosine_topk",
    // round-2 surfaces
    "q_order_lifecycle", "q_fill_missing_interp", "q_max_sharpe",
    "q_derivatives_portfolio", "q_ann_ivf_topk", "q_dedup_embedding",
    "q_portfolio_multi_asset", "q_risk_parity_opt",
    // round-5/6 surfaces
    "q_decontaminate", "q_corpus_mix", "q_rolling_corr", "q_market_beta",
    "q_feature_importance", "q_strategy_comparison", "q_lang_id",
    // round-7: the full r06 perf-weak set is audited every round
    "q_winnow_fingerprint", "q_drawdown_series", "q_var_cvar",
    "q_risk_snapshot", "q_dedup_clusters",
    // round-7 join-back eliminations: single-lineage window forms
    // (q_risk_parity_opt already audited in the round-2 block)
    "q_funnel", "q_retention_cohorts", "q_train_test_split",
    "q_clean_pipeline",
    // round-8: the rows-only production variants the driver now runs
    "q_dau_wau_approx", "q_var_cvar_approx", "q_ann_ivf_auto",
    // round-9: the semantic-cluster family over the shared k-means,
    // and the tf-idf term extractor
    "q_semantic_clusters", "q_sample_semantic", "q_tfidf_topterms",
    // round-10: the bisection implied-vol expression (must codegen)
    "q_implied_vol",
    // round-10 continuation: the PQ/quantize/shard/mix additions
    "q_ann_pq_topk", "q_embed_quantize", "q_shard_manifest",
    "q_mix_temperature", "q_ann_ivfpq_topk", "q_chunk_docs",
    "q_source_overlap", "q_padding_waste", "q_topic_balance",
    "q_dau_wau",
    // round-10 retrieval family: BM25, kNN graph, RRF fusion + audits
    "q_bm25_topk", "q_knn_graph", "q_rrf_hybrid",
    "q_knn_purity", "q_quality_deciles", "q_ngram_novelty",
    "q_dedup_semantic", "q_bpe_pair_freqs", "q_graph_rank", "q_triplet_mining")

  /** Executed WindowExec count: descends AQE query stages, skips
    * InMemoryRelation cached lineage. Pinned per-query by
    * WindowLayeringSpec so a withColumn chain can't silently regress a
    * layered plan back to one WindowExec per expression.
    */
  def countWindows(p: org.apache.spark.sql.execution.SparkPlan): Int = {
    val self = p match {
      case _: org.apache.spark.sql.execution.window.WindowExec => 1
      case _ => 0
    }
    val below = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        countWindows(q.plan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        countWindows(a.executedPlan)
      case _ => p.children.map(countWindows).sum
    }
    self + below
  }

  /** Every node of the EXECUTED plan, descending AQE query stages (but
    * not InMemoryRelation cached lineage — those operators ran at cache
    * fill, not in this query). Shared by the engine-wide PlanGuardSpec.
    */
  def collectNodes(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    val below = p match {
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        collectNodes(q.plan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        collectNodes(a.executedPlan)
      case _ => p.children.flatMap(collectNodes)
    }
    p +: below
  }

  def main(args: Array[String]): Unit = {
    val d = args.headOption.getOrElse("/root/testdata/sf0.01")
    // Default (r11): EVERY registered query, sorted — EXPLAIN_r10.txt
    // covered only the 57 Headliners and the three operators that landed
    // after it skipped the round's own quality gates (r10 verdict task
    // 5). Pass explicit names to audit a subset; `headliners` selects
    // the historical set.
    val names =
      if (args.length > 1 && args(1) == "headliners") Headliners
      else if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.get("explain-audit")
    var cartesians = 0
    names.foreach { name =>
      val plan = SparkEntry.queries(name)(spark, d).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      val scans = plan.linesIterator.filter(l =>
        l.contains("PushedFilters") || l.contains("ReadSchema")).map(_.trim).toSeq
      // execute so AQE finalizes; codegen stages appear as *(n) markers
      val df2 = SparkEntry.queries(name)(spark, d)
      df2.collect()
      val finalPlan = df2.queryExecution.executedPlan match {
        case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
          a.executedPlan.toString
        case other => other.toString
      }
      val codegenSpans = "\\*\\((\\d+)\\)".r.findAllMatchIn(finalPlan).map(_.group(1)).toSet.size
      // row-copying window operators actually executed — the layering
      // work (r07) keeps this at one per dependency LAYER, not one per
      // window expression. Tree traversal (not string grep): descends
      // AQE query stages, but NOT InMemoryRelation's cached lineage
      // (a memoized frame's windows ran once at cache fill, not here).
      val windowExecs = countWindows(df2.queryExecution.executedPlan)
      val executed = collectNodes(df2.queryExecution.executedPlan)
      val cart = executed.count(
        _.isInstanceOf[org.apache.spark.sql.execution.joins.CartesianProductExec])
      cartesians += cart
      val joins = executed.collect {
        case j: org.apache.spark.sql.execution.joins.BaseJoinExec => j.nodeName
      }.groupBy(identity).toSeq.sortBy(_._1).map { case (k, v) => s"$k*${v.size}" }
      println(s"==== $name")
      scans.foreach(l => println(s"  scan: ${l.take(160)}"))
      println(s"  codegen spans: $codegenSpans")
      println(s"  window execs: $windowExecs")
      println(s"  cartesian products: $cart")
      // the executed (AQE-final) plan's shape on one line per query: diff
      // two runs' AUDIT lines for a before/after plan summary
      println(s"AUDIT $name exchanges=${executed.count(_.isInstanceOf[Exchange])} " +
        s"sorts=${executed.count(_.isInstanceOf[org.apache.spark.sql.execution.SortExec])} " +
        s"joins=${if (joins.isEmpty) "-" else joins.mkString(",")}")
    }
    println(s"==== TOTAL queries=${names.size} cartesian_products=$cartesians")
    spark.stop()
  }
}
