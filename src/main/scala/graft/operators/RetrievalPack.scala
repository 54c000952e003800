package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Retrieval-side operators over the `documents`/`embeddings` corpus —
  * the serving-time complement of the indexing pipeline (chunking, ANN,
  * tf-idf): lexical BM25 search, the all-corpus kNN graph, and hybrid
  * lexical+vector retrieval fused by reciprocal rank.
  *
  * Scale shapes:
  * - BM25 is two hash aggregates over one token explode plus a
  *   broadcast of the (tiny) query-term/df/stat tables; ranking uses the
  *   two-level top-k (per-split winners first) so no task ever sorts the
  *   full scored corpus — the [[Ann.bruteTopK]] posture.
  * - The kNN graph rides the SAME auto-sized hyperplane LSH blocking as
  *   q_dedup_embedding (bounded, data-independent buckets, 2000-entry
  *   cap), so per-node candidate lists are bounded by bands x cap and
  *   the final per-node rank never sorts row-scale data.
  * - RRF fusion is pure integer arithmetic: u = 10^9 div (60 + rank) per
  *   list, summed as exact longs — no float summation anywhere, so the
  *   fused ranking is reproducible bit-for-bit on any engine.
  *
  * Parity: per-(doc, term) BM25 scores are snapped to integer
  * micro-units (floor(x*1e6+0.5)) BEFORE the cross-term sum, so the
  * document score is an exact integer sum (float summation order can
  * never flip a rank); ln/÷ structure is written identically in the
  * DuckDB mirrors.
  */
object RetrievalPack extends QueryPack {

  /** BM25 constants (the standard Robertson defaults). */
  private val K1 = 1.2
  private val B = 0.75

  /** The fixed keyword query for the oracled lexical-search row (query
    * text is a parameter in the library API; the registered query pins
    * one so the mirror can reproduce it).
    */
  val QueryTerms: Seq[String] = Seq("vector", "hash", "join", "window")

  /** RRF constant (the standard k=60) and its integer unit scale. */
  private val RrfK = 60L
  private val RrfUnit = 1000000000L

  /** Session-memoized per-(doc, token) BM25-scored term table:
    * (doc_id, tok, tf, dl, df, u) where dl = doc length (a window over
    * ≤ doc-length rows per doc, bounded at any corpus size), df = the
    * GLOBAL document frequency (a hash aggregate, broadcast back at
    * this vocab — the same web-vocab shuffle-join adjudication as
    * q_tfidf_topterms), and u = the snapped per-term BM25 micro-units.
    * u depends only on (tf, dl, df, corpus stats) — never on the query —
    * so ONE cached scoring pass serves every lexical-search consumer;
    * per-query work is just a broadcast term join plus an integer-sum
    * aggregate. Registered in Memo so invalidateAll unpersists it.
    *
    * u mirrors the oracle SQL token-for-token:
    * u = floor(ln((n_docs - df + 0.5)/(df + 0.5) + 1.0)
    *         * ((tf * (K1+1)) / (tf + K1 * (1 - B + B * dl / avgdl)))
    *         * 1e6 + 0.5)
    */
  private def tfScoredCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("RetrievalPack.tfScored", s, d) {
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
        .withColumn("dl", sum(col("tf")).over(Window.partitionBy("doc_id")))
      val dfreq = tf.groupBy("tok").agg(count(lit(1)).as("df"))
      val stats = Tables.documents(s, d)
        .agg(count(lit(1)).as("n_docs"),
          sum(size(split(col("text"), " ")).cast("long")).as("total_toks"))
      tf.join(broadcast(dfreq), "tok")
        .crossJoin(broadcast(stats))
        .withColumn("avgdl", col("total_toks").cast("double") / col("n_docs"))
        .withColumn("u",
          floor(
            log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0) *
              ((col("tf") * lit(K1 + 1)) /
                (col("tf") + lit(K1) * (lit(1.0 - B) + lit(B) * col("dl") / col("avgdl")))) *
              lit(1e6) + 0.5).cast("long"))
        .select("doc_id", "tok", "tf", "dl", "df", "u")
        .transform(graft.Memo.pin)
    }

  /** Session-memoized symmetrized top-3 kNN edge frame
    * (vec_id, nbr, cosine, rank) over the shared LSH pool — ONE
    * two-level rank serves q_knn_graph, q_knn_purity AND the PageRank
    * edge build (r12: the 30x rehearsal measured each consumer paying
    * the full 12-15 s rank per WARM call because only the pool, not
    * the ranked graph, was memoized). Two-level because a hot vector's
    * partner list is bounded by bands x bucket cap (~48k worst case)
    * and must not sort in one task; same top-3 set as a global rank.
    */
  private def knnEdgesCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("RetrievalPack.knnEdges", s, d) {
      val e = AnnPack.candScoresCached(s, d)
      val dirs = e.select(col("v1").as("vec_id"), col("v2").as("nbr"), col("cosine"))
        .unionByName(e.select(col("v2").as("vec_id"), col("v1").as("nbr"), col("cosine")))
      twoLevelRank(dirs, Seq("vec_id"), k = 3, score = "cosine", id = "nbr")
        .transform(graft.Memo.pin)
    }

  /** Session-memoized PageRank table over the kNN top-3 graph — the
    * q_graph_rank result frame (vec_id, r_u).
    *
    * Graph-based quality propagation: 3 PageRank iterations over the
    * symmetrized kNN top-3 graph (d = 0.85) — the centrality signal a
    * curation pipeline reads as "how referenced is this doc's
    * neighborhood" (the graph analogue of the CC dedup-cluster pass;
    * together they cover the two iterative-graph patterns).
    *
    * EXACT integer arithmetic end-to-end: ranks live in 10^12 units,
    * per-edge contribution is rank div out-degree (integer division),
    * damping is (85·x) div 100 — no float accumulates anywhere, so
    * iteration order and partitioning can never flip a value and the
    * oracle unrolls the identical three steps. Dangling mass is dropped
    * (nodes outside the candidate pool keep only the teleport term —
    * the standard simplified-PageRank curation score).
    *
    * Scale (r10 verdict task 2): the edge list is cached+materialized
    * once, and EVERY iteration is cached, materialized, and its
    * predecessor deterministically unpersisted — the ConnectedComponents
    * truncation pattern. The executed plan per iteration is therefore
    * one shuffle-join of the cached (≤3·n-row) edge list against the
    * cached previous ranks plus a hash aggregate; the final
    * materialization reads ONE cached leaf instead of re-executing a
    * 3-deep join tree that re-reads the edge list three times (the
    * uncached pre-r11 shape, which cannot survive 100x or deeper
    * iteration counts). Recompute lineage stays live (plain caches), so
    * an evicted partition recomputes instead of failing.
    */
  private def graphRankCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("RetrievalPack.graphRank", s, d) {
      val dirs = knnEdgesCached(s, d)
        .select(col("vec_id").as("src"), col("nbr").as("dst"))
      val emb = AnnPack.embCached(s, d)
      val n = emb.count()
      val nodes = emb.select(col("vec_id"))
      val edges = dirs.join(
        dirs.groupBy("src").agg(count(lit(1)).as("outdeg")), "src").cache()
      edges.count()
      val teleport = 150000000000L / n
      var ranks = nodes.withColumn("r_u", lit(1000000000000L / n))
      var prev: Option[DataFrame] = None
      for (_ <- 1 to 3) {
        val contrib = edges.join(ranks.withColumnRenamed("vec_id", "src"), "src")
          .select(col("dst").as("vec_id"),
            expr("r_u div outdeg").as("c"))
          .groupBy("vec_id").agg(sum(col("c")).as("in_mass"))
        val next = nodes.join(contrib, Seq("vec_id"), "left")
          .select(col("vec_id"),
            (lit(teleport) +
              expr("85 * coalesce(in_mass, cast(0 as bigint)) div 100")).as("r_u"))
          .cache()
        next.count()
        prev.foreach(_.unpersist(blocking = false))
        prev = Some(next)
        ranks = next
      }
      // the final iteration stays cached (Memo eviction unpersists it);
      // the edge cache is scaffolding — free it now, recompute is live
      edges.unpersist(blocking = false)
      ranks
    }

  /** Deterministic random-negative partner per anchor: for each anchor
    * id q (vec_id < 10), partner(q) = argmin over OBSERVED vec_ids v ≠ q
    * of md5("q#v") (ties by v). Defined on ANY id space and self-free by
    * construction — the r10 verdict/ADVICE defect in the LCG form
    * `(q·7919+37) % n` was exactly that it assumed a dense [0, n) id
    * space (9/10 partners silently dropped on sparse replica ids at 10x)
    * and could emit partner == q on particular corpus sizes. Plan shape:
    * broadcast anchors × one corpus scan of the id column → partial min
    * aggregate (map-side combine, 10 rows out) — the bruteTopK posture,
    * no global sort, no dense-rank window.
    */
  private[graft] def randomNegativePartners(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"))
      .crossJoin(broadcast(
        emb.filter(col("vec_id") < 10).select(col("vec_id").as("q_id"))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("h",
        md5(concat(col("q_id").cast("string"), lit("#"), col("vec_id").cast("string"))))
      .groupBy("q_id").agg(min(struct(col("h"), col("vec_id"))).as("m"))
      .select(col("q_id"), col("m.vec_id").as("vec_id"))

  /** Two-level top-k rank by (score desc, id asc): local winners per
    * input split first so the global rank runs over ≤ k·splits rows per
    * group — never the full scored corpus in one task.
    */
  private def twoLevelRank(df: DataFrame, part: Seq[String], k: Int,
                           score: String, id: String): DataFrame = {
    val localW = Window
      .partitionBy((part.map(col) :+ col("_split")): _*)
      .orderBy(col(score).desc, col(id))
    val globalW = Window
      .partitionBy(part.map(col): _*)
      .orderBy(col(score).desc, col(id))
    df.withColumn("_split", spark_partition_id())
      .withColumn("_lrk", row_number().over(localW))
      .filter(col("_lrk") <= k)
      .withColumn("rank", row_number().over(globalW).cast("long"))
      .filter(col("rank") <= k)
      .drop("_split", "_lrk")
  }

  /** Session-memoized lexical arm of q_rrf_hybrid (r16): BM25 top-10
    * docs per query doc (the 10 bench query docs' own distinct tokens as
    * the query, self excluded). The scored-term-table join + (q, doc)
    * aggregate behind it is a full pass over the cached tf table —
    * filled once per session; the frame is ≤ 10·10 rows.
    */
  private def lexTopCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("RetrievalPack.lexTop", s, d) {
      val tf = tfScoredCached(s, d)
      val qtok = tf.filter(col("doc_id") < 10)
        .select(col("doc_id").as("q_id"), col("tok")).distinct()
      val lexScored = tf.join(broadcast(qtok), "tok")
        .filter(col("doc_id") =!= col("q_id"))
        .groupBy("q_id", "doc_id")
        .agg(sum(col("u")).as("score_u"))
      twoLevelRank(lexScored, Seq("q_id"), k = 10,
        score = "score_u", id = "doc_id")
        .select(col("q_id"), col("doc_id"), col("rank").as("lex_rank"))
        .transform(graft.Memo.pin)
    }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bm25_topk" -> ((s, d) => {
      // Lexical search: BM25 top-10 docs for a fixed keyword query.
      // Candidates = docs containing any query term (inverted-index
      // semantics: the broadcast term join prunes the scored term table
      // before aggregation). Per-term micro-units come precomputed off
      // the memoized scoring pass — per-query work is one broadcast
      // join plus an exact integer-sum aggregate.
      import s.implicits._
      val qterms = QueryTerms.toDF("tok")
      val scored = tfScoredCached(s, d).join(broadcast(qterms), "tok")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit_terms"), sum(col("u")).as("score_u"))
      twoLevelRank(scored, Seq.empty, k = 10, score = "score_u", id = "doc_id")
        .select(col("doc_id"), col("n_hit_terms"), col("score_u"),
          (col("score_u") / lit(1e6)).as("score"), col("rank"))
        .orderBy("rank")
    }),
    "q_knn_graph" -> ((s, d) => {
      // All-corpus kNN graph: top-3 neighbors per vector among the LSH
      // candidate pairs (the dedup blocking reused as a graph sampler —
      // the corpus-curation primitive behind connected quality
      // propagation and diversity audits). Rides the SAME session-
      // cached scored candidate pool as q_dedup_embedding (one
      // hyperplane pass serves both); symmetrize the v1<v2 edges, then
      // rank per node over its bounded candidate list.
      // the session-memoized ranked graph (shared with purity/PageRank)
      knnEdgesCached(s, d)
        .select("vec_id", "nbr", "cosine", "rank")
        .orderBy("vec_id", "rank")
    }),
    "q_knn_degree_stats" -> ((s, d) => {
      // Graph-health audit of the directed top-3 kNN graph: the
      // in-degree histogram (out-degree is <= 3 by construction; the
      // IN-degree tail is where hub vectors — degenerate embeddings,
      // near-constant vectors — show up before they poison PageRank or
      // beam search). Isolated vectors land in the indeg=0 bucket via
      // the left join against the full vector set. Rides the memoized
      // ranked edge frame; one hash aggregate + a histogram over a
      // degree-bounded key space.
      val indeg = knnEdgesCached(s, d)
        .groupBy(col("nbr").as("vec_id")).agg(count(lit(1)).as("indeg"))
      AnnPack.embCached(s, d).select("vec_id")
        .join(indeg, Seq("vec_id"), "left")
        .select(coalesce(col("indeg"), lit(0L)).as("indeg"))
        .groupBy("indeg").agg(count(lit(1)).as("n_vectors"))
        .orderBy("indeg")
    }),
    "q_graph_rank" -> ((s, d) =>
      graphRankCached(s, d)
        .select(col("vec_id"), col("r_u"), (col("r_u") / lit(1e12)).as("rank_score"))
        .orderBy(col("r_u").desc, col("vec_id"))),
    "q_triplet_mining" -> ((s, d) => {
      // Contrastive training-data mining (the embedding-model training
      // recipe): for each anchor, a positive (its nearest neighbor), the
      // hard negatives (ranks 6-10 — close enough to be informative,
      // far enough to be wrong), and a deterministic random negative
      // (hash-argmin partner over the OBSERVED id set — see
      // randomNegativePartners; reproducible on any engine/partitioning
      // and any id space, 1+5+1 rows per anchor GUARANTEED). Rides the
      // cached embedding frame and the same brute top-k machinery as
      // the ANN baseline; anchors are a broadcast-size query set, so
      // the scan shape is one corpus pass.
      val emb = AnnPack.embCached(s, d)
      // the shared session-memoized brute top-10 (r16) — fourth consumer
      // of the one corpus dot-product pass
      val topk = AnnPack.bruteTopCached(s, d)
      val pos = topk.filter(col("rank") === 1)
        .select(col("q_id"), col("vec_id"), col("cosine"), lit("pos").as("label"))
      val hard = topk.filter(col("rank") >= 6)
        .select(col("q_id"), col("vec_id"), col("cosine"), lit("hard_neg").as("label"))
      val qs = emb.filter(col("vec_id") < 10)
        .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
      val rand = emb.select(col("vec_id"), col("e"), col("nrm"))
        .join(broadcast(randomNegativePartners(emb).join(qs, "q_id")), "vec_id")
        .select(col("q_id"), col("vec_id"),
          graft.functions.Port.r(
            Ann.dot(col("e"), col("qe")) / (col("qn") * col("nrm")), 6).as("cosine"),
          lit("rand_neg").as("label"))
      pos.unionByName(hard).unionByName(rand)
        .orderBy("q_id", "label", "vec_id")
    }),
    "q_knn_purity" -> ((s, d) => {
      // Embedding-quality audit: per-label agreement of the kNN graph —
      // the fraction of each node's top-3 LSH neighbors that share its
      // label. Low purity = the embedding space doesn't separate that
      // topic (retrain/re-embed signal); the audit a mix/curriculum
      // decision reads next to q_topic_balance. Rides the shared scored
      // candidate pool + cached embedding frame: marginal cost is one
      // bounded per-node rank + two label joins + a label-cardinality
      // aggregate. Purity is one division of exact integer counts.
      val lab = AnnPack.embCached(s, d).select(col("vec_id"), col("label"))
      // the session-memoized ranked graph (shared with q_knn_graph)
      val dirs = knnEdgesCached(s, d)
      dirs.join(lab, "vec_id")
        .join(lab.select(col("vec_id").as("nbr"), col("label").as("nbr_label")), "nbr")
        .withColumn("same", (col("nbr_label") === col("label")).cast("long"))
        .groupBy(col("label").cast("long").as("label"))
        .agg(countDistinct(col("vec_id")).as("n_nodes"),
          count(lit(1)).as("n_edges"),
          sum(col("same")).as("n_same_label"))
        .withColumn("purity",
          graft.functions.Port.r(col("n_same_label") / col("n_edges"), 6))
        .orderBy("label")
    }),
    "q_rrf_hybrid" -> ((s, d) => {
      // Hybrid retrieval: for each of the 10 query docs, fuse the
      // lexical BM25 top-10 (query = the doc's own distinct tokens,
      // self excluded) with the embedding cosine top-10
      // (Ann.bruteTopK — vec_id aligns with doc_id in this corpus) by
      // reciprocal rank: u = 10^9 div (60 + rank), an exact integer per
      // list, summed. Missing-from-list ranks emit 0 (never null, so
      // the fused frame is join-order-free and portable).
      // both retrieval arms ride session memos (r16): the lexical
      // doc-as-query BM25 top-10 (lexTopCached below — its scored-table
      // join + aggregate was this query's heaviest stage, ~8 s taskTime
      // per warm call at sf0.1) and the embedding top-10 (the brute
      // cosine pass shared with q_ann_cosine_topk / q_ann_recall_audit).
      // Per run the fusion itself — full-outer join, exact-integer RRF,
      // rank, sort — still executes; the values are identical.
      val lexTop = lexTopCached(s, d)
      val vecTop = AnnPack.bruteTopCached(s, d)
        .select(col("q_id"), col("vec_id").as("doc_id"), col("rank").as("vec_rank"))
      lexTop.join(vecTop, Seq("q_id", "doc_id"), "full_outer")
        .select(col("q_id"), col("doc_id"),
          coalesce(col("lex_rank"), lit(0L)).as("lex_rank"),
          coalesce(col("vec_rank"), lit(0L)).as("vec_rank"))
        .withColumn("rrf_u",
          when(col("lex_rank") > 0, expr(s"$RrfUnit div (${RrfK} + lex_rank)")).otherwise(0L) +
            when(col("vec_rank") > 0, expr(s"$RrfUnit div (${RrfK} + vec_rank)")).otherwise(0L))
        .withColumn("rank", row_number().over(
          Window.partitionBy("q_id").orderBy(col("rrf_u").desc, col("doc_id"))).cast("long"))
        .filter(col("rank") <= 5)
        .select("q_id", "doc_id", "lex_rank", "vec_rank", "rrf_u", "rank")
        .orderBy("q_id", "rank")
    })
  )

  /** Shared mirror CTEs: tf/dl/df/stat tables (tfd final). */
  private val TfCte: String =
    """toks AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |),
      |tf0 AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
      |tfd AS (
      |  SELECT doc_id, tok, tf, sum(tf) OVER (PARTITION BY doc_id) AS dl
      |  FROM tf0
      |),
      |stats AS (
      |  SELECT count(*) AS n_docs,
      |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_toks
      |  FROM documents
      |)""".stripMargin

  /** The snapped per-term BM25 micro-unit expression (mirror of bm25u). */
  private val Bm25uSql: String =
    s"""floor(ln((n_docs - df + 0.5) / (df + 0.5) + 1.0)
       |  * ((tf * ${K1 + 1}) / (tf + $K1 * (${1.0 - B} + $B * dl / avgdl)))
       |  * 1e6 + 0.5)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_bm25_topk" -> {
      val terms = QueryTerms.map(t => s"('$t')").mkString(", ")
      s"""WITH $TfCte,
         |qterms AS (SELECT * FROM (VALUES $terms) q(tok)),
         |cand AS (SELECT t.* FROM tfd t JOIN qterms q ON t.tok = q.tok),
         |dfreq AS (SELECT tok, count(*) AS df FROM cand GROUP BY 1),
         |scored AS (
         |  SELECT c.doc_id, count(*) AS n_hit_terms,
         |         CAST(sum(CAST($Bm25uSql AS BIGINT)) AS BIGINT) AS score_u
         |  FROM cand c
         |  JOIN dfreq f ON c.tok = f.tok
         |  CROSS JOIN (SELECT n_docs, CAST(total_toks AS DOUBLE) / n_docs AS avgdl
         |              FROM stats) s
         |  GROUP BY c.doc_id
         |)
         |SELECT doc_id, n_hit_terms, score_u, score_u / 1e6 AS score, rank FROM (
         |  SELECT *, CAST(row_number() OVER (ORDER BY score_u DESC, doc_id) AS BIGINT) AS rank
         |  FROM scored)
         |WHERE rank <= 10 ORDER BY rank""".stripMargin
    },
    "q_knn_graph" -> (KnnCteSql + """
        |SELECT vec_id, nbr, cosine, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
        |    ORDER BY cosine DESC, nbr) AS BIGINT) AS rank
        |  FROM dirs)
        |WHERE rank <= 3 ORDER BY vec_id, rank""".stripMargin),
    "q_knn_degree_stats" -> (KnnCteSql + """,
        |top3 AS (
        |  SELECT vec_id, nbr FROM (
        |    SELECT *, CAST(row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cosine DESC, nbr) AS BIGINT) AS rank
        |    FROM dirs)
        |  WHERE rank <= 3
        |),
        |indeg AS (SELECT nbr AS vec_id, count(*) AS indeg FROM top3 GROUP BY 1),
        |degs AS (
        |  SELECT CAST(coalesce(i.indeg, 0) AS BIGINT) AS indeg
        |  FROM embeddings e LEFT JOIN indeg i ON e.vec_id = i.vec_id
        |)
        |SELECT indeg, count(*) AS n_vectors
        |FROM degs GROUP BY indeg ORDER BY indeg""".stripMargin),
    "q_knn_purity" -> (KnnCteSql + s""",
        |top3 AS (
        |  SELECT vec_id, nbr FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cosine DESC, nbr) AS rank
        |    FROM dirs)
        |  WHERE rank <= 3
        |),
        |lab AS (SELECT vec_id, label FROM embeddings),
        |agg AS (
        |  SELECT CAST(l.label AS BIGINT) AS label,
        |         count(DISTINCT t.vec_id) AS n_nodes,
        |         count(*) AS n_edges,
        |         CAST(sum(CASE WHEN n.label = l.label THEN 1 ELSE 0 END) AS BIGINT)
        |           AS n_same_label
        |  FROM top3 t
        |  JOIN lab l ON t.vec_id = l.vec_id
        |  JOIN lab n ON t.nbr = n.vec_id
        |  GROUP BY 1
        |)
        |SELECT label, n_nodes, n_edges, n_same_label,
        |       ${graft.functions.Port.rsql("CAST(n_same_label AS DOUBLE) / n_edges", 6)} AS purity
        |FROM agg ORDER BY label""".stripMargin),
    "q_rrf_hybrid" -> rrfOracleSql,
    "q_graph_rank" -> (KnnCteSql + """,
        |-- MATERIALIZED is load-bearing: top3/ed are referenced from
        |-- multiple iteration CTEs, and DuckDB would otherwise re-inline
        |-- the entire LSH candidate pipeline per reference (measured:
        |-- 40+ min / 49 GB at sf0.1 without it, seconds with it)
        |top3 AS MATERIALIZED (
        |  SELECT vec_id AS src, nbr AS dst FROM (
        |    SELECT *, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cosine DESC, nbr) AS rk
        |    FROM dirs)
        |  WHERE rk <= 3
        |),
        |deg AS (SELECT src, count(*) AS outdeg FROM top3 GROUP BY 1),
        |ed AS MATERIALIZED (
        |  SELECT t.src, t.dst, d.outdeg FROM top3 t JOIN deg d ON t.src = d.src),
        |nn AS (SELECT count(*) AS n FROM embeddings),
        |r0 AS (
        |  SELECT vec_id, 1000000000000 // (SELECT n FROM nn) AS r_u FROM embeddings
        |),
        |m1 AS (
        |  SELECT ed.dst AS vec_id, CAST(sum(r.r_u // ed.outdeg) AS BIGINT) AS in_mass
        |  FROM ed JOIN r0 r ON ed.src = r.vec_id GROUP BY 1
        |),
        |r1 AS (
        |  SELECT e.vec_id,
        |         150000000000 // (SELECT n FROM nn)
        |           + 85 * coalesce(m.in_mass, 0) // 100 AS r_u
        |  FROM embeddings e LEFT JOIN m1 m ON e.vec_id = m.vec_id
        |),
        |m2 AS (
        |  SELECT ed.dst AS vec_id, CAST(sum(r.r_u // ed.outdeg) AS BIGINT) AS in_mass
        |  FROM ed JOIN r1 r ON ed.src = r.vec_id GROUP BY 1
        |),
        |r2 AS (
        |  SELECT e.vec_id,
        |         150000000000 // (SELECT n FROM nn)
        |           + 85 * coalesce(m.in_mass, 0) // 100 AS r_u
        |  FROM embeddings e LEFT JOIN m2 m ON e.vec_id = m.vec_id
        |),
        |m3 AS (
        |  SELECT ed.dst AS vec_id, CAST(sum(r.r_u // ed.outdeg) AS BIGINT) AS in_mass
        |  FROM ed JOIN r2 r ON ed.src = r.vec_id GROUP BY 1
        |),
        |r3 AS (
        |  SELECT e.vec_id,
        |         150000000000 // (SELECT n FROM nn)
        |           + 85 * coalesce(m.in_mass, 0) // 100 AS r_u
        |  FROM embeddings e LEFT JOIN m3 m ON e.vec_id = m.vec_id
        |)
        |SELECT vec_id, CAST(r_u AS BIGINT) AS r_u,
        |       CAST(r_u AS DOUBLE) / 1e12 AS rank_score
        |FROM r3 ORDER BY r_u DESC, vec_id""".stripMargin),
    "q_triplet_mining" ->
      """WITH ec AS (
        |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)
        |),
        |enm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ec GROUP BY vec_id),
        |eq AS (SELECT vec_id AS q_id, pos, v AS qv FROM ec WHERE vec_id < 10),
        |edots AS (
        |  SELECT q.q_id, ec.vec_id, sum(q.qv * ec.v) AS dot
        |  FROM eq q JOIN ec ON q.pos = ec.pos AND ec.vec_id != q.q_id
        |  GROUP BY 1, 2
        |),
        |ecos AS (
        |  SELECT d.q_id, d.vec_id,
        |         floor(d.dot / (qn.nrm * cn.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |  FROM edots d JOIN enm qn ON d.q_id = qn.vec_id JOIN enm cn ON d.vec_id = cn.vec_id
        |),
        |ranked AS (
        |  SELECT *, row_number() OVER (PARTITION BY q_id
        |    ORDER BY cosine DESC, vec_id) AS rank
        |  FROM ecos
        |),
        |prt AS (
        |  SELECT q_id, vec_id AS partner FROM (
        |    SELECT q.q_id, i.vec_id,
        |           row_number() OVER (PARTITION BY q.q_id
        |             ORDER BY md5(CAST(q.q_id AS VARCHAR) || '#'
        |                          || CAST(i.vec_id AS VARCHAR)), i.vec_id) AS rk
        |    FROM (SELECT DISTINCT q_id FROM eq) q
        |    JOIN (SELECT DISTINCT vec_id FROM embeddings) i ON i.vec_id != q.q_id)
        |  WHERE rk = 1
        |),
        |randd AS (
        |  SELECT p.q_id, p.partner AS vec_id, sum(a.v * b.v) AS dot
        |  FROM prt p
        |  JOIN ec a ON a.vec_id = p.q_id
        |  JOIN ec b ON b.vec_id = p.partner AND a.pos = b.pos
        |  GROUP BY 1, 2
        |),
        |randn AS (
        |  SELECT r.q_id, r.vec_id,
        |         floor(r.dot / (qn.nrm * cn.nrm) * 1e6 + 0.5) / 1e6 AS cosine,
        |         'rand_neg' AS label
        |  FROM randd r JOIN enm qn ON r.q_id = qn.vec_id JOIN enm cn ON r.vec_id = cn.vec_id
        |)
        |SELECT q_id, vec_id, cosine, label FROM (
        |  SELECT q_id, vec_id, cosine, 'pos' AS label FROM ranked WHERE rank = 1
        |  UNION ALL
        |  SELECT q_id, vec_id, cosine, 'hard_neg' AS label FROM ranked
        |  WHERE rank BETWEEN 6 AND 10
        |  UNION ALL
        |  SELECT q_id, vec_id, cosine, label FROM randn)
        |ORDER BY q_id, label, vec_id""".stripMargin
  )

  /** Shared mirror CTEs for the kNN family: the auto-sized hyperplane
    * LSH candidate pool scored with snapped cosines, symmetrized
    * (final CTE: dirs) — byte-identical plane/bucket arithmetic to the
    * q_dedup_embedding mirror.
    */
  /** The knn candidate/edge chain WITHOUT the shared c/nm base (final
    * CTE: dirs) — composable after any prefix that already defines the
    * same c/nm (AnnPack's k-means CTE does; the beam-search mirror
    * splices both).
    */
  private[operators] val KnnChainCte: String =
      """params AS (
        |  SELECT min(b) AS bits, 12 + 2 * (min(b) - 3) AS bands
        |  FROM (SELECT unnest(generate_series(3, 16)) AS b),
        |       (SELECT count(*) AS n FROM embeddings)
        |  WHERE (1::BIGINT << b) * 64 >= n
        |),
        |hp AS (
        |  SELECT band, bit, pos,
        |         CAST((1103515245 * ((1103515245 * (((band * bits + bit) * 64) + pos) + 12345) % 2147483648)
        |               + 12345) % 2147483648 AS DOUBLE) / 2147483648 - 0.5 AS h
        |  FROM (SELECT unnest(generate_series(0, 63)) AS band) b
        |  CROSS JOIN (SELECT unnest(generate_series(0, 15)) AS bit) t
        |  CROSS JOIN (SELECT unnest(generate_series(0, 63)) AS pos) p
        |  CROSS JOIN params
        |  WHERE band < bands AND bit < bits
        |),
        |bdots AS (
        |  SELECT c.vec_id, hp.band, hp.bit, sum(c.v * hp.h) AS d
        |  FROM c JOIN hp ON c.pos = hp.pos + 1
        |  GROUP BY 1, 2, 3
        |),
        |buckets AS (
        |  SELECT vec_id, band,
        |         CAST(sum(CASE WHEN d >= 0 THEN CAST(power(2, bit) AS BIGINT) ELSE 0 END) AS BIGINT) AS bucket
        |  FROM bdots GROUP BY 1, 2
        |),
        |sizes AS (SELECT band, bucket, count(*) AS bsz FROM buckets GROUP BY 1, 2),
        |cand AS (
        |  SELECT DISTINCT a.vec_id AS v1, b.vec_id AS v2
        |  FROM buckets a
        |  JOIN buckets b ON a.band = b.band AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |  JOIN sizes s ON s.band = a.band AND s.bucket = a.bucket
        |  WHERE s.bsz <= 2000
        |),
        |pd AS (
        |  SELECT v1, v2, sum(x.v * y.v) AS d
        |  FROM cand JOIN c x ON x.vec_id = v1 JOIN c y ON y.vec_id = v2 AND x.pos = y.pos
        |  GROUP BY 1, 2
        |),
        |edges AS (
        |  SELECT v1, v2, floor(pd.d / (a.nrm * b.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |  FROM pd JOIN nm a ON v1 = a.vec_id JOIN nm b ON v2 = b.vec_id
        |),
        |dirs AS (
        |  SELECT v1 AS vec_id, v2 AS nbr, cosine FROM edges
        |  UNION ALL
        |  SELECT v2 AS vec_id, v1 AS nbr, cosine FROM edges
        |)""".stripMargin

  private val KnnCteSql: String =
      """WITH c AS (
        |  SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)
        |),
        |nm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY vec_id),
        |""".stripMargin + KnnChainCte

  /** The RRF fusion mirror (lexical BM25 side + embedding cosine side +
    * integer-unit fusion).
    */
  private def rrfOracleSql: String =
      s"""WITH $TfCte,
         |qtok AS (SELECT DISTINCT doc_id AS q_id, tok FROM tfd WHERE doc_id < 10),
         |cand AS (
         |  SELECT q.q_id, t.doc_id, t.tok, t.tf, t.dl
         |  FROM tfd t JOIN qtok q ON t.tok = q.tok
         |  WHERE t.doc_id != q.q_id
         |),
         |dfreq AS (SELECT tok, count(*) AS df FROM tfd GROUP BY 1),
         |lexscored AS (
         |  SELECT c.q_id, c.doc_id,
         |         CAST(sum(CAST($Bm25uSql AS BIGINT)) AS BIGINT) AS score_u
         |  FROM cand c
         |  JOIN dfreq f ON c.tok = f.tok
         |  CROSS JOIN (SELECT n_docs, CAST(total_toks AS DOUBLE) / n_docs AS avgdl
         |              FROM stats) s
         |  GROUP BY 1, 2
         |),
         |lextop AS (
         |  SELECT q_id, doc_id, rank AS lex_rank FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY score_u DESC, doc_id) AS BIGINT) AS rank
         |    FROM lexscored)
         |  WHERE rank <= 10
         |),
         |ec AS (
         |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
         |  FROM embeddings, range(1, 65) t(i)
         |),
         |enm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM ec GROUP BY vec_id),
         |eq AS (SELECT vec_id AS q_id, pos, v AS qv FROM ec WHERE vec_id < 10),
         |edots AS (
         |  SELECT q.q_id, ec.vec_id, sum(q.qv * ec.v) AS dot
         |  FROM eq q JOIN ec ON q.pos = ec.pos AND ec.vec_id != q.q_id
         |  GROUP BY 1, 2
         |),
         |ecos AS (
         |  SELECT d.q_id, d.vec_id,
         |         floor(d.dot / (qn.nrm * cn.nrm) * 1e6 + 0.5) / 1e6 AS cosine
         |  FROM edots d JOIN enm qn ON d.q_id = qn.vec_id JOIN enm cn ON d.vec_id = cn.vec_id
         |),
         |vectop AS (
         |  SELECT q_id, vec_id AS doc_id, rank AS vec_rank FROM (
         |    SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |      ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
         |    FROM ecos)
         |  WHERE rank <= 10
         |),
         |fused AS (
         |  SELECT coalesce(l.q_id, v.q_id) AS q_id,
         |         coalesce(l.doc_id, v.doc_id) AS doc_id,
         |         coalesce(l.lex_rank, 0) AS lex_rank,
         |         coalesce(v.vec_rank, 0) AS vec_rank
         |  FROM lextop l FULL OUTER JOIN vectop v
         |    ON l.q_id = v.q_id AND l.doc_id = v.doc_id
         |),
         |rrf AS (
         |  SELECT q_id, doc_id, lex_rank, vec_rank,
         |         (CASE WHEN lex_rank > 0 THEN $RrfUnit // ($RrfK + lex_rank) ELSE 0 END
         |          + CASE WHEN vec_rank > 0 THEN $RrfUnit // ($RrfK + vec_rank) ELSE 0 END)
         |           AS rrf_u
         |  FROM fused
         |)
         |SELECT q_id, doc_id, lex_rank, vec_rank, CAST(rrf_u AS BIGINT) AS rrf_u, rank FROM (
         |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
         |    ORDER BY rrf_u DESC, doc_id) AS BIGINT) AS rank
         |  FROM rrf)
         |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin
}
