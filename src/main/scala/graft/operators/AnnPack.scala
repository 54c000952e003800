package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.Port
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-d float vectors).
  *
  * - `q_ann_cosine_topk`: brute-force cosine top-k — the query side is a
  *   broadcast-size set, candidates stream through one join on the vector
  *   index, so the operator is a single pass over the corpus (the correct
  *   baseline shape at 100 TB when queries ≪ corpus).
  * - `q_ann_ivf_topk`: IVF-style two-stage search — coarse centroids per
  *   `label` cell, queries probe only their nearest cell (nprobe=1), then
  *   exact cosine inside the cell. The scale path: cells partition the
  *   corpus, the probe prunes all but 1/cells of the data.
  * - `q_media_metadata`: multimodal plumbing — text cast to an opaque
  *   binary column with typed metadata (byte length, content hash,
  *   deterministic fake decode dims; the real decoder is the stubbed
  *   boundary, see graft.operators.Multimodal).
  *
  * Ranking uses the Port.r-snapped cosine (ties broken by vec_id) so both
  * engines rank identical values.
  */
object AnnPack extends QueryPack {

  /** (vec_id, label, e: array<double>, nrm): vectors as arrays — dot
    * products run through the native codegen'd DotProductExpr (one fused
    * loop per row), no per-component explode.
    */
  private def emb(s: SparkSession, d: String): DataFrame =
    Ann.withNorm(Tables.embeddings(s, d)
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("e")))

  /** Session-memoized degree-8 kNN edge list for the beam-search GRAPH
    * (r17): the index build (LSH pool + two-level degree rank) is the
    * shared infrastructure — the beam SEARCH itself (IVF-probe seeding +
    * 3 hop expansions) runs per call, so q_ann_beam_topk's bench row
    * prices the walk, not a memo read (VERDICT r16 item 1: no registered
    * query may be a bare memo read; the r14-r16 beamCache memoized the
    * query's own output).
    */
  private def beamEdgesCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("AnnPack.beamEdges", s, d) {
      val e = Ann.knnGraphEdges(candScoresCached(s, d), degree = 8)
      // knnGraphEdges returns a plain cached frame; pin it so plan
      // lineage truncates, then free the interim cache
      val pinned = graft.Memo.pin(e)
      e.unpersist(blocking = false)
      pinned
    }

  /** Session-memoized CACHED embedding frame shared by the IVF and
    * near-dup pipelines. A Memo entry, so invalidateAll unpersists
    * it — a bare `.cache()` here would survive eviction in the
    * CacheManager and re-serve stale embedding data to the rebuilt plan
    * (the staleness hazard invalidateAll exists to close).
    */
  private[operators] def embCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("AnnPack.emb", s, d)(emb(s, d).cache())

  /** Session-memoized exact brute-force cosine top-10 for the 10 bench
    * queries (r16): used as shared GROUND-TRUTH infrastructure by
    * q_ann_recall_audit (exact reference set), q_rrf_hybrid (embedding
    * arm) and q_triplet_mining (pos/hard-neg source) — each of which
    * does real per-run work on top. q_ann_cosine_topk does NOT read
    * this memo (r17, VERDICT r16 item 1): its registered function IS
    * the brute-force pass, so its bench row prices the scan it claims
    * to; the memo fill rides the first ground-truth consumer instead.
    */
  private[operators] def bruteTopCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("AnnPack.bruteTop", s, d)(
      graft.Memo.pin(Ann.bruteTopK(embCached(s, d), nQueries = 10, k = 10)))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-run brute pass (r17): the full corpus dot-product top-10 runs
    // on every call — deterministic, so values are identical to the
    // shared ground-truth memo the audit/RRF/triplet consumers read
    "q_ann_cosine_topk" -> ((s, d) =>
      Ann.bruteTopK(embCached(s, d), nQueries = 10, k = 10)),
    "q_ann_ivf_topk" -> ((s, d) =>
      // real IVF: 8 k-means cells (2 assignment rounds, deterministic
      // seeds), nprobe=2 — see graft.operators.Ann
      Ann.ivfTopK(embCached(s, d), nQueries = 10, k = 5, cells = 8, nprobe = 2)),
    // rows-only (no oracle): the sqrt(n)-cells library default — the
    // path a real deployment uses (the oracled q_ann_ivf_topk pins
    // cells=8 because its SQL mirror unrolls the cell count). AnnSpec
    // pins recall; registering it here gives the driver a per-round
    // check on the auto-sized path.
    "q_ann_ivf_auto" -> ((s, d) =>
      Ann.ivfTopKAuto(embCached(s, d), nQueries = 10, k = 5, nprobe = 2)),
    // Serving-quality gate: recall@5 of the IVF path against exact
    // brute-force ground truth, per query. This is how recall is audited
    // at corpus scale — exact ground truth computed ONLY for a sampled
    // query set (here the 10 bench queries), never all-pairs; output is
    // one row per sampled query. n_hit/n_true are integer-exact, recall
    // a single terminal division, so the composed mirror stays hash-exact.
    "q_ann_recall_audit" -> ((s, d) => {
      val ivf5 = Ann.ivfTopK(embCached(s, d), nQueries = 10, k = 5, cells = 8, nprobe = 2)
        .select("q_id", "vec_id")
      // exact ground truth off the shared brute-force memo (r16) — the
      // same rows the per-call bruteTopK pass produced
      val true5 = bruteTopCached(s, d)
        .filter(col("rank") <= 5).select("q_id", "vec_id")
      val hits = true5.join(ivf5, Seq("q_id", "vec_id"))
        .groupBy("q_id").agg(count(lit(1)).as("n_hit"))
      true5.groupBy("q_id").agg(count(lit(1)).as("n_true"))
        .join(hits, Seq("q_id"), "left")
        .withColumn("n_hit", coalesce(col("n_hit"), lit(0L)))
        .withColumn("recall_at_5", col("n_hit") / col("n_true"))
        .select("q_id", "n_true", "n_hit", "recall_at_5")
        .orderBy("q_id")
    }),
    // corpus diversity profile over the sqrt(n) k-means cells — the
    // cluster-balanced-sampling primitive (see Ann.semanticClusters)
    "q_semantic_clusters" -> ((s, d) => {
      val emb = embCached(s, d)
      Ann.semanticClusters(emb, Ann.defaultCells(Ann.corpusSize(emb)))
    }),
    // the sample those cells inform: ≤16 hash-picked members per cell
    "q_sample_semantic" -> ((s, d) => {
      val emb = embCached(s, d)
      Ann.clusterBalancedSample(emb, Ann.defaultCells(Ann.corpusSize(emb)), perCell = 16)
    }),
    "q_ann_ivfpq_topk" -> ((s, d) =>
      // IVF-PQ: coarse cells prune the scan (shared kmeansCellsCached
      // memo with q_ann_ivf_topk), residual PQ codes compress the probed
      // lists — the production ANN composition at 10^9+ vectors. See
      // Ann.ivfPqTopK.
      Ann.ivfPqTopK(embCached(s, d), nQueries = 10, k = 10)),
    // HNSW-class graph ANN — beam search over the top-degree kNN graph
    // built from the shared LSH candidate pool (the ANN family's latency
    // point next to brute=exact and IVF-PQ=memory). ORACLED since r14:
    // the walk is deterministic (snapped cosines, id tie-breaks, fixed
    // beam/hops/degree), so the mirror unrolls the three hops as plain
    // CTEs over the same k-means + LSH-pool chains the ivf_auto and
    // knn_graph mirrors already pin (beamOracleSql below); AnnSpec
    // additionally pins recall vs bruteTopK ground truth. Memoized: the
    // graph build and search rounds run once per session.
    "q_ann_beam_topk" -> ((s, d) => {
      // IVF-seeded (r12): hop 0 probes the shared sqrt(n) k-means memo
      // and seeds the beam with the probed cells' exact top-beam — the
      // flat lowest-id entries could not navigate a 20k-node graph in 3
      // hops (recall@10 0.01-0.39 in the r12 BeamScale sweep; 0.997
      // seeded at beam=16/hops=3, provably >= IVF(nprobe) recall since
      // the seed beam contains the IVF answer). The SEARCH runs per
      // call over the session-memoized degree-8 edge frame (r17) —
      // index build shared, walk paid on every invocation.
      val emb = embCached(s, d)
      Ann.graphBeamTopKFromEdges(emb, beamEdgesCached(s, d),
        nQueries = 10, k = 10,
        entryCells = Ann.defaultCells(Ann.corpusSize(emb)))
    }),
    "q_ann_pq_topk" -> ((s, d) =>
      // product quantization ADC search: 8 subspaces x 8 dims, 8-entry
      // codebooks per subspace (2-round per-subspace k-means, same
      // deterministic contract as the IVF clustering). Scores are raw
      // inner products (MIPS, the standard PQ retrieval objective) —
      // the scan touches only the 8-byte code column. See Ann.pqTopK.
      Ann.pqTopK(embCached(s, d), nQueries = 10, k = 10)),
    "q_topic_balance" -> ((s, d) => {
      // Label-balance audit per semantic cell (the "is any topic
      // over-concentrated" check a curriculum/mix decision reads next to
      // q_semantic_clusters): per sqrt(n)-cell majority label and
      // snapped purity. Rides the session-shared k-means; the plan
      // aggregates to (cell × label) — dimension-sized — before any
      // window, so nothing row-scale ever sorts in one task.
      val emb = embCached(s, d)
      val (assigned, _) = Ann.kmeansCellsCached(emb, Ann.defaultCells(Ann.corpusSize(emb)))
      val counts = emb.select("vec_id", "label").join(assigned, "vec_id")
        .groupBy("cell", "label").agg(count(lit(1)).as("n"))
      val ws = Window.partitionBy("cell")
      counts
        .withColumn("n_members", sum(col("n")).over(ws))
        .withColumn("rk", row_number().over(ws.orderBy(col("n").desc, col("label"))))
        .filter(col("rk") === 1)
        .select(col("cell").cast("long").as("cell"), col("n_members"),
          col("label").cast("long").as("top_label"), col("n").as("top_label_n"),
          Port.r(col("n") / col("n_members"), 6).as("purity"))
        .orderBy("cell")
    }),
    "q_dedup_embedding" -> ((s, d) => nearDupCached(s, d).orderBy("v1", "v2")),
    "q_dedup_semantic" -> ((s, d) => {
      // SemDeDup (Abbas et al. 2023, arXiv:2303.09540): semantic
      // near-dup pairs WITHIN coarse k-means cells — cluster first, then
      // exact snapped cosine only among same-cell members. Complements
      // the hyperplane LSH path (data-independent buckets) with the
      // data-adaptive blocking the paper uses; rides the session-shared
      // sqrt(n) k-means, so the clustering is free when the IVF/audit
      // queries already ran. Cells past 2000 members are excluded from
      // pair generation (the same linearity guard as the LSH bucket
      // cap — a degenerate cell cannot go quadratic); with ~sqrt(n)
      // cells of ~sqrt(n) expected members the pair mass is ~n^1.5
      // bounded to n·cap worst-case, and the per-cell join shuffles on
      // the cell key — never all-pairs.
      val emb = embCached(s, d)
      val (assigned, _) = Ann.kmeansCellsCached(emb, Ann.defaultCells(Ann.corpusSize(emb)))
      val a = emb.select("vec_id", "e", "nrm").join(assigned, "vec_id")
      val sized = a.join(
        a.groupBy("cell").agg(count(lit(1)).as("csz")), "cell")
        .filter(col("csz") <= 2000)
      sized.select(col("cell"), col("vec_id").as("v1"), col("e").as("e1"), col("nrm").as("n1"))
        .join(sized.select(col("cell"), col("vec_id").as("v2"), col("e").as("e2"), col("nrm").as("n2")),
          Seq("cell"))
        .filter(col("v1") < col("v2"))
        .withColumn("cosine", Port.r(Ann.dot(col("e1"), col("e2")) / (col("n1") * col("n2")), 6))
        .filter(col("cosine") >= 0.35)
        .select(col("cell").cast("long").as("cell"), col("v1"), col("v2"), col("cosine"))
        .orderBy("v1", "v2")
    }),
    "q_embed_quantize" -> ((s, d) => {
      // Int8 symmetric per-vector quantization — the embedding
      // compression step before ANN serving at 100 TB (4x memory cut vs
      // float32; the IVF index rides the codes). scale = absmax/127;
      // code_i = floor(v_i/scale + 0.5) is pure IEEE arithmetic (no
      // library round(), whose half-boundary semantics differ between
      // engines), so codes are bit-identical on both sides. Reported
      // stats are exact integers (code sums, saturation count) plus the
      // reconstruction error accumulated in integer picounits — an exact
      // sum, immune to float summation order. Plan shape: one codegen'd
      // map pass per row (transform/aggregate HOFs, no explode), zero
      // shuffles before the final presentation sort.
      val e = embCached(s, d)
      e.withColumn("scale", array_max(transform(col("e"), v => abs(v))) / 127)
        .withColumn("codes",
          when(col("scale") > 0,
            transform(col("e"), v => floor(v / col("scale") + lit(0.5)).cast("long")))
            .otherwise(transform(col("e"), _ => lit(0L))))
        .select(col("vec_id"),
          Port.r(col("scale"), 9).as("scale9"),
          size(col("codes")).cast("long").as("n_dims"),
          aggregate(col("codes"), lit(0L), (a, x) => a + x).as("code_sum"),
          aggregate(col("codes"), lit(0L), (a, x) => a + abs(x)).as("code_l1"),
          size(filter(col("codes"), c => abs(c) === 127)).cast("long").as("n_sat"),
          aggregate(zip_with(col("e"), col("codes"),
            (v, c) => floor((v - c * col("scale")) * (v - c * col("scale")) * 1e12
              + lit(0.5)).cast("long")),
            lit(0L), (a, x) => a + x).as("err_u"))
        .orderBy("vec_id")
    }),
    "q_media_metadata" -> ((s, d) =>
      Tables.documents(s, d)
        .select(col("doc_id"), col("text").cast("binary").as("media"))
        .select(col("doc_id"),
          lit("text/plain").as("mime"),
          length(col("media")).cast("long").as("byte_len"),
          md5(col("media")).as("content_md5"))
        .withColumn("width", lit(64L) + col("byte_len") % 576)
        .withColumn("height", lit(64L) + (col("byte_len") * 7) % 416)
        .withColumn("n_frames", lit(1L) + col("byte_len") % 30)
        .orderBy("doc_id")),
    "q_frame_manifest" -> ((s, d) =>
      // Frame-sampling manifest: every 4th frame of each media item
      // (the oracled twin of Multimodal.frameSample's mapPartitions
      // path — same frame-count/geometry arithmetic, same stride, so
      // the spec can pin the two row-for-row). The explode fans out
      // inside the doc's partition; no shuffle beyond the source scan.
      Tables.documents(s, d)
        // octet_length, not length: the DuckDB mirror measures UTF-8
        // bytes, and Multimodal.frameSample reads media.length (bytes)
        .select(col("doc_id"), octet_length(col("text")).cast("long").as("byte_len"))
        .withColumn("width", lit(64L) + col("byte_len") % 576)
        .withColumn("height", lit(64L) + (col("byte_len") * 7) % 416)
        .withColumn("n_frames", lit(1L) + col("byte_len") % 30)
        .withColumn("frame_idx",
          explode(sequence(lit(0L), col("n_frames") - 1, lit(4L))))
        .select("doc_id", "frame_idx", "width", "height", "n_frames")
        .orderBy("doc_id", "frame_idx")),
    "q_media_neardup" -> ((s, d) => {
      // Perceptual media near-dup: 56-bit dHash-class hash over the
      // stub-decoded brightness grid (Multimodal.perceptualHash), paired
      // through the SAME hamming-band blocking the text SimHash uses
      // (4 bands x 14 bits, BucketCap, per-doc pair cap) — never
      // all-pairs. Catches the near-identical media that exact md5
      // (q_media_metadata's content_md5) misses: a local edit flips
      // <= 2 gradient bits, well inside the is_dup <= 6 verdict.
      // Emitted as the candidate-then-verify AUDIT (every bucket-capped
      // band collision with its verified hamming + verdict) so the
      // operator's full posture is visible on corpora with no planted
      // near-identical media; the production gate is `WHERE is_dup`.
      // PHash56 signature table memoized per session (r16): the custom
      // codegen expression decodes every document's byte grid — the
      // costliest scan in this query — and the signature frame is one
      // small row per doc, the natural cache unit (same contract as
      // DedupPack's simhashCached).
      val ph = graft.Memo.share("AnnPack.phash", s, d)(
        Multimodal.perceptualHash(Tables.documents(s, d))
          .withColumnRenamed("phash", "simhash").transform(graft.Memo.pin))
      DedupPack.simhashPairs(ph, emitBound = 56L)
        .select(col("doc1"), col("doc2"),
          col("simhash1").as("phash1"), col("simhash2").as("phash2"),
          col("hamming"), (col("hamming") <= 6).as("is_dup"))
        .orderBy("doc1", "doc2")
    })
  )

  /** Session-memoized embedding near-dup pairs via random-hyperplane LSH
    * blocking (bits/bands auto-sized from the corpus count —
    * Ann.autoLshParams — with a 2000-entry bucket cap as the degenerate-
    * direction guard; data-independent bounded cells, unlike label
    * blocking whose cell size is unbounded at scale). The scored
    * candidate-pair pool (bounded by bands x cap per bucket) is cached
    * and materialized ONCE per session, then the pipeline's four interior
    * cached frames are freed deterministically — they otherwise lingered
    * for the async ContextCleaner and their cleanup landed on whichever
    * bench queries ran next (the r06 dedup-neighborhood variance).
    * Two memo names: the full pool and the 0.35-thresholded tier.
    */
  private val CandPool = "AnnPack.candScores"
  private val CandTier = "AnnPack.nearDupTier"

  /** UNthresholded LSH candidate scores (v1 < v2, snapped cosine) — ONE
    * hyperplane pass per session shared by the near-dup filter and the
    * kNN graph (RetrievalPack.q_knn_graph): threshold -2.0 keeps every
    * verified candidate, so q_dedup_embedding is a pure filter of this
    * pool (identical snapped cosines → identical output and oracle).
    *
    * Memory ceiling of the pooled cache (r10 ADVICE): each row is 3
    * fixed-width columns (~24 bytes + overhead), and pair mass is
    * bounded by the LSH geometry, not the data — with auto-sized
    * params, buckets average ≤ 64 members (2^bits·64 ≥ n) and are
    * hard-capped at 2000, so expected pairs ≈ bands · n · avg_bucket/2
    * ≈ bands · 32 · n; at bands ≤ 38 that is ≤ ~1.2k pairs/vector ≈
    * 50 KB/vector worst-case and ~13x pair growth per 10x vectors was
    * the measured (sub-quadratic) rate (BASELINE.md 10x rehearsal).
    *
    * Two-tier (r11 verdict task 5): the pool is lazy on its first kNN-
    * graph consumer. A dedup-only session materializes only the
    * 0.35-thresholded tier (~the near-dup mass, a small fraction of the
    * pool); the full unthresholded pool is built only when a kNN/graph
    * consumer asks for it. The threshold is a pure `cosine >= t` filter
    * on the same snapped cosine (Ann.hyperplaneNearDupStaged), so the
    * thresholded pass is value-identical to filtering the full pool —
    * hashes unchanged either way, and a mixed session that builds the
    * full pool serves dedup as a free filter of it.
    */
  private def buildCandScores(s: SparkSession, d: String,
                              threshold: Double): DataFrame = {
    val emb = embCached(s, d)
    // EXACT count, not corpusSize's plan-stats shortcut: bits must
    // equal the oracle's count(*)-derived value bit-for-bit (a stale
    // stat that flips bits would bucket differently than the mirror);
    // emb is the session-cached frame, so this count is one cheap
    // cached-scan per session
    val (bits, bands) = Ann.autoLshParams(emb.count())
    val (res, scaffolding) = Ann.hyperplaneNearDupStaged(emb,
      bands = bands, bits = bits, threshold = threshold, cap = graft.GraftConfig.active.annLshCap)
    val r = res.cache()
    r.count()
    // plain cached frames with live lineage: safe to free (a cache-
    // evicted result would recompute them, unlike checkpoint leaves)
    scaffolding.foreach(_.unpersist(blocking = false))
    r
  }

  private[operators] def candScoresCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share(CandPool, s, d) {
      val r = buildCandScores(s, d, threshold = -2.0)
      // the thresholded tier is now a free filter of the pool — evict
      // the redundant pinned copy (later dedup calls take the pool path)
      graft.Memo.evict(CandTier, s, d)
      r
    }

  /** Thresholded tier for the dedup consumers. If the full pool is
    * already (or will be) pinned by this session, dedup rides it as a
    * filter; otherwise only the thresholded frame is materialized.
    */
  private def nearDupCached(s: SparkSession, d: String): DataFrame =
    if (graft.Memo.contains(CandPool, s, d))
      candScoresCached(s, d).filter(col("cosine") >= 0.35)
    else
      graft.Memo.share(CandTier, s, d)(
        buildCandScores(s, d, threshold = 0.35))

  /** (full pool resident, thresholded tier resident) — the two-tier
    * contract probe for DedupEvictionSpec; not part of the API.
    */
  private[graft] def nearDupTierState(s: SparkSession, d: String): (Boolean, Boolean) =
    (graft.Memo.contains(CandPool, s, d), graft.Memo.contains(CandTier, s, d))

  /** The shared 2-round k-means mirror prefix (CTEs c..cn2),
    * parameterized on the cell-count expression — `"8"` for the pinned
    * q_ann_ivf_topk row, a scalar subquery over count(*) for the sqrt(n)
    * library default (q_ann_ivf_auto, q_semantic_clusters). Seeds = the
    * `cells` lowest vec_ids, two assignment rounds, snapped-rank
    * tiebreaks — every consumer appends its own tail, so the mirrors
    * cannot drift apart on the clustering itself.
    */
  /** cells = max(1, round(sqrt(n))) — Ann.defaultCells, with n the exact
    * corpus count (math.round = floor(x+0.5) for positive x).
    */
  private val AutoCellsSql =
    "(SELECT greatest(1, CAST(floor(sqrt(count(*)) + 0.5) AS BIGINT)) FROM embeddings)"

  private def kmeansCteSql(cellsExpr: String): String =
    s"""WITH c AS (
        |  SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)
        |),
        |nm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY vec_id),
        |seedc AS (SELECT vec_id AS cell, pos, v AS cv FROM c WHERE vec_id < $cellsExpr),
        |seedn AS (SELECT vec_id AS cell, nrm AS cn FROM nm WHERE vec_id < $cellsExpr),
        |a1d AS (SELECT c.vec_id, s.cell, sum(c.v * s.cv) AS d
        |        FROM c JOIN seedc s ON c.pos = s.pos GROUP BY 1, 2),
        |a1 AS (SELECT vec_id, cell FROM (
        |  SELECT a.vec_id, a.cell, row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY floor(a.d / (n.nrm * s.cn) * 1e6 + 0.5) / 1e6 DESC, a.cell) AS rk
        |  FROM a1d a JOIN nm n ON a.vec_id = n.vec_id JOIN seedn s ON a.cell = s.cell)
        |  WHERE rk = 1),
        |cent1 AS (SELECT a1.cell, c.pos, sum(c.v) / count(*) AS cv
        |          FROM c JOIN a1 ON c.vec_id = a1.vec_id GROUP BY 1, 2),
        |cn1 AS (SELECT cell, sqrt(sum(cv * cv)) AS cn FROM cent1 GROUP BY 1),
        |a2d AS (SELECT c.vec_id, t.cell, sum(c.v * t.cv) AS d
        |        FROM c JOIN cent1 t ON c.pos = t.pos GROUP BY 1, 2),
        |a2 AS (SELECT vec_id, cell FROM (
        |  SELECT a.vec_id, a.cell, row_number() OVER (PARTITION BY a.vec_id
        |    ORDER BY floor(a.d / (n.nrm * x.cn) * 1e6 + 0.5) / 1e6 DESC, a.cell) AS rk
        |  FROM a2d a JOIN nm n ON a.vec_id = n.vec_id JOIN cn1 x ON a.cell = x.cell)
        |  WHERE rk = 1),
        |cent2 AS (SELECT a2.cell, c.pos, sum(c.v) / count(*) AS cv
        |          FROM c JOIN a2 ON c.vec_id = a2.vec_id GROUP BY 1, 2),
        |cn2 AS (SELECT cell, sqrt(sum(cv * cv)) AS cn FROM cent2 GROUP BY 1)""".stripMargin

  /** IVF candidate-cosine chain over the shared k-means prefix (final
    * CTE: cos, with nprobe=2 probe lists) — shared by the top-k mirror
    * and the recall audit.
    */
  private def ivfCosCte(cellsExpr: String): String =
    kmeansCteSql(cellsExpr) + s""",
        |q AS (SELECT vec_id AS q_id, pos, v AS qv FROM c WHERE vec_id < 10),
        |qn AS (SELECT vec_id AS q_id, nrm AS qnorm FROM nm WHERE vec_id < 10),
        |pd AS (SELECT q.q_id, t.cell, sum(q.qv * t.cv) AS d
        |       FROM q JOIN cent2 t ON q.pos = t.pos GROUP BY 1, 2),
        |probe AS (SELECT q_id, cell FROM (
        |  SELECT p.q_id, p.cell, row_number() OVER (PARTITION BY p.q_id
        |    ORDER BY floor(p.d / (qn.qnorm * x.cn) * 1e6 + 0.5) / 1e6 DESC, p.cell) AS crk
        |  FROM pd p JOIN qn ON p.q_id = qn.q_id JOIN cn2 x ON p.cell = x.cell)
        |  WHERE crk <= 2),
        |dots AS (
        |  SELECT pr.q_id, c.vec_id, sum(c.v * q.qv) AS d
        |  FROM probe pr JOIN a2 ON a2.cell = pr.cell
        |  JOIN c ON c.vec_id = a2.vec_id AND c.vec_id != pr.q_id
        |  JOIN q ON q.q_id = pr.q_id AND q.pos = c.pos
        |  GROUP BY 1, 2
        |),
        |cos AS (
        |  SELECT d.q_id, d.vec_id,
        |         floor(d.d / (qn.qnorm * nm.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |  FROM dots d JOIN qn ON d.q_id = qn.q_id JOIN nm ON d.vec_id = nm.vec_id
        |)""".stripMargin

  /** IVF top-k tail over the shared k-means prefix: nprobe=2, k=5. */
  private def ivfOracleSql(cellsExpr: String): String =
    ivfCosCte(cellsExpr) + """
        |SELECT q_id, vec_id, cosine, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM cos)
        |WHERE rank <= 5 ORDER BY q_id, rank""".stripMargin

  /** Graph-ANN beam mirror (r14 — flips q_ann_beam_topk rows-only →
    * oracled): the walk is deterministic end to end (snapped 1e-6
    * cosines, vec_id tie-breaks, FIXED beam=16 / hops=3 / degree=8 /
    * nprobe=2), so three hops unroll as plain CTEs — no recursion.
    * Composition: the shared 2-round k-means prefix (cells = sqrt(n),
    * same as the ivf_auto mirror) + RetrievalPack's hyperplane-LSH
    * candidate/edge chain (same pool q_knn_graph mirrors; degree-8 rank
    * here) + IVF-probe seeding (ivf tail at rank ≤ beam) + per hop:
    * frontier = top-beam(visited) minus already-expanded, expand =
    * frontier's graph neighbors not yet visited, score, union. Exactly
    * the Scala loop in Ann.graphBeamTopKFromEdges, state-by-state.
    */
  private def beamOracleSql: String =
    kmeansCteSql(AutoCellsSql) + ",\n" + RetrievalPack.KnnChainCte + s""",
        |edges8 AS (
        |  SELECT vec_id AS src, nbr AS dst FROM (
        |    SELECT vec_id, nbr, row_number() OVER (PARTITION BY vec_id
        |      ORDER BY cosine DESC, nbr) AS rk FROM dirs)
        |  WHERE rk <= 8),
        |q AS (SELECT vec_id AS q_id, pos, v AS qv FROM c WHERE vec_id < 10),
        |qn AS (SELECT vec_id AS q_id, nrm AS qnorm FROM nm WHERE vec_id < 10),
        |qpd AS (SELECT q.q_id, t.cell, sum(q.qv * t.cv) AS d
        |        FROM q JOIN cent2 t ON q.pos = t.pos GROUP BY 1, 2),
        |probe AS (SELECT q_id, cell FROM (
        |  SELECT p.q_id, p.cell, row_number() OVER (PARTITION BY p.q_id
        |    ORDER BY floor(p.d / (qn.qnorm * x.cn) * 1e6 + 0.5) / 1e6 DESC, p.cell) AS crk
        |  FROM qpd p JOIN qn ON p.q_id = qn.q_id JOIN cn2 x ON p.cell = x.cell)
        |  WHERE crk <= 2),
        |sdots AS (
        |  SELECT pr.q_id, c.vec_id, sum(c.v * q.qv) AS d
        |  FROM probe pr JOIN a2 ON a2.cell = pr.cell
        |  JOIN c ON c.vec_id = a2.vec_id AND c.vec_id != pr.q_id
        |  JOIN q ON q.q_id = pr.q_id AND q.pos = c.pos
        |  GROUP BY 1, 2),
        |scos AS (
        |  SELECT d.q_id, d.vec_id,
        |         floor(d.d / (qn.qnorm * nm.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |  FROM sdots d JOIN qn ON d.q_id = qn.q_id JOIN nm ON d.vec_id = nm.vec_id),
        |v0 AS (
        |  SELECT q_id, vec_id, cosine FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cosine DESC, vec_id) AS rk FROM scos)
        |  WHERE rk <= 16),
        |f1 AS (SELECT q_id, vec_id FROM v0),
        |x1 AS (
        |  SELECT DISTINCT f.q_id, e.dst AS vec_id
        |  FROM f1 f JOIN edges8 e ON e.src = f.vec_id
        |  WHERE e.dst != f.q_id
        |    AND NOT EXISTS (SELECT 1 FROM v0 v
        |                    WHERE v.q_id = f.q_id AND v.vec_id = e.dst)),
        |d1 AS (SELECT x.q_id, c.vec_id, sum(c.v * q.qv) AS d
        |       FROM x1 x JOIN c ON c.vec_id = x.vec_id
        |       JOIN q ON q.q_id = x.q_id AND q.pos = c.pos GROUP BY 1, 2),
        |s1 AS (SELECT d.q_id, d.vec_id,
        |              floor(d.d / (qn.qnorm * nm.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |       FROM d1 d JOIN qn ON d.q_id = qn.q_id JOIN nm ON d.vec_id = nm.vec_id),
        |v1 AS (SELECT * FROM v0 UNION ALL SELECT * FROM s1),
        |f2 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cosine DESC, vec_id) AS rk FROM v1)
        |  WHERE rk <= 16
        |  EXCEPT SELECT q_id, vec_id FROM f1),
        |x2 AS (
        |  SELECT DISTINCT f.q_id, e.dst AS vec_id
        |  FROM f2 f JOIN edges8 e ON e.src = f.vec_id
        |  WHERE e.dst != f.q_id
        |    AND NOT EXISTS (SELECT 1 FROM v1 v
        |                    WHERE v.q_id = f.q_id AND v.vec_id = e.dst)),
        |d2 AS (SELECT x.q_id, c.vec_id, sum(c.v * q.qv) AS d
        |       FROM x2 x JOIN c ON c.vec_id = x.vec_id
        |       JOIN q ON q.q_id = x.q_id AND q.pos = c.pos GROUP BY 1, 2),
        |s2 AS (SELECT d.q_id, d.vec_id,
        |              floor(d.d / (qn.qnorm * nm.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |       FROM d2 d JOIN qn ON d.q_id = qn.q_id JOIN nm ON d.vec_id = nm.vec_id),
        |v2 AS (SELECT * FROM v1 UNION ALL SELECT * FROM s2),
        |e2 AS (SELECT * FROM f1 UNION SELECT * FROM f2),
        |f3 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id, row_number() OVER (PARTITION BY q_id
        |      ORDER BY cosine DESC, vec_id) AS rk FROM v2)
        |  WHERE rk <= 16
        |  EXCEPT SELECT q_id, vec_id FROM e2),
        |x3 AS (
        |  SELECT DISTINCT f.q_id, e.dst AS vec_id
        |  FROM f3 f JOIN edges8 e ON e.src = f.vec_id
        |  WHERE e.dst != f.q_id
        |    AND NOT EXISTS (SELECT 1 FROM v2 v
        |                    WHERE v.q_id = f.q_id AND v.vec_id = e.dst)),
        |d3 AS (SELECT x.q_id, c.vec_id, sum(c.v * q.qv) AS d
        |       FROM x3 x JOIN c ON c.vec_id = x.vec_id
        |       JOIN q ON q.q_id = x.q_id AND q.pos = c.pos GROUP BY 1, 2),
        |s3 AS (SELECT d.q_id, d.vec_id,
        |              floor(d.d / (qn.qnorm * nm.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |       FROM d3 d JOIN qn ON d.q_id = qn.q_id JOIN nm ON d.vec_id = nm.vec_id),
        |v3 AS (SELECT * FROM v2 UNION ALL SELECT * FROM s3)
        |SELECT q_id, vec_id, cosine, rank FROM (
        |  SELECT *, CAST(row_number() OVER (PARTITION BY q_id
        |    ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank FROM v3)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  /** Recall@5 audit mirror: IVF top-5 vs exact brute-force top-5 on the
    * same sampled query set, counts integer-exact.
    */
  private def recallAuditOracleSql: String =
    ivfCosCte("8") + """,
        |ivf5 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        |    FROM cos)
        |  WHERE rank <= 5),
        |bdots AS (
        |  SELECT q.q_id, c.vec_id, sum(q.qv * c.v) AS d
        |  FROM q JOIN c ON q.pos = c.pos AND c.vec_id != q.q_id
        |  GROUP BY 1, 2),
        |bcos AS (
        |  SELECT d.q_id, d.vec_id,
        |         floor(d.d / (qn.qnorm * nm.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |  FROM bdots d JOIN qn ON d.q_id = qn.q_id JOIN nm ON d.vec_id = nm.vec_id),
        |true5 AS (
        |  SELECT q_id, vec_id FROM (
        |    SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        |    FROM bcos)
        |  WHERE rank <= 5),
        |hits AS (
        |  SELECT t.q_id, count(i.vec_id) AS n_hit
        |  FROM true5 t LEFT JOIN ivf5 i ON i.q_id = t.q_id AND i.vec_id = t.vec_id
        |  GROUP BY 1),
        |sizes AS (SELECT q_id, count(*) AS n_true FROM true5 GROUP BY 1)
        |SELECT s.q_id, s.n_true, h.n_hit, h.n_hit / s.n_true AS recall_at_5
        |FROM sizes s JOIN hits h ON s.q_id = h.q_id ORDER BY s.q_id""".stripMargin

  /** IVF-PQ mirror: the shared 2-round coarse k-means prefix, residuals
    * vs cent2, a per-subspace PQ chain over the residuals (p-prefixed
    * CTEs, same shape as the q_ann_pq_topk mirror), then the probe +
    * decomposed ADC tail (coarse term + residual table lookups, both
    * snapped to 1e-6 integers before the exact sum).
    */
  private def ivfPqOracleSql: String =
    kmeansCteSql("8") + """,
        |r AS (
        |  SELECT c.vec_id, c.pos, c.v - t.cv AS v
        |  FROM c JOIN a2 ON c.vec_id = a2.vec_id
        |  JOIN cent2 t ON t.cell = a2.cell AND t.pos = c.pos
        |),
        |pc AS (SELECT vec_id, (pos - 1) // 8 AS sub, (pos - 1) % 8 AS spos, v FROM r),
        |pseed AS (SELECT sub, vec_id AS cell, spos, v AS cv FROM pc WHERE vec_id < 8),
        |pa1d AS (
        |  SELECT pc.vec_id, pc.sub, s.cell, sum((pc.v - s.cv) * (pc.v - s.cv)) AS d
        |  FROM pc JOIN pseed s ON pc.sub = s.sub AND pc.spos = s.spos
        |  GROUP BY 1, 2, 3
        |),
        |pa1 AS (
        |  SELECT vec_id, sub, cell AS code FROM (
        |    SELECT vec_id, sub, cell, row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY floor(d * 1e6 + 0.5) / 1e6, cell) AS rk
        |    FROM pa1d) WHERE rk = 1
        |),
        |pcent1 AS (
        |  SELECT pc.sub, pa1.code AS cell, pc.spos, sum(pc.v) / count(*) AS cv
        |  FROM pc JOIN pa1 ON pc.vec_id = pa1.vec_id AND pc.sub = pa1.sub
        |  GROUP BY 1, 2, 3
        |),
        |pa2d AS (
        |  SELECT pc.vec_id, pc.sub, t.cell, sum((pc.v - t.cv) * (pc.v - t.cv)) AS d
        |  FROM pc JOIN pcent1 t ON pc.sub = t.sub AND pc.spos = t.spos
        |  GROUP BY 1, 2, 3
        |),
        |pa2 AS (
        |  SELECT vec_id, sub, cell AS code FROM (
        |    SELECT vec_id, sub, cell, row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY floor(d * 1e6 + 0.5) / 1e6, cell) AS rk
        |    FROM pa2d) WHERE rk = 1
        |),
        |pcent2 AS (
        |  SELECT pc.sub, pa2.code AS cell, pc.spos, sum(pc.v) / count(*) AS cv
        |  FROM pc JOIN pa2 ON pc.vec_id = pa2.vec_id AND pc.sub = pa2.sub
        |  GROUP BY 1, 2, 3
        |),
        |q AS (SELECT vec_id AS q_id, pos, v AS qv FROM c WHERE vec_id < 10),
        |qn AS (SELECT vec_id AS q_id, nrm AS qnorm FROM nm WHERE vec_id < 10),
        |pd AS (SELECT q.q_id, t.cell, sum(q.qv * t.cv) AS d
        |       FROM q JOIN cent2 t ON q.pos = t.pos GROUP BY 1, 2),
        |probe AS (
        |  SELECT q_id, cell, CAST(floor(d * 1e6 + 0.5) AS BIGINT) AS coarse_u FROM (
        |    SELECT p.q_id, p.cell, p.d, row_number() OVER (PARTITION BY p.q_id
        |      ORDER BY floor(p.d / (qn.qnorm * x.cn) * 1e6 + 0.5) / 1e6 DESC, p.cell) AS crk
        |    FROM pd p JOIN qn ON p.q_id = qn.q_id JOIN cn2 x ON p.cell = x.cell)
        |  WHERE crk <= 2
        |),
        |qs AS (SELECT q_id, (pos - 1) // 8 AS sub, (pos - 1) % 8 AS spos, qv FROM q),
        |dt AS (
        |  SELECT qs.q_id, t.sub, t.cell,
        |         CAST(floor(sum(qs.qv * t.cv) * 1e6 + 0.5) AS BIGINT) AS p
        |  FROM qs JOIN pcent2 t ON qs.sub = t.sub AND qs.spos = t.spos
        |  GROUP BY 1, 2, 3
        |),
        |sc AS (
        |  SELECT pr.q_id, a2.vec_id, CAST(max(pr.coarse_u) + sum(dt.p) AS BIGINT) AS score_u
        |  FROM probe pr
        |  JOIN a2 ON a2.cell = pr.cell AND a2.vec_id != pr.q_id
        |  JOIN pa2 ON pa2.vec_id = a2.vec_id
        |  JOIN dt ON dt.q_id = pr.q_id AND dt.sub = pa2.sub AND dt.cell = pa2.code
        |  GROUP BY 1, 2
        |)
        |SELECT q_id, vec_id, CAST(score_u AS DOUBLE) / 1e6 AS score, rank FROM (
        |  SELECT q_id, vec_id, score_u,
        |         row_number() OVER (PARTITION BY q_id ORDER BY score_u DESC, vec_id) AS rank
        |  FROM sc)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_ann_ivfpq_topk" -> ivfPqOracleSql,
    "q_ann_cosine_topk" ->
      """WITH c AS (
        |  SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)
        |),
        |nm AS (SELECT vec_id, sqrt(sum(v * v)) AS nrm FROM c GROUP BY vec_id),
        |q AS (SELECT vec_id AS q_id, pos, v AS qv FROM c WHERE vec_id < 10),
        |dots AS (
        |  SELECT q.q_id, c.vec_id, sum(q.qv * c.v) AS dot
        |  FROM q JOIN c ON q.pos = c.pos AND c.vec_id != q.q_id
        |  GROUP BY 1, 2
        |),
        |cos AS (
        |  SELECT d.q_id, d.vec_id,
        |         floor(d.dot / (qn.nrm * cn.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |  FROM dots d JOIN nm qn ON d.q_id = qn.vec_id JOIN nm cn ON d.vec_id = cn.vec_id
        |)
        |SELECT q_id, vec_id, cosine, rank FROM (
        |  SELECT *, row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS rank
        |  FROM cos)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q_ann_ivf_topk" -> ivfOracleSql("8"),
    "q_ann_ivf_auto" -> ivfOracleSql(AutoCellsSql),
    "q_ann_recall_audit" -> recallAuditOracleSql,
    "q_ann_beam_topk" -> beamOracleSql,
    "q_semantic_clusters" -> (kmeansCteSql(AutoCellsSql) + """,
        |cd AS (SELECT c.vec_id, a.cell, sum(c.v * t.cv) AS d
        |       FROM c JOIN a2 a ON c.vec_id = a.vec_id
        |       JOIN cent2 t ON t.cell = a.cell AND t.pos = c.pos
        |       GROUP BY 1, 2),
        |q6s AS (SELECT cd.cell,
        |               CAST(floor(cd.d / (n.nrm * x.cn) * 1e6 + 0.5) AS BIGINT) AS q6
        |        FROM cd JOIN nm n ON cd.vec_id = n.vec_id
        |        JOIN cn2 x ON cd.cell = x.cell)
        |SELECT CAST(cell AS BIGINT) AS cell,
        |       count(*) AS n_members,
        |       floor(CAST(sum(q6) AS DOUBLE) / (count(*) * 1e6) * 1e6 + 0.5) / 1e6 AS mean_cos,
        |       CAST(min(q6) AS DOUBLE) / 1e6 AS min_cos
        |FROM q6s GROUP BY cell ORDER BY cell""".stripMargin),
    "q_topic_balance" -> (kmeansCteSql(AutoCellsSql) + """,
        |lab AS (SELECT DISTINCT vec_id, label FROM c),
        |cl AS (SELECT a2.cell, l.label, count(*) AS n
        |       FROM a2 JOIN lab l ON a2.vec_id = l.vec_id GROUP BY 1, 2),
        |w AS (
        |  SELECT cell, label, n,
        |         sum(n) OVER (PARTITION BY cell) AS n_members,
        |         row_number() OVER (PARTITION BY cell ORDER BY n DESC, label) AS rk
        |  FROM cl
        |)
        |SELECT CAST(cell AS BIGINT) AS cell, CAST(n_members AS BIGINT) AS n_members,
        |       CAST(label AS BIGINT) AS top_label, CAST(n AS BIGINT) AS top_label_n,
        |       floor(CAST(n AS DOUBLE) / n_members * 1e6 + 0.5) / 1e6 AS purity
        |FROM w WHERE rk = 1 ORDER BY cell""".stripMargin),
    "q_dedup_semantic" -> (kmeansCteSql(AutoCellsSql) + """,
        |csz AS (SELECT cell, count(*) AS c FROM a2 GROUP BY 1),
        |mem AS (
        |  SELECT a2.vec_id, a2.cell FROM a2 JOIN csz ON a2.cell = csz.cell
        |  WHERE csz.c <= 2000
        |),
        |prs AS (
        |  SELECT x.cell, x.vec_id AS v1, y.vec_id AS v2
        |  FROM mem x JOIN mem y ON x.cell = y.cell AND x.vec_id < y.vec_id
        |),
        |pd AS (
        |  SELECT p.cell, p.v1, p.v2, sum(a.v * b.v) AS d
        |  FROM prs p JOIN c a ON a.vec_id = p.v1 JOIN c b ON b.vec_id = p.v2 AND a.pos = b.pos
        |  GROUP BY 1, 2, 3
        |)
        |SELECT CAST(pd.cell AS BIGINT) AS cell, v1, v2,
        |       floor(pd.d / (x.nrm * y.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |FROM pd JOIN nm x ON v1 = x.vec_id JOIN nm y ON v2 = y.vec_id
        |WHERE floor(pd.d / (x.nrm * y.nrm) * 1e6 + 0.5) / 1e6 >= 0.35
        |ORDER BY v1, v2""".stripMargin),
    "q_sample_semantic" -> (kmeansCteSql(AutoCellsSql) + """
        |SELECT cell, vec_id, rk FROM (
        |  SELECT CAST(cell AS BIGINT) AS cell, vec_id,
        |         row_number() OVER (PARTITION BY cell
        |           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS rk
        |  FROM a2)
        |WHERE rk <= 16 ORDER BY cell, rk""".stripMargin),
    // nm/pd use list_dot_product over double-cast lists (r15): an
    // in-order left-to-right double fold — the same summation order as
    // the unnest-join-sum form it replaces and as Spark's aggregate/
    // zip_with fold, so values are bit-identical (verified: 228/228
    // rows equal at sf0.01) while the mirror drops the 64x row
    // explosion on the verification dots (~10x faster pin row)
    "q_dedup_embedding" ->
      """WITH c AS (
        |  SELECT vec_id, label, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)
        |),
        |nm AS (SELECT vec_id, sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[])) AS nrm
        |       FROM embeddings),
        |params AS (
        |  -- Ann.autoLshParams mirror: minimal b in [3,16] with 2^b*64 >= n,
        |  -- pure integer comparison (no log2 — float log boundaries differ
        |  -- between libm and the JVM on exact powers of two)
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
        |  SELECT v1, v2, list_dot_product(x.embedding::DOUBLE[], y.embedding::DOUBLE[]) AS d
        |  FROM cand JOIN embeddings x ON x.vec_id = v1 JOIN embeddings y ON y.vec_id = v2
        |)
        |SELECT v1, v2, floor(pd.d / (a.nrm * b.nrm) * 1e6 + 0.5) / 1e6 AS cosine
        |FROM pd JOIN nm a ON v1 = a.vec_id JOIN nm b ON v2 = b.vec_id
        |WHERE floor(pd.d / (a.nrm * b.nrm) * 1e6 + 0.5) / 1e6 >= 0.35
        |ORDER BY v1, v2""".stripMargin,
    "q_ann_pq_topk" ->
      """WITH c AS (
        |  SELECT vec_id, (i - 1) // 8 AS sub, (i - 1) % 8 AS pos,
        |         CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)
        |),
        |seed AS (SELECT sub, vec_id AS cell, pos, v AS cv FROM c WHERE vec_id < 8),
        |a1d AS (
        |  SELECT c.vec_id, c.sub, s.cell, sum((c.v - s.cv) * (c.v - s.cv)) AS d
        |  FROM c JOIN seed s ON c.sub = s.sub AND c.pos = s.pos
        |  GROUP BY 1, 2, 3
        |),
        |a1 AS (
        |  SELECT vec_id, sub, cell AS code FROM (
        |    SELECT vec_id, sub, cell, row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY floor(d * 1e6 + 0.5) / 1e6, cell) AS rk
        |    FROM a1d) WHERE rk = 1
        |),
        |cent1 AS (
        |  SELECT c.sub, a1.code AS cell, c.pos, sum(c.v) / count(*) AS cv
        |  FROM c JOIN a1 ON c.vec_id = a1.vec_id AND c.sub = a1.sub
        |  GROUP BY 1, 2, 3
        |),
        |a2d AS (
        |  SELECT c.vec_id, c.sub, t.cell, sum((c.v - t.cv) * (c.v - t.cv)) AS d
        |  FROM c JOIN cent1 t ON c.sub = t.sub AND c.pos = t.pos
        |  GROUP BY 1, 2, 3
        |),
        |a2 AS (
        |  SELECT vec_id, sub, cell AS code FROM (
        |    SELECT vec_id, sub, cell, row_number() OVER (PARTITION BY vec_id, sub
        |      ORDER BY floor(d * 1e6 + 0.5) / 1e6, cell) AS rk
        |    FROM a2d) WHERE rk = 1
        |),
        |cent2 AS (
        |  SELECT c.sub, a2.code AS cell, c.pos, sum(c.v) / count(*) AS cv
        |  FROM c JOIN a2 ON c.vec_id = a2.vec_id AND c.sub = a2.sub
        |  GROUP BY 1, 2, 3
        |),
        |q AS (SELECT vec_id AS q_id, sub, pos, v AS qv FROM c WHERE vec_id < 10),
        |dt AS (
        |  SELECT q.q_id, t.sub, t.cell,
        |         CAST(floor(sum(q.qv * t.cv) * 1e6 + 0.5) AS BIGINT) AS p
        |  FROM q JOIN cent2 t ON q.sub = t.sub AND q.pos = t.pos
        |  GROUP BY 1, 2, 3
        |),
        |sc AS (
        |  SELECT dt.q_id, a2.vec_id, CAST(sum(dt.p) AS BIGINT) AS score_u
        |  FROM a2 JOIN dt ON a2.sub = dt.sub AND a2.code = dt.cell
        |  WHERE a2.vec_id != dt.q_id
        |  GROUP BY 1, 2
        |)
        |SELECT q_id, vec_id, CAST(score_u AS DOUBLE) / 1e6 AS score, rank FROM (
        |  SELECT q_id, vec_id, score_u,
        |         row_number() OVER (PARTITION BY q_id ORDER BY score_u DESC, vec_id) AS rank
        |  FROM sc)
        |WHERE rank <= 10 ORDER BY q_id, rank""".stripMargin,
    "q_embed_quantize" ->
      """WITH c AS (
        |  SELECT vec_id, i AS pos, CAST(embedding[i] AS DOUBLE) AS v
        |  FROM embeddings, range(1, 65) t(i)
        |),
        |sc AS (SELECT vec_id, max(abs(v)) / 127 AS scale FROM c GROUP BY vec_id),
        |codes AS (
        |  SELECT c.vec_id, sc.scale, c.v,
        |         CASE WHEN sc.scale > 0 THEN CAST(floor(c.v / sc.scale + 0.5) AS BIGINT)
        |              ELSE 0 END AS code
        |  FROM c JOIN sc ON c.vec_id = sc.vec_id
        |)
        |SELECT vec_id,
        |       floor(scale * 1e9 + 0.5) / 1e9 AS scale9,
        |       count(*) AS n_dims,
        |       CAST(sum(code) AS BIGINT) AS code_sum,
        |       CAST(sum(abs(code)) AS BIGINT) AS code_l1,
        |       CAST(count(CASE WHEN abs(code) = 127 THEN 1 END) AS BIGINT) AS n_sat,
        |       CAST(sum(CAST(floor((v - code * scale) * (v - code * scale) * 1e12 + 0.5)
        |                     AS BIGINT)) AS BIGINT) AS err_u
        |FROM codes GROUP BY vec_id, scale ORDER BY vec_id""".stripMargin,
    "q_media_metadata" ->
      """SELECT doc_id, 'text/plain' AS mime, octet_length(CAST(text AS BLOB)) AS byte_len,
        |       md5(text) AS content_md5,
        |       64 + octet_length(CAST(text AS BLOB)) % 576 AS width,
        |       64 + (octet_length(CAST(text AS BLOB)) * 7) % 416 AS height,
        |       1 + octet_length(CAST(text AS BLOB)) % 30 AS n_frames
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_frame_manifest" ->
      """WITH m AS (
        |  SELECT doc_id, octet_length(CAST(text AS BLOB)) AS byte_len
        |  FROM documents
        |),
        |g AS (
        |  SELECT doc_id,
        |         CAST(64 + byte_len % 576 AS BIGINT) AS width,
        |         CAST(64 + (byte_len * 7) % 416 AS BIGINT) AS height,
        |         CAST(1 + byte_len % 30 AS BIGINT) AS n_frames
        |  FROM m
        |)
        |SELECT doc_id, unnest(range(0, n_frames, 4)) AS frame_idx,
        |       width, height, n_frames
        |FROM g ORDER BY doc_id, frame_idx""".stripMargin,
    // perceptual-hash mirror: the SAME dHash grid arithmetic (integer
    // codepoint sums over strided samples, horizontal-gradient bits),
    // then the q_dedup_simhash band/bucket-cap/pair-cap machinery
    // verbatim over the 56-bit signatures. xor(a, b) because DuckDB's ^
    // is exponentiation.
    "q_media_neardup" ->
      s"""WITH g AS (SELECT doc_id, text, length(text) AS n FROM documents),
         |cells AS (
         |  SELECT doc_id, j // 8 AS cell,
         |         sum(ascii(substring(text, CAST(1 + (j * n) // 504 AS INT), 1))) AS b
         |  FROM g CROSS JOIN (SELECT range AS j FROM range(504)) r
         |  GROUP BY 1, 2
         |),
         |sig AS (
         |  SELECT a.doc_id,
         |         CAST(sum(CASE WHEN a.b < c2.b
         |                       THEN 1::BIGINT << ((a.cell // 9) * 8 + (a.cell % 9))
         |                       ELSE 0 END) AS BIGINT) AS simhash
         |  FROM cells a JOIN cells c2 ON c2.doc_id = a.doc_id AND c2.cell = a.cell + 1
         |  WHERE a.cell % 9 < 8
         |  GROUP BY 1
         |),
         |bands AS (
         |  SELECT doc_id, simhash, b.band, (simhash >> (b.band * 14)) & 16383 AS key
         |  FROM sig CROSS JOIN (SELECT range AS band FROM range(4)) b
         |),
         |bsizes AS (SELECT band, key, count(*) AS bsz FROM bands GROUP BY 1, 2),
         |pairs AS (
         |  SELECT DISTINCT doc1, doc2, simhash1, simhash2 FROM (
         |    SELECT a.doc_id AS doc1, b.doc_id AS doc2,
         |           a.simhash AS simhash1, b.simhash AS simhash2,
         |           row_number() OVER (PARTITION BY a.band, a.key, a.doc_id
         |                              ORDER BY b.doc_id) AS prk
         |    FROM bands a JOIN bands b
         |      ON a.band = b.band AND a.key = b.key AND a.doc_id < b.doc_id
         |    JOIN bsizes z ON z.band = a.band AND z.key = a.key
         |    WHERE z.bsz <= ${DedupPack.BucketCap})
         |  WHERE prk <= ${DedupPack.PairsPerDocPerBucket}
         |)
         |SELECT doc1, doc2, simhash1 AS phash1, simhash2 AS phash2,
         |       CAST(bit_count(xor(simhash1, simhash2)) AS BIGINT) AS hamming,
         |       bit_count(xor(simhash1, simhash2)) <= 6 AS is_dup
         |FROM pairs
         |ORDER BY doc1, doc2""".stripMargin
  )
}
