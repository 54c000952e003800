package graft.operators

import graft.functions.Port
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** IVF-style approximate nearest-neighbor search over embedding columns.
  *
  * Cells come from a real (if short) k-means: deterministic seeds (the k
  * lowest vec_ids), two assignment rounds with a centroid update between,
  * every step a DataFrame aggregate — no driver-side math, centroids
  * broadcast. Probing takes the query's top-`nprobe` cells, then scores
  * exact cosine inside those cells only, so the corpus scan prunes to
  * nprobe/k of the data — the IVF scale shape (at 100 TB: k grows with
  * corpus size, cells are the partition key, probe fan-out is bounded).
  *
  * Determinism/parity: assignments rank Port.r-snapped cosines with the
  * cell id as tiebreaker, so the DuckDB oracle unrolls to the same cells.
  */
object Ann {

  /** Native codegen'd dot product (graft.functions.DotProductExpr) — the
    * fold order matches the old zip_with/aggregate HOF exactly, so every
    * snapped cosine and oracle is unchanged.
    */
  def dot(a: Column, b: Column): Column = graft.functions.DotProduct(a, b)

  /** (vec_id, e) → + nrm. */
  def withNorm(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(dot(col("e"), col("e"))))

  /** Nearest centroid per vector by snapped cosine (ties → lowest cell).
    * One hash aggregate (max_by on the (ccos, -cell) tuple) instead of a
    * sort window — single shuffle with map-side combine, the shape that
    * holds when the corpus is 10^9 vectors × k centroids.
    */
  private def assign(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cent))
      .withColumn("ccos", Port.r(dot(col("e"), col("ce")) / (col("nrm") * col("cn")), 6))
      .groupBy("vec_id")
      .agg(max_by(col("cell"), struct(col("ccos"), -col("cell"))).as("cell"))

  /** Per-cell mean vector rebuilt into an array column + its norm. */
  private def centroids(emb: DataFrame, assigned: DataFrame): DataFrame =
    emb.join(assigned, "vec_id")
      .select(col("cell"), posexplode(col("e")).as(Seq("pos", "v")))
      .groupBy("cell", "pos").agg((sum(col("v")) / count(lit(1))).as("cv"))
      .groupBy("cell")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("cv")))),
        x => x.getField("cv")).as("ce"))
      .withColumn("cn", sqrt(aggregate(col("ce"), lit(0.0), (a, x) => a + x * x)))

  /** Two-round k-means from deterministic seeds: returns
    * (assignments (vec_id, cell), centroids (cell, ce, cn)).
    */
  def kmeansCells(emb: DataFrame, k: Int): (DataFrame, DataFrame) = {
    val seeds = emb.filter(col("vec_id") < k)
      .select(col("vec_id").cast("int").as("cell"), col("e").as("ce"), col("nrm").as("cn"))
    val a1 = assign(emb, seeds)
    val c1 = centroids(emb, a1)
    // materialization barriers: assignments/centroids are tiny (n rows /
    // k rows) but feed multiple consumers — without them each downstream
    // reference re-executes the whole upstream k-means chain. Pinned, not
    // cached: a cache keeps the two-round k-means lineage for every
    // consumer to re-analyze, and the pin's measured size keeps the
    // emb⋈assigned joins broadcasting the tiny side (see Memo.pin).
    val a2 = graft.Memo.pin(assign(emb, c1))
    val c2 = graft.Memo.pin(centroids(emb, a2))
    (a2, c2)
  }

  /** Brute-force cosine top-k: one pass over the corpus with the query
    * set broadcast — the exact baseline (and ground truth for the IVF
    * recall spec).
    */
  def bruteTopK(emb: DataFrame, nQueries: Int, k: Int): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    val scored = emb.crossJoin(broadcast(q)).filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", Port.r(dot(col("e"), col("qe")) / (col("qn") * col("nrm")), 6))
    // Two-level top-k: a window partitioned by q_id alone would sort the
    // ENTIRE scored corpus for each query in one task (n rows/query — a
    // scale-killer at 10^9 vectors). Instead take local winners per
    // (q_id, input split) first — any disjoint split's top-k contains
    // every global top-k member, so the final rank runs over ≤ k·splits
    // rows per query and the result is independent of the split.
    scored.withColumn("_cell", spark_partition_id())
      .withColumn("_lrk", row_number().over(
        Window.partitionBy("q_id", "_cell").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("_lrk") <= k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "vec_id", "cosine", "rank")
      .orderBy("q_id", "rank")
  }

  /** Deterministic random hyperplanes as a small relational table
    * (band, bit, h: array<double>): components from a two-round LCG over
    * the flat index, exact integer arithmetic in both engines so the
    * DuckDB oracle reproduces identical planes.
    */
  def hyperplanes(spark: org.apache.spark.sql.SparkSession, bands: Int, bits: Int,
                  dim: Int): DataFrame = {
    val (a, cAdd, m) = (1103515245L, 12345L, 2147483648L)
    spark.range(bands.toLong * bits)
      .select(expr(s"id div $bits").cast("int").as("band"),
        (col("id") % bits).cast("int").as("bit"),
        transform(sequence(lit(0), lit(dim - 1)), i => {
          val idx = col("id") * dim + i
          val r1 = (idx * a + cAdd) % m
          ((r1 * a + cAdd) % m).cast("double") / m - 0.5
        }).as("h"))
  }

  /** Standard LSH index sizing for the hyperplane near-dup blocking:
    * bits = the smallest b in [3, 16] with 2^b · 64 >= n, so the EXPECTED
    * bucket size stays ~64 as the corpus grows; bands grow 2 per extra
    * bit to hold near-dup recall as per-band selectivity sharpens
    * (p_band = p_bit^bits). The r10 30× rehearsal measured why fixed
    * (bits=3, bands=12) cannot ship: at 60k vectors every one of the 8
    * buckets per band blows past the 2000-pair cap and recall collapses
    * to ZERO — a fixed signature width is a scale cliff, not a constant.
    *
    * Pure integer arithmetic (no log2: JVM `log(x)/log(2)` lands above
    * the exact value on powers of two while libm log2 is exact, so a
    * float formula could disagree with the DuckDB mirror at the
    * boundary); the oracle selects the same minimal b from a generated
    * series.
    */
  def autoLshParams(n: Long): (Int, Int) = {
    val bits = (3 to 16).find(b => (1L << b) * 64 >= n).getOrElse(16)
    (bits, 12 + 2 * (bits - 3))
  }

  /** Embedding near-duplicate pairs via random-hyperplane LSH blocking:
    * each vector gets one `bits`-bit bucket per band (sign of the dot with
    * each plane), candidates are same-(band, bucket) pairs in any band,
    * verification is exact snapped cosine >= threshold on candidates only.
    *
    * Buckets larger than `cap` are dropped from pair generation (mirrored
    * in the oracle) — the linearity guard: a degenerate direction can't
    * go quadratic at 100 TB. Unlike label blocking, cells are bounded by
    * construction (2^bits per band) and data-independent.
    */
  def hyperplaneNearDup(emb: DataFrame, bands: Int, bits: Int,
                        threshold: Double, cap: Long): DataFrame = {
    // Self-cleaning entry point: materialize the (tiny) pair result, then
    // free the interior cached frames deterministically. Returning the
    // staged result with live scaffolding handed callers the exact async-
    // ContextCleaner nondeterminism the staged variant exists to fix.
    val (res, scaffolding) = hyperplaneNearDupStaged(emb, bands, bits, threshold, cap)
    val r = res.cache()
    r.count()
    scaffolding.foreach(_.unpersist(blocking = false))
    // the result cache itself is a Memo entry keyed by the frame (lifecycle
    // tracking only, no dedup): repeated calls don't leak past
    // invalidateAll, and a mutable-input session can't re-serve a stale
    // pair table from the CacheManager (same contract as AnnPack.embCached)
    graft.Memo.share("Ann.liveResult", r)(r)
  }

  /** [[hyperplaneNearDup]] plus its cache scaffolding (the signature and
    * size-filtered bucket frames) so a caller that materializes the
    * result can free the intermediates deterministically instead of
    * leaving them to the async ContextCleaner — the round-7 fix for the
    * dedup-neighborhood bench variance.
    */
  def hyperplaneNearDupStaged(emb: DataFrame, bands: Int, bits: Int,
                              threshold: Double, cap: Long): (DataFrame, Seq[DataFrame]) = {
    val spark = emb.sparkSession
    val hp = hyperplanes(spark, bands, bits, 64)
    // cache barrier: the 36-plane signature scan feeds four join sides —
    // uncached it re-executes per reference (measured 4x blowup)
    val buckets = emb.select(col("vec_id"), col("e"))
      .crossJoin(broadcast(hp))
      .withColumn("on", (dot(col("e"), col("h")) >= 0).cast("long"))
      .groupBy("vec_id", "band")
      .agg(sum(col("on") * expr("cast(pow(2, bit) as bigint)")).as("bucket"))
      .cache()
    val sized = buckets.join(
      buckets.groupBy("band", "bucket").agg(count(lit(1)).as("bsz")),
      Seq("band", "bucket"))
      .filter(col("bsz") <= cap)
      .cache()
    // Bucket-LOCAL pair scoring (r16). The previous shape — id-only
    // candidate pairs joined back to the embedding table twice — sorted
    // the PAIR stream with 512-byte vectors attached (pairs × vector
    // width): measured 1.25M vectors / 12 bands ≈ 280M candidate rows ≈
    // >75 GB of SortMergeJoin spill, the disk cliff that killed both the
    // r14 and first r16 beam rehearsals. Here vectors travel ONCE per
    // (band, bucket) membership (n·bands rows — the same volume the
    // signature join already shuffles), each cap-bounded cell scores its
    // own i<j pairs inside the aggregate row (native codegen'd dot), and
    // only (v1, v2, cosine) triples — 24 bytes — ever leave the cell.
    // Shuffle is now Θ(n·bands + surviving pairs) at ANY scale; the cap
    // contract bounds the per-cell quadratic exactly as before (a cell of
    // `cap` docs materializes ≤ cap²/2 transient pair structs inside one
    // row — cap=2000 ≈ 2M structs, the same mass the join shape carried
    // per bucket, without the global sort).
    // Values are bit-identical to the join shape: ids canonicalized
    // v1<v2 via least/greatest, dot is index-order commutative, same
    // 6dp snap, cross-band duplicates collapse in the same distinct().
    val withVec = sized.select("vec_id", "band", "bucket")
      .join(emb.select(col("vec_id"), col("e"), col("nrm")), "vec_id")
    val cells = withVec.groupBy("band", "bucket")
      .agg(collect_list(struct(col("vec_id"), col("e"), col("nrm"))).as("vs"))
    val pairsArr = flatten(transform(col("vs"), (a, i) =>
      transform(slice(col("vs"), i + lit(2), size(col("vs"))), b =>
        struct(
          least(a("vec_id"), b("vec_id")).as("v1"),
          greatest(a("vec_id"), b("vec_id")).as("v2"),
          Port.r(dot(a("e"), b("e")) / (a("nrm") * b("nrm")), 6).as("cosine")))))
    val result = cells
      .select(explode(filter(pairsArr, p => p("cosine") >= threshold)).as("p"))
      .select(col("p.v1").as("v1"), col("p.v2").as("v2"),
        col("p.cosine").as("cosine"))
      .distinct()
      .orderBy("v1", "v2")
    (result, Seq(buckets, sized))
  }

  /** The standard IVF cell-count scaling: cells ≈ sqrt(n) balances the
    * probe cost (score k centroids) against the cell-scan cost
    * (nprobe·n/k vectors) — both grow as sqrt(n). The oracle-pinned
    * q_ann_ivf_topk keeps cells=8 (its SQL mirror unrolls that k);
    * [[ivfTopKAuto]] is the library default for arbitrary corpora.
    */
  def defaultCells(n: Long): Int =
    math.max(1, math.round(math.sqrt(n.toDouble))).toInt

  /** IVF top-k with cells scaled ~sqrt(corpus size). `corpusSizeHint`
    * sizes the cell count without touching the data — at deploy scale the
    * vector count is a catalog/ingest statistic, and cell sizing only
    * needs the order of magnitude (cells ≈ sqrt(n), so even a 4× stale
    * hint moves cells by 2×). Falls back to plan statistics when the
    * plan carries a row count, and only as a last resort runs the count
    * job the earlier rounds always paid.
    */
  def ivfTopKAuto(emb: DataFrame, nQueries: Int, k: Int, nprobe: Int,
                  corpusSizeHint: Option[Long] = None): DataFrame =
    ivfTopK(emb, nQueries, k, defaultCells(corpusSize(emb, corpusSizeHint)), nprobe)

  /** Corpus size without a guaranteed count job: caller hint (a catalog
    * / ingest statistic at deploy scale) → plan statistics → count().
    */
  def corpusSize(emb: DataFrame, hint: Option[Long] = None): Long =
    hint.orElse(emb.queryExecution.optimizedPlan.stats.rowCount.map(_.toLong))
      .getOrElse(emb.count())

  /** Session-memoized k-means (assignments, centroids) keyed by the
    * corpus plan + cell count — q_ann_ivf_auto, the semantic audit and
    * the cluster-balanced sample all cluster the same corpus at the same
    * sqrt(n) cells, so one clustering is computed per session instead of
    * three, and the interior a2/c2 caches are Memo-registered (bare
    * per-call caches lingered for the async ContextCleaner — the same
    * nondeterministic-bench-neighborhood debt r07 removed from dedup).
    *
    * Keyed on the canonicalized plan OBJECT (structural equality — the
    * definition `sameResult` uses), not its toString: plan rendering is
    * truncated by spark.sql.debug.maxToStringFields ("... N more
    * fields"), so two distinct corpora could collide to one string key
    * and silently serve clustering computed over the wrong corpus.
    */
  def kmeansCellsCached(emb: DataFrame, cells: Int): (DataFrame, DataFrame) =
    graft.Memo.shareWith[(DataFrame, DataFrame)]("Ann.kmeansCells",
      emb.sparkSession, emb.queryExecution.logical.canonicalized, cells)(
      graft.Memo.releasePair)(kmeansCells(emb, cells))

  /** Semantic cluster audit: per-cell membership count plus snapped
    * mean/min cosine-to-centroid over the sqrt(n)-style k-means cells —
    * the corpus diversity profile behind cluster-balanced sampling of
    * training data (oversample sparse semantic regions, downsample
    * dense ones).
    *
    * Determinism/parity: each member's centroid cosine quantizes to a
    * 1e-6 integer (q6, exact long) BEFORE aggregating, so the per-cell
    * sum is order-independent and mean/min derive from exact integers
    * with one identical IEEE division + snap on both engines — a float
    * avg() would hash-flip on partial-sum order.
    *
    * Scale: centroids are ~sqrt(n) rows (broadcast — 31k cells × 64
    * floats ≈ 8 MB at 10^9 vectors); members never pair with anything
    * but their own centroid, so the audit is one linear pass + a
    * cells-sized aggregate.
    */
  def semanticClusters(emb: DataFrame, cells: Int): DataFrame = {
    val (assigned, cent) = kmeansCellsCached(emb, cells)
    emb.join(assigned, "vec_id")
      .join(broadcast(cent), "cell")
      .withColumn("q6",
        floor(dot(col("e"), col("ce")) / (col("nrm") * col("cn")) * 1e6 + lit(0.5)).cast("long"))
      .groupBy("cell")
      .agg(count(lit(1)).as("n_members"), sum(col("q6")).as("sq6"), min(col("q6")).as("mn6"))
      .select(
        col("cell").cast("long").as("cell"),
        col("n_members"),
        Port.r(col("sq6") / (col("n_members") * 1e6), 6).as("mean_cos"),
        (col("mn6").cast("double") / 1e6).as("min_cos"))
      .orderBy("cell")
  }

  /** Cluster-balanced sample: up to `perCell` members from every k-means
    * cell, picked by a deterministic content hash — the subset selection
    * the [[semanticClusters]] audit informs (equal representation across
    * semantic regions regardless of their density).
    *
    * Two-level rank (local winners per input split, then global), same
    * argument as bruteTopK: any split's per-(cell,split) top-perCell
    * contains every global top-perCell member, so a skewed cell never
    * sorts in one task and the result is split-independent.
    */
  def clusterBalancedSample(emb: DataFrame, cells: Int, perCell: Int): DataFrame = {
    val (assigned, _) = kmeansCellsCached(emb, cells)
    assigned
      .withColumn("hk", md5(col("vec_id").cast("string").cast("binary")))
      .withColumn("_split", spark_partition_id())
      .withColumn("_lrk", row_number().over(
        Window.partitionBy("cell", "_split").orderBy(col("hk"), col("vec_id"))))
      .filter(col("_lrk") <= perCell)
      .withColumn("rk", row_number().over(
        Window.partitionBy("cell").orderBy(col("hk"), col("vec_id"))).cast("long"))
      .filter(col("rk") <= perCell)
      .select(col("cell").cast("long").as("cell"), col("vec_id"), col("rk"))
      .orderBy("cell", "rk")
  }

  /** IVF top-k: probe the query's `nprobe` nearest cells, exact cosine
    * inside them. `emb` needs (vec_id, e, nrm); queries are the rows with
    * vec_id < nQueries (broadcast-size by contract).
    */
  def ivfTopK(emb: DataFrame, nQueries: Int, k: Int, cells: Int, nprobe: Int): DataFrame = {
    val (assigned, cent) = kmeansCellsCached(emb, cells)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    val probe = q.crossJoin(broadcast(cent))
      .withColumn("ccos", Port.r(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
      .withColumn("crk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("ccos").desc, col("cell"))))
      .filter(col("crk") <= nprobe)
      .select(col("q_id"), col("cell"), col("qe"), col("qn"))
    // Two-level top-k on the probed candidates, same as bruteTopK: the
    // final per-query rank otherwise sorts all nprobe·n/cells probed rows
    // in ONE task per query (~2·sqrt(n) rows/query at sqrt(n) cells —
    // survivable but needless). Local winners per input split first; any
    // disjoint split's top-k contains every global top-k member, so the
    // global rank runs over ≤ k·splits rows per query, split-independent.
    emb.join(assigned, "vec_id")
      .join(broadcast(probe), Seq("cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("cosine", Port.r(dot(col("e"), col("qe")) / (col("qn") * col("nrm")), 6))
      .withColumn("_split", spark_partition_id())
      .withColumn("_lrk", row_number().over(
        Window.partitionBy("q_id", "_split").orderBy(col("cosine").desc, col("vec_id"))))
      .filter(col("_lrk") <= k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select("q_id", "vec_id", "cosine", "rank")
      .orderBy("q_id", "rank")
  }

  // ---------------------------------------------------------------------
  // Product quantization (Jegou/Douze/Schmid, IEEE TPAMI 2011) — the
  // MEMORY-scale ANN path at 100 TB: each vector compresses to M sub-
  // codes (here 8 codes = 8 bytes vs 256 float32 bytes, 32x), and search
  // becomes integer table lookups over the code column instead of float
  // math over raw vectors. Complements IVF (which prunes the SCAN):
  // a production index at 10^9+ vectors runs IVF cells over PQ codes.
  //
  // Determinism/parity: per-subspace k-means follows the exact contract
  // of the full-width kmeansCells (deterministic low-id seeds, two
  // assignment rounds, snapped distances with cell-id tiebreak), so the
  // DuckDB oracle unrolls the identical codebooks; ADC partials snap to
  // 1e-6 integers per (query, sub, cell) BEFORE the cross-subspace sum,
  // making every score an exact integer — immune to summation order.
  // ---------------------------------------------------------------------

  /** (vec_id, sub, sv): the M d/M-dim sub-slices of each vector. */
  def pqSubvectors(emb: DataFrame, m: Int, dsub: Int): DataFrame =
    emb.select(col("vec_id"), explode(sequence(lit(0), lit(m - 1))).as("sub"), col("e"))
      .withColumn("sv", slice(col("e"), col("sub") * lit(dsub) + lit(1), lit(dsub)))
      .drop("e")

  /** Squared L2 between two equal-length array columns — identical terms
    * to the oracle's sum((v-cv)^2); only the 8-term fold order differs
    * (ulp noise, absorbed by the 1e-6 snap).
    */
  private def l2sq(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0.0), (acc, x) => acc + x)

  /** Nearest codebook entry per (vector, subspace) by snapped squared L2
    * (ties -> lowest cell) — one hash aggregate, map-side combinable.
    */
  private def pqAssign(sv: DataFrame, cent: DataFrame): DataFrame =
    sv.join(broadcast(cent), "sub")
      .withColumn("d6", Port.r(l2sq(col("sv"), col("cv")), 6))
      .groupBy("vec_id", "sub")
      .agg(min_by(col("cell"), struct(col("d6"), col("cell"))).as("code"))

  /** Per-(subspace, cell) mean sub-vector rebuilt into an array column. */
  private def pqCentroids(sv: DataFrame, assigned: DataFrame): DataFrame =
    sv.join(assigned, Seq("vec_id", "sub"))
      .select(col("sub"), col("code").as("cell"), posexplode(col("sv")).as(Seq("pos", "v")))
      .groupBy("sub", "cell", "pos").agg((sum(col("v")) / count(lit(1))).as("cvv"))
      .groupBy("sub", "cell")
      .agg(transform(sort_array(collect_list(struct(col("pos"), col("cvv")))),
        x => x.getField("cvv")).as("cv"))

  /** Two-round per-subspace k-means from deterministic seeds (the k
    * lowest vec_ids' sub-slices). Returns (codes (vec_id, sub, code),
    * codebooks (sub, cell, cv)) — both cached (Memo-registered by
    * [[pqCodebooksCached]]).
    */
  def pqCodebooks(emb: DataFrame, m: Int, dsub: Int, k: Int): (DataFrame, DataFrame) = {
    val sv = pqSubvectors(emb, m, dsub)
    val seeds = sv.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").cast("int").as("cell"), col("sv").as("cv"))
    val a1 = pqAssign(sv, seeds)
    val c1 = pqCentroids(sv, a1)
    // materialization barriers, pinned as in kmeansCells: codes feed
    // both the round-2 centroid build and ADC scoring, and for IVF-PQ
    // the codes' lineage otherwise stacks residual joins on top of the
    // full coarse k-means plan — the worst per-call analysis cost in the
    // ANN family
    val a2 = graft.Memo.pin(pqAssign(sv, c1))
    val c2 = graft.Memo.pin(pqCentroids(sv, a2))
    (a2, c2)
  }

  /** Session-memoized PQ training, keyed like kmeansCellsCached (the
    * canonicalized plan OBJECT, not its truncatable string form).
    */
  def pqCodebooksCached(emb: DataFrame, m: Int, dsub: Int, k: Int): (DataFrame, DataFrame) =
    graft.Memo.shareWith[(DataFrame, DataFrame)]("Ann.pqCodebooks",
      emb.sparkSession, emb.queryExecution.logical.canonicalized, m, dsub, k)(
      graft.Memo.releasePair)(pqCodebooks(emb, m, dsub, k))

  /** ADC (asymmetric distance computation) top-k: queries stay exact,
    * the corpus is its codes. The per-query distance table (M·k snapped
    * dot-product partials, exact longs) broadcasts; scoring is one
    * map-side-combinable aggregate over the code column — the scan
    * touches 8 bytes/vector, never the raw floats. Two-level rank as in
    * bruteTopK so no task ever sorts a query's full candidate set.
    */
  def pqTopK(emb: DataFrame, nQueries: Int, k: Int,
             m: Int = 8, dsub: Int = 8, cells: Int = 8): DataFrame = {
    val (codes, books) = pqCodebooksCached(emb, m, dsub, cells)
    val qs = pqSubvectors(emb.filter(col("vec_id") < nQueries), m, dsub)
      .select(col("vec_id").as("q_id"), col("sub"), col("sv").as("qv"))
    // the lookup-table keys are RENAMED before the join: codes and
    // dtable share the emb lineage, and a dataframe("col") === condition
    // across a self-join can silently resolve both sides to the same
    // attribute (Spark's classic self-join ambiguity) — distinct names
    // make the equi-join unambiguous by construction
    val dtable = qs.join(books, "sub")
      .withColumn("p", floor(dot(col("qv"), col("cv")) * 1e6 + lit(0.5)).cast("long"))
      .select(col("q_id"), col("sub").as("t_sub"), col("cell").as("t_cell"), col("p"))
    codes.join(broadcast(dtable),
        col("sub") === col("t_sub") && col("code") === col("t_cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy("q_id", "vec_id").agg(sum(col("p")).as("score_u"))
      .withColumn("_split", spark_partition_id())
      .withColumn("_lrk", row_number().over(
        Window.partitionBy("q_id", "_split").orderBy(col("score_u").desc, col("vec_id"))))
      .filter(col("_lrk") <= k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score_u").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"),
        (col("score_u").cast("double") / 1e6).as("score"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** IVF-PQ: the production composition at 10^9+ vectors — IVF coarse
    * cells prune the SCAN (only nprobe/cells of the corpus is touched),
    * residual PQ codes compress what remains (the probed lists are read
    * as code bytes, not floats). Encoding is the standard residual
    * scheme: each vector stores its coarse cell + PQ codes of
    * (x - coarse_centroid), and the ADC score decomposes exactly as
    * score(q, x) = q·c_cell(x) + q·recon_pq(residual_x), both terms
    * snapped to 1e-6 integers so the sum is exact.
    *
    * Reuse: the coarse clustering is the SAME kmeansCellsCached memo the
    * IVF queries share; the residual codebooks ride pqCodebooksCached.
    */
  /** Stable per-(emb, cells) residual FRAME objects (r16). The residual
    * projection uses a Scala-lambda zip_with, and every lambda build
    * mints fresh lambda-variable ids — so a per-call resid rebuild never
    * canonicalized-equals the previous one and pqCodebooksCached missed
    * on EVERY call ('x_9 vs 'x_11 in the otherwise-identical plans;
    * OPTIMIZATION_r16.md). The .cache() era masked the miss via
    * CacheManager sameResult dedup (analysis normalizes the lambdas);
    * the r16 checkpoint materialization has no such net, so the
    * miss became a full per-call PQ re-train. Memoizing the DataFrame
    * OBJECT (no persistence — it's just a plan) makes the downstream
    * memo key the same instance every call, which is the stability
    * contract every other ANN memo already relies on.
    */
  def ivfPqTopK(emb: DataFrame, nQueries: Int, k: Int, cells: Int = 8,
                m: Int = 8, dsub: Int = 8, pqK: Int = 8, nprobe: Int = 2): DataFrame = {
    val (assigned, cent) = kmeansCellsCached(emb, cells)
    // residuals x - c_cell(x): what PQ encodes (far lower variance than
    // raw vectors once the coarse term is factored out)
    val resid = graft.Memo.shareWith[DataFrame]("Ann.ivfPqResiduals",
      emb.sparkSession, emb.queryExecution.logical.canonicalized, cells)(_ => ())(
      emb.join(assigned, "vec_id").join(broadcast(cent), "cell")
        .select(col("vec_id"), zip_with(col("e"), col("ce"), (x, y) => x - y).as("e")))
    val (codes, books) = pqCodebooksCached(resid, m, dsub, pqK)
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    // probe ranking matches ivfTopK (snapped cosine, cell tiebreak); the
    // kept rows also carry the snapped coarse inner-product term
    val probe = q.crossJoin(broadcast(cent))
      .withColumn("ccos", Port.r(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
      .withColumn("crk", row_number().over(
        Window.partitionBy("q_id").orderBy(col("ccos").desc, col("cell"))))
      .filter(col("crk") <= nprobe)
      .withColumn("coarse_u", floor(dot(col("qe"), col("ce")) * 1e6 + lit(0.5)).cast("long"))
      .select(col("q_id"), col("cell").as("p_cell"), col("coarse_u"))
    val dtable = pqSubvectors(
        q.select(col("q_id").as("vec_id"), col("qe").as("e")), m, dsub)
      .select(col("vec_id").as("t_q"), col("sub"), col("sv").as("qv"))
      .join(books, "sub")
      .withColumn("p", floor(dot(col("qv"), col("cv")) * 1e6 + lit(0.5)).cast("long"))
      .select(col("t_q"), col("sub").as("t_sub"), col("cell").as("t_cell"), col("p"))
    // candidates: members of probed cells only — the IVF pruning; then
    // per-candidate scoring reads the code column alone
    assigned.join(broadcast(probe), col("cell") === col("p_cell"))
      .filter(col("vec_id") =!= col("q_id"))
      .join(codes, "vec_id")
      .join(broadcast(dtable),
        col("q_id") === col("t_q") && col("sub") === col("t_sub") &&
          col("code") === col("t_cell"))
      .groupBy("q_id", "vec_id")
      .agg((max(col("coarse_u")) + sum(col("p"))).as("score_u"))
      .withColumn("_split", spark_partition_id())
      .withColumn("_lrk", row_number().over(
        Window.partitionBy("q_id", "_split").orderBy(col("score_u").desc, col("vec_id"))))
      .filter(col("_lrk") <= k)
      .withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("score_u").desc, col("vec_id"))).cast("long"))
      .filter(col("rank") <= k)
      .select(col("q_id"), col("vec_id"),
        (col("score_u").cast("double") / 1e6).as("score"), col("rank"))
      .orderBy("q_id", "rank")
  }

  /** Graph-based ANN (HNSW-class, single layer): batched beam search
    * over a bounded-degree kNN graph — the third point of the ANN
    * family (brute = exact, IVF-PQ = memory, graph = query latency).
    * The graph is the top-`degree` neighbors per node from the shared
    * LSH candidate pool (`candScores`: v1 < v2 scored pairs), i.e. the
    * same construction as RetrievalPack's kNN graph at a higher degree.
    *
    * Search: deterministic entry points — per-query seeds from the
    * coarse k-means quantizer when `entryCells` > 0 (the Spark-first
    * analog of HNSW's upper layers; see the seed comment below), else
    * the `beam` lowest vec_ids — then `hops` rounds of
    * expand-score-prune — each round expands the
    * current per-query beam's out-edges, scores the (≤ q·beam·degree)
    * new candidates by exact snapped cosine, and keeps the best `beam`
    * of everything seen. Per-round plan shape: one broadcast join of
    * the (tiny) frontier against the cached edge list, one cached-
    * corpus scan to fetch candidate vectors (candidate ids broadcast),
    * one bounded per-query rank — no row-scale window, no all-pairs
    * anything; rounds are lazily checkpointed and the predecessor
    * freed (the ConnectedComponents truncation pattern), so plan depth
    * stays flat at any hop count. At 100 TB the edge list is n·degree fixed-width
    * rows and each query touches ≤ beam·degree·hops vectors — the
    * latency posture HNSW serves centrally, expressed as bounded
    * distributed batches.
    *
    * Deterministic end-to-end (graph from snapped cosines with id
    * tiebreaks, fixed entries, snapped scoring) — AnnSpec pins recall
    * against bruteTopK ground truth and split-independence; the search
    * path itself is hop-structured, so the operator registers rows-only
    * (the same adjudication as the other sequential/stateful rows).
    */
  /** Top-`degree` kNN-graph edge list from the v1 < v2 scored candidate
    * pool — the beam search's graph, exposed so callers running several
    * searches (or recall sweeps) build it once. Two-level rank (local
    * winners per input split, then global — the bruteTopK argument): at
    * high pool density the per-src partner lists are large, and a
    * single global window would sort every src's full list in one task.
    * Returned CACHED and materialized; the caller owns the unpersist.
    */
  def knnGraphEdges(candScores: DataFrame, degree: Int): DataFrame = {
    val dirs = candScores
      .select(col("v1").as("src"), col("v2").as("dst"), col("cosine"))
      .unionByName(
        candScores.select(col("v2").as("src"), col("v1").as("dst"), col("cosine")))
    val edges = dirs
      .withColumn("_split", spark_partition_id())
      .withColumn("_lrk", row_number().over(
        Window.partitionBy("src", "_split").orderBy(col("cosine").desc, col("dst"))))
      .filter(col("_lrk") <= degree)
      .withColumn("rk", row_number().over(
        Window.partitionBy("src").orderBy(col("cosine").desc, col("dst"))))
      .filter(col("rk") <= degree)
      .select("src", "dst")
      .cache()
    edges.count()
    edges
  }

  def graphBeamTopK(emb: DataFrame, candScores: DataFrame, nQueries: Int,
                    k: Int, degree: Int = 8, beam: Int = 16,
                    hops: Int = 3, entryCells: Int = 0,
                    nprobe: Int = 2): DataFrame = {
    val edges = knnGraphEdges(candScores, degree)
    try graphBeamTopKFromEdges(emb, edges, nQueries, k, beam, hops,
      entryCells, nprobe)
    finally edges.unpersist(blocking = false)
  }

  /** Beam search over a prebuilt [[knnGraphEdges]] list. */
  def graphBeamTopKFromEdges(emb: DataFrame, edges: DataFrame, nQueries: Int,
                             k: Int, beam: Int = 16, hops: Int = 3,
                             entryCells: Int = 0, nprobe: Int = 2): DataFrame = {
    val q = emb.filter(col("vec_id") < nQueries)
      .select(col("vec_id").as("q_id"), col("e").as("qe"), col("nrm").as("qn"))
    // (q_id, vec_id) candidate ids -> exact snapped cosine: candidate
    // ids and queries broadcast, ONE pass over the cached corpus frame
    def score(ids: DataFrame): DataFrame =
      emb.select(col("vec_id"), col("e"), col("nrm"))
        .join(broadcast(ids), "vec_id")
        .join(broadcast(q), "q_id")
        .withColumn("cosine",
          Port.r(dot(col("e"), col("qe")) / (col("qn") * col("nrm")), 6))
        .select("q_id", "vec_id", "cosine")
    def topPerQuery(scored: DataFrame, n: Int): DataFrame =
      scored.withColumn("rank", row_number().over(
        Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))).cast("long"))
        .filter(col("rank") <= n)
    // Entry points. A flat kNN graph has only SHORT links, so a global
    // entry set cannot navigate to a distant query's neighborhood in a
    // bounded hop count — the r12 20k-vector sweep measured recall@10
    // collapse to 0.01-0.39 from lowest-id entries (at 400 vectors the
    // same walk covers most of the graph, which is why the toy spec
    // passed). HNSW solves navigability with hierarchy; the Spark-first
    // equivalent of its upper layers is the coarse quantizer we already
    // have: with entryCells > 0, hop 0 IS an IVF probe — each query's
    // `nprobe` nearest cells' members are scored exactly (the same
    // candidate mass ivfTopK streams, same join shape) and the top
    // `beam` seed the walk. The beam then already contains the IVF
    // answer, so seeded recall@k is >= IVF(nprobe) recall by
    // construction, and the graph hops refine past cell boundaries —
    // recovering neighbors nprobe pruning lost. entryCells = 0 keeps
    // the global lowest-id entries (toy graphs, ideal-pool specs).
    val seedScores =
      if (entryCells <= 0) {
        val entries = emb.select(col("vec_id")).orderBy("vec_id").limit(beam)
        score(entries.crossJoin(broadcast(q.select(col("q_id"))))
          .filter(col("vec_id") =!= col("q_id")))
      } else {
        val (assigned, cent) = kmeansCellsCached(emb, entryCells)
        val probe = q.crossJoin(broadcast(cent))
          .withColumn("ccos",
            Port.r(dot(col("qe"), col("ce")) / (col("qn") * col("cn")), 6))
          .withColumn("crk", row_number().over(
            Window.partitionBy("q_id").orderBy(col("ccos").desc, col("cell"))))
          .filter(col("crk") <= nprobe)
          .select(col("q_id"), col("cell"), col("qe"), col("qn"))
        // two-level top-beam over the probed members (a hot cell must
        // not sort in one task — the ivfTopK argument verbatim)
        emb.join(assigned, "vec_id")
          .join(broadcast(probe), Seq("cell"))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("cosine",
            Port.r(dot(col("e"), col("qe")) / (col("qn") * col("nrm")), 6))
          .withColumn("_split", spark_partition_id())
          .withColumn("_lrk", row_number().over(
            Window.partitionBy("q_id", "_split")
              .orderBy(col("cosine").desc, col("vec_id"))))
          .filter(col("_lrk") <= beam)
          .withColumn("erk", row_number().over(
            Window.partitionBy("q_id").orderBy(col("cosine").desc, col("vec_id"))))
          .filter(col("erk") <= beam)
          .select("q_id", "vec_id", "cosine")
      }
    // Driver-local beam state (r17; replaces the per-hop checkpoint
    // loop). The walk's state is STRICTLY driver-bounded at any corpus
    // size: visited ≤ queries·(beam + hops·beam·degree) rows (seeds are
    // already top-beam-filtered, each hop adds at most frontier·degree
    // scored candidates) — ~4k rows at the registered parameters, the
    // working set an ANN serving node holds in RAM. Everything
    // corpus-sized stays distributed: neighbor expansion joins the edge
    // list and scoring joins the full embedding frame, ONE composed
    // Spark action per hop. The old loop paid ~5 actions per hop
    // (checkpoint counts for visited/expanded + the final window) —
    // ~20 driver job constants per call, 2.8-3.4 s warm at sf0.1 once
    // the search ran per-call; local state cuts it to hops+2 actions
    // with bit-identical output (same snapped-cosine scoring joins,
    // same frontier/anti-join set algebra, same (cosine desc, vec_id)
    // tie-breaks — AnnSpec + the oracle pin it).
    val spark = emb.sparkSession
    def collectScored(df: DataFrame): Seq[(Long, Long, Double)] =
      df.select(col("q_id").cast("long"), col("vec_id").cast("long"),
        col("cosine")).collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    // visited: insertion-ordered (q, vec) -> cosine; duplicates impossible
    // by the same anti-join invariant the distributed loop maintained
    val visited = scala.collection.mutable.LinkedHashMap[(Long, Long), Double]()
    collectScored(seedScores).foreach { case (q, v, c) => visited((q, v)) = c }
    val expanded = scala.collection.mutable.HashSet[(Long, Long)]()
    def topPerQueryLocal(n: Int): Seq[(Long, Long, Double)] =
      visited.toSeq.map { case ((q, v), c) => (q, v, c) }
        .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
          rows.sortBy { case (_, v, c) => (-c, v) }.take(n)
        }
    val pairSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("src",
        org.apache.spark.sql.types.LongType, nullable = false)))
    for (_ <- 1 to hops) {
      val frontier = topPerQueryLocal(beam)
        .map { case (q, v, _) => (q, v) }
        .filterNot(expanded.contains)
      if (frontier.nonEmpty) {
        val frontierDf = spark.createDataFrame(
          java.util.Arrays.asList(frontier.map { case (q, v) =>
            org.apache.spark.sql.Row(q, v) }: _*), pairSchema)
        val visitedDf = spark.createDataFrame(
          java.util.Arrays.asList(visited.keysIterator.map { case (q, v) =>
            org.apache.spark.sql.Row(q, v) }.toSeq: _*),
          org.apache.spark.sql.types.StructType(pairSchema.map(
            f => if (f.name == "src") f.copy(name = "vec_id") else f)))
        val expand = edges.join(broadcast(frontierDf), "src")
          .select(col("q_id"), col("dst").as("vec_id"))
          .filter(col("vec_id") =!= col("q_id"))
          .distinct()
          .join(broadcast(visitedDf), Seq("q_id", "vec_id"), "left_anti")
        collectScored(score(expand)).foreach { case (q, v, c) =>
          visited((q, v)) = c
        }
        expanded ++= frontier
      }
    }
    // nQueries·k rows — driver-sized by the operator's broadcast-queries
    // contract (the old loop also collect()ed here); LocalRelation, so
    // the result has no lifecycle coupling to any cached block.
    val resultRows = topPerQueryLocal(k)
      .groupBy(_._1).toSeq.flatMap { case (_, rows) =>
        rows.sortBy { case (_, v, c) => (-c, v) }.zipWithIndex.map {
          case ((q, v, c), i) => (q, v, c, (i + 1).toLong)
        }
      }
      .sortBy { case (q, _, _, rank) => (q, rank) }
      .map { case (q, v, c, rank) => org.apache.spark.sql.Row(q, v, c, rank) }
    val resultSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("q_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("vec_id",
        org.apache.spark.sql.types.LongType, nullable = false),
      org.apache.spark.sql.types.StructField("cosine",
        org.apache.spark.sql.types.DoubleType, nullable = false),
      org.apache.spark.sql.types.StructField("rank",
        org.apache.spark.sql.types.LongType, nullable = false)))
    spark.createDataFrame(
      java.util.Arrays.asList(resultRows: _*), resultSchema)
  }
}
