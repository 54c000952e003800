package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.Port
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Corpus-preparation operators a large-scale training-data pipeline
  * needs beyond per-doc text analysis (TextPack): benchmark
  * decontamination, PII/payload scrubbing, deterministic stratified
  * sampling, corpus shape statistics, and token-budget mix planning.
  *
  * Scale shapes: decontamination is an inverted-index shuffle join
  * (AQE broadcasts the eval side when it is in fact small);
  * the scrub is a single codegen'd regex pass; sampling is a stateless
  * hash predicate (no shuffle at all); the histogram and mix planner
  * aggregate to source/lang cardinality before any window work.
  */
object CorpusPack extends QueryPack {

  /** Held-out source treated as the evaluation benchmark. */
  val EvalSource = "src19"

  /** Blocklist for q_blocklist_filter (the C4 "bad words" analog on the
    * synthetic vocabulary): one rare term, one common term, one absent
    * term — exercising the hit-mass, near-universal-hit and zero-hit
    * paths. Deploy-time lists swap in here.
    */
  val Blocklist: Seq[String] = Seq("dup", "slow", "spam")

  /** Blocklist as a DuckDB list literal (keeps both engines on the one
    * definition).
    */
  private def BlocklistSql: String = Blocklist.map(t => s"'$t'").mkString(", ")

  /** Decontamination shingle width. 5-gram (vs TextPack's 3-gram dedup
    * shingles): contamination checks use long n-grams so that shared
    * topical vocabulary does not flag a doc — only near-verbatim spans do.
    */
  private[graft] def shingles5(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), col("source"),
        posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      .withColumn("t1", lead(col("tok"), 1).over(w))
      .withColumn("t2", lead(col("tok"), 2).over(w))
      .withColumn("t3", lead(col("tok"), 3).over(w))
      .withColumn("t4", lead(col("tok"), 4).over(w))
      .filter(col("t4").isNotNull)
      .select(col("doc_id"), col("source"),
        concat_ws(" ", col("tok"), col("t1"), col("t2"), col("t3"), col("t4")).as("shingle"))
      .distinct()
  }

  /** Session-memoized 5-gram shingle table (same pattern as
    * TextPack.shinglesCached for the 3-gram dedup shingles).
    */
  private def shingles5Cached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("CorpusPack.shingles5", s, d)(
      graft.Memo.pin(shingles5(Tables.documents(s, d))))

  /** Session-memoized eval-contamination hit pairs (r16): one
    * corpus⋈eval shingle join per session — (corpus doc_id, eval_doc,
    * shingle) for every 5-gram shared with the held-out source —
    * consumed by BOTH q_decontaminate (per-corpus-doc hit counts) and
    * q_eval_coverage (per-eval-doc covered-shingle counts). Before r16
    * each query ran its own corpus-scale shingle join (and coverage
    * additionally materialized a full DISTINCT of the corpus shingle
    * set, ~27 s of task time per warm run at sf0.1); the hit frame is
    * bounded by actual contamination mass, the natural cache size. The
    * two consumers' aggregates are exactly the old values: decontaminate
    * grouped this same join by doc_id, and coverage's semi-join count
    * per eval doc equals countDistinct(shingle) over the hits.
    */
  private def evalHitsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("CorpusPack.evalHits", s, d) {
      val shd = shingles5Cached(s, d)
      val ev = shd.filter(col("source") === EvalSource)
        .select(col("doc_id").as("eval_doc"), col("shingle"))
      shd.filter(col("source") =!= EvalSource)
        .select("doc_id", "shingle")
        .join(ev, "shingle")
        .select("doc_id", "eval_doc", "shingle")
        .transform(graft.Memo.pin)
    }

  /** Session-memoized per-doc 5-gram counts split by side (r16): the
    * n_shingles marginals of q_decontaminate (corpus side) and
    * q_eval_coverage (eval side). Each warm run otherwise re-scans the
    * full cached shingle table just to recount an unchanging per-doc
    * dimension frame (~14 s of task time at sf0.1 in the r16 profile).
    */
  private def shingleSizes5Cached(s: SparkSession, d: String,
                                  evalSide: Boolean): DataFrame =
    graft.Memo.share("CorpusPack.shingleSizes5", s, d, evalSide) {
      val side = if (evalSide) col("source") === EvalSource
                 else col("source") =!= EvalSource
      shingles5Cached(s, d).filter(side)
        .groupBy("doc_id").agg(count(lit(1)).as("n_shingles"))
        .transform(graft.Memo.pin)
    }

  /** Combined per-(src1, src2) shared-shingle counts AND per-source
    * distinct-shingle marginals (src2 null) in ONE pass: groupBy(shingle)
    * collapses each shingle to its sorted source set (bounded by source
    * cardinality ~20), then a map-side transform expands singletons and
    * upper-triangle pairs before a dimension-sized hash aggregate. The
    * previous self-join form planned the (source, shingle) distinct FOUR
    * times (two join sides + two marginal scans) — this is one shuffle.
    * Memoized because the final frame is ~C(sources,2)+sources rows but
    * its lineage is corpus-scale and feeds three consumers.
    */
  private def overlapAggCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("CorpusPack.overlapAgg", s, d) {
      val perShingle = shingles5Cached(s, d)
        .groupBy("shingle")
        .agg(sort_array(collect_set(col("source"))).as("srcs"))
      perShingle
        .select(explode(concat(
          expr("transform(srcs, x -> struct(x as src1, cast(null as string) as src2))"),
          expr("flatten(transform(srcs, (x, i) -> " +
            "transform(slice(srcs, i + 2, size(srcs)), y -> struct(x as src1, y as src2))))")
        )).as("p"))
        .select(col("p.src1"), col("p.src2"))
        .groupBy("src1", "src2")
        .agg(count(lit(1)).as("n"))
        .transform(graft.Memo.pin)
    }

  /** DuckDB mirror of [[shingles5]] (final CTE: shd5). */
  private val Shingles5Cte: String =
    """toks AS (
      |  SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents
      |),
      |sh AS (
      |  SELECT doc_id, source,
      |         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w ||
      |         ' ' || lead(tok, 3) OVER w || ' ' || lead(tok, 4) OVER w AS shingle
      |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |),
      |shd5 AS (SELECT DISTINCT doc_id, source, shingle FROM sh WHERE shingle IS NOT NULL)""".stripMargin

  // Scrub patterns — Java-regex/RE2 common subset (no lookaround, no
  // backrefs) so Spark and DuckDB compile identical semantics.
  private val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  private val IpRe    = "\\b(?:\\d{1,3}\\.){3}\\d{1,3}\\b"
  private val PhoneRe = "\\b\\d{3}[-.]\\d{3}[-.]\\d{4}\\b"
  private val NumRe   = "\\d+"

  /** Per-language deterministic sampling rates: the first 8 hex chars of
    * md5(text) are a uniform 32-bit draw, kept when below
    * floor(rate·2^32) in hex — stateless, reproducible on any engine,
    * and stable under re-partitioning (the classic downsample-the-
    * over-represented-stratum move; `en` is ~40% of this corpus).
    */
  /** Shard fan-out for the deterministic training shuffle. */
  val NShards = 64L

  /** Modulus for the shard manifests' id checksum (a prime below 2^30). */
  val ChecksumP = 1000000007L

  val LangRates: Seq[(String, String)] = Seq(
    "en" -> "66666666", // 0.4
    "de" -> "cccccccc", "es" -> "cccccccc", "fr" -> "cccccccc", "zh" -> "cccccccc") // 0.8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_decontaminate" -> ((s, d) => {
      // Benchmark decontamination: flag training docs sharing any
      // 5-gram with the held-out eval source. No broadcast hint: a real
      // eval suite is usually tiny (AQE converts the post-shuffle join
      // to broadcast on its own), but a large held-out split must not
      // be forced driver-side. The shuffle join stays linear in the
      // corpus — never corpus×corpus — and Spark's runtime bloom-filter
      // row filtering prunes corpus shingles that can't hit eval before
      // the shuffle.
      // cache barrier: shd5 feeds three consumers (eval side, corpus
      // sizes, hit join) — uncached, the posexplode+window+distinct
      // chain executes three times (measured: the whole r5 warm cost)
      val sizes = shingleSizes5Cached(s, d, evalSide = false)
      // corpus⋈eval hit pairs from the session memo (r16) — same join,
      // computed once per session instead of per call
      val hits = evalHitsCached(s, d)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_hit_shingles"),
          countDistinct(col("eval_doc")).as("n_eval_docs"))
      sizes.join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_hit_shingles"), lit(0L)).as("n_hit_shingles"),
          coalesce(col("n_eval_docs"), lit(0L)).as("n_eval_docs"))
        .withColumn("contaminated", (col("n_hit_shingles") > 0).cast("int"))
        .orderBy("doc_id")
    }),
    "q_eval_coverage" -> ((s, d) => {
      // q_decontaminate's REVERSE view: per held-out eval doc, how much
      // of its 5-gram surface already exists anywhere in the training
      // corpus — the "is this eval actually held out" audit run before
      // a decontamination pass is trusted. The corpus side collapses to
      // a DISTINCT shingle set before the join (df = 1 per key on the
      // build side by construction, so no hot-shingle output blowup is
      // possible), and the probe side is eval-sized — the cheap
      // direction at any corpus scale.
      // covered shingles per eval doc off the session-memoized hit pairs
      // (r16): countDistinct(shingle) over hits equals the old
      // ev ⋉ DISTINCT(corpus shingles) count — ev rows are unique
      // (doc_id, shingle) by shingles5's distinct, and a shingle appears
      // in hits iff some corpus doc shares it. The old form's full
      // corpus-shingle DISTINCT (the single most expensive stage in the
      // r16 profile: 27 s task time warm) never runs.
      val cov = evalHitsCached(s, d)
        .groupBy("eval_doc").agg(countDistinct(col("shingle")).as("n_covered"))
        .withColumnRenamed("eval_doc", "doc_id")
      shingleSizes5Cached(s, d, evalSide = true)
        .join(cov, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"))
        .withColumn("coverage",
          Port.r(col("n_covered") / col("n_shingles"), 6))
        .orderBy("doc_id")
    }),
    "q_pii_scrub" -> ((s, d) =>
      // Payload scrubbing over the raw event feed: count PII-shaped
      // spans (emails / IPs / phones / numeric identifiers) and redact
      // them, reporting how far redaction collapses the payload space.
      // One codegen'd regex pass per row, then a hash aggregate.
      Tables.events(s, d)
        .select(col("event_type"), col("props"),
          regexp_count(col("props"), lit(EmailRe)).cast("long").as("n_email"),
          regexp_count(col("props"), lit(IpRe)).cast("long").as("n_ip"),
          regexp_count(col("props"), lit(PhoneRe)).cast("long").as("n_phone"),
          regexp_count(col("props"), lit(NumRe)).cast("long").as("n_num"),
          regexp_replace(
            regexp_replace(
              regexp_replace(
                regexp_replace(col("props"), EmailRe, "<EMAIL>"),
                IpRe, "<IP>"),
              PhoneRe, "<PHONE>"),
            NumRe, "<NUM>").as("redacted"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n_payloads"),
          sum(col("n_email")).as("email_hits"),
          sum(col("n_ip")).as("ip_hits"),
          sum(col("n_phone")).as("phone_hits"),
          sum(col("n_num")).as("num_hits"),
          countDistinct(col("props")).as("n_distinct_raw"),
          countDistinct(col("redacted")).as("n_distinct_redacted"))
        .orderBy("event_type")),
    "q_sample_stratified" -> ((s, d) => {
      // Deterministic stratified sample: hash-threshold per language.
      // No RNG, no shuffle — a filter that any executor evaluates
      // identically, so the sample is reproducible across runs,
      // partitionings, and engines.
      val rates = {
        import s.implicits._
        LangRates.toDF("lang", "thr")
      }
      Tables.documents(s, d)
        .join(broadcast(rates), "lang")
        .withColumn("hash8", substring(md5(col("text")), 1, 8))
        .filter(col("hash8") < col("thr"))
        .select("doc_id", "lang", "source", "hash8")
        .orderBy("doc_id")
    }),
    "q_length_histogram" -> ((s, d) => {
      // Corpus shape: per-source doc-length histogram (100-char bins)
      // with within-source share and cumulative share. Aggregates to
      // (source × bin) before any window work, so the window runs over
      // a dimension-sized frame. share/cum_share are single IEEE double
      // divisions of exact integer operands — deterministic on both
      // engines, no summation-order sensitivity.
      val binned = Tables.documents(s, d)
        .groupBy(col("source"), expr("n_chars div 100").as("bin"))
        .agg(count(lit(1)).as("n_docs"))
      val ws = Window.partitionBy("source")
      binned
        .withColumn("src_docs", sum(col("n_docs")).over(ws))
        .withColumn("cum_docs",
          sum(col("n_docs")).over(ws.orderBy("bin")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .select(col("source"), col("bin"), col("n_docs"),
          (col("n_docs") / col("src_docs")).as("share"),
          (col("cum_docs") / col("src_docs")).as("cum_share"))
        .orderBy("source", "bin")
    }),
    "q_length_quantiles" -> ((s, d) => {
      // Exact per-source token-length quantiles (percentile_disc
      // semantics: smallest value whose cumulative count reaches
      // ceil(p·n)) — the sequence-length planning numbers behind context
      // sizing and truncation budgets. Scale shape: aggregate to the
      // VALUE histogram first (source × distinct length — bounded by max
      // doc length, dimension-sized), then cumsum + rank-select over
      // that tiny frame. A row_number over raw docs would serialize each
      // source through one task at 100 TB; the histogram form never
      // windows over row-scale data. Rank arithmetic is exact integers:
      // ceil(p·n) = (p_num·n + p_num) div p_den.
      val hist = Tables.documents(s, d)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tokens"))
        .groupBy("source", "n_tokens").agg(count(lit(1)).as("c"))
      val ws = Window.partitionBy("source")
      hist
        .withColumn("n_docs", sum(col("c")).over(ws))
        .withColumn("cum", sum(col("c")).over(ws.orderBy("n_tokens")
          .rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("source")
        .agg(max(col("n_docs")).as("n_docs"),
          min(when(col("cum") >= expr("(n_docs + 1) div 2"),
            col("n_tokens"))).as("p50_tokens"),
          min(when(col("cum") >= expr("(9 * n_docs + 9) div 10"),
            col("n_tokens"))).as("p90_tokens"),
          min(when(col("cum") >= expr("(99 * n_docs + 99) div 100"),
            col("n_tokens"))).as("p99_tokens"),
          max(col("n_tokens")).as("max_tokens"))
        .orderBy("source")
    }),
    "q_eval_split" -> ((s, d) => {
      // Deterministic corpus split manifest: train/val/test by ranges of
      // the md5 content hash (90/5/5) — content-addressed, so re-ingesting
      // the same doc can never flip its split (the train/eval hygiene
      // property), stateless, reproducible on any engine and input
      // partitioning. Complements the TIME-based q_train_test_split
      // (backtest folds must respect order; corpus splits must not).
      // Thresholds are hex-string comparisons on the first 8 md5 chars:
      // 0xe6666666/2^32 = 0.9, 0xf3333333/2^32 = 0.95.
      Tables.documents(s, d)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"),
          substring(md5(col("text")), 1, 8).as("h8"))
        .withColumn("split",
          when(col("h8") < "e6666666", "train")
            .when(col("h8") < "f3333333", "val")
            .otherwise("test"))
        .groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"))
        .orderBy("source", "split")
    }),
    "q_source_overlap" -> ((s, d) => {
      // Cross-source contamination matrix: shared distinct 5-gram mass
      // for every source pair (the leakage diagnostic behind choosing a
      // held-out eval source — a pair with high overlap cannot be a
      // train/eval split). Rides the memoized 5-gram shingle table via
      // overlapAggCached: one groupBy(shingle) → sorted source set →
      // map-side upper-triangle pair expansion, where each set is
      // bounded by SOURCE cardinality (a dimension, ~20) — linear in
      // distinct shingles at any corpus size, never doc×doc, and one
      // shuffle instead of the self-join's four.
      val aggd = overlapAggCached(s, d)
      val tot = aggd.filter(col("src2").isNull)
        .select(col("src1").as("source"), col("n").as("t"))
      aggd.filter(col("src2").isNotNull)
        .select(col("src1"), col("src2"), col("n").as("n_shared"))
        .join(broadcast(tot.select(col("source").as("src1"), col("t").as("src1_shingles"))), "src1")
        .join(broadcast(tot.select(col("source").as("src2"), col("t").as("src2_shingles"))), "src2")
        .select(col("src1"), col("src2"), col("n_shared"),
          col("src1_shingles"), col("src2_shingles"),
          Port.r(col("n_shared") /
            (col("src1_shingles") + col("src2_shingles") - col("n_shared")), 6)
            .as("jaccard"))
        .orderBy("src1", "src2")
    }),
    "q_padding_waste" -> ((s, d) => {
      // Why packing exists: the naive one-doc-per-context layout pads
      // every doc (split into ceil(n/L) contexts) up to the context
      // length; this audit quantifies the wasted token mass per source
      // at the three candidate lengths — the numbers a batch-layout
      // decision is made from (q_pack_contexts is the zero-padding
      // alternative they motivate). Exact integer ceil-division sums;
      // the ratio is one IEEE division of exact integers, snapped.
      Tables.documents(s, d)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
        .withColumn("ctx_len", explode(array(lit(512L), lit(1024L), lit(2048L))))
        .groupBy("source", "ctx_len")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n")).as("n_tokens"),
          sum(expr("(n + ctx_len - 1) div ctx_len")).as("n_contexts"),
          sum(expr("((n + ctx_len - 1) div ctx_len) * ctx_len - n")).as("padded_tokens"))
        .withColumn("waste_ratio",
          Port.r(col("padded_tokens") / (col("padded_tokens") + col("n_tokens")), 6))
        .orderBy("source", "ctx_len")
    }),
    "q_chunk_dedup" -> ((s, d) => {
      // Chunk-store dedup audit (RETRO, arXiv:2112.04426 §2.1 builds
      // its retrieval database from 64-token chunks): per source, how
      // much of the non-overlapping 64-token chunk index is redundant —
      // the cost gate before embedding the chunk store, where every
      // duplicated chunk is a wasted embedding AND a degenerate
      // nearest-neighbor at query time. A chunk is duplicated when its
      // content fingerprint occurs more than once in the corpus;
      // cross_doc separates corpus redundancy from in-doc repetition
      // (min≠max doc trick — no distinct expansion). Shape: map-side
      // chunk explode, one fingerprint hash agg, one fingerprint-keyed
      // join — hash-aggregate scale, never doc×doc.
      val toks = split(col("text"), " ")
      val ch = Tables.documents(s, d)
        .select(col("doc_id"), col("source"), toks.as("toks"),
          size(toks).cast("long").as("n"))
        .withColumn("cid",
          explode(sequence(lit(0L), greatest(lit(1L), expr("(n + 63) div 64")) - 1)))
        .select(col("doc_id"), col("source"),
          (least(col("cid") * 64 + 64, col("n")) - col("cid") * 64).as("n_tokens"),
          md5(concat_ws(" ", slice(col("toks"), col("cid") * 64 + 1,
            least(col("cid") * 64 + 64, col("n")) - col("cid") * 64))).as("chunk_md5"))
      val grp = ch.groupBy("chunk_md5").agg(
        count(lit(1)).as("occ"),
        (min("doc_id") =!= max("doc_id")).as("cross_doc"))
      ch.join(grp, "chunk_md5")
        .groupBy("source")
        .agg(count(lit(1)).as("n_chunks"),
          sum("n_tokens").as("chunk_tokens"),
          sum(when(col("occ") > 1, 1L).otherwise(0L)).as("dup_chunks"),
          sum(when(col("occ") > 1 && col("cross_doc"), 1L).otherwise(0L))
            .as("cross_doc_dup_chunks"),
          sum(when(col("occ") > 1, col("n_tokens")).otherwise(0L)).as("dup_tokens"))
        .withColumn("dup_ratio",
          col("dup_tokens").cast("double") / col("chunk_tokens").cast("double"))
        .orderBy("source")
    }),
    "q_blocklist_filter" -> ((s, d) => {
      // C4-style blocklist gate (arXiv:1910.10683 §2.2's "bad words"
      // filter): per doc, blocklist-token mass plus the two standard
      // decisions — C4's drop-on-any-hit and the softer ≤2%-mass gate
      // (a long doc quoting one bad term shouldn't die under the strict
      // rule alone; emitting both lets the pipeline choose). One
      // codegen'd higher-order-function pass over the token array — no
      // explode, no shuffle before the presentation sort; at 100 TB
      // this runs at scan speed like q_sample_stratified.
      val toks = split(col("text"), " ")
      val bl = array(Blocklist.map(lit): _*)
      val blocked = filter(toks, t => array_contains(bl, t))
      Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          size(toks).cast("long").as("n_tokens"),
          size(blocked).cast("long").as("n_blocked"),
          size(array_distinct(blocked)).cast("long").as("n_blocked_terms"))
        .withColumn("blocked_ratio",
          col("n_blocked").cast("double") / col("n_tokens").cast("double"))
        .withColumn("keep_strict", (col("n_blocked") === 0).cast("int"))
        .withColumn("keep_soft", (col("blocked_ratio") <= 0.02).cast("int"))
        .orderBy("doc_id")
    }),
    "q_chunk_docs" -> ((s, d) => {
      // Retrieval-style chunking (the indexing step feeding embedding +
      // ANN): sliding 128-token chunks at stride 96 (32-token overlap so
      // no boundary context is lost), last chunk ends exactly at the
      // doc's end. n_chunks = max(1, ceil((n-32)/96)) = max(1,
      // (n+63) div 96) — exact integer arithmetic; every token is
      // covered and every chunk contributes >32 new tokens. The chunk
      // content fingerprint (md5 of the space-joined token slice) is the
      // chunk-level dedup / cache key. Scale shape: pure map-side
      // explode (≤ n/96 + 1 rows per doc), no shuffle before the
      // presentation sort.
      val toks = split(col("text"), " ")
      Tables.documents(s, d)
        .select(col("doc_id"), toks.as("toks"), size(toks).cast("long").as("n"))
        .withColumn("chunk_id",
          explode(sequence(lit(0L), greatest(lit(1L), expr("(n + 63) div 96")) - 1)))
        .withColumn("tok_start", col("chunk_id") * 96)
        .withColumn("tok_end", least(col("tok_start") + 128, col("n")))
        .select(col("doc_id"), col("chunk_id"), col("tok_start"),
          (col("tok_end") - col("tok_start")).as("n_tokens"),
          md5(concat_ws(" ",
            slice(col("toks"), col("tok_start") + 1, col("tok_end") - col("tok_start"))))
            .as("chunk_md5"))
        .orderBy("doc_id", "chunk_id")
    }),
    "q_shard_manifest" -> ((s, d) => {
      // Deterministic global shuffle for training-data loaders: every
      // doc maps to one of 64 shards by the portable md5-first-14-hex
      // integer of its id — content-independent, reproducible on any
      // engine, and stable under any input partitioning. At scale the
      // write path is repartition($"shard").sortWithinPartitions($"h")
      // (one shuffle, shard files written in hash order); this query
      // emits the shard MANIFEST a loader validates against: doc/token
      // mass per shard, the hash range, and a modular id checksum. All
      // hash aggregates — no per-row window, so no shard is ever
      // serialized through a single task. The checksum sums doc_id mod
      // p through decimal(38,0) (HUGEINT in the mirror): exact at any
      // corpus size, then reduced mod p back to BIGINT.
      Tables.documents(s, d)
        .withColumn("h",
          conv(substring(md5(col("doc_id").cast("string")), 1, 14), 16, 10).cast("long"))
        .withColumn("shard", col("h") % NShards)
        .withColumn("toks", size(split(col("text"), " ")).cast("long"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("toks")).as("n_tokens"),
          min(col("h")).as("min_h"),
          max(col("h")).as("max_h"),
          expr(s"cast(sum(cast(doc_id % $ChecksumP as decimal(29,0))) % $ChecksumP as bigint)")
            .as("id_checksum"))
        .orderBy("shard")
    }),
    "q_mix_temperature" -> ((s, d) => {
      // Temperature-based source mixing (alpha = 0.5, the multilingual-
      // LM standard): sampling weight w_s proportional to p_s^alpha flattens the
      // source distribution, deliberately upsampling rare sources
      // (sample_rate > 1 means epochs over that source). Parity posture:
      // sqrt is IEEE-754 correctly rounded (identical in every libm),
      // and each weight is snapped to integer picounits BEFORE the
      // cross-source sum, so the weight total is an exact integer — no
      // float summation-order sensitivity. Allocations ride
      // decimal(19,0)x(19,0) products (HUGEINT in the mirror), exact at
      // the 100 TB token-count design point. Source cardinality is tiny:
      // the unpartitioned window is dimension-level, like q_corpus_mix.
      val avail = Tables.documents(s, d)
        .select(col("source"), size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("source").agg(sum(col("toks")).as("avail_tokens"))
      val all = Window.partitionBy(lit(1))
      avail
        .withColumn("total", sum(col("avail_tokens")).over(all))
        .withColumn("weight_u",
          floor(sqrt(col("avail_tokens") / col("total")) * 1e12 + lit(0.5)).cast("long"))
        .withColumn("wsum", sum(col("weight_u")).over(all))
        .withColumn("budget", expr("total * 6 div 10"))
        .withColumn("alloc_tokens",
          expr("cast(cast(budget as decimal(19,0)) * cast(weight_u as decimal(19,0)) div wsum as bigint)"))
        .select(col("source"), col("avail_tokens"), col("weight_u"), col("alloc_tokens"),
          Port.r(col("alloc_tokens") / col("avail_tokens"), 6).as("sample_rate"))
        .orderBy("source")
    }),
    "q_quality_deciles" -> ((s, d) => {
      // Curriculum binning: decile assignment over the quality score
      // (the q_quality_score formula verbatim), with per-decile doc and
      // token mass — the frame a quality-ordered training curriculum or
      // a drop-the-bottom-decile filter reads. Scale shape: quality
      // quantizes to the 1e-4 grid FIRST, so the histogram is bounded
      // by the grid (≤ 10⁴+1 rows) at any corpus size and the cumsum
      // window is dimension-level, never row-scale (the
      // q_length_quantiles posture). Decile of a value = ceil(cum·10/n)
      // in exact integer arithmetic — equal scores can never split
      // across deciles (the percentile_disc-flavored contract a
      // curriculum needs), and both engines bin identically.
      val toks = split(col("text"), " ")
      val q = Tables.documents(s, d)
        .select(
          length(col("text")).cast("long").as("n_chars"),
          size(toks).cast("long").as("n_tokens"),
          size(array_distinct(toks)).cast("long").as("n_distinct"),
          size(filter(toks, t => t === "the" || t === "a")).cast("long").as("n_stop"))
        .withColumn("quality",
          least(col("n_chars") / 500.0, lit(1.0)) * 0.4 +
            (col("n_distinct") / col("n_tokens")) * 0.3 +
            (lit(1.0) - col("n_stop") / col("n_tokens")) * 0.3)
        .withColumn("q4", floor(col("quality") * 1e4 + 0.5).cast("long"))
      val hist = q.groupBy("q4")
        .agg(count(lit(1)).as("c"), sum(col("n_tokens")).as("toks"))
      hist
        .withColumn("cum", sum(col("c")).over(
          // explicit single-partition intent: cumulates the 10^4-bin
          // histogram aggregate, never doc rows
          Window.partitionBy(lit(1)).orderBy("q4")
            .rowsBetween(Window.unboundedPreceding, 0)))
        .withColumn("n", sum(col("c")).over(Window.partitionBy(lit(1))))
        .withColumn("decile", expr("(cum * 10 + n - 1) div n"))
        .groupBy("decile")
        .agg(sum(col("c")).as("n_docs"), sum(col("toks")).as("n_tokens"),
          (min(col("q4")) / lit(1e4)).as("min_q"),
          (max(col("q4")) / lit(1e4)).as("max_q"))
        .orderBy("decile")
    }),
    "q_corpus_mix" -> ((s, d) => {
      // Token-budget mix planner (data-mixing step of corpus prep):
      // spend 60% of the corpus' whitespace tokens, target a uniform
      // per-language share, cap each language at its availability, and
      // redistribute the unspent remainder to uncapped languages
      // proportionally to availability (one deterministic round, all
      // integer arithmetic). Language cardinality is tiny, so the
      // unpartitioned window is a dimension-level plan, not a data one.
      val avail = Tables.documents(s, d)
        .select(col("lang"), size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("lang").agg(sum(col("toks")).as("avail_tokens"))
      val all = Window.partitionBy(lit(1))
      avail
        .withColumn("total", sum(col("avail_tokens")).over(all))
        .withColumn("n_langs", count(lit(1)).over(all))
        .withColumn("budget", expr("total * 6 div 10"))
        .withColumn("uniform_target", expr("budget div n_langs"))
        .withColumn("capped_alloc", least(col("avail_tokens"), col("uniform_target")))
        .withColumn("leftover", col("budget") - sum(col("capped_alloc")).over(all))
        .withColumn("uncapped_avail",
          sum(when(col("avail_tokens") > col("uniform_target"), col("avail_tokens"))
            .otherwise(0L)).over(all))
        // leftover·avail_tokens is ~1e26 at the 100 TB design point (both
        // factors ~1e13 tokens) — far past Long range, and Spark non-ANSI
        // would wrap silently. decimal(19,0)×decimal(19,0) → decimal(38,0)
        // exactly (no precision-loss rounding), and `div` truncates back to
        // BIGINT; the oracle mirrors via HUGEINT. 19 digits leaves 6 orders
        // of headroom over any real corpus token count.
        .withColumn("extra",
          when(col("avail_tokens") > col("uniform_target") && col("uncapped_avail") > 0,
            expr("cast(cast(leftover as decimal(19,0)) * cast(avail_tokens as decimal(19,0)) div uncapped_avail as bigint)"))
            .otherwise(0L))
        .withColumn("final_alloc", least(col("avail_tokens"), col("capped_alloc") + col("extra")))
        .select(col("lang"), col("avail_tokens"), col("uniform_target"),
          col("capped_alloc"), col("final_alloc"),
          Port.r(col("final_alloc") / col("avail_tokens"), 6).as("sample_rate"))
        .orderBy("lang")
    })
  )

  def oracles: Map[String, String] = Map(
    "q_eval_coverage" ->
      s"""WITH $Shingles5Cte,
         |ev AS (SELECT doc_id, shingle FROM shd5 WHERE source = '$EvalSource'),
         |corpsh AS (
         |  SELECT DISTINCT shingle FROM shd5 WHERE source != '$EvalSource'
         |),
         |cov AS (
         |  SELECT e.doc_id, count(*) AS n_covered
         |  FROM ev e JOIN corpsh c ON e.shingle = c.shingle GROUP BY e.doc_id
         |),
         |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM ev GROUP BY doc_id)
         |SELECT s.doc_id, s.n_shingles,
         |       CAST(coalesce(v.n_covered, 0) AS BIGINT) AS n_covered,
         |       ${graft.functions.Port.rsql(
                   "CAST(coalesce(v.n_covered, 0) AS DOUBLE) / s.n_shingles", 6)}
         |         AS coverage
         |FROM sizes s LEFT JOIN cov v ON s.doc_id = v.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "q_decontaminate" ->
      s"""WITH $Shingles5Cte,
         |ev AS (SELECT doc_id AS eval_doc, shingle FROM shd5 WHERE source = '$EvalSource'),
         |corp AS (SELECT doc_id, shingle FROM shd5 WHERE source != '$EvalSource'),
         |sizes AS (SELECT doc_id, count(*) AS n_shingles FROM corp GROUP BY doc_id),
         |hits AS (
         |  SELECT c.doc_id, count(*) AS n_hit_shingles,
         |         count(DISTINCT e.eval_doc) AS n_eval_docs
         |  FROM corp c JOIN ev e ON c.shingle = e.shingle GROUP BY c.doc_id
         |)
         |SELECT s.doc_id, s.n_shingles,
         |       CAST(coalesce(h.n_hit_shingles, 0) AS BIGINT) AS n_hit_shingles,
         |       CAST(coalesce(h.n_eval_docs, 0) AS BIGINT) AS n_eval_docs,
         |       CAST(coalesce(h.n_hit_shingles, 0) > 0 AS INT) AS contaminated
         |FROM sizes s LEFT JOIN hits h ON s.doc_id = h.doc_id
         |ORDER BY s.doc_id""".stripMargin,
    "q_pii_scrub" ->
      s"""WITH scrubbed AS (
         |  SELECT event_type, props,
         |         len(regexp_extract_all(props, '$EmailRe')) AS n_email,
         |         len(regexp_extract_all(props, '$IpRe')) AS n_ip,
         |         len(regexp_extract_all(props, '$PhoneRe')) AS n_phone,
         |         len(regexp_extract_all(props, '$NumRe')) AS n_num,
         |         regexp_replace(
         |           regexp_replace(
         |             regexp_replace(
         |               regexp_replace(props, '$EmailRe', '<EMAIL>', 'g'),
         |               '$IpRe', '<IP>', 'g'),
         |             '$PhoneRe', '<PHONE>', 'g'),
         |           '$NumRe', '<NUM>', 'g') AS redacted
         |  FROM events
         |)
         |SELECT event_type, count(*) AS n_payloads,
         |       CAST(sum(n_email) AS BIGINT) AS email_hits,
         |       CAST(sum(n_ip) AS BIGINT) AS ip_hits,
         |       CAST(sum(n_phone) AS BIGINT) AS phone_hits,
         |       CAST(sum(n_num) AS BIGINT) AS num_hits,
         |       count(DISTINCT props) AS n_distinct_raw,
         |       count(DISTINCT redacted) AS n_distinct_redacted
         |FROM scrubbed GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q_sample_stratified" -> {
      val vals = LangRates.map { case (l, t) => s"('$l', '$t')" }.mkString(", ")
      s"""WITH rates AS (SELECT * FROM (VALUES $vals) r(lang, thr))
         |SELECT d.doc_id, d.lang, d.source, substr(md5(d.text), 1, 8) AS hash8
         |FROM documents d JOIN rates r ON d.lang = r.lang
         |WHERE substr(md5(d.text), 1, 8) < r.thr
         |ORDER BY d.doc_id""".stripMargin
    },
    "q_length_quantiles" ->
      """WITH t AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        |  FROM documents
        |),
        |h AS (SELECT source, n_tokens, count(*) AS c FROM t GROUP BY 1, 2),
        |cw AS (
        |  SELECT source, n_tokens, c,
        |         sum(c) OVER (PARTITION BY source) AS n_docs,
        |         sum(c) OVER (PARTITION BY source ORDER BY n_tokens) AS cum
        |  FROM h
        |)
        |SELECT source,
        |       CAST(max(n_docs) AS BIGINT) AS n_docs,
        |       CAST(min(CASE WHEN cum >= (n_docs + 1) // 2 THEN n_tokens END) AS BIGINT) AS p50_tokens,
        |       CAST(min(CASE WHEN cum >= (9 * n_docs + 9) // 10 THEN n_tokens END) AS BIGINT) AS p90_tokens,
        |       CAST(min(CASE WHEN cum >= (99 * n_docs + 99) // 100 THEN n_tokens END) AS BIGINT) AS p99_tokens,
        |       CAST(max(n_tokens) AS BIGINT) AS max_tokens
        |FROM cw GROUP BY source ORDER BY source""".stripMargin,
    "q_length_histogram" ->
      """WITH binned AS (
        |  SELECT source, n_chars // 100 AS bin, count(*) AS n_docs
        |  FROM documents GROUP BY 1, 2
        |)
        |SELECT source, bin, n_docs,
        |       CAST(n_docs AS DOUBLE) / sum(n_docs) OVER (PARTITION BY source) AS share,
        |       CAST(sum(n_docs) OVER (PARTITION BY source ORDER BY bin
        |              ROWS UNBOUNDED PRECEDING) AS DOUBLE)
        |         / sum(n_docs) OVER (PARTITION BY source) AS cum_share
        |FROM binned ORDER BY source, bin""".stripMargin,
    "q_eval_split" ->
      """WITH t AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS toks,
        |         substr(md5(text), 1, 8) AS h8
        |  FROM documents
        |),
        |sp AS (
        |  SELECT source, toks,
        |         CASE WHEN h8 < 'e6666666' THEN 'train'
        |              WHEN h8 < 'f3333333' THEN 'val'
        |              ELSE 'test' END AS split
        |  FROM t
        |)
        |SELECT source, split, count(*) AS n_docs, CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM sp GROUP BY 1, 2 ORDER BY source, split""".stripMargin,
    "q_source_overlap" ->
      s"""WITH $Shingles5Cte,
         |ss AS (SELECT DISTINCT source, shingle FROM shd5),
         |tot AS (SELECT source, count(*) AS t FROM ss GROUP BY 1),
         |pairs AS (
         |  SELECT a.source AS src1, b.source AS src2, count(*) AS n_shared
         |  FROM ss a JOIN ss b ON a.shingle = b.shingle AND a.source < b.source
         |  GROUP BY 1, 2
         |)
         |SELECT p.src1, p.src2, p.n_shared,
         |       t1.t AS src1_shingles, t2.t AS src2_shingles,
         |       ${Port.rsql(
                   "CAST(p.n_shared AS DOUBLE) / (t1.t + t2.t - p.n_shared)", 6)} AS jaccard
         |FROM pairs p
         |JOIN tot t1 ON p.src1 = t1.source
         |JOIN tot t2 ON p.src2 = t2.source
         |ORDER BY p.src1, p.src2""".stripMargin,
    "q_padding_waste" ->
      """WITH t AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |),
        |e AS (
        |  SELECT t.source, t.n, CAST(l.ctx_len AS BIGINT) AS ctx_len
        |  FROM t CROSS JOIN (SELECT unnest([512, 1024, 2048]) AS ctx_len) l
        |)
        |SELECT source, ctx_len, count(*) AS n_docs,
        |       CAST(sum(n) AS BIGINT) AS n_tokens,
        |       CAST(sum((n + ctx_len - 1) // ctx_len) AS BIGINT) AS n_contexts,
        |       CAST(sum(((n + ctx_len - 1) // ctx_len) * ctx_len - n) AS BIGINT)
        |         AS padded_tokens,
        |       floor(CAST(sum(((n + ctx_len - 1) // ctx_len) * ctx_len - n) AS DOUBLE)
        |             / (sum(((n + ctx_len - 1) // ctx_len) * ctx_len - n) + sum(n))
        |             * 1e6 + 0.5) / 1e6 AS waste_ratio
        |FROM e GROUP BY 1, 2 ORDER BY source, ctx_len""".stripMargin,
    "q_chunk_dedup" ->
      """WITH t AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |),
        |mx AS (SELECT CAST((max(n) + 63) // 64 AS BIGINT) AS m FROM t),
        |ids AS (SELECT unnest(generate_series(0, (SELECT m FROM mx))) AS i),
        |ch AS (
        |  SELECT t.doc_id, t.source,
        |         least(CAST(ids.i AS BIGINT) * 64 + 64, t.n) - CAST(ids.i AS BIGINT) * 64 AS n_tokens,
        |         md5(array_to_string(list_slice(t.toks, CAST(ids.i AS BIGINT) * 64 + 1,
        |             least(CAST(ids.i AS BIGINT) * 64 + 64, t.n)), ' ')) AS chunk_md5
        |  FROM t CROSS JOIN ids
        |  WHERE ids.i < greatest(1, (t.n + 63) // 64)
        |),
        |grp AS (
        |  SELECT chunk_md5, count(*) AS occ, min(doc_id) <> max(doc_id) AS cross_doc
        |  FROM ch GROUP BY 1
        |),
        |a AS (
        |  SELECT source, count(*) AS n_chunks,
        |         CAST(sum(c.n_tokens) AS BIGINT) AS chunk_tokens,
        |         CAST(sum(CASE WHEN occ > 1 THEN 1 ELSE 0 END) AS BIGINT) AS dup_chunks,
        |         CAST(sum(CASE WHEN occ > 1 AND cross_doc THEN 1 ELSE 0 END) AS BIGINT) AS cross_doc_dup_chunks,
        |         CAST(sum(CASE WHEN occ > 1 THEN c.n_tokens ELSE 0 END) AS BIGINT) AS dup_tokens
        |  FROM ch c JOIN grp USING (chunk_md5) GROUP BY 1
        |)
        |SELECT source, n_chunks, chunk_tokens, dup_chunks, cross_doc_dup_chunks, dup_tokens,
        |       CAST(dup_tokens AS DOUBLE) / CAST(chunk_tokens AS DOUBLE) AS dup_ratio
        |FROM a ORDER BY source""".stripMargin,
    "q_blocklist_filter" ->
      s"""WITH b AS (
         |  SELECT doc_id, source,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
         |         CAST(len(list_filter(string_split(text, ' '),
         |              t -> list_contains([$BlocklistSql], t))) AS BIGINT) AS n_blocked,
         |         CAST(len(list_distinct(list_filter(string_split(text, ' '),
         |              t -> list_contains([$BlocklistSql], t)))) AS BIGINT) AS n_blocked_terms
         |  FROM documents
         |)
         |SELECT doc_id, source, n_tokens, n_blocked, n_blocked_terms,
         |       CAST(n_blocked AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS blocked_ratio,
         |       CASE WHEN n_blocked = 0 THEN 1 ELSE 0 END AS keep_strict,
         |       CASE WHEN CAST(n_blocked AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= 0.02
         |            THEN 1 ELSE 0 END AS keep_soft
         |FROM b ORDER BY doc_id""".stripMargin,
    "q_chunk_docs" ->
      """WITH t AS (
        |  SELECT doc_id, string_split(text, ' ') AS toks,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |),
        |mx AS (SELECT CAST((max(n) + 63) // 96 AS BIGINT) AS m FROM t),
        |ids AS (SELECT unnest(generate_series(0, (SELECT m FROM mx))) AS i),
        |ch AS (
        |  SELECT t.doc_id, t.toks, t.n, CAST(ids.i AS BIGINT) AS chunk_id
        |  FROM t CROSS JOIN ids
        |  WHERE ids.i < greatest(1, (t.n + 63) // 96)
        |)
        |SELECT doc_id, chunk_id, chunk_id * 96 AS tok_start,
        |       least(chunk_id * 96 + 128, n) - chunk_id * 96 AS n_tokens,
        |       md5(array_to_string(list_slice(toks, chunk_id * 96 + 1,
        |           least(chunk_id * 96 + 128, n)), ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_id""".stripMargin,
    "q_shard_manifest" ->
      s"""WITH h AS (
         |  SELECT doc_id,
         |         ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT AS h,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
         |  FROM documents
         |)
         |SELECT h % $NShards AS shard,
         |       count(*) AS n_docs,
         |       CAST(sum(toks) AS BIGINT) AS n_tokens,
         |       min(h) AS min_h,
         |       max(h) AS max_h,
         |       CAST(CAST(sum(doc_id % $ChecksumP) AS HUGEINT) % $ChecksumP AS BIGINT)
         |         AS id_checksum
         |FROM h GROUP BY 1 ORDER BY shard""".stripMargin,
    "q_mix_temperature" ->
      s"""WITH avail AS (
         |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
         |  FROM documents GROUP BY source
         |),
         |w AS (
         |  SELECT source, avail_tokens,
         |         CAST(sum(avail_tokens) OVER () AS BIGINT) AS total,
         |         CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)
         |                         / CAST(sum(avail_tokens) OVER () AS BIGINT)) * 1e12 + 0.5)
         |              AS BIGINT) AS weight_u
         |  FROM avail
         |),
         |t AS (
         |  SELECT *, CAST(sum(weight_u) OVER () AS BIGINT) AS wsum,
         |         total * 6 // 10 AS budget
         |  FROM w
         |),
         |f AS (
         |  SELECT *, CAST(CAST(budget AS HUGEINT) * weight_u // wsum AS BIGINT) AS alloc_tokens
         |  FROM t
         |)
         |SELECT source, avail_tokens, weight_u, alloc_tokens,
         |       ${Port.rsql("CAST(alloc_tokens AS DOUBLE) / avail_tokens", 6)} AS sample_rate
         |FROM f ORDER BY source""".stripMargin,
    "q_quality_deciles" ->
      """WITH base AS (
        |  SELECT length(text) AS n_chars,
        |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |         len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |         len(list_filter(string_split(text, ' '),
        |                         t -> t = 'the' OR t = 'a')) AS n_stop
        |  FROM documents
        |),
        |q AS (
        |  SELECT n_tokens,
        |         CAST(floor((least(n_chars / 500.0, 1.0) * 0.4
        |                     + (n_distinct / n_tokens) * 0.3
        |                     + (1.0 - n_stop / n_tokens) * 0.3) * 1e4 + 0.5)
        |              AS BIGINT) AS q4
        |  FROM base
        |),
        |hist AS (
        |  SELECT q4, count(*) AS c, CAST(sum(n_tokens) AS BIGINT) AS toks
        |  FROM q GROUP BY 1
        |),
        |cw AS (
        |  SELECT q4, c, toks,
        |         CAST(sum(c) OVER (ORDER BY q4) AS BIGINT) AS cum,
        |         CAST(sum(c) OVER () AS BIGINT) AS n
        |  FROM hist
        |)
        |SELECT (cum * 10 + n - 1) // n AS decile,
        |       CAST(sum(c) AS BIGINT) AS n_docs,
        |       CAST(sum(toks) AS BIGINT) AS n_tokens,
        |       min(q4) / 1e4 AS min_q, max(q4) / 1e4 AS max_q
        |FROM cw GROUP BY 1 ORDER BY decile""".stripMargin,
    "q_corpus_mix" ->
      s"""WITH avail AS (
         |  SELECT lang, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
         |  FROM documents GROUP BY lang
         |),
         |base AS (
         |  SELECT lang, avail_tokens,
         |         CAST(sum(avail_tokens) OVER () * 6 // 10 AS BIGINT) AS budget,
         |         CAST(count(*) OVER () AS BIGINT) AS n_langs
         |  FROM avail
         |),
         |t AS (
         |  SELECT *, CAST(budget // n_langs AS BIGINT) AS uniform_target,
         |         least(avail_tokens, budget // n_langs) AS capped_alloc
         |  FROM base
         |),
         |redis AS (
         |  SELECT *, budget - sum(capped_alloc) OVER () AS leftover,
         |         sum(CASE WHEN avail_tokens > uniform_target THEN avail_tokens
         |                  ELSE 0 END) OVER () AS uncapped_avail
         |  FROM t
         |),
         |fin AS (
         |  SELECT *, CASE WHEN avail_tokens > uniform_target AND uncapped_avail > 0
         |                 THEN CAST(CAST(leftover AS HUGEINT) * avail_tokens // uncapped_avail AS BIGINT)
         |                 ELSE 0 END AS extra
         |  FROM redis
         |)
         |SELECT lang, avail_tokens, uniform_target,
         |       CAST(capped_alloc AS BIGINT) AS capped_alloc,
         |       CAST(least(avail_tokens, capped_alloc + extra) AS BIGINT) AS final_alloc,
         |       ${Port.rsql("CAST(least(avail_tokens, capped_alloc + extra) AS DOUBLE) / avail_tokens", 6)} AS sample_rate
         |FROM fin ORDER BY lang""".stripMargin
  )
}
