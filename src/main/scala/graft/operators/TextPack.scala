package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Text-analysis operators for training-data pipelines over `documents`:
  * token statistics, BPE-ish token counting, language-ID scoring, quality
  * scoring, fingerprinting, exact + n-gram-Jaccard dedup.
  *
  * All ratios are integer/integer divisions — bit-identical across
  * engines with no rounding tolerance. The n-gram inverted-index join
  * caps per-shingle postings (stopword-shingle cut) so the pair
  * generation stays linear at 100 TB; the cap is part of the operator
  * definition on both engines.
  */
object TextPack extends QueryPack {

  /** Language → discriminative-token profile (the stopword-profile
    * mechanism; weights are occurrence counts).
    */
  val LangProfiles: Seq[(String, String)] = Seq(
    "en" -> "order", "en" -> "window", "en" -> "table", "en" -> "group",
    "fr" -> "query", "fr" -> "scan", "fr" -> "data", "fr" -> "batch",
    "es" -> "agg", "es" -> "slow", "es" -> "merge", "es" -> "value",
    "de" -> "hash", "de" -> "big", "de" -> "customer", "de" -> "row",
    "zh" -> "join", "zh" -> "fast", "zh" -> "spark", "zh" -> "the")

  /** Distinct 3-gram word shingles per doc. Explode + lead-window: fully
    * codegen'd and measured ~6× faster than the array-lambda formulation
    * (nested higher-order functions re-evaluate the collapsed split() per
    * element and resist common-subexpression elimination).
    */
  def shingles(docs: DataFrame): DataFrame = {
    val w = Window.partitionBy("doc_id").orderBy("pos")
    docs
      .select(col("doc_id"), col("lang"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
      // both leads in one projection → one WindowExec over the token
      // explosion (layering, r07)
      .select(col("*"),
        lead(col("tok"), 1).over(w).as("t1"),
        lead(col("tok"), 2).over(w).as("t2"))
      .filter(col("t2").isNotNull)
      .select(col("doc_id"), col("lang"),
        concat_ws(" ", col("tok"), col("t1"), col("t2")).as("shingle"))
      .distinct()
  }

  /** Session-memoized POSITIONAL n-gram stream (doc_id, pos, tok, t1,
    * shingle) — ONE token-explosion scan feeds the distinct shingle
    * table (jaccard pairs, MinHash), the winnowing fingerprints, AND
    * the 2-gram repetition gate, each of which previously re-exploded
    * and re-windowed the same token stream. Rows exist wherever a
    * 2-gram does (t1 non-null); `shingle` is null on the one trailing
    * row per doc that has no 3-gram, so 3-gram consumers filter
    * `shingle IS NOT NULL` (position-sensitive ones — winnowing — MUST,
    * or their window frames would count the extra row).
    */
  def posShinglesCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("TextPack.posShingles", s, d) {
      val w = Window.partitionBy("doc_id").orderBy("pos")
      graft.Tables.documents(s, d)
        .select(col("doc_id"), posexplode(split(col("text"), " ")).as(Seq("pos", "tok")))
        // one WindowExec for both leads (layering, r07)
        .select(col("*"),
          lead(col("tok"), 1).over(w).as("t1"),
          lead(col("tok"), 2).over(w).as("t2"))
        .filter(col("t1").isNotNull)
        .select(col("doc_id"), col("pos"), col("tok"), col("t1"),
          when(col("t2").isNotNull,
            concat_ws(" ", col("tok"), col("t1"), col("t2"))).as("shingle"))
        .cache()
    }

  /** Session-memoized cached shingle table — feeds the jaccard pipeline
    * and DedupPack's MinHash signatures/verification.
    */
  def shinglesCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("TextPack.shingles", s, d)(
      graft.Memo.pin(posShinglesCached(s, d).filter(col("shingle").isNotNull)
        .select("doc_id", "shingle").distinct()))

  /** Session-memoized per-doc distinct-3-gram counts (r16) — the
    * denominator frame of q_ngram_novelty and the sz1/sz2 sides of
    * DedupPack's LSH verification: three queries aggregated the same
    * cached shingle table per call (~6 s taskTime each warm at sf0.1);
    * one dimension-scale fill (one row per doc) serves them all.
    */
  def docShingleSizesCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("TextPack.docShingleSizes", s, d)(
      graft.Memo.pin(shinglesCached(s, d).groupBy("doc_id")
        .agg(count(lit(1)).as("n_shingles"))))

  /** Session-memoized first-occurrence novelty counts (r16): for each
    * doc, how many of the corpus's distinct 3-grams first appear (lowest
    * doc_id) in it — q_ngram_novelty's numerator. The groupBy(shingle)
    * min pass over the corpus-scale shingle table (the heaviest stage of
    * that query: ~7 s taskTime warm at sf0.1) runs once per session; the
    * frame is dimension-scale (≤ one row per doc).
    */
  private def novelCountsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("TextPack.novelCounts", s, d)(
      graft.Memo.pin(shinglesCached(s, d).groupBy("shingle").agg(min(col("doc_id")).as("first_doc"))
        .groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))))

  /** Session-memoized per-(doc, token) term-frequency frame — the
    * bag-of-words table (doc_id, tok, tf) behind TF-IDF: document
    * frequency, corpus vocabulary and doc totals are all exact-integer
    * aggregates of it. Dimension-bounded rows (distinct tokens per doc,
    * not token positions), so the cache is smaller than the positional
    * stream. NOTE: unlike posShinglesCached this covers EVERY token —
    * the positional stream drops each doc's last token (t1 null) and
    * single-token docs entirely, so tf must not derive from it.
    */
  def tokenCountsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("TextPack.tokenCounts", s, d)(
      graft.Memo.pin(graft.Tables.documents(s, d)
        .select(col("doc_id"), col("source"),
          explode(split(col("text"), " ")).as("tok"))
        .groupBy("doc_id", "source", "tok").agg(count(lit(1)).as("tf"))))

  /** Session-memoized IDF model table — (tok, df, n_docs): document
    * frequency over the bag-of-words memo plus the corpus size, the
    * model artifact TF-IDF scoring broadcasts (vocab-scale rows). Same
    * reuse rationale as [[bigramLmCached]]: the table fills once per
    * session; scoring is then one broadcast join against the tf memo.
    */
  def idfCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("TextPack.idf", s, d) {
      val nDocs = graft.Tables.documents(s, d).agg(count(lit(1)).as("n_docs"))
      graft.Memo.pin(tokenCountsCached(s, d)
        // df = DISTINCT DOCS containing the token. The memo rows are
        // (doc_id, source, tok) groups, so a plain row count would
        // equal distinct docs only while doc_id→source is 1:1; the
        // distinct makes the definition hold for a multi-source doc
        // too (two-phase partial-distinct aggregate, still vocab-scale)
        .groupBy("tok").agg(countDistinct(col("doc_id")).as("df"))
        .crossJoin(broadcast(nDocs)))
    }

  /** Session-memoized frozen-tokenizer piece table — (tok, pieces) from
    * the staged merge passes over the corpus vocabulary. The tokenizer
    * is a constant of the job (Bpe.TrainedMerges), so its piece counts
    * over the vocab are a model artifact like [[idfCached]]: fill once,
    * broadcast to every encode.
    */
  def bpePiecesCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("TextPack.bpePieces", s, d)(
      graft.Memo.pin(Bpe.piecesTable(
        tokenCountsCached(s, d).filter(length(col("tok")) >= 1)
          .select("tok").distinct())))

  /** Session-memoized corpus bigram LM counts — (tok, t1, c12, c1) with
    * c12 the bigram count and c1 the left-context total (a vocab-scale
    * window over the aggregate). This is the model table of the
    * CCNet-style perplexity gate (q_bigram_logprob): it fills once per
    * session; scoring is then one broadcast join against the memoized
    * positional stream.
    */
  def bigramLmCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("TextPack.bigramLm", s, d)(
      graft.Memo.pin(posShinglesCached(s, d)
        .groupBy("tok", "t1").agg(count(lit(1)).as("c12"))
        .withColumn("c1", sum(col("c12")).over(Window.partitionBy("tok")))))

  /** Jaccard pair chain over the shingle CTE (final CTE: jp) — shared by
    * the pair and cluster oracles.
    */
  private lazy val JaccardCte: String =
    s"""$ShinglesCte,
       |ok AS (SELECT shingle FROM shd GROUP BY shingle HAVING count(*) <= 1000),
       |shf AS (SELECT s.doc_id, s.shingle FROM shd s JOIN ok ON s.shingle = ok.shingle),
       |sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
       |prs AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
       |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2
       |),
       |jp AS (
       |  SELECT doc1, doc2, inter, s1.sz AS sz1, s2.sz AS sz2,
       |         inter / (s1.sz + s2.sz - inter) AS jaccard
       |  FROM prs JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
       |  WHERE inter / (s1.sz + s2.sz - inter) >= 0.5
       |)""".stripMargin

  /** DuckDB mirror of [[shingles]] (final CTE: shd). */
  val ShinglesCte: String =
    """toks AS (
      |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok,
      |         generate_subscripts(string_split(text, ' '), 1) AS pos
      |  FROM documents
      |),
      |sh AS (
      |  SELECT doc_id, lang,
      |         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
      |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
      |),
      |shd AS (SELECT DISTINCT doc_id, lang, shingle FROM sh WHERE shingle IS NOT NULL)""".stripMargin

  private val BpePattern = "\\w+|[^\\w\\s]"

  /** Shared mirror CTE chain for the language-ID family: ranked
    * per-(doc, lang) stopword hits; consumers filter rk = 1.
    */
  private lazy val LangRankedCte: String = {
    val vals = LangProfiles.map { case (l, t) => s"('$l', '$t')" }.mkString(", ")
    s"""toks AS (
       |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
       |),
       |profiles AS (SELECT * FROM (VALUES $vals) p(plang, tok)),
       |matched AS (
       |  SELECT t.doc_id, p.plang, count(*) AS hits
       |  FROM toks t JOIN profiles p ON t.tok = p.tok GROUP BY 1, 2
       |),
       |grid AS (
       |  SELECT d.doc_id, l.plang FROM documents d
       |  CROSS JOIN (SELECT DISTINCT plang FROM profiles) l
       |),
       |scores AS (
       |  SELECT g.doc_id, g.plang, CAST(coalesce(m.hits, 0) AS BIGINT) AS hits
       |  FROM grid g LEFT JOIN matched m ON g.doc_id = m.doc_id AND g.plang = m.plang
       |),
       |ranked AS (
       |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY hits DESC, plang) AS rk
       |  FROM scores
       |)""".stripMargin
  }

  /** Per-doc language-ID prediction frame shared by q_lang_id and
    * q_lang_confusion — stopword-profile ID as ONE conditional
    * aggregation: profile-matching tokens pivot to per-language hit
    * counts in a single per-doc hash agg, and the argmax (hits desc,
    * lang asc) is a greatest() + first-match when-chain. Two doc-scale
    * shuffles total (agg + doc join); zero rows explode beyond the
    * token scan.
    */
  private def langIdPred(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val toks = docs.select(col("doc_id"),
      explode(split(col("text"), " ")).as("tok"))
    val profiles = {
      import s.implicits._
      LangProfiles.toDF("plang", "tok")
    }
    val langs = LangProfiles.map(_._1).distinct.sorted
    val hitsWide = toks.join(broadcast(profiles), "tok")
      .groupBy("doc_id")
      .agg(sum(when(col("plang") === langs.head, 1L).otherwise(0L)).as(s"h_${langs.head}"),
        langs.tail.map(l =>
          sum(when(col("plang") === l, 1L).otherwise(0L)).as(s"h_$l")): _*)
    val hcols = langs.map(l => coalesce(col(s"h_$l"), lit(0L)))
    val maxh = greatest(hcols: _*)
    // first match in asc lang order among the maxima — the exact order
    // the previous (hits desc, plang asc) window ranking used
    val pred = langs.zip(hcols).tail.foldLeft(when(hcols.head === maxh, langs.head)) {
      case (acc, (l, h)) => acc.when(h === maxh, l)
    }
    docs.select("doc_id", "lang")
      .join(hitsWide, Seq("doc_id"), "left")
      .select(col("doc_id"), col("lang").as("true_lang"),
        pred.as("pred_lang"), maxh.as("hits"),
        (col("lang") === pred).cast("int").as("correct"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_bpe_pair_freqs" -> ((s, d) => {
      // Tokenizer training, step 0: the BPE merge-candidate table —
      // adjacent character-pair counts weighted by word frequency (the
      // argmax of this table IS the first BPE merge; iterating it is
      // the whole trainer loop). Scale shape: the pair stream explodes
      // the VOCAB (distinct words × word length), not the corpus — at
      // web scale that is ~10^7 words × ~8 chars, a hash-aggregate-
      // sized frame regardless of corpus token count, because the word
      // frequencies carry the corpus mass. Top-20 by exact integer
      // count (ties lexicographic) so both engines rank identically.
      val vocab = Tables.documents(s, d)
        .select(explode(split(col("text"), " ")).as("tok"))
        .groupBy("tok").agg(count(lit(1)).as("freq"))
      vocab
        // single-char words carry no pairs — and MUST be filtered before
        // the explode: Spark's sequence(1, 0) steps BACKWARDS to [1, 0],
        // so an unguarded explode emits a bogus index-0 row per 1-char
        // word instead of zero rows
        .filter(length(col("tok")) >= 2)
        .withColumn("i", explode(sequence(lit(1), length(col("tok")) - 1)))
        .select(expr("substr(tok, i, 1)").as("a"),
          expr("substr(tok, i + 1, 1)").as("b"), col("freq"))
        .groupBy("a", "b").agg(sum(col("freq")).as("pair_count"))
        .withColumn("rank", row_number().over(
          // explicit single-partition intent: ranks the char-pair VOCAB
          // aggregate (dimension-scale at any corpus), never doc rows
          Window.partitionBy(lit(1))
            .orderBy(col("pair_count").desc, col("a"), col("b"))).cast("long"))
        .filter(col("rank") <= 20)
        .orderBy("rank")
    }),
    // Distributed encode with the FROZEN trained merge table — the
    // production serving path of the trainer above: the 89-rule
    // full-capacity table applied as staged HOF merge passes over the
    // distinct-word frame. Both inputs ride session memos: the
    // per-(source, tok) counts derive from the bag-of-words frame and
    // the piece table is the frozen tokenizer's model artifact
    // (bpePiecesCached) — a warm encode is one broadcast join + one
    // aggregate, the same values as the live Bpe.encode chain.
    "q_bpe_encode" -> ((s, d) =>
      Bpe.encodeFromCounts(
        tokenCountsCached(s, d).filter(length(col("tok")) >= 1)
          .groupBy("source", "tok").agg(sum(col("tf")).as("n")),
        broadcast(bpePiecesCached(s, d)))),
    "q_ngram_novelty" -> ((s, d) => {
      // Ingestion-order novelty: the fraction of a doc's distinct
      // 3-grams whose FIRST occurrence (lowest doc_id) is this doc —
      // the "what does this doc add" contribution metric behind
      // keep/drop decisions on a near-duplicate tail (a doc that is
      // pure re-statement of earlier corpus scores ~0). NO shingle-key
      // join: because the shingle table is distinct per (doc, shingle),
      // a doc's novel count is exactly the number of first-occurrence
      // rows it owns — groupBy(shingle).min, re-grouped by the winning
      // doc. Both aggregates are combine-safe (partial min/count), so a
      // hot shingle carrying 10% of corpus mass collapses map-side
      // instead of landing one join task with 10% of all postings; the
      // only join left is doc-keyed (uniform by construction).
      // both aggregates ride session memos (r16) — identical frames to
      // the per-call groupBys they replace; per run this query is one
      // doc-keyed join of two dimension-scale cached frames + the
      // novelty division
      val perDoc = docShingleSizesCached(s, d)
      val novel = novelCountsCached(s, d)
      perDoc.join(novel, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_shingles"),
          coalesce(col("n_novel"), lit(0L)).as("n_novel"))
        .withColumn("novelty",
          graft.functions.Port.r(col("n_novel") / col("n_shingles"), 6))
        .orderBy("doc_id")
    }),
    "q_text_stats" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct_tokens"),
        (length(regexp_replace(col("text"), " ", "")).cast("long") /
          size(split(col("text"), " "))).as("avg_token_len"))
        .orderBy("doc_id")),
    "q_token_count" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("source"),
        size(split(col("text"), " ")).cast("long").as("ws_toks"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long").as("bpe_toks"),
        length(col("text")).cast("long").as("chars"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws_toks")).as("total_ws_tokens"),
          sum(col("bpe_toks")).as("total_bpe_tokens"),
          sum(col("chars")).as("total_chars"),
          (sum(col("ws_toks")) / count(lit(1))).as("avg_tokens_per_doc"))
        .orderBy("source")),
    "q_tokenizer_fertility" -> ((s, d) =>
      // Tokenizer-fertility diagnostic per language: BPE-ish tokens per
      // whitespace word (fertility — the cost multiplier a tokenizer
      // pays on that language) and chars per BPE token (compression).
      // Exact integer sums; ratios are single IEEE divisions.
      Tables.documents(s, d).select(
        col("lang"),
        size(split(col("text"), " ")).cast("long").as("ws"),
        size(regexp_extract_all(col("text"), lit(BpePattern), lit(0))).cast("long").as("bpe"),
        length(col("text")).cast("long").as("chars"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum("ws").as("total_ws_tokens"),
          sum("bpe").as("total_bpe_tokens"),
          sum("chars").as("total_chars"))
        .withColumn("fertility", col("total_bpe_tokens").cast("double") /
          col("total_ws_tokens").cast("double"))
        .withColumn("chars_per_token", col("total_chars").cast("double") /
          col("total_bpe_tokens").cast("double"))
        .orderBy("lang")),
    "q_preference_pairs" -> ((s, d) => {
      // Preference-pair construction for reward-model data prep: per
      // (lang, source) cell, the highest- and lowest-quality doc
      // (q_quality_score's composite; doc_id asc tiebreaks) as a
      // (chosen, rejected) pair with the quality gap. Extremes via
      // struct-ordered min/max aggregates — one hash agg, NO ranking
      // window over the doc corpus (scale posture: the cell count is
      // dimension-scale; the oracle may rank because DuckDB is only
      // the referee).
      val q = Tables.documents(s, d).select(
        col("doc_id"), col("lang"), col("source"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"),
        size(filter(split(col("text"), " "),
          t => t === "the" || t === "a")).cast("long").as("n_stop"))
        .withColumn("quality",
          least(col("n_chars") / 500.0, lit(1.0)) * 0.4 +
            (col("n_distinct") / col("n_tokens")) * 0.3 +
            (lit(1.0) - col("n_stop") / col("n_tokens")) * 0.3)
      q.groupBy("lang", "source")
        .agg(count(lit(1)).as("n_docs"),
          max(struct(col("quality"), (-col("doc_id")).as("nid"))).as("hi"),
          min(struct(col("quality"), col("doc_id").as("id"))).as("lo"))
        .select(col("lang"), col("source"), col("n_docs"),
          (-col("hi.nid")).as("chosen_doc_id"),
          col("lo.id").as("rejected_doc_id"),
          graft.functions.Port.r(col("hi.quality"), 6).as("chosen_q"),
          graft.functions.Port.r(col("lo.quality"), 6).as("rejected_q"),
          graft.functions.Port.r(col("hi.quality") - col("lo.quality"), 6).as("q_gap"))
        .orderBy("lang", "source")
    }),
    "q_gini_sources" -> ((s, d) => {
      // Corpus-balance diagnostic: Gini concentration of token mass
      // across sources within each language — G = Σ(2i−n−1)·c_i /
      // (n·Σc) over sources ranked ascending by mass (source asc
      // tiebreak). High G = one source dominates the language's data.
      // Exact integer numerator, one division; every window runs over
      // the (lang, source) AGGREGATE (dimension scale at any corpus).
      val v = Tables.documents(s, d)
        .select(col("lang"), col("source"),
          size(split(col("text"), " ")).cast("long").as("toks"))
        .groupBy("lang", "source").agg(sum("toks").as("c"))
      val wr = Window.partitionBy("lang").orderBy(col("c").asc, col("source").asc)
      v.withColumn("i", row_number().over(wr).cast("long"))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("lang")))
        .withColumn("tot", sum(col("c")).over(Window.partitionBy("lang")))
        .withColumn("num", (lit(2L) * col("i") - col("n") - 1L) * col("c"))
        .groupBy("lang")
        .agg(max("n").as("n_sources"), max("tot").as("total_tokens"),
          sum("num").as("s_num"))
        .withColumn("gini", graft.functions.Port.r(col("s_num").cast("double") /
          (col("n_sources") * col("total_tokens")).cast("double"), 6))
        .select("lang", "n_sources", "total_tokens", "gini")
        .orderBy("lang")
    }),
    "q_unigram_kl" -> ((s, d) => {
      // Per-source unigram KL divergence KL(p_source || p_corpus) — the
      // distribution-shift diagnostic a mixer reads next to
      // q_corpus_mix/q_token_entropy: high KL flags a source whose
      // token distribution diverges from the blend. KL·N_s = Σ
      // c_s·ln((c_s/N_s)/(c_g/N_g)); each term snaps to integer
      // micro-units BEFORE the exact decimal(38,0)/HUGEINT sum (the
      // windowed-float-sum rule), final KL is one mirrored division.
      // Source totals are vocab-dimension windows; the corpus total is
      // one broadcast scalar (every source token exists globally, so no
      // zero-q guard is needed).
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val toks = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      val v = toks.groupBy("source", "tok").agg(count(lit(1)).as("cs"))
        .withColumn("ns", sum(col("cs")).over(Window.partitionBy("source")))
        .withColumn("cg", sum(col("cs")).over(Window.partitionBy("tok")))
      v.crossJoin(broadcast(toks.agg(count(lit(1)).as("ng"))))
        .withColumn("t_micro",
          floor(col("cs").cast("double") *
            log((col("cs").cast("double") / col("ns")) /
                (col("cg").cast("double") / col("ng"))) * 1e6 + lit(0.5))
            .cast(dec38))
        .groupBy("source")
        .agg(max(col("ns")).as("n_tokens"), count(lit(1)).as("n_terms"),
          sum(col("t_micro")).as("s_micro"))
        .withColumn("kl", graft.functions.Port.r(
          col("s_micro").cast("double") / (col("n_tokens") * 1e6), 6))
        .select("source", "n_tokens", "n_terms", "kl")
        .orderBy("source")
    }),
    "q_lang_id" -> ((s, d) => langIdPred(s, d).orderBy("doc_id")),
    "q_lang_confusion" -> ((s, d) =>
      // Language-ID evaluation: the confusion matrix of the stopword
      // profiler vs the labeled lang column, with each row's share of
      // its true-language total (recall sits on the diagonal). One
      // aggregation over the shared prediction frame; the share window
      // runs over the langs x langs AGGREGATED grid, never docs.
      langIdPred(s, d)
        .groupBy("true_lang", "pred_lang")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("row_share", col("n_docs").cast("double") /
          sum(col("n_docs")).over(Window.partitionBy("true_lang")).cast("double"))
        .orderBy("true_lang", "pred_lang")),
    "q_quality_score" -> ((s, d) =>
      Tables.documents(s, d).select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"),
        size(filter(split(col("text"), " "),
          t => t === "the" || t === "a")).cast("long").as("n_stop"))
        .withColumn("distinct_ratio", col("n_distinct") / col("n_tokens"))
        .withColumn("stop_ratio", col("n_stop") / col("n_tokens"))
        .withColumn("length_score", least(col("n_chars") / 500.0, lit(1.0)))
        .withColumn("quality",
          col("length_score") * 0.4 + col("distinct_ratio") * 0.3 +
            (lit(1.0) - col("stop_ratio")) * 0.3)
        .orderBy("doc_id")),
    "q_doc_fingerprint" -> ((s, d) => {
      val fp = Tables.documents(s, d).select(col("doc_id"),
        md5(lower(regexp_replace(col("text"), "\\s+", " "))).as("fingerprint"))
      fp.withColumn("n_same_fp", count(lit(1)).over(Window.partitionBy("fingerprint")))
        .orderBy("doc_id")
    }),
    "q_dedup_exact_docs" -> ((s, d) =>
      Tables.documents(s, d)
        .groupBy(md5(col("text")).as("content_md5"))
        .agg(min(col("doc_id")).as("keep_doc_id"), count(lit(1)).as("n_dups"))
        .orderBy("keep_doc_id")),
    "q_winnow_fingerprint" -> ((s, d) => {
      // Winnowing fingerprints (the MOSS scheme; Schleimer et al.,
      // SIGMOD'03): hash every positional 3-gram shingle and take the
      // MIN hash value of each sliding window of 4 — the distinct
      // window-min set guarantees two docs sharing any run of ≥ 6
      // tokens share a fingerprint, at ~1/4 the stored hashes.
      // Engine-portable "rolling hash": the first 8 md5 hex chars
      // (identical in both engines; hex-string min == value min).
      // Per-doc windows only — linear at 100 TB, and the fingerprint
      // set is the near-dup index a copy-detection pipeline shuffles on.
      // Rides the memoized positional shingle scan (the r06 form
      // re-exploded and re-windowed the token stream the jaccard
      // pipeline had already built): one md5 + one window-min over the
      // cached (doc_id, pos, shingle) rows, which arrive already
      // partitioned by doc_id from the cache's build.
      val w = Window.partitionBy("doc_id").orderBy("pos")
      // shingle-non-null filter is load-bearing: the cache keeps one
      // trailing 2-gram-only row per doc, and the positional 4-row
      // frames below must see exactly the 3-gram rowset
      posShinglesCached(s, d).filter(col("shingle").isNotNull)
        .withColumn("h", substring(md5(col("shingle")), 1, 8))
        .withColumn("wmin", min(col("h")).over(w.rowsBetween(0, 3)))
        .groupBy("doc_id")
        .agg(countDistinct(col("wmin")).as("n_fingerprints"),
          min(col("wmin")).as("min_fp"), max(col("wmin")).as("max_fp"))
        .orderBy("doc_id")
    }),
    "q_corpus_filter" -> ((s, d) => {
      // the composed training-corpus filter: near-dup losers out, then
      // length and quality gates — one decision row per document.
      // The near-dup pairs come from the memoized jaccard pipeline, so a
      // session running both queries (Verify/Bench) pays for the shingle
      // self-join once.
      val docs = Tables.documents(s, d)
      val quality = docs.select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_distinct"),
        size(filter(split(col("text"), " "),
          t => t === "the" || t === "a")).cast("long").as("n_stop"))
        .withColumn("quality",
          least(col("n_chars") / 500.0, lit(1.0)) * 0.4 +
            (col("n_distinct") / col("n_tokens")) * 0.3 +
            (lit(1.0) - col("n_stop") / col("n_tokens")) * 0.3)
      val losers = jaccardPairs(s, d)
        .select(col("doc2").as("doc_id")).distinct().withColumn("is_dup", lit(1))
      quality.join(losers, Seq("doc_id"), "left")
        .withColumn("reason",
          when(col("is_dup") === 1, "near_dup")
            .when(col("n_chars") < 150, "too_short")
            .when(col("quality") < 0.7, "low_quality")
            .otherwise("kept"))
        .withColumn("kept", (col("reason") === "kept").cast("int"))
        .select("doc_id", "n_chars", "quality", "reason", "kept")
        .orderBy("doc_id")
    }),
    "q_dedup_ngram_jaccard" -> ((s, d) => jaccardPairs(s, d)),
    "q_dup_matrix" -> ((s, d) => {
      // Cross-source near-duplication matrix over the verified jaccard
      // pairs (rides the memoized prefix-filtered pool): pair count and
      // mean jaccard per unordered source pair — the document-level
      // companion of q_source_overlap's shingle-mass view, read when
      // choosing which sources share a dedup pass. Per-pair jaccard
      // (itself an exact-integer division) snaps to integer micro-units
      // BEFORE the mean, so the aggregate is an exact sum at any pair
      // count.
      val src = Tables.documents(s, d).select(col("doc_id"), col("source"))
      jaccardPairs(s, d)
        .join(src.select(col("doc_id").as("doc1"), col("source").as("sa")), "doc1")
        .join(src.select(col("doc_id").as("doc2"), col("source").as("sb")), "doc2")
        .select(least(col("sa"), col("sb")).as("src1"),
          greatest(col("sa"), col("sb")).as("src2"),
          floor(col("jaccard") * 1e6 + lit(0.5)).cast("long").as("j_u"))
        .groupBy("src1", "src2")
        .agg(count(lit(1)).as("n_pairs"),
          (sum(col("j_u")).cast("double") / (count(lit(1)) * 1e6))
            .as("avg_jaccard"))
        .orderBy("src1", "src2")
    }),
    "q_dedup_containment" -> ((s, d) => {
      // Asymmetric near-dup: containment |A∩B| / min(|A|,|B|) catches a
      // short doc EMBEDDED in a long one — symmetric Jaccard dilutes
      // that pair below any workable threshold (a 10-shingle doc inside
      // a 100-shingle doc scores J≈0.1 but containment 1.0), so quote-
      // expansion and boilerplate-wrapping duplicates only fall to this
      // gate. Rides the shared prefix-filtered verified-pair memo
      // (containment >= 0.8 implies containment-over-min >= 1/2, so the
      // candidate set is guaranteed complete); ratios are exact-integer
      // divisions.
      verifiedPairs(s, d)
        .withColumn("containment", col("inter") / least(col("sz1"), col("sz2")))
        .filter(col("containment") >= 0.8)
        .withColumn("jaccard",
          col("inter") / (col("sz1") + col("sz2") - col("inter")))
        .select("doc1", "doc2", "inter", "sz1", "sz2", "containment", "jaccard")
        .orderBy("doc1", "doc2")
    }),
    "q_dedup_incremental" -> ((s, d) => {
      // Ingestion-time dedup: the question a production pipeline asks on
      // every new crawl — which of the NEWEST arrivals (here the top
      // ~20% of the ingestion-id range, threshold in exact integer
      // arithmetic) near-duplicate a doc already in the standing corpus,
      // and which standing doc is the best match. Rides the memoized
      // symmetric pair table, so the marginal cost is a directional
      // filter + per-new-doc rank — the asymmetric (batch vs corpus)
      // posture that stays linear in the batch at any corpus size.
      val pairs = jaccardPairs(s, d)
      val thr = Tables.documents(s, d)
        .agg(expr("(8 * max(doc_id)) div 10").as("thr"))
      val dirs = pairs.select(col("doc1").as("doc_id"), col("doc2").as("match_doc"),
        col("inter"), col("sz1").as("sz_doc"), col("sz2").as("sz_match"), col("jaccard"))
        .unionByName(pairs.select(col("doc2").as("doc_id"), col("doc1").as("match_doc"),
          col("inter"), col("sz2").as("sz_doc"), col("sz1").as("sz_match"), col("jaccard")))
      dirs.crossJoin(broadcast(thr))
        .filter(col("doc_id") > col("thr") && col("match_doc") <= col("thr"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id").orderBy(col("jaccard").desc, col("match_doc"))))
        .filter(col("rk") === 1)
        .select("doc_id", "match_doc", "inter", "sz_doc", "sz_match", "jaccard")
        .orderBy("doc_id")
    }),
    "q_repetition_filter" -> ((s, d) => {
      // Gopher-style repetition quality signals: per-doc top-2-gram
      // share and duplicated-2-gram mass, with a keep/drop decision —
      // the standard repetition gate in LLM corpus prep. All ratios are
      // integer/integer divisions (exact, no rounding). Rides the
      // memoized positional n-gram stream (every cached row IS a
      // 2-gram) instead of re-exploding the corpus.
      val grams = posShinglesCached(s, d)
        .select(col("doc_id"), concat_ws(" ", col("tok"), col("t1")).as("gram"))
      grams.groupBy("doc_id", "gram").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(
          sum(col("c")).as("n_2grams"),
          max(col("c")).as("top_c"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("dup_mass"))
        .select(col("doc_id"), col("n_2grams"),
          (col("top_c") / col("n_2grams")).as("top_2gram_share"),
          (col("dup_mass") / col("n_2grams")).as("dup_2gram_ratio"))
        .withColumn("keep",
          (col("top_2gram_share") <= 0.20 && col("dup_2gram_ratio") <= 0.60).cast("int"))
        .orderBy("doc_id")
    }),
    "q_unigram_logprob" -> ((s, d) => {
      // corpus-LM quality score (KenLM-lite): average unigram negative
      // log-probability per doc — rare-token-heavy docs score high. The
      // vocab is a hash aggregate; the per-token score is a broadcast
      // join at this vocab size (a shuffle join at web-corpus vocab).
      val toks = Tables.documents(s, d)
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      // total tokens straight off the token stream (== sum of vocab
      // counts) so vocab is referenced exactly once and needs no cache —
      // a bare per-call .cache() here lingered in executor storage for
      // the async ContextCleaner (the r07 bench-neighborhood debt).
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val total = toks.agg(count(lit(1)).as("n_total"))
      toks.join(broadcast(vocab), "tok")
        .crossJoin(broadcast(total))
        .withColumn("nll", -log(col("c").cast("double") / col("n_total")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          graft.functions.Port.r(avg(col("nll")), 6).as("avg_neg_logprob"),
          graft.functions.Port.r(max(col("nll")), 6).as("max_neg_logprob"))
        .orderBy("doc_id")
    }),
    "q_perplexity_histogram" -> ((s, d) => {
      // The CCNet-style perplexity-gate picture (arXiv:1911.00359 §3.2
      // buckets a corpus by LM perplexity into head/middle/tail): a
      // fixed-grid histogram of per-doc unigram NLL (0.5-nat bins) per
      // source, with each bin's doc/token mass and its share of the
      // source — the table a quality-cutoff decision is read from.
      // Fixed bins, NOT ranked deciles: a global rank would need a
      // corpus-scale unpartitioned window, while the grid is one hash
      // aggregate and the share window runs over the (source × bin)
      // dimension frame. Per-doc NLL snaps to integer micro-units
      // (q_unigram_logprob's measured posture), so the bin id is an
      // exact integer div and every mass column an exact sum.
      val docs = Tables.documents(s, d)
      val toks = docs.select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val vocab = toks.groupBy("tok").agg(count(lit(1)).as("c"))
      val total = toks.agg(count(lit(1)).as("n_total"))
      val perDoc = toks.join(broadcast(vocab), "tok")
        .crossJoin(broadcast(total))
        .withColumn("nll", -log(col("c").cast("double") / col("n_total")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          floor(avg(col("nll")) * 1e6 + lit(0.5)).cast("long").as("nll_u"))
      val wSrc = Window.partitionBy("source")
      perDoc.join(docs.select("doc_id", "source"), "doc_id")
        .withColumn("bin", expr("nll_u div 500000"))
        .groupBy("source", "bin")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"))
        .withColumn("bin_lo", col("bin") / 2.0)
        .withColumn("doc_share",
          graft.functions.Port.r(
            col("n_docs") / sum(col("n_docs")).over(wSrc), 6))
        .select("source", "bin", "bin_lo", "n_docs", "n_tokens", "doc_share")
        .orderBy("source", "bin")
    }),
    "q_bigram_logprob" -> ((s, d) => {
      // Bigram-LM corpus-fit score (the CCNet-style perplexity gate,
      // arXiv:1911.00359, with the corpus itself as the LM): per doc,
      // the average conditional −ln p(next|tok) over its bigram
      // positions, counts from the corpus bigram table — the TRANSITION
      // complement of q_unigram_logprob's rare-token signal (templated
      // docs score low, token-salad docs score high even when every
      // token is common). Rides the memoized positional n-gram stream
      // (every cached row IS a bigram); the count joins are broadcast
      // at this vocab and shuffle joins at web vocab (the
      // q_unigram_logprob adjudication).
      val bg = posShinglesCached(s, d).select(col("doc_id"), col("tok"), col("t1"))
      // c1 (left-context count) = sum of c12 over the bigram VOCAB — a
      // dimension-scale window on the aggregate, not a second scan of
      // the corpus bigram stream; the count table is the session-
      // memoized LM (bigramLmCached), one broadcast join serves both
      bg.join(broadcast(bigramLmCached(s, d)), Seq("tok", "t1"))
        .withColumn("nll", -log(col("c12").cast("double") / col("c1")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          graft.functions.Port.r(avg(col("nll")), 6).as("avg_neg_logprob2"),
          graft.functions.Port.r(max(col("nll")), 6).as("max_neg_logprob2"))
        .orderBy("doc_id")
    }),
    "q_zipf_slope" -> ((s, d) => {
      // Corpus-health diagnostic: OLS fit of ln(freq) on ln(rank) over
      // each source's top-1000 vocabulary — Zipf's law predicts a slope
      // near −1 on natural text; a flat slope flags templated/synthetic
      // text, a cliff flags boilerplate domination. Vocab is one hash
      // agg; the rank window is over the per-source VOCAB aggregate
      // (dimension scale at any corpus size — the q_vocab_topk
      // adjudication) and capped at 1000 terms. Each ln term snaps to
      // integer micro-units BEFORE the moment sums (decimal(38,0) /
      // HUGEINT — no float summation order anywhere); slope/intercept
      // are single IEEE divisions of exact integers; r² squares the
      // exact factors in doubles (the decimal square would overflow 38
      // digits), mirrored operation-for-operation in the oracle.
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val v = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      val q = v.withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("c").desc, col("tok"))).cast("long"))
        .filter(col("rk") <= 1000)
        .withColumn("x", floor(log(col("rk").cast("double")) * 1e6 + lit(0.5)).cast(dec38))
        .withColumn("y", floor(log(col("c").cast("double")) * 1e6 + lit(0.5)).cast(dec38))
      q.groupBy("source")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("x")).as("sx"), sum(col("y")).as("sy"),
          sum(col("x") * col("y")).as("sxy"),
          sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"))
        .withColumn("nd", col("n_terms").cast(dec38))
        .withColumn("num", col("nd") * col("sxy") - col("sx") * col("sy"))
        .withColumn("dxx", col("nd") * col("sxx") - col("sx") * col("sx"))
        .withColumn("dyy", col("nd") * col("syy") - col("sy") * col("sy"))
        .withColumn("inum", col("sy") * col("sxx") - col("sx") * col("sxy"))
        .withColumn("slope", graft.functions.Port.r(
          col("num").cast("double") / col("dxx").cast("double"), 6))
        // inum/dxx is in y's micro-units; floor(v + 0.5)/1e6 rescales to
        // natural-log units AND snaps at 1e-6 in one portable floor
        .withColumn("intercept",
          floor(col("inum").cast("double") / col("dxx").cast("double") + lit(0.5)) / 1e6)
        .withColumn("r2", graft.functions.Port.r(
          (col("num").cast("double") * col("num").cast("double")) /
            (col("dxx").cast("double") * col("dyy").cast("double")), 6))
        .select("source", "n_terms", "slope", "intercept", "r2")
        .orderBy("source")
    }),
    "q_token_entropy" -> ((s, d) => {
      // Per-source Shannon token entropy H = −Σ p·ln p (and H/ln|V|,
      // the 0..1 normalized form) — the lexical-diversity complement of
      // q_zipf_slope: low entropy flags boilerplate/templated sources
      // before they dilute a mix. One vocab hash agg; the source total
      // is a vocab-dimension window; each c·ln(c/N) term snaps to
      // integer micro-units before the exact decimal(38,0)/HUGEINT sum
      // (no float summation order), and both final scores are single
      // mirrored IEEE op chains over exact integers.
      val dec38 = org.apache.spark.sql.types.DecimalType(38, 0)
      val v = Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("c"))
        .withColumn("n", sum(col("c")).over(Window.partitionBy("source")))
        .withColumn("t_micro",
          floor(col("c").cast("double") * log(col("c").cast("double") / col("n"))
            * 1e6 + lit(0.5)).cast(dec38))
      v.groupBy("source")
        .agg(max(col("n")).as("n_tokens"),
          count(lit(1)).as("vocab_size"),
          sum(col("t_micro")).as("s_micro"))
        .withColumn("entropy", graft.functions.Port.r(
          -col("s_micro").cast("double") / (col("n_tokens").cast("double") * 1e6), 6))
        .withColumn("norm_entropy",
          when(col("vocab_size") > 1, graft.functions.Port.r(
            col("entropy") / log(col("vocab_size").cast("double")), 6))
            .otherwise(0.0))
        .select("source", "n_tokens", "vocab_size", "entropy", "norm_entropy")
        .orderBy("source")
    }),
    "q_tfidf_topterms" -> ((s, d) => {
      // characteristic terms per document: top-3 tokens by tf·idf — the
      // keyword-extraction primitive of a corpus pipeline. TF and DF are
      // hash aggregates over one token explode; the DF join is broadcast
      // at this vocab and becomes a shuffle join at web-corpus vocab
      // (same adjudication as q_unigram_logprob's vocab join). The rank
      // windows over one doc's distinct tokens — bounded by doc length —
      // and ranks the 1e-6-SNAPPED score (ties by token) so both engines
      // order identical values.
      // tf is the session-memoized bag-of-words frame and the IDF side
      // is the memoized model table (df + corpus size in one broadcast)
      // — the query is one broadcast join + rank over cached rows
      val tf = tokenCountsCached(s, d)
      tf.join(broadcast(idfCached(s, d)), "tok")
        .withColumn("tfidf", graft.functions.Port.r(
          col("tf") * log(col("n_docs").cast("double") / col("df")), 6))
        .withColumn("rk", row_number().over(
          Window.partitionBy("doc_id")
            .orderBy(col("tfidf").desc, col("tok"))).cast("long"))
        .filter(col("rk") <= 3)
        .select("doc_id", "tok", "tf", "df", "tfidf", "rk")
        .orderBy("doc_id", "rk")
    }),
    "q_vocab_topk" -> ((s, d) =>
      // corpus vocabulary: top-10 tokens per source — one hash aggregate
      // with map-side combine, rank only over the (small) per-source
      // aggregate
      Tables.documents(s, d)
        .select(col("source"), explode(split(col("text"), " ")).as("tok"))
        .groupBy("source", "tok").agg(count(lit(1)).as("n"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("source").orderBy(col("n").desc, col("tok"))).cast("long"))
        .filter(col("rk") <= 10)
        .orderBy("source", "rk")),
    "q_dedup_clusters" -> ((s, d) => clustersCached(s, d).orderBy("doc_id"))
  )

  /** Session-memoized connected-components labels. The propagation loop
    * is the one iterative (multi-job) operator in the engine, so its
    * result is cached like the other shared frames (bars, shingles,
    * pairs) AND — the round-7 variance fix — its scaffolding is freed
    * DETERMINISTICALLY once the result is materialized: the final
    * round's checkpoint blocks, the initial label cache, and the
    * edges cache all unpersist inside the build instead of lingering
    * for the async ContextCleaner. Leaving them resident made the
    * loop's cost land nondeterministically on later bench queries
    * (q_dedup_clusters itself measured 2.19–8.11 s across driver runs).
    */
  private def clustersCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.shareWith[(DataFrame, () => Unit)]("TextPack.clusters", s, d) {
      case (df, release) => graft.Memo.release(df); release()
    } {
      // near-dup canonicalization: connected components over the dup
      // pairs — see graft.operators.ConnectedComponents for the
      // propagation algorithm, its O(log diameter) convergence, and the
      // deterministic scaffolding eviction. cluster_id = min doc_id of
      // the component — deterministic, and the canonical survivor.
      val (labels, _, release) =
        ConnectedComponents.labels(jaccardPairs(s, d).select("doc1", "doc2"))
      // no forced broadcast: the sizes frame has one row per component,
      // and component count GROWS with the corpus — size-based planning/
      // AQE broadcasts it while it fits and degrades to a shuffle join
      // when a 100 TB corpus outgrows the driver
      val sizes = labels.groupBy("root").agg(count(lit(1)).as("cluster_size"))
      val result = labels.join(sizes, "root")
        .select(col("doc_id"), col("root").as("cluster_id"), col("cluster_size"),
          (col("doc_id") === col("root")).cast("int").as("is_canonical"))
        .cache()
      // materialize the (tiny: one row per doc in a dup component) final
      // frame, then drop the labels CACHE blocks (cheap to rebuild — the
      // loop's final checkpoint stays alive as the recompute leaf until
      // Memo eviction runs release(), so an evicted result recomputes
      // instead of failing on a missing checkpoint block).
      result.count()
      labels.unpersist(blocking = false)
      (result, release)
    }._1

  /** Session-memoized PREFIX-FILTERED verified near-dup pairs — the
    * shared candidate+verify table behind q_dedup_ngram_jaccard,
    * q_dedup_containment, q_corpus_filter, q_dedup_incremental and
    * q_dedup_clusters.
    *
    * Candidate generation is AllPairs/PPJoin-style prefix filtering
    * (Bayardo et al., WWW'07; Xiao et al., WWW'08): order each doc's
    * shingles by ascending document frequency (rarest first) and join
    * only the doc's PREFIX — its first sz - ceil(sz/2) + 1 rarest
    * shingles — against the full posting lists. Soundness: any pair
    * with containment-over-min >= 1/2 (which covers Jaccard >= 0.5,
    * since J <= inter/min_sz, AND containment >= 0.8) has
    * inter >= ceil(min_sz/2), so the smaller doc can miss at most
    * min_sz - ceil(min_sz/2) shingles of the other — at least one of
    * its first min_sz - ceil(min_sz/2) + 1 shingles, in ANY fixed
    * order, lands in the other doc. df-ascending is the order that
    * makes this cheap: a HOT shingle (high df — the capped stopword
    * shingle that made the old all-pairs join O(sum df^2)) sorts into
    * every doc's suffix, so its prefix-postings count collapses to ~0
    * and the join mass concentrates on rare shingles with small df.
    * Exact verification (intersection count over the full filtered
    * shingle sets) then runs only over candidate pairs, so the final
    * frame is identical to the all-pairs formulation — the df<=1000
    * stopword-shingle cap stays as a second, now non-load-bearing,
    * linearity guard.
    *
    * Rows: (doc1, doc2, inter, sz1, sz2) for every pair whose
    * containment-over-min can reach 1/2 — threshold filters are applied
    * by the consumers.
    */
  private def verifiedPairs(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("TextPack.verifiedPairs", s, d) {
      val shd = shinglesCached(s, d)
      // stopword-shingle cut: postings capped (no-op at this corpus,
      // linearity guard at scale)
      val dfTab = shd.groupBy("shingle").agg(count(lit(1)).as("df"))
        .filter(col("df") <= 1000)
      val shf = shd.join(dfTab, "shingle").select("doc_id", "shingle", "df")
      // ONE per-doc shuffle: shingles sorted rarest-first (df asc, ties
      // by shingle text for determinism) + set size. This single
      // subtree feeds prefix extraction, the candidate posting stream,
      // both size columns AND the verify sets — Spark's ReusedExchange
      // picks the common shuffle up across the branches.
      val docTab = shf.groupBy("doc_id").agg(
        array_sort(collect_list(struct(col("df"), col("shingle")))).as("ss"),
        count(lit(1)).as("sz"))
      // prefix = the doc's sz - ceil(sz/2) + 1 rarest shingles
      val prefix = docTab.select(col("doc_id").as("doc_p"), col("sz").as("sz_p"),
        explode(expr("slice(ss, 1, sz - (sz + 1) div 2 + 1)")).as("e"))
        .select(col("doc_p"), col("sz_p"), col("e.shingle").as("shingle"))
      val postings = docTab.select(col("doc_id").as("doc_f"), col("sz").as("sz_f"),
        explode(col("ss")).as("e"))
        .select(col("doc_f"), col("sz_f"), col("e.shingle").as("shingle"))
      // count filter (the PPJoin overlap upper bound): a pair's true
      // intersection is at most its prefix-hit count plus the prefix
      // side's entire suffix, so require
      //   hits + (sz_p - prefix_len) >= alpha(sz_p, sz_f)
      // where alpha = min over the pool's consumers of their exact
      // integer overlap lower bound — ceil((sz1+sz2)/3) for
      // Jaccard >= 0.5, ceil(4*min/5) for containment >= 0.8. For the
      // SMALLER doc's orientation the bound always passes when the pair
      // truly qualifies (alpha >= ceil(min_sz/2)), so keeping a pair if
      // EITHER orientation passes is exact-complete; it prunes the
      // one-shared-rare-shingle noise pairs that dominate the candidate
      // stream before any verify cost is paid.
      val cand = prefix.join(postings, "shingle")
        .filter(col("doc_p") =!= col("doc_f"))
        .groupBy("doc_p", "doc_f", "sz_p", "sz_f")
        .agg(count(lit(1)).as("hits"))
        .filter(col("hits") + expr("(sz_p + 1) div 2") - 1 >=
          least(expr("(sz_p + sz_f + 2) div 3"),
            expr("(4 * least(sz_p, sz_f) + 4) div 5")))
        .select(least(col("doc_p"), col("doc_f")).as("doc1"),
          greatest(col("doc_p"), col("doc_f")).as("doc2"))
        .distinct()
      // exact verify: per-candidate IN-ROW intersection over compact
      // per-doc shingle sets (hash-set array_intersect, codegen'd) —
      // cost is |cand| x (sz1+sz2), never a posting re-explosion. The
      // doc-set table is one row per doc; at this sf it auto-broadcasts
      // (AQE), at corpus scale the two joins shuffle |cand| rows — mass
      // linear in the candidate stream either way.
      val docSets = docTab.select(col("doc_id"),
        expr("transform(ss, x -> x.shingle)").as("sset"), col("sz"))
      cand
        .join(docSets.select(col("doc_id").as("doc1"),
          col("sset").as("s1"), col("sz").as("sz1")), "doc1")
        .join(docSets.select(col("doc_id").as("doc2"),
          col("sset").as("s2"), col("sz").as("sz2")), "doc2")
        .select(col("doc1"), col("doc2"),
          size(array_intersect(col("s1"), col("s2"))).cast("long").as("inter"),
          col("sz1"), col("sz2"))
        .cache()
    }

  private def jaccardPairs(s: SparkSession, d: String): DataFrame =
    verifiedPairs(s, d)
      .withColumn("jaccard", col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= 0.5)
      .select("doc1", "doc2", "inter", "sz1", "sz2", "jaccard")
      .orderBy("doc1", "doc2")

  def oracles: Map[String, String] = Map(
    "q_repetition_filter" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |),
        |grams AS (
        |  SELECT doc_id, tok || ' ' || lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS gram
        |  FROM toks
        |),
        |cnt AS (
        |  SELECT doc_id, gram, count(*) AS c FROM grams WHERE gram IS NOT NULL GROUP BY 1, 2
        |),
        |agg AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
        |         CAST(max(c) AS BIGINT) AS top_c,
        |         CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS dup_mass
        |  FROM cnt GROUP BY doc_id
        |)
        |SELECT doc_id, n_2grams,
        |       CAST(top_c AS DOUBLE) / n_2grams AS top_2gram_share,
        |       CAST(dup_mass AS DOUBLE) / n_2grams AS dup_2gram_ratio,
        |       CASE WHEN CAST(top_c AS DOUBLE) / n_2grams <= 0.20
        |             AND CAST(dup_mass AS DOUBLE) / n_2grams <= 0.60 THEN 1 ELSE 0 END AS keep
        |FROM agg ORDER BY doc_id""".stripMargin,
    "q_unigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |total AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
        |scored AS (
        |  SELECT t.doc_id, -ln(CAST(v.c AS DOUBLE) / n_total) AS nll
        |  FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN total
        |)
        |SELECT doc_id, count(*) AS n_tokens,
        |       floor(avg(nll) * 1e6 + 0.5) / 1e6 AS avg_neg_logprob,
        |       floor(max(nll) * 1e6 + 0.5) / 1e6 AS max_neg_logprob
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_perplexity_histogram" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |vocab AS (SELECT tok, count(*) AS c FROM toks GROUP BY tok),
        |total AS (SELECT CAST(sum(c) AS BIGINT) AS n_total FROM vocab),
        |scored AS (
        |  SELECT t.doc_id, -ln(CAST(v.c AS DOUBLE) / n_total) AS nll
        |  FROM toks t JOIN vocab v ON t.tok = v.tok CROSS JOIN total
        |),
        |perdoc AS (
        |  SELECT doc_id, count(*) AS n_tokens,
        |         CAST(floor(avg(nll) * 1e6 + 0.5) AS BIGINT) AS nll_u
        |  FROM scored GROUP BY doc_id
        |),
        |binned AS (
        |  SELECT d.source, p.nll_u // 500000 AS bin,
        |         count(*) AS n_docs, CAST(sum(p.n_tokens) AS BIGINT) AS n_tokens
        |  FROM perdoc p JOIN documents d ON p.doc_id = d.doc_id
        |  GROUP BY 1, 2
        |)
        |SELECT source, bin, bin / 2.0 AS bin_lo, n_docs, n_tokens,
        |       floor(CAST(n_docs AS DOUBLE)
        |         / sum(n_docs) OVER (PARTITION BY source) * 1e6 + 0.5) / 1e6
        |         AS doc_share
        |FROM binned ORDER BY source, bin""".stripMargin,
    "q_bigram_logprob" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |),
        |bg AS (
        |  SELECT doc_id, tok, lead(tok, 1) OVER (PARTITION BY doc_id ORDER BY pos) AS t1
        |  FROM toks
        |),
        |b AS (SELECT doc_id, tok, t1 FROM bg WHERE t1 IS NOT NULL),
        |bc AS (SELECT tok, t1, count(*) AS c12 FROM b GROUP BY 1, 2),
        |lc AS (SELECT tok, count(*) AS c1 FROM b GROUP BY 1),
        |scored AS (
        |  SELECT b.doc_id, -ln(CAST(bc.c12 AS DOUBLE) / lc.c1) AS nll
        |  FROM b JOIN bc USING (tok, t1) JOIN lc USING (tok)
        |)
        |SELECT doc_id, count(*) AS n_bigrams,
        |       floor(avg(nll) * 1e6 + 0.5) / 1e6 AS avg_neg_logprob2,
        |       floor(max(nll) * 1e6 + 0.5) / 1e6 AS max_neg_logprob2
        |FROM scored GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_token_entropy" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |v AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |t AS (
        |  SELECT source, c, sum(c) OVER (PARTITION BY source) AS n FROM v
        |),
        |q AS (
        |  SELECT source, n,
        |         CAST(floor(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE) / n) * 1e6 + 0.5)
        |              AS HUGEINT) AS t_micro
        |  FROM t
        |),
        |a AS (
        |  SELECT source, CAST(max(n) AS BIGINT) AS n_tokens,
        |         count(*) AS vocab_size, sum(t_micro) AS s_micro
        |  FROM q GROUP BY 1
        |),
        |e AS (
        |  SELECT source, n_tokens, vocab_size,
        |         floor(-CAST(s_micro AS DOUBLE) / (CAST(n_tokens AS DOUBLE) * 1e6)
        |               * 1e6 + 0.5) / 1e6 AS entropy
        |  FROM a
        |)
        |SELECT source, n_tokens, vocab_size, entropy,
        |       CASE WHEN vocab_size > 1
        |            THEN floor(entropy / ln(CAST(vocab_size AS DOUBLE)) * 1e6 + 0.5) / 1e6
        |            ELSE 0.0 END AS norm_entropy
        |FROM e ORDER BY source""".stripMargin,
    "q_zipf_slope" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |v AS (SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2),
        |rk AS (
        |  SELECT source, c,
        |         row_number() OVER (PARTITION BY source ORDER BY c DESC, tok) AS rk
        |  FROM v
        |),
        |q AS (
        |  SELECT source,
        |         CAST(floor(ln(CAST(rk AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS x,
        |         CAST(floor(ln(CAST(c AS DOUBLE)) * 1e6 + 0.5) AS HUGEINT) AS y
        |  FROM rk WHERE rk <= 1000
        |),
        |a AS (
        |  SELECT source, count(*) AS n_terms, sum(x) AS sx, sum(y) AS sy,
        |         sum(x * y) AS sxy, sum(x * x) AS sxx, sum(y * y) AS syy
        |  FROM q GROUP BY 1
        |),
        |b AS (
        |  SELECT source, n_terms,
        |         CAST(n_terms AS HUGEINT) * sxy - sx * sy AS num,
        |         CAST(n_terms AS HUGEINT) * sxx - sx * sx AS dxx,
        |         CAST(n_terms AS HUGEINT) * syy - sy * sy AS dyy,
        |         sy * sxx - sx * sxy AS inum
        |  FROM a
        |)
        |SELECT source, n_terms,
        |       floor(CAST(num AS DOUBLE) / CAST(dxx AS DOUBLE) * 1e6 + 0.5) / 1e6 AS slope,
        |       floor(CAST(inum AS DOUBLE) / CAST(dxx AS DOUBLE) + 0.5) / 1e6 AS intercept,
        |       floor((CAST(num AS DOUBLE) * CAST(num AS DOUBLE))
        |             / (CAST(dxx AS DOUBLE) * CAST(dyy AS DOUBLE)) * 1e6 + 0.5) / 1e6 AS r2
        |FROM b ORDER BY source""".stripMargin,
    "q_tfidf_topterms" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |tf AS (SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2),
        |dfq AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
        |nd AS (SELECT count(*) AS n_docs FROM documents),
        |scored AS (
        |  SELECT tf.doc_id, tf.tok, tf.tf, dfq.df,
        |         floor(tf.tf * ln(CAST(n_docs AS DOUBLE) / df) * 1e6 + 0.5) / 1e6 AS tfidf
        |  FROM tf JOIN dfq USING (tok) CROSS JOIN nd
        |)
        |SELECT doc_id, tok, tf, df, tfidf, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id
        |    ORDER BY tfidf DESC, tok) AS rk FROM scored)
        |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "q_bpe_pair_freqs" ->
      """WITH v AS (
        |  SELECT tok, count(*) AS freq FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
        |  GROUP BY 1
        |),
        |mx AS (SELECT CAST(max(length(tok)) AS BIGINT) AS m FROM v),
        |idx AS (SELECT unnest(generate_series(1, (SELECT m FROM mx))) AS i),
        |p AS (
        |  SELECT substr(v.tok, CAST(idx.i AS INT), 1) AS a,
        |         substr(v.tok, CAST(idx.i AS INT) + 1, 1) AS b, v.freq
        |  FROM v CROSS JOIN idx
        |  WHERE idx.i <= length(v.tok) - 1
        |)
        |SELECT a, b, pair_count, rank FROM (
        |  SELECT a, b, CAST(sum(freq) AS BIGINT) AS pair_count,
        |         CAST(row_number() OVER (ORDER BY sum(freq) DESC, a, b) AS BIGINT) AS rank
        |  FROM p GROUP BY a, b)
        |WHERE rank <= 20 ORDER BY rank""".stripMargin,
    // The greedy left-to-right merge fold as UNROLLED string rewriting:
    // each word becomes its symbols individually WRAPPED in a chr(1)
    // sentinel (symbols never contain it, so a pattern can only match at
    // symbol boundaries), and each trained merge is one replace() —
    // non-overlapping left-to-right with the scan continuing AFTER the
    // replacement, which is exactly the Scala fold's justMerged
    // semantics (a fresh token never immediately re-merges). Piece count
    // = sentinel count / 2. The 30k-word sf0.01 vocab hash-matching the
    // HOF fold pins the equivalence exhaustively.
    "q_bpe_encode" -> {
      def wrap(sym: String) = s"chr(1) || '$sym' || chr(1)"
      // the replace chain is chunked across CTEs (one per Bpe.MergeStage
      // merges): DuckDB's binder caps expression recursion at 128, so a
      // single nested chain breaks past ~120 merges — the full-capacity
      // r15 table needs the staged form (the mirror of encode's staged
      // checkpoint boundaries)
      val stages = Bpe.TrainedMerges.grouped(Bpe.MergeStage).toSeq
      val stageCtes = stages.zipWithIndex.map { case (grp, i) =>
        val src = if (i == 0) "s" else s"m${i - 1}"
        val in = if (i == 0) "s0" else s"s$i"
        val chain = grp.foldLeft(in) {
          case (acc, (a, b)) =>
            s"replace($acc, ${wrap(a)} || ${wrap(b)}, ${wrap(a + b)})"
        }
        s"m$i AS (SELECT tok, $chain AS s${i + 1} FROM $src)"
      }
      val lastCte = s"m${stages.size - 1}"
      val lastCol = s"s${stages.size}"
      s"""WITH raw AS (
         |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
         |),
         |w AS (
         |  SELECT source, tok, count(*) AS n FROM raw
         |  WHERE length(tok) >= 1 GROUP BY 1, 2
         |),
         |v AS (SELECT DISTINCT tok FROM w),
         |s AS (
         |  SELECT tok, regexp_replace(tok, '(.)', chr(1) || '\\1' || chr(1), 'g') AS s0
         |  FROM v
         |),
         |${stageCtes.mkString(",\n")},
         |enc AS (
         |  SELECT tok,
         |         (length($lastCol) - length(replace($lastCol, chr(1), ''))) // 2 AS pieces
         |  FROM $lastCte
         |)
         |SELECT w.source, CAST(sum(w.n) AS BIGINT) AS n_words,
         |       CAST(sum(w.n * e.pieces) AS BIGINT) AS n_pieces,
         |       CAST(sum(w.n * e.pieces) AS DOUBLE) / CAST(sum(w.n) AS DOUBLE) AS bpe_fertility
         |FROM w JOIN enc e USING (tok) GROUP BY 1 ORDER BY 1""".stripMargin
    },
    "q_ngram_novelty" ->
      s"""WITH $ShinglesCte,
         |fst AS (SELECT shingle, min(doc_id) AS first_doc FROM shd GROUP BY 1),
         |nv AS (SELECT first_doc AS doc_id, count(*) AS n_novel FROM fst GROUP BY 1),
         |pd AS (SELECT doc_id, count(*) AS n_shingles FROM shd GROUP BY 1)
         |SELECT pd.doc_id, pd.n_shingles,
         |       CAST(coalesce(nv.n_novel, 0) AS BIGINT) AS n_novel,
         |       ${graft.functions.Port.rsql(
                   "CAST(coalesce(nv.n_novel, 0) AS DOUBLE) / pd.n_shingles", 6)}
         |         AS novelty
         |FROM pd LEFT JOIN nv ON pd.doc_id = nv.doc_id
         |ORDER BY pd.doc_id""".stripMargin,
    "q_text_stats" ->
      """SELECT doc_id, length(text) AS n_chars,
        |       len(string_split(text, ' ')) AS n_tokens,
        |       len(list_distinct(string_split(text, ' '))) AS n_distinct_tokens,
        |       length(regexp_replace(text, ' ', '', 'g')) / len(string_split(text, ' ')) AS avg_token_len
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      s"""SELECT source, count(*) AS n_docs,
         |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
         |       CAST(sum(len(regexp_extract_all(text, '$BpePattern'))) AS BIGINT) AS total_bpe_tokens,
         |       CAST(sum(length(text)) AS BIGINT) AS total_chars,
         |       CAST(sum(len(string_split(text, ' '))) AS BIGINT) / count(*) AS avg_tokens_per_doc
         |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    "q_lang_id" ->
      s"""WITH $LangRankedCte
         |SELECT r.doc_id, d.lang AS true_lang, r.plang AS pred_lang, r.hits,
         |       CAST(d.lang = r.plang AS INT) AS correct
         |FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
         |WHERE r.rk = 1 ORDER BY r.doc_id""".stripMargin,
    "q_lang_confusion" ->
      s"""WITH $LangRankedCte,
         |cm AS (
         |  SELECT d.lang AS true_lang, r.plang AS pred_lang, count(*) AS n_docs
         |  FROM ranked r JOIN documents d ON r.doc_id = d.doc_id
         |  WHERE r.rk = 1 GROUP BY 1, 2
         |)
         |SELECT true_lang, pred_lang, n_docs,
         |       CAST(n_docs AS DOUBLE)
         |         / CAST(sum(n_docs) OVER (PARTITION BY true_lang) AS DOUBLE) AS row_share
         |FROM cm ORDER BY true_lang, pred_lang""".stripMargin,
    "q_tokenizer_fertility" ->
      s"""WITH a AS (
         |  SELECT lang, count(*) AS n_docs,
         |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS total_ws_tokens,
         |         CAST(sum(len(regexp_extract_all(text, '$BpePattern'))) AS BIGINT) AS total_bpe_tokens,
         |         CAST(sum(length(text)) AS BIGINT) AS total_chars
         |  FROM documents GROUP BY 1
         |)
         |SELECT lang, n_docs, total_ws_tokens, total_bpe_tokens, total_chars,
         |       CAST(total_bpe_tokens AS DOUBLE) / CAST(total_ws_tokens AS DOUBLE) AS fertility,
         |       CAST(total_chars AS DOUBLE) / CAST(total_bpe_tokens AS DOUBLE) AS chars_per_token
         |FROM a ORDER BY lang""".stripMargin,
    "q_dedup_containment" ->
      s"""WITH $ShinglesCte,
         |ok AS (SELECT shingle FROM shd GROUP BY shingle HAVING count(*) <= 1000),
         |shf AS (SELECT s.doc_id, s.shingle FROM shd s JOIN ok ON s.shingle = ok.shingle),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
         |prs AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |cp AS (
         |  SELECT doc1, doc2, inter, s1.sz AS sz1, s2.sz AS sz2,
         |         inter / least(s1.sz, s2.sz) AS containment,
         |         inter / (s1.sz + s2.sz - inter) AS jaccard
         |  FROM prs JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
         |  WHERE inter / least(s1.sz, s2.sz) >= 0.8
         |)
         |SELECT doc1, doc2, inter, sz1, sz2, containment, jaccard
         |FROM cp ORDER BY doc1, doc2""".stripMargin,
    "q_preference_pairs" ->
      """WITH base AS (
        |  SELECT doc_id, lang, source, length(text) AS n_chars,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |         len(list_filter(string_split(text, ' '),
        |                         t -> t = 'the' OR t = 'a')) AS n_stop
        |  FROM documents
        |),
        |qd AS (
        |  SELECT doc_id, lang, source,
        |         least(n_chars / 500.0, 1.0) * 0.4 + (n_distinct / n_tokens) * 0.3
        |           + (1.0 - n_stop / n_tokens) * 0.3 AS quality
        |  FROM base
        |),
        |r AS (
        |  SELECT *,
        |         row_number() OVER (PARTITION BY lang, source
        |           ORDER BY quality DESC, doc_id) AS rk_hi,
        |         row_number() OVER (PARTITION BY lang, source
        |           ORDER BY quality, doc_id) AS rk_lo
        |  FROM qd
        |),
        |hi AS (SELECT lang, source, doc_id AS chosen_doc_id, quality AS cq
        |       FROM r WHERE rk_hi = 1),
        |lo AS (SELECT lang, source, doc_id AS rejected_doc_id, quality AS rq
        |       FROM r WHERE rk_lo = 1),
        |n AS (SELECT lang, source, count(*) AS n_docs FROM qd GROUP BY 1, 2)
        |SELECT n.lang, n.source, n.n_docs, chosen_doc_id, rejected_doc_id,
        |       floor(cq * 1e6 + 0.5) / 1e6 AS chosen_q,
        |       floor(rq * 1e6 + 0.5) / 1e6 AS rejected_q,
        |       floor((cq - rq) * 1e6 + 0.5) / 1e6 AS q_gap
        |FROM n JOIN hi USING (lang, source) JOIN lo USING (lang, source)
        |ORDER BY lang, source""".stripMargin,
    "q_gini_sources" ->
      """WITH v AS (
        |  SELECT lang, source,
        |         CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS c
        |  FROM documents GROUP BY 1, 2
        |),
        |r AS (
        |  SELECT *,
        |         CAST(row_number() OVER (PARTITION BY lang ORDER BY c, source) AS BIGINT) AS i,
        |         CAST(count(*) OVER (PARTITION BY lang) AS BIGINT) AS n,
        |         CAST(sum(c) OVER (PARTITION BY lang) AS BIGINT) AS tot
        |  FROM v
        |),
        |a AS (
        |  SELECT lang, max(n) AS n_sources, max(tot) AS total_tokens,
        |         CAST(sum((2 * i - n - 1) * c) AS BIGINT) AS s_num
        |  FROM r GROUP BY 1
        |)
        |SELECT lang, n_sources, total_tokens,
        |       floor(CAST(s_num AS DOUBLE) / CAST(n_sources * total_tokens AS DOUBLE)
        |             * 1e6 + 0.5) / 1e6 AS gini
        |FROM a ORDER BY lang""".stripMargin,
    "q_unigram_kl" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |v AS (SELECT source, tok, count(*) AS cs FROM toks GROUP BY 1, 2),
        |v2 AS (
        |  SELECT *, CAST(sum(cs) OVER (PARTITION BY source) AS BIGINT) AS ns,
        |         CAST(sum(cs) OVER (PARTITION BY tok) AS BIGINT) AS cg
        |  FROM v
        |),
        |tot AS (SELECT count(*) AS ng FROM toks),
        |t AS (
        |  SELECT source, ns,
        |         CAST(floor(CAST(cs AS DOUBLE) *
        |           ln((CAST(cs AS DOUBLE) / ns) / (CAST(cg AS DOUBLE) / ng))
        |           * 1e6 + 0.5) AS HUGEINT) AS t_micro
        |  FROM v2 CROSS JOIN tot
        |),
        |a AS (
        |  SELECT source, max(ns) AS n_tokens, count(*) AS n_terms,
        |         sum(t_micro) AS s_micro
        |  FROM t GROUP BY 1
        |)
        |SELECT source, n_tokens, n_terms,
        |       floor(CAST(s_micro AS DOUBLE) / (n_tokens * 1e6) * 1e6 + 0.5) / 1e6 AS kl
        |FROM a ORDER BY source""".stripMargin,
    "q_quality_score" ->
      """WITH base AS (
        |  SELECT doc_id, length(text) AS n_chars,
        |         len(string_split(text, ' ')) AS n_tokens,
        |         len(list_distinct(string_split(text, ' '))) AS n_distinct,
        |         len(list_filter(string_split(text, ' '),
        |                         t -> t = 'the' OR t = 'a')) AS n_stop
        |  FROM documents
        |),
        |ratios AS (
        |  SELECT *, n_distinct / n_tokens AS distinct_ratio,
        |         n_stop / n_tokens AS stop_ratio,
        |         least(n_chars / 500.0, 1.0) AS length_score
        |  FROM base
        |)
        |SELECT doc_id, n_chars, n_tokens, n_distinct, n_stop,
        |       distinct_ratio, stop_ratio, length_score,
        |       length_score * 0.4 + distinct_ratio * 0.3 + (1.0 - stop_ratio) * 0.3 AS quality
        |FROM ratios ORDER BY doc_id""".stripMargin,
    "q_doc_fingerprint" ->
      """WITH fp AS (
        |  SELECT doc_id, md5(lower(regexp_replace(text, '\s+', ' ', 'g'))) AS fingerprint
        |  FROM documents
        |)
        |SELECT doc_id, fingerprint,
        |       count(*) OVER (PARTITION BY fingerprint) AS n_same_fp
        |FROM fp ORDER BY doc_id""".stripMargin,
    "q_dedup_exact_docs" ->
      """SELECT md5(text) AS content_md5, min(doc_id) AS keep_doc_id, count(*) AS n_dups
        |FROM documents GROUP BY md5(text) ORDER BY keep_doc_id""".stripMargin,
    "q_winnow_fingerprint" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
        |         generate_subscripts(string_split(text, ' '), 1) AS pos
        |  FROM documents
        |),
        |sh AS (
        |  SELECT doc_id, pos,
        |         tok || ' ' || lead(tok, 1) OVER w || ' ' || lead(tok, 2) OVER w AS shingle
        |  FROM toks WINDOW w AS (PARTITION BY doc_id ORDER BY pos)
        |),
        |hs AS (
        |  SELECT doc_id, pos, substr(md5(shingle), 1, 8) AS h
        |  FROM sh WHERE shingle IS NOT NULL
        |),
        |wm AS (
        |  SELECT doc_id,
        |         min(h) OVER (PARTITION BY doc_id ORDER BY pos
        |                      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS wmin
        |  FROM hs
        |)
        |SELECT doc_id, count(DISTINCT wmin) AS n_fingerprints,
        |       min(wmin) AS min_fp, max(wmin) AS max_fp
        |FROM wm GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_corpus_filter" ->
      s"""WITH $ShinglesCte,
         |ok AS (SELECT shingle FROM shd GROUP BY shingle HAVING count(*) <= 1000),
         |shf AS (SELECT s.doc_id, s.shingle FROM shd s JOIN ok ON s.shingle = ok.shingle),
         |sizes AS (SELECT doc_id, count(*) AS sz FROM shf GROUP BY doc_id),
         |pairs AS (
         |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS inter
         |  FROM shf a JOIN shf b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
         |  GROUP BY 1, 2
         |),
         |losers AS (
         |  SELECT DISTINCT doc2 AS doc_id
         |  FROM pairs JOIN sizes s1 ON doc1 = s1.doc_id JOIN sizes s2 ON doc2 = s2.doc_id
         |  WHERE inter / (s1.sz + s2.sz - inter) >= 0.5
         |),
         |q AS (
         |  SELECT doc_id, length(text) AS n_chars,
         |         len(string_split(text, ' ')) AS n_tokens,
         |         len(list_distinct(string_split(text, ' '))) AS n_distinct,
         |         len(list_filter(string_split(text, ' '),
         |                         t -> t = 'the' OR t = 'a')) AS n_stop
         |  FROM documents
         |),
         |dec AS (
         |  SELECT q.doc_id, q.n_chars,
         |         least(q.n_chars / 500.0, 1.0) * 0.4 + (q.n_distinct / q.n_tokens) * 0.3
         |           + (1.0 - q.n_stop / q.n_tokens) * 0.3 AS quality,
         |         CASE WHEN l.doc_id IS NOT NULL THEN 'near_dup'
         |              WHEN q.n_chars < 150 THEN 'too_short'
         |              WHEN least(q.n_chars / 500.0, 1.0) * 0.4 + (q.n_distinct / q.n_tokens) * 0.3
         |                   + (1.0 - q.n_stop / q.n_tokens) * 0.3 < 0.7 THEN 'low_quality'
         |              ELSE 'kept' END AS reason
         |  FROM q LEFT JOIN losers l ON q.doc_id = l.doc_id
         |)
         |SELECT doc_id, n_chars, quality, reason,
         |       CAST(reason = 'kept' AS INT) AS kept
         |FROM dec ORDER BY doc_id""".stripMargin,
    "q_dedup_ngram_jaccard" ->
      s"""WITH $JaccardCte
         |SELECT doc1, doc2, inter, sz1, sz2, jaccard
         |FROM jp ORDER BY doc1, doc2""".stripMargin,
    "q_dup_matrix" ->
      s"""WITH $JaccardCte,
         |sp AS (
         |  SELECT least(d1.source, d2.source) AS src1,
         |         greatest(d1.source, d2.source) AS src2,
         |         CAST(floor(j.jaccard * 1e6 + 0.5) AS BIGINT) AS j_u
         |  FROM jp j
         |  JOIN documents d1 ON j.doc1 = d1.doc_id
         |  JOIN documents d2 ON j.doc2 = d2.doc_id
         |)
         |SELECT src1, src2, count(*) AS n_pairs,
         |       CAST(sum(j_u) AS DOUBLE) / (count(*) * 1e6) AS avg_jaccard
         |FROM sp GROUP BY 1, 2 ORDER BY src1, src2""".stripMargin,
    "q_dedup_incremental" ->
      s"""WITH $JaccardCte,
         |mx AS (SELECT (8 * max(doc_id)) // 10 AS thr FROM documents),
         |dirs AS (
         |  SELECT doc1 AS doc_id, doc2 AS match_doc, inter,
         |         sz1 AS sz_doc, sz2 AS sz_match, jaccard FROM jp
         |  UNION ALL
         |  SELECT doc2, doc1, inter, sz2, sz1, jaccard FROM jp
         |),
         |flt AS (
         |  SELECT dirs.* FROM dirs, mx
         |  WHERE doc_id > thr AND match_doc <= thr
         |),
         |rk AS (
         |  SELECT *, row_number() OVER (PARTITION BY doc_id
         |                               ORDER BY jaccard DESC, match_doc) AS rk
         |  FROM flt
         |)
         |SELECT doc_id, match_doc, inter, sz_doc, sz_match, jaccard
         |FROM rk WHERE rk = 1 ORDER BY doc_id""".stripMargin,
    "q_vocab_topk" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |cnt AS (SELECT source, tok, count(*) AS n FROM toks GROUP BY 1, 2)
        |SELECT source, tok, n, rk FROM (
        |  SELECT *, row_number() OVER (PARTITION BY source ORDER BY n DESC, tok) AS rk
        |  FROM cnt)
        |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "q_dedup_clusters" ->
      s"""WITH RECURSIVE $JaccardCte,
         |edges AS (SELECT doc1 AS a, doc2 AS b FROM jp
         |          UNION ALL SELECT doc2, doc1 FROM jp),
         |r(src, dst) AS (
         |  SELECT a, b FROM edges
         |  UNION
         |  SELECT r.src, e.b FROM r JOIN edges e ON r.dst = e.a
         |),
         |roots AS (
         |  SELECT n.doc_id, least(n.doc_id, min(r.dst)) AS cluster_id
         |  FROM (SELECT DISTINCT a AS doc_id FROM edges) n
         |  LEFT JOIN r ON r.src = n.doc_id
         |  GROUP BY n.doc_id
         |),
         |csz AS (SELECT cluster_id, count(*) AS cluster_size FROM roots GROUP BY 1)
         |SELECT ro.doc_id, ro.cluster_id, c.cluster_size,
         |       CAST(ro.doc_id = ro.cluster_id AS INT) AS is_canonical
         |FROM roots ro JOIN csz c ON ro.cluster_id = c.cluster_id
         |ORDER BY ro.doc_id""".stripMargin
  )
}
