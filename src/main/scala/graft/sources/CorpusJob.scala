package graft.sources

import graft.{QueryPack, Tables}
import graft.operators.{CorpusPack, SpanPack, TextPack}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The composed end-to-end training-corpus build — the production run
  * this engine exists for at 100 TB, wired as ONE job over the shared
  * memo graph:
  *
  *   read documents
  *     -> clean: exact dedup (min-doc_id per content hash, the
  *        q_dedup_exact_docs rule) ∩ the near-dup + quality gate
  *        (q_corpus_filter's kept rule — rides the memoized
  *        prefix-filtered jaccard pair pool)
  *     -> pack: two-level prefix-sum context layout over the cleaned
  *        set in (md5(text), doc_id) order per source
  *        (SpanPack.packContextsFrom — no per-source single-task sort)
  *     -> mix: the corpus-level temperature allocation
  *        (q_mix_temperature) applied as a start_off gate. Exact
  *        because the gate keeps a PREFIX of each source's pack order,
  *        so surviving offsets are unchanged — mixing never re-packs.
  *     -> shard: manifest + physical ShardWriter layout (64 shards by
  *        the portable md5-first-14-hex integer of doc_id).
  *
  * Every stage is a hash aggregate, a broadcast join against a
  * dimension-sized frame (5 sources, 64 shards), or a ride on a memo
  * the individual queries already pay for — composing the job adds no
  * new quadratic or single-task surface. The manifest is oracled
  * end-to-end in DuckDB (the composed CTE chain below); CorpusJobSpec
  * additionally pins the physical write: shards read back row-for-row
  * against the manifest's counts, checksums and (h, doc_id) order.
  *
  * Reference shape: etl/pipeline.py wires fetch->clean->store as an
  * asyncio chain; this is its corpus-scale batch analogue with the
  * LLM-pipeline stages (dedup/quality/mix/pack) composed in.
  */
object CorpusJob extends QueryPack {

  /** Cleaned survivors: exact-dup keepers ∩ corpus-filter kept. A
    * session memo: [[mixedLayout]] (the composed job) and [[dedupSavings]]
    * both consume it, and its build (exact-keeper aggregate ∩ the
    * corpus-filter decision over the memoized jaccard pool) is the
    * costliest stage of either.
    */
  def cleanedDocs(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("CorpusJob.cleanedDocs", s, d) {
      val docs = Tables.documents(s, d)
      val keepers = docs
        .groupBy(md5(col("text")).as("cmd5"))
        .agg(min(col("doc_id")).as("doc_id"))
        .select("doc_id")
      val kept = TextPack.queries("q_corpus_filter")(s, d)
        .filter(col("kept") === 1).select("doc_id")
      docs.join(keepers, "doc_id").join(kept, "doc_id").cache()
    }

  /** Packed layout of the cleaned corpus with the temperature-mix token
    * budget applied as a start_off gate (a doc enters while its source's
    * budget is not yet exhausted at its pack offset). A session memo:
    * [[manifest]] (the graded query) and [[run]] (the physical shard
    * write) both read it — one pack+mix pass per session instead of one
    * per consumer.
    */
  def mixedLayout(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("CorpusJob.mixedLayout", s, d) {
      val layout = SpanPack.packContextsFrom(cleanedDocs(s, d))
      val alloc = CorpusPack.queries("q_mix_temperature")(s, d)
        .select(col("source"), col("alloc_tokens"))
      layout.join(broadcast(alloc), "source")
        .filter(col("start_off") < col("alloc_tokens"))
        .drop("alloc_tokens")
        .cache()
    }

  /** Shard manifest of the mixed corpus — the loader-side contract the
    * physical write is validated against.
    */
  def manifest(s: SparkSession, d: String): DataFrame =
    mixedLayout(s, d)
      .withColumn("h",
        conv(substring(md5(col("doc_id").cast("string")), 1, 14), 16, 10).cast("long"))
      .withColumn("shard", col("h") % CorpusPack.NShards)
      .groupBy("shard")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("n_tokens"),
        sum(col("n_ctx")).as("n_ctx"),
        sum(col("split")).cast("long").as("n_split_docs"),
        min(col("h")).as("min_h"),
        max(col("h")).as("max_h"),
        expr(s"cast(sum(cast(doc_id % ${CorpusPack.ChecksumP} as decimal(29,0)))" +
          s" % ${CorpusPack.ChecksumP} as bigint)").as("id_checksum"))
      .orderBy("shard")

  /** Physical run: write the mixed corpus as training shards plus the
    * manifest parquet; returns the manifest frame.
    */
  def run(s: SparkSession, d: String, outDir: String): DataFrame = {
    val kept = mixedLayout(s, d).select("doc_id")
    val docs = Tables.documents(s, d).join(kept, "doc_id")
      .select("doc_id", "source", "lang", "text")
    ShardWriter.writeShards(docs, s"$outDir/shards", CorpusPack.NShards.toInt)
    val m = manifest(s, d)
    m.write.mode("overwrite").parquet(s"$outDir/manifest")
    s.read.parquet(s"$outDir/manifest")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_corpus_job_manifest" -> ((s, d) => manifest(s, d)),
    "q_dedup_savings" -> ((s, d) => dedupSavings(s, d)))

  /** Pipeline economics of the cleaning chain, per source: token/doc
    * mass before any gate, after exact dedup alone, and after the full
    * clean (exact ∩ near-dup/quality) — the table a 100 TB budget
    * decision ("is the near-dup pass worth its compute here?") is read
    * from. Rides the same memo graph as the composed job; every mass is
    * an exact integer sum and each keep-rate is one snapped division.
    */
  def dedupSavings(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("source"), col("doc_id"),
      size(split(col("text"), " ")).cast("long").as("n"))
    val keepers = Tables.documents(s, d)
      .groupBy(md5(col("text")).as("cmd5"))
      .agg(min(col("doc_id")).as("doc_id")).select("doc_id")
    val raw = docs.groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum(col("n")).as("n_tokens"))
    val ex = docs.join(keepers, "doc_id").groupBy("source")
      .agg(count(lit(1)).as("n_docs_exact"), sum(col("n")).as("tokens_exact"))
    val cl = cleanedDocs(s, d)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_clean"), sum(col("n")).as("tokens_clean"))
    raw.join(ex, Seq("source"), "left").join(cl, Seq("source"), "left")
      .select(col("source"), col("n_docs"), col("n_tokens"),
        coalesce(col("n_docs_exact"), lit(0L)).as("n_docs_exact"),
        coalesce(col("tokens_exact"), lit(0L)).as("tokens_exact"),
        coalesce(col("n_docs_clean"), lit(0L)).as("n_docs_clean"),
        coalesce(col("tokens_clean"), lit(0L)).as("tokens_clean"))
      .withColumn("exact_keep_rate",
        graft.functions.Port.r(col("tokens_exact") / col("n_tokens"), 6))
      .withColumn("clean_keep_rate",
        graft.functions.Port.r(col("tokens_clean") / col("n_tokens"), 6))
      .orderBy("source")
  }

  /** Shared mirror prefix: the cleaning chain (shingle pool -> near-dup
    * losers -> quality gate -> exact keepers -> cleaned), the same
    * pieces the individual queries verify against. Final CTE: cleaned.
    */
  private val CleanChainCte: String =
    s"""${TextPack.ShinglesCte},
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
       |kept AS (
       |  SELECT q.doc_id
       |  FROM q LEFT JOIN losers l ON q.doc_id = l.doc_id
       |  WHERE l.doc_id IS NULL AND q.n_chars >= 150
       |    AND least(q.n_chars / 500.0, 1.0) * 0.4 + (q.n_distinct / q.n_tokens) * 0.3
       |        + (1.0 - q.n_stop / q.n_tokens) * 0.3 >= 0.7
       |),
       |keepers AS (
       |  SELECT min(doc_id) AS doc_id FROM documents GROUP BY md5(text)
       |),
       |cleaned AS (
       |  SELECT d.source, d.doc_id,
       |         CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tokens,
       |         md5(d.text) AS hh
       |  FROM documents d
       |  JOIN keepers USING (doc_id) JOIN kept USING (doc_id)
       |)""".stripMargin

  def oracles: Map[String, String] = Map(
    "q_dedup_savings" ->
      s"""WITH $CleanChainCte,
         |tok AS (
         |  SELECT source, doc_id,
         |         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents
         |),
         |raw AS (
         |  SELECT source, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens
         |  FROM tok GROUP BY 1
         |),
         |ex AS (
         |  SELECT source, count(*) AS n_docs_exact,
         |         CAST(sum(n) AS BIGINT) AS tokens_exact
         |  FROM tok JOIN keepers USING (doc_id) GROUP BY 1
         |),
         |cl AS (
         |  SELECT source, count(*) AS n_docs_clean,
         |         CAST(sum(n_tokens) AS BIGINT) AS tokens_clean
         |  FROM cleaned GROUP BY 1
         |)
         |SELECT r.source, r.n_docs, r.n_tokens,
         |       coalesce(ex.n_docs_exact, 0) AS n_docs_exact,
         |       coalesce(ex.tokens_exact, 0) AS tokens_exact,
         |       coalesce(cl.n_docs_clean, 0) AS n_docs_clean,
         |       coalesce(cl.tokens_clean, 0) AS tokens_clean,
         |       ${graft.functions.Port.rsql(
                   "CAST(coalesce(ex.tokens_exact, 0) AS DOUBLE) / r.n_tokens", 6)}
         |         AS exact_keep_rate,
         |       ${graft.functions.Port.rsql(
                   "CAST(coalesce(cl.tokens_clean, 0) AS DOUBLE) / r.n_tokens", 6)}
         |         AS clean_keep_rate
         |FROM raw r
         |LEFT JOIN ex ON r.source = ex.source
         |LEFT JOIN cl ON r.source = cl.source
         |ORDER BY r.source""".stripMargin,
    // the composed chain, assembled from the same mirror pieces the
    // individual queries verify against (shingle/jaccard pool ->
    // corpus-filter decision -> exact keepers -> pack offsets -> mix
    // budgets -> shard aggregate)
    "q_corpus_job_manifest" ->
      s"""WITH $CleanChainCte,
         |layout AS (
         |  SELECT source, doc_id, n_tokens,
         |         CAST(end_off - n_tokens AS BIGINT) AS start_off,
         |         CAST((end_off - 1) // 512 - (end_off - n_tokens) // 512 + 1 AS BIGINT) AS n_ctx,
         |         CAST((end_off - 1) // 512 > (end_off - n_tokens) // 512 AS INT) AS split
         |  FROM (
         |    SELECT source, doc_id, n_tokens,
         |           sum(n_tokens) OVER (PARTITION BY source ORDER BY hh, doc_id) AS end_off
         |    FROM cleaned
         |  )
         |),
         |avail AS (
         |  SELECT source, CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS avail_tokens
         |  FROM documents GROUP BY source
         |),
         |mw AS (
         |  SELECT source,
         |         CAST(sum(avail_tokens) OVER () AS BIGINT) AS total,
         |         CAST(floor(sqrt(CAST(avail_tokens AS DOUBLE)
         |                         / CAST(sum(avail_tokens) OVER () AS BIGINT)) * 1e12 + 0.5)
         |              AS BIGINT) AS weight_u
         |  FROM avail
         |),
         |alloc AS (
         |  SELECT source,
         |         CAST(CAST(total * 6 // 10 AS HUGEINT) * weight_u
         |              // (CAST(sum(weight_u) OVER () AS BIGINT)) AS BIGINT) AS alloc_tokens
         |  FROM mw
         |),
         |mixed AS (
         |  SELECT layout.* FROM layout JOIN alloc USING (source)
         |  WHERE start_off < alloc_tokens
         |),
         |hsh AS (
         |  SELECT *, ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 14))::BIGINT AS h
         |  FROM mixed
         |)
         |SELECT h % ${CorpusPack.NShards} AS shard,
         |       count(*) AS n_docs,
         |       CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |       CAST(sum(n_ctx) AS BIGINT) AS n_ctx,
         |       CAST(sum(split) AS BIGINT) AS n_split_docs,
         |       min(h) AS min_h,
         |       max(h) AS max_h,
         |       CAST(CAST(sum(doc_id % ${CorpusPack.ChecksumP}) AS HUGEINT)
         |            % ${CorpusPack.ChecksumP} AS BIGINT) AS id_checksum
         |FROM hsh GROUP BY 1 ORDER BY shard""".stripMargin)
}
