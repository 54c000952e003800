package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Hash-based near-dup detection: MinHash+LSH and SimHash.
  *
  * MinHash is ORACLED (r10): the permutation family is portable exact
  * integer arithmetic — base = first 14 hex digits of md5(shingle) (a
  * 56-bit integer both engines produce identically), permuted by 32
  * baked LCG pairs as (a·base + b) mod (2^31−1). Spark computes the
  * modmul overflow-free in longs via a 2^28 split (a·hi ≤ 2^59,
  * partial results ≤ 2^59 — never near 2^63); DuckDB does it directly
  * in HUGEINT. Band keys are the plain concatenation of the 4 row
  * minhashes — no engine-specific hash anywhere. SimHash (r10) is
  * oracled on the same md5-first-14-hex token integer: the vote/sign
  * fold becomes a tokens x 56-bit cross join + sign aggregate in SQL,
  * so both pipelines are hash-exact end to end; `DedupSpec` additionally
  * pins the native expression against an independent Scala kernel.
  *
  * Scale shape: signatures are fixed-width per doc (32 hashes), LSH
  * shuffles on (band, signature) buckets — linear in corpus size, never
  * all-pairs. Candidate verification joins shingle sets only for
  * bucket-collision pairs.
  */
object DedupPack extends QueryPack {

  val NumPerms = 32
  val NumBands = 8 // 4 rows per band

  /** Mersenne modulus for the permutation family. */
  val MinhashP = 2147483647L // 2^31 - 1, prime

  /** Deterministic (perm, a, b) constants from the same LCG the
    * hyperplane oracle bakes (Ann.hyperplanes): a ∈ [1, P−1] so the
    * permutation never degenerates, b ∈ [0, P). Identical literals are
    * emitted into the DuckDB mirror's VALUES list.
    */
  val PermConsts: Seq[(Int, Long, Long)] = {
    val (lA, lC, lM) = (1103515245L, 12345L, 2147483648L)
    (0 until NumPerms).map { p =>
      val r1 = (p * lA + lC) % lM
      val r2 = (r1 * lA + lC) % lM
      val r3 = (r2 * lA + lC) % lM
      (p, r2 % (MinhashP - 1) + 1, r3 % MinhashP)
    }
  }

  /** MinHash values: (doc_id, perm, mh) — explode the permutation index,
    * hash, min-aggregate. Every stage is codegen'd; the groupBy shuffles
    * fixed-width (doc, perm) keys only.
    */
  def minhashSignatures(docs: DataFrame): DataFrame =
    minhashFromShingles(TextPack.shingles(docs).select("doc_id", "shingle"))

  /** Same, over an existing (doc_id, shingle) set (lets callers share a
    * cached shingle table). One md5 per shingle (cheaper than the 32
    * xxhash64 calls of the pre-r10 form), then 32 long modmuls against
    * the broadcast constant table.
    */
  def minhashFromShingles(shd: DataFrame): DataFrame = {
    val s = shd.sparkSession
    import s.implicits._
    val perms = PermConsts.toDF("perm", "a", "b")
    val hi = shiftright(col("base"), 28)
    val lo = col("base").bitwiseAND(lit((1L << 28) - 1))
    // (a·base + b) mod P with base = hi·2^28 + lo, all intermediates
    // ≤ 2^59 (see object doc): exact on both engines
    val mh = (((col("a") * hi) % MinhashP) * lit(1L << 28) % MinhashP +
      (col("a") * lo) % MinhashP + col("b")) % MinhashP
    shd
      .withColumn("base", conv(substring(md5(col("shingle")), 1, 14), 16, 10).cast("long"))
      .crossJoin(broadcast(perms))
      .withColumn("h", mh)
      .groupBy("doc_id", "perm").agg(min(col("h")).as("mh"))
  }

  /** LSH band keys: (doc_id, band, sig) — NumBands rows per doc; the
    * band signature is the literal 4-minhash concatenation (portable,
    * and at ≤ 31 bits per value still a short shuffle key).
    */
  def bandSignatures(mh: DataFrame): DataFrame =
    mh.withColumn("band", expr(s"perm div ${NumPerms / NumBands}"))
      .withColumn("rib", col("perm") % (NumPerms / NumBands))
      .groupBy("doc_id", "band")
      .agg(concat_ws(",",
        max(when(col("rib") === 0, col("mh"))),
        max(when(col("rib") === 1, col("mh"))),
        max(when(col("rib") === 2, col("mh"))),
        max(when(col("rib") === 3, col("mh")))).as("sig"))

  /** 56-bit SimHash per doc over whitespace tokens (with multiplicity) —
    * the native codegen'd expression (graft.functions.SimHash56Expr).
    * The md5-first-14-hex token hash is the same portable integer the
    * MinHash permutations bake on, so the full simhash pipeline has a
    * DuckDB mirror (see the oracle below); DedupSpec pins the expression
    * against an independent `split(" ", -1)` + MessageDigest kernel on
    * adversarial inputs plus the real corpus.
    */
  def simhash(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), graft.functions.SimHash56(col("text")).as("simhash"))

  /** Session-memoized simhash signatures (self-joined by the band query;
    * a bare per-call .cache() here would linger for the async
    * ContextCleaner — the r07 bench-neighborhood debt class).
    */
  private def simhashCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("DedupPack.simhash", s, d)(graft.Memo.pin(simhash(Tables.documents(s, d))))

  /** Output-stage partner cap for the simhash band join: each doc emits
    * at most this many pairs per (band, key) bucket, partners taken in
    * ascending doc-id order. The BucketCap bounds bucket SIZE, but a hot
    * near-dup cluster UNDER that cap still emits C(size, 2) pairs per
    * band — the r10 10x rehearsal measured a 112x output blow-up on
    * multiset-identical replica copies, and a production corpus with a
    * hot boilerplate cluster reproduces it (r10 verdict task 8). With
    * the cap, a size-m bucket emits ≤ m·cap pairs (linear), and because
    * each doc keeps its NEXT `cap` successors, the cluster stays a
    * connected chain — downstream connected-components canonicalization
    * still merges it into one cluster, so no survivor-selection mass is
    * lost, only redundant interior edges. The cap ranks partners AFTER
    * the hamming ≤ 6 verify filter (r11 advisor): ranking raw bucket
    * co-members let a mixed hot bucket crowd a true near-dup out of a
    * doc's 64 slots with non-matching lower-id neighbors, so the
    * chain-connectivity argument only held for identical-signature
    * clusters. Capping verified pairs restores it unconditionally: each
    * doc keeps its next `cap` ACTUAL near-dups, so every under-cap
    * near-dup cluster stays a connected chain whatever else shares the
    * bucket. Deterministic (rank over a total order), mirrored 1:1 in
    * the oracle; DedupSpec pins that planted pairs survive and a
    * 300-replica cluster stays connected.
    */
  def PairsPerDocPerBucket: Long = graft.GraftConfig.active.lshPairsPerDocPerBucket

  /** Near-dup pairs over a (doc_id, simhash) frame: 4 bands x 14 bits
    * over the 56-bit signature (pigeonhole: any pair within hamming 3
    * shares a band; the <= 6 emit bound keeps the candidate-then-verify
    * posture), with the BucketCap guard per (band, key) — a web-scale
    * identical-signature group must not turn the band self-join
    * quadratic (see BucketCap) — and the PairsPerDocPerBucket guard on
    * the join's OUTPUT stage (a hot under-cap cluster must not emit
    * quadratic pair mass). The per-doc rank window partitions by
    * (band, key, doc1) — ≤ bucket-size rows per partition, bounded.
    */
  /** Session-memoized capped signature-band frame per signature table
    * (r17, VERDICT r16 item 6): the groupBy(simhash) → band explode →
    * bucket-size window → BucketCap filter prefix is pure INPUT-derived
    * index infrastructure (one small row per distinct signature × band),
    * shared by every simhashPairs call over the same pinned signature
    * frame (q_dedup_simhash's text signatures, q_media_neardup's PHash56
    * signatures — both stable session-memoized instances, so keying on
    * the frame reference is the same contract as every (session, dataset)
    * memo). The VERIFY/cap/distinct tail — the query's own output — stays
    * per-run.
    */
  private def cappedBandsCached(sh: DataFrame): DataFrame =
    graft.Memo.share("DedupPack.cappedBands", sh.sparkSession, sh) {
      val classes = sh.groupBy("simhash").agg(count(lit(1)).as("csz"))
      val sigBands = classes.withColumn("band", explode(sequence(lit(0), lit(3))))
        .withColumn("key", expr("(simhash >> (band * 14)) & 16383"))
      // the BucketCap contract counts DOCS per (band, key) — sum of class
      // sizes, no doc-level explode needed. Whole-partition window, not
      // groupBy + join-back (r16): the same per-(band, key) sum lands on
      // every row in ONE exchange instead of two (aggregate + re-join).
      val wBK = org.apache.spark.sql.expressions.Window.partitionBy("band", "key")
      graft.Memo.pin(sigBands
        .withColumn("bsz", sum("csz").over(wBK))
        .filter(col("bsz") <= BucketCap)
        .select("simhash", "band", "key"))
    }

  def simhashPairs(sh: DataFrame, emitBound: Long = 6L): DataFrame = {
    // Class-level band join (r12): docs sharing a signature are ONE row
    // in the self-join. The doc-level join is quadratic in bucket DOC
    // count, and a boilerplate/replica-heavy corpus packs buckets with
    // multiset-identical docs — the r12 10x rehearsal measured 30.7M
    // pre-filter join rows from 50k docs carrying only 4,961 distinct
    // signatures (avg class 10). Joining distinct signatures instead is
    // quadratic only in DISTINCT sigs per bucket (~100x less volume
    // there), and surviving hamming<=6 class pairs expand to member
    // pairs at exactly the verified-pair mass — the operator becomes
    // output-bound, the right complexity at any dup ratio. Pure
    // refactoring: the emitted pair set is IDENTICAL (measured
    // except()-empty both ways at 10x), so the oracle is untouched.
    val sb = cappedBandsCached(sh)
    val ca = sb.select(col("simhash").as("simhash1"), col("band"), col("key"))
    val cb = sb.select(col("simhash").as("simhash2"), col("band"), col("key"))
    // DIRECTED class pairs incl. the self pair: an unordered doc pair
    // (a < b) then appears exactly once — under (class(a), class(b)).
    // hamming filters at CLASS level, before any member expansion.
    val classPairs = ca.join(cb, Seq("band", "key"))
      .withColumn("hamming", expr("bit_count(simhash1 ^ simhash2)").cast("long"))
      .filter(col("hamming") <= emitBound)
    val m1 = sh.select(col("doc_id").as("doc1"), col("simhash").as("simhash1"))
    val m2 = sh.select(col("doc_id").as("doc2"), col("simhash").as("simhash2"))
    classPairs.join(m1, "simhash1").join(m2, "simhash2")
      .filter(col("doc1") < col("doc2"))
      // partner cap AFTER the hamming verify (see PairsPerDocPerBucket)
      .withColumn("prk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy("band", "key", "doc1").orderBy("doc2")))
      .filter(col("prk") <= PairsPerDocPerBucket)
      .select("doc1", "doc2", "simhash1", "simhash2", "hamming").distinct()
      .orderBy("doc1", "doc2")
  }

  /** Bucket cap for the band self-joins (minhash AND simhash): identical
    * signatures form one bucket, and at web scale a boilerplate/empty-doc
    * group repeated millions of times would make the same-sig self-join
    * quadratic (the r10 30× rehearsal measured exactly this failure mode
    * collapse the embedding LSH — this is the same guard the hyperplane
    * path always had). Dropping a > cap bucket only hides EXACT-signature
    * mass — whole-corpus exact dup groups are q_dedup_exact_docs' job;
    * a near-dup of the group still collides in its other bands/buckets.
    */
  def BucketCap: Long = graft.GraftConfig.active.lshBucketCap

  /** Band-bucket collision candidates over a (doc_id, band, sig)
    * signature frame, with the BucketCap guard applied per (band, sig).
    */
  def lshCandidates(sigRaw: DataFrame): DataFrame = {
    val sig = sigRaw
      .join(sigRaw.groupBy("band", "sig").agg(count(lit(1)).as("bsz")),
        Seq("band", "sig"))
      .filter(col("bsz") <= BucketCap)
    val a = sig.select(col("doc_id").as("doc1"), col("band"), col("sig"))
    val b = sig.select(col("doc_id").as("doc2"), col("band"), col("sig"))
    a.join(b, Seq("band", "sig")).filter(col("doc1") < col("doc2"))
      .groupBy("doc1", "doc2").agg(count(lit(1)).as("n_bands_matched"))
  }

  /** Session-memoized minhash signature table (doc_id, perm, mh) —
    * feeds the band keys (via candsCached) AND the calibration audit's
    * per-pair match count, which self-joins it; fixed 32 rows per doc.
    */
  private def sigsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("DedupPack.sigs", s, d)(
      graft.Memo.pin(minhashFromShingles(TextPack.shinglesCached(s, d))))

  /** Session-memoized LSH candidate pairs (band-bucket collisions with
    * match counts) — referenced twice by the verification join below; a
    * bare per-call .cache() here lingered for the async ContextCleaner
    * (the r07 bench-neighborhood debt class) and re-derived the
    * signatures every call.
    */
  private def candsCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("DedupPack.cands", s, d)(
      graft.Memo.pin(lshCandidates(bandSignatures(sigsCached(s, d)))))

  /** Session-memoized exact shingle-intersection counts for the LSH
    * candidate pairs (r16): q_dedup_minhash_lsh and q_minhash_calibration
    * each ran the identical candidate-bounded double shingle join
    * (cand ⋈ shingles ⋈ shingles → per-pair intersection) per call — the
    * heaviest stage of either query. One fill serves both; rows are
    * bounded by the candidate set, the same contract as candsCached.
    */
  private def interCached(s: SparkSession, d: String): DataFrame =
    graft.Memo.share("DedupPack.inter", s, d) {
      val shd = TextPack.shinglesCached(s, d)
      candsCached(s, d).select("doc1", "doc2")
        .join(shd.select(col("doc_id").as("doc1"), col("shingle")), "doc1")
        .join(shd.select(col("doc_id").as("doc2"), col("shingle")), Seq("doc2", "shingle"))
        .groupBy("doc1", "doc2").agg(count(lit(1)).as("inter"))
        .cache()
    }

  /** Per-doc distinct-shingle counts — the sz1/sz2 join sides both LSH
    * queries attach. Delegates to TextPack's shared session memo (r16):
    * q_ngram_novelty needs the identical frame, so one fill serves all
    * three queries (the rename is a trivial projection over the cached
    * rows, not a second materialization).
    */
  private def docSizesCached(s: SparkSession, d: String): DataFrame =
    TextPack.docShingleSizesCached(s, d).withColumnRenamed("n_shingles", "sz")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_dedup_minhash_lsh" -> ((s, d) => {
      val cand = candsCached(s, d)
      // candidate-only verification: the per-pair exact intersection and
      // the per-doc sizes come from the session memos (r16) — computed
      // once, shared with q_minhash_calibration; the full shingle
      // self-join never runs, only |cand| × shingle intersections did
      // at memo fill
      val sizes = docSizesCached(s, d)
      val inter = interCached(s, d)
      cand.join(inter, Seq("doc1", "doc2"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .join(sizes.select(col("doc_id").as("doc1"), col("sz").as("sz1")), "doc1")
        .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")), "doc2")
        .withColumn("jaccard", col("inter") / (col("sz1") + col("sz2") - col("inter")))
        .filter(col("jaccard") >= 0.5)
        .select("doc1", "doc2", "n_bands_matched", "inter", "sz1", "sz2", "jaccard")
        .orderBy("doc1", "doc2")
    }),
    "q_dedup_simhash" -> ((s, d) => simhashPairs(simhashCached(s, d))),
    "q_minhash_calibration" -> ((s, d) => {
      // Estimator-vs-truth calibration for the MinHash family: for every
      // LSH candidate pair, count matching permutation minima (the
      // unbiased Jaccard estimator n_match/32) AND the exact shingle
      // Jaccard, then pool per n_match level. This is the audit that
      // sets the dedup operating point at corpus scale: it answers "at
      // the band threshold I deploy, what exact-Jaccard mass am I
      // keeping/dropping?" without ever running the all-pairs truth
      // join — the truth side is computed ONLY on the LSH-bounded
      // candidate set, so cost is O(candidates), not O(n²). Output is
      // ≤ 33 rows whatever the corpus size. Integer-exact aggregation:
      // sums of longs, each ratio a single terminal division — no
      // float-summation-order divergence for the oracle to trip on.
      val cand = candsCached(s, d).select("doc1", "doc2")
      val mh = sigsCached(s, d)
      val m1 = mh.select(col("doc_id").as("doc1"), col("perm"), col("mh").as("mh1"))
      val m2 = mh.select(col("doc_id").as("doc2"), col("perm"), col("mh").as("mh2"))
      // fixed 32 rows per doc on each side: the join is candidate-bounded
      val matches = cand.join(m1, "doc1").join(m2, Seq("doc2", "perm"))
        .groupBy("doc1", "doc2")
        .agg(sum(when(col("mh1") === col("mh2"), 1L).otherwise(0L)).as("n_match"))
      // exact intersections and doc sizes off the session memos (r16) —
      // identical frames to the per-call joins they replace
      val sizes = docSizesCached(s, d)
      val inter = interCached(s, d)
      matches
        .join(inter, Seq("doc1", "doc2"), "left")
        .withColumn("inter", coalesce(col("inter"), lit(0L)))
        .join(sizes.select(col("doc_id").as("doc1"), col("sz").as("sz1")), "doc1")
        .join(sizes.select(col("doc_id").as("doc2"), col("sz").as("sz2")), "doc2")
        .withColumn("uni", col("sz1") + col("sz2") - col("inter"))
        .groupBy("n_match")
        .agg(count(lit(1)).as("n_pairs"),
          sum("inter").as("sum_inter"),
          sum("uni").as("sum_union"))
        .withColumn("est_jaccard", col("n_match") / lit(NumPerms.toDouble))
        .withColumn("pooled_jaccard", col("sum_inter") / col("sum_union"))
        .select("n_match", "n_pairs", "sum_inter", "sum_union",
          "est_jaccard", "pooled_jaccard")
        .orderBy("n_match")
    })
  )

  /** Shared mirror prefix: shingles → minhash → band keys → bucket-capped
    * candidate pairs (final CTE: cand, with n_bands_matched). Used by the
    * LSH pair oracle and the calibration audit.
    */
  private lazy val MinhashCandCte: String = {
    val permValues = PermConsts
      .map { case (p, a, b) => s"($p, ${a}, ${b})" }.mkString(", ")
    s"""${TextPack.ShinglesCte},
       |perms(perm, a, b) AS (VALUES $permValues),
       |mh AS (
       |  SELECT s.doc_id, p.perm,
       |         CAST(min((p.a::HUGEINT * ('0x' || substr(md5(s.shingle), 1, 14))::BIGINT + p.b)
       |                  % ${MinhashP}) AS BIGINT) AS mh
       |  FROM (SELECT DISTINCT doc_id, shingle FROM shd) s CROSS JOIN perms p
       |  GROUP BY 1, 2
       |),
       |bands AS (
       |  SELECT doc_id, perm // ${NumPerms / NumBands} AS band,
       |         CAST(max(CASE WHEN perm % ${NumPerms / NumBands} = 0 THEN mh END) AS VARCHAR) || ',' ||
       |         CAST(max(CASE WHEN perm % ${NumPerms / NumBands} = 1 THEN mh END) AS VARCHAR) || ',' ||
       |         CAST(max(CASE WHEN perm % ${NumPerms / NumBands} = 2 THEN mh END) AS VARCHAR) || ',' ||
       |         CAST(max(CASE WHEN perm % ${NumPerms / NumBands} = 3 THEN mh END) AS VARCHAR) AS sig
       |  FROM mh GROUP BY 1, 2
       |),
       |bsizes AS (SELECT band, sig, count(*) AS bsz FROM bands GROUP BY 1, 2),
       |cand AS (
       |  SELECT a.doc_id AS doc1, b.doc_id AS doc2, count(*) AS n_bands_matched
       |  FROM bands a JOIN bands b ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
       |  JOIN bsizes z ON z.band = a.band AND z.sig = a.sig
       |  WHERE z.bsz <= $BucketCap
       |  GROUP BY 1, 2
       |)""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q_dedup_minhash_lsh" -> {
      s"""WITH $MinhashCandCte,
         |sizes AS (SELECT doc_id, count(DISTINCT shingle) AS sz FROM shd GROUP BY doc_id),
         |intr AS (
         |  SELECT c.doc1, c.doc2, count(DISTINCT s1.shingle) AS inter
         |  FROM cand c
         |  JOIN shd s1 ON s1.doc_id = c.doc1
         |  JOIN shd s2 ON s2.doc_id = c.doc2 AND s2.shingle = s1.shingle
         |  GROUP BY 1, 2
         |),
         |j AS (
         |  SELECT c.doc1, c.doc2, c.n_bands_matched,
         |         coalesce(i.inter, 0) AS inter, z1.sz AS sz1, z2.sz AS sz2,
         |         coalesce(i.inter, 0) / (z1.sz + z2.sz - coalesce(i.inter, 0)) AS jaccard
         |  FROM cand c
         |  LEFT JOIN intr i ON c.doc1 = i.doc1 AND c.doc2 = i.doc2
         |  JOIN sizes z1 ON c.doc1 = z1.doc_id
         |  JOIN sizes z2 ON c.doc2 = z2.doc_id
         |)
         |SELECT doc1, doc2, n_bands_matched, inter, sz1, sz2, jaccard
         |FROM j WHERE jaccard >= 0.5 ORDER BY doc1, doc2""".stripMargin
    },
    "q_dedup_simhash" ->
      // the vote/sign fold as relational algebra: every token's 56-bit
      // md5 prefix votes on each bit (tokens x 56 cross join), sign of
      // the vote totals reassembles the signature; bands and the
      // hamming bound then mirror the Spark pipeline 1:1. xor(a, b)
      // because DuckDB's ^ is exponentiation.
      s"""WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |),
        |th AS (
        |  SELECT doc_id, ('0x' || substr(md5(tok), 1, 14))::BIGINT AS h FROM toks
        |),
        |bits AS (SELECT range AS bit FROM range(56)),
        |votes AS (
        |  SELECT doc_id, bit,
        |         sum(CASE WHEN (h >> bit) & 1 = 1 THEN 1 ELSE -1 END) AS v
        |  FROM th CROSS JOIN bits GROUP BY 1, 2
        |),
        |sig AS (
        |  SELECT doc_id,
        |         CAST(sum(CASE WHEN v > 0 THEN 1::BIGINT << bit ELSE 0 END) AS BIGINT) AS simhash
        |  FROM votes GROUP BY 1
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
        |      AND bit_count(xor(a.simhash, b.simhash)) <= 6
        |    JOIN bsizes z ON z.band = a.band AND z.key = a.key
        |    WHERE z.bsz <= $BucketCap)
        |  WHERE prk <= $PairsPerDocPerBucket
        |)
        |SELECT doc1, doc2, simhash1, simhash2,
        |       CAST(bit_count(xor(simhash1, simhash2)) AS BIGINT) AS hamming
        |FROM pairs
        |ORDER BY doc1, doc2""".stripMargin,
    "q_minhash_calibration" ->
      // per-pair permutation match count (the n_match/32 estimator)
      // against the exact candidate-only shingle Jaccard, pooled per
      // n_match level; every sum an integer, every ratio one terminal
      // division — hash-exact across engines
      s"""WITH $MinhashCandCte,
         |matches AS (
         |  SELECT c.doc1, c.doc2,
         |         CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_match
         |  FROM cand c
         |  JOIN mh a ON a.doc_id = c.doc1
         |  JOIN mh b ON b.doc_id = c.doc2 AND b.perm = a.perm
         |  GROUP BY 1, 2
         |),
         |sizes AS (SELECT doc_id, count(DISTINCT shingle) AS sz FROM shd GROUP BY doc_id),
         |intr AS (
         |  SELECT c.doc1, c.doc2, count(DISTINCT s1.shingle) AS inter
         |  FROM cand c
         |  JOIN shd s1 ON s1.doc_id = c.doc1
         |  JOIN shd s2 ON s2.doc_id = c.doc2 AND s2.shingle = s1.shingle
         |  GROUP BY 1, 2
         |),
         |pairs AS (
         |  SELECT m.n_match, coalesce(i.inter, 0) AS inter,
         |         z1.sz + z2.sz - coalesce(i.inter, 0) AS uni
         |  FROM matches m
         |  LEFT JOIN intr i ON m.doc1 = i.doc1 AND m.doc2 = i.doc2
         |  JOIN sizes z1 ON m.doc1 = z1.doc_id
         |  JOIN sizes z2 ON m.doc2 = z2.doc_id
         |)
         |SELECT n_match, count(*) AS n_pairs,
         |       CAST(sum(inter) AS BIGINT) AS sum_inter,
         |       CAST(sum(uni) AS BIGINT) AS sum_union,
         |       n_match / 32.0 AS est_jaccard,
         |       CAST(sum(inter) AS BIGINT) / CAST(sum(uni) AS BIGINT) AS pooled_jaccard
         |FROM pairs GROUP BY n_match ORDER BY n_match""".stripMargin
  )
}
