package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.TextFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Corpus-preparation operators added in round 8 — the retrieval/indexing
  * face of the training-data pipeline:
  *
  *  - q96: overlapping token-window chunking (the RAG / long-context
  *    preprocessing step: every document becomes fixed-budget chunks with
  *    stride overlap and stable per-chunk fingerprints). Pure per-row
  *    `sequence → explode → slice` higher-order functions — scan-parallel,
  *    no shuffle at all before the output sort.
  *  - q97: per-document distinctive terms — top-k by (tf DESC, df ASC,
  *    term ASC). The integer-exact cousin of tf-idf ranking (higher tf
  *    wins; document frequency breaks ties toward RARER terms — the idf
  *    direction — and the term itself makes the order total, so no
  *    cross-engine float log). Shares the corpus df profile with the dedup
  *    family's document-frequency machinery.
  *  - q98: temperature-based mixture reweighting (α = 0.5) — the
  *    data-mixing step that flattens source imbalance when composing a
  *    training mix (per-source weight ∝ share^α, renormalized). Everything
  *    after the one per-source aggregate is dimension-sized; the share →
  *    √share → renormalize chain is kept cross-engine-exact by doing each
  *    division as a single IEEE double op and the weight SUM in
  *    DECIMAL(28,10).
  *
  * Scale: q96 is embarrassingly parallel (chunk count rides the token
  * count, not the corpus); q97's heavy objects are the (doc, term) tf
  * aggregate and a doc-keyed window — doc_id is corpus-cardinality, so the
  * window parallelizes by key and needs no salting (contrast
  * TopK.perKeyTopK, which exists for LOW-cardinality keys); q98 collapses
  * the corpus in one hash-agg to a source-cardinality frame.
  */
object CorpusOps {

  /** q96 chunk budget / stride (tokens). 32/24 = 8-token overlap; the
    * fixture's ~56-token docs produce 1–4 chunks each. Production values
    * (e.g. 512/384) change only the constants — the plan shape is
    * identical.
    */
  private val ChunkSize = 32
  private val ChunkStride = 24

  /** q97 distinctive terms kept per document. */
  private val TermK = 3

  /** q128 candidate blocking: only SHINGLES in ≤ this many docs generate
    * pairs (q36a's posting-list cap — bounds per-key pair fan-out to
    * cap²/2 and total candidate work to Σ min(df,cap)²). Blocking keys
    * are shingles, NOT unigram terms: a unigram's df grows with the
    * corpus (at sf1 the fixture's every unigram exceeds any fixed cap —
    * zero candidates), while n-gram shingles stay distinctive, which is
    * the same reason the whole dedup family blocks on them.
    */
  private val CosDfCap = Dedup.DfCap.toLong

  /** q128 report threshold. 0.9, not the Jaccard family's 0.5–0.6: on a
    * vocabulary-compressed corpus most document pairs share the bulk of
    * their unigram profile, so a permissive cosine threshold reports
    * O(candidates) pairs (measured: τ=0.5 kept 10.3M of the 10× replica
    * fixture's candidate pairs; τ=0.9 keeps the ~7k genuine near-dups).
    */
  private val CosTau = 0.9

  /** q128 candidate floor: a pair must share at least this many DISTINCT
    * low-df shingles to reach the cosine verify. A single shared rare
    * shingle is coincidence-shaped, and every candidate pays a
    * term-vector join — measured at sf1 (10× replica fixture): floor 1 =
    * 11.3M candidates and a 55.8 s query; floor 2 = 1.1M and the q36a
    * cost class. The trade is explicit: pairs whose ONLY link is one
    * sub-cap shingle leave the contract (sf1 report 7,260 → 1,130; the
    * dropped mass is single-rare-shingle cosine similars, while every
    * pair the Jaccard family verifies shares ≥2). The spec's promise
    * contract carries the same floor.
    */
  private val CosMinShared = 2L

  /** q130 query set: doc_id < this — the SAME id slice as the similarity
    * family's `vec_id < NumQueries` (doc_id and vec_id share the fixture
    * id domain), so the lexical and vector retrieval legs rank the same
    * query items and q131 can fuse them.
    */
  private[graft] val Bm25NumQueries = 8L

  /** q130 query-term budget: each query bag keeps its RAREST `Bm25QTerms`
    * terms (df ASC, term ASC — the idf direction, deterministic). This is
    * standard query-term pruning, and it is ALSO the scale bound: candidate
    * work is Σ_{t∈bag} df(t) per query — a capped number of posting lists,
    * never the corpus.
    */
  private[graft] val Bm25QTerms = 16

  /** q130/q131 retrieval depth. */
  private[graft] val Bm25K = 10

  /** q163 pseudo-relevance feedback: how many stage-1 docs feed the
    * expansion model, and how many expansion terms each query gains.
    */
  private[graft] val PrfDocs = 5
  private[graft] val PrfTerms = 8

  /** q131 reciprocal-rank-fusion constant (the standard RRF k=60). */
  private val RrfK = 60

  /** q108 global token budget (chars) — ~60% of the sf0.01 corpus mass, so
    * flattening is visible: over-represented sources get frac < 1, the
    * rarest keep everything.
    */
  private val MixBudgetChars = 100000L

  /** q110 docs sampled per language group. */
  private val GroupSampleK = 20

  /** q144 hashed-feature space size (DSIR's hashing trick). The feature
    * dimension is FIXED at B regardless of corpus size — that is the whole
    * 100-TB argument: the importance model (two B-bucket count profiles →
    * one B-row weight table) stays broadcast-sized forever, while the raw
    * vocabulary grows with the corpus (q135's Heaps curve).
    */
  private[graft] val DsirBuckets = 4096

  /** q144 shortlist size. */
  private[graft] val DsirK = 50

  /** q144 target-domain slice. */
  private[graft] val DsirTargetLang = "en"

  /** The q144 derivation as DuckDB CTEs ending at `r` (the ranked score
    * frame) — shared by q144's shortlist and q152's selection-bias report.
    */
  private lazy val dsirOracleCtes: String =
    s"""tf AS (SELECT doc_id, t AS term, count(*) AS tf
      |           FROM (SELECT doc_id,
      |                   unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS t
      |                 FROM documents)
      |           GROUP BY 1, 2),
      |db AS (SELECT doc_id, ${hex60Sql.format("term")} % $DsirBuckets AS b,
      |         CAST(sum(tf) AS BIGINT) AS c
      |       FROM tf GROUP BY 1, 2),
      |raw AS (SELECT b, CAST(sum(c) AS BIGINT) AS cr FROM db GROUP BY b),
      |tgt AS (SELECT db.b, CAST(sum(db.c) AS BIGINT) AS ct
      |        FROM db JOIN documents USING (doc_id)
      |        WHERE documents.lang = '$DsirTargetLang' GROUP BY db.b),
      |tot AS (SELECT (SELECT CAST(sum(cr) AS BIGINT) FROM raw) AS nr,
      |               (SELECT CAST(coalesce(sum(ct), 0) AS BIGINT) FROM tgt) AS nt),
      |w AS (SELECT raw.b,
      |        CAST((CAST(coalesce(tgt.ct, 0) + 1 AS HUGEINT) * (tot.nr + $DsirBuckets) * 1000000)
      |          // (CAST(raw.cr + 1 AS HUGEINT) * (tot.nt + $DsirBuckets)) AS BIGINT) AS w_micro
      |      FROM raw LEFT JOIN tgt ON raw.b = tgt.b, tot),
      |sc AS (SELECT db.doc_id,
      |         CAST(sum(db.c * w.w_micro) AS BIGINT) AS score_micro,
      |         CAST(sum(db.c) AS BIGINT) AS n_tok
      |       FROM db JOIN w ON db.b = w.b GROUP BY db.doc_id),
      |r AS (SELECT doc_id, n_tok, score_micro, score_micro // n_tok AS per_tok_micro,
      |        row_number() OVER (ORDER BY score_micro // n_tok DESC, doc_id) AS rk
      |      FROM sc)""".stripMargin

  /** (doc_id, b, c) hashed-bucket counts from a `(doc_id, term, tf)`
    * frame — q144's corpus-side re-key, shared with the store-served
    * scoring path so both derive the identical feature vectors.
    */
  private[graft] def dsirDb(tf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    tf.select(col("doc_id"), pmod(hex60(col("term")), lit(DsirBuckets)).as("b"), col("tf"))
      .groupBy(col("doc_id"), col("b")).agg(sum(col("tf")).cast(LongType).as("c"))

  /** Per-batch DSIR profile increment from a raw `(doc_id, text, lang)`
    * frame: one row per touched bucket with the batch's raw and target
    * token counts — the O(batch)-sized unit the streaming maintainer
    * appends (≤ [[DsirBuckets]] rows per batch regardless of batch size).
    */
  private[graft] def dsirProfileRows(docs: org.apache.spark.sql.DataFrame,
      targetLang: String = DsirTargetLang): org.apache.spark.sql.DataFrame =
    docs
      .select(col("lang"), explode(tokens(col("text"))).as("term"))
      .select(pmod(hex60(col("term")), lit(DsirBuckets)).as("b"),
        lit(1L).as("r"),
        when(col("lang") === targetLang, 1L).otherwise(0L).as("t"))
      .groupBy(col("b"))
      .agg(sum(col("r")).cast(LongType).as("c_raw"), sum(col("t")).cast(LongType).as("c_tgt"))

  /** `(b, c_raw, c_tgt)` profile from a `(doc_id, b, c)` frame plus the
    * docs frame carrying lang — the batch-side profile derivation q144
    * and the gateway's `dsir_weights` view share.
    */
  private[graft] def dsirProfileFromDb(db: org.apache.spark.sql.DataFrame,
      docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val raw = db.groupBy(col("b")).agg(sum(col("c")).cast(LongType).as("c_raw"))
    val tgt = db
      .join(docs.filter(col("lang") === DsirTargetLang).select(col("doc_id")), "doc_id")
      .groupBy(col("b")).agg(sum(col("c")).cast(LongType).as("c_tgt"))
    raw.join(tgt, Seq("b"), "left")
      .select(col("b"), col("c_raw"), coalesce(col("c_tgt"), lit(0L)).as("c_tgt"))
  }

  /** The corpus's DSIR weight table off the shared tf index — the
    * analyst-facing view (`dsir_weights` in the SQL gateway).
    */
  private[graft] def dsirCorpusWeights(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    dsirWeights(dsirProfileFromDb(dsirDb(tfIndex(s, dir)),
      graft.Tables.load(s, dir, "documents")))

  /** Smoothed ratio-weight table from a `(b, c_raw, c_tgt)` profile:
    * w_micro(b) = ⌊10⁶·(ct+1)(Nr+B) / ((cr+1)(Nt+B))⌋ — DECIMAL(38,0)
    * numerators, ONE integer division per bucket. ≤ [[DsirBuckets]] rows.
    */
  private[graft] def dsirWeights(prof: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tot = prof.agg(sum(col("c_raw")).cast(LongType).as("nr"),
      sum(col("c_tgt")).cast(LongType).as("nt"))
    prof.crossJoin(broadcast(tot))
      .select(col("b"), expr(
        s"""CAST((CAST(c_tgt + 1 AS DECIMAL(38,0)) * (nr + $DsirBuckets) * 1000000)
           | div (CAST(c_raw + 1 AS DECIMAL(38,0)) * (nt + $DsirBuckets)) AS BIGINT)"""
          .stripMargin.replace("\n", "")).as("w_micro"))
  }

  /** q146's smoothed transition-probability table from a `(a, b, c12)`
    * bigram-count frame and a `(term, n)` unigram-instance frame: one
    * integer division per bigram type. Shared by the query and the
    * gateway's `lm_bigram` view. Carries `c12` through so consumers that
    * want the raw count (the gateway view) never re-derive the bigram
    * subtree.
    *
    * Output schema: `(a, b, p_micro, c12)` — `c12` appended LAST so the
    * round-11 positional layout `(a, b, p_micro)` is a strict prefix:
    * pre-existing positional readers (`r.getLong(2)` for `p_micro`,
    * including any external consumer of [[graft.streaming.IndexMaintenance
    * .lmModelFromStore]], whose schema this is) keep reading the
    * probability, not the raw count.
    */
  private[graft] def lmModelOverBigrams(bg: org.apache.spark.sql.DataFrame,
      uni: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val v = uni.agg(count(lit(1)).as("v"))
    bg.join(uni.select(col("term").as("a"), col("n")), "a")
      .crossJoin(broadcast(v))
      .select(col("a"), col("b"),
        expr("((c12 + 1) * 1000000) div (n + v)").as("p_micro"),
        col("c12"))
  }

  /** `(doc_id, a, b, c)` per-doc bigram bags of a corpus — q146's scan
    * projection as a library transform.
    */
  private[graft] def bigramBags(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    // r18 (guide §4 — fewer per-row string ops): bigrams used to be built
    // as "a b" strings (concat_ws per pair) and immediately re-split with
    // two substring_index scans. zip_with over the shifted token array
    // yields the (a, b) structs directly — exactly the oracle's
    // (w[i], w[i+1]) formulation, three string traversals per bigram
    // fewer. Tokens contain no whitespace (tokens() splits on it), so the
    // old round-trip was lossless and this is value-identical.
    val w = tokens(col("text"))
    docs
      .select(col("doc_id"), explode(zip_with(
        slice(w, lit(1), greatest(size(w) - 1, lit(0))),
        slice(w, lit(2), greatest(size(w) - 1, lit(0))),
        (x, y) => struct(x.as("a"), y.as("b")))).as("p"))
      .select(col("doc_id"), col("p.a").as("a"), col("p.b").as("b"))
      .groupBy(col("doc_id"), col("a"), col("b")).agg(count(lit(1)).as("c"))
  }

  /** q146's per-doc mean-transition-probability report over a
    * `(doc_id, a, b, c)` bag frame and a `(a, b, p_micro)` model —
    * shared by the query and the store-served scoring path. Docs score
    * on the transitions the model knows (inner join — for corpus docs
    * that is all of them; a NEW doc's unseen bigrams contribute no
    * probability mass and no bigram count).
    */
  private[graft] def lmScoreOverModel(bgd: org.apache.spark.sql.DataFrame,
      p: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    bgd.join(p, Seq("a", "b"))
      .groupBy(col("doc_id"))
      .agg(sum(col("c")).cast(LongType).as("n_bigrams"),
        expr("CAST(sum(c * p_micro) div sum(c) AS BIGINT)").as("lm_micro"))
      .orderBy(col("doc_id"))

  /** The corpus's bigram LM as an analyst-facing frame (`lm_bigram` in
    * the SQL gateway): (a, b, c12, p_micro).
    */
  private[graft] def lmBigramModel(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val bg = bigramBags(graft.Tables.load(s, dir, "documents"))
      .groupBy(col("a"), col("b")).agg(sum(col("c")).cast(LongType).as("c12"))
    val uni = tfIndex(s, dir).groupBy(col("term")).agg(sum(col("tf")).as("n"))
    // c12 rides the model frame — ONE corpus bigram subtree, not two
    lmModelOverBigrams(bg, uni)
      .select(col("a"), col("b"), col("c12"), col("p_micro"))
  }

  /** Length-normalized top-k importance shortlist of a `(doc_id, b, c)`
    * frame against a weight table: broadcast join on b, one doc-keyed
    * hash-agg, TakeOrderedAndProject(k), bounded rank window.
    */
  private[graft] def dsirShortlist(db: org.apache.spark.sql.DataFrame,
      w: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    db.join(broadcast(w), "b")
      .groupBy(col("doc_id"))
      .agg(sum(col("c") * col("w_micro")).cast(LongType).as("score_micro"),
        sum(col("c")).cast(LongType).as("n_tok"))
      .withColumn("per_tok_micro", expr("score_micro div n_tok"))
      .orderBy(col("per_tok_micro").desc, col("doc_id"))
      .limit(k)
      .withColumn("rk",
        row_number().over(Window.orderBy(col("per_tok_micro").desc, col("doc_id"))))
      .select(col("rk").cast(LongType).as("rk"), col("doc_id"), col("n_tok"),
        col("score_micro"), col("per_tok_micro"))
      .orderBy(col("rk"))
  }

  private val hex60Sql = "CAST('0x' || substr(md5(%s), 1, 15) AS BIGINT)"

  /** (doc_id, term, tf) as a per-(session, corpus) shared index — the same
    * built-once/served-many posture as TextAnalysis.shingleIndex /
    * qualityIndex: q97 and q102 both serve off one tokenize+count pass.
    */
  private[operators] val tfIndexCache = graft.SessionCache.frames("tfIndex")

  /** `(doc_id, term, tf)` rows of any `(doc_id, text, …)` frame — the
    * per-batch increment the streaming tf-store maintainer appends, and
    * the build body of the session [[tfIndex]].
    */
  private[graft] def tfRows(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    docs
      .select(col("doc_id"), explode(tokens(col("text"))).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))

  private[graft] def tfIndex(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    tfIndexCache.getOrElseUpdate(s, dir)(
      tfRows(Tables.load(s, dir, "documents"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  /** tf-idf weight vectors (doc_id, term, w) with the exact rational
    * idf quantization of [[tfidfCosinePairs]] — the corpus's tf-idf
    * VECTOR INDEX, session-cached like [[tfIndex]] (it is a pure
    * per-(doc, term) function of it, one join + one integer expression
    * away, and the cosine leg reads it three times per run).
    */
  private val tfidfWeightCache = graft.SessionCache.frames("tfidfWeight", upstream = Seq(tfIndexCache))

  private[graft] def tfidfWeightIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    tfidfWeightCache.getOrElseUpdate(s, dir) {
      val tf = tfIndex(s, dir)
      val dfF = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val nT = Tables.load(s, dir, "documents").agg(count(lit(1)).as("n"))
      tf.join(dfF, "term").crossJoin(broadcast(nT))
        .select(col("doc_id"), col("term"),
          expr("tf * ((1000000L * n) div df)").as("w"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  // r18: the df-capped posting rows (lowDfPostingRows/lowDfPostings) are
  // gone — the tf-idf cosine's blocking now rides [[Dedup.corpusPostings]]
  // (the same per-session shingle posting frame q36/q36a/q79 share), so
  // one index serves the whole blocked near-dup family instead of two
  // overlapping caches of the same rows.

  /** Per-doc tf-idf VECTOR rows (doc_id, terms sorted, ws aligned, n2) —
    * the pair-scoring form of [[tfidfWeightIndex]] (r18, guide §2.3/§8):
    * scoring a candidate pair becomes two doc-keyed lookups plus ONE
    * sorted-merge dot ([[graft.functions.expressions.TermVecDot]]),
    * instead of exploding every pair by its full term vector through two
    * term-keyed joins and a pair×terms hash-aggregate (26.4M intermediate
    * rows for 994k pairs at sf1). n2 rides the same row, so the norm join
    * disappears too. Session-cached like the weight index it derives
    * from.
    */
  private val tfidfVectorCache = graft.SessionCache.frames("tfidfVector", upstream = Seq(tfidfWeightCache))

  private[graft] def tfidfVectorIndex(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    tfidfVectorCache.getOrElseUpdate(s, dir) {
      val d38 = DecimalType(38, 0)
      tfidfWeightIndex(s, dir)
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("term"), col("w")))).as("tw"),
          sum((col("w").cast(d38) * col("w").cast(d38)).cast(d38)).as("n2"))
        .select(col("doc_id"),
          transform(col("tw"), x => x.getField("term")).as("terms"),
          transform(col("tw"), x => x.getField("w")).as("ws"),
          col("n2"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** q96's chunk projection as a library transform over any
    * (doc_id, text) frame — a PURE per-row expression, so the identical
    * chunking runs unchanged over a stream (StreamingSpec pins
    * batch/stream agreement, the same parity contract as the stratified
    * sampler's).
    */
  private[graft] def chunkRows(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tok = tokens(col("text"))
    docs
      .select(col("doc_id"), tok.as("tok"), size(tok).as("n"))
      .select(col("doc_id"), col("tok"), col("n"),
        explode(sequence(lit(0),
          floor((col("n") - 1) / ChunkStride).cast(IntegerType))).as("k"))
      .select(col("doc_id"), col("k").as("chunk_id"),
        (col("k") * ChunkStride + 1).as("start_pos"),
        least(lit(ChunkSize), col("n") - col("k") * ChunkStride).as("n_tokens"),
        hex60(array_join(
          slice(col("tok"), col("k") * ChunkStride + 1, lit(ChunkSize)), " "))
          .as("chunk_fp"))
  }

  /** q133 boundary modulus: a token ends a chunk when hex60(token) ≡ 0
    * (mod 8) → expected chunk length 8 tokens on the fixture's ~56-token
    * docs. Production tuning changes only this constant.
    */
  private val CdcModulus = 8

  /** q133's content-defined chunking as a library transform — the
    * shift-robust counterpart of [[chunkRows]]: chunk boundaries fall
    * where a TOKEN's hash (hex60 mod [[CdcModulus]]) hits 0, so they are
    * a function of CONTENT, not position. Insert one token anywhere and
    * q96's fixed-stride grid shifts — every downstream chunk fingerprint
    * changes and the dedup store sees an entirely "new" document; CDC
    * boundaries re-synchronize at the next content boundary, so every
    * chunk after the edit keeps its fingerprint (the rsync/LBFS argument,
    * spec-pinned). Like [[chunkRows]] a PURE per-row expression — scan-
    * parallel, zero shuffle, and the boundary scan is one zip_with +
    * filter (array fast path, not per-element indexed access — the
    * TextFunctions.shingles lesson).
    */
  private[graft] def cdcChunkRows(docs: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val tok = tokens(col("text"))
    docs
      .select(col("doc_id"), tok.as("tok"), size(tok).as("n"))
      .withColumn("bpos", concat(
        array(lit(0)),
        filter(
          zip_with(col("tok"), sequence(lit(1), col("n")),
            (t, p) => when(pmod(hex60(t), lit(CdcModulus)) === 0 && p < col("n"), p)),
          x => x.isNotNull),
        array(col("n"))))
      .select(col("doc_id"), col("tok"), col("bpos"),
        explode(sequence(lit(1), size(col("bpos")) - 1)).as("k"))
      .select(col("doc_id"), (col("k") - 1).as("chunk_id"),
        (element_at(col("bpos"), col("k")) + 1).as("start_pos"),
        (element_at(col("bpos"), col("k") + 1) - element_at(col("bpos"), col("k")))
          .as("n_tokens"),
        hex60(array_join(
          slice(col("tok"), element_at(col("bpos"), col("k")) + 1,
            element_at(col("bpos"), col("k") + 1) - element_at(col("bpos"), col("k"))),
          " ")).as("chunk_fp"))
  }

  private val chunkOracleSql: String =
    s"""WITH t AS (SELECT doc_id,
      |  string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS tok
      |  FROM documents),
      |c AS (SELECT doc_id, tok, len(tok) AS n,
      |        unnest(generate_series(0, (len(tok) - 1) // $ChunkStride)) AS k
      |      FROM t)
      |SELECT doc_id, k AS chunk_id,
      |  1 + k * $ChunkStride AS start_pos,
      |  least($ChunkSize, n - k * $ChunkStride) AS n_tokens,
      |  ${hex60Sql.format(s"array_to_string(list_slice(tok, 1 + k * $ChunkStride, k * $ChunkStride + $ChunkSize), ' ')")} AS chunk_fp
      |FROM c ORDER BY doc_id, chunk_id""".stripMargin

  /** TF-IDF cosine similarity over df-capped candidate pairs — q128's
    * body as a library operator (the spec sweeps `dfCap` for blocked-vs-
    * brute parity).
    *
    * The LEXICAL cosine leg of the near-dup family: Jaccard (q36) sees
    * set overlap, containment (q79) sees doc-inside-doc, SemDedup (q68)
    * sees embedding geometry — tf-idf cosine sees weighted term-profile
    * alignment, the classic retrieval similarity. Candidates come from
    * df-capped SHINGLE posting lists (the q36a blocking, off the shared
    * [[TextAnalysis.shingleIndex]]); the cosine is then EXACT over the
    * candidates' full unigram tf-idf vectors.
    *
    * Cross-engine exactness (the q119 discipline): idf is a RATIONAL
    * quantization — `idf_micro = (1e6·N) div df`, one BIGINT integer
    * division, no float log (ln is not correctly-rounded-guaranteed
    * cross-engine). Weights `w = tf·idf_micro` are BIGINT; the cosine's
    * numerator and both norms accumulate as DECIMAL(38,0)/HUGEINT sums of
    * exact products; the final value is the identical IEEE sequence on
    * both sides (two VARCHAR-routed decimal→double casts, one multiply,
    * one sqrt, one divide) — bit-equal, so even the τ filter agrees.
    *
    * Overflow bound (the q125 discipline): |w| < 2⁶³ needs
    * tf·1e6·(N/df) < 9.2e18 — worst case df=1, so tf·N ≲ 9.2e12 (e.g.
    * 10⁹ docs × tf 10³). Past that, the rescale recipe: idf in KILO
    * units and weights accumulated as DECIMAL instead of BIGINT — plan
    * shape unchanged.
    *
    * Scale: one shared tf-index pass feeds df, norms, and weights; the
    * candidate join is posting-list-bounded (never all-pairs, plan-
    * guarded with the q36/q121 family); numerator work is
    * |candidates| × doc length, all shuffles keyed by doc or term.
    */
  private[graft] def tfidfCosinePairs(s: org.apache.spark.sql.SparkSession,
      dir: String, dfCap: Long, tau: Double,
      minShared: Long = CosMinShared): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftExtensions.register(s)
    // r18 (guide §2.4 — the pairJaccard posting discipline): candidates
    // used to come from a (doc, sg)-row SELF-JOIN on sg — two sg-keyed
    // exchanges of the capped posting rows plus a SortMergeJoin — fed by
    // lowDfPostingRows' own groupBy(sg).count + join-back (a third
    // exchange). Now the production path reads [[Dedup.corpusPostings]]
    // (the SAME session posting frame q36/q36a/q79 block on — CosDfCap =
    // Dedup.DfCap, same shingle index) and expands each ≤ cap posting
    // list to its pairs IN-ROW: one cached read, zero new exchanges
    // before the pair count. df = 1 lists contribute no pairs, so the
    // between(2, cap) filter is result-identical to the old df ≤ cap.
    val post =
      if (dfCap == CosDfCap) Dedup.corpusPostings(s, dir)
      else Dedup.postingLists(TextAnalysis.shingleIndex(s, dir))
        .transform(graft.Materialize.ephemeral)
    // ≥ minShared distinct low-df shingles per pair (each list holds
    // distinct docs, so per-pair row count IS the shared-shingle count) —
    // prunes coincidence pairs before the expensive term-vector join
    val cand = post
      .filter(size(col("ds")).between(2, dfCap))
      .select(explode(Dedup.pairCombos(col("ds"))).as("p"))
      .groupBy(col("p.a").as("a_doc"), col("p.b").as("b_doc"))
      .agg(count(lit(1)).as("n_blk"))
      .filter(col("n_blk") >= minShared)
      .select(col("a_doc"), col("b_doc"))
    // r18 (guide §2.3/§8 — decide with small rows): the numerator used to
    // explode every candidate pair by doc a's FULL term vector (26.4M
    // rows for 994k pairs at sf1) through two term-keyed joins and a
    // pair-keyed hash-agg, with the whole weight index as a broadcast
    // build side. Now each pair makes two doc-keyed lookups into the
    // per-doc vector index and ONE sorted-merge dot (TermVecDot) — the
    // identical DECIMAL(38,0) integer and shared-term count the join
    // produced (spec-pinned equivalence, TermVecDotSpec), with the norms
    // riding the same vector row (norm join gone). n_shared ≥ 1 filter
    // preserves the old inner join's "≥1 shared term" row set exactly,
    // independent of tau.
    val vec = tfidfVectorIndex(s, dir)
    cand
      .join(vec.select(col("doc_id").as("a_doc"), col("terms").as("a_terms"),
        col("ws").as("a_ws"), col("n2").as("na2")), "a_doc")
      .join(vec.select(col("doc_id").as("b_doc"), col("terms").as("b_terms"),
        col("ws").as("b_ws"), col("n2").as("nb2")), "b_doc")
      .withColumn("d", call_function("term_vec_dot",
        col("a_terms"), col("a_ws"), col("b_terms"), col("b_ws")))
      .filter(col("d.n_shared") > 0)
      .select(col("a_doc"), col("b_doc"), col("d.n_shared").as("n_shared"),
        (col("d.num").cast(DoubleType)
          / sqrt(col("na2").cast(DoubleType) * col("nb2").cast(DoubleType)))
          .as("cos_sim"))
      .filter(col("cos_sim") >= tau)
      .orderBy(col("a_doc"), col("b_doc"))
  }

  /** BM25 inverted-index retrieval — q130's body as a library operator
    * (q131 fuses its rank list with the vector leg).
    *
    * "More-like-this" retrieval: each query doc's term bag (pruned to its
    * `qt` rarest terms) is scored against every doc sharing at least one
    * query term — the candidate set IS the union of the query terms'
    * posting lists, the inverted-index shape, never a corpus scan per
    * query.
    *
    * Cross-engine exactness (the q128 discipline, pushed further — BM25's
    * fraction clears to ONE integer rational): with k1 = 6/5 and b = 3/4,
    *
    *   idf_q·tf·(k1+1) / (tf + k1·(1−b+b·dl/avgdl))
    *     = idf_q·tf·44·T / (20·tf·T + 6·T + 18·dl·N)      [avgdl = T/N]
    *
    * where idf_q = (10⁶·N) div df (the q128 rational idf — no float log),
    * T = total token instances, N = docs, dl = doc length. Numerator in
    * DECIMAL(38,0)/HUGEINT, ONE integer division per (term, doc) → BIGINT
    * micro-score, and the per-doc SUM is an exact BIGINT sum — no
    * order-dependent float accumulation anywhere, so ranks (and the
    * driver hash) agree bit-for-bit across engines.
    *
    * Overflow bound (the q125 discipline): the numerator is ≤
    * 10⁶·N·tf·44·T ≈ 4.4·10⁷·N·tf·T — inside 10³⁸ up to N·tf·T ≈ 2·10³⁰
    * (e.g. 10⁹ docs × tf 10³ × 10¹² tokens, far past 100 TB). The BIGINT
    * micro-score itself is bounded by 10⁶·N·44/20 per term (df ≥ 1 ⇒
    * tf·T cancels against the denominator's 20·tf·T), ≈ 2.2·10⁶·N — safe
    * to N ≈ 10¹¹ docs; past that, quantize idf in KILO units.
    *
    * Scale: tf/df/dl all ride the shared [[tfIndex]]; the probe join is
    * term-keyed and posting-list-bounded; the final per-query top-k runs
    * through the salted two-phase [[TopK.perKeyTopK]] because q_id is a
    * low-cardinality key (a query batch), exactly the q39 posture.
    */
  /** The default-parameter BM25 and cosine RANK LISTS as per-(session,
    * corpus) shared artifacts — the same built-once/served-many posture
    * as [[tfIndex]], at trivially small state (≤ nq·k rows each): q130
    * builds the lexical list, q131's fusion and q134's agreement report
    * serve off it instead of re-running the posting join and corpus scan.
    */
  private val bm25LegCache = graft.SessionCache.frames("bm25Leg", upstream = Seq(tfIndexCache, bm25StatsCache))
  private val vecLegCache = graft.SessionCache.frames("vecLeg")
  private val bm25StatsCache = new graft.SessionCache[(org.apache.spark.sql.DataFrame,
    org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
    "bm25Stats", upstream = Seq(tfIndexCache))({ case (a, b, c, d) =>
      Seq(a, b, c, d).foreach(graft.SessionCache.unpersist) })

  /** Session-cached corpus statistics over the shared tf index — the
    * `(df, dl, tot, n)` frames every BM25-family scorer folds into its
    * rational: document frequencies (vocabulary-sized), doc lengths
    * (corpus-row-sized — both tiny next to the tf index itself), and the
    * two 1-row scalars. Built once per (session, corpus) so q130's cold
    * leg and q163's second scoring round stop re-shuffling the tf index
    * for the same aggregates. The store-served path
    * ([[graft.streaming.IndexMaintenance.bm25FromStore]]) keeps its own
    * statistics in the tf store's serving snapshot
    * ([[graft.streaming.IndexMaintenance.tfSnapshot]]), rebuilt whenever
    * the durable store commits an append, purge or compaction.
    */
  private[graft] def bm25Stats(s: org.apache.spark.sql.SparkSession, dir: String):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
       org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame) =
    bm25StatsCache.getOrElseUpdate(s, dir) {
      val ser = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER
      val tf = tfIndex(s, dir)
      (tf.groupBy(col("term")).agg(count(lit(1)).as("df")).persist(ser),
       tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast(LongType).as("dl")).persist(ser),
       tf.agg(sum(col("tf")).cast(LongType).as("t")).persist(ser),
       Tables.load(s, dir, "documents")
         .agg(count(lit(1)).cast(LongType).as("n")).persist(ser))
    }

  private[graft] def bm25TopK(s: org.apache.spark.sql.SparkSession, dir: String,
      nq: Long = Bm25NumQueries, qt: Int = Bm25QTerms,
      k: Int = Bm25K): org.apache.spark.sql.DataFrame = {
    def build = {
      val (dfF, dl, tot, nT) = bm25Stats(s, dir)
      bm25TopKOverTf(tfIndex(s, dir), nT, nq, qt, k,
        statsOpt = Some((dfF, dl, tot)))
    }
    if (nq == Bm25NumQueries && qt == Bm25QTerms && k == Bm25K)
      bm25LegCache.getOrElseUpdate(s, dir)(
        build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))
    else build
  }

  /** The vector leg at the retrieval family's parameters (q131/q134):
    * [[Similarity.cosineTopK]] over the same query ids, cached like the
    * lexical leg.
    */
  private def vecLeg(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    vecLegCache.getOrElseUpdate(s, dir) {
      val e = Tables.load(s, dir, "embeddings")
      Similarity.cosineTopK(e, e.filter(col("vec_id") < Bm25NumQueries),
          Bm25K, nQueries = Bm25NumQueries)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** [[bm25TopK]]'s scoring body over ANY `(doc_id, term, tf)` frame plus
    * a 1-row doc-count frame (column `n`) — the seam that lets the
    * streaming tf-store maintainer ([[graft.streaming.IndexMaintenance]])
    * serve the identical BM25 off its durable store: same plan, same
    * integer arithmetic, different tf provenance.
    */
  private[graft] def bm25TopKOverTf(tf: org.apache.spark.sql.DataFrame,
      nT: org.apache.spark.sql.DataFrame, nq: Long, qt: Int,
      k: Int,
      statsOpt: Option[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
        org.apache.spark.sql.DataFrame)] = None): org.apache.spark.sql.DataFrame = {
    // (df, dl, tot) derive from `tf` by default; the fixture path passes
    // the session-cached frames ([[bm25Stats]]) and the store-served path
    // its snapshot's, so they compute once
    val (dfF, dl, tot) = statsOpt.getOrElse(tfStats(tf))
    bm25OverBags(tf, nT, rarestBags(tf.filter(col("doc_id") < nq), dfF, qt),
      dl, tot, k, "bm25_micro")
  }

  /** (df, dl, tot) aggregates of ANY `(doc_id, term, tf)` frame — the
    * default stats of [[bm25TopKOverTf]] (the fixture path uses the
    * session-cached [[bm25Stats]], the store-served path its
    * [[graft.streaming.IndexMaintenance.tfSnapshot]]).
    */
  private[graft] def tfStats(tf: org.apache.spark.sql.DataFrame):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
       org.apache.spark.sql.DataFrame) = (
    tf.groupBy(col("term")).agg(count(lit(1)).as("df")),
    tf.groupBy(col("doc_id")).agg(sum(col("tf")).cast(LongType).as("dl")),
    tf.agg(sum(col("tf")).cast(LongType).as("t")))

  /** The rarest-`qt` query bag of every doc in a (pre-filtered) tf slice:
    * `(q_id, term, mw = 1, df)` — q130's query-term pruning (df ASC, term
    * ASC, deterministic) as a reusable frame. This is ALSO the scale
    * bound: candidate work downstream is Σ_{t∈bag} df(t) per query, a
    * capped number of posting lists, never the corpus. The window
    * partitions by query doc, so it is doc-length-bounded over a bounded
    * query batch.
    */
  private[graft] def rarestBags(qtf: org.apache.spark.sql.DataFrame,
      dfF: org.apache.spark.sql.DataFrame, qt: Int): org.apache.spark.sql.DataFrame = {
    val wq = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("term").asc)
    qtf.join(dfF, "term")
      .withColumn("qrk", row_number().over(wq))
      .filter(col("qrk") <= qt)
      .select(col("doc_id").as("q_id"), col("term"), lit(1L).as("mw"), col("df"))
  }

  /** The cleared-rational BM25 micro-score (k1 = 6/5, b = 3/4) — ONE
    * integer division per (term, doc), exact across engines; see the
    * [[bm25TopK]] scaladoc for the derivation and overflow bound.
    */
  private val Bm25MicroExpr: String =
    "CAST((CAST((1000000 * n) div df AS DECIMAL(38,0)) * tf * 44 * t) div " +
      "((CAST(20 AS DECIMAL(38,0)) * tf * t) + (CAST(6 AS DECIMAL(38,0)) * t)" +
      " + (CAST(18 AS DECIMAL(38,0)) * dl * n)) AS BIGINT)"

  /** BM25 scoring over an EXPLICIT weighted query bag `(q_id, term, mw,
    * df)` — the batch multi-query seam under [[bm25TopKOverTf]] (mw = 1)
    * and q163's RM3 stage 2 (mw = 2 original / 1 expansion), and the
    * reference the `/search` scorer ([[bm25OverBag]], one bag held on
    * the driver) is checked against. Identical rational-cleared integer
    * arithmetic and salted top-k as q130; candidates are always the union
    * of the bag terms' posting lists — the inverted-index cost bound at
    * any corpus size.
    */
  private[graft] def bm25OverBags(tf: org.apache.spark.sql.DataFrame,
      nT: org.apache.spark.sql.DataFrame, bags: org.apache.spark.sql.DataFrame,
      dl: org.apache.spark.sql.DataFrame, tot: org.apache.spark.sql.DataFrame,
      k: Int, scoreName: String): org.apache.spark.sql.DataFrame = {
    val scored = broadcast(bags)
      // guide §3.1: the bag frame is query-batch-bounded (nq·(qt+prf)
      // rows) at ANY corpus size — broadcast it so the posting probe
      // never shuffles the tf side by term
      .join(tf, "term")
      .filter(col("doc_id") =!= col("q_id"))
      .join(dl, "doc_id")
      .crossJoin(broadcast(nT)).crossJoin(broadcast(tot))
      .withColumn("s_micro", expr(Bm25MicroExpr))
      .groupBy(col("q_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_terms"),
        sum(col("s_micro") * col("mw")).cast(LongType).as(scoreName))
    TopK.perKeyTopK(scored, keys = Seq(col("q_id")),
      order = Seq(col(scoreName).desc, col("doc_id").asc), k = k,
      saltFrom = col("doc_id"))
      .select(col("q_id"), col("rk"), col("doc_id"), col("n_terms"), col(scoreName))
      .orderBy(col("q_id"), col("rk"))
  }

  /** One query-bag term held on the driver, with its multiplier `mw`. */
  private[graft] final case class BagTerm(term: String, mw: Long)

  /** [[bm25OverBags]] for ONE bag held on the driver — the `/search`
    * serving scorer. `postings` are `(doc_id, term, tf, df, dl)` rows;
    * N (`n`) and the tf total (`tot`) are literals, and each term's `mw`
    * comes from a map literal, so the plan joins nothing and broadcasts
    * nothing: the postings are filtered to the bag's terms (the self-pair
    * guard drops `qId`), micro-scored with the same cleared-rational
    * arithmetic, summed per doc, and cut by
    * `ORDER BY score DESC, doc_id ASC LIMIT k`. A bag term with no
    * postings matches no row and so contributes nothing, as in
    * `bm25OverBags`, whose bag joins `df`. Ranks 1..k follow that order,
    * which is [[TopK.perKeyTopK]]'s rank under this total order, so the
    * rows equal `bm25OverBags` over the same bag. Returns a LOCAL frame
    * `(q_id, rk, doc_id, n_terms, <scoreName>)`; an empty bag returns it
    * empty without running a job.
    */
  private[graft] def bm25OverBag(postings: org.apache.spark.sql.DataFrame,
      n: Long, tot: Long, qId: Long, bag: Seq[BagTerm], k: Int,
      scoreName: String): org.apache.spark.sql.DataFrame = {
    val top =
      if (bag.isEmpty) Array.empty[org.apache.spark.sql.Row]
      else {
        val mw = typedLit(bag.map(b => b.term -> b.mw).toMap)
        postings
          .filter(col("term").isInCollection(bag.map(_.term)) && col("doc_id") =!= qId)
          .select(col("doc_id"), col("tf"), col("dl"), col("df"),
            element_at(mw, col("term")).as("mw"), lit(n).as("n"), lit(tot).as("t"))
          .withColumn("s_micro", expr(Bm25MicroExpr))
          .groupBy(col("doc_id"))
          .agg(count(lit(1)).as("n_terms"),
            sum(col("s_micro") * col("mw")).cast(LongType).as(scoreName))
          .orderBy(col(scoreName).desc, col("doc_id").asc)
          .limit(k)
          .collect()
      }
    val rows = top.toSeq.zipWithIndex.map { case (r, i) =>
      org.apache.spark.sql.Row(qId, i + 1, r.getLong(0), r.getLong(1), r.get(2))
    }
    val schema = StructType(Seq(StructField("q_id", LongType, nullable = false),
      StructField("rk", IntegerType, nullable = false), StructField("doc_id", LongType),
      StructField("n_terms", LongType, nullable = false), StructField(scoreName, LongType)))
    import scala.jdk.CollectionConverters._
    postings.sparkSession.createDataFrame(rows.asJava, schema)
  }

  /** RM3 pseudo-relevance-feedback expansion of a weighted bag — q163's
    * stages 1½–2 input as a library transform: `feedback` is the
    * caller's stage-1 top docs per query; expansion votes are
    * tf·idf_micro over the feedback docs (raw-tf voting would elect
    * stopwords, whose corpus-wide posting lists both destroy the
    * posting-list cost bound and carry no signal), original-bag terms
    * excluded, top-`prfTerms` survive (weight DESC, term ASC). Returns
    * the EXPANDED bag — original terms mw = 2, expansion terms mw = 1
    * (λ = 2/3) — ready for [[bm25OverBags]]; `bags` need only
    * `(q_id, term)`, each term's `df` is joined here, and a bag term
    * absent from `dfF` drops. Every frame here is
    * query-batch-sized. `n` is BM25's N as a column: a scalar subquery
    * over the 1-row stats frame in batch, a literal when serving.
    */
  private[graft] def rm3ExpandBag(tf: org.apache.spark.sql.DataFrame,
      n: org.apache.spark.sql.Column, dfF: org.apache.spark.sql.DataFrame,
      bags: org.apache.spark.sql.DataFrame,
      feedback: org.apache.spark.sql.DataFrame,
      prfTerms: Int): org.apache.spark.sql.DataFrame = {
    // r18 (guide §3.1): the bags frame is query-batch-sized (nq · qt rows)
    // but window-derived, so the planner has no size estimate and fell
    // back to a SortMergeJoin LeftAnti — an Exchange + Sort of the whole
    // feedback×tf frame on (q_id, term). Broadcast the bag keys instead.
    // guide §3.1: feedback is nq·prfDocs rows (window-derived, so the
    // planner can't size it) — broadcast it so the cached tf index is
    // probed in place instead of shuffled by doc_id every run
    val ex0 = broadcast(feedback).join(tf, "doc_id")
      .join(broadcast(bags.select(col("q_id"), col("term"))),
        Seq("q_id", "term"), "left_anti")
      .join(dfF, "term")
      .withColumn("n", n)
      .withColumn("v", col("tf").cast(LongType) * expr("(1000000 * n) div df"))
      .groupBy(col("q_id"), col("term"))
      .agg(sum(col("v")).cast(LongType).as("w"))
    val wex = Window.partitionBy(col("q_id")).orderBy(col("w").desc, col("term").asc)
    val exTerms = ex0.withColumn("erk", row_number().over(wex))
      .filter(col("erk") <= prfTerms)
      .select(col("q_id"), col("term"))
    bags.select(col("q_id"), col("term"), lit(2L).as("mw"))
      .unionByName(exTerms.withColumn("mw", lit(1L)))
      .join(dfF, "term")
      .select(col("q_id"), col("term"), col("mw"), col("df"))
  }

  /** Shared DuckDB CTE block for the VECTOR leg (q131/q134): cosine ranks
    * `vr(q_id, vec_id, rk)` over the same query ids as the lexical leg —
    * one definition so the two oracles can never drift apart.
    */
  private def vecLegOracleCtes(nq: Long): String =
    s"""q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings
      |      WHERE vec_id < $nq),
      |sv AS (SELECT q.q_id, e.vec_id,
      |         ${Similarity.dotSql("q.q_emb", "e.embedding")} AS sim_dec
      |       FROM embeddings e, q WHERE e.vec_id <> q.q_id),
      |vr AS (SELECT q_id, vec_id,
      |         row_number() OVER (PARTITION BY q_id
      |           ORDER BY sim_dec DESC, vec_id ASC) AS rk
      |       FROM sv)""".stripMargin

  /** q137 discount unit: lcm(2..11) = 27720, so the harmonic DCG discount
    * `unit / (rank+1)` is an EXACT integer for every rank ≤ [[Bm25K]] —
    * no float log2, no truncation: gains, DCG and IDCG are exact BIGINT
    * sums on both engines, with one integer division for the final
    * ndcg_micro (the q134 micro-unit discipline).
    */
  private val NdcgUnit = 27720L

  /** q131's fused RRF list as a library frame (q_id, rk, item, rk_lex,
    * rk_vec, rrf_micro) — q137's ranking-quality report reconciles
    * against exactly this frame, so the two operators cannot drift.
    * Everything here is query-batch-sized on top of the two cached legs.
    */
  private[graft] def fusedRrf(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    val lex = bm25TopK(s, dir)
      .select(col("q_id"), col("doc_id").as("item"), col("rk").cast(LongType).as("rk_lex"))
    val vec = vecLeg(s, dir)
      .select(col("q_id"), col("neighbor_id").as("item"), col("rk").cast(LongType).as("rk_vec"))
    rrfFuse(lex, vec)
  }

  /** RRF fusion of two ARBITRARY rank lists — q131's integer fusion
    * (10⁶ div (60 + rk) per leg, a missing leg contributes 0) factored
    * over explicit `(q_id, item, rk_lex)` / `(q_id, item, rk_vec)`
    * frames, so the `/search?fuse=rrf` serving path fuses its
    * store-served lexical leg with the store-served vector leg through
    * the IDENTICAL arithmetic as the batch operator. Everything is
    * rank-list-sized (≤ 2k rows per query).
    */
  private[graft] def rrfFuse(lex: org.apache.spark.sql.DataFrame,
      vec: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val w = Window.partitionBy(col("q_id")).orderBy(col("rrf_micro").desc, col("item").asc)
    lex.join(vec, Seq("q_id", "item"), "full_outer")
      .withColumn("rrf_micro",
        coalesce(expr(s"1000000 div ($RrfK + rk_lex)"), lit(0L)) +
          coalesce(expr(s"1000000 div ($RrfK + rk_vec)"), lit(0L)))
      .withColumn("rk", row_number().over(w).cast(LongType))
      .select(col("q_id"), col("rk"), col("item"), col("rk_lex"), col("rk_vec"),
        col("rrf_micro"))
  }

  /** Shared DuckDB CTEs for the fused RRF list (q131's `f` plus its rank
    * window as `fr`) — one definition serving q131 and q137.
    */
  private def fusedOracleCtes(nq: Long, qt: Int, k: Int): String =
    s"""${bm25OracleCtes(nq, qt)},
      |${vecLegOracleCtes(nq)},
      |lex AS (SELECT q_id, doc_id AS item, rk AS rk_lex FROM bmr WHERE rk <= $k),
      |vec AS (SELECT q_id, vec_id AS item, rk AS rk_vec FROM vr WHERE rk <= $k),
      |f AS (SELECT coalesce(lex.q_id, vec.q_id) AS q_id,
      |        coalesce(lex.item, vec.item) AS item, rk_lex, rk_vec,
      |        coalesce(1000000 // ($RrfK + rk_lex), 0)
      |          + coalesce(1000000 // ($RrfK + rk_vec), 0) AS rrf_micro
      |      FROM lex FULL OUTER JOIN vec
      |        ON lex.q_id = vec.q_id AND lex.item = vec.item),
      |fr AS (SELECT q_id, item, rk_lex, rk_vec, rrf_micro,
      |         row_number() OVER (PARTITION BY q_id
      |           ORDER BY rrf_micro DESC, item ASC) AS rk
      |       FROM f)""".stripMargin

  /** Shared DuckDB CTE block for BM25 (q130 and q131's lexical leg). */
  private def bm25OracleCtes(nq: Long, qt: Int): String =
    s"""tf AS (
      |  SELECT doc_id, t AS term, count(*) AS tf
      |  FROM (SELECT doc_id,
      |          unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS t
      |        FROM documents)
      |  GROUP BY doc_id, t),
      |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
      |nt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
      |tot AS (SELECT CAST(sum(tf) AS BIGINT) AS t FROM tf),
      |dl AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
      |qt AS (SELECT q_id, term, df FROM (
      |         SELECT tf.doc_id AS q_id, tf.term, df.df,
      |           row_number() OVER (PARTITION BY tf.doc_id
      |             ORDER BY df.df ASC, tf.term ASC) AS qrk
      |         FROM tf JOIN df USING (term) WHERE tf.doc_id < $nq)
      |       WHERE qrk <= $qt),
      |sc AS (SELECT qt.q_id, tf.doc_id, count(*) AS n_terms,
      |         CAST(sum(
      |           (CAST((1000000 * nt.n) // qt.df AS HUGEINT) * tf.tf * 44 * tot.t)
      |           // ((CAST(20 AS HUGEINT) * tf.tf * tot.t) + (CAST(6 AS HUGEINT) * tot.t)
      |              + (CAST(18 AS HUGEINT) * dl.dl * nt.n))
      |         ) AS BIGINT) AS bm25_micro
      |       FROM qt JOIN tf ON tf.term = qt.term AND tf.doc_id <> qt.q_id
      |       JOIN dl ON dl.doc_id = tf.doc_id, nt, tot
      |       GROUP BY qt.q_id, tf.doc_id),
      |bmr AS (SELECT q_id, doc_id, n_terms, bm25_micro,
      |          row_number() OVER (PARTITION BY q_id
      |            ORDER BY bm25_micro DESC, doc_id ASC) AS rk
      |        FROM sc)""".stripMargin

  /** q160 late-interaction geometry: per-doc multi-vector budget (the
    * ColBERT-style token-count cap), token-embedding width, and the
    * first-stage candidate depth the MaxSim pass reranks. Token vectors
    * are DETERMINISTIC hash embeddings — dim j of term t is
    * `hex60("mv|t|j") % 2001 − 1000` — because no encoder ships in this
    * environment; the Spark-side plumbing (multi-vector scoring shape,
    * first-stage candidates, integer-exact MaxSim) is the real artifact
    * and DuckDB re-derives the identical vectors from the same md5. The
    * width (64) makes a token's self-similarity ‖v‖² ≈ 21·10⁶ dominate
    * the max of T cross-token dots (σ ≈ 2.7·10⁶) — at 8 dims the max
    * order statistic drowns the shared-term signal (measured: overlap
    * with the lexical side collapses to chance).
    */
  private[graft] val MaxSimTokens = 16
  private val MaxSimDim = 64
  private[graft] val MaxSimCand = 200

  /** The deterministic token-embedding column for `term` (ArrayType[Long],
    * [[MaxSimDim]] wide, each dim in [-1000, 1000]).
    */
  private def maxSimTokenVec(term: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    transform(sequence(lit(0), lit(MaxSimDim - 1)),
      i => graft.functions.TextFunctions.hex60(
        concat(lit("mv|"), term, lit("|"), i.cast(StringType))) % 2001 - 1000)

  /** q160 — ColBERT-style late-interaction rerank: score(q, d) =
    * Σ_{t∈q.tokens} max_{u∈d.tokens} ⟨v(t), v(u)⟩ over each doc's
    * top-[[MaxSimTokens]] terms (tf DESC, term ASC — the token-budget cap
    * every multi-vector index applies), reranking the FIRST-STAGE
    * lexical candidates (BM25's top-[[MaxSimCand]], the existing
    * posting-list leg) — the two-stage serving pattern multi-vector RAG
    * stacks deploy, never all-pairs. Cost: nq × [[MaxSimCand]] pairs ×
    * T_q × T_d dim-[[MaxSimDim]] integer dots, query side broadcast —
    * first-stage-bounded at any corpus size. Integer-exact end to end
    * (`vec_dot_long` over the hash embeddings) so DuckDB re-derives
    * every score bit for bit.
    */
  private[graft] def maxSimTopK(s: org.apache.spark.sql.SparkSession, dir: String,
      nq: Long = Bm25NumQueries, k: Int = Bm25K,
      candOpt: Option[org.apache.spark.sql.DataFrame] = None,
      tfOpt: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftExtensions.register(s)
    // tfOpt swaps the tf provenance for the MAINTAINED store
    // ([[graft.streaming.IndexMaintenance.maxSimFromStore]]): every
    // downstream frame (df, token budgets, candidates, token vectors)
    // derives from it, so the store-served answer follows the store's
    // appends and purges — spec-pinned equal to batch on the same corpus
    val tf = tfOpt.getOrElse(tfIndex(s, dir))
    // token budget by RARITY (df ASC — the idf direction, same rule as
    // the first stage's query bags): a tf-based budget keeps stopwords,
    // whose shared mass ties every candidate (measured: overlap with the
    // lexical side collapsed to within-candidate chance) — the rare
    // tokens are the retrieval evidence on both sides
    val dfAll = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val wTop = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("term").asc)
    val ranked = graft.Materialize.ephemeral(
      tf.join(dfAll, "term")
        .withColumn("trk", row_number().over(wTop))
        .filter(col("trk") <= MaxSimTokens)
        .select(col("doc_id"), col("term")))
    // synthesize each token vector ONCE PER DISTINCT TERM, not per
    // (doc, token) row — the 64 md5s per vector are the dominant cost
    // when repeated across every doc's budget (measured 11 s vs ~2 s at
    // sf0.1), and a term-keyed join is exactly how a real embedding
    // table would attach anyway (at 100 TB the vocabulary is join-sized,
    // not broadcast-sized — AQE picks the strategy)
    val tv = ranked.select(col("term")).distinct()
      .select(col("term"), maxSimTokenVec(col("term")).as("tv"))
    val dtok = ranked.join(tv, "term")
      .select(col("doc_id"), col("tv").as("dv"))
    val qtok = ranked.filter(col("doc_id") < nq).join(tv, "term")
      .select(col("doc_id").as("q_id"), col("term").as("qterm"),
        col("tv").as("qv"))
    // first stage — ColBERT's candidate generation translated to the
    // hash-token space: docs sharing the query's budgeted tokens, ranked
    // by shared-token count (the posting-list leg over the SAME evidence
    // the scorer reads — a tf·idf stage ranks by different evidence and
    // measured 7/80 recall of the exact late-interaction top-k; this
    // stage measures 69/80 at depth 50 and 80/80 at 200). Per-query cost
    // is Σ posting lengths of its [[MaxSimTokens]] rarest tokens.
    // candOpt overrides the candidate frame — the EXACT referent the
    // recall-floor spec prices the stage-1 loss against (all pairs,
    // measurement-only; the product path is always posting-list-bounded).
    val cand = candOpt.getOrElse {
      val nsh = ranked.filter(col("doc_id") < nq)
        .select(col("doc_id").as("q_id"), col("term"))
        .join(ranked.select(col("doc_id"), col("term")), "term")
        .filter(col("doc_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("doc_id"))
        .agg(count(lit(1)).as("n_shared"))
      TopK.perKeyTopK(nsh, keys = Seq(col("q_id")),
          order = Seq(col("n_shared").desc, col("doc_id").asc), k = MaxSimCand,
          saltFrom = col("doc_id"))
        .select(col("q_id"), col("doc_id"))
    }
    val best = cand
      .join(broadcast(qtok), "q_id") // nq × T_q rows — a bounded batch
      .join(dtok, "doc_id")
      .withColumn("dot", call_function("vec_dot_long", col("qv"), col("dv")))
      .groupBy(col("q_id"), col("doc_id"), col("qterm"))
      .agg(max(col("dot")).as("best"))
    val ms = best.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("best")).cast(LongType).as("maxsim"))
    TopK.perKeyTopK(ms, keys = Seq(col("q_id")),
        order = Seq(col("maxsim").desc, col("doc_id").asc), k = k,
        saltFrom = col("doc_id"))
      .select(col("q_id"), col("rk"), col("doc_id"), col("maxsim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** q160's budgeted-token MaxSim as a SERVING rerank over EXPLICIT
    * candidates — the `/search?rerank=maxsim` engine: query tokens are
    * the bag's terms that `dfF` holds (already pruned to ≤ qt by the
    * caller; a term the corpus has never seen takes no token), doc tokens
    * are each candidate doc's rarest-[[MaxSimTokens]] budget from the
    * SAME tf provenance (window per doc over the candidate docs only —
    * identical budgets to the corpus-wide ranking, since the rank is
    * per-doc), token vectors are the deterministic hash embeddings
    * synthesized once per distinct term. Cost is |cand| × T_q × T_d
    * integer dots — candidate-set-sized, never the corpus. Returns
    * `(q_id, rk, doc_id, score)`.
    */
  private[graft] def maxSimRerank(tf: org.apache.spark.sql.DataFrame,
      dfF: org.apache.spark.sql.DataFrame,
      qBags: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame, k: Int): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftExtensions.register(tf.sparkSession)
    val wTop = Window.partitionBy(col("doc_id")).orderBy(col("df").asc, col("term").asc)
    val dtokT = tf.join(cand.select(col("doc_id")).distinct(), "doc_id")
      .join(dfF, "term")
      .withColumn("trk", row_number().over(wTop))
      .filter(col("trk") <= MaxSimTokens)
      .select(col("doc_id"), col("term"))
    val tv = dtokT.select(col("term"))
      .union(qBags.select(col("term"))).distinct()
      .select(col("term"), maxSimTokenVec(col("term")).as("tv"))
    val dtok = dtokT.join(tv, "term").select(col("doc_id"), col("tv").as("dv"))
    // a query term absent from dfF has no postings: it takes no token
    val qtok = qBags.join(tv, "term").join(dfF, "term")
      .select(col("q_id"), col("term").as("qterm"), col("tv").as("qv"))
    val best = cand
      .join(broadcast(qtok), "q_id") // request-sized: one bag per query
      .join(dtok, "doc_id")
      .withColumn("dot", call_function("vec_dot_long", col("qv"), col("dv")))
      .groupBy(col("q_id"), col("doc_id"), col("qterm"))
      .agg(max(col("dot")).as("best"))
    val ms = best.groupBy(col("q_id"), col("doc_id"))
      .agg(sum(col("best")).cast(LongType).as("score"))
    TopK.perKeyTopK(ms, keys = Seq(col("q_id")),
        order = Seq(col("score").desc, col("doc_id").asc), k = k,
        saltFrom = col("doc_id"))
      .select(col("q_id"), col("rk"), col("doc_id"), col("score"))
      .orderBy(col("q_id"), col("rk"))
  }

  val specs: Seq[QuerySpec] = Seq(

    // ----- BM25 inverted-index retrieval (lexical "more-like-this") -------
    // See [[bm25TopK]]: rational-cleared BM25 (k1=1.2, b=0.75), integer
    // micro-scores, posting-list-bounded candidates, salted per-query
    // top-k.
    QuerySpec("q130_bm25_topk")(
      s"""WITH ${bm25OracleCtes(Bm25NumQueries, Bm25QTerms)}
        |SELECT q_id, rk, doc_id, n_terms, bm25_micro FROM bmr WHERE rk <= $Bm25K
        |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      bm25TopK(s, dir)
    },

    // ----- pseudo-relevance-feedback query expansion (RM3-style) ----------
    // The second-round retrieval a production lexical stack runs when
    // recall matters: stage 1 is q130's BM25 top-k (the CACHED leg —
    // zero re-scoring); the top-PrfDocs feedback docs vote expansion
    // terms, weighted tf·idf_micro (Σ_fb tf · (10⁶·N div df) — raw-tf
    // voting would elect stopwords, whose corpus-wide posting lists both
    // destroy the posting-list cost bound at 100 TB and carry no signal;
    // the idf factor keeps every elected term's df bounded). Terms
    // already in the query bag are excluded (anti join), the top-PrfTerms
    // survive (weight DESC, term ASC). Stage 2 re-scores BM25 over the
    // EXPANDED bag with rational RM3 interpolation — original terms
    // weight 2, expansion terms weight 1 (λ = 2/3) — as a per-term
    // integer multiplier on the same cleared-rational micro-score, so the
    // whole operator stays integer-exact end to end. Scale: the feedback
    // and expansion frames are query-batch-sized; stage-2 candidate work
    // is Σ posting lengths over ≤ Bm25QTerms + PrfTerms terms per query —
    // the q130 bound, slightly widened, never the corpus.
    QuerySpec("q163_prf_expansion")(
      s"""WITH ${bm25OracleCtes(Bm25NumQueries, Bm25QTerms)},
        |fb AS (SELECT q_id, doc_id FROM bmr WHERE rk <= $PrfDocs),
        |ex0 AS (SELECT fb.q_id, tf.term,
        |          CAST(sum(CAST(tf.tf AS BIGINT) * ((1000000 * nt.n) // df.df)) AS BIGINT) AS w
        |        FROM fb JOIN tf ON tf.doc_id = fb.doc_id
        |        JOIN df USING (term), nt
        |        WHERE NOT EXISTS (SELECT 1 FROM qt
        |                          WHERE qt.q_id = fb.q_id AND qt.term = tf.term)
        |        GROUP BY fb.q_id, tf.term),
        |ex AS (SELECT q_id, term FROM (
        |         SELECT q_id, term,
        |           row_number() OVER (PARTITION BY q_id ORDER BY w DESC, term ASC) AS erk
        |         FROM ex0) WHERE erk <= $PrfTerms),
        |bag AS (SELECT q_id, term, 2 AS mw FROM qt
        |        UNION ALL SELECT q_id, term, 1 AS mw FROM ex),
        |bagdf AS (SELECT bag.q_id, bag.term, bag.mw, df.df FROM bag JOIN df USING (term)),
        |sc2 AS (SELECT b.q_id, tf.doc_id, count(*) AS n_terms,
        |         CAST(sum(CAST(b.mw AS HUGEINT) * (
        |           (CAST((1000000 * nt.n) // b.df AS HUGEINT) * tf.tf * 44 * tot.t)
        |           // ((CAST(20 AS HUGEINT) * tf.tf * tot.t) + (CAST(6 AS HUGEINT) * tot.t)
        |              + (CAST(18 AS HUGEINT) * dl.dl * nt.n)))
        |         ) AS BIGINT) AS prf_micro
        |       FROM bagdf b JOIN tf ON tf.term = b.term AND tf.doc_id <> b.q_id
        |       JOIN dl ON dl.doc_id = tf.doc_id, nt, tot
        |       GROUP BY b.q_id, tf.doc_id),
        |pr AS (SELECT q_id, doc_id, n_terms, prf_micro,
        |         row_number() OVER (PARTITION BY q_id
        |           ORDER BY prf_micro DESC, doc_id ASC) AS rk
        |       FROM sc2)
        |SELECT q_id, rk, doc_id, n_terms, prf_micro FROM pr WHERE rk <= $Bm25K
        |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      val tf = tfIndex(s, dir)
      val (dfF, dl, tot, nT) = bm25Stats(s, dir)
      // the q130 query bags, re-derived with the same rarest-qt rule the
      // cached leg used (window over the bounded query batch)
      val qbags = rarestBags(tf.filter(col("doc_id") < Bm25NumQueries), dfF, Bm25QTerms)
      // stage 1: the CACHED q130 leg; feedback docs = its top-PrfDocs
      val fb = bm25TopK(s, dir).filter(col("rk") <= PrfDocs)
        .select(col("q_id"), col("doc_id"))
      // expansion vote + RM3 interpolation (orig mw 2, expansion mw 1),
      // then the shared bag scorer — the same seam `/search?expand=rm3`
      // serves off the maintained tf store
      val expanded = rm3ExpandBag(tf, nT.select(col("n")).scalar(), dfF, qbags, fb, PrfTerms)
      bm25OverBags(tf, nT, expanded, dl, tot, Bm25K, "prf_micro")
    },

    // ----- hybrid retrieval: reciprocal-rank fusion of BM25 + cosine ------
    // The fusion step a production retrieval stack runs over its lexical
    // and vector legs (RRF, k=60): score = Σ_legs 1/(60+rank), here in
    // integer micro-units — 10⁶ div (60+rk) per leg, a missing leg
    // contributes 0 (its rank column stays NULL in the report) — so the
    // ENTIRE operator is integer-exact: no IEEE op at all, ranks and the
    // fused order agree across engines by construction. The legs are
    // [[bm25TopK]] (posting-list-bounded) and [[Similarity.cosineTopK]]
    // (one corpus scan, broadcast query set, salted top-k) over the SAME
    // query ids — doc_id and vec_id share the fixture id domain. The
    // fusion join and final window touch ≤ 2k rows per query (the two
    // rank lists), so everything after the legs is query-batch-sized.
    QuerySpec("q131_hybrid_rrf")(
      s"""WITH ${fusedOracleCtes(Bm25NumQueries, Bm25QTerms, Bm25K)}
        |SELECT q_id, rk, item, rk_lex, rk_vec, rrf_micro
        |FROM fr ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      fusedRrf(s, dir).orderBy(col("q_id"), col("rk"))
    },

    // ----- end-to-end ranking quality of the fused list (nDCG@k / MRR) ----
    // Completes the retrieval-quality ladder: q80/q101 measure index
    // loss, q124 quantization loss, q134 modality divergence — q137
    // grades the FUSED list (q131) end to end against the exact cosine
    // side as graded relevance (grade = K+1 − exact rank, 10…1). All
    // integer-rational: harmonic DCG discounts as exact 27720/(rank+1)
    // units (27720 = lcm(2..11), so every discount divides evenly — no
    // float log2 anywhere), exact BIGINT gain sums, and single integer
    // divisions for mrr_micro / ndcg_micro. Anchored on the query set
    // like q134 so a query with empty legs still reports. Everything is
    // query-batch-sized over the two cached legs.
    QuerySpec("q137_fused_ndcg")(
      s"""WITH ${fusedOracleCtes(Bm25NumQueries, Bm25QTerms, Bm25K)},
        |rel AS (SELECT q_id, vec_id AS item, ${Bm25K + 1} - rk AS rel
        |        FROM vr WHERE rk <= $Bm25K),
        |qs AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < $Bm25NumQueries),
        |dcg AS (SELECT fr.q_id,
        |          sum(CASE WHEN rel.rel IS NOT NULL THEN 1 ELSE 0 END) AS n_rel_hit,
        |          sum(coalesce(rel.rel, 0) * ($NdcgUnit // (fr.rk + 1))) AS dcg_raw
        |        FROM fr LEFT JOIN rel ON fr.q_id = rel.q_id AND fr.item = rel.item
        |        WHERE fr.rk <= $Bm25K GROUP BY fr.q_id),
        |mrr AS (SELECT fr.q_id, min(fr.rk) AS first_rel
        |        FROM fr JOIN rel ON fr.q_id = rel.q_id AND fr.item = rel.item
        |        GROUP BY fr.q_id),
        |idcg AS (SELECT q_id, sum((${Bm25K + 1} - rk) * ($NdcgUnit // (rk + 1))) AS idcg_raw
        |         FROM vr WHERE rk <= $Bm25K GROUP BY q_id)
        |SELECT qs.q_id,
        |  CAST(coalesce(d.n_rel_hit, 0) AS BIGINT) AS n_rel_hit,
        |  CAST(coalesce(1000000 // m.first_rel, 0) AS BIGINT) AS mrr_micro,
        |  CAST(coalesce(d.dcg_raw, 0) AS BIGINT) AS dcg_raw,
        |  CAST(coalesce(i.idcg_raw, 0) AS BIGINT) AS idcg_raw,
        |  CAST(coalesce((d.dcg_raw * 1000000) // nullif(i.idcg_raw, 0), 0) AS BIGINT) AS ndcg_micro
        |FROM qs LEFT JOIN dcg d USING (q_id) LEFT JOIN mrr m USING (q_id)
        |  LEFT JOIN idcg i USING (q_id)
        |ORDER BY qs.q_id""".stripMargin) { (s, dir) =>
      val fused = fusedRrf(s, dir)
      // graded relevance from the exact cosine leg: grade K+1−rk ∈ 10…1
      val rel = vecLeg(s, dir)
        .select(col("q_id"), col("neighbor_id").as("item"),
          (lit(Bm25K + 1) - col("rk")).cast(LongType).as("rel"))
      val qs = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < Bm25NumQueries).select(col("vec_id").as("q_id"))
      val dcg = fused.filter(col("rk") <= Bm25K)
        .join(rel, Seq("q_id", "item"), "left")
        .withColumn("rel", coalesce(col("rel"), lit(0L)))
        .withColumn("gain", col("rel") * expr(s"$NdcgUnit div (rk + 1)"))
        .groupBy(col("q_id"))
        .agg(sum(when(col("rel") > 0, 1L).otherwise(0L)).cast(LongType).as("n_rel_hit"),
          sum(col("gain")).cast(LongType).as("dcg_raw"))
      val firstRel = fused.join(rel, Seq("q_id", "item"))
        .groupBy(col("q_id")).agg(min(col("rk")).as("first_rel"))
      val idcg = vecLeg(s, dir)
        .select(col("q_id"), col("rk").cast(LongType).as("rk"))
        .withColumn("g", (lit(Bm25K + 1) - col("rk")) * expr(s"$NdcgUnit div (rk + 1)"))
        .groupBy(col("q_id")).agg(sum(col("g")).cast(LongType).as("idcg_raw"))
      // the three report frames are query-batch-sized (≤ nq rows each):
      // broadcast them so the final assembly never shuffles
      qs.join(broadcast(dcg), Seq("q_id"), "left")
        .join(broadcast(firstRel), Seq("q_id"), "left")
        .join(broadcast(idcg), Seq("q_id"), "left")
        .select(col("q_id"),
          coalesce(col("n_rel_hit"), lit(0L)).as("n_rel_hit"),
          coalesce(expr("1000000 div first_rel"), lit(0L)).as("mrr_micro"),
          coalesce(col("dcg_raw"), lit(0L)).as("dcg_raw"),
          coalesce(col("idcg_raw"), lit(0L)).as("idcg_raw"),
          coalesce(expr("(dcg_raw * 1000000) div nullif(idcg_raw, 0)"), lit(0L))
            .as("ndcg_micro"))
        .orderBy(col("q_id"))
    },

    // ----- retrieval-leg agreement (overlap@k diagnostic) -----------------
    // The "is hybrid worth running" report: per query, how much of the
    // lexical top-k and the vector top-k is the SAME items — overlap
    // Jaccard in integer micro-units (n_common·10⁶ div (n_lex + n_vec −
    // n_common)). LOW agreement = the modalities retrieve different
    // things and fusion (q131) adds real coverage; HIGH = one leg
    // suffices. Completes the retrieval-quality family: q80/q101 measure
    // index loss, q124 quantization loss, q134 modality divergence. The
    // aggregation is query-batch-sized on top of the two legs' own plans.
    QuerySpec("q134_leg_agreement")(
      s"""WITH ${bm25OracleCtes(Bm25NumQueries, Bm25QTerms)},
        |${vecLegOracleCtes(Bm25NumQueries)},
        |lex AS (SELECT q_id, doc_id AS item FROM bmr WHERE rk <= $Bm25K),
        |vec AS (SELECT q_id, vec_id AS item FROM vr WHERE rk <= $Bm25K),
        |qs AS (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < $Bm25NumQueries),
        |nl AS (SELECT q_id, count(*) AS n_lex FROM lex GROUP BY q_id),
        |nv AS (SELECT q_id, count(*) AS n_vec FROM vec GROUP BY q_id),
        |nc AS (SELECT lex.q_id, count(*) AS n_common
        |       FROM lex JOIN vec ON lex.q_id = vec.q_id AND lex.item = vec.item
        |       GROUP BY lex.q_id)
        |SELECT qs.q_id, coalesce(nl.n_lex, 0) AS n_lex,
        |  coalesce(nv.n_vec, 0) AS n_vec, coalesce(nc.n_common, 0) AS n_common,
        |  coalesce((coalesce(nc.n_common, 0) * 1000000)
        |    // nullif(coalesce(nl.n_lex, 0) + coalesce(nv.n_vec, 0)
        |             - coalesce(nc.n_common, 0), 0), 0) AS agree_micro
        |FROM qs LEFT JOIN nl USING (q_id) LEFT JOIN nv USING (q_id)
        |  LEFT JOIN nc USING (q_id)
        |ORDER BY qs.q_id""".stripMargin) { (s, dir) =>
      // anchored on the QUERY SET, not the legs: a query whose pruned term
      // bag matches nothing still reports (n_lex = 0) instead of silently
      // vanishing — the per-query coverage q131's full outer keeps
      val qs = Tables.load(s, dir, "embeddings")
        .filter(col("vec_id") < Bm25NumQueries).select(col("vec_id").as("q_id"))
      val lex = bm25TopK(s, dir).select(col("q_id"), col("doc_id").as("item"))
      val vec = vecLeg(s, dir)
        .select(col("q_id"), col("neighbor_id").as("item"))
      val nl = lex.groupBy(col("q_id")).agg(count(lit(1)).as("n_lex"))
      val nv = vec.groupBy(col("q_id")).agg(count(lit(1)).as("n_vec"))
      val nc = lex.join(vec, Seq("q_id", "item"))
        .groupBy(col("q_id")).agg(count(lit(1)).as("n_common"))
      qs.join(nl, Seq("q_id"), "left").join(nv, Seq("q_id"), "left")
        .join(nc, Seq("q_id"), "left")
        .withColumn("n_lex", coalesce(col("n_lex"), lit(0L)))
        .withColumn("n_vec", coalesce(col("n_vec"), lit(0L)))
        .withColumn("n_common", coalesce(col("n_common"), lit(0L)))
        .withColumn("agree_micro",
          coalesce(expr(
            "(n_common * 1000000) div nullif(n_lex + n_vec - n_common, 0)"),
            lit(0L)))
        .select(col("q_id"), col("n_lex"), col("n_vec"), col("n_common"),
          col("agree_micro"))
        .orderBy(col("q_id"))
    },

    // ----- tf-idf cosine near-dup pairs (lexical retrieval similarity) ----
    // See [[tfidfCosinePairs]]: df-capped candidate blocking, exact
    // integer-quantized weights, bit-equal IEEE finish on both engines.
    QuerySpec("q128_tfidf_cosine")(
      s"""WITH ${Dedup.shingleBaseCtes},
        |sdf AS (SELECT s, count(*) AS df FROM sh GROUP BY s),
        |cand AS (SELECT a.doc_id AS a_doc, b.doc_id AS b_doc
        |         FROM sh a JOIN sh b ON a.s = b.s AND a.doc_id < b.doc_id
        |         JOIN sdf ON sdf.s = a.s
        |         WHERE sdf.df <= $CosDfCap
        |         GROUP BY 1, 2 HAVING count(*) >= $CosMinShared),
        |tf AS (
        |  SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS t
        |        FROM documents)
        |  GROUP BY doc_id, t),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |nt AS (SELECT count(*) AS n FROM documents),
        |w AS (SELECT tf.doc_id, tf.term,
        |        tf.tf * ((1000000 * nt.n) // df.df) AS w
        |      FROM tf JOIN df USING (term), nt),
        |n2 AS (SELECT doc_id, sum(CAST(w AS HUGEINT) * w) AS n2
        |       FROM w GROUP BY doc_id),
        |num AS (SELECT c.a_doc, c.b_doc, count(*) AS n_shared,
        |          sum(CAST(wa.w AS HUGEINT) * wb.w) AS num
        |        FROM cand c
        |        JOIN w wa ON wa.doc_id = c.a_doc
        |        JOIN w wb ON wb.doc_id = c.b_doc AND wb.term = wa.term
        |        GROUP BY c.a_doc, c.b_doc),
        |r AS (SELECT n.a_doc, n.b_doc, n.n_shared,
        |        CAST(CAST(n.num AS VARCHAR) AS DOUBLE)
        |          / sqrt(CAST(CAST(x.n2 AS VARCHAR) AS DOUBLE)
        |               * CAST(CAST(y.n2 AS VARCHAR) AS DOUBLE)) AS cos_sim
        |      FROM num n
        |      JOIN n2 x ON x.doc_id = n.a_doc
        |      JOIN n2 y ON y.doc_id = n.b_doc)
        |SELECT a_doc, b_doc, n_shared, cos_sim FROM r
        |WHERE cos_sim >= $CosTau
        |ORDER BY a_doc, b_doc""".stripMargin) { (s, dir) =>
      tfidfCosinePairs(s, dir, CosDfCap, CosTau)
    },

    // ----- vocabulary growth curve (Heaps-law report) ---------------------
    // Distinct UNIGRAM and 3-GRAM-SHINGLE vocabulary seen after each
    // decile of the corpus in ingest (doc_id) order — the Heaps-law
    // evidence behind tokenizer/vocab budget sizing: a saturating curve
    // means a closed vocabulary (the fixture's unigrams flatline in the
    // first decile), a still-growing one means every new data slice keeps
    // minting types (the fixture's shingles — visibly sublinear, real
    // Heaps curvature). Integer-exact: per-type FIRST-SEEN ordinal (min
    // global doc ordinal over its postings), then vocab(k) = |{types:
    // first_ord ≤ k·N div 10}|. The doc ordinal comes from the two-phase
    // content-keyed numbering (Ordinals.globalRowNumberNative — never a
    // single-partition window); both first-seen frames ride the shared
    // tf/shingle indexes and are vocabulary-sized; the decile probe is a
    // 10-row broadcast.
    QuerySpec("q135_vocab_growth")(
      s"""WITH tf AS (
        |  SELECT DISTINCT doc_id, t AS term
        |  FROM (SELECT doc_id,
        |          unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS t
        |        FROM documents)),
        |${Dedup.shingleBaseCtes},
        |ordx AS (SELECT doc_id, row_number() OVER (ORDER BY doc_id) AS ord
        |         FROM documents),
        |fsu AS (SELECT term, CAST(min(ord) AS BIGINT) AS first_ord
        |        FROM tf JOIN ordx USING (doc_id) GROUP BY term),
        |fss AS (SELECT s, CAST(min(ord) AS BIGINT) AS first_ord
        |        FROM sh JOIN ordx USING (doc_id) GROUP BY s),
        |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |ks AS (SELECT unnest(generate_series(1, 10)) AS k),
        |u AS (SELECT ks.k, (ks.k * n.n) // 10 AS n_docs,
        |        CAST(count(*) FILTER (fsu.first_ord <= (ks.k * n.n) // 10) AS BIGINT) AS vocab_uni
        |      FROM ks, n, fsu GROUP BY ks.k, n.n),
        |sg AS (SELECT ks.k,
        |        CAST(count(*) FILTER (fss.first_ord <= (ks.k * n.n) // 10) AS BIGINT) AS vocab_shingle
        |       FROM ks, n, fss GROUP BY ks.k, n.n)
        |SELECT u.k, u.n_docs, u.vocab_uni, sg.vocab_shingle
        |FROM u JOIN sg ON u.k = sg.k ORDER BY u.k""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents").select(col("doc_id"))
      val ord = Ordinals.globalRowNumberNative(docs, "ord", "doc_id")
        .transform(graft.Materialize.ephemeral) // two first-seen joins read it
      def firstSeen(types: org.apache.spark.sql.DataFrame, typeCol: String) =
        types.join(ord, "doc_id")
          .groupBy(col(typeCol)).agg(min(col("ord")).cast(LongType).as("first_ord"))
      val fsu = firstSeen(tfIndex(s, dir).select(col("doc_id"), col("term")), "term")
      val fss = firstSeen(TextAnalysis.shingleIndex(s, dir)
        .select(col("doc_id"), explode(col("ss")).as("sg")), "sg")
      val n = docs.agg(count(lit(1)).cast(LongType).as("n"))
      val ks = n.select(col("n"), explode(sequence(lit(1), lit(10))).as("k"))
        .select(col("k").cast(LongType).as("k"), expr("(k * n) div 10").as("n_docs"))
      // r17: decile-bucket + running sum instead of a 10× fan-out of the
      // vocabulary-sized first-seen frame (guide §2.3 — aggregate before
      // you multiply rows). A type with first_ord f is counted at decile k
      // iff f ≤ ⌊k·n/10⌋ ⟺ k ≥ ⌈10·f/n⌉, so its minimal counted decile is
      // kmin = (10·f + n − 1) div n; vocab(k) is then the RUNNING SUM of
      // the 10-row per-kmin histogram — same integers, one hash-agg over
      // the frame instead of 10 copies of it. The cumulative window runs
      // over ≤ 10 rows per frame (the spine), never data-sized.
      def growth(fs: org.apache.spark.sql.DataFrame, out: String) = {
        val hist = fs.crossJoin(broadcast(n))
          .select(expr("(10 * first_ord + n - 1) div n").as("kmin"))
          .groupBy(col("kmin")).agg(count(lit(1)).as("cnt"))
        val wcum = Window.orderBy(col("k"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ks.join(broadcast(hist), col("k") === col("kmin"), "left")
          .select(col("k"), col("n_docs"), coalesce(col("cnt"), lit(0L)).as("cnt"))
          .withColumn(out, sum(col("cnt")).over(wcum).cast(LongType))
          .drop("cnt")
      }
      growth(fsu, "vocab_uni")
        .join(growth(fss, "vocab_shingle").drop("n_docs"), "k")
        .select(col("k"), col("n_docs"), col("vocab_uni"), col("vocab_shingle"))
        .orderBy(col("k"))
    },

    // ----- overlapping token-window chunking (RAG preprocessing) ----------
    // One chunk per stride step: starts p = 1 + k·S for k = 0..⌊(n−1)/S⌋,
    // chunk = tokens[p, p+C). The LAST chunk may be short (no padding, no
    // dropped tail tokens — every token lands in ≥1 chunk). Emits a stable
    // 60-bit fingerprint per chunk (the retrieval index key), not the text:
    // chunk rows stay narrow however large the documents get.
    QuerySpec("q96_chunk_windows")(chunkOracleSql) { (s, dir) =>
      chunkRows(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ----- content-defined chunking (shift-robust dedup granularity) ------
    // See [[cdcChunkRows]]: boundaries from token-hash content, chunks
    // tile the token sequence exactly (partition property spec-pinned),
    // fingerprints survive edits that shift q96's fixed grid.
    QuerySpec("q133_cdc_chunks")(
      s"""WITH t AS (SELECT doc_id,
        |  string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS tok
        |  FROM documents),
        |b AS (SELECT doc_id, tok, len(tok) AS n,
        |        list_concat(list_concat([0],
        |          list_filter(generate_series(1, len(tok) - 1),
        |            i -> ${hex60Sql.format("tok[i]")} % $CdcModulus = 0)),
        |          [len(tok)]) AS bpos
        |      FROM t),
        |c AS (SELECT doc_id, tok, bpos,
        |        unnest(generate_series(1, len(bpos) - 1)) AS k
        |      FROM b)
        |SELECT doc_id, k - 1 AS chunk_id, bpos[k] + 1 AS start_pos,
        |  bpos[k+1] - bpos[k] AS n_tokens,
        |  ${hex60Sql.format("array_to_string(list_slice(tok, bpos[k] + 1, bpos[k+1]), ' ')")} AS chunk_fp
        |FROM c ORDER BY doc_id, chunk_id""".stripMargin) { (s, dir) =>
      cdcChunkRows(Tables.load(s, dir, "documents"))
        .orderBy(col("doc_id"), col("chunk_id"))
    },

    // ----- chunk-level exact dedup (RAG index hygiene) --------------------
    // The dedup step a retrieval-index build runs BETWEEN q96's chunking
    // and embedding: groups of chunks with identical fingerprints, with
    // the representative (min doc) and the removable count — every
    // removable chunk is an embedding + index entry saved, and duplicate
    // chunks are exactly how near-duplicate docs poison retrieval (the
    // same passage crowds the top-k). Doc-level dedup (q35) cannot see
    // these: two distinct docs sharing one quoted passage collide only at
    // chunk granularity. One fp-keyed hash aggregate over the chunk
    // stream (map-side combined, linear in chunk volume at any scale).
    QuerySpec("q123_chunk_dedup")(
      s"""WITH t AS (SELECT doc_id,
        |  string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ') AS tok
        |  FROM documents),
        |c AS (SELECT doc_id, tok, len(tok) AS n,
        |        unnest(generate_series(0, (len(tok) - 1) // $ChunkStride)) AS k
        |      FROM t),
        |ch AS (SELECT doc_id,
        |         ${hex60Sql.format(s"array_to_string(list_slice(tok, 1 + k * $ChunkStride, k * $ChunkStride + $ChunkSize), ' ')")} AS chunk_fp
        |       FROM c)
        |SELECT chunk_fp, count(*) AS n_chunks,
        |  count(DISTINCT doc_id) AS n_docs,
        |  min(doc_id) AS rep_doc, count(*) - 1 AS removable
        |FROM ch GROUP BY chunk_fp HAVING count(*) >= 2
        |ORDER BY chunk_fp""".stripMargin) { (s, dir) =>
      chunkRows(Tables.load(s, dir, "documents"))
        .groupBy(col("chunk_fp"))
        .agg(count(lit(1)).as("n_chunks"),
          countDistinct(col("doc_id")).as("n_docs"),
          min(col("doc_id")).as("rep_doc"))
        .filter(col("n_chunks") >= 2)
        .withColumn("removable", col("n_chunks") - 1)
        .orderBy(col("chunk_fp"))
    },

    // ----- weighted frequent items (ClickHouse topKWeighted analog) -------
    // Which sources dominate each language's BYTE mass — `topK` weighted
    // by contribution instead of row count, via the native weighted MG
    // aggregate (insert-then-cut update; ≤ capacity counters per
    // partition however many sources exist). Exact in the oracle regime
    // (distinct sources ≪ capacity), error ≤ W/(capacity+1) above it —
    // the same contract as q107, now under arbitrary non-negative mass.
    QuerySpec("q127_freq_items_weighted")(
      """WITH w AS (SELECT lang, source, CAST(sum(n_chars) AS BIGINT) AS wt
        |           FROM documents GROUP BY 1, 2),
        |r AS (SELECT lang, source, wt,
        |        row_number() OVER (PARTITION BY lang ORDER BY wt DESC, source) AS rk
        |      FROM w)
        |SELECT lang, rk, source, wt FROM r WHERE rk <= 3
        |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      Tables.load(s, dir, "documents")
        .groupBy(col("lang"))
        .agg(call_function("freq_items_mg_weighted",
          col("source"), col("n_chars").cast(LongType), lit(32), lit(3)).as("top"))
        .select(col("lang"), posexplode(col("top")).as(Seq("p", "t")))
        .select(col("lang"), (col("p") + 1).cast(LongType).as("rk"),
          col("t.item").as("source"), col("t.cnt").as("wt"))
        .orderBy(col("lang"), col("rk"))
    },

    // ----- collocation mining (bigram lift, integer-exact) ----------------
    // Top corpus collocations: adjacent token pairs ranked by pointwise
    // lift P(xy)/(P(x)P(y)) = n_xy·U²/(B·n_x·n_y) — the log-free PMI
    // surrogate (same ordering as PMI; no cross-engine ln), computed as
    // ONE exact integer division in micro-units. Unigram instance counts
    // ride the shared (doc, term, tf) index (Σtf — one more aggregate on
    // the q97/q102 scan); bigram counts are a fresh adjacency pass (the
    // tf index is order-free by construction). The pair space is bounded
    // by vocabulary², not corpus size, and the n_xy ≥ 5 noise floor plus
    // the total-ordered top-50 keep the output fixed-size at any scale.
    // Magnitude note: the numerator n_xy·U²·10⁶ must fit
    // DECIMAL(38,0)/HUGEINT. For natural text the top bigram runs at
    // n_xy ≈ U/10³, making the numerator ≈ U³·10³ — inside 10³⁸ up to
    // U ≈ 5·10¹¹ token instances (≈ a 2-TB corpus), NOT unbounded: past
    // it DuckDB raises a HUGEINT overflow while non-ANSI Spark NULLs the
    // highest-n_xy rows (which then silently drop from the desc top-50 —
    // a divergence, not just an error). Deploying beyond that bound,
    // rescale U (and B) to thousands on BOTH sides before squaring; the
    // micro-unit quotient loses <0.1% while the magnitudes drop 10⁶×.
    QuerySpec("q125_collocations")(
      """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text,'\s+',' ','g'))), '\s+') AS w FROM documents),
        |bgr AS (SELECT w[i] AS a, w[i+1] AS b FROM
        |          (SELECT w, unnest(generate_series(1, greatest(len(w)-1,0))) AS i FROM d)),
        |bg AS (SELECT a, b, count(*) AS n_xy FROM bgr GROUP BY a, b),
        |uni AS (SELECT t AS term, count(*) AS n FROM (SELECT unnest(w) AS t FROM d) GROUP BY t),
        |tot AS (SELECT CAST(sum(n) AS BIGINT) AS u FROM uni),
        |btot AS (SELECT CAST(sum(n_xy) AS BIGINT) AS bt FROM bg)
        |SELECT a, b, n_xy, ua.n AS n_x, ub.n AS n_y,
        |  CAST((CAST(n_xy AS HUGEINT) * u * u * 1000000)
        |       // (CAST(bt AS HUGEINT) * ua.n * ub.n) AS BIGINT) AS lift_micro
        |FROM bg JOIN uni ua ON bg.a = ua.term JOIN uni ub ON bg.b = ub.term, tot, btot
        |WHERE n_xy >= 5
        |ORDER BY lift_micro DESC, a, b LIMIT 50""".stripMargin) { (s, dir) =>
      val uni = tfIndex(s, dir).groupBy(col("term")).agg(sum(col("tf")).as("n"))
      val u = uni.agg(sum(col("n")).cast(LongType).as("u"))
      val bg = Tables.load(s, dir, "documents")
        .select(explode(shingles(tokens(col("text")), 2)).as("sh"))
        .select(substring_index(col("sh"), " ", 1).as("a"),
          substring_index(col("sh"), " ", -1).as("b"))
        .groupBy(col("a"), col("b")).agg(count(lit(1)).as("n_xy"))
      val bt = bg.agg(sum(col("n_xy")).cast(LongType).as("bt"))
      bg.join(uni.select(col("term").as("a"), col("n").as("n_x")), "a")
        .join(uni.select(col("term").as("b"), col("n").as("n_y")), "b")
        .crossJoin(broadcast(u)).crossJoin(broadcast(bt))
        .filter(col("n_xy") >= 5)
        .withColumn("lift_micro",
          expr("CAST((CAST(n_xy AS DECIMAL(38,0)) * u * u * 1000000)" +
            " div (CAST(bt AS DECIMAL(38,0)) * n_x * n_y) AS BIGINT)"))
        .select(col("a"), col("b"), col("n_xy"), col("n_x"), col("n_y"), col("lift_micro"))
        .orderBy(col("lift_micro").desc, col("a"), col("b"))
        .limit(50)
    },

    // ----- per-document distinctive terms (integer-exact tf-idf rank) -----
    // tf from one (doc, term) hash-agg; df from the (already-distinct)
    // pairs in a term-keyed second agg. The df side is vocabulary-sized —
    // orders of magnitude under the corpus — and joins back on the term
    // key; AQE picks broadcast when it fits. Ranking window partitions by
    // doc_id (corpus-cardinality key ⇒ parallel by construction).
    QuerySpec("q97_distinctive_terms")(
      s"""WITH tf AS (
        |  SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split(lower(trim(regexp_replace(text, '\\s+', ' ', 'g'))), ' ')) AS t
        |        FROM documents)
        |  GROUP BY doc_id, t),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term),
        |r AS (SELECT tf.doc_id, tf.term, tf.tf, df.df,
        |        row_number() OVER (PARTITION BY tf.doc_id
        |          ORDER BY tf.tf DESC, df.df ASC, tf.term ASC) AS rk
        |      FROM tf JOIN df USING (term))
        |SELECT doc_id, rk, term, tf, df FROM r WHERE rk <= $TermK
        |ORDER BY doc_id, rk""".stripMargin) { (s, dir) =>
      // shared tf index: feeds both the join's probe side and the df
      // aggregate (and q102) — one corpus scan + (doc, term) shuffle.
      val tf = tfIndex(s, dir)
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      val w = Window.partitionBy(col("doc_id"))
        .orderBy(col("tf").desc, col("df").asc, col("term").asc)
      tf.join(df, "term")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= TermK)
        .select(col("doc_id"), col("rk"), col("term"), col("tf"), col("df"))
        .orderBy(col("doc_id"), col("rk"))
    },

    // ----- temperature-based mixture reweighting (α = 0.5) ----------------
    // Per-source token-mass shares flattened by √: w_s = √(mass_s/total),
    // α-share = w_s / Σw. Cross-engine exactness: mass sums are BIGINT;
    // each share is ONE double division; √ is IEEE-correctly-rounded in
    // both engines (proven by q25's qroot); the renormalizing SUM runs in
    // DECIMAL(28,10) (order-independent), and the final α-share is again
    // one double division. The Σw scalar is a 1-row broadcast cross join —
    // the same posture as CorpusClean's threshold scalars.
    QuerySpec("q98_mixture_temperature")(
      """WITH m AS (SELECT source, count(*) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS mass
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM m),
        |w AS (SELECT m.source, m.n_docs, m.mass,
        |        CAST(m.mass AS DOUBLE) / t.total AS raw_share,
        |        CAST(sqrt(CAST(m.mass AS DOUBLE) / t.total) AS DECIMAL(28,10)) AS wdec
        |      FROM m, t),
        |z AS (SELECT CAST(sum(wdec) AS DECIMAL(28,10)) AS wsum FROM w)
        |SELECT w.source, w.n_docs, w.mass, w.raw_share,
        |  CAST(w.wdec AS DOUBLE) / CAST(z.wsum AS DOUBLE) AS alpha_share
        |FROM w, z ORDER BY w.source""".stripMargin) { (s, dir) =>
      val dv = DecimalType(28, 10)
      // localCheckpoint: the total, the weights, and their sum all read m
      // (source-cardinality, but its lineage holds the corpus scan +
      // shuffle) — materialize once.
      val m = Tables.load(s, dir, "documents")
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_chars")).cast(LongType).as("mass"))
        .transform(graft.Materialize.ephemeral)
      val t = m.agg(sum(col("mass")).cast(LongType).as("total"))
      val w = m.crossJoin(broadcast(t))
        .withColumn("raw_share", col("mass").cast(DoubleType) / col("total"))
        .withColumn("wdec", sqrt(col("mass").cast(DoubleType) / col("total")).cast(dv))
      val z = w.agg(sum(col("wdec")).cast(dv).as("wsum"))
      w.crossJoin(broadcast(z))
        .select(col("source"), col("n_docs"), col("mass"), col("raw_share"),
          (col("wdec").cast(DoubleType) / col("wsum").cast(DoubleType)).as("alpha_share"))
        .orderBy(col("source"))
    },

    // ----- token-rarity score (integer-exact surprisal proxy) -------------
    // Per-document mean corpus document-frequency of its tokens, weighted
    // by in-doc term frequency: Σ(tf·df)/Σtf. The rank-free cousin of
    // unigram surprisal (−Σ log p): LOW mean df = doc made of rare
    // vocabulary, HIGH = boilerplate — the same quality/diversity signal
    // without a cross-engine float log (ln is not required to be
    // correctly rounded; sums of BIGINT products are exact, and the final
    // mean is ONE IEEE division). Same tf/df frames as q97.
    QuerySpec("q102_token_rarity")(
      """WITH tf AS (
        |  SELECT doc_id, t AS term, count(*) AS tf
        |  FROM (SELECT doc_id,
        |          unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS t
        |        FROM documents)
        |  GROUP BY doc_id, t),
        |df AS (SELECT term, count(*) AS df FROM tf GROUP BY term)
        |SELECT tf.doc_id,
        |  CAST(sum(tf.tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(tf.tf * df.df) AS BIGINT) AS sum_tfdf,
        |  CAST(sum(tf.tf * df.df) AS DOUBLE) / sum(tf.tf) AS mean_df
        |FROM tf JOIN df USING (term)
        |GROUP BY tf.doc_id ORDER BY tf.doc_id""".stripMargin) { (s, dir) =>
      val tf = tfIndex(s, dir)
      val df = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
      tf.join(df, "term")
        .groupBy(col("doc_id"))
        .agg(sum(col("tf")).cast(LongType).as("n_tokens"),
          sum(col("tf") * col("df")).cast(LongType).as("sum_tfdf"))
        .select(col("doc_id"), col("n_tokens"), col("sum_tfdf"),
          (col("sum_tfdf").cast(DoubleType) / col("n_tokens")).as("mean_df"))
        .orderBy(col("doc_id"))
    },

    // ----- per-source quality percentile (cross-source normalization) -----
    // A doc's quality percentile WITHIN ITS SOURCE — the normalization a
    // mixture pipeline applies before comparing quality across sources
    // with different scoring baselines (a p90 doc from a noisy crawl and
    // a p90 doc from a curated source are both "top decile of their
    // stratum"). Integer-exact: pct_micro = ⌊(docs strictly below) · 10⁶
    // / (n_source − 1)⌋, strict-below counted on the (quality, doc_id)
    // total order. Scale posture = q91's: the corpus collapses to
    // (source, quality_micro) counts — bounded by sources × the 1.4M
    // micro-unit quality domain, NOT by corpus size — and the per-source
    // running sum runs on that bounded frame (same domain-bounded window
    // the gap-fill/LOCF family uses); docs then join back on the
    // (source, quality) pair. Rides the shared quality index.
    QuerySpec("q103_quality_percentile")(
      s"""WITH ${TextAnalysis.qualityCteSql},
        |q AS (SELECT d.doc_id, d.source, s.quality_micro
        |      FROM documents d JOIN qscore s USING (doc_id)),
        |g AS (SELECT source, quality_micro, count(*) AS n
        |      FROM q GROUP BY source, quality_micro),
        |c AS (SELECT source, quality_micro, n,
        |        CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY quality_micro
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below,
        |        CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_src
        |      FROM g)
        |SELECT q.doc_id, q.source, q.quality_micro,
        |  (c.below * 1000000) // greatest(c.n_src - 1, 1) AS pct_micro
        |FROM q JOIN c USING (source, quality_micro)
        |ORDER BY q.doc_id""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val q = Tables.load(s, dir, "documents").select(col("doc_id"), col("source"))
        .join(TextAnalysis.qualityIndex(s, dir).select(col("doc_id"), col("quality_micro")),
          "doc_id")
      val g = q.groupBy(col("source"), col("quality_micro"))
        .agg(count(lit(1)).as("n"))
      // windows over the DOMAIN-BOUNDED (source × quality) frame, never
      // the corpus rows
      val wBelow = Window.partitionBy(col("source")).orderBy(col("quality_micro"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wSrc = Window.partitionBy(col("source"))
      val c = g
        .withColumn("below", coalesce(sum(col("n")).over(wBelow), lit(0L)).cast(LongType))
        .withColumn("n_src", sum(col("n")).over(wSrc).cast(LongType))
      q.join(c.select(col("source"), col("quality_micro"), col("below"), col("n_src")),
          Seq("source", "quality_micro"))
        .select(col("doc_id"), col("source"), col("quality_micro"),
          expr("(below * CAST(1000000 AS BIGINT)) div greatest(n_src - 1, CAST(1 AS BIGINT))")
            .as("pct_micro"))
        .orderBy(col("doc_id"))
    },

    // ----- curriculum phases (quality-quantile binning) -------------------
    // Docs binned into 4 training phases by within-source quality
    // percentile (q103's normalization, so every source contributes to
    // every phase — curriculum ordering without source bias): phase =
    // ⌊pct·4/10⁶⌋ capped at 3. Output is the per-phase manifest a
    // curriculum schedule consumes (doc counts + token mass, phase 0 =
    // lowest quality … 3 = highest). Integer-exact end to end.
    QuerySpec("q109_curriculum_phases")(
      s"""WITH ${TextAnalysis.qualityCteSql},
        |q AS (SELECT d.doc_id, d.source, d.n_chars, s.quality_micro
        |      FROM documents d JOIN qscore s USING (doc_id)),
        |g AS (SELECT source, quality_micro, count(*) AS n
        |      FROM q GROUP BY source, quality_micro),
        |c AS (SELECT source, quality_micro,
        |        CAST(coalesce(sum(n) OVER (PARTITION BY source ORDER BY quality_micro
        |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS below,
        |        CAST(sum(n) OVER (PARTITION BY source) AS BIGINT) AS n_src
        |      FROM g),
        |p AS (SELECT q.doc_id, q.n_chars,
        |        least(3, ((c.below * 1000000) // greatest(c.n_src - 1, 1)) * 4 // 1000000) AS phase
        |      FROM q JOIN c USING (source, quality_micro))
        |SELECT phase, count(*) AS n_docs, CAST(sum(n_chars) AS BIGINT) AS mass
        |FROM p GROUP BY phase ORDER BY phase""".stripMargin) { (s, dir) =>
      import org.apache.spark.sql.expressions.Window
      val q = Tables.load(s, dir, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
        .join(TextAnalysis.qualityIndex(s, dir).select(col("doc_id"), col("quality_micro")),
          "doc_id")
      val g = q.groupBy(col("source"), col("quality_micro")).agg(count(lit(1)).as("n"))
      val wBelow = Window.partitionBy(col("source")).orderBy(col("quality_micro"))
        .rowsBetween(Window.unboundedPreceding, -1)
      val wSrc = Window.partitionBy(col("source"))
      val c = g
        .withColumn("below", coalesce(sum(col("n")).over(wBelow), lit(0L)).cast(LongType))
        .withColumn("n_src", sum(col("n")).over(wSrc).cast(LongType))
        .select(col("source"), col("quality_micro"), col("below"), col("n_src"))
      q.join(c, Seq("source", "quality_micro"))
        .withColumn("phase",
          least(lit(3L), expr(
            "((below * CAST(1000000 AS BIGINT)) div greatest(n_src - 1, CAST(1 AS BIGINT))) * 4 div 1000000")))
        .groupBy(col("phase"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast(LongType).as("mass"))
        .orderBy(col("phase"))
    },

    // ----- budget mixture: α-shares → deterministic sampled corpus --------
    // The step AFTER q98: given the temperature-flattened target shares
    // and a GLOBAL token budget, derive each source's keep fraction
    // (target mass / its mass, capped at 1 — a source can't contribute
    // more than it has) and sample docs with the same pure-hash draw as
    // q66, so the mix is reproducible across runs, engines, and
    // partitioning. The report shows achieved vs target mass per source.
    // Cross-engine exactness of the CUTOFF: alpha_share is the q98 chain
    // (proven bit-exact), and target/mass/1e6 are three more single IEEE
    // ops before one floor — both engines land the identical micro-unit
    // threshold, so membership is identical doc for doc. Scale: one
    // corpus hash-agg + a broadcast of the source-sized fraction table;
    // the draw is a per-row projection.
    QuerySpec("q108_budget_mixture")(
      s"""WITH m AS (SELECT source, count(*) AS n_docs,
        |             CAST(sum(n_chars) AS BIGINT) AS mass
        |           FROM documents GROUP BY source),
        |t AS (SELECT CAST(sum(mass) AS BIGINT) AS total FROM m),
        |w AS (SELECT m.source, m.n_docs, m.mass,
        |        CAST(sqrt(CAST(m.mass AS DOUBLE) / t.total) AS DECIMAL(28,10)) AS wdec
        |      FROM m, t),
        |z AS (SELECT CAST(sum(wdec) AS DECIMAL(28,10)) AS wsum FROM w),
        |fr AS (SELECT w.source, w.n_docs, w.mass,
        |         least(1000000, CAST(floor(
        |           (CAST(w.wdec AS DOUBLE) / CAST(z.wsum AS DOUBLE)) * $MixBudgetChars
        |             / w.mass * 1000000) AS BIGINT)) AS frac_micro
        |       FROM w, z),
        |kept AS (SELECT d.source, count(*) AS n_kept,
        |           CAST(sum(d.n_chars) AS BIGINT) AS kept_mass
        |         FROM documents d JOIN fr ON d.source = fr.source
        |         WHERE ${"CAST('0x' || substr(md5(%s), 1, 15) AS BIGINT)".format("CAST(doc_id AS VARCHAR) || '|strat'")} % 1000000 < fr.frac_micro
        |         GROUP BY d.source)
        |SELECT fr.source, fr.n_docs, fr.mass, fr.frac_micro,
        |  coalesce(k.n_kept, 0) AS n_kept, coalesce(k.kept_mass, 0) AS kept_mass
        |FROM fr LEFT JOIN kept k ON fr.source = k.source
        |ORDER BY fr.source""".stripMargin) { (s, dir) =>
      val dv = DecimalType(28, 10)
      val docs = Tables.load(s, dir, "documents")
      val m = docs.groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).cast(LongType).as("mass"))
        .transform(graft.Materialize.ephemeral)
      val t = m.agg(sum(col("mass")).cast(LongType).as("total"))
      val w = m.crossJoin(broadcast(t))
        .withColumn("wdec", sqrt(col("mass").cast(DoubleType) / col("total")).cast(dv))
      val z = w.agg(sum(col("wdec")).cast(dv).as("wsum"))
      val fr = w.crossJoin(broadcast(z))
        .withColumn("frac_micro",
          least(lit(1000000L),
            floor((col("wdec").cast(DoubleType) / col("wsum").cast(DoubleType))
              * MixBudgetChars / col("mass") * 1e6).cast(LongType)))
        .select(col("source"), col("n_docs"), col("mass"), col("frac_micro"))
      val kept = docs.join(broadcast(fr.select(col("source"), col("frac_micro"))), "source")
        .filter(TrainPipe.stratUMicro(col("doc_id")) < col("frac_micro"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_kept"), sum(col("n_chars")).cast(LongType).as("kept_mass"))
      fr.join(kept, Seq("source"), "left")
        .select(col("source"), col("n_docs"), col("mass"), col("frac_micro"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"),
          coalesce(col("kept_mass"), lit(0L)).as("kept_mass"))
        .orderBy(col("source"))
    },

    // ----- deterministic per-group k-sample (eval-set construction) -------
    // Exactly k docs per language, sampled UNIFORMLY and reproducibly:
    // rank within group on (salted 60-bit hash of the doc key, doc_id) —
    // a pure function of row content, so the same sample comes back on
    // any engine, run, or partitioning (vs rand()-based sampling, which
    // is none of those). Unlike the rate-based stratified sampler (q66,
    // which keeps a FRACTION), this pins an exact per-group count — the
    // eval/holdout-set shape. lang is low-cardinality, so the ranking
    // runs through the salted two-phase top-k, never a global per-key
    // window funnel.
    QuerySpec("q110_group_sample")(
      s"""SELECT lang, rk, doc_id FROM (
        |  SELECT lang, doc_id,
        |    row_number() OVER (PARTITION BY lang
        |      ORDER BY ${hex60Sql.format("CAST(doc_id AS VARCHAR) || '|gsample'")}, doc_id) AS rk
        |  FROM documents)
        |WHERE rk <= $GroupSampleK
        |ORDER BY lang, rk""".stripMargin) { (s, dir) =>
      val draw = hex60(concat(col("doc_id").cast(StringType), lit("|gsample")))
      TopK.perKeyTopK(
        Tables.load(s, dir, "documents").select(col("doc_id"), col("lang")),
        keys = Seq(col("lang")),
        order = Seq(draw.asc, col("doc_id").asc),
        k = GroupSampleK, saltFrom = col("doc_id"))
        .select(col("lang"), col("rk"), col("doc_id"))
        .orderBy(col("lang"), col("rk"))
    },

    // ----- bounded-memory frequent items (native MG aggregate) ------------
    // Global top-10 corpus tokens through `freq_items_mg` — the engine's
    // Misra–Gries TypedImperativeAggregate (ClickHouse `topK` analog;
    // functions/expressions/FreqItemsMG.scala documents the bounds).
    // Unlike the exact vocab top-k (q57: full (term, count) hash-agg
    // shuffle), this pass carries ≤ capacity counters per partition and
    // merges associatively — the sketch path for unbounded vocabularies.
    // Capacity 4096 ≫ every fixture vocabulary (31 at driver scales,
    // ~34/replica under DataGen — ~341 at sf1, ~680 at sf2), so no MG
    // decrement fires and the counters are EXACT — which is what lets
    // the DuckDB oracle check the sketch operator with plain GROUP BY
    // counts. (The round-13 sf2 sweep caught the old 512 capacity
    // crossing into the decrement regime: top-1 cnt 8803 vs true 9182 —
    // an undercount within the documented N/(cap+1) bound, i.e. the
    // sketch working as specified, but outside the exact-oracle regime;
    // the decrement-regime guarantee itself is spec-pinned in
    // CorpusOpsSpec "honors Misra-Gries bounds".) Total order
    // (cnt DESC, term ASC) on both sides.
    QuerySpec("q107_freq_items")(
      """WITH tok AS (SELECT unnest(string_split(lower(trim(regexp_replace(text, '\s+', ' ', 'g'))), ' ')) AS term
        |            FROM documents),
        |c AS (SELECT term, count(*) AS cnt FROM tok GROUP BY term),
        |r AS (SELECT term, cnt, row_number() OVER (ORDER BY cnt DESC, term ASC) AS rk FROM c)
        |SELECT rk, term, cnt FROM r WHERE rk <= 10 ORDER BY rk""".stripMargin) { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      Tables.load(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("term"))
        .agg(expr("freq_items_mg(term, 4096, 10)").as("top"))
        .select(posexplode(col("top")))
        .select((col("pos") + 1).cast(LongType).as("rk"),
          col("col.item").as("term"), col("col.cnt").as("cnt"))
        .orderBy(col("rk"))
    },

    // ----- DSIR-style importance selection (hashed n-gram LLR) ------------
    // Data Selection via Importance Resampling (Xie et al. 2023): score raw
    // documents by how target-like their token distribution is, under two
    // hashed-unigram multinomial profiles (target = the `en` slice, raw =
    // the whole corpus). DSIR's score is the log-likelihood ratio
    // Σ_w c_w·log(p_t(w)/p_r(w)); the cross-engine-exact formulation here
    // replaces each log with the RATIO itself in integer micro-units —
    // w_micro(b) = ⌊10⁶·(ct_b+1)(Nr+B) / ((cr_b+1)(Nt+B))⌋, Laplace-
    // smoothed over the B-bucket feature space — and ranks by the
    // length-normalized sum (score div n_tok), so no float log/exp exists
    // anywhere and both engines agree bit for bit (numerators in
    // DECIMAL(38,0)/HUGEINT; one integer division per bucket, one per doc).
    // Scale: the feature space is FIXED at B=4096 buckets (the hashing
    // trick), so the weight table is broadcast-sized no matter the corpus;
    // the pipeline is one (doc, bucket) re-key of the shared tf index, two
    // bucket-sized profile aggregates, a broadcast join, one doc-keyed
    // hash-agg, and a TakeOrderedAndProject(K) — no corpus-sized state off
    // the scan path and nothing grows with the vocabulary.
    QuerySpec("q144_dsir_select")(
      s"""WITH $dsirOracleCtes
        |SELECT rk, doc_id, n_tok, score_micro, per_tok_micro
        |FROM r WHERE rk <= $DsirK ORDER BY rk""".stripMargin) { (s, dir) =>
      // db has 3 consumers (raw profile, target profile, scoring);
      // the shortlist's rank window runs over ≤ K rows (bounded, not a
      // global-corpus window — TakeOrderedAndProject bounds it first).
      val db = graft.Materialize.ephemeral(dsirDb(tfIndex(s, dir)))
      val prof = dsirProfileFromDb(db, Tables.load(s, dir, "documents"))
      dsirShortlist(db, dsirWeights(prof), DsirK)
    },

    // ----- selection-bias report (curation fairness diagnostic) -----------
    // The check a curation pipeline runs AFTER q144 and BEFORE shipping
    // the mix: how the importance shortlist redistributes SOURCE mass
    // against the corpus base rates — per source, its corpus share, its
    // shortlist share, and the exact selection-bias ratio in micro-units
    // (>10⁶ = over-selected, <10⁶ = suppressed). A target-conditioned
    // selector is SUPPOSED to skew; this report makes the skew visible,
    // auditable, and re-checkable release over release — the
    // data-governance twin of q147's funnel attribution. Integer-exact:
    // three floor divisions per source row, everything else BIGINT
    // counts. Scale: the shortlist is K rows (broadcast), the report is
    // source-dimension-sized, and the only corpus-scale work is q144's
    // own chain (shared through the session tf index).
    QuerySpec("q152_selection_bias")(
      s"""WITH $dsirOracleCtes,
        |sel AS (SELECT doc_id FROM r WHERE rk <= $DsirK),
        |base AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs
        |         FROM documents GROUP BY source),
        |nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |sc2 AS (SELECT d.source, CAST(count(*) AS BIGINT) AS n_sel
        |        FROM sel JOIN documents d USING (doc_id) GROUP BY d.source)
        |SELECT base.source, base.n_docs,
        |  CAST(coalesce(sc2.n_sel, 0) AS BIGINT) AS n_sel,
        |  (base.n_docs * 1000000) // nn.n AS base_micro,
        |  (coalesce(sc2.n_sel, 0) * 1000000) // $DsirK AS sel_micro,
        |  CAST((CAST(coalesce(sc2.n_sel, 0) AS HUGEINT) * nn.n * 1000000)
        |    // (CAST(base.n_docs AS HUGEINT) * $DsirK) AS BIGINT) AS bias_micro
        |FROM base LEFT JOIN sc2 ON base.source = sc2.source, nn
        |ORDER BY base.source""".stripMargin) { (s, dir) =>
      val docs = Tables.load(s, dir, "documents")
      val db = graft.Materialize.ephemeral(dsirDb(tfIndex(s, dir)))
      val prof = dsirProfileFromDb(db, docs)
      val sel = dsirShortlist(db, dsirWeights(prof), DsirK).select(col("doc_id"))
      val base = docs.groupBy(col("source")).agg(count(lit(1)).as("n_docs"))
      val nn = docs.agg(count(lit(1)).as("n"))
      val picked = broadcast(sel).join(docs.select(col("doc_id"), col("source")), "doc_id")
        .groupBy(col("source")).agg(count(lit(1)).as("n_sel"))
      base.join(picked, Seq("source"), "left").crossJoin(broadcast(nn))
        .select(col("source"), col("n_docs"),
          coalesce(col("n_sel"), lit(0L)).as("n_sel"), col("n"))
        .withColumn("base_micro", expr("(n_docs * 1000000) div n"))
        .withColumn("sel_micro", expr(s"(n_sel * 1000000) div $DsirK"))
        // bias = sel_share / base_share = n_sel·n / (n_docs·K), computed as
        // ONE division over DECIMAL(38,0) cross-products — never through the
        // floored base_micro, which is 0 for any source below 1 ppm of the
        // corpus (plausible at 100 TB) and would NULL the ratio out.
        .withColumn("bias_micro",
          expr(s"CAST((CAST(n_sel AS DECIMAL(38,0)) * n * 1000000)" +
            s" div (CAST(n_docs AS DECIMAL(38,0)) * $DsirK) AS BIGINT)"))
        .select(col("source"), col("n_docs"), col("n_sel"),
          col("base_micro"), col("sel_micro"), col("bias_micro"))
        .orderBy(col("source"))
    },

    // ----- bigram-LM quality score (perplexity-filter analog) -------------
    // The language-model quality filter (CCNet / Wikipedia-LM perplexity
    // scoring), log-free: each document's mean TRANSITION probability
    // under the corpus's own bigram model — p(w₂|w₁) Laplace-smoothed as
    // integer micro-units ⌊10⁶·(c₁₂+1)/(c₁+V)⌋ (one floor division per
    // bigram TYPE), then per doc ⌊Σ c·p_micro / n_bigrams⌋. Garbled or
    // atypical text makes rare transitions → a low score; fluent text
    // rides common transitions → high. Ordering is the same as mean log
    // probability would give up to floor quantization, with no float
    // log/exp anywhere, so both engines agree bit for bit. Scale: the
    // model IS the corpus bigram profile — bigram-TYPE-bounded (a KenLM
    // deployment prunes the tail; here the join stays keyed on (a,b)
    // either way); unigram totals ride the shared tf index; scoring is
    // one (a,b)-keyed equi-join + one doc-keyed hash-agg. Nothing is
    // corpus²; no window at all.
    QuerySpec("q146_lm_score")(
      """WITH d AS (SELECT doc_id, regexp_split_to_array(lower(trim(regexp_replace(text,'\s+',' ','g'))), '\s+') AS w FROM documents),
        |bgr AS (SELECT doc_id, w[i] AS a, w[i+1] AS b FROM
        |          (SELECT doc_id, w, unnest(generate_series(1, greatest(len(w)-1,0))) AS i FROM d)),
        |bgd AS (SELECT doc_id, a, b, count(*) AS c FROM bgr GROUP BY doc_id, a, b),
        |bg AS (SELECT a, b, CAST(sum(c) AS BIGINT) AS c12 FROM bgd GROUP BY a, b),
        |uni AS (SELECT t AS term, count(*) AS n FROM
        |          (SELECT unnest(w) AS t FROM d) GROUP BY t),
        |v AS (SELECT count(*) AS v FROM uni),
        |p AS (SELECT bg.a, bg.b,
        |        ((bg.c12 + 1) * 1000000) // (u.n + v.v) AS p_micro
        |      FROM bg JOIN uni u ON bg.a = u.term, v)
        |SELECT bgd.doc_id,
        |  CAST(sum(bgd.c) AS BIGINT) AS n_bigrams,
        |  CAST(sum(bgd.c * p.p_micro) // sum(bgd.c) AS BIGINT) AS lm_micro
        |FROM bgd JOIN p ON bgd.a = p.a AND bgd.b = p.b
        |GROUP BY bgd.doc_id
        |ORDER BY doc_id""".stripMargin) { (s, dir) =>
      val bgd = graft.Materialize.ephemeral( // 2 consumers: model + scoring
        bigramBags(Tables.load(s, dir, "documents")))
      val bg = bgd.groupBy(col("a"), col("b")).agg(sum(col("c")).cast(LongType).as("c12"))
      val uni = tfIndex(s, dir).groupBy(col("term")).agg(sum(col("tf")).as("n"))
      lmScoreOverModel(bgd, lmModelOverBigrams(bg, uni))
    },

    // ----- late-interaction (multi-vector) retrieval: ColBERT MaxSim ------
    // Completes the retrieval quality ladder (q130 lexical, q131 fused,
    // q137 graded): per (query, doc), the sum over query token-vectors of
    // the max integer dot against the doc's token-vectors — the serving
    // pattern multi-vector RAG stacks deploy, with candidates from the
    // SAME posting-list leg as BM25 (never all-pairs) and the per-doc
    // token budget every real multi-vector index applies. See
    // [[maxSimTopK]] for the deterministic hash token embeddings that
    // stand in for an encoder; the recall floor vs the pooled
    // single-vector collapse of the same space is spec-pinned
    // (RecallFloorSpec).
    QuerySpec("q160_maxsim_topk")(
      s"""WITH ${bm25OracleCtes(Bm25NumQueries, Bm25QTerms)},
        |dtok AS (SELECT doc_id, term FROM (
        |    SELECT tf.doc_id, tf.term,
        |      row_number() OVER (PARTITION BY tf.doc_id ORDER BY df.df ASC, tf.term ASC) AS trk
        |    FROM tf JOIN df USING (term)) WHERE trk <= $MaxSimTokens),
        |tv AS (SELECT term, i,
        |    CAST('0x' || substr(md5('mv|' || term || '|' || CAST(i AS VARCHAR)), 1, 15) AS BIGINT)
        |      % 2001 - 1000 AS v
        |  FROM (SELECT DISTINCT term FROM dtok) CROSS JOIN generate_series(0, ${MaxSimDim - 1}) g(i)),
        |nsh AS (SELECT q.doc_id AS q_id, d.doc_id, count(*) AS n_shared
        |        FROM dtok q JOIN dtok d ON d.term = q.term AND d.doc_id <> q.doc_id
        |        WHERE q.doc_id < $Bm25NumQueries GROUP BY 1, 2),
        |cand AS (SELECT q_id, doc_id FROM (
        |    SELECT q_id, doc_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY n_shared DESC, doc_id ASC) AS crk
        |    FROM nsh) WHERE crk <= $MaxSimCand),
        |qtok AS (SELECT doc_id AS q_id, term FROM dtok WHERE doc_id < $Bm25NumQueries),
        |dots AS (SELECT c.q_id, c.doc_id, q.term AS qterm, d.term AS dterm,
        |      CAST(sum(a.v * b.v) AS BIGINT) AS dot
        |    FROM cand c
        |    JOIN qtok q ON q.q_id = c.q_id
        |    JOIN dtok d ON d.doc_id = c.doc_id
        |    JOIN tv a ON a.term = q.term
        |    JOIN tv b ON b.term = d.term AND b.i = a.i
        |    GROUP BY 1, 2, 3, 4),
        |best AS (SELECT q_id, doc_id, qterm, max(dot) AS best FROM dots GROUP BY 1, 2, 3),
        |ms AS (SELECT q_id, doc_id, CAST(sum(best) AS BIGINT) AS maxsim FROM best GROUP BY 1, 2),
        |mr AS (SELECT q_id, doc_id, maxsim,
        |    row_number() OVER (PARTITION BY q_id ORDER BY maxsim DESC, doc_id ASC) AS rk
        |  FROM ms)
        |SELECT q_id, rk, doc_id, maxsim FROM mr WHERE rk <= $Bm25K
        |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      maxSimTopK(s, dir)
    }
  )
}
