package graft.operators

import graft.{QuerySpec, Tables}
import graft.functions.VectorFunctions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Similarity-search north-star ops over `embeddings` (builder prompt:
  * brute-force cosine top-k baseline + an LSH-bucketed ANN scale path).
  *
  * Scale design:
  *  - q39 broadcast-joins the (tiny) query set against the full corpus —
  *    at 100 TB this is the classic "queries broadcast, corpus scanned once"
  *    plan; per-query top-k via the SALTED two-phase rank (a plain per-query
  *    window would sort the whole corpus in one task per query).
  *  - q40 is signed-random-projection LSH: 4 tables × 6 planes; candidates
  *    are generated by an equi-join on (table, bucket) — shuffle keyed by
  *    bucket, never a cross join — then exactly re-ranked. On a cluster the
  *    bucket join touches ~corpus/2^planes rows per query per table.
  *
  * Both queries are bit-exact against DuckDB: scores fold through
  * DECIMAL(20,12) ([[graft.functions.VectorFunctions.dotDec]]) and the LSH
  * hyperplanes are md5-seeded integers both engines regenerate.
  */
object Similarity {

  private val Dim = 64
  private val NumQueries = 8 // query set: vec_id < 8
  private val TopK = 5
  // 8 tables × 4 planes: the fixture embeddings are near-uniform (top-1
  // cosine ≈ 0.35, θ ≈ 69°), so per-plane agreement is only ~0.62; wider
  // multi-table fan-out is what buys recall (≈0.7 top-1 here), at the cost
  // of more candidates — the classic SRP trade, worth a comment because the
  // numbers are data-dependent, not universal.
  private val AnnTables = 8
  private val AnnPlanes = 4
  private val AnnTopK = 3

  // q142 product quantization: 4 subvectors × 16 dims, 16 codewords each
  // (codes ≈ 4×4 bits per vector vs 64 floats — the PQ memory story);
  // serving reranks the PQ shortlist of PqRerank candidates exactly
  private val PqM = 4
  private val PqRerank = 64

  /** The name of the SRP bucket-row frame in the durable [[graft.IndexStore]]. */
  private[graft] val SrpStoreName = "srp_buckets"

  /** The fitted-centroid entry's name in the durable [[graft.IndexStore]]
    * — shared with the streaming assignment maintainer
    * ([[graft.streaming.IndexMaintenance.maintainIvfAssignments]]), whose
    * drift-triggered refit overwrites this entry so the batch q53/q68
    * paths serve the refreshed centroids.
    */
  private[graft] val IvfModelStoreName = "ivf_model"

  /** The image-modality coarse quantizer's durable-store entry (q155):
    * a SEPARATE model family from [[IvfModelStoreName]] — the cross-modal
    * corpus is the image-side table, whose geometry the text-side
    * centroids don't describe.
    */
  private[graft] val XmIvfModelStoreName = "xm_ivf_model"

  /** The 4 fitted subvector codebooks per (session, corpus), one cache per
    * codebook family tag ("" text-side, "_xm" image-side) — one training
    * pass like [[ivfModelCache]]; each model is 16 × 16 longs driver-side
    * and fully deterministic (caching changes no result). Every centroid
    * family reads the SRP store too: an append or purge there changes
    * the corpus it was fit on, so the next consumer re-runs
    * [[Ivf.servedModel]]'s refresh policy.
    */
  private val pqModelCaches = Map("" -> "pqModel", "_xm" -> "xmPqModel").map { case (tag, name) =>
    tag -> new graft.SessionCache[Seq[Ivf.Model]](name,
      stores = Set(SrpStoreName) ++ (0 until PqM).map(pqModelStoreName(_, tag)))(_ => ())
  }

  /** The q154/q155/q156 image-modality id-domain offset: image vec_ids =
    * text vec_ids + this, so the two modalities' id spaces never collide
    * and every self-pair guard stays vacuously correct cross-modally.
    * 2^40 — far beyond any corpus this engine will index (a 10000 offset
    * collided with real text ids at the 10× sweep: the reverse leg's
    * "queries = ids ≥ offset" predicate swept 40k corpus rows into the
    * query set), while id+offset stays ≪ 2^63 for corpora to 2^40 rows.
    */
  private[graft] val XmOffset = 1L << 40

  private def pqSub(eqf: org.apache.spark.sql.DataFrame, m: Int): org.apache.spark.sql.DataFrame =
    eqf.select(col("vec_id"), slice(col("eq"), m * PqSubDim + 1, PqSubDim).as("eq"))

  /** Durable tier first, like [[ivfModel]]: with an index store
    * configured, each subvector codebook persists as `pq_model_m` under
    * [[Ivf.servedModel]]'s refresh policy (a new session skips all four
    * fits); without one, fit in-session. `tag` names a SEPARATE codebook
    * family (store entries `pq_model_<m><tag>`, own cache) — the
    * cross-modal image-side codebooks (q155) must never mix with the
    * text-side ones even though both live under the same corpus dir.
    */
  private[graft] def pqModels(s: org.apache.spark.sql.SparkSession, dir: String,
      eqf: org.apache.spark.sql.DataFrame, tag: String = ""): Seq[Ivf.Model] = {
    // The four subvector fits are INDEPENDENT (disjoint slices; the store
    // entries are PATH-DISJOINT — pq_model_<m><tag> — so the concurrent
    // first-call servedModel writes never touch the same files, and
    // vec_dot_long registration is idempotent), so they submit
    // concurrently — each fit's Lloyd rounds are small jobs with
    // driver-side argmax syncs, and running them sequentially serializes
    // 4× that latency for no reason. Results are byte-identical to the
    // sequential order (indexed map; each fit is deterministic and shares
    // nothing). A DEDICATED bounded pool + a finite Await: a wedged Spark
    // job must surface as a loud timeout here, not park a global-pool
    // thread forever (and the global pool would serialize the fits on a
    // small machine anyway).
    import scala.concurrent.{Await, Future, ExecutionContext}
    def fitAll(one: Int => Ivf.Model): Seq[Ivf.Model] = {
      // Daemon threads + shutdownNow: if the Await times out on a wedged
      // Spark job the pool must not pin the JVM alive (non-daemon threads
      // after a "loud timeout" would contradict the intent above), and
      // the in-flight fits get an interrupt instead of running headless.
      val pool = java.util.concurrent.Executors.newFixedThreadPool(PqM,
        (r: Runnable) => {
          val t = new Thread(r, "graft-pq-fit")
          t.setDaemon(true)
          t
        })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try Await.result(Future.sequence((0 until PqM).map(m => Future(one(m)))),
        scala.concurrent.duration.Duration(30, java.util.concurrent.TimeUnit.MINUTES))
      catch { case e: java.util.concurrent.TimeoutException => pool.shutdownNow(); throw e }
      finally pool.shutdown()
    }
    pqModelCaches(tag).getOrElseUpdate(s, dir)(
      graft.IndexStore.configuredDir(s) match {
        case None =>
          fitAll(m => Ivf.fit(pqSub(eqf, m), k = PqK, dim = PqSubDim))
        case Some(root) =>
          fitAll(m => Ivf.servedModel(s,
            graft.IndexStore.storePath(root, dir, s"pq_model_$m$tag"),
            pqSub(eqf, m), PqK, dim = PqSubDim))
      })
  }

  /** The durable-store entry name of subvector codebook `m` under `tag`
    * ("" = the text-side family; "_xm" = the cross-modal image-side one).
    */
  private[graft] def pqModelStoreName(m: Int, tag: String = ""): String =
    s"pq_model_$m$tag"

  private[graft] def pqSubvectors: Int = PqM

  /** PQ residual probe-sample membership: a pure hash of vec_id, so the
    * bootstrap baseline, every appended batch, and the refit specs all
    * sample the SAME deterministic subset family — the statistic is
    * comparable across writers and replays by construction.
    */
  private[graft] def pqResSampleFilter(mod: Int): org.apache.spark.sql.Column =
    graft.functions.TextFunctions.hex60(
      concat(lit("pqres|"), col("vec_id").cast(StringType))) % math.max(1, mod) === 0

  /** Exact integer PQ reconstruction-residual statistic over a quantized
    * frame `(vec_id, eq)`: Σ_rows Σ_m |dot(v_m, v_m) − dot(v_m, c_m(v))|,
    * where c_m(v) is v's argmax-dot codeword in subvector m — how much
    * self-similarity the code assignment loses, the ADC-error proxy the
    * drift maintainer watches ([[graft.streaming.IndexMaintenance]]).
    * Returns (rows, Σ residual); every term is integer (|selfdot| ≤
    * 64·1e8 per row), summed in DECIMAL(38,0) so no overflow at any
    * sample size. Cost: per subvector one sample scan × 16-row codebook
    * broadcast — O(sample · k), the assignment-pass cost class.
    */
  private[graft] def pqResidualStats(models: Seq[Ivf.Model],
      eqf: org.apache.spark.sql.DataFrame): (Long, BigInt) = {
    val s = eqf.sparkSession
    graft.plans.GraftExtensions.register(s)
    val per = (0 until PqM).map { m =>
      val sub = pqSub(eqf, m)
      Ivf.ranked(sub, Ivf.centsDF(s, models(m).cents)).filter(col("rk") === 1)
        .select(abs(call_function("vec_dot_long", col("eq"), col("eq"))
          - col("idot")).as("res"))
    }
    val r = per.reduce(_ union _)
      .agg(count(lit(1)), coalesce(
        sum(col("res").cast(DataTypes.createDecimalType(38, 0))),
        lit(java.math.BigDecimal.ZERO))).head()
    // every row contributes exactly one rk=1 line per subvector
    (r.getLong(0) / PqM, BigInt(r.getDecimal(1).toBigInteger))
  }

  /** Refit the text-side PQ codebook family from `eqf` (one deterministic
    * [[Ivf.fit]] per subvector slice) and OVERWRITE the durable entries —
    * the PQ analog of the IVF maintainer's drift refit. The overwrite
    * changes the entries' identities, so the next q142/q143/q156 in any
    * session serves the refreshed codebooks.
    */
  private[graft] def refitPqModels(s: org.apache.spark.sql.SparkSession,
      dir: String, eqf: org.apache.spark.sql.DataFrame,
      tag: String = ""): Seq[Ivf.Model] = {
    val root = graft.IndexStore.requireRoot(s, "refitPqModels")
    (0 until PqM).map { m =>
      val mdl = Ivf.fit(pqSub(eqf, m), k = PqK, dim = PqSubDim)
      Ivf.save(s, graft.IndexStore.storePath(root, dir, pqModelStoreName(m, tag)), mdl)
      mdl
    }
  }

  // ---- PQ oracle fragments + Spark legs shared by q142/q143 ------------

  private def pqQListSql =
    s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e4) AS BIGINT))"
  private def pqIdot16(a: String, b: String) =
    s"list_sum(list_transform(generate_series(1, $PqSubDim), j -> $a[j] * $b[j]))"

  /** eq0..eq3 subvector-slice CTEs. */
  private def pqSubCtesSql: String = (0 until PqM).map { m =>
    s"eq$m AS MATERIALIZED (SELECT vec_id, q[${m * PqSubDim + 1}:${(m + 1) * PqSubDim}] AS q FROM eq)"
  }.mkString(",\n")

  /** Corpus-only subvector slices eqc0..eqc3 (the cross-modal queries:
    * `eq` there is corpus ∪ other-modality queries, and the codebook
    * fits/code assignments must see ONLY the corpus side).
    */
  private def pqCorpusSubCtesSql(pred: String): String = (0 until PqM).map { m =>
    s"eqc$m AS MATERIALIZED (SELECT vec_id, q FROM eq$m WHERE $pred)"
  }.mkString(",\n")

  /** The four k-means chains, p0cents..p3cents, over `srcFor(m)`. */
  private def pqKmeansCtesSql(srcFor: Int => String = m => s"eq$m"): String =
    (0 until PqM).map { m =>
      Ivf.centroidsSql(PqK, Ivf.DefaultMaxIters,
        dim = PqSubDim, prefix = s"p$m", src = srcFor(m), out = s"p${m}cents")
    }.mkString(",\n")

  /** Per-subvector code assignment + query LUT CTEs (p{m}a, p{m}lut):
    * codes over `codeSrc(m)` (the corpus slices), LUTs over the eq$m rows
    * matching `qPredSql` (an unqualified predicate on vec_id — the query
    * side, which for the cross-modal legs lives in the other modality's
    * id domain).
    */
  private def pqCodeLutCtesSql(codeSrc: Int => String = m => s"eq$m",
      qPredSql: String = s"vec_id < $NumQueries"): String = (0 until PqM).map { m =>
    s"""p${m}a AS (SELECT vec_id, cid FROM (
      |    SELECT e.vec_id, c.cid,
      |      row_number() OVER (PARTITION BY e.vec_id ORDER BY ${pqIdot16("e.q", "c.cq")} DESC, c.cid ASC) AS rk
      |    FROM ${codeSrc(m)} e, p${m}cents c) WHERE rk = 1),
      |p${m}lut AS (SELECT q.vec_id AS q_id, c.cid, ${pqIdot16("q.q", "c.cq")} AS pdot
      |    FROM eq$m q, p${m}cents c WHERE q.$qPredSql)""".stripMargin
  }.mkString(",\n")

  /** Shortlist → exact rerank → recall-vs-exact tail, from an ADC-score
    * CTE `src(q_id, vec_id, sim_pq)`. `corpus` is the exact side's corpus
    * relation and `qSrc` the query relation (table or CTE name, optionally
    * with a WHERE) — the cross-modal legs point them at the OTHER
    * modality's table; the rerank itself reads `eq`, which by convention
    * contains corpus ∪ queries rows.
    */
  private def pqRecallTailSql(src: String, shortK: Int,
      corpus: String = "embeddings",
      qSrc: String = s"embeddings WHERE vec_id < $NumQueries"): String =
    s"""pqc AS (SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY sim_pq DESC, vec_id ASC) AS rk
      |    FROM $src) WHERE rk <= $shortK),
      |rr AS (SELECT c.q_id, c.vec_id,
      |        ${dotSql("q.embedding", "e.embedding")} AS sim_dec
      |      FROM pqc c
      |      JOIN eq e ON e.vec_id = c.vec_id
      |      JOIN eq q ON q.vec_id = c.q_id),
      |pq AS (SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
      |    FROM rr) WHERE rk <= $AnnTopK),
      |ex_s AS (SELECT q.vec_id AS q_id, e.vec_id,
      |        ${dotSql("q.embedding", "e.embedding")} AS sim_dec
      |      FROM $corpus e, (SELECT * FROM $qSrc) q
      |      WHERE e.vec_id <> q.vec_id),
      |ex AS (SELECT q_id, vec_id FROM (
      |    SELECT q_id, vec_id,
      |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
      |    FROM ex_s) WHERE rk <= $AnnTopK),
      |hits AS (SELECT ex.q_id, count(*) AS n_hits
      |         FROM ex JOIN pq ON ex.q_id = pq.q_id AND ex.vec_id = pq.vec_id
      |         GROUP BY ex.q_id)
      |SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
      |  (coalesce(h.n_hits, 0) * 1000000) // $AnnTopK AS recall_micro
      |FROM (SELECT vec_id AS q_id FROM $qSrc) q
      |LEFT JOIN hits h USING (q_id)
      |ORDER BY q_id""".stripMargin

  /** Per-subvector (codes, LUT) frames — the Spark mirror of
    * [[pqCodeLutCtesSql]]: codes = one corpus scan × 16-row broadcast per
    * subvector; LUT = nq × 16 rows. `corpusPred`/`qPred` split a mixed
    * corpus∪queries frame for the cross-modal legs (defaults reproduce
    * the single-modality q142/q143 behavior exactly).
    */
  private def pqCodeLegs(s: org.apache.spark.sql.SparkSession,
      eqf: org.apache.spark.sql.DataFrame, models: Seq[Ivf.Model],
      corpusPred: org.apache.spark.sql.Column = lit(true),
      qPred: org.apache.spark.sql.Column = col("vec_id") < NumQueries): Seq[(org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)] =
    (0 until PqM).map { m =>
      val sub = pqSub(eqf, m)
      val cents = Ivf.centsDF(s, models(m).cents)
      val codes = Ivf.ranked(sub.filter(corpusPred), cents).filter(col("rk") === 1)
        .select(col("vec_id"), col("cid"))
      val lut = sub.filter(qPred)
        .crossJoin(broadcast(cents))
        .select(col("vec_id").as("q_id"), col("cid"),
          call_function("vec_dot_long", col("eq"), col("ceq")).as("pdot"))
      (codes, lut)
    }

  /** ADC shortlist → exact rerank → recall report: the shared serving
    * tail of q142/q143/q155/q156 from an (q_id, vec_id, sim_pq) ADC
    * frame. `e` is corpus ∪ queries (one frame — the id domains are
    * disjoint by construction); `qPred` selects the query rows out of it.
    */
  private def pqServe(e: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame,
      adc: org.apache.spark.sql.DataFrame, shortK: Int,
      qPred: org.apache.spark.sql.Column = col("vec_id") < NumQueries): org.apache.spark.sql.DataFrame = {
    val shortlist = graft.operators.TopK.perKeyTopK(adc,
        keys = Seq(col("q_id")),
        order = Seq(col("sim_pq").desc, col("vec_id").asc),
        k = shortK, saltFrom = col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    val qEmb = e.filter(qPred)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val reranked = shortlist
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(qEmb), "q_id")
      .withColumn("sim_dec", dotDec(col("q_emb"), col("embedding")))
    val pq = graft.operators.TopK.perKeyTopK(reranked,
        keys = Seq(col("q_id")),
        order = Seq(col("sim_dec").desc, col("vec_id").asc),
        k = AnnTopK, saltFrom = col("vec_id"))
      .select(col("q_id"), col("vec_id").as("neighbor_id"))
    recallReport(e, exact, pq, qPred)
  }
  private val PqSubDim: Int = Ivf.Dim / PqM
  private val PqK = 16
  private val NearDupTau = 0.5 // fixture embeddings are near-uniform; max pair ≈ 0.6
  // Near-dup SRP fan-out: at θ(τ=0.5) ≤ 60° per-plane agreement is ≥ 2/3,
  // so 16 tables × 4 planes give ≥ 1−(1−(2/3)⁴)⁸⁺ ≈ 0.97 pair recall.
  // At production scale planes-per-table grows ~log₂(corpus/bucket_target)
  // to keep buckets (and the Σ|bucket|² pair space) bounded.
  private val NearDupTables = 16
  private val NearDupPlanes = 4
  private val IvfCells = 16
  private val IvfProbes = 2
  // q129 cluster-balanced sample: representatives kept per IVF cell.
  private val CellSampleK = 25
  // q76 random-projection prefilter: 32 projected dims, top-64 candidates
  // per query before the exact rerank (the near-uniform fixture is the
  // WORST case for JL separation — true top-3 sims sit barely above the
  // bulk — and these settings hold a ≥0.5 top-3 recall floor there;
  // separable production embeddings need fewer). The projection input is
  // quantized at 1e3 (not eq's 1e4) for the overflow budget: |q_i| ≤ 1e3
  // and |plane| ≤ 1000 give |proj_j| ≤ 64·1e6, so Σ₃₂ proj·proj ≤
  // 32·(6.4e7)² ≈ 1.3e17 ≪ 2^63 — and a prefilter needs no more
  // precision (the decimal rerank is exact).
  private val RpDim = 32
  private val RpCandidates = 64
  private val RpQuantScale = "1e3"
  // q68 SemDedup threshold: below q47's τ=0.5 because cell-bucketed pairs
  // are a subset of SRP-bucketed pairs; 0.45 keeps the fixture output
  // populated while staying a realistic semantic-dup bar.
  private val SemDedupTau = 0.45
  // q157 filtered-ANN predicate: the documents table's dominant language
  // (~44% of the fixture corpus — selective enough that post-filtering
  // would visibly lose shortlist mass, populated enough that every cell
  // keeps filtered members).
  private val FilteredAnnLang = "en"
  // A constrained query probes DEEPER than the unconstrained default
  // (IvfProbes = 2): the predicate thins every cell to its filtered
  // members, so the same probe depth carries less candidate mass — the
  // standard filtered-search adjustment (2× here; q158's sweep is the
  // evidence for how depth buys recall). The ADC/rerank cost stays
  // bounded by the FILTERED probed-cell mass, which is what makes the
  // deeper probe affordable.
  private val FilteredAnnProbes = 4
  // q158 probe sweep: the nprobe levels of the tuning curve, and the
  // deepest level (candidates are generated once at this depth).
  private val ProbeSweepLevels = Seq(1, 2, 4, 8)
  private val ProbeSweepMax = 8
  // q162 Matryoshka sweep: the prefix-dimension levels of the truncation
  // curve; the deepest level is the full vector (= the exact baseline,
  // since the 1e6-quantized integer dot orders identically to the
  // decimal-rescaled dotSql score).
  private[graft] val MrlDims = Seq(8, 16, 32, 64)

  /** q167's Matryoshka prefix width when composed with the IVF inverted
    * file — the q162 curve's knee (d=16 reads a quarter of the vector
    * bytes at near-saturated recall on the fixture), and the gateway's
    * default `dims`.
    */
  private[graft] val MrlIvfDims = 16
  // q164 binary-shortlist sweep: rerank depths of the tuning curve; the
  // deepest level generates the candidates once (q158's tagged pattern).
  private[graft] val BinSweepLevels = Seq(8, 16, 32, 64, 128)
  private val BinSweepMax = 128

  /** Shared SRP index rows (vec_id, eq, tbl, bucket) for ALL 16 tables:
    * q40's 8 tables are the PREFIX of q47's 16 (both draw planes from the
    * seed family "hp|t·4+p|i" with 4 planes/table), so the plane dots are
    * computed once per (session, fixture dir) and persisted — the library
    * analog of building an LSH index once and serving every query from
    * it, which is exactly the 100 TB posture (the index is materialized,
    * not recomputed per query). `eq` (the 1e4 quantization) rides along
    * for q47's integer prefilter; q40 projects it away.
    */
  private val srpIndexCache = graft.SessionCache.frames("srpIndex", stores = Set(SrpStoreName))

  /** Fitted IVF centroids per (session, fixture dir) — q53 and q68 share
    * one k-means fit (the index-build cost), exactly as the SRP bucket
    * rows are shared between q40/q47. The model is k × dim driver-side
    * longs; caching it changes no result (fit is deterministic). The
    * image-side family ([[xmodalIvfModel]]) has its own cache.
    */
  private val ivfModelCache = new graft.SessionCache[Ivf.Model](
    "ivfModel", stores = Set(SrpStoreName, IvfModelStoreName))(_ => ())
  private val xmIvfModelCache = new graft.SessionCache[Ivf.Model](
    "xmIvfModel", stores = Set(SrpStoreName, XmIvfModelStoreName))(_ => ())

  /** The exact ground-truth rank lists every recall report prices its
    * approximate leg against, shared per (session, corpus[, variant]) —
    * the r17 optimization (guide §2.4: don't recompute what is already
    * derived). Eleven queries (q80/q101/q124/q142/q143/q158/q161/q162/
    * q164/q166/q167) re-ran the identical corpus × query-batch exact
    * decimal top-k as their referent; the cross-modal pair (q155/q156)
    * and the filtered family (q157/q159) each share their own variant.
    * The referent is ground TRUTH, not an approximation artifact: caching
    * it is the same built-once/served-many posture as the IVF/PQ models
    * and [[graft.operators.CorpusOps.bm25Stats]] — nq·k rows persisted,
    * results unchanged (the exact top-k has a total tiebreak). Built from
    * the fixture tables alone, which are immutable within a session (the
    * bm25Stats assumption), so no store mutation rebuilds it.
    */
  private val exactRefCache = graft.SessionCache.frames("exactRef")

  /** Unfiltered exact referent: top-[[AnnTopK]] by decimal dot over the
    * `embeddings` corpus for the fixture query batch (`vec_id <
    * NumQueries`), as `(q_id, neighbor_id)`.
    */
  private[graft] def exactFixtureRef(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame =
    exactRefCache.getOrElseUpdate(s, dir) {
      val e = Tables.load(s, dir, "embeddings")
      cosineTopK(e, e.filter(col("vec_id") < NumQueries), AnnTopK,
          nQueries = NumQueries)
        .select(col("q_id"), col("neighbor_id"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** Variant referents under the same cache: `key` names the corpus/query
    * transform (`|xmf`, `|xmr`, `|lang=…`) and `build` constructs the
    * exact `(q_id, neighbor_id)` frame on first use.
    */
  private[graft] def exactRefVariant(s: org.apache.spark.sql.SparkSession,
      dir: String, key: String)(
      build: => org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    exactRefCache.getOrElseUpdate(s, dir, key)(
      build.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  /** The q53/q143-geometry probed-cell candidate pairs over the fixture
    * query batch, shared per (session, dir) — q143/q166/q167 build the
    * identical `(q_id, vec_id)` frame off the shared IVF model (cells at
    * rk=1, probes at rk ≤ [[IvfProbes]]); one assignment pass serves all
    * three. Rebuilds with the text-side IVF model it is cut from.
    */
  private val cellCandCache = graft.SessionCache.frames("cellCand", upstream = Seq(ivfModelCache))

  /** The cell count the fixture queries fit with (the DuckDB oracle
    * unrolls it into static SQL) — also the k the assignment maintainer
    * bootstraps with by default, so store-served ANN stays comparable to
    * batch q53.
    */
  private[graft] def ivfFixtureCells: Int = IvfCells

  /** Durable tier first (the [[graft.IndexStore]] pattern, as for the
    * shingle index): a configured store serves the fitted centroids from
    * parquet — a new session skips the whole k-means fit (seeding sample +
    * Lloyd passes over the corpus). [[Ivf.servedModel]] owns the refresh
    * policy: a corpus grown ≥ 2× past the stored fit refits (appended
    * embeddings enter the SRP store incrementally, but centroids only
    * learn them on a refit); smaller drift warns and serves.
    */
  private[graft] def ivfModel(s: org.apache.spark.sql.SparkSession, dir: String,
      eqf: org.apache.spark.sql.DataFrame): Ivf.Model =
    servedIvfModel(ivfModelCache, IvfModelStoreName, s, dir, eqf)

  /** Image-side coarse IVF model for the cross-modal compound path
    * (q155): same fit/serve policy as [[ivfModel]], own cache and store
    * entry. `eqImg` must be the quantized IMAGE-side rows only.
    */
  private[graft] def xmodalIvfModel(s: org.apache.spark.sql.SparkSession, dir: String,
      eqImg: org.apache.spark.sql.DataFrame): Ivf.Model =
    servedIvfModel(xmIvfModelCache, XmIvfModelStoreName, s, dir, eqImg)

  private def servedIvfModel(cache: graft.SessionCache[Ivf.Model], store: String,
      s: org.apache.spark.sql.SparkSession, dir: String, eqf: org.apache.spark.sql.DataFrame): Ivf.Model =
    cache.getOrElseUpdate(s, dir)(graft.IndexStore.configuredDir(s) match {
      case None => Ivf.fit(eqf, IvfCells)
      case Some(root) => Ivf.servedModel(s, graft.IndexStore.storePath(root, dir, store), eqf, IvfCells)
    })

  /** IVF ANN served OFF THE MAINTAINED ASSIGNMENT STORE — q53's exact
    * body (same probes/top-k/DECIMAL rerank) with both legs swapped to
    * stored artifacts: centroids from the durable model entry, corpus
    * cell assignments from the assignment store (zero corpus-wide argmax
    * at serve time — the store IS the inverted file), raw/quantized
    * vectors from the assignment rows. Spec-pinned equal to batch q53
    * whenever the stored model covers the stored corpus (always true
    * right after a drift refit; in between, assignments lag the ideal
    * centroids exactly as an IVF index is allowed to).
    *
    * `queriesOpt` swaps the query set for an EXTERNAL `(vec_id,
    * embedding)` frame — the cross-modal serving path (q156's shape off
    * the store): queries from another modality, id-domain disjoint from
    * the stored corpus, probe the stored centroids and rerank against the
    * stored vectors. The store-side legs are IDENTICAL to the
    * same-modality path; only the probe/rerank query frame changes.
    *
    * `candIdsOpt` composes an attribute constraint into the SERVING path
    * (q157's predicate leg off the maintained store): a `(vec_id)` frame
    * of allowed corpus ids semi-joins the stored cell assignments BEFORE
    * the probe join, so candidates are bounded by the FILTERED stored
    * cell mass and excluded rows are never reranked — constrained ANN at
    * the store tier without post-filtering the shortlist.
    */
  private[graft] def ivfAnnFromStore(s: org.apache.spark.sql.SparkSession,
      dir: String, numQueries: Int = NumQueries, probes: Int = IvfProbes,
      topK: Int = AnnTopK,
      queriesOpt: Option[org.apache.spark.sql.DataFrame] = None,
      family: String = "",
      candIdsOpt: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    val assignPath = graft.IndexStore.requireCommitted(s, dir,
      graft.streaming.IndexMaintenance.IvfAssignStoreName + family, "ivfAnnFromStore")
    val modelPath = graft.IndexStore.requireCommitted(s, dir,
      if (family.isEmpty) IvfModelStoreName else XmIvfModelStoreName, "ivfAnnFromStore")
    val model = Ivf.load(s, modelPath).getOrElse(throw new IllegalStateException(
      s"torn IVF model store at $modelPath — re-bootstrap"))
    // snapshot isolation vs a concurrent maintainer: serve either the old
    // or the new COMMITTED store, never a torn append's rows
    val store = graft.IndexStore.verifiedRead(s, assignPath)
    val cells0 = store.select(col("vec_id"), col("cid").as("cell"))
    val cells = Some(candIdsOpt match {
      case Some(idsDf) => cells0.join(idsDf.select(col("vec_id")).distinct(), "vec_id")
      case None => cells0
    })
    queriesOpt match {
      case None =>
        Ivf.annTopK(
          store.select(col("vec_id"), col("embedding")),
          store.filter(col("vec_id") < numQueries).select(col("vec_id"), col("eq")),
          Ivf.centsDF(s, model.cents),
          numQueries, probes, topK, dotDec, cellsOpt = cells)
      case Some(q) =>
        val qd = q.select(col("vec_id"), col("embedding"))
        Ivf.annTopK(
          store.select(col("vec_id"), col("embedding")),
          Ivf.quantize(qd).select(col("vec_id"), col("eq")),
          Ivf.centsDF(s, model.cents),
          numQueries, probes, topK, dotDec, cellsOpt = cells,
          qEmbOpt = Some(qd.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))))
    }
  }

  /** SRP index rows (vec_id, eq, tbl, bucket) for ANY embeddings frame —
    * the full corpus on a build, just the increment on an append.
    * `planesPerTable ≤ 0` derives the plane count from the frame's row
    * count via [[Sizing.derivePlanes]] (log₂ growth keeps E[|bucket|] —
    * and with it the Σ|bucket|² pair space — bounded at any corpus size);
    * the fixture index passes the explicit [[NearDupPlanes]] because the
    * DuckDB oracle regenerates those exact planes in static SQL, and an
    * APPEND must reuse the build's plane family regardless of the
    * increment's size.
    */
  private[graft] def srpRows(e0: org.apache.spark.sql.DataFrame,
      planesPerTable: Int = NearDupPlanes): org.apache.spark.sql.DataFrame = {
    graft.plans.GraftExtensions.register(e0.sparkSession)
    val pp = if (planesPerTable > 0) planesPerTable else Sizing.derivePlanes(e0.count())
    val planes = hyperplaneInts(NearDupTables, pp, Dim)
    val e = e0
      .repartition(col("vec_id"))
      .withColumn("eq", transform(col("embedding"),
        x => floor(x.cast(DoubleType) * 1e4).cast(LongType)))
    val tableStructs = planes.indices.map { t =>
      struct(lit(t).as("tbl"), srpBucket(col("ei"), planes(t)).as("bucket"))
    }
    e.withColumn("ei", intScaled(col("embedding")))
      .select(col("vec_id"), col("eq"), explode(array(tableStructs: _*)).as("tb"))
      .select(col("vec_id"), col("eq"), col("tb.tbl").as("tbl"), col("tb.bucket").as("bucket"))
  }

  /** The sidecar geometry of an SRP store built with `planesPerTable`:
    * everything an append must reuse (plane family) or a load must agree
    * with (hyperplane seed family, quantization scales, dimension) for
    * its bucket ids to be comparable with the stored rows.
    */
  private def srpParams(planesPerTable: Int): Map[String, String] = Map(
    "planes" -> planesPerTable.toString,
    "tables" -> NearDupTables.toString,
    "dim" -> Dim.toString,
    "intScale" -> "1e9",
    "eqScale" -> "1e4")

  /** Build (or serve) the durable SRP index over an arbitrary embeddings
    * frame — the library entry the fixture [[srpIndex]] and the
    * incremental specs share. `planesPerTable ≤ 0` derives the plane
    * count from the frame's row count ([[Sizing.derivePlanes]]); the
    * RESOLVED plane count is recorded in the store's metadata sidecar, so
    * a later [[appendToSrpIndex]] buckets its increment under the build's
    * exact plane family (deriving from the increment's own size would
    * silently mix two incompatible bucket families in one store).
    */
  private[graft] def buildSrpIndex(s: org.apache.spark.sql.SparkSession, dir: String,
      embeddings: org.apache.spark.sql.DataFrame,
      planesPerTable: Int = NearDupPlanes): org.apache.spark.sql.DataFrame = {
    // One count() action at most per build/load: the plane derivation and
    // servedFrom's by-name corpusCount (staleness check + sidecar) all
    // share this lazy val.
    lazy val n = embeddings.count()
    val pp = if (planesPerTable > 0) planesPerTable else Sizing.derivePlanes(n)
    graft.IndexStore.servedFrom(s, dir, SrpStoreName,
      srpParams(pp), n)(srpRows(embeddings, pp))
  }

  private[graft] def srpIndex(s: org.apache.spark.sql.SparkSession, dir: String): org.apache.spark.sql.DataFrame =
    srpIndexCache.getOrElseUpdate(s, dir)(
      buildSrpIndex(s, dir, Tables.load(s, dir, "embeddings"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER))

  /** Incremental-index append (the [[TextAnalysis.appendToShingleIndex]]
    * counterpart): plane-project ONLY the new embedding batch into the
    * durable store; the append changes the store's identity, so the
    * session tier rebuilds — the SRP frame and every centroid family fit
    * on the pre-append corpus — and the next q40/q47 serves old∪new
    * bucket rows from disk at O(increment) build cost and the next model
    * consumer re-runs [[Ivf.servedModel]]'s refresh policy against the
    * grown corpus.
    * The increment is bucketed under the BUILD's plane family, read from
    * the store's metadata sidecar — never this batch's own default or
    * derived planes, which for a non-default build would produce bucket
    * ids incomparable with the stored rows (wrong candidate pairs, no
    * error). A store without metadata refuses the append.
    */
  private[graft] def appendToSrpIndex(s: org.apache.spark.sql.SparkSession,
      dir: String, newEmbeddings: org.apache.spark.sql.DataFrame,
      extraMeta: Map[String, String] = Map.empty): Unit = {
    val planes = graft.IndexStore.storedMeta(s, dir, SrpStoreName)
      .flatMap(_.get("planes")).map(_.toInt)
      .getOrElse(throw new IllegalStateException(
        s"appendToSrpIndex: no committed SRP store with metadata for $dir — build before appending"))
    graft.IndexStore.append(s, dir, SrpStoreName,
      srpRows(newEmbeddings, planes), newEmbeddings.count(), extraMeta)
  }

  /** Brute-force cosine top-k of `queries` against corpus `e0` — q39's
    * body as a library operator. The query set broadcasts against ONE
    * corpus scan; when queries × dims outgrows `maxBroadcastElems`
    * (1k+-dim embeddings with a big query set — the SCALE.md known
    * limit), the query set splits into hash-sliced chunks, each
    * broadcast against its own corpus scan, and the union of per-chunk
    * top-k IS the exact answer (per-query results never depend on other
    * queries). `nQueries < 0` counts the query frame; callers that know
    * their query count pass it so the common path adds no action — and
    * small query sets derive chunks = 1 without even probing the
    * embedding width ([[Sizing.broadcastChunks]]).
    */
  private[graft] def cosineTopK(e0: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, topK: Int, nQueries: Long = -1L,
      maxBroadcastElems: Long = Sizing.MaxQueryBroadcastElems): org.apache.spark.sql.DataFrame = {
    val e = e0.repartition(col("vec_id")) // rebalance narrow scan for per-row dot work
    val q = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val nq = if (nQueries >= 0) nQueries else q.count()
    // dims probe is by-name — only runs past the no-probe bound; an empty
    // query frame (an overstated nQueries hint) degrades to one chunk
    val chunks = Sizing.broadcastChunks(nq,
      q.select(size(col("q_emb"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1), maxBroadcastElems)
    // Salted two-phase top-k, NOT a plain per-q_id window: the scored
    // frame is corpus × queries rows, and a window partitioned only by
    // q_id funnels the whole corpus through one task per query at scale.
    // The salted local phase cuts each (q_id, salt) bucket to k before
    // the real per-query window sees ≤ k·salts rows (exact — the order
    // has a unique tiebreak).
    def topk(qc: org.apache.spark.sql.DataFrame) =
      graft.operators.TopK.perKeyTopK(
        e.crossJoin(broadcast(qc))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("sim_dec", dotDec(col("q_emb"), col("embedding"))),
        keys = Seq(col("q_id")),
        order = Seq(col("sim_dec").desc, col("vec_id").asc),
        k = topK, saltFrom = col("vec_id"))
    val body =
      if (chunks == 1) topk(q)
      else (0 until chunks)
        .map(i => topk(q.filter(Sizing.chunkSlice(col("q_id"), chunks) === i)))
        .reduce(_ union _)
    body
      .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("sim_dec").cast(DoubleType).as("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** SRP-LSH ANN top-k over a bucket-row frame (the shared/durable index
    * rows of [[srpRows]]/[[buildSrpIndex]]) — q40's body as a library
    * operator: candidates from the (tbl, bucket) self equi-join on the
    * first `tables` tables, then an exact decimal rerank of the
    * candidate set. The rerank's query-embedding broadcast chunks past
    * `maxBroadcastElems` exactly as [[Ivf.annTopK]]'s does (hash-sliced —
    * exact, per-query results are independent); the per-query rerank
    * window stays plain because the candidate set is bucket-bounded by
    * construction (~tables × bucket_target rows per query under derived
    * sizing), never corpus × queries.
    */
  private[graft] def srpAnnTopK(e0: org.apache.spark.sql.DataFrame,
      bk0: org.apache.spark.sql.DataFrame, numQueries: Int, tables: Int, topK: Int,
      maxBroadcastElems: Long = Sizing.MaxQueryBroadcastElems): org.apache.spark.sql.DataFrame = {
    val e = e0.repartition(col("vec_id"))
    val bk = bk0.filter(col("tbl") < tables)
      .select(col("vec_id"), col("tbl"), col("bucket"))
    val cand = bk.as("q").filter(col("q.vec_id") < numQueries)
      .join(bk.as("b"), col("q.tbl") === col("b.tbl") && col("q.bucket") === col("b.bucket") &&
        col("b.vec_id") =!= col("q.vec_id"))
      .select(col("q.vec_id").as("q_id"), col("b.vec_id").as("vec_id"))
      .distinct()
    // Explicitly query-set-bounded (see Ivf.annTopK): never lean on
    // constraint inference to keep a broadcast small.
    val qe = e.filter(col("vec_id") < numQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val chunks = Sizing.broadcastChunks(numQueries,
      qe.select(size(col("q_emb"))).limit(1).collect()
        .headOption.map(_.getInt(0)).getOrElse(1), maxBroadcastElems)
    val w = Window.partitionBy(col("q_id")).orderBy(col("sim_dec").desc, col("vec_id").asc)
    def rerank(candC: org.apache.spark.sql.DataFrame, qeC: org.apache.spark.sql.DataFrame) =
      candC
        .join(broadcast(qeC), "q_id")
        .join(e, "vec_id")
        .withColumn("sim_dec", dotDec(col("q_emb"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= topK)
    val body =
      if (chunks == 1) rerank(cand, qe)
      else (0 until chunks).map { i =>
        rerank(cand.filter(Sizing.chunkSlice(col("q_id"), chunks) === i),
          qe.filter(Sizing.chunkSlice(col("q_id"), chunks) === i))
      }.reduce(_ union _)
    body
      .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("sim_dec").cast(DoubleType).as("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** Embedding near-dup pairs over an arbitrary SRP bucket-row frame —
    * q47's three-phase body (bucket equi-join candidates → codegen'd
    * integer prefilter → exact decimal verify at `tau`), factored so the
    * incremental-store specs can compare a build+append index against a
    * full recompute under the SAME plane family.
    */
  private[graft] def neardupPairs(e0: org.apache.spark.sql.DataFrame,
      bk: org.apache.spark.sql.DataFrame, tau: Double): org.apache.spark.sql.DataFrame = {
    // both sessions: the bucket frame may come from another session's
    // store load, and the analyzer resolves vec_dot_long in ITS catalog
    graft.plans.GraftExtensions.register(e0.sparkSession)
    graft.plans.GraftExtensions.register(bk.sparkSession)
    val e = e0.repartition(col("vec_id"))
    val survivors = bk.as("a")
      .join(bk.as("b"), col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(call_function("vec_dot_long", col("a.eq"), col("b.eq"))
        >= ((tau - 0.02) * 1e8).toLong)
      .select(col("a.vec_id").as("a_vec"), col("b.vec_id").as("b_vec"))
      .distinct()
    val ea = e.select(col("vec_id").as("a_vec"), col("embedding").as("a_emb"))
    val eb = e.select(col("vec_id").as("b_vec"), col("embedding").as("b_emb"))
    survivors
      .join(ea, "a_vec")
      .join(eb, "b_vec")
      .withColumn("sim_dec", dotDec(col("a_emb"), col("b_emb")))
      .filter(col("sim_dec") >= tau)
      .select(col("a_vec"), col("b_vec"), col("sim_dec").cast(DoubleType).as("sim"))
      .orderBy(col("a_vec"), col("b_vec"))
  }

  /** SemDedup drop set over an arbitrary probe-cell frame — q68's body
    * (cell self-join candidates → codegen'd integer prefilter → exact
    * decimal verify → min-anchor survivor algebra), factored so the
    * derived-sizing scale measurement ([[graft.AnnBench]]) runs the same
    * pipeline over a derived IVF model. `cells` carries one row per
    * (vector × probed cell): (vec_id, cell, eq).
    */
  private[graft] def semDedupDrops(e0: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame, tau: Double): org.apache.spark.sql.DataFrame = {
    // both sessions, as in neardupPairs: a probe-cell frame built off a
    // store-loaded model may live in another session, and the analyzer
    // resolves vec_dot_long in ITS catalog
    graft.plans.GraftExtensions.register(e0.sparkSession)
    graft.plans.GraftExtensions.register(cells.sparkSession)
    val e = e0.repartition(col("vec_id"))
    val survivors = cells.as("a")
      .join(cells.as("b"), col("a.cell") === col("b.cell") &&
        col("a.vec_id") < col("b.vec_id"))
      .filter(call_function("vec_dot_long", col("a.eq"), col("b.eq"))
        >= ((tau - 0.02) * 1e8).toLong)
      .select(col("a.vec_id").as("a_vec"), col("b.vec_id").as("b_vec"))
      .distinct()
    val ea = e.select(col("vec_id").as("a_vec"), col("embedding").as("a_emb"))
    val eb = e.select(col("vec_id").as("b_vec"), col("embedding").as("b_emb"))
    survivors
      .join(ea, "a_vec")
      .join(eb, "b_vec")
      .withColumn("sim_dec", dotDec(col("a_emb"), col("b_emb")))
      .filter(col("sim_dec") >= tau)
      .groupBy(col("b_vec"))
      // DECIMAL(20,12) internally, DOUBLE at the output boundary (the
      // q119 rule): sim_dec stays exact decimal through the whole verify,
      // and the ONE final decimal→double cast is correctly rounded on
      // both engines (the oracle routes its cast through VARCHAR). The
      // old DECIMAL(20,12) render was bit-exact too, but wide decimals in
      // a compared output column break the driver's hash canonicalization
      // (r9: the only three hash fails were the only three wide-decimal
      // outputs).
      .agg(min(col("a_vec")).as("kept_anchor"),
        min_by(col("sim_dec"), col("a_vec")).cast(DoubleType).as("anchor_sim"))
      .select(col("b_vec").as("vec_id"), col("kept_anchor"), col("anchor_sim"))
      .orderBy(col("vec_id"))
  }

  // Quantized-integer dot, mirroring VectorFunctions.dotDec element for
  // element: ⌊x·1e6⌋ BIGINT products summed exactly, then an exact ·1e-12
  // decimal rescale. No double→decimal rounding anywhere → bit-identical
  // across engines at any scale (the old per-product DECIMAL(20,12) cast
  // was the one cross-engine rounding boundary — see VectorFunctions).
  private val simSqlList =
    s"list_transform(generate_series(1, $Dim), i -> CAST(floor(CAST(%s[i] AS DOUBLE) * 1e6) AS BIGINT) * CAST(floor(CAST(%s[i] AS DOUBLE) * 1e6) AS BIGINT))"

  private[graft] def dotSql(a: String, b: String) =
    s"CAST(CAST(list_sum(${simSqlList.format(a, b)}) AS DECIMAL(20,0)) * CAST(0.000000000001 AS DECIMAL(14,12)) AS DECIMAL(20,12))"

  /** DuckDB SQL for the `(vec_id, tbl, bucket)` SRP rows of every table —
    * the same md5-seeded integer planes the Spark side regenerates via
    * [[graft.functions.VectorFunctions.hyperplaneInts]].
    */
  private def srpBucketRowsSql(planes: Array[Array[Array[Int]]]): String = {
    def planeList(t: Int, p: Int): String =
      planes(t)(p).map(_ - 1000).mkString("[", ", ", "]")
    def bucketExpr(t: Int): String = planes(t).indices.map { p =>
      val dot = s"list_sum(list_transform(generate_series(1, $Dim), " +
        s"i -> CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e9) AS BIGINT) * (${planeList(t, p)}[i])))"
      s"CASE WHEN $dot >= 0 THEN ${1 << p} ELSE 0 END"
    }.mkString(" + ")
    planes.indices
      .map(t => s"SELECT vec_id, $t AS tbl, ${bucketExpr(t)} AS bucket FROM embeddings")
      .mkString("\n        |  UNION ALL ")
  }

  val specs: Seq[QuerySpec] = Seq(

    // ----- brute-force cosine top-k (baseline; corpus scanned once) -------
    QuerySpec("q39_cosine_topk")(
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NumQueries),
        |s AS (SELECT q.q_id, e.vec_id,
        |        ${dotSql("q.q_emb", "e.embedding")} AS sim_dec
        |      FROM embeddings e, q WHERE e.vec_id <> q.q_id),
        |r AS (SELECT q_id, vec_id, sim_dec,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |      FROM s)
        |SELECT q_id, rk, vec_id AS neighbor_id, CAST(sim_dec AS DOUBLE) AS sim
        |FROM r WHERE rk <= $TopK
        |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      cosineTopK(e, e.filter(col("vec_id") < NumQueries), TopK, nQueries = NumQueries)
    },

    // ----- hard-negative mining (contrastive-training data op) ------------
    // For each query embedding: the top-k most-similar corpus vectors with
    // a DIFFERENT label — the hard negatives a contrastive/embedding
    // trainer mines per anchor. Same single corpus scan + broadcast query
    // set + salted two-phase top-k as q39; the label-inequality filter
    // runs BEFORE the decimal dot, so the expensive arithmetic only
    // touches cross-label pairs (at scale the filter prunes ~1/|labels|
    // of the pair space for free). Exact and totally ordered (sim desc,
    // vec_id asc) — oracle-checkable like the rest of the family.
    QuerySpec("q95_hard_negatives")(
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        |           FROM embeddings WHERE vec_id < $NumQueries),
        |s AS (SELECT q.q_id, e.vec_id,
        |        ${dotSql("q.q_emb", "e.embedding")} AS sim_dec
        |      FROM embeddings e, q
        |      WHERE e.vec_id <> q.q_id AND e.label <> q.q_label),
        |r AS (SELECT q_id, vec_id, sim_dec,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |      FROM s)
        |SELECT q_id, rk, vec_id AS neighbor_id, CAST(sim_dec AS DOUBLE) AS sim
        |FROM r WHERE rk <= $TopK
        |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      val e0 = Tables.load(s, dir, "embeddings")
      val e = e0.repartition(col("vec_id"))
      val q = e0.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      graft.operators.TopK.perKeyTopK(
        e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id") && col("label") =!= col("q_label"))
          .withColumn("sim_dec", dotDec(col("q_emb"), col("embedding"))),
        keys = Seq(col("q_id")),
        order = Seq(col("sim_dec").desc, col("vec_id").asc),
        k = TopK, saltFrom = col("vec_id"))
        .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"),
          col("sim_dec").cast(DoubleType).as("sim"))
        .orderBy(col("q_id"), col("rk"))
    },

    // ----- positive-pair mining (q95's complement) ------------------------
    // For each query embedding: the top-k most-similar corpus vectors with
    // the SAME label (self excluded) — the positive side of a contrastive
    // training pair. Identical plan shape to q95 (single corpus scan,
    // broadcast query set, salted two-phase top-k) with the label filter
    // flipped to equality; together they emit the (anchor, positive,
    // negatives) triplets an embedding trainer consumes. The equality
    // filter prunes harder than q95's (~1/|labels| of the pair space
    // SURVIVES instead of being removed), again ahead of the decimal dot.
    QuerySpec("q104_positive_pairs")(
      s"""WITH q AS (SELECT vec_id AS q_id, embedding AS q_emb, label AS q_label
        |           FROM embeddings WHERE vec_id < $NumQueries),
        |s AS (SELECT q.q_id, e.vec_id,
        |        ${dotSql("q.q_emb", "e.embedding")} AS sim_dec
        |      FROM embeddings e, q
        |      WHERE e.vec_id <> q.q_id AND e.label = q.q_label),
        |r AS (SELECT q_id, vec_id, sim_dec,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |      FROM s)
        |SELECT q_id, rk, vec_id AS neighbor_id, CAST(sim_dec AS DOUBLE) AS sim
        |FROM r WHERE rk <= $TopK
        |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      val e0 = Tables.load(s, dir, "embeddings")
      val e = e0.repartition(col("vec_id"))
      val q = e0.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"),
          col("label").as("q_label"))
      graft.operators.TopK.perKeyTopK(
        e.crossJoin(broadcast(q))
          .filter(col("vec_id") =!= col("q_id") && col("label") === col("q_label"))
          .withColumn("sim_dec", dotDec(col("q_emb"), col("embedding"))),
        keys = Seq(col("q_id")),
        order = Seq(col("sim_dec").desc, col("vec_id").asc),
        k = TopK, saltFrom = col("vec_id"))
        .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"),
          col("sim_dec").cast(DoubleType).as("sim"))
        .orderBy(col("q_id"), col("rk"))
    },

    // ----- LSH-bucketed ANN (multi-table SRP; candidates via bucket join) -
    QuerySpec("q40_ann_lsh") {
      val bkRows = srpBucketRowsSql(hyperplaneInts(AnnTables, AnnPlanes, Dim))
      s"""WITH bk AS (
        |  $bkRows),
        |cand AS (SELECT DISTINCT q.vec_id AS q_id, b.vec_id
        |         FROM bk q JOIN bk b ON q.tbl = b.tbl AND q.bucket = b.bucket
        |         WHERE q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
        |s AS (SELECT c.q_id, c.vec_id,
        |        ${dotSql("qe.embedding", "ee.embedding")} AS sim_dec
        |      FROM cand c
        |      JOIN embeddings qe ON qe.vec_id = c.q_id
        |      JOIN embeddings ee ON ee.vec_id = c.vec_id),
        |r AS (SELECT q_id, vec_id, sim_dec,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |      FROM s)
        |SELECT q_id, rk, vec_id AS neighbor_id, CAST(sim_dec AS DOUBLE) AS sim
        |FROM r WHERE rk <= $AnnTopK
        |ORDER BY q_id, rk""".stripMargin
    } { (s, dir) =>
      // q40's tables are the shared index's first 8 — one projection, no
      // plane dots recomputed; the body is the library operator.
      srpAnnTopK(Tables.load(s, dir, "embeddings"), srpIndex(s, dir),
        NumQueries, AnnTables, AnnTopK)
    },

    // ----- embedding-cosine near-dup pairs (dedup family) -----------------
    // Three-phase, never all-pairs: (1) SRP bucketing — candidate pairs are
    // generated by a (tbl, bucket) self equi-join (shuffle keyed by bucket;
    // Σ|bucket|² pair rows, NOT n²); (2) an exact-integer prefilter
    // (floor(x·1e4) quantization; error bound 64·(2e-4+1e-8) ≈ 0.013 < the
    // 0.02 margin, so no colliding pair at τ is dropped); (3) the
    // DECIMAL(20,12) dot decides exactly at τ. All phases are bit-exact
    // across engines (md5-seeded planes, integer dots, decimal folds), so
    // the bucketed formulation itself is the oracle. 16×4 tables give
    // ≈0.97 recall at τ=0.5; at production scale planes-per-table grows
    // with log₂(corpus) to keep buckets bounded.
    QuerySpec("q47_embedding_neardup") {
      val bkRows = srpBucketRowsSql(hyperplaneInts(NearDupTables, NearDupPlanes, Dim))
      val pre = s"list_sum(list_transform(generate_series(1, $Dim), " +
        "i -> CAST(floor(CAST(ae.embedding[i] AS DOUBLE) * 1e4) AS BIGINT)" +
        " * CAST(floor(CAST(be.embedding[i] AS DOUBLE) * 1e4) AS BIGINT)))"
      s"""WITH bk AS (
        |  $bkRows),
        |cand AS (SELECT DISTINCT a.vec_id AS a_vec, b.vec_id AS b_vec
        |         FROM bk a JOIN bk b ON a.tbl = b.tbl AND a.bucket = b.bucket
        |         WHERE a.vec_id < b.vec_id),
        |s AS (SELECT c.a_vec, c.b_vec,
        |        ${dotSql("ae.embedding", "be.embedding")} AS sim_dec
        |      FROM cand c
        |      JOIN embeddings ae ON ae.vec_id = c.a_vec
        |      JOIN embeddings be ON be.vec_id = c.b_vec
        |      WHERE $pre >= ${((NearDupTau - 0.02) * 1e8).toLong})
        |SELECT a_vec, b_vec, CAST(sim_dec AS DOUBLE) AS sim
        |FROM s WHERE sim_dec >= $NearDupTau
        |ORDER BY a_vec, b_vec""".stripMargin
    } { (s, dir) =>
      // The quantized array rides the (row-per-table) bucket rows, so the
      // codegen'd integer prefilter runs PIPELINED on the bucket-join
      // output — the pair space is never shuffled. Only prefilter
      // survivors (a tiny set at any scale: pairs within 0.02 of τ) are
      // deduped and re-joined for the exact decimal verify. Shuffle cost
      // is 2 × (corpus × tables) array-bearing rows, not O(pairs).
      neardupPairs(Tables.load(s, dir, "embeddings"), srpIndex(s, dir), NearDupTau)
    },

    // ----- IVF ANN: spherical k-means cells, multi-probe, exact rerank ----
    // The inverted-file alternative to q40's hash buckets: centroids are
    // genuine k-means — deterministic k-means++ (farthest-first) seeding
    // over a bounded hash sample, then Lloyd iterations to a fixed point
    // (hard-capped), per [[Ivf]]. Everything stays integer/IEEE-exact, so
    // DuckDB recomputes the IDENTICAL centroids from the unrolled
    // recurrence: sums of |q|≤1e4 ints are exact, the double division is
    // correctly rounded in both engines, and floor lands identically.
    // Assignment, top-2 probing, and exact rerank as before; empty
    // clusters simply drop in both engines.
    QuerySpec("q53_ann_ivf") {
      val qList = s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e4) AS BIGINT))"
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $qList AS q FROM embeddings),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |scored AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, $Dim), i -> e.q[i] * c.cq[i])) AS idot
        |  FROM eq e, cents c),
        |ranked AS (SELECT vec_id, cid, idot,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM scored),
        |cells AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS cell FROM ranked WHERE vec_id < $NumQueries AND rk <= $IvfProbes),
        |cand AS (SELECT DISTINCT p.q_id, c.vec_id
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id),
        |s AS (SELECT c.q_id, c.vec_id,
        |        ${dotSql("qe.embedding", "ee.embedding")} AS sim_dec
        |      FROM cand c
        |      JOIN embeddings qe ON qe.vec_id = c.q_id
        |      JOIN embeddings ee ON ee.vec_id = c.vec_id),
        |r AS (SELECT q_id, vec_id, sim_dec,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |      FROM s)
        |SELECT q_id, rk, vec_id AS neighbor_id, CAST(sim_dec AS DOUBLE) AS sim
        |FROM r WHERE rk <= $AnnTopK
        |ORDER BY q_id, rk""".stripMargin
    } { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings").repartition(col("vec_id"))
      val eqf = Ivf.quantize(e)
      val model = ivfModel(s, dir, eqf)
      Ivf.annTopK(e, eqf, Ivf.centsDF(s, model.cents),
        NumQueries, IvfProbes, AnnTopK, dotDec)
    },

    // ----- random-projection prefilter + exact rerank ---------------------
    // The compressed-domain ANN pattern the bucketed paths (q40/q53) don't
    // cover: project every embedding to RpDim integer components
    // (Johnson–Lindenstrauss-style random projection — public lemma; the
    // md5-seeded "rp|j|i" plane family is regenerated identically by both
    // engines), score the corpus against the query set IN THE PROJECTED
    // SPACE (32-dim integer dots through the codegen'd vec_dot_long — 2×
    // less arithmetic than the 64-dim decimal scan, integer multiplies in
    // place of DECIMAL(20,12) folds, and far less IO when the projection
    // is materialized alongside the index), keep the top-m
    // candidates per query, and exact-rerank only those with the decimal
    // dot. Deterministic end-to-end: integer projections and scores are
    // exact in both engines, ties break on vec_id, so the approximate
    // pipeline is oracle-checkable — not just recall-tested. Scale: one
    // corpus scan with row-local projection, query set broadcast (the
    // chunking budget applies as in q39), rerank bounded at m·queries
    // rows.
    QuerySpec("q76_rp_prefilter_topk") {
      val planes = projectionInts(RpDim, Dim)
      def planeList(j: Int) = planes(j).mkString("[", ", ", "]")
      val projExpr = (0 until RpDim).map(j =>
        s"list_sum(list_transform(generate_series(1, $Dim), i -> q[i] * (${planeList(j)}[i])))")
        .mkString("[", ",\n        |      ", "]")
      val psExpr =
        s"list_sum(list_transform(generate_series(1, $RpDim), j -> p.proj[j] * qp.proj[j]))"
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * $RpQuantScale) AS BIGINT)) AS q
        |  FROM embeddings),
        |proj AS MATERIALIZED (SELECT vec_id, $projExpr AS proj FROM eq),
        |ps AS (SELECT qp.vec_id AS q_id, p.vec_id, $psExpr AS pscore
        |       FROM proj p, proj qp
        |       WHERE qp.vec_id < $NumQueries AND p.vec_id <> qp.vec_id),
        |cand AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY pscore DESC, vec_id ASC) AS rm
        |    FROM ps) WHERE rm <= $RpCandidates),
        |s AS (SELECT c.q_id, c.vec_id,
        |        ${dotSql("qe.embedding", "ee.embedding")} AS sim_dec
        |      FROM cand c
        |      JOIN embeddings qe ON qe.vec_id = c.q_id
        |      JOIN embeddings ee ON ee.vec_id = c.vec_id),
        |r AS (SELECT q_id, vec_id, sim_dec,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |      FROM s)
        |SELECT q_id, rk, vec_id AS neighbor_id, CAST(sim_dec AS DOUBLE) AS sim
        |FROM r WHERE rk <= $AnnTopK
        |ORDER BY q_id, rk""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val e = Tables.load(s, dir, "embeddings").repartition(col("vec_id"))
      val planes = projectionInts(RpDim, Dim)
      val q1k = transform(col("embedding"),
        x => floor(x.cast(DoubleType) * RpQuantScale.toDouble).cast(LongType))
      val projCols = (0 until RpDim).map(j =>
        call_function("vec_dot_long", col("q"), typedLit(planes(j).map(_.toLong).toSeq)))
      val proj = e.withColumn("q", q1k)
        .select(col("vec_id"), array(projCols: _*).as("proj"))
      val qp = proj.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("proj").as("q_proj"))
      // salted two-phase top-m: the projected-score frame is corpus ×
      // queries rows (see cosineTopK) — never a per-q_id single-task sort
      val cand = graft.operators.TopK.perKeyTopK(
          proj.crossJoin(broadcast(qp))
            .filter(col("vec_id") =!= col("q_id"))
            .withColumn("pscore",
              call_function("vec_dot_long", col("proj"), col("q_proj"))),
          keys = Seq(col("q_id")),
          order = Seq(col("pscore").desc, col("vec_id").asc),
          k = RpCandidates, saltFrom = col("vec_id"), out = "rm")
        .select(col("q_id"), col("vec_id"))
      val qe = e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
      val w = Window.partitionBy(col("q_id")).orderBy(col("sim_dec").desc, col("vec_id").asc)
      cand
        .join(broadcast(qe), "q_id")
        .join(e.select(col("vec_id"), col("embedding")), "vec_id")
        .withColumn("sim_dec", dotDec(col("q_emb"), col("embedding")))
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= AnnTopK)
        .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"),
          col("sim_dec").cast(DoubleType).as("sim"))
        .orderBy(col("q_id"), col("rk"))
    },

    // ----- label-coherence profile (embedding diagnostics) ---------------
    // The training-data diagnostic a labeled embedding corpus needs before
    // the labels are trusted: per-label centroid (the SAME floored-mean
    // integer recipe as the IVF update step — Ivf.fit/centroidsSql, so
    // both engines compute identical centroids) and each member's integer
    // dot to its own label centroid, aggregated to per-label n/avg/min/max
    // — low avg or deep min flags an incoherent or mislabeled class.
    // Everything stays int64-exact: |eq·cv| ≤ 64·1e8, per-label sums fold
    // through DECIMAL(38) before the one identically-rounded double
    // division. Scale: one posexplode groupBy (labels × dim rows), the
    // label-count-sized centroid table broadcasts, one corpus scan for
    // the dots — no data-sized shuffle beyond the label groupBy.
    QuerySpec("q77_label_coherence") {
      val qList = s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e4) AS BIGINT))"
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, label, $qList AS q FROM embeddings),
        |cu AS (SELECT label, i, CAST(floor(CAST(sum(q[i]) AS DOUBLE) / count(*)) AS BIGINT) AS cv
        |       FROM eq, range(1, ${Dim + 1}) AS r(i) GROUP BY label, i),
        |cents AS (SELECT label, list(cv ORDER BY i) AS cvec FROM cu GROUP BY label),
        |s AS (SELECT e.label,
        |        CAST(list_sum(list_transform(generate_series(1, $Dim), j -> e.q[j] * c.cvec[j]))
        |             AS BIGINT) AS idot
        |      FROM eq e JOIN cents c USING (label))
        |SELECT label, count(*) AS n_vectors,
        |  CAST(floor(CAST(sum(idot) AS DOUBLE) / count(*)) AS BIGINT) AS avg_idot,
        |  min(idot) AS min_idot, max(idot) AS max_idot
        |FROM s GROUP BY label ORDER BY label""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val eqf = Ivf.quantize(
        Tables.load(s, dir, "embeddings").repartition(col("vec_id")))
        .select(col("label"), col("eq"))
      val cu = eqf.select(col("label"), posexplode(col("eq")).as(Seq("pos", "v")))
        .groupBy(col("label"), col("pos"))
        .agg(floor(sum(col("v")).cast(DoubleType) / count(lit(1)).cast(DoubleType))
          .cast(LongType).as("cv"))
      val cents = cu.groupBy(col("label"))
        .agg(transform(sort_array(collect_list(struct(col("pos"), col("cv")))),
          x => x.getField("cv")).as("cvec"))
      eqf.join(broadcast(cents), "label")
        .withColumn("idot", call_function("vec_dot_long", col("eq"), col("cvec")))
        .groupBy(col("label"))
        .agg(count(lit(1)).as("n_vectors"),
          floor(sum(col("idot").cast(DecimalType(38, 0))).cast(DoubleType) /
            count(lit(1)).cast(DoubleType)).cast(LongType).as("avg_idot"),
          min(col("idot")).as("min_idot"),
          max(col("idot")).as("max_idot"))
        .orderBy(col("label"))
    },

    // ----- SemDedup: cluster-then-dedup over embeddings -------------------
    // The semantic-dedup recipe (SemDedup, Abbas et al. 2023 — public):
    // k-means-cluster the embedding corpus, then compare pairs ONLY within
    // a shared cell and drop every vector with a more-canonical (lower-id)
    // neighbor above τ. Each vector probes its TOP-2 cells for pair
    // generation (multi-probe — the recall knob; top-1-only misses
    // near-dups straddling a cell boundary, which on a near-uniform
    // fixture is most of them). Reuses q53's exactly-reproducible IVF
    // centroids, q47's integer prefilter, and the decimal dot for the
    // verify, so the whole approximate pipeline is oracle-exact. Scale:
    // the pair space is Σ|cell|² over probes×corpus rows (cells are
    // corpus/k-sized — at 100 TB k grows with the corpus to keep cells
    // bounded, exactly the IVF sizing rule), the prefilter runs pipelined
    // on the cell self-join output, and only distinct survivors carry into
    // the decimal verify. Dropping "higher vec_id at τ to ANY lower
    // kept-or-dropped anchor" keeps the survivor set a pure function of
    // the pair list (same non-transitive algebra the corpus-clean stage
    // pins — order-independent, engine-reproducible).
    QuerySpec("q68_semdedup") {
      val qList = s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e4) AS BIGINT))"
      val pre = s"list_sum(list_transform(generate_series(1, $Dim), i -> ea.q[i] * eb.q[i]))"
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $qList AS q FROM embeddings),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |scored AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, $Dim), i -> e.q[i] * c.cq[i])) AS idot
        |  FROM eq e, cents c),
        |cells AS (SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |    FROM scored) WHERE rk <= $IvfProbes),
        |cand AS (SELECT DISTINCT a.vec_id AS a_vec, b.vec_id AS b_vec
        |         FROM cells a JOIN cells b ON a.cell = b.cell AND a.vec_id < b.vec_id
        |         JOIN eq ea ON ea.vec_id = a.vec_id
        |         JOIN eq eb ON eb.vec_id = b.vec_id
        |         WHERE $pre >= ${((SemDedupTau - 0.02) * 1e8).toLong}),
        |v AS (SELECT c.a_vec, c.b_vec,
        |        ${dotSql("ae.embedding", "be.embedding")} AS sim_dec
        |      FROM cand c
        |      JOIN embeddings ae ON ae.vec_id = c.a_vec
        |      JOIN embeddings be ON be.vec_id = c.b_vec)
        |SELECT b_vec AS vec_id, min(a_vec) AS kept_anchor,
        |  CAST(CAST(CAST(arg_min(sim_dec, a_vec) AS DECIMAL(20,12)) AS VARCHAR) AS DOUBLE) AS anchor_sim
        |FROM v WHERE sim_dec >= $SemDedupTau
        |GROUP BY b_vec ORDER BY vec_id""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      // the helper owns the verify-side repartition (as the q47 →
      // neardupPairs call path does); only the quantized assignment input
      // is rebalanced here
      val e = Tables.load(s, dir, "embeddings")
      val eqf = Ivf.quantize(e.repartition(col("vec_id")))
      val model = ivfModel(s, dir, eqf)
      val cells = Ivf.ranked(eqf, Ivf.centsDF(s, model.cents))
        .filter(col("rk") <= IvfProbes)
        .select(col("vec_id"), col("cid").as("cell"), col("eq"))
      semDedupDrops(e, cells, SemDedupTau)
    },

    // ----- ANN quality report: measured recall vs brute force -------------
    // "Measure, don't guess" as an OPERATOR: per-query recall of the
    // SRP-LSH index (q40's pipeline) against the brute-force top-k (q39's,
    // at the same k) — the evaluation a pipeline runs before trusting an
    // approximate index, and re-runs when the corpus drifts. Both sides
    // are deterministic (decimal dots, vec_id tiebreaks), so even this
    // QUALITY metric is oracle-exact, not just spot-checked. Scale: the
    // exact side is one salted corpus×queries scan over the SAME query
    // set the ANN side serves — the evaluation runs on a sampled query
    // set at production size, never the full corpus; queries with zero
    // ANN hits still report (left join), so a collapsed index reads as
    // recall 0, not as missing rows.
    // ----- IVF recall report (q80's sibling for the OTHER index family) ---
    // Same evaluation frame as q80 — exact top-k vs the index's top-k at
    // identical k, per-query hit counts, zero-hit queries still reported —
    // but over the IVF path (q53's fitted model + multi-probe candidate
    // generation) instead of SRP buckets. Running BOTH reports off the
    // same brute-force side is the index-selection workflow: recall per
    // family at matched k, so the cheaper index that clears the recall bar
    // wins. Shares the cached IVF model with q53/q68 (one fit per corpus).
    QuerySpec("q101_ivf_recall") {
      val qList = s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e4) AS BIGINT))"
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $qList AS q FROM embeddings),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |scored AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, $Dim), i -> e.q[i] * c.cq[i])) AS idot
        |  FROM eq e, cents c),
        |ranked AS (SELECT vec_id, cid, idot,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM scored),
        |cells AS (SELECT vec_id, cid AS cell FROM ranked WHERE rk = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS cell FROM ranked WHERE vec_id < $NumQueries AND rk <= $IvfProbes),
        |cand AS (SELECT DISTINCT p.q_id, c.vec_id
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id),
        |an_s AS (SELECT c.q_id, c.vec_id,
        |        ${dotSql("qe.embedding", "ee.embedding")} AS sim_dec
        |      FROM cand c
        |      JOIN embeddings qe ON qe.vec_id = c.q_id
        |      JOIN embeddings ee ON ee.vec_id = c.vec_id),
        |an AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM an_s) WHERE rk <= $AnnTopK),
        |ex_s AS (SELECT q.vec_id AS q_id, e.vec_id,
        |        ${dotSql("q.embedding", "e.embedding")} AS sim_dec
        |      FROM embeddings e, embeddings q
        |      WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
        |ex AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM ex_s) WHERE rk <= $AnnTopK),
        |hits AS (SELECT ex.q_id, count(*) AS n_hits
        |         FROM ex JOIN an ON ex.q_id = an.q_id AND ex.vec_id = an.vec_id
        |         GROUP BY ex.q_id)
        |SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
        |  (coalesce(h.n_hits, 0) * 1000000) // $AnnTopK AS recall_micro
        |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < $NumQueries) q
        |LEFT JOIN hits h USING (q_id)
        |ORDER BY q_id""".stripMargin
    } { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings").repartition(col("vec_id"))
      val exact = exactFixtureRef(s, dir)
      val eqf = Ivf.quantize(e)
      val model = ivfModel(s, dir, eqf)
      val ann = Ivf.annTopK(e, eqf, Ivf.centsDF(s, model.cents),
          NumQueries, IvfProbes, AnnTopK, dotDec)
        .select(col("q_id"), col("neighbor_id"))
      recallReport(e, exact, ann)
    },

    QuerySpec("q80_ann_recall") {
      val bkRows = srpBucketRowsSql(hyperplaneInts(AnnTables, AnnPlanes, Dim))
      s"""WITH ex_s AS (SELECT q.vec_id AS q_id, e.vec_id,
        |        ${dotSql("q.embedding", "e.embedding")} AS sim_dec
        |      FROM embeddings e, embeddings q
        |      WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
        |ex AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM ex_s) WHERE rk <= $AnnTopK),
        |bk AS (
        |  $bkRows),
        |an_cand AS (SELECT DISTINCT q.vec_id AS q_id, b.vec_id
        |            FROM bk q JOIN bk b ON q.tbl = b.tbl AND q.bucket = b.bucket
        |            WHERE q.vec_id < $NumQueries AND b.vec_id <> q.vec_id),
        |an_s AS (SELECT c.q_id, c.vec_id,
        |        ${dotSql("qe.embedding", "ee.embedding")} AS sim_dec
        |      FROM an_cand c
        |      JOIN embeddings qe ON qe.vec_id = c.q_id
        |      JOIN embeddings ee ON ee.vec_id = c.vec_id),
        |an AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM an_s) WHERE rk <= $AnnTopK),
        |hits AS (SELECT ex.q_id, count(*) AS n_hits
        |         FROM ex JOIN an ON ex.q_id = an.q_id AND ex.vec_id = an.vec_id
        |         GROUP BY ex.q_id)
        |SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
        |  (coalesce(h.n_hits, 0) * 1000000) // $AnnTopK AS recall_micro
        |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < $NumQueries) q
        |LEFT JOIN hits h USING (q_id)
        |ORDER BY q_id""".stripMargin
    } { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val exact = exactFixtureRef(s, dir)
      val ann = srpAnnTopK(e, srpIndex(s, dir), NumQueries, AnnTables, AnnTopK)
        .select(col("q_id"), col("neighbor_id"))
      recallReport(e, exact, ann)
    },

    // ----- int8 scalar quantization + recall report (q80/q101's sibling) --
    // The third leg of the ANN quality-evaluation family: where q80/q101
    // measure what the INDEX loses, this measures what 8-bit scalar
    // quantization loses — the deployment question behind every 4×-memory
    // / SIMD-dot serving decision. Real absmax calibration: one
    // corpus-scan scalar (the standard calibration pass; same driver-job
    // class as a broadcast build), scale = 127/absmax, qᵢ = ⌊xᵢ·scale⌋ ∈
    // [−127, 127]. Every step is cross-engine exact — float→double casts,
    // one division, one multiplication, floor — so the quantized vectors,
    // their integer dots (codegen'd vec_dot_long), and the resulting
    // top-k are bit-identical in the oracle. Same single corpus scan ×
    // broadcast query set × salted two-phase top-k as q39.
    QuerySpec("q124_sq8_recall")(
      s"""WITH cal AS (SELECT CAST(127 AS DOUBLE) / max(greatest(
        |        CAST(list_max(embedding) AS DOUBLE),
        |        -CAST(list_min(embedding) AS DOUBLE))) AS scale FROM embeddings),
        |e8 AS (SELECT vec_id,
        |         list_transform(embedding,
        |           x -> CAST(floor(CAST(x AS DOUBLE) * cal.scale) AS BIGINT)) AS q8
        |       FROM embeddings, cal),
        |ex_s AS (SELECT q.vec_id AS q_id, e.vec_id,
        |        ${dotSql("q.embedding", "e.embedding")} AS sim_dec
        |      FROM embeddings e, embeddings q
        |      WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
        |ex AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM ex_s) WHERE rk <= $AnnTopK),
        |sq_s AS (SELECT q.vec_id AS q_id, e.vec_id,
        |        list_sum(list_transform(generate_series(1, $Dim), i -> q.q8[i] * e.q8[i])) AS sim8
        |      FROM e8 e, e8 q WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
        |sq AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim8 DESC, vec_id ASC) AS rk
        |    FROM sq_s) WHERE rk <= $AnnTopK),
        |hits AS (SELECT ex.q_id, count(*) AS n_hits
        |         FROM ex JOIN sq ON ex.q_id = sq.q_id AND ex.vec_id = sq.vec_id
        |         GROUP BY ex.q_id)
        |SELECT q.q_id, coalesce(h.n_hits, 0) AS n_hits,
        |  (coalesce(h.n_hits, 0) * 1000000) // $AnnTopK AS recall_micro
        |FROM (SELECT vec_id AS q_id FROM embeddings WHERE vec_id < $NumQueries) q
        |LEFT JOIN hits h USING (q_id)
        |ORDER BY q_id""".stripMargin) { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val exact = exactFixtureRef(s, dir)
      // calibration scalar: one full-scan max — the absmax pass every
      // int8 pipeline runs; deterministic, so safe to embed as a literal
      val absmax = e.agg(max(greatest(
          array_max(col("embedding")).cast(DoubleType),
          -array_min(col("embedding")).cast(DoubleType))))
        .head().getDouble(0)
      val scale = 127.0 / absmax
      val e8 = e.select(col("vec_id"),
        transform(col("embedding"),
          x => floor(x.cast(DoubleType) * scale).cast(LongType)).as("q8"))
      val q8 = e8.filter(col("vec_id") < NumQueries)
        .select(col("vec_id").as("q_id"), col("q8").as("qq8"))
      // scan → broadcast → salted top-k, the q39 cosineTopK shape: NO
      // repartition before the broadcast cross join (r9 carried one — a
      // full shuffle of the quantized corpus that bought the plan
      // nothing; at 100 TB that is a full corpus move).
      val scored = e8.crossJoin(broadcast(q8))
        .filter(col("vec_id") =!= col("q_id"))
        .withColumn("sim8", call_function("vec_dot_long", col("qq8"), col("q8")))
      val sq = graft.operators.TopK.perKeyTopK(scored,
          keys = Seq(col("q_id")),
          order = Seq(col("sim8").desc, col("vec_id").asc),
          k = AnnTopK, saltFrom = col("vec_id"))
        .select(col("q_id"), col("vec_id").as("neighbor_id"))
      recallReport(e, exact, sq)
    },

    // ----- product-quantization recall -------------------------------------
    // The third rung of the compression ladder (q124 is scalar int8 ≈
    // 4× smaller; PQ stores ONE CODE PER SUBVECTOR ≈ 16–64× smaller —
    // the representation a 100 TB ANN corpus actually holds in memory):
    // split each 64-dim vector into 4 subvectors of 16 dims, learn a
    // 16-codeword codebook per subvector with the SAME integer-exact
    // deterministic k-means as the IVF index (per-subvector [[Ivf.fit]],
    // dim-parameterized), encode every vector as its 4 argmax-dot codes,
    // then score queries ASYMMETRICALLY (ADC): sim(q, v) ≈ Σ_m
    // dot(q_sub_m, codebook_m[code_m(v)]) — per query a 4×16-entry
    // integer lookup table, per candidate 4 adds instead of a 64-mult
    // dot. Top-k on the approximate score vs the exact-dot top-k →
    // per-query recall, the q124 report shape. Every step (codebooks,
    // codes, LUTs, sums, ranks) is integer-exact, so the oracle
    // re-derives the identical report through 4 instantiations of the
    // k-means CTE chain. Scale: codebook fits are 4 bounded k-means
    // (sample-seeded, vocabulary-free); encoding is one scan × 16-row
    // broadcast per subvector; serving cost per (query, candidate) is
    // M adds off a broadcast LUT.
    QuerySpec("q142_pq_recall") {
      val legCtes = (0 until PqM).map { m =>
        s"p${m}s AS (SELECT l.q_id, a.vec_id, l.pdot FROM p${m}a a JOIN p${m}lut l USING (cid))"
      }.mkString(",\n")
      val legUnion = (0 until PqM).map(m => s"SELECT * FROM p${m}s").mkString(" UNION ALL ")
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $pqQListSql AS q FROM embeddings),
        |$pqSubCtesSql,
        |${pqKmeansCtesSql()},
        |${pqCodeLutCtesSql()},
        |$legCtes,
        |pqs AS (SELECT q_id, vec_id, CAST(sum(pdot) AS BIGINT) AS sim_pq
        |        FROM ($legUnion) WHERE vec_id <> q_id GROUP BY q_id, vec_id),
        |${pqRecallTailSql("pqs", PqRerank)}""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val eqf = Ivf.quantize(e)
      val exact = exactFixtureRef(s, dir)
      // four bounded k-means fits (session-cached) + four
      // (codes ⋈ broadcast LUT) legs over the FULL corpus, then the
      // shared ADC-shortlist → exact-rerank serving tail (the production
      // shape: PQ prunes the corpus to PqRerank candidates per query,
      // the exact decimal dot decides the final order)
      val legs = pqCodeLegs(s, eqf, pqModels(s, dir, eqf)).map { case (codes, lut) =>
        codes.join(broadcast(lut), "cid")
          .select(col("q_id"), col("vec_id"), col("pdot"))
      }
      val approx = legs.reduce(_ union _)
        .filter(col("vec_id") =!= col("q_id"))
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("pdot")).cast(LongType).as("sim_pq"))
      pqServe(e, exact, approx, PqRerank)
    },

    // ----- IVF-PQ: the full compressed serving stack -----------------------
    // The compound architecture a 100-TB ANN deployment actually runs
    // (FAISS's IVFPQ): the coarse IVF quantizer prunes the corpus to the
    // query's probed cells (serving cost bounded by cell sizes, never
    // corpus-wide), the PQ codes score those candidates asymmetrically
    // (4 integer adds each, off broadcast LUT state — the vectors
    // themselves never load), and the exact decimal dot reranks the
    // shortlist. One shared IVF model (q53/q68/q101/q129's fit) + the
    // shared PQ codebooks (q142's, store-backed) — both index artifacts
    // built once and served everywhere. Recall is measured against the
    // UNPRUNED exact top-k, so the report prices the full compound loss:
    // cell pruning + code quantization, after rerank. Oracle composes
    // the existing k-means CTE chains for both quantizers.
    QuerySpec("q143_ivfpq_recall") {
      val adcLegs = (0 until PqM).map { m =>
        s"adc$m AS (SELECT c.q_id, c.vec_id, l.pdot FROM cand c " +
          s"JOIN p${m}a a ON a.vec_id = c.vec_id " +
          s"JOIN p${m}lut l ON l.q_id = c.q_id AND l.cid = a.cid)"
      }.mkString(",\n")
      val adcUnion = (0 until PqM).map(m => s"SELECT * FROM adc$m").mkString(" UNION ALL ")
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $pqQListSql AS q FROM embeddings),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |iscored AS (SELECT e.vec_id, c.cid,
        |    ${Ivf.idotSql("e.q", "c.cq")} AS idot
        |  FROM eq e, cents c),
        |iranked AS (SELECT vec_id, cid, idot,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM iscored),
        |cells AS (SELECT vec_id, cid AS cell FROM iranked WHERE rk = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS cell FROM iranked WHERE vec_id < $NumQueries AND rk <= $IvfProbes),
        |cand AS (SELECT DISTINCT p.q_id, c.vec_id
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id),
        |$pqSubCtesSql,
        |${pqKmeansCtesSql()},
        |${pqCodeLutCtesSql()},
        |$adcLegs,
        |adcs AS (SELECT q_id, vec_id, CAST(sum(pdot) AS BIGINT) AS sim_pq
        |         FROM ($adcUnion) GROUP BY q_id, vec_id),
        |${pqRecallTailSql("adcs", PqRerank)}""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val eqf = Ivf.quantize(e)
      val exact = exactFixtureRef(s, dir)
      // coarse quantizer: probed-cell candidates off the shared IVF model
      // — the (session, dir)-cached frame q166/q167 also serve from
      val cand = fixtureCellCandidates(s, dir, eqf)
      // fine quantizer: ADC over the candidates only — per (query,
      // candidate) 4 integer adds off the broadcast code LUTs
      val legs = pqCodeLegs(s, eqf, pqModels(s, dir, eqf)).map { case (codes, lut) =>
        cand.join(codes, "vec_id")
          .join(broadcast(lut), Seq("q_id", "cid"))
          .select(col("q_id"), col("vec_id"), col("pdot"))
      }
      val adc = legs.reduce(_ union _)
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("pdot")).cast(LongType).as("sim_pq"))
      pqServe(e, exact, adc, PqRerank)
    },

    // ----- cluster-balanced corpus sample ----------------------------------
    // Diversity-preserving downsampling (the curation step after SemDedup:
    // cap every semantic cluster's contribution instead of sampling the
    // raw distribution, so dominant modes can't crowd out rare ones):
    // assign each vector to its nearest IVF centroid (the SAME
    // integer-exact k-means model q53/q68/q101 serve from — one fit per
    // corpus), then keep k deterministic representatives per cell via the
    // q110 draw recipe (md5 rank, vec_id tiebreak — reproducible, no RNG
    // state). Output carries cell_size so the report doubles as a cluster
    // balance profile. Scale: assignment is one scan × 16-row centroid
    // broadcast; cells are LOW-cardinality keys, so the per-cell rank
    // rides the salted two-phase top-k (never one task per cell); sizes
    // are a 16-row aggregate.
    QuerySpec("q129_cluster_sample") {
      val qList = s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e4) AS BIGINT))"
      val draw = "CAST('0x' || substr(md5(CAST(vec_id AS VARCHAR) || '|csample'), 1, 15) AS BIGINT)"
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $qList AS q FROM embeddings),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |scored AS (SELECT e.vec_id, c.cid,
        |    list_sum(list_transform(generate_series(1, $Dim), i -> e.q[i] * c.cq[i])) AS idot
        |  FROM eq e, cents c),
        |cells AS (SELECT vec_id, cid AS cell FROM (
        |    SELECT vec_id, cid, row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |    FROM scored) WHERE rk = 1),
        |sz AS (SELECT cell, count(*) AS cell_size FROM cells GROUP BY cell),
        |r AS (SELECT cell, vec_id,
        |        row_number() OVER (PARTITION BY cell ORDER BY $draw, vec_id) AS rk
        |      FROM cells)
        |SELECT r.cell, sz.cell_size, r.rk, r.vec_id
        |FROM r JOIN sz USING (cell) WHERE r.rk <= $CellSampleK
        |ORDER BY cell, rk""".stripMargin
    } { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings").repartition(col("vec_id"))
      val eqf = Ivf.quantize(e)
      val model = ivfModel(s, dir, eqf)
      val cells = Ivf.ranked(eqf, Ivf.centsDF(s, model.cents))
        .filter(col("rk") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
      val sizes = cells.groupBy(col("cell")).agg(count(lit(1)).as("cell_size"))
      val draw = graft.functions.TextFunctions.hex60(
        concat(col("vec_id").cast(StringType), lit("|csample")))
      graft.operators.TopK.perKeyTopK(cells,
          keys = Seq(col("cell")),
          order = Seq(draw.asc, col("vec_id").asc),
          k = CellSampleK, saltFrom = col("vec_id"))
        .join(broadcast(sizes), "cell")
        // type parity: DuckDB's row_number is int64 (Spark's int32 → cast);
        // cid is INTEGER on both sides already
        .select(col("cell"), col("cell_size"),
          col("rk").cast(LongType).as("rk"), col("vec_id"))
        .orderBy(col("cell"), col("rk"))
    },

    // ----- embedding-space health report (pre-index diagnostics) ----------
    // The check an ANN deployment runs BEFORE building indexes: per-dim
    // moments expose dead dimensions (zero variance → wasted PQ/IVF
    // capacity), mean drift (an un-centered space hurts cosine), and
    // range outliers (absmax calibration victims — q124's quantizer is
    // only as good as the worst dimension). Every value is integer-exact
    // cross-engine: elements quantize once as ⌊x·10⁶⌋ (float→double is
    // exact, one IEEE multiply + floor — both engines identical), then
    // BIGINT sums/min/max per dimension; Σx² stays under BIGINT up to
    // ~9·10⁶ vectors per dim at |x|≤1 — past that, the same report runs
    // with DECIMAL(38,0) sums. Scale: ONE corpus scan, a constant
    // dim-wide posexplode (fan-out = dims, not corpus²), one dim-keyed
    // hash-agg to a dims-sized frame. No window, no join.
    QuerySpec("q149_embedding_health")(
      """SELECT i AS dim,
        |  count(*) AS n,
        |  CAST(sum(xm) AS BIGINT) AS sum_micro,
        |  CAST(sum(xm * xm) AS BIGINT) AS sumsq,
        |  CAST(min(xm) AS BIGINT) AS min_micro,
        |  CAST(max(xm) AS BIGINT) AS max_micro
        |FROM (SELECT i, CAST(floor(CAST(embedding[i] AS DOUBLE) * 1000000) AS BIGINT) AS xm
        |      FROM embeddings,
        |           unnest(generate_series(1, len(embedding))) AS t(i))
        |GROUP BY i ORDER BY i""".stripMargin) { (s, dir) =>
      Tables.load(s, dir, "embeddings")
        .select(posexplode(col("embedding")).as(Seq("p", "x")))
        .select((col("p") + 1).cast(LongType).as("dim"),
          floor(col("x").cast(DoubleType) * 1000000).cast(LongType).as("xm"))
        .groupBy(col("dim"))
        .agg(count(lit(1)).as("n"),
          sum(col("xm")).cast(LongType).as("sum_micro"),
          sum(col("xm") * col("xm")).cast(LongType).as("sumsq"),
          min(col("xm")).as("min_micro"),
          max(col("xm")).as("max_micro"))
        .orderBy(col("dim"))
    },

    // ----- cross-modal shared-space retrieval (text -> image) -------------
    // The CLIP-style serving pattern the multimodal (q46/q136/q139) and
    // ANN (q39-q143) families never composed: queries from one modality
    // retrieve against the OTHER modality's embeddings in a shared space.
    // The image-side table is fixture-synthesized deterministically (no
    // image encoder ships in this container): img(v) = (3·text(v) +
    // circshift(text(v), 1)) / 4 in double — a contraction toward the
    // paired text vector, so the shared-space geometry is real (each
    // text's paired image is its near-nearest neighbor, ~0.97 cosine for
    // random unit vectors) and every value is the identical IEEE
    // sequence cross-engine (float→double casts, one multiply, one add,
    // one divide per element — no libm). Image ids offset by +XmOffset (2^40):
    // disjoint from the text id domain, so [[cosineTopK]]'s self-pair
    // guard never touches a cross-modal candidate.
    //
    // The retrieval leg IS [[cosineTopK]] UNCHANGED — same chunked
    // query-set broadcast, same salted two-phase top-k, same DECIMAL
    // dot: cross-modal serving at 100 TB is the q39 plan with the corpus
    // scan swapped to the other modality's table. RecallFloorSpec pins
    // the paired-image hit rate (8/8 top-1 on the fixtures).
    QuerySpec("q154_crossmodal_topk")(
      s"""WITH img AS MATERIALIZED (${xmImgSql()}),
        |q AS (SELECT vec_id AS q_id, embedding AS q_emb FROM embeddings WHERE vec_id < $NumQueries),
        |s AS (SELECT q.q_id, i.vec_id,
        |        ${dotSql("q.q_emb", "i.embedding")} AS sim_dec
        |      FROM q, img i),
        |r AS (SELECT q_id, vec_id, sim_dec,
        |        row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |      FROM s)
        |SELECT q_id, rk, vec_id AS neighbor_id, CAST(sim_dec AS DOUBLE) AS sim
        |FROM r WHERE rk <= $AnnTopK
        |ORDER BY q_id, rk""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      cosineTopK(crossModalImageSide(e),
        e.filter(col("vec_id") < NumQueries), AnnTopK, nQueries = NumQueries)
    },

    // ----- cross-modal × IVF-PQ: the compound index serving the other
    // modality (text → image) --------------------------------------------
    // q154 proved the shared space but served it by brute force; q143
    // built the 100-TB serving stack but only ever saw its own modality.
    // This composes them: the coarse IVF quantizer AND the PQ codebooks
    // are fit on the IMAGE side (a separate index family — xm_ivf_model /
    // pq_model_<m>_xm in the durable store; text-side geometry doesn't
    // describe the image distribution), TEXT queries probe the image
    // cells, ADC scores the probed-cell candidates off broadcast LUT
    // state, and the exact decimal dot reranks the shortlist. Recall is
    // priced against the UNPRUNED exact cross-modal top-k (q154's
    // answer), so the report measures the full compound loss on the
    // cross-modal workload. Scale shape is exactly q143's — one corpus
    // scan per quantizer leg, candidates bounded by probed-cell sizes,
    // never corpus × queries — with the corpus scan swapped to the other
    // modality's table.
    QuerySpec("q155_crossmodal_ivfpq") {
      val adcLegs = (0 until PqM).map { m =>
        s"adc$m AS (SELECT c.q_id, c.vec_id, l.pdot FROM cand c " +
          s"JOIN p${m}a a ON a.vec_id = c.vec_id " +
          s"JOIN p${m}lut l ON l.q_id = c.q_id AND l.cid = a.cid)"
      }.mkString(",\n")
      val adcUnion = (0 until PqM).map(m => s"SELECT * FROM adc$m").mkString(" UNION ALL ")
      s"""WITH img AS MATERIALIZED (${xmImgSql()}),
        |eq AS MATERIALIZED (
        |  SELECT vec_id, embedding, $pqQListSql AS q FROM img
        |  UNION ALL
        |  SELECT vec_id, embedding, $pqQListSql AS q FROM embeddings WHERE vec_id < $NumQueries),
        |eqc AS MATERIALIZED (SELECT vec_id, q FROM eq WHERE vec_id >= $XmOffset),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters, src = "eqc")},
        |iscored AS (SELECT e.vec_id, c.cid,
        |    ${Ivf.idotSql("e.q", "c.cq")} AS idot
        |  FROM eq e, cents c),
        |iranked AS (SELECT vec_id, cid, idot,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM iscored),
        |cells AS (SELECT vec_id, cid AS cell FROM iranked WHERE rk = 1 AND vec_id >= $XmOffset),
        |probes AS (SELECT vec_id AS q_id, cid AS cell FROM iranked WHERE vec_id < $NumQueries AND rk <= $IvfProbes),
        |cand AS (SELECT DISTINCT p.q_id, c.vec_id
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id),
        |$pqSubCtesSql,
        |${pqCorpusSubCtesSql(s"vec_id >= $XmOffset")},
        |${pqKmeansCtesSql(m => s"eqc$m")},
        |${pqCodeLutCtesSql(m => s"eqc$m")},
        |$adcLegs,
        |adcs AS (SELECT q_id, vec_id, CAST(sum(pdot) AS BIGINT) AS sim_pq
        |         FROM ($adcUnion) GROUP BY q_id, vec_id),
        |${pqRecallTailSql("adcs", PqRerank, corpus = "img")}""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val img = crossModalImageSide(e)
      // one frame for corpus ∪ queries — the id domains are disjoint, so
      // every downstream predicate can split them back exactly; the text
      // floats cast to double (exact) to union with the image doubles
      val both = img.unionByName(e.filter(col("vec_id") < NumQueries)
        .select(col("vec_id"), col("embedding").cast("array<double>").as("embedding")))
      val exact = exactRefVariant(s, dir, "|xmf")(
        cosineTopK(img, e.filter(col("vec_id") < NumQueries), AnnTopK,
            nQueries = NumQueries)
          .select(col("q_id"), col("neighbor_id")))
      val eqBoth = Ivf.quantize(both)
      // The image-side frame feeds FIVE k-means fits (coarse + 4 PQ
      // codebooks), each iterating Lloyd passes — without materialization
      // every pass re-derives the synthesis + quantization from the
      // parquet scan (~20 recomputations; measured 10.7 s cold, the
      // suite's most expensive first run). One ephemeral localCheckpoint
      // (5 MB at fixture scale, released by the caller's releaseAll)
      // makes every fit pass read cached blocks. Fit RESULTS are
      // unchanged — materialization is plan-only.
      val eqImg = graft.Materialize.ephemeral(
        eqBoth.filter(col("vec_id") >= XmOffset))
      // coarse quantizer: IMAGE-side model (own store entry / cache slot)
      val cents = Ivf.centsDF(s, xmodalIvfModel(s, dir, eqImg).cents)
      val cells = Ivf.ranked(eqImg, cents).filter(col("rk") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
      val probes = Ivf.ranked(eqBoth.filter(col("vec_id") < NumQueries), cents)
        .filter(col("rk") <= IvfProbes)
        .select(col("vec_id").as("q_id"), col("cid").as("cell"))
      val cand = cells.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id")).distinct()
      // fine quantizer: IMAGE-side PQ codebooks; LUTs from the text queries
      val legs = pqCodeLegs(s, eqBoth, pqModels(s, dir, eqImg, tag = "_xm"),
        corpusPred = col("vec_id") >= XmOffset).map { case (codes, lut) =>
        cand.join(codes, "vec_id")
          .join(broadcast(lut), Seq("q_id", "cid"))
          .select(col("q_id"), col("vec_id"), col("pdot"))
      }
      val adc = legs.reduce(_ union _)
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("pdot")).cast(LongType).as("sim_pq"))
      pqServe(both, exact, adc, PqRerank)
    },

    // ----- cross-modal × IVF-PQ, reverse leg (image → text) ---------------
    // The symmetric direction costs ZERO new index artifacts: the corpus
    // is the text table, so the coarse model IS q53/q143's shared IVF fit
    // and the codebooks ARE q142's shared PQ family — image queries just
    // probe and LUT-score against the existing stores. That is the point
    // of a shared embedding space at 100 TB: one indexed corpus serves
    // every query modality.
    QuerySpec("q156_crossmodal_reverse") {
      val adcLegs = (0 until PqM).map { m =>
        s"adc$m AS (SELECT c.q_id, c.vec_id, l.pdot FROM cand c " +
          s"JOIN p${m}a a ON a.vec_id = c.vec_id " +
          s"JOIN p${m}lut l ON l.q_id = c.q_id AND l.cid = a.cid)"
      }.mkString(",\n")
      val adcUnion = (0 until PqM).map(m => s"SELECT * FROM adc$m").mkString(" UNION ALL ")
      s"""WITH imgq AS MATERIALIZED (${xmImgSql(s" WHERE vec_id < $NumQueries")}),
        |eq AS MATERIALIZED (
        |  SELECT vec_id, embedding, $pqQListSql AS q FROM embeddings
        |  UNION ALL
        |  SELECT vec_id, embedding, $pqQListSql AS q FROM imgq),
        |eqc AS MATERIALIZED (SELECT vec_id, q FROM eq WHERE vec_id < $XmOffset),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters, src = "eqc")},
        |iscored AS (SELECT e.vec_id, c.cid,
        |    ${Ivf.idotSql("e.q", "c.cq")} AS idot
        |  FROM eq e, cents c),
        |iranked AS (SELECT vec_id, cid, idot,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM iscored),
        |cells AS (SELECT vec_id, cid AS cell FROM iranked WHERE rk = 1 AND vec_id < $XmOffset),
        |probes AS (SELECT vec_id AS q_id, cid AS cell FROM iranked WHERE vec_id >= $XmOffset AND rk <= $IvfProbes),
        |cand AS (SELECT DISTINCT p.q_id, c.vec_id
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id),
        |$pqSubCtesSql,
        |${pqCorpusSubCtesSql(s"vec_id < $XmOffset")},
        |${pqKmeansCtesSql(m => s"eqc$m")},
        |${pqCodeLutCtesSql(m => s"eqc$m", qPredSql = s"vec_id >= $XmOffset")},
        |$adcLegs,
        |adcs AS (SELECT q_id, vec_id, CAST(sum(pdot) AS BIGINT) AS sim_pq
        |         FROM ($adcUnion) GROUP BY q_id, vec_id),
        |${pqRecallTailSql("adcs", PqRerank, corpus = "embeddings", qSrc = "imgq")}""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val imgQ = crossModalImageSide(e.filter(col("vec_id") < NumQueries))
      val both = e.select(col("vec_id"),
          col("embedding").cast("array<double>").as("embedding"))
        .unionByName(imgQ)
      val exact = exactRefVariant(s, dir, "|xmr")(
        cosineTopK(e, imgQ, AnnTopK, nQueries = NumQueries)
          .select(col("q_id"), col("neighbor_id")))
      val eqBoth = Ivf.quantize(both)
      val eqText = eqBoth.filter(col("vec_id") < XmOffset)
      // the SHARED text-side artifacts serve the cross-modal queries
      val cents = Ivf.centsDF(s, ivfModel(s, dir, eqText).cents)
      val cells = Ivf.ranked(eqText, cents).filter(col("rk") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
      val probes = Ivf.ranked(eqBoth.filter(col("vec_id") >= XmOffset), cents)
        .filter(col("rk") <= IvfProbes)
        .select(col("vec_id").as("q_id"), col("cid").as("cell"))
      val cand = cells.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id")).distinct()
      val legs = pqCodeLegs(s, eqBoth, pqModels(s, dir, eqText),
        corpusPred = col("vec_id") < XmOffset,
        qPred = col("vec_id") >= XmOffset).map { case (codes, lut) =>
        cand.join(codes, "vec_id")
          .join(broadcast(lut), Seq("q_id", "cid"))
          .select(col("q_id"), col("vec_id"), col("pdot"))
      }
      val adc = legs.reduce(_ union _)
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("pdot")).cast(LongType).as("sim_pq"))
      pqServe(both, exact, adc, PqRerank, qPred = col("vec_id") >= XmOffset)
    },

    // ----- filtered (attribute-constrained) ANN top-k ----------------------
    // "Nearest neighbors among rows WHERE lang = 'en'" — what hard-negative
    // mining within a language (q95), per-source dedup, and eval-set
    // construction (q110) actually need at selection time. POST-filtering
    // a fixed shortlist is recall-lossy and unpriced: a shortlist of 64
    // can contain fewer than k rows passing a selective predicate, and
    // nothing reports what was lost. This composes the predicate into the
    // IVF/PQ candidate leg BEFORE ADC: the metadata predicate (from
    // `documents`, joined over the shared id domain) filters the INVERTED
    // FILE's rows first, so every downstream join — ADC scoring, rerank —
    // is bounded by the FILTERED probed-cell mass, and recall is priced
    // against the exact FILTERED top-k (the true answer under the
    // constraint). Zero new index artifacts: the shared IVF model and the
    // shared PQ codebooks serve every predicate — that is the point of
    // composing the constraint at serve time instead of building
    // per-attribute indexes. Scale: the predicate leg is an id-keyed
    // semi-join against the assignment rows (shuffle keyed on vec_id,
    // bloom-prefilterable like q118 when the filtered set is tiny);
    // candidates stay probed-cell-bounded; the ADC/rerank tail is q143's.
    QuerySpec("q157_filtered_ann") {
      val adcLegs = (0 until PqM).map { m =>
        s"adc$m AS (SELECT c.q_id, c.vec_id, l.pdot FROM cand c " +
          s"JOIN p${m}a a ON a.vec_id = c.vec_id " +
          s"JOIN p${m}lut l ON l.q_id = c.q_id AND l.cid = a.cid)"
      }.mkString(",\n")
      val adcUnion = (0 until PqM).map(m => s"SELECT * FROM adc$m").mkString(" UNION ALL ")
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $pqQListSql AS q FROM embeddings),
        |flt AS MATERIALIZED (SELECT doc_id AS vec_id FROM documents WHERE lang = '$FilteredAnnLang'),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |iscored AS (SELECT e.vec_id, c.cid,
        |    ${Ivf.idotSql("e.q", "c.cq")} AS idot
        |  FROM eq e, cents c),
        |iranked AS (SELECT vec_id, cid, idot,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM iscored),
        |cells AS (SELECT r.vec_id, r.cid AS cell FROM iranked r JOIN flt f USING (vec_id) WHERE r.rk = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS cell FROM iranked WHERE vec_id < $NumQueries AND rk <= $FilteredAnnProbes),
        |cand AS (SELECT DISTINCT p.q_id, c.vec_id
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id),
        |$pqSubCtesSql,
        |${pqKmeansCtesSql()},
        |${pqCodeLutCtesSql()},
        |$adcLegs,
        |adcs AS (SELECT q_id, vec_id, CAST(sum(pdot) AS BIGINT) AS sim_pq
        |         FROM ($adcUnion) GROUP BY q_id, vec_id),
        |${pqRecallTailSql("adcs", PqRerank,
             corpus = "(SELECT emb.* FROM embeddings emb JOIN flt f ON f.vec_id = emb.vec_id)")}""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val flt = Tables.load(s, dir, "documents")
        .filter(col("lang") === FilteredAnnLang)
        .select(col("doc_id").as("vec_id"))
      // exact FILTERED top-k — the truth the constrained serving is priced
      // against (post-filtering the unfiltered exact top-k would be a
      // different, weaker referent)
      val exact = exactRefVariant(s, dir, s"|lang=$FilteredAnnLang")(
        cosineTopK(e.join(flt, "vec_id"),
            e.filter(col("vec_id") < NumQueries), AnnTopK, nQueries = NumQueries)
          .select(col("q_id"), col("neighbor_id")))
      val eqf = Ivf.quantize(e)
      // shared coarse model + shared PQ codebooks (q53/q142's artifacts)
      val ivfCents = Ivf.centsDF(s, ivfModel(s, dir, eqf).cents)
      // the predicate enters HERE — the inverted file's rows are
      // id-filtered before the probe join, so candidates are bounded by
      // the filtered cell mass and ADC never scores an excluded row
      val cells = Ivf.ranked(eqf, ivfCents).filter(col("rk") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
        .join(flt, "vec_id")
      val probes = Ivf.ranked(eqf.filter(col("vec_id") < NumQueries), ivfCents)
        .filter(col("rk") <= FilteredAnnProbes)
        .select(col("vec_id").as("q_id"), col("cid").as("cell"))
      val cand = cells.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id")).distinct()
      val legs = pqCodeLegs(s, eqf, pqModels(s, dir, eqf)).map { case (codes, lut) =>
        cand.join(codes, "vec_id")
          .join(broadcast(lut), Seq("q_id", "cid"))
          .select(col("q_id"), col("vec_id"), col("pdot"))
      }
      val adc = legs.reduce(_ union _)
        .groupBy(col("q_id"), col("vec_id"))
        .agg(sum(col("pdot")).cast(LongType).as("sim_pq"))
      pqServe(e, exact, adc, PqRerank)
    },

    // ----- probe-sweep tuning report (recall/cost vs nprobe) ---------------
    // The knob evidence an operator reads BEFORE pinning nprobe at 100 TB:
    // for probes ∈ {1, 2, 4, 8} over the SHARED IVF model, the measured
    // recall@k against the exact side plus the exact candidate count (the
    // serving cost driver — candidates ∝ probed-cell mass). The q148-style
    // constant fan-out: candidates are generated ONCE at the deepest
    // level, each tagged with the MINIMUM probe depth that reaches it
    // (min-rank of its cell in the query's probe order) and exactly
    // scored ONCE; the four levels are then a 4× literal explode over the
    // scored frame — one corpus assignment pass and one rerank serve the
    // whole curve, instead of four independent ANN runs. Monotonicity
    // (recall and candidates non-decreasing in probes) is structural —
    // deeper probes see a superset of candidates — and spec-pinned.
    QuerySpec("q158_probe_sweep") {
      val denom = NumQueries * AnnTopK
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $pqQListSql AS q FROM embeddings),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |iscored AS (SELECT e.vec_id, c.cid,
        |    ${Ivf.idotSql("e.q", "c.cq")} AS idot
        |  FROM eq e, cents c),
        |iranked AS (SELECT vec_id, cid, idot,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM iscored),
        |cells AS (SELECT vec_id, cid AS cell FROM iranked WHERE rk = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS cell, rk AS prk
        |           FROM iranked WHERE vec_id < $NumQueries AND rk <= $ProbeSweepMax),
        |cand AS (SELECT p.q_id, c.vec_id, min(p.prk) AS prk
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id GROUP BY p.q_id, c.vec_id),
        |lv(probes) AS (VALUES ${ProbeSweepLevels.map(l => s"($l)").mkString(", ")}),
        |scored AS (SELECT c.q_id, c.vec_id, c.prk,
        |        ${dotSql("q.embedding", "e.embedding")} AS sim_dec
        |      FROM cand c
        |      JOIN embeddings e ON e.vec_id = c.vec_id
        |      JOIN embeddings q ON q.vec_id = c.q_id),
        |fanned AS (SELECT l.probes, s.q_id, s.vec_id, s.sim_dec
        |           FROM lv l JOIN scored s ON s.prk <= l.probes),
        |an AS (SELECT probes, q_id, vec_id FROM (
        |    SELECT probes, q_id, vec_id,
        |      row_number() OVER (PARTITION BY probes, q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM fanned) WHERE rk <= $AnnTopK),
        |ex_s AS (SELECT q.vec_id AS q_id, e.vec_id,
        |        ${dotSql("q.embedding", "e.embedding")} AS sim_dec
        |      FROM embeddings e, embeddings q
        |      WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
        |ex AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM ex_s) WHERE rk <= $AnnTopK),
        |hits AS (SELECT an.probes, count(*) AS n_hits
        |         FROM an JOIN ex ON ex.q_id = an.q_id AND ex.vec_id = an.vec_id
        |         GROUP BY an.probes),
        |nc AS (SELECT probes, count(*) AS n_cand FROM fanned GROUP BY probes)
        |SELECT l.probes, coalesce(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand,
        |  coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
        |  (coalesce(h.n_hits, CAST(0 AS BIGINT)) * 1000000) // $denom AS recall_micro
        |FROM lv l LEFT JOIN nc ON nc.probes = l.probes LEFT JOIN hits h ON h.probes = l.probes
        |ORDER BY l.probes""".stripMargin
    } { (s, dir) => probeSweepReport(s, dir) },

    // ----- FILTERED probe-sweep tuning report (q157 × q158) ----------------
    // The curve a CONSTRAINED serving path is tuned on at 100 TB: the
    // attribute predicate thins every probed cell, so the same recall
    // needs deeper probes than the unfiltered optimum — measurable only
    // against the exact FILTERED top-k. Rides q158's tagged-candidate
    // frame (one assignment pass, one scoring, 4× literal fan-out) with
    // q157's predicate leg (the inverted file is id-filtered BEFORE the
    // probe join — no excluded row is ever scored). The deeper-optimum
    // relation vs the unfiltered curve is spec-pinned (RecallFloorSpec).
    QuerySpec("q159_filtered_sweep") {
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $pqQListSql AS q FROM embeddings),
        |flt AS MATERIALIZED (SELECT doc_id AS vec_id FROM documents WHERE lang = '$FilteredAnnLang'),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |iscored AS (SELECT e.vec_id, c.cid,
        |    ${Ivf.idotSql("e.q", "c.cq")} AS idot
        |  FROM eq e, cents c),
        |iranked AS (SELECT vec_id, cid, idot,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM iscored),
        |cells AS (SELECT r.vec_id, r.cid AS cell FROM iranked r JOIN flt f USING (vec_id) WHERE r.rk = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS cell, rk AS prk
        |           FROM iranked WHERE vec_id < $NumQueries AND rk <= $ProbeSweepMax),
        |cand AS (SELECT p.q_id, c.vec_id, min(p.prk) AS prk
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id GROUP BY p.q_id, c.vec_id),
        |lv(probes) AS (VALUES ${ProbeSweepLevels.map(l => s"($l)").mkString(", ")}),
        |scored AS (SELECT c.q_id, c.vec_id, c.prk,
        |        ${dotSql("q.embedding", "e.embedding")} AS sim_dec
        |      FROM cand c
        |      JOIN embeddings e ON e.vec_id = c.vec_id
        |      JOIN embeddings q ON q.vec_id = c.q_id),
        |fanned AS (SELECT l.probes, s.q_id, s.vec_id, s.sim_dec
        |           FROM lv l JOIN scored s ON s.prk <= l.probes),
        |an AS (SELECT probes, q_id, vec_id FROM (
        |    SELECT probes, q_id, vec_id,
        |      row_number() OVER (PARTITION BY probes, q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM fanned) WHERE rk <= $AnnTopK),
        |ex_s AS (SELECT q.vec_id AS q_id, e.vec_id,
        |        ${dotSql("q.embedding", "e.embedding")} AS sim_dec
        |      FROM (SELECT emb.* FROM embeddings emb JOIN flt f ON f.vec_id = emb.vec_id) e,
        |           embeddings q
        |      WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
        |ex AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM ex_s) WHERE rk <= $AnnTopK),
        |hits AS (SELECT an.probes, count(*) AS n_hits
        |         FROM an JOIN ex ON ex.q_id = an.q_id AND ex.vec_id = an.vec_id
        |         GROUP BY an.probes),
        |nc AS (SELECT probes, count(*) AS n_cand FROM fanned GROUP BY probes)
        |SELECT l.probes, coalesce(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand,
        |  coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
        |  (coalesce(h.n_hits, CAST(0 AS BIGINT)) * 1000000) // (SELECT count(*) FROM ex) AS recall_micro
        |FROM lv l LEFT JOIN nc ON nc.probes = l.probes LEFT JOIN hits h ON h.probes = l.probes
        |ORDER BY l.probes""".stripMargin
    } { (s, dir) => probeSweepReport(s, dir, lang = Some(FilteredAnnLang)) },

    // ----- binary (sign) quantization + Hamming prefilter ------------------
    // The fourth rung of the compression ladder (SQ8 q124 ≈ 4×, PQ q142
    // ≈ 16–64×): ONE BIT PER DIMENSION — the 64-dim corpus collapses to
    // two 32-bit words per vector (32× vs float64), the representation a
    // 100-TB first-pass scan can hold entirely in memory and score with
    // two XOR+popcount instructions per candidate. sign(xᵢ) packs bit
    // (i mod 32) of word ⌊i/32⌋ (two sub-2³² words, so every shift stays
    // off the sign bit in both engines); Hamming similarity = Dim −
    // popcount(lo⊕lo′) − popcount(hi⊕hi′) prefilters the corpus to the
    // same PqRerank shortlist the PQ family reranks exactly (pqServe) —
    // the binary-quantization serving stack vector stores deploy as the
    // cheap first stage. Bit-exact end to end: packing, XOR, popcount,
    // and the rerank's decimal dot are all integer/decimal ops both
    // engines reproduce. Scale: code build is one scan; scoring is a
    // broadcast of nq packed queries against a corpus read of 16 bytes
    // per row; rerank touches PqRerank × nq vectors only.
    QuerySpec("q161_binary_hamming")(
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
        |$binaryCtesSql,
        |${pqRecallTailSql("bhs", PqRerank)}""".stripMargin) { (s, dir) =>
      val e = Tables.load(s, dir, "embeddings")
      val exact = exactFixtureRef(s, dir)
      // one corpus scan of the 16-byte codes × broadcast packed queries;
      // two XOR+popcounts per candidate, then the shared shortlist →
      // exact-rerank serving tail (salted top-PqRerank, decimal dot on
      // the shortlist only, recall vs the exact top-k)
      pqServe(e, exact,
        hammingScores(e, e.filter(col("vec_id") < NumQueries)), PqRerank)
    },

    // ----- binary-shortlist depth sweep (q161 × q158's tagged pattern) ----
    // The tuning curve the binary tier is sized on: recall@k AND exact
    // rerank-candidate counts per shortlist depth ∈ {8..128}. Depth is
    // the ONE knob this rung has (it trades rerank dot cost against the
    // Hamming prefilter's ranking error), and the q161 operating point
    // (PqRerank=64) should sit where the curve flattens — spec-pinned.
    // Same single-generation discipline as q158: the Hamming rank IS the
    // depth tag, candidates are generated and exactly reranked ONCE at
    // the deepest level, a 5-row literal fan-out prices every depth.
    QuerySpec("q164_binary_sweep") {
      val denom = NumQueries * AnnTopK
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding FROM embeddings),
        |$binaryCtesSql,
        |hr AS (SELECT q_id, vec_id,
        |    row_number() OVER (PARTITION BY q_id ORDER BY sim_pq DESC, vec_id ASC) AS hrk
        |  FROM bhs),
        |cand AS (SELECT q_id, vec_id, hrk FROM hr WHERE hrk <= $BinSweepMax),
        |rr AS (SELECT c.q_id, c.vec_id, c.hrk,
        |    ${dotSql("q.embedding", "e.embedding")} AS sim_dec
        |  FROM cand c
        |  JOIN eq e ON e.vec_id = c.vec_id
        |  JOIN eq q ON q.vec_id = c.q_id),
        |lv(short_k) AS (VALUES ${BinSweepLevels.map(l => s"($l)").mkString(", ")}),
        |fanned AS (SELECT l.short_k, r.q_id, r.vec_id, r.sim_dec
        |           FROM lv l JOIN rr r ON r.hrk <= l.short_k),
        |an AS (SELECT short_k, q_id, vec_id FROM (
        |    SELECT short_k, q_id, vec_id,
        |      row_number() OVER (PARTITION BY short_k, q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM fanned) WHERE rk <= $AnnTopK),
        |ex_s AS (SELECT q.vec_id AS q_id, e.vec_id,
        |    ${dotSql("q.embedding", "e.embedding")} AS sim_dec
        |  FROM embeddings e, embeddings q
        |  WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
        |ex AS (SELECT q_id, vec_id FROM (
        |    SELECT q_id, vec_id,
        |      row_number() OVER (PARTITION BY q_id ORDER BY sim_dec DESC, vec_id ASC) AS rk
        |    FROM ex_s) WHERE rk <= $AnnTopK),
        |hits AS (SELECT an.short_k, count(*) AS n_hits
        |         FROM an JOIN ex ON ex.q_id = an.q_id AND ex.vec_id = an.vec_id
        |         GROUP BY an.short_k),
        |nc AS (SELECT short_k, count(*) AS n_cand FROM fanned GROUP BY short_k)
        |SELECT l.short_k, coalesce(nc.n_cand, CAST(0 AS BIGINT)) AS n_cand,
        |  coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
        |  (coalesce(h.n_hits, CAST(0 AS BIGINT)) * 1000000) // $denom AS recall_micro
        |FROM lv l LEFT JOIN nc ON nc.short_k = l.short_k
        |  LEFT JOIN hits h ON h.short_k = l.short_k
        |ORDER BY l.short_k""".stripMargin
    } { (s, dir) => binarySweepReport(s, dir) },

    // ----- Matryoshka (prefix-dimension) truncation sweep ------------------
    // The tuning curve behind dimension-adaptive serving (MRL-style
    // truncation): recall@k when only the FIRST d dimensions score, for
    // d ∈ MrlDims — the knob a 100-TB deployment turns when it trades
    // index bytes and dot cost against recall (a d=16 first pass reads
    // a quarter of the vector bytes). One scan computes the per-pair
    // 1e6-quantized products ONCE; per-segment partial sums accumulate
    // cumulatively (d=16's sum = d=8's + the next 8 products — no
    // re-scoring per level), then a 4-row stack fans the levels out, the
    // q158 sweep shape. The d=Dim leg IS the exact baseline: the integer
    // dot orders identically to the decimal-rescaled exact score
    // (monotone rescale), so the report needs no second scoring pass.
    // Integer-exact end to end → oracle re-derives it bit-identically.
    QuerySpec("q162_matryoshka_recall") {
      val denom = NumQueries * AnnTopK
      s"""WITH ef AS MATERIALIZED (SELECT vec_id,
        |    list_transform(generate_series(1, $Dim), i ->
        |      CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)) AS f
        |  FROM embeddings),
        |pr AS (SELECT q.vec_id AS q_id, e.vec_id,
        |    list_transform(generate_series(1, $Dim), i -> q.f[i] * e.f[i]) AS p
        |  FROM ef e, ef q WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id),
        |lv(dims) AS (VALUES ${MrlDims.map(d => s"($d)").mkString(", ")}),
        |fanned AS (SELECT l.dims, pr.q_id, pr.vec_id,
        |    CAST(list_sum(list_transform(generate_series(1, l.dims), i -> pr.p[i])) AS BIGINT) AS sim
        |  FROM lv l, pr),
        |an AS (SELECT dims, q_id, vec_id FROM (
        |    SELECT dims, q_id, vec_id,
        |      row_number() OVER (PARTITION BY dims, q_id ORDER BY sim DESC, vec_id ASC) AS rk
        |    FROM fanned) WHERE rk <= $AnnTopK),
        |ex AS (SELECT q_id, vec_id FROM an WHERE dims = $Dim),
        |hits AS (SELECT an.dims, count(*) AS n_hits
        |         FROM an JOIN ex ON ex.q_id = an.q_id AND ex.vec_id = an.vec_id
        |         GROUP BY an.dims)
        |SELECT l.dims, coalesce(h.n_hits, CAST(0 AS BIGINT)) AS n_hits,
        |  (coalesce(h.n_hits, CAST(0 AS BIGINT)) * 1000000) // $denom AS recall_micro
        |FROM lv l LEFT JOIN hits h ON h.dims = l.dims
        |ORDER BY l.dims""".stripMargin
    } { (s, dir) => mrlSweepReport(s, dir) },

    // ----- binary rung × IVF inverted file (composed cheap first pass) ----
    // The round-16 binary rung's 100-TB completion: q161's flat Hamming
    // scan reads every stored code per query; HERE the two popcounts run
    // only over the query's probed cells' members — candidates come from
    // the SAME coarse quantizer q53/q143 serve from, so first-pass cost
    // is bounded by probed-cell mass (≈ probes/k of the corpus) instead
    // of the corpus, exactly how ADC composes in q143. The tail is the
    // shared shortlist→exact-rerank→recall report, priced against the
    // exact top-k — the recall floor the composed serving path
    // (`/ann?prefilter=binary&probes=N`) is deployed on. A plan/cost spec
    // pins candidates ≤ probed-cell mass (PlanAssertionsSpec).
    QuerySpec("q166_binary_ivf") {
      val qList = s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e4) AS BIGINT))"
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $qList AS q FROM embeddings),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |iscored AS (SELECT e.vec_id, c.cid,
        |    ${Ivf.idotSql("e.q", "c.cq")} AS idot
        |  FROM eq e, cents c),
        |iranked AS (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM iscored),
        |cells AS (SELECT vec_id, cid AS cell FROM iranked WHERE rk = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS cell FROM iranked WHERE vec_id < $NumQueries AND rk <= $IvfProbes),
        |cand AS (SELECT DISTINCT p.q_id, c.vec_id
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id),
        |$binaryCodesCteSql,
        |bhs AS (SELECT cd.q_id, cd.vec_id,
        |    CAST($Dim - bit_count(xor(q.lo, e.lo)) - bit_count(xor(q.hi, e.hi)) AS BIGINT) AS sim_pq
        |  FROM cand cd JOIN bc e ON e.vec_id = cd.vec_id
        |  JOIN bc q ON q.vec_id = cd.q_id),
        |${pqRecallTailSql("bhs", PqRerank)}""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val eqf = Ivf.quantize(e)
      val exact = exactFixtureRef(s, dir)
      val cand = fixtureCellCandidates(s, dir, eqf)
      pqServe(e, exact,
        hammingScoresOver(cand, e, e.filter(col("vec_id") < NumQueries)), PqRerank)
    },

    // ----- Matryoshka rung × IVF inverted file ----------------------------
    // q162's prefix-dimension rung composed with the coarse quantizer the
    // same way: the dims=16 integer prefix dot (a quarter of the vector
    // bytes) scores only probed-cell candidates, then the shared
    // shortlist→exact-rerank→recall tail. Together with q166 this closes
    // the compression ladder's serving posture: EVERY cheap first pass
    // (PQ-ADC q143, binary q166, MRL q167) is bounded by probed-cell
    // mass, with the flat-scan variants (q142/q161/q162) kept as the
    // index-free baselines they are.
    QuerySpec("q167_mrl_ivf") {
      val qList = s"list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1e4) AS BIGINT))"
      s"""WITH eq AS MATERIALIZED (SELECT vec_id, embedding, $qList AS q FROM embeddings),
        |${Ivf.centroidsSql(IvfCells, Ivf.DefaultMaxIters)},
        |iscored AS (SELECT e.vec_id, c.cid,
        |    ${Ivf.idotSql("e.q", "c.cq")} AS idot
        |  FROM eq e, cents c),
        |iranked AS (SELECT vec_id, cid,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY idot DESC, cid ASC) AS rk
        |  FROM iscored),
        |cells AS (SELECT vec_id, cid AS cell FROM iranked WHERE rk = 1),
        |probes AS (SELECT vec_id AS q_id, cid AS cell FROM iranked WHERE vec_id < $NumQueries AND rk <= $IvfProbes),
        |cand AS (SELECT DISTINCT p.q_id, c.vec_id
        |         FROM probes p JOIN cells c ON p.cell = c.cell
        |         WHERE c.vec_id <> p.q_id),
        |pf AS (SELECT vec_id, list_transform(generate_series(1, $MrlIvfDims), i ->
        |    CAST(floor(CAST(embedding[i] AS DOUBLE) * 1e6) AS BIGINT)) AS pf
        |  FROM embeddings),
        |mhs AS (SELECT cd.q_id, cd.vec_id,
        |    CAST(list_sum(list_transform(generate_series(1, $MrlIvfDims), i -> q.pf[i] * e.pf[i])) AS BIGINT) AS sim_pq
        |  FROM cand cd JOIN pf e ON e.vec_id = cd.vec_id
        |  JOIN pf q ON q.vec_id = cd.q_id),
        |${pqRecallTailSql("mhs", PqRerank)}""".stripMargin
    } { (s, dir) =>
      graft.plans.GraftExtensions.register(s)
      val e = Tables.load(s, dir, "embeddings")
      val eqf = Ivf.quantize(e)
      val exact = exactFixtureRef(s, dir)
      val cand = fixtureCellCandidates(s, dir, eqf)
      pqServe(e, exact,
        prefixScoresOver(cand, e, e.filter(col("vec_id") < NumQueries), MrlIvfDims), PqRerank)
    }
  )

  /** The q53/q143 probed-cell candidate stage over the fixture queries —
    * shared by the composed cheap rungs (q166/q167): cell assignments and
    * probe sets off the session-shared IVF model, candidates = probed
    * cells' members, self-pairs excluded. Per-query candidate mass ≈
    * (probes/k)·corpus — the spec pins the ≤ probed-cell-mass bound.
    */
  private[graft] def fixtureCellCandidates(s: org.apache.spark.sql.SparkSession,
      dir: String, eqf: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cellCandCache.getOrElseUpdate(s, dir) {
      val ivfCents = Ivf.centsDF(s, ivfModel(s, dir, eqf).cents)
      val cells = Ivf.ranked(eqf, ivfCents).filter(col("rk") === 1)
        .select(col("vec_id"), col("cid").as("cell"))
      val probes = Ivf.ranked(eqf.filter(col("vec_id") < NumQueries), ivfCents)
        .filter(col("rk") <= IvfProbes)
        .select(col("vec_id").as("q_id"), col("cid").as("cell"))
      cells.join(broadcast(probes), "cell")
        .filter(col("vec_id") =!= col("q_id"))
        .select(col("q_id"), col("vec_id")).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK_SER)
    }

  /** The q161 Hamming prefilter scores over any `(vec_id, embedding)`
    * frame: pack 32 sign bits per sub-2³² BIGINT word ((x, i) lambda
    * index is 0-based, the oracle's generate_series 1-based — both shift
    * into bit i), broadcast the packed query codes, score each candidate
    * with two XOR+popcounts. Returns `(q_id, vec_id, sim_pq)` for the
    * shared shortlist→rerank tails.
    */
  /** DuckDB CTEs for the binary rung (q161/q164): `bc` = the packed
    * sign-code words, `bhs` = per-(query, candidate) Hamming similarity —
    * the exact mirror of [[packedCodes]]/[[hammingScores]].
    */
  /** The packed sign-code CTE alone (`bc`) — shared by the corpus-wide
    * rung (q161/q164) and the IVF-composed rung (q166), whose Hamming
    * scores run over probed-cell candidates instead of all pairs.
    */
  private def binaryCodesCteSql: String =
    s"""bc AS (SELECT vec_id,
      |    list_sum(list_transform(generate_series(1, 32), i ->
      |      CASE WHEN CAST(embedding[i] AS DOUBLE) >= 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END)) AS lo,
      |    list_sum(list_transform(generate_series(1, 32), i ->
      |      CASE WHEN CAST(embedding[i + 32] AS DOUBLE) >= 0 THEN (CAST(1 AS BIGINT) << (i - 1)) ELSE CAST(0 AS BIGINT) END)) AS hi
      |  FROM embeddings)""".stripMargin

  private def binaryCtesSql: String =
    s"""$binaryCodesCteSql,
      |bhs AS (SELECT q.vec_id AS q_id, e.vec_id,
      |    CAST($Dim - bit_count(xor(q.lo, e.lo)) - bit_count(xor(q.hi, e.hi)) AS BIGINT) AS sim_pq
      |  FROM bc e, bc q WHERE q.vec_id < $NumQueries AND e.vec_id <> q.vec_id)""".stripMargin

  private def packedCodes(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    def packWord(off: Int) = expr(
      s"aggregate(transform(slice(embedding, ${off + 1}, 32), " +
        "(x, i) -> IF(CAST(x AS DOUBLE) >= 0.0D, shiftleft(CAST(1 AS BIGINT), i), CAST(0 AS BIGINT))), " +
        "CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    e.select(col("vec_id"), packWord(0).as("lo"), packWord(32).as("hi"))
  }

  private def hammingScores(corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    packedCodes(corpus).crossJoin(broadcast(packedCodes(queries)
        .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("sim_pq", hammingSim)
      .select(col("q_id"), col("vec_id"), col("sim_pq"))

  private def hammingSim: org.apache.spark.sql.Column = expr(
    s"CAST($Dim AS BIGINT) - CAST(bit_count(qlo ^ lo) AS BIGINT) - CAST(bit_count(qhi ^ hi) AS BIGINT)")

  /** Hamming scores restricted to EXPLICIT `(q_id, vec_id)` candidate
    * pairs — the IVF-composed first pass (q166 and
    * `/ann?prefilter=binary&probes=N`): instead of scanning every stored
    * code per query, the two popcounts run only over the probed cells'
    * members, so first-pass cost is bounded by probed-cell mass (the
    * q143 ADC posture applied to the binary rung).
    */
  private def hammingScoresOver(cand: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    cand.join(packedCodes(corpus), "vec_id")
      .join(broadcast(packedCodes(queries)
        .select(col("vec_id").as("q_id"), col("lo").as("qlo"), col("hi").as("qhi"))), "q_id")
      .withColumn("sim_pq", hammingSim)
      .select(col("q_id"), col("vec_id"), col("sim_pq"))

  /** The 1e6-quantized prefix-`dims` frame of the Matryoshka rung —
    * shared by the corpus-wide and candidate-restricted first passes.
    */
  private def prefixFrame(df: org.apache.spark.sql.DataFrame,
      dims: Int): org.apache.spark.sql.DataFrame =
    df.select(col("vec_id"), expr(
      s"transform(slice(embedding, 1, $dims), x -> CAST(floor(CAST(x AS DOUBLE) * 1e6) AS BIGINT))")
      .as("pf"))

  private def prefixDot: org.apache.spark.sql.Column = expr(
    "aggregate(zip_with(qpf, pf, (a, b) -> a * b), CAST(0 AS BIGINT), (acc, v) -> acc + v)")

  /** Prefix-dot scores restricted to EXPLICIT candidate pairs — the
    * IVF-composed Matryoshka first pass (q167 and
    * `/ann?prefilter=mrl&probes=N`), same bounded-by-probed-cell-mass
    * argument as [[hammingScoresOver]].
    */
  private def prefixScoresOver(cand: org.apache.spark.sql.DataFrame,
      corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, dims: Int): org.apache.spark.sql.DataFrame =
    cand.join(prefixFrame(corpus, dims), "vec_id")
      .join(broadcast(prefixFrame(queries, dims)
        .select(col("vec_id").as("q_id"), col("pf").as("qpf"))), "q_id")
      .withColumn("sim_pq", prefixDot)
      .select(col("q_id"), col("vec_id"), col("sim_pq"))

  /** Binary-quantized serving over any `(vec_id, embedding)` corpus and
    * query frames (the queries may be external — the cross-modal /
    * inline-HTTP shape): Hamming prefilter to `shortK` (salted), exact
    * decimal rerank of the shortlist to `topK` — q161's serving stack as
    * a library frame, returning `(q_id, rk, neighbor_id, sim_dec)` like
    * the IVF serve.
    */
  private[graft] def binaryTopK(corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      shortK: Int = PqRerank, topK: Int = AnnTopK,
      candOpt: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame =
    prefilterServe(corpus, queries,
      candOpt.map(hammingScoresOver(_, corpus, queries))
        .getOrElse(hammingScores(corpus, queries)),
      shortK, topK)

  /** Matryoshka-truncated serving over any `(vec_id, embedding)` corpus
    * and query frames — q162's rung as a first-pass option: the integer
    * prefix-`dims` dot prefilters to `shortK` (a dims/Dim fraction of the
    * vector bytes per candidate), the FULL-dimension exact decimal dot
    * reranks the shortlist. Same two-stage contract as [[binaryTopK]].
    */
  private[graft] def mrlTopK(corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame, dims: Int,
      shortK: Int = PqRerank, topK: Int = AnnTopK,
      candOpt: Option[org.apache.spark.sql.DataFrame] = None): org.apache.spark.sql.DataFrame = {
    require(dims >= 1 && dims <= Dim, s"dims must be in [1, $Dim], got $dims")
    val scored = candOpt match {
      case Some(cand) => prefixScoresOver(cand, corpus, queries, dims)
      case None =>
        val qc = prefixFrame(queries, dims).select(col("vec_id").as("q_id"), col("pf").as("qpf"))
        prefixFrame(corpus, dims).crossJoin(broadcast(qc))
          .filter(col("vec_id") =!= col("q_id"))
          .withColumn("sim_pq", prefixDot)
          .select(col("q_id"), col("vec_id"), col("sim_pq"))
    }
    prefilterServe(corpus, queries, scored, shortK, topK)
  }

  /** Shared serving tail of the cheap-first-pass rungs (binary q161,
    * Matryoshka q162): salted top-`shortK` on the prefilter score, exact
    * decimal rerank of the shortlist, salted top-`topK` — returning
    * `(q_id, rk, neighbor_id, sim)` like the IVF serve.
    */
  private def prefilterServe(corpus: org.apache.spark.sql.DataFrame,
      queries: org.apache.spark.sql.DataFrame,
      scores: org.apache.spark.sql.DataFrame,
      shortK: Int, topK: Int): org.apache.spark.sql.DataFrame = {
    val shortlist = graft.operators.TopK.perKeyTopK(scores,
        keys = Seq(col("q_id")),
        order = Seq(col("sim_pq").desc, col("vec_id").asc),
        k = shortK, saltFrom = col("vec_id"))
      .select(col("q_id"), col("vec_id"))
    val qEmb = queries.select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    val reranked = shortlist
      .join(corpus.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(qEmb), "q_id")
      .withColumn("sim_dec", dotDec(col("q_emb"), col("embedding")))
    graft.operators.TopK.perKeyTopK(reranked,
        keys = Seq(col("q_id")),
        order = Seq(col("sim_dec").desc, col("vec_id").asc),
        k = topK, saltFrom = col("vec_id"))
      .select(col("q_id"), col("rk"), col("vec_id").as("neighbor_id"),
        col("sim_dec").cast(DoubleType).as("sim"))
      .orderBy(col("q_id"), col("rk"))
  }

  /** q161's binary rung served off the maintained IVF assignment store —
    * the corpus as of its last COMMITTED batch (growth appends and
    * takedown purges included), read under the same snapshot-isolation
    * tripwire as the IVF serve. ZERO new index artifacts: the 16-byte
    * codes derive in one pass over the stored vectors — which is the
    * binary-quantization posture (the code table is cheap enough to
    * live with the scan; what the store contributes is the maintained
    * corpus membership).
    */
  private[graft] def binaryAnnFromStore(s: org.apache.spark.sql.SparkSession,
      dir: String, numQueries: Int = NumQueries,
      shortK: Int = PqRerank, topK: Int = AnnTopK,
      queriesOpt: Option[org.apache.spark.sql.DataFrame] = None,
      family: String = "",
      candIdsOpt: Option[org.apache.spark.sql.DataFrame] = None,
      probesOpt: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val (corpus, queries, cells) =
      storedCorpusQueries(s, dir, numQueries, family, queriesOpt, candIdsOpt)
    binaryTopK(corpus, queries, shortK, topK,
      candOpt = probesOpt.map(storeCellCandidates(s, dir, family, queries, cells, _)))
  }

  /** [[mrlTopK]] off the maintained assignment store — the q162 rung's
    * serving leg, same store discipline as [[binaryAnnFromStore]].
    */
  private[graft] def mrlAnnFromStore(s: org.apache.spark.sql.SparkSession,
      dir: String, dims: Int, numQueries: Int = NumQueries,
      shortK: Int = PqRerank, topK: Int = AnnTopK,
      queriesOpt: Option[org.apache.spark.sql.DataFrame] = None,
      family: String = "",
      candIdsOpt: Option[org.apache.spark.sql.DataFrame] = None,
      probesOpt: Option[Int] = None): org.apache.spark.sql.DataFrame = {
    val (corpus, queries, cells) =
      storedCorpusQueries(s, dir, numQueries, family, queriesOpt, candIdsOpt)
    mrlTopK(corpus, queries, dims, shortK, topK,
      candOpt = probesOpt.map(storeCellCandidates(s, dir, family, queries, cells, _)))
  }

  /** Probed-cell candidate pairs off the MAINTAINED store — the
    * IVF-composition stage of the cheap rungs' serving paths
    * (`/ann?prefilter=binary|mrl&probes=N`): the STORED coarse centroids
    * rank each query's `probes` best cells (a query-batch × k-cell
    * broadcast dot, never a corpus scan), candidates are the stored
    * assignments' members of those cells — so the cheap first pass
    * scores probed-cell mass instead of every stored code, exactly how
    * ADC composes in q143. `cells` arrives already restricted by any
    * attribute constraint (the q157 discipline: the predicate enters the
    * inverted file BEFORE the probe join).
    */
  private def storeCellCandidates(s: org.apache.spark.sql.SparkSession,
      dir: String, family: String, queries: org.apache.spark.sql.DataFrame,
      cells: org.apache.spark.sql.DataFrame, probes: Int): org.apache.spark.sql.DataFrame = {
    val modelPath = graft.IndexStore.requireCommitted(s, dir,
      if (family.isEmpty) IvfModelStoreName else XmIvfModelStoreName,
      "cell-composed ANN serving")
    val model = Ivf.load(s, modelPath).getOrElse(throw new IllegalStateException(
      s"torn IVF model store at $modelPath — re-bootstrap"))
    Ivf.ranked(Ivf.quantize(queries.select(col("vec_id"), col("embedding")))
        .select(col("vec_id"), col("eq")), Ivf.centsDF(s, model.cents))
      .filter(col("rk") <= probes)
      .select(col("vec_id").as("q_id"), col("cid").as("cell"))
      .join(cells, "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .select(col("q_id"), col("vec_id"))
      .distinct()
  }

  /** The maintained assignment store as `(corpus, queries, cells)`
    * serving frames — verifiedRead snapshot isolation, attribute
    * constraint composed BEFORE any scoring scan (the q157 discipline:
    * restrict the corpus AND the inverted file, never post-filter the
    * shortlist), queries defaulting to the stored id-< numQueries set.
    */
  private def storedCorpusQueries(s: org.apache.spark.sql.SparkSession,
      dir: String, numQueries: Int, family: String,
      queriesOpt: Option[org.apache.spark.sql.DataFrame],
      candIdsOpt: Option[org.apache.spark.sql.DataFrame]):
      (org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame,
       org.apache.spark.sql.DataFrame) = {
    val assignPath = graft.IndexStore.requireCommitted(s, dir,
      graft.streaming.IndexMaintenance.IvfAssignStoreName + family, "store-served ANN")
    val store = graft.IndexStore.verifiedRead(s, assignPath)
    val corpus0 = store.select(col("vec_id"), col("embedding"))
    val cells0 = store.select(col("vec_id"), col("cid").as("cell"))
    val (corpus, cells) = candIdsOpt match {
      case Some(ids) =>
        val allowed = ids.select(col("vec_id")).distinct()
        (corpus0.join(allowed, "vec_id"), cells0.join(allowed, "vec_id"))
      case None => (corpus0, cells0)
    }
    (corpus, queriesOpt.getOrElse(corpus0.filter(col("vec_id") < numQueries)), cells)
  }

  /** q164's binary shortlist-depth tuning curve as a reusable frame —
    * shared by the CORRECTNESS query and the gateway's `binary_tuning`
    * view ([[graft.Tables.registerIndexViews]]), the ann_tuning pattern:
    * the `short_k` knob evidence behind the binary rung's serving
    * default lives where the operator queries it. See the q164 scaladoc
    * for the single-generation design (the Hamming rank IS the depth
    * tag; every candidate exactly reranked once).
    */
  private[graft] def binarySweepReport(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val exact = exactFixtureRef(s, dir)
    // tagged shortlist at the deepest level: the salted two-phase rank
    // is total (sim DESC, vec_id ASC), so rk IS the min reaching depth
    val tagged = graft.operators.TopK.perKeyTopK(
        hammingScores(e, e.filter(col("vec_id") < NumQueries)),
        keys = Seq(col("q_id")),
        order = Seq(col("sim_pq").desc, col("vec_id").asc),
        k = BinSweepMax, saltFrom = col("vec_id"))
      .select(col("q_id"), col("vec_id"), col("rk").as("hrk"))
    val qEmb = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // every candidate exactly reranked ONCE; depths fan out after
    val scored = tagged
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(qEmb), "q_id")
      .withColumn("sim_dec", dotDec(col("q_emb"), col("embedding")))
      .select(col("q_id"), col("vec_id"), col("hrk"), col("sim_dec"))
    val fanned = scored
      .select(col("q_id"), col("vec_id"), col("hrk"), col("sim_dec"),
        explode(array(BinSweepLevels.map(lit(_)): _*)).as("short_k"))
      .filter(col("hrk") <= col("short_k"))
    val an = graft.operators.TopK.perKeyTopK(fanned,
        keys = Seq(col("short_k"), col("q_id")),
        order = Seq(col("sim_dec").desc, col("vec_id").asc),
        k = AnnTopK, saltFrom = col("vec_id"))
      .select(col("short_k"), col("q_id"), col("vec_id").as("neighbor_id"))
    val hits = an.join(exact, Seq("q_id", "neighbor_id"))
      .groupBy(col("short_k")).agg(count(lit(1)).as("n_hits"))
    val nCand = fanned.groupBy(col("short_k")).agg(count(lit(1)).as("n_cand"))
    BinSweepLevels.toDF("short_k")
      .join(nCand, Seq("short_k"), "left")
      .join(hits, Seq("short_k"), "left")
      .select(col("short_k"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_micro",
        expr(s"(n_hits * CAST(1000000 AS BIGINT)) div CAST(${NumQueries * AnnTopK} AS BIGINT)"))
      .orderBy(col("short_k"))
  }

  /** q162's dimension-truncation tuning curve as a reusable frame —
    * shared by the CORRECTNESS query and the gateway's `mrl_tuning` view
    * ([[graft.Tables.registerIndexViews]]), the `ann_tuning` pattern: the
    * knob evidence behind a dimension-adaptive serving decision lives
    * where the operator queries it. See the q162 scaladoc.
    */
  private[graft] def mrlSweepReport(s: org.apache.spark.sql.SparkSession,
      dir: String): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    val e = Tables.load(s, dir, "embeddings")
    val ef = e.select(col("vec_id"), transform(col("embedding"),
      x => floor(x.cast(DoubleType) * 1e6).cast(LongType)).as("f"))
    val qf = ef.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("f").as("qf"))
    // products computed once per pair; cumulative per-segment sums so
    // each level costs only its NEW segment's adds
    def segSum(start: Int, len: Int) = expr(
      s"aggregate(slice(p, $start, $len), CAST(0 AS BIGINT), (acc, v) -> acc + v)")
    val dims = MrlDims
    val pairs = ef.crossJoin(broadcast(qf))
      .filter(col("vec_id") =!= col("q_id"))
      .withColumn("p", zip_with(col("qf"), col("f"), (a, b) => a * b))
      .withColumn(s"s${dims.head}", segSum(1, dims.head))
    val withSums = dims.sliding(2).foldLeft(pairs) { case (df, Seq(lo, hi)) =>
      df.withColumn(s"s$hi", col(s"s$lo") + segSum(lo + 1, hi - lo))
    }
    val stackExpr = s"stack(${dims.size}, " +
      dims.map(d => s"$d, s$d").mkString(", ") + ") AS (dims, sim)"
    val fanned = withSums.selectExpr("q_id", "vec_id", stackExpr)
    val an = graft.operators.TopK.perKeyTopK(fanned,
        keys = Seq(col("dims"), col("q_id")),
        order = Seq(col("sim").desc, col("vec_id").asc),
        k = AnnTopK, saltFrom = col("vec_id"))
      .select(col("dims"), col("q_id"), col("vec_id"))
    // the exact baseline is the d=Dim leg of the SAME top-k frame — a
    // self-join here would re-execute the whole scoring subtree (the plan
    // grows a second Generate); a (q_id, vec_id)-keyed window flag over
    // the ≤ levels×nq×k-row frame marks baseline membership in one pass
    val hits = an
      .withColumn("in_ex", max(when(col("dims") === Dim, 1).otherwise(0))
        .over(Window.partitionBy(col("q_id"), col("vec_id"))))
      .filter(col("in_ex") === 1)
      .groupBy(col("dims")).agg(count(lit(1)).as("n_hits"))
    dims.toDF("dims")
      .join(hits, Seq("dims"), "left")
      .select(col("dims"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_micro",
        expr(s"(n_hits * CAST(1000000 AS BIGINT)) div CAST(${NumQueries * AnnTopK} AS BIGINT)"))
      .orderBy(col("dims"))
  }

  /** q158's recall/cost-vs-nprobe tuning report as a reusable frame —
    * shared by the CORRECTNESS query and the gateway's `ann_tuning` view
    * ([[graft.Tables.registerIndexViews]]), so the knob evidence the
    * serving tier was tuned on is queryable exactly where the operator
    * looks for it. See the q158 scaladoc for the single-scoring design.
    */
  private[graft] def probeSweepReport(s: org.apache.spark.sql.SparkSession,
      dir: String, lang: Option[String] = None): org.apache.spark.sql.DataFrame = {
    import s.implicits._
    graft.plans.GraftExtensions.register(s)
    val e = Tables.load(s, dir, "embeddings").repartition(col("vec_id"))
    // optional attribute constraint (q157's predicate leg): the filter
    // enters the inverted file BEFORE the probe join, and recall is
    // priced against the exact FILTERED top-k — the tuning curve a
    // constrained serving path actually needs (filtered cell mass is
    // thinner, so the same recall wants deeper probes)
    val flt = lang.map(l => Tables.load(s, dir, "documents")
      .filter(col("lang") === l).select(col("doc_id").as("vec_id")))
    val corpus = flt.map(f => e.join(f, "vec_id")).getOrElse(e)
    // unfiltered sweep (q158) shares the fixture referent; a filtered
    // sweep (q159) shares q157's filtered referent under the same key
    val exact = lang match {
      case None => exactFixtureRef(s, dir)
      case Some(l) => exactRefVariant(s, dir, s"|lang=$l")(
        cosineTopK(corpus, e.filter(col("vec_id") < NumQueries), AnnTopK,
            nQueries = NumQueries)
          .select(col("q_id"), col("neighbor_id")))
    }
    val eqf = Ivf.quantize(e)
    val cents = Ivf.centsDF(s, ivfModel(s, dir, eqf).cents)
    val cells0 = Ivf.ranked(eqf, cents).filter(col("rk") === 1)
      .select(col("vec_id"), col("cid").as("cell"))
    val cells = flt.map(f => cells0.join(f, "vec_id")).getOrElse(cells0)
    val probes = Ivf.ranked(eqf.filter(col("vec_id") < NumQueries), cents)
      .filter(col("rk") <= ProbeSweepMax)
      .select(col("vec_id").as("q_id"), col("cid").as("cell"), col("rk").as("prk"))
    // one candidate row per (q, v) pair, tagged with its minimum depth
    val cand = cells.join(broadcast(probes), "cell")
      .filter(col("vec_id") =!= col("q_id"))
      .groupBy(col("q_id"), col("vec_id"))
      .agg(min(col("prk")).as("prk"))
    val qe = e.filter(col("vec_id") < NumQueries)
      .select(col("vec_id").as("q_id"), col("embedding").as("q_emb"))
    // each unique pair exactly scored ONCE; the levels explode AFTER
    val scored = cand
      .join(e.select(col("vec_id"), col("embedding")), "vec_id")
      .join(broadcast(qe), "q_id")
      .withColumn("sim_dec", dotDec(col("q_emb"), col("embedding")))
      .select(col("q_id"), col("vec_id"), col("prk"), col("sim_dec"))
    val fanned = scored
      .select(col("q_id"), col("vec_id"), col("prk"), col("sim_dec"),
        explode(array(ProbeSweepLevels.map(lit(_)): _*)).as("probes"))
      .filter(col("prk") <= col("probes"))
    val an = graft.operators.TopK.perKeyTopK(fanned,
        keys = Seq(col("probes"), col("q_id")),
        order = Seq(col("sim_dec").desc, col("vec_id").asc),
        k = AnnTopK, saltFrom = col("vec_id"))
      .select(col("probes"), col("q_id"), col("vec_id").as("neighbor_id"))
    val hits = an.join(exact, Seq("q_id", "neighbor_id"))
      .groupBy(col("probes")).agg(count(lit(1)).as("n_hits"))
    val nCand = fanned.groupBy(col("probes")).agg(count(lit(1)).as("n_cand"))
    // recall denominator = the exact side's own pair count (equals
    // NumQueries × AnnTopK unfiltered; smaller under a constraint when a
    // query has < k admissible neighbors) — lazily, the view stays lazy
    val denom = exact.groupBy().agg(count(lit(1)).as("n_ex"))
    ProbeSweepLevels.toDF("probes")
      .join(nCand, Seq("probes"), "left")
      .join(hits, Seq("probes"), "left")
      .crossJoin(broadcast(denom))
      .select(col("probes"),
        coalesce(col("n_cand"), lit(0L)).as("n_cand"),
        coalesce(col("n_hits"), lit(0L)).as("n_hits"),
        col("n_ex"))
      .withColumn("recall_micro",
        expr("(n_hits * CAST(1000000 AS BIGINT)) div n_ex"))
      .drop("n_ex")
      .orderBy(col("probes"))
  }

  /** The image-side synthesis as a DuckDB SELECT (no trailing paren):
    * `srcSuffix` restricts the source rows (e.g. " WHERE vec_id < 8" for
    * the reverse leg's query set). MUST stay the IEEE-identical mirror of
    * [[crossModalImageSide]].
    */
  private def xmImgSql(srcSuffix: String = ""): String =
    s"""SELECT vec_id + $XmOffset AS vec_id,
      |    list_transform(generate_series(1, $Dim), i ->
      |      (3 * CAST(embedding[i] AS DOUBLE) + CAST(embedding[1 + (i % $Dim)] AS DOUBLE)) / 4) AS embedding
      |  FROM embeddings$srcSuffix""".stripMargin

  /** The fixture-synthesized image-modality embedding table of q154/q155/
    * q156: (vec_id + [[XmOffset]], (3·emb + circshift(emb, 1)) / 4 as
    * double). A stand-in for a real image encoder's output sharing the
    * text space — the Spark-side plumbing (id-domain offset, double-space
    * mix, retrieval reuse) is what the operator tests.
    */
  private[graft] def crossModalImageSide(e: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    e.select((col("vec_id") + XmOffset).as("vec_id"),
      zip_with(col("embedding"),
        concat(slice(col("embedding"), 2, Dim - 1), slice(col("embedding"), 1, 1)),
        (a, b) => (lit(3.0) * a.cast(DoubleType) + b.cast(DoubleType)) / lit(4.0))
        .as("embedding"))

  /** Shared tail of the recall reports (q80 SRP, q101 IVF): per-query hit
    * counts of the index's top-k against the exact top-k, left-joined onto
    * the query set so zero-hit queries report recall 0 instead of
    * vanishing. `qPred` selects the query universe out of `e` (the
    * cross-modal reports' queries live in the other modality's id domain).
    */
  private def recallReport(e: org.apache.spark.sql.DataFrame,
      exact: org.apache.spark.sql.DataFrame,
      ann: org.apache.spark.sql.DataFrame,
      qPred: org.apache.spark.sql.Column = col("vec_id") < NumQueries): org.apache.spark.sql.DataFrame = {
    val hits = exact.join(ann, Seq("q_id", "neighbor_id"))
      .groupBy(col("q_id")).agg(count(lit(1)).as("n_hits"))
    e.filter(qPred).select(col("vec_id").as("q_id"))
      .join(hits, Seq("q_id"), "left")
      .select(col("q_id"), coalesce(col("n_hits"), lit(0L)).as("n_hits"))
      .withColumn("recall_micro",
        expr(s"(n_hits * CAST(1000000 AS BIGINT)) div CAST($AnnTopK AS BIGINT)"))
      .orderBy(col("q_id"))
  }
}
